"""One commit point for every store writer (``storage.publish``): the
engine commit, ``restore`` and the three ``format("edgy")`` writers publish
one manifest field set with live stats/schemas and increasing stamps, and a
lost race raises ConflictError leaving no data and no moved CURRENT.  The
DataSource writers are called directly on Arrow batches, as Spark's commit
protocol calls them, so only the engine commits run a Spark job.
"""

from __future__ import annotations

import ast
import glob
import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import Row

from edgy_spark import storage
from edgy_spark.demo import demo_schema
from edgy_spark.sources import pysource as ps
from edgy_spark.storage import ConditionalPutArbiter, ConflictError, GraphStore

FIELDS = {
    "version", "next_id", "tables", "bucketed", "indexes", "stream_batches",
    "cdc", "defaults", "checks", "stats", "schemas", "committed_at",
}
CHECKS = {"Person": "age >= 0"}
PERSON = demo_schema().node_type("Person").struct_type()


def _store(spark, tmp_path, **kw) -> GraphStore:
    return GraphStore(spark, str(tmp_path / "db"), demo_schema(), **kw)


def _people(ids) -> pa.Table:
    return storage.arrow_table([{"id": i, "name": f"p{i}", "age": 20 + i} for i in ids], PERSON)


def _engine_commit(store: GraphStore, ids, base=None) -> None:
    """Commit ``ids`` as the whole Person table."""
    store.commit(base or store.snapshot(), {"n_Person": _people(ids)}, next_id=max(ids) + 1)


def _bulk_writer(store: GraphStore, txn: str | None = None):
    return ps.EdgyWriter(store.root, "n_Person", PERSON, False, txn)


def _bulk(store: GraphStore, ids, txn: str | None = None, writer=None):
    w = writer or _bulk_writer(store, txn)
    w.commit([w.write(iter(_people(ids).to_batches()))])


def _stream(store: GraphStore, ids, batch_id: int) -> None:
    w = ps.EdgyStreamWriter(store.root, "n_Person", PERSON, "s1")
    w.commit([w.write(iter(Row(id=i, name=f"p{i}", age=20 + i) for i in ids))], batch_id)


def _manifest(root: str, v: int) -> dict:
    with open(os.path.join(root, f"manifest.v{v}.json")) as f:
        return json.load(f)


def _ids(store: GraphStore) -> list[int]:
    return sorted(store.snapshot().local("n_Person").column("id").to_pylist())


def _state(root: str) -> tuple:
    """CURRENT's content and the visible data directories."""
    with open(os.path.join(root, "CURRENT")) as f:
        current = f.read()
    return current, sorted(n for n in os.listdir(os.path.join(root, "data")) if n[0] != ".")


def test_every_writer_publishes_one_field_set(spark, tmp_path):
    store = _store(spark, tmp_path, check_constraints=CHECKS)
    _engine_commit(store, [1, 2, 3])
    v_engine = store.current_version()
    _bulk(store, [10, 11])
    _stream(store, [20], batch_id=0)
    _bulk(store, [30, 31], txn="t1")
    assert ps.commit_edgy_txn(store.root, "t1") == store.current_version()
    assert _ids(store) == [1, 2, 3, 10, 11, 20, 30, 31]
    store.restore(v_engine)
    assert _ids(store) == [1, 2, 3]
    _engine_commit(store, [1, 2, 3, 40])

    manifests = [_manifest(store.root, v) for v in range(store.current_version() + 1)]
    published = manifests[1:]  # v0 is the bootstrap's
    assert len(published) == 6
    for m in published:
        assert set(m) == FIELDS, m["version"]
        assert set(m["stats"]) <= set(m["tables"])
        assert set(m["schemas"]) <= set(m["tables"].values())
        assert m["checks"] == CHECKS
    stamps = [m["committed_at"] for m in manifests]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)

    engine, bulk, stream, txn, restore, last = published
    for m in (bulk, stream, txn):
        # ecosystem writers: footer stats without NDV, defaults carried,
        # changes not captured
        assert m["stats"]["n_Person"]["ndv"] == {}
        assert m["defaults"] == engine["defaults"]
        assert m["cdc"] is None
    assert bulk["stats"]["n_Person"]["rows"] == 5
    assert engine["stats"]["n_Person"]["ndv"]["id"] > 0
    assert stream["stream_batches"] == {"s1": 0}
    assert txn["next_id"] == 32
    # restore: the old files, the max id cursor, CURRENT's stream cursors
    assert restore["tables"] == engine["tables"]
    assert restore["next_id"] == 32
    assert restore["stream_batches"] == {"s1": 0}
    assert restore["cdc"] is None
    assert last["stream_batches"] == {"s1": 0}


@pytest.mark.parametrize("loser", ["engine", "restore", "bulk", "stream", "txn"])
def test_lost_race_raises_conflict_and_leaves_nothing(spark, tmp_path, monkeypatch, loser):
    store = _store(spark, tmp_path)
    _engine_commit(store, [1])
    base = store.snapshot()
    bulk_writer = _bulk_writer(store, "t1" if loser == "txn" else None)
    if loser == "txn":
        _bulk(store, [5], writer=bulk_writer)  # staged, not published
    _engine_commit(store, [1, 2])  # the winner
    before = _state(store.root)

    attempt = {
        "engine": lambda: store.commit(base, {"n_Person": _people([1, 3])}, next_id=4),
        "restore": lambda: store.restore(0),
        "bulk": lambda: _bulk(store, [5], writer=bulk_writer),
        "stream": lambda: _stream(store, [5], batch_id=0),
        "txn": lambda: ps.commit_edgy_txn(store.root, "t1"),
    }[loser]
    # both committers passed the staleness pre-check: pin the version
    monkeypatch.setattr(storage, "current_version", lambda _root: base.version)
    with pytest.raises(ConflictError, match="concurrent commit published") as exc:
        attempt()
    monkeypatch.undo()

    assert isinstance(exc.value, RuntimeError)
    assert _state(store.root) == before
    assert store.current_version() == base.version + 1
    assert _ids(store) == [1, 2]


def test_bulk_write_stale_base_precheck_raises_conflict(spark, tmp_path):
    store = _store(spark, tmp_path)
    w = _bulk_writer(store)
    _engine_commit(store, [1])
    before = _state(store.root)
    with pytest.raises(ConflictError, match="concurrent commit published"):
        _bulk(store, [5], writer=w)
    assert _state(store.root) == before


@pytest.mark.parametrize("winner", ["engine", "bulk"])
def test_bulk_write_races_conditional_put_engine(spark, tmp_path, monkeypatch, winner):
    """Hard-link arbitration of the DataSource writers still excludes an
    engine commit arbitrated by conditional PUT, in either order."""
    store = _store(spark, tmp_path, commit_arbiter=ConditionalPutArbiter())
    base = store.snapshot()
    w = _bulk_writer(store)
    if winner == "engine":
        _engine_commit(store, [1], base=base)
    else:
        _bulk(store, [1], writer=w)
    before = _state(store.root)

    monkeypatch.setattr(storage, "current_version", lambda _root: base.version)
    with pytest.raises(ConflictError, match="concurrent commit published"):
        if winner == "engine":
            _bulk(store, [2], writer=w)
        else:
            _engine_commit(store, [2], base=base)
    monkeypatch.undo()

    assert _state(store.root) == before
    assert _ids(store) == [1]


def test_only_storage_publishes_manifests():
    """No module but storage.py creates a manifest or writes CURRENT: a
    second copy of the commit protocol is how the writers drifted apart."""
    pkg = os.path.dirname(storage.__file__)
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path == storage.__file__:
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "put_if_absent":
                offenders.append((path, node.lineno, "put_if_absent"))
            elif isinstance(node, ast.Constant) and node.value == "CURRENT":
                offenders.append((path, node.lineno, "CURRENT"))
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("link", "replace", "rename")
                and "manifest" in ast.unparse(node)
            ):
                offenders.append((path, node.lineno, ast.unparse(node)))
    assert not offenders
