"""The store's driver-side Arrow tier (``Snapshot.local``) against the Spark
path it replaces for small tables.

The parity test runs random transactions on the demo schema — Person gets
a binary, a timestamp and an array<double> attribute — once on the Arrow
tier and once with every table forced onto the Spark path, and compares
what the two stores answer: attribute values and their types, adjacency
order, ``missing_tools`` and NodeSet bags, and the committed tables as
Spark reads them back.  The other tests cover the cache itself: vacuum,
restore and clone, and a write-behind writer racing readers.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import threading
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from edgy_spark import storage
from edgy_spark.demo import big_bang, demo_schema, missing_tools
from edgy_spark.graph import Engine, Node, WriteBehind
from edgy_spark.query import NodeSet
from edgy_spark.schema import Attr, GraphSchema, NodeType, optional
from edgy_spark.sources.pysource import _parse_spark_bytes
from tests.test_graph import count_jobs


def parity_schema() -> GraphSchema:
    base = demo_schema()
    person = NodeType(
        "Person",
        (
            Attr("name"),
            Attr("age", "long"),
            optional("blob", "binary"),
            optional("seen", "timestamp"),
            optional("vec", "array<double>"),
        ),
    )
    return GraphSchema(
        node_types=(person, *base.node_types[1:]), relations=base.relations
    )


@contextlib.contextmanager
def forced_spark():
    saved = storage.LOCAL_MAX_BYTES
    storage.LOCAL_MAX_BYTES = -1
    try:
        yield
    finally:
        storage.LOCAL_MAX_BYTES = saved


ATTRS = ("name", "age", "blob", "seen", "vec")
VALUES = {
    "name": st.sampled_from(["Bob", "Ann", "Zed"]),
    "age": st.none() | st.integers(-5, 99),
    "blob": st.none() | st.binary(max_size=4),
    "seen": st.none()
    | st.datetimes(datetime.datetime(2000, 1, 1), datetime.datetime(2030, 12, 31)),
    "vec": st.none()
    | st.lists(st.floats(allow_nan=False, allow_infinity=False), max_size=3),
}
RELS = ("friend", "friendOf", "possession", "spouse", "hobby")
REL_TARGET = {"possession": "objects", "hobby": "activities"}
idx = st.integers(0, 7)
OPS = st.one_of(
    st.tuples(st.just("new"), VALUES["name"], st.integers(0, 99)),
    st.tuples(st.just("delete"), idx),
    st.sampled_from(ATTRS).flatmap(
        lambda a: st.tuples(st.just("set"), idx, st.just(a), VALUES[a])
    ),
    st.tuples(st.sampled_from(["add", "remove"]), st.sampled_from(RELS), idx, idx),
    st.tuples(st.just("clear"), st.sampled_from(RELS), idx),
    st.tuples(
        st.just("set_related"), st.sampled_from(RELS), idx, st.lists(idx, max_size=3)
    ),
    st.tuples(
        st.just("bulk"),
        st.sampled_from(RELS),
        st.lists(st.tuples(idx, idx), min_size=1, max_size=3),
    ),
)


def apply_txn(engine: Engine, ops, nodes: dict) -> list:
    """Run ``ops`` as one transaction; returns each op's outcome (the
    created node, or the name of the exception it raised)."""
    spark = engine.spark

    def pick(kind, i):
        return nodes[kind][i % len(nodes[kind])]

    def fn(t):
        out = []
        for op in ops:
            try:
                if op[0] == "new":
                    n = t.new_node("Person", name=op[1], age=op[2])
                    nodes["people"].append(n)
                    out.append(n)
                elif op[0] == "delete":
                    out.append(t.delete_node(pick("people", op[1])))
                elif op[0] == "set":
                    out.append(t.set_attribute(pick("people", op[1]), op[2], op[3]))
                else:
                    rel = op[1]
                    tgt = REL_TARGET.get(rel, "people")
                    if op[0] in ("add", "remove"):
                        f = t.add_related if op[0] == "add" else t.remove_related
                        out.append(f(pick("people", op[2]), rel, pick(tgt, op[3])))
                    elif op[0] == "clear":
                        out.append(t.clear_related(pick("people", op[2]), rel))
                    elif op[0] == "set_related":
                        targets = [pick(tgt, j) for j in op[3]]
                        out.append(t.set_related(pick("people", op[2]), rel, targets))
                    else:
                        pairs = [
                            (pick("people", i).id, pick(tgt, j).id) for i, j in op[2]
                        ]
                        batch = spark.createDataFrame(pairs, "src long, dst long")
                        out.append(t.bulk_add_edges(rel, batch))
            except Exception as e:  # noqa: BLE001 - the outcome is compared
                out.append(type(e).__name__)
        # one read of the staged state from inside the transaction
        out.append(observe_reads(t, nodes["people"][:2], ("spouse",)))
        return out

    return engine.run(fn)


def attempt(fn, *args):
    try:
        return fn(*args)
    except Exception as e:  # noqa: BLE001 - the outcome is compared
        return type(e).__name__


def observe_reads(t, people, rels) -> dict:
    out = {}
    for p in people:
        for a in ATTRS:
            v = attempt(t.get_attribute, p, a)
            out[p.id, a] = (v, type(v).__name__)
        for rel in rels:
            got = attempt(t.get_related_list, p, rel)
            out[p.id, rel] = [n.id for n in got] if isinstance(got, list) else got
    return out


def observe(engine: Engine, nodes: dict) -> dict:
    t = engine.read()
    out = observe_reads(t, nodes["people"][:4], ("friend", "possession"))
    out["all"] = [n.id for n in t.all_nodes("Person")]
    out["missing"] = missing_tools(engine, "Bob")
    snap, schema = engine.snapshot(), engine.schema
    people = NodeSet.scan(snap, schema, "Person")
    friends = people.hop("friend")
    out["bag"] = sorted(
        friends.union(people.hop("friendOf")).minus_bag(people.filter(name="Bob")).ids()
    )
    out["anti"] = sorted(friends.anti(people.filter(age=20)).ids())
    out["distinct"] = sorted(friends.distinct().ids())
    out["blobs"] = sorted(
        repr(v) for v in friends.union(people).rehydrate().values("blob")
    )
    out["tables"] = {
        key: sorted(repr(r) for r in df.collect())
        for key, df in (
            ("n_Person", snap.nodes("Person")),
            ("e_friend", snap.edge_table("friend")),
            ("e_possession", snap.edge_table("possession")),
            ("e_spouse", snap.edge_table("spouse")),
        )
    }
    return out


def fresh(spark, root: str, **kwargs):
    engine = Engine(spark, root, parity_schema(), **kwargs)
    bb = engine.run(big_bang)
    return engine, {
        "people": [bb["bob"], bb["jane"], bb["jose"]],
        "objects": [bb[k] for k in ("cards", "chips", "poles", "trailmap")],
        "activities": [bb["poker"], bb["hiking"]],
    }


TXNS = st.lists(st.lists(OPS, min_size=1, max_size=4), min_size=1, max_size=2)


def parity(spark, tmp_path_factory, txns) -> None:
    base = tmp_path_factory.mktemp("parity")
    local, l_nodes = fresh(spark, str(base / "local"))
    with forced_spark():
        remote, r_nodes = fresh(spark, str(base / "spark"))
    for ops in txns:
        got_local = apply_txn(local, ops, l_nodes)
        with forced_spark():
            got_spark = apply_txn(remote, ops, r_nodes)
        assert got_local == got_spark
    want = observe(local, l_nodes)
    with forced_spark():
        assert observe(remote, r_nodes) == want


def bounded(n: int):
    return settings(
        max_examples=n,
        deadline=None,
        derandomize=True,
        database=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    )


@bounded(1)
@given(txns=st.lists(st.lists(OPS, min_size=1, max_size=4), min_size=1, max_size=1))
def test_local_tier_matches_spark_path(spark, tmp_path_factory, txns):
    parity(spark, tmp_path_factory, txns)


@pytest.mark.slow
@bounded(15)
@given(txns=TXNS)
def test_local_tier_matches_spark_path_more_examples(spark, tmp_path_factory, txns):
    parity(spark, tmp_path_factory, txns)


def test_change_feed_matches_spark_path(spark, tmp_path):
    """capture_cdc="full" records the same rows when the commit runs on
    the driver."""
    feeds = []
    for force in (False, True):
        with forced_spark() if force else contextlib.nullcontext():
            engine, nodes = fresh(
                spark, str(tmp_path / str(force)), capture_cdc="full"
            )
            bob, jane = nodes["people"][:2]

            def txn(t):
                t.new_node("Person", name="New", age=5, blob=b"\x00")
                t.set_attribute(bob, "seen", datetime.datetime(2021, 3, 4, 5, 6, 7, 8))
                t.set_attribute(bob, "vec", [1.5, -2.0])
                t.delete_node(jane)

            engine.run(txn)
            v = engine.snapshot().version
            rows = engine.store.table_changes("n_Person", v - 1, v).collect()
            feeds.append(sorted(repr(r) for r in rows))
    assert feeds[0] == feeds[1]
    assert len(feeds[0]) == 4  # insert, pre- and postimage, delete


def test_vacuum_drops_cached_versions(spark, tmp_path):
    engine = Engine(spark, str(tmp_path / "db"), demo_schema(), retain_versions=1)
    n = engine.run(big_bang)
    root = engine.store.root
    old = os.path.join(root, engine.snapshot().manifest["tables"]["n_Person"])
    assert engine.read().get_attribute(n["bob"], "age") == 20
    assert storage._LOCAL.get(old) is not None
    for age in (30, 40):
        engine.run(lambda t, age=age: t.set_attribute(n["bob"], "age", age))
    new = os.path.join(root, engine.snapshot().manifest["tables"]["n_Person"])
    removed = engine.store.vacuum()
    assert os.path.relpath(old, root) in removed
    assert storage._LOCAL.get(old) is None and storage._LOCAL.get(new) is not None
    assert count_jobs(spark, engine.read().get_attribute, n["bob"], "age") == (40, 0)


def test_restore_and_clone_read_through_the_cache(spark, tmp_path):
    engine = Engine(spark, str(tmp_path / "db"), demo_schema())
    n = engine.run(big_bang)
    v1 = engine.snapshot().version
    engine.run(lambda t: t.set_attribute(n["bob"], "age", 33))
    engine.store.restore(v1)
    t = engine.read()
    assert count_jobs(spark, t.get_attribute, n["bob"], "age") == (20, 0)

    clone = engine.store.clone(str(tmp_path / "clone"))
    twin = Engine(spark, clone.root, demo_schema())
    rel = twin.snapshot().manifest["tables"]["n_Person"]
    assert os.path.isabs(rel) and storage._LOCAL.get(rel) is not None  # the source's
    t = twin.read()
    assert count_jobs(spark, t.get_attribute, n["bob"], "age") == (20, 0)
    assert missing_tools(twin, "Bob") == ["Poker Chips"]
    twin.run(lambda t: t.set_attribute(n["bob"], "age", 44))
    assert twin.read().get_attribute(n["bob"], "age") == 44
    assert engine.read().get_attribute(n["bob"], "age") == 20


def test_write_behind_with_concurrent_readers(spark, tmp_path):
    """Commits (and their cache writes) run on the write-behind worker
    while reader threads fill and hit the same cache."""
    engine = Engine(spark, str(tmp_path / "db"), demo_schema())
    n = engine.run(big_bang)
    ages = list(range(30, 36))
    seen, errors = [], []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                t = engine.read()
                seen.append(t.get_attribute(n["bob"], "age"))
                assert [f.id for f in t.get_related_list(n["bob"], "friend")][-2:] == [
                    n["jose"].id, n["jane"].id,
                ]
            except Exception as e:  # noqa: BLE001 - reported below
                errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for th in threads:
        th.start()
    with WriteBehind(engine) as wb:
        for age in ages:
            wb.submit(lambda t, age=age: (
                t.set_attribute(n["bob"], "age", age),
                t.add_related(n["bob"], "friend", Node("Person", n["jose"].id)),
            ))
    done.set()
    for th in threads:
        th.join()
    assert not errors, errors[:3]
    assert set(seen) <= {20, *ages}
    assert engine.read().get_attribute(n["bob"], "age") == ages[-1]


@pytest.mark.parametrize("kind", ["n_Person", "e_friend"])
def test_size_rule_uses_recorded_bytes(spark, tmp_path, monkeypatch, kind):
    """A version above LOCAL_MAX_BYTES (by its manifest stats) is left to
    Spark; without a stats entry the file sizes decide."""
    engine = Engine(spark, str(tmp_path / "db"), demo_schema())
    engine.run(big_bang)
    snap = engine.snapshot()
    size = snap.manifest["stats"][kind]["bytes"]
    monkeypatch.setattr(storage, "LOCAL_MAX_BYTES", size)
    assert snap.local(kind) is not None
    monkeypatch.setattr(storage, "LOCAL_MAX_BYTES", size - 1)
    assert snap.local(kind) is None
    del snap.manifest["stats"][kind]
    assert snap.local(kind) is None
    monkeypatch.setattr(storage, "LOCAL_MAX_BYTES", size)
    assert snap.local(kind) is not None


def test_size_rule_follows_broadcast_threshold(spark):
    """Unset, the tier's limit is the session's broadcast threshold: the
    size up to which Spark collects a table to the driver anyway."""
    assert storage.LOCAL_MAX_BYTES is None
    want = _parse_spark_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert storage.local_limit(spark) == want


def test_hub_fan_out_past_the_limit_falls_back_to_spark(spark, tmp_path, monkeypatch):
    """A hop whose result would pass the tier's limit — here the two-hop
    fan-out of a hub, 60 x 60 rows from tables of a few KB — is planned in
    Spark instead of being built on the driver, with the same bag."""
    engine = Engine(spark, str(tmp_path / "db"), demo_schema())

    def star(t):
        hub = t.new_node("Person", name="Hub", age=1)
        for i in range(60):
            t.add_related(t.new_node("Person", name=f"L{i}", age=2), "friend", hub)

    engine.run(star)
    limit = 20_000
    monkeypatch.setattr(storage, "LOCAL_MAX_BYTES", limit)
    snap = engine.snapshot()
    assert all(snap.manifest["stats"][k]["bytes"] <= limit for k in ("n_Person", "e_friend"))
    hubs = NodeSet.scan(snap, engine.schema, "Person").hop("friend")
    assert hubs.tbl is not None and hubs.tbl.num_rows == 60  # within the limit
    wide, jobs = count_jobs(spark, hubs.hop, "friendOf")
    assert wide.tbl is None and jobs == 0  # a plan, not a driver-side table
    got = Counter(wide.ids())
    assert len(got) == 60 and set(got.values()) == {60}
    with forced_spark():
        spark_snap = engine.snapshot()
        want = NodeSet.scan(spark_snap, engine.schema, "Person").hop("friend").hop("friendOf")
        assert Counter(want.ids()) == got
