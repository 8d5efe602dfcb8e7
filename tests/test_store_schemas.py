"""The manifest's recorded read schemas (``schemas``, keyed by table-version
relpath): each entry equals what ``spark.read.parquet`` infers from the
files, reads with and without an entry return the same answers, every
manifest writer keeps entries only for the relpaths in ``tables``, and
``fsck(deep=True)`` catches an entry that disagrees with the footers."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from edgy_spark.demo import big_bang, demo_schema
from edgy_spark.graph import Engine
from edgy_spark.storage import Snapshot

INDEX = {"Person": ["name"]}


def _engine(spark, root, **layout):
    engine = Engine(
        spark, root, demo_schema(), index_attrs=INDEX, index_buckets=2, **layout
    )
    return engine, engine.run(big_bang)


def _assert_recorded_equals_inferred(spark, snap):
    """Every n_/e_/x_ table version has an entry, equal to inference."""
    schemas = snap.manifest["schemas"]
    tables = snap.manifest["tables"]
    assert {k[:2] for k in tables} == {"n_", "e_", "x_"}
    assert set(schemas) == set(tables.values())
    for key, rel in tables.items():
        inferred = spark.read.parquet(os.path.join(snap._store.root, rel)).schema
        assert T.StructType.fromJson(schemas[rel]) == inferred, key


def _contents(snap, schema) -> dict:
    """Every table a Snapshot serves, as (column names, sorted rows); an
    index a bulk load dropped reads as None."""
    out = {}
    for nt in schema.node_types:
        out[f"n_{nt.name}"] = snap.nodes(nt.name)
    for table in schema.edge_tables:
        out[f"e_{table}"] = snap.edge_table(table)
    for t, attrs in INDEX.items():
        for a in attrs:
            out[f"x_{t}_{a}"] = snap.attr_index(t, a)
    return {
        k: None if df is None else (df.columns, sorted(map(tuple, df.collect())))
        for k, df in out.items()
    }


def _without_schemas(snap) -> Snapshot:
    manifest = {k: v for k, v in snap.manifest.items() if k != "schemas"}
    return Snapshot(snap._store, manifest)


def _assert_live(manifest):
    assert set(manifest.get("schemas", {})) <= set(manifest["tables"].values())


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    """One bigBang store on the plain layout; tests that write work on a
    shallow clone of it (``GraphStore.clone``: metadata only)."""
    return _engine(spark, str(tmp_path_factory.mktemp("plain") / "db"))


def _clone(spark, plain, tmp_path):
    root = str(tmp_path / "clone")
    plain[0].store.clone(root)
    return Engine(spark, root, demo_schema(), index_attrs=INDEX, index_buckets=2)


def test_plain_layout_records_inferred_schema_and_reads_identically(spark, plain):
    engine, _ = plain
    snap = engine.snapshot()
    _assert_recorded_equals_inferred(spark, snap)
    assert _contents(snap, engine.schema) == _contents(
        _without_schemas(snap), engine.schema
    )
    assert engine.store.fsck(deep=True)["ok"]


def test_bucketed_layout_and_fresh_catalog_fallback(spark, tmp_path):
    engine, _ = _engine(
        spark, str(tmp_path / "db"), bucket_edges=2, bucket_nodes=2
    )
    snap = engine.snapshot()
    _assert_recorded_equals_inferred(spark, snap)
    expected = _contents(snap, engine.schema)
    # a session whose catalog does not know the bucketed tables reads the
    # same files through the parquet path, with the recorded schema
    for tbl in snap.manifest["bucketed"].values():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert _contents(snap, engine.schema) == expected
    assert _contents(_without_schemas(snap), engine.schema) == expected


def test_store_committed_without_schemas_reads_and_commits(spark, plain, tmp_path):
    """A store whose manifests predate the field: reads infer, and the next
    engine commit records entries for just the table versions it writes."""
    engine = _clone(spark, plain, tmp_path)
    n = plain[1]
    expected = _contents(engine.snapshot(), engine.schema)
    path = engine.store._manifest_path(engine.store.current_version())
    with open(path) as f:
        m = json.load(f)
    del m["schemas"]
    with open(path, "w") as f:
        json.dump(m, f)
    assert _contents(engine.snapshot(), engine.schema) == expected
    engine.run(lambda t: t.add_related(n["jane"], "possession", n["chips"]))
    m = engine.snapshot().manifest
    assert set(m["schemas"]) == {m["tables"]["e_possession"]}
    t = engine.read()
    assert t.get_related_list(n["jane"], "possession") == [n["chips"], n["cards"]]
    assert engine.store.fsck(deep=True)["ok"]


def test_restore_compact_vacuum_clone_keep_only_live_entries(spark, plain, tmp_path):
    engine = _clone(spark, plain, tmp_path)
    n = plain[1]
    store = engine.store
    v0 = store.current_version()
    engine.run(lambda t: t.set_attribute(n["bob"], "age", 40))
    _assert_live(store.snapshot().manifest)

    restored = store.restore(v0)
    _assert_live(restored.manifest)
    assert restored.manifest["schemas"] == store.snapshot(v0).manifest["schemas"]
    assert engine.read().get_attribute(n["bob"], "age") == 20

    # a fragmented table for compact() to fold: engine commits of
    # driver-side rows write one file per table
    snap = store.snapshot()
    store.commit(snap, {"n_Person": snap.nodes("Person").repartition(2)})
    compacted = store.compact(min_files=1)
    assert compacted is not None
    _assert_live(compacted.manifest)
    _assert_recorded_equals_inferred(spark, compacted)

    store.vacuum(retain_versions=1)
    _assert_live(store.snapshot().manifest)
    assert store.fsck(deep=True)["ok"]

    # a clone re-keys the entries to the absolute paths its tables use
    cm = store.clone(str(tmp_path / "clone2")).snapshot().manifest
    assert set(cm["schemas"]) == set(cm["tables"].values())


def test_fsck_deep_reports_a_wrong_recorded_schema(spark, plain, tmp_path):
    store = _clone(spark, plain, tmp_path).store
    path = store._manifest_path(store.current_version())
    with open(path) as f:
        m = json.load(f)
    rel = m["tables"]["n_Person"]
    for field in m["schemas"][rel]["fields"]:
        if field["name"] == "age":
            field["type"] = "string"
    with open(path, "w") as f:
        json.dump(m, f)
    report = store.fsck(deep=True)
    assert not report["ok"]
    assert any("n_Person: recorded schema" in e for e in report["errors"])
    assert store.fsck()["ok"]  # the footer check is part of the deep pass


@pytest.mark.slow
def test_bulk_txn_and_stream_sink_commits(spark, tmp_path):
    """Ecosystem writers record no entry for the table they replace (it
    reads with inference) and carry the others; answers are unchanged."""
    from edgy_spark.sources.pysource import commit_edgy_txn, register_edgy_source

    root = str(tmp_path / "db")
    engine, n = _engine(spark, root)
    register_edgy_source(spark)
    cursor = engine.snapshot().manifest["next_id"]
    people = spark.createDataFrame(
        [(cursor, "Zed", 40), (cursor + 1, "Yara", 41)],
        "id long, name string, age long",
    )
    edges = spark.createDataFrame(
        [(cursor, cursor + 1, 0, 0)], "src long, dst long, pos long, ipos long"
    )
    for df, table in ((people, "n_Person"), (edges, "e_friend")):
        (
            df.write.format("edgy").option("root", root).option("table", table)
            .option("txn", "load").mode("append").save()
        )
    commit_edgy_txn(root, "load")
    snap = engine.snapshot()
    m = snap.manifest
    _assert_live(m)
    assert m["tables"]["n_Person"] not in m["schemas"]
    assert m["tables"]["e_friend"] not in m["schemas"]
    assert m["tables"]["n_Object"] in m["schemas"]
    assert _contents(snap, engine.schema) == _contents(
        _without_schemas(snap), engine.schema
    )

    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(cursor + 100, "Streamed", 7)], "id long, name string, age long"
    ).coalesce(1).write.parquet(feed)
    q = (
        spark.readStream.schema("id long, name string, age long").parquet(feed)
        .writeStream.format("edgy").option("root", root)
        .option("table", "n_Person")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    snap = engine.snapshot()
    assert snap.version == m["version"] + 1
    _assert_live(snap.manifest)
    assert "Streamed" in {r["name"] for r in snap.nodes("Person").collect()}
    assert _contents(snap, engine.schema) == _contents(
        _without_schemas(snap), engine.schema
    )
    # the next engine commit records the Person version it writes
    engine.run(lambda t: t.set_attribute(n["bob"], "age", 50))
    snap = engine.snapshot()
    assert snap.manifest["tables"]["n_Person"] in snap.manifest["schemas"]
    assert engine.store.fsck(deep=True)["ok"]
