"""Secondary attribute indexes: transactionally maintained, bucket-pruned,
always falling back to the (always-correct) scan when absent or stale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edgy_spark import storage
from edgy_spark.demo import big_bang, demo_schema
from edgy_spark.graph import Engine
from edgy_spark.query import NodeSet
from edgy_spark.schema import Attr, GraphSchema, NodeType, optional
from edgy_spark.storage import _index_key

IDX_BUCKETS = 8


@pytest.fixture(autouse=True)
def _spark_path(monkeypatch):
    """Every table on the Spark path: the driver-side Arrow tier answers
    ``lookup`` with a scan and never reads the index under test."""
    monkeypatch.setattr(storage, "LOCAL_MAX_BYTES", -1)


@pytest.fixture()
def indexed(spark, tmp_path):
    engine = Engine(
        spark,
        str(tmp_path / "db"),
        demo_schema(),
        index_attrs={"Person": ["name"]},
        index_buckets=IDX_BUCKETS,
    )
    engine.run(big_bang)
    return engine


def _lookup_rows(engine, **eq):
    snap = engine.snapshot()
    ns = NodeSet.lookup(snap, engine.schema, "Person", **eq)
    return sorted(tuple(r) for r in ns.df.select("id", "name").collect())


def _scan_rows(engine, **eq):
    snap = engine.snapshot()
    ns = NodeSet.scan(snap, engine.schema, "Person").filter(**eq)
    return sorted(tuple(r) for r in ns.df.select("id", "name").collect())


def test_indexed_lookup_equals_scan_and_follows_mutations(indexed):
    engine = indexed
    assert engine.snapshot().attr_index("Person", "name") is not None
    assert _lookup_rows(engine, name="Bob") == _scan_rows(engine, name="Bob")

    # rename: the same commit that changes the node table rebuilds the index
    bob_id = _lookup_rows(engine, name="Bob")[0][0]
    from edgy_spark.graph import Node

    engine.run(lambda t: t.set_attribute(Node("Person", bob_id), "name", "Bobby"))
    assert _lookup_rows(engine, name="Bob") == []
    assert _lookup_rows(engine, name="Bobby") == _scan_rows(engine, name="Bobby") != []

    # insert and delete
    ann = engine.run(lambda t: t.new_node("Person", name="Ann", age=33))
    assert _lookup_rows(engine, name="Ann") == [(ann.id, "Ann")]
    engine.run(lambda t: t.delete_node(ann))
    assert _lookup_rows(engine, name="Ann") == []


def test_unindexed_attr_and_unindexed_store_fall_back(spark, tmp_path, indexed):
    # age is not indexed: lookup must equal scan anyway
    assert _lookup_rows(indexed, age=20) == _scan_rows(indexed, age=20)
    assert indexed.snapshot().attr_index("Person", "age") is None
    # a store with no index config: same results through the fallback
    plain = Engine(spark, str(tmp_path / "plain"), demo_schema())
    plain.run(big_bang)
    assert plain.snapshot().attr_index("Person", "name") is None
    assert _lookup_rows(plain, name="Bob") == _scan_rows(plain, name="Bob") != []


def test_index_lookup_prunes_to_one_bucket_of_two_columns(indexed):
    idx = indexed.snapshot().attr_index("Person", "name")
    plan = (
        idx.filter(F.col("name") == "Bob")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert f"SelectedBucketsCount: 1 out of {IDX_BUCKETS}" in plan
    assert set(idx.columns) == {"name", "id"}


def test_lookup_by_optional_default_finds_unset_attr(spark, tmp_path):
    """The index stores READ-semantics values: a node whose optional attr
    was never written must be found when looking up the default."""
    schema = GraphSchema(
        node_types=(
            NodeType("Doc", (Attr("name"), optional("tag", "string"))),
        ),
        relations=(),
    )
    engine = Engine(
        spark, str(tmp_path / "db2"), schema,
        index_attrs={"Doc": ["tag"]}, index_buckets=4,
    )

    def setup(t):
        t.new_node("Doc", name="untagged")
        d = t.new_node("Doc", name="tagged")
        t.set_attribute(d, "tag", "keep")

    engine.run(setup)
    snap = engine.snapshot()
    assert snap.attr_index("Doc", "tag") is not None
    via_idx = NodeSet.lookup(snap, schema, "Doc", tag="")
    via_scan = NodeSet.scan(snap, schema, "Doc").filter(tag="")
    assert (
        sorted(r["name"] for r in via_idx.df.collect())
        == sorted(r["name"] for r in via_scan.df.collect())
        == ["untagged"]
    )
    assert [r["name"] for r in NodeSet.lookup(snap, schema, "Doc", tag="keep").df.collect()] == ["tagged"]


def test_bulk_load_drops_index_and_rebuild_restores(spark, tmp_path, indexed):
    from edgy_spark.sources.pysource import register_edgy_source

    engine = indexed
    register_edgy_source(spark)
    bulk = spark.createDataFrame(
        [(100, "Zed", 50)], "id long, name string, age long"
    )
    (
        bulk.write.format("edgy")
        .option("root", engine.store.root)
        .option("table", "n_Person")
        .mode("append")
        .save()
    )
    snap = engine.snapshot()
    # stale index dropped: manifest carries no x_ entry, reads fall back
    assert snap.attr_index("Person", "name") is None
    assert _index_key("Person", "name") not in snap.manifest["tables"]
    assert _lookup_rows(engine, name="Zed") == _scan_rows(engine, name="Zed") != []

    engine.store.rebuild_indexes()
    snap2 = engine.snapshot()
    assert snap2.attr_index("Person", "name") is not None
    assert _lookup_rows(engine, name="Zed") == _scan_rows(engine, name="Zed") != []


def test_retyped_attr_index_is_never_read(spark, tmp_path):
    """Schema drift: an index committed under an older attribute type must
    not serve lookups — attr_index returns None and lookup scans."""
    schema_v1 = GraphSchema(
        node_types=(NodeType("Doc", (Attr("name"), Attr("code", "string"))),),
        relations=(),
    )
    root = str(tmp_path / "db3")
    e1 = Engine(spark, root, schema_v1, index_attrs={"Doc": ["code"]})
    e1.run(lambda t: t.new_node("Doc", name="a", code="7"))
    assert e1.snapshot().attr_index("Doc", "code") is not None

    schema_v2 = GraphSchema(
        node_types=(NodeType("Doc", (Attr("name"), Attr("code", "long"))),),
        relations=(),
    )
    e2 = Engine(spark, root, schema_v2, index_attrs={"Doc": ["code"]})
    snap = e2.snapshot()
    assert snap.attr_index("Doc", "code") is None  # type baked in != current
    # fallback scan still answers (re-typed attr reads as default: NULL)
    ns = NodeSet.lookup(snap, schema_v2, "Doc", code=7)
    assert ns.df.count() == 0


def test_vacuum_gcs_superseded_index_versions(indexed):
    import os

    engine = indexed
    from edgy_spark.graph import Node

    bob_id = _lookup_rows(engine, name="Bob")[0][0]
    for new in ("B1", "B2", "B3"):
        engine.run(lambda t, n=new: t.set_attribute(Node("Person", bob_id), "name", n))
    removed = engine.store.vacuum(retain_versions=1)
    key = _index_key("Person", "name")
    assert any(key in rel for rel in removed), "old index versions swept"
    # current version's index survives and still serves lookups
    snap = engine.snapshot()
    assert snap.attr_index("Person", "name") is not None
    assert _lookup_rows(engine, name="B3") != []
