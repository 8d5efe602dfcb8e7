"""bucket_nodes=N: node tables bucketed by id — point reads prune to one
bucket, correctness identical to the plain layout, parquet fallback intact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edgy_spark import storage
from edgy_spark.demo import big_bang, demo_schema, missing_tools
from edgy_spark.graph import Engine, Node

N_BUCKETS = 8


@pytest.fixture(autouse=True)
def _spark_path(monkeypatch):
    """Every table on the Spark path, the one that reads the bucketed
    catalog tables (the driver-side Arrow tier reads the files)."""
    monkeypatch.setattr(storage, "LOCAL_MAX_BYTES", -1)


@pytest.fixture()
def bucketed_engine(spark, tmp_path):
    engine = Engine(
        spark, str(tmp_path / "db"), demo_schema(), bucket_nodes=N_BUCKETS
    )
    engine.run(big_bang)
    return engine


def test_workload_parity_on_bucketed_nodes(bucketed_engine):
    """The golden demo outputs must not depend on the physical layout."""
    assert set(missing_tools(bucketed_engine, "Bob")) == {"Poker Chips"}
    assert set(missing_tools(bucketed_engine, "Jane")) == {"Poker Chips"}


def test_point_read_prunes_to_one_bucket(bucketed_engine):
    snap = bucketed_engine.snapshot()
    assert snap.manifest["bucketed"].get("n_Person") is not None
    some_id = snap.nodes("Person").select("id").head()[0]
    plan = (
        snap.nodes("Person")
        .filter(F.col("id") == some_id)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert f"SelectedBucketsCount: 1 out of {N_BUCKETS}" in plan


def test_mutations_roundtrip_and_rebucket(bucketed_engine):
    engine = bucketed_engine
    snap0 = engine.snapshot()
    tbl0 = snap0.manifest["bucketed"]["n_Person"]
    ann = engine.run(lambda t: t.new_node("Person", name="Ann", age=33))
    assert engine.read().get_attribute(ann, "age") == 33
    engine.run(lambda t: t.set_attribute(ann, "age", 34))
    assert engine.read().get_attribute(ann, "age") == 34
    engine.run(lambda t: t.delete_node(ann))
    with pytest.raises(KeyError):
        engine.read().get_attribute(ann, "age")
    # every commit re-bucketed into a fresh catalog table version
    tbl3 = engine.snapshot().manifest["bucketed"]["n_Person"]
    assert tbl3 != tbl0


def test_parquet_fallback_when_catalog_table_missing(bucketed_engine):
    engine = bucketed_engine
    snap = engine.snapshot()
    tbl = snap.manifest["bucketed"]["n_Person"]
    engine.spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # fresh-session simulation
    names = {r["name"] for r in engine.snapshot().nodes("Person").collect()}
    assert names == {"Bob", "Jane", "Jose"}


def test_bucketed_nodes_compose_with_secondary_index(spark, tmp_path):
    engine = Engine(
        spark,
        str(tmp_path / "db2"),
        demo_schema(),
        bucket_nodes=N_BUCKETS,
        index_attrs={"Person": ["name"]},
        index_buckets=4,
    )
    engine.run(big_bang)
    snap = engine.snapshot()
    assert snap.attr_index("Person", "name") is not None
    from edgy_spark.query import NodeSet

    hit = NodeSet.lookup(snap, engine.schema, "Person", name="Bob")
    assert [r["name"] for r in hit.df.collect()] == ["Bob"]
