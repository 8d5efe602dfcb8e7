"""Store maintenance: small-files compaction (OPTIMIZE) + version GC
(VACUUM) wired into GraphStore.commit.

The reference's write-behind persister (the external ``persistent-stm``
package, /root/reference/edgy.cabal:43) rewrites one record per node, so
its on-disk state is naturally
bounded; a versioned parquet store instead accumulates a table-version
directory per commit and must fold/garbage-collect them.  These tests pin
the contract: file count stays bounded across 2N commits, reads are
unchanged, and superseded bucketed-edge catalog tables are dropped.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from edgy_spark import storage
from edgy_spark.demo import demo_schema
from edgy_spark.graph import Engine
from edgy_spark.storage import GraphStore


def _data_dirs(root: str) -> list[str]:
    return sorted(os.listdir(os.path.join(root, "data")))


def _manifests(root: str) -> list[str]:
    return sorted(n for n in os.listdir(root) if n.startswith("manifest."))


def test_auto_maintenance_bounds_disk_state_across_commits(spark, tmp_path):
    """compact_every=3, retain_versions=2, 2N=8 commits: version directories
    and manifests stay bounded by the retention window (not O(commits)) and
    every committed row is still readable afterwards."""
    root = str(tmp_path / "db")
    engine = Engine(
        spark, root, demo_schema(), compact_every=3, retain_versions=2
    )
    for i in range(8):
        engine.run(lambda t, i=i: t.new_node("Person", name=f"P{i}", age=i))

    names = {r["name"] for r in engine.snapshot().nodes("Person").collect()}
    assert names == {f"P{i}" for i in range(8)}

    # bounded window: at most retain_versions survivors of the last vacuum
    # plus up to compact_every commits since (+1 slack for a compaction
    # commit) — O(retain + compact_every), NOT O(commits)
    bound = 2 + 3 + 1
    current = engine.store.current_version()
    kept = {int(m.split(".v")[1].split(".json")[0]) for m in _manifests(root)}
    assert len(kept) <= bound
    assert min(kept) >= current - bound + 1  # nothing ancient survives
    # table-version dirs: ≤ tables-per-manifest × the same window
    n_tables = len(engine.snapshot().manifest["tables"])
    assert len(_data_dirs(root)) <= bound * n_tables


def test_compact_folds_fragmented_table_with_identical_reads(spark, tmp_path):
    """A table committed as many small part-files is rewritten into the few
    files its bytes need; the new snapshot reads bit-identically."""
    root = str(tmp_path / "db")
    store = GraphStore(spark, root, demo_schema())
    base = store.snapshot()
    df = (
        spark.range(1000)
        .select(
            F.col("id"),
            F.concat(F.lit("p"), F.col("id")).alias("name"),
            (F.col("id") % 90).alias("age"),
        )
        .repartition(16)  # deliberately fragmented write
    )
    snap = store.commit(base, {"n_Person": df}, next_id=1001)
    rel = snap.manifest["tables"]["n_Person"]
    n_before, _ = store._table_file_stats(rel)
    assert n_before >= 16

    out = store.compact(target_file_mb=128, min_files=4)
    assert out is not None and out.version == snap.version + 1
    n_after, _ = store._table_file_stats(out.manifest["tables"]["n_Person"])
    assert n_after < n_before and n_after <= 2

    before = {(r["id"], r["name"], r["age"]) for r in snap.nodes("Person").collect()}
    after = {(r["id"], r["name"], r["age"]) for r in out.nodes("Person").collect()}
    assert after == before

    # a healthy table is NOT rewritten again (idempotent maintenance)
    assert store.compact(target_file_mb=128, min_files=4) is None


def test_vacuum_drops_superseded_bucket_catalog_tables(spark, tmp_path, monkeypatch):
    """ADVICE r05: every bucketed edge commit registers a catalog table and
    old versions were never dropped.  After vacuum, only tables referenced
    by retained manifests remain registered, and point reads still work
    (on the Spark path, which reads the catalog table)."""
    monkeypatch.setattr(storage, "LOCAL_MAX_BYTES", -1)
    root = str(tmp_path / "db")
    engine = Engine(spark, root, demo_schema(), bucket_edges=2)

    def mk(txn, i):
        a = txn.new_node("Person", name=f"A{i}", age=i)
        b = txn.new_node("Person", name=f"B{i}", age=i)
        txn.add_related(a, "friend", b)
        return a, b

    pairs = [engine.run(lambda t, i=i: mk(t, i)) for i in range(4)]

    h_prefix = engine.store._bucket_table_name("e_friend", 0).rsplit("_v", 1)[0]
    registered = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(h_prefix + "_v")
    ]
    assert len(registered) >= 4  # one per commit — the unbounded growth

    engine.store.vacuum(retain_versions=2)
    remaining = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(h_prefix + "_v")
    ]
    assert len(remaining) <= 2
    # current adjacency still reads (from the surviving catalog table)
    a3, b3 = pairs[3]
    txn = engine.read()
    assert [n.id for n in txn.get_related(a3, "friend")] == [b3.id]


def test_compact_preserves_bucketed_layout(spark, tmp_path):
    """Compacting a fragmented BUCKETED edge table folds multi-file buckets
    through the normal bucketed commit path: reads identical, and the new
    version is still a registered bucketed catalog table."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "db")
    store = GraphStore(spark, root, demo_schema(), bucket_edges=2)
    base = store.snapshot()
    edges = (
        spark.range(200)
        .select(
            (F.col("id") % 40).alias("src"),
            (F.col("id") % 17).alias("dst"),
            F.col("id").alias("pos"),
            F.col("id").alias("ipos"),
        )
        .repartition(8)  # several files PER bucket
    )
    snap = store.commit(base, {"e_friend": edges}, next_id=1)
    n_before, _ = store._table_file_stats(snap.manifest["tables"]["e_friend"])
    assert n_before > 2

    out = store.compact(target_file_mb=128, min_files=3)
    assert out is not None
    n_after, _ = store._table_file_stats(out.manifest["tables"]["e_friend"])
    assert n_after <= 2  # one file per bucket
    tbl = out.manifest["bucketed"]["e_friend"]
    assert spark.catalog.tableExists(tbl)  # still a bucketed catalog table
    before = sorted(map(tuple, snap.edge_table("friend").collect()))
    after = sorted(map(tuple, out.edge_table("friend").collect()))
    assert after == before


def test_vacuum_keeps_snapshots_inside_retention(spark, tmp_path):
    """A reader pinned to a version INSIDE the retention window still works
    after vacuum (only pre-horizon versions are collected)."""
    root = str(tmp_path / "db")
    engine = Engine(spark, root, demo_schema())
    for i in range(4):
        engine.run(lambda t, i=i: t.new_node("Person", name=f"P{i}", age=i))
    current = engine.store.current_version()
    pinned = engine.store.snapshot(current - 1)  # second-newest
    engine.store.vacuum(retain_versions=2)
    names = {r["name"] for r in pinned.nodes("Person").collect()}
    assert names == {"P0", "P1", "P2"}  # the pinned (older) view, intact


def test_maintenance_failure_never_fails_a_published_commit(spark, tmp_path, monkeypatch):
    """Review r06: a maintenance error after publish must NOT propagate —
    a raised ConflictError would reach Engine.run's retry loop and
    re-execute (double-apply) a transaction that already committed."""
    from edgy_spark.storage import ConflictError

    engine = Engine(
        spark, str(tmp_path / "db"), demo_schema(), compact_every=1
    )

    def boom(*a, **k):
        raise ConflictError("concurrent writer during maintenance")

    monkeypatch.setattr(engine.store, "compact", boom)
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        engine.run(lambda t: t.new_node("Person", name="Once", age=1))
    assert any("maintenance" in str(x.message) for x in w)
    names = [r["name"] for r in engine.snapshot().nodes("Person").collect()]
    assert names == ["Once"]  # applied exactly once, commit succeeded


def test_racing_commits_same_base_exactly_one_publishes(spark, tmp_path, monkeypatch):
    """Verdict r06: the manifest publish must be a real CAS.  Two committers
    from the same base version both pass the staleness pre-check (simulated
    by pinning current_version); only one may create manifest.v{N+1} — the
    loser raises ConflictError, leaves the winner's data untouched, and
    cleans up its own orphaned files."""
    import pytest

    from edgy_spark.storage import ConflictError

    root = str(tmp_path / "db")
    store = GraphStore(spark, root, demo_schema())
    base = store.snapshot()
    df_a = spark.createDataFrame([(1, "A", 1)], "id long, name string, age long")
    df_b = spark.createDataFrame([(2, "B", 2)], "id long, name string, age long")

    # both committers believe CURRENT is still the base version
    monkeypatch.setattr(store, "current_version", lambda: base.version)
    store.commit(base, {"n_Person": df_a}, next_id=2)
    with pytest.raises(ConflictError, match="concurrent commit"):
        store.commit(base, {"n_Person": df_b}, next_id=3)
    monkeypatch.undo()

    # the winner's transaction survives intact
    assert store.current_version() == base.version + 1
    names = [r["name"] for r in store.snapshot().nodes("Person").collect()]
    assert names == ["A"]
    # the loser's orphaned data was cleaned up immediately (not left for
    # vacuum's 24h sweep): only the winner's n_Person version dir exists
    person_dirs = [d for d in _data_dirs(root) if d.startswith("n_Person")]
    assert len(person_dirs) == 1


def test_vacuum_spares_in_flight_commit_data(spark, tmp_path):
    """ADVICE r06: commit stages table data BEFORE publishing its manifest;
    vacuum must not delete an unreferenced version directory whose version
    is ABOVE every published manifest (a concurrent commit's in-flight
    write) unless it is abandoned (24h age guard).  Unreferenced dirs at or
    below CURRENT are history and are swept immediately."""
    root = str(tmp_path / "db")
    engine = Engine(spark, root, demo_schema())
    for i in range(4):
        engine.run(lambda t, i=i: t.new_node("Person", name=f"P{i}", age=i))
    current = engine.store.current_version()
    data = os.path.join(root, "data")

    in_flight = f"n_Person.v{current + 1}-aaaa1111.parquet"
    os.makedirs(os.path.join(data, in_flight))
    stale_history = "n_Person.v1-bbbb2222.parquet"
    os.makedirs(os.path.join(data, stale_history))

    removed = engine.store.vacuum(retain_versions=2)
    remaining = _data_dirs(root)
    assert in_flight in remaining, "vacuum deleted a concurrent commit's data"
    assert stale_history not in remaining
    assert os.path.join("data", stale_history) in removed


def test_vacuum_spares_in_flight_bucket_catalog_table(spark, tmp_path):
    """ADVICE r07: write_bucketed registers the catalog table BEFORE the
    manifest links it, so vacuum's catalog sweep must apply the same
    in-flight guard as the data sweep — an unreferenced edgy_* table whose
    version is above every published manifest, with live (non-abandoned)
    staged data, belongs to a concurrent committer and must survive.  Once
    its staged data is gone, the dangling catalog entry is dropped."""
    root = str(tmp_path / "db")
    engine = Engine(spark, root, demo_schema(), bucket_edges=2)

    def mk(txn, i):
        a = txn.new_node("Person", name=f"A{i}", age=i)
        b = txn.new_node("Person", name=f"B{i}", age=i)
        txn.add_related(a, "friend", b)

    for i in range(3):
        engine.run(lambda t, i=i: mk(t, i))
    store = engine.store
    current = store.current_version()

    # simulate a concurrent committer mid-commit: bucket table registered
    # + data staged, manifest not yet linked
    token = "aaaa1111"
    tbl = store._bucket_table_name("e_friend", current + 1, token)
    staged = os.path.join(
        root, "data", f"e_friend.v{current + 1}-{token}.parquet"
    )
    from edgy_spark.sources.io import write_bucketed

    df = spark.createDataFrame(
        [(1, 2, 0)], "src long, dst long, pos long"
    )
    write_bucketed(df, tbl, ["src"], 2, sort_cols=["src", "pos"], path=staged)

    store.vacuum(retain_versions=2)
    names = {t.name for t in spark.catalog.listTables()}
    assert tbl in names, "vacuum dropped a concurrent committer's bucket table"
    assert os.path.exists(staged)

    # staging disappears (committer aborted and cleaned up) -> next vacuum
    # drops the now-dangling catalog entry
    import shutil

    shutil.rmtree(staged)
    store.vacuum(retain_versions=2)
    names = {t.name for t in spark.catalog.listTables()}
    assert tbl not in names


def test_crashed_commit_rolls_forward_instead_of_wedging(spark, tmp_path, monkeypatch):
    """Review r07: a crash BETWEEN the manifest link (the commit point) and
    the CURRENT pointer swap must neither lose the commit nor wedge the
    store — readers roll CURRENT forward past complete manifests, and the
    next committer builds on the adopted version."""
    import pytest

    root = str(tmp_path / "db")
    engine = Engine(spark, root, demo_schema())
    engine.run(lambda t: t.new_node("Person", name="Before", age=1))
    v_ok = engine.store.current_version()

    def crash(_root, _version):
        raise OSError("simulated crash before CURRENT publish")

    monkeypatch.setattr(storage, "_swap_current", crash)
    with pytest.raises(OSError, match="simulated crash"):
        engine.run(lambda t: t.new_node("Person", name="Crashed", age=2))
    monkeypatch.undo()

    # manifest link already happened: the transaction IS committed
    assert engine.store.current_version() == v_ok + 1
    names = {r["name"] for r in engine.snapshot().nodes("Person").collect()}
    assert "Crashed" in names
    # and the store is not wedged: the next commit succeeds on top
    engine.run(lambda t: t.new_node("Person", name="After", age=3))
    assert engine.store.current_version() == v_ok + 2
    names = {r["name"] for r in engine.snapshot().nodes("Person").collect()}
    assert {"Before", "Crashed", "After"} <= names


def test_table_changes_strict_raises_on_uncaptured_versions(spark, tmp_path):
    """Tri-state CDC: versions committed WITHOUT capture are distinguishable
    from captured-but-empty ones; strict reads refuse an incomplete feed."""
    import pytest

    root = str(tmp_path / "db")
    engine = Engine(spark, root, demo_schema())  # capture OFF
    engine.run(lambda t: t.new_node("Person", name="A", age=1))
    v1 = engine.store.current_version()
    engine.run(lambda t: t.new_node("Person", name="B", age=2))

    with pytest.raises(ValueError, match="no change capture"):
        engine.store.table_changes("n_Person", v1).collect()
    assert engine.store.table_changes("n_Person", v1, strict=False).count() == 0

    # maintenance commits are captured-empty (no logical change), not
    # uncaptured: strict reads pass over them
    engine2 = Engine(
        spark, str(tmp_path / "db2"), demo_schema(), capture_cdc=True
    )
    for i in range(3):
        engine2.run(lambda t, i=i: t.new_node("Person", name=f"P{i}", age=i))
    v = engine2.store.current_version()
    engine2.store.compact(target_file_mb=128, min_files=2)
    engine2.run(lambda t: t.new_node("Person", name="Z", age=9))
    got = [
        r["name"]
        for r in engine2.store.table_changes("n_Person", v).collect()
    ]
    assert got == ["Z"]


def test_vacuum_repairs_stale_current_before_dropping_manifests(spark, tmp_path, monkeypatch):
    """A crashed commit leaves CURRENT stale; vacuum must repair the
    pointer BEFORE garbage-collecting manifests, or the roll-forward probe
    chain (CURRENT → stale N, manifest N+1 already vacuumed) breaks and
    the store becomes unreadable."""
    import pytest

    root = str(tmp_path / "db")
    engine = Engine(spark, root, demo_schema())
    for i in range(4):
        engine.run(lambda t, i=i: t.new_node("Person", name=f"P{i}", age=i))

    def crash(_root, _version):
        raise OSError("simulated crash before CURRENT publish")

    monkeypatch.setattr(storage, "_swap_current", crash)
    with pytest.raises(OSError):
        engine.run(lambda t: t.new_node("Person", name="Crashed", age=9))
    monkeypatch.undo()

    with open(os.path.join(root, "CURRENT")) as f:
        stale = int(f.read().strip())
    rolled = engine.store.current_version()
    assert rolled == stale + 1  # the pointer really is stale

    engine.store.vacuum(retain_versions=1)  # drops manifests incl. stale+...
    # the pointer was repaired, the chain is intact, the store reads
    assert engine.store.current_version() == rolled
    names = {r["name"] for r in engine.snapshot().nodes("Person").collect()}
    assert "Crashed" in names and "P3" in names


def test_restore_repoints_without_copying_and_preserves_counters(
    spark, tmp_path
):
    """RESTORE = a new commit whose manifest re-points at the old version's
    files: table contents revert, next_id never rewinds (no id reuse), the
    restore commit's changes are marked NOT captured (strict change
    consumers fail loudly, like a bulk load), and restoring a vacuumed
    version fails with a clear error."""
    import pytest

    from edgy_spark.schema import Attr, GraphSchema, NodeType
    from edgy_spark.storage import GraphStore

    schema = GraphSchema(
        node_types=(NodeType("Person", (Attr("name"), Attr("age", "long"))),),
        relations=(),
    )
    store = GraphStore(spark, str(tmp_path / "db"), schema, retain_versions=10)
    t1 = spark.createDataFrame(
        [(1, "ann", 30)], "id long, name string, age long"
    )
    store.commit(store.snapshot(), {"n_Person": t1}, next_id=2)
    v1 = store.current_version()
    t2 = spark.createDataFrame(
        [(1, "ann", 31), (2, "bob", 40)], "id long, name string, age long"
    )
    store.commit(store.snapshot(), {"n_Person": t2}, next_id=3)

    snap = store.restore(v1)
    assert snap.version == store.current_version()
    rows = snap.nodes("Person").collect()
    assert [(r["id"], r["age"]) for r in rows] == [(1, 30)]
    # counter took the max: the id bob consumed is never re-issued
    assert snap.manifest["next_id"] == 3
    # restore changes are unknowable: strict change feeds refuse the gap
    with pytest.raises(ValueError, match="no change capture"):
        store.table_changes("n_Person", snap.version - 1, snap.version)
    # the undone version remains readable history until vacuumed
    assert store.snapshot(v1 + 1).nodes("Person").count() == 2

    # restoring to a vacuumed version fails loudly
    store.vacuum(retain_versions=1)
    with pytest.raises(ValueError, match="vacuum"):
        store.restore(v1)


def test_conditional_put_arbiter_racing_commits(spark, tmp_path, monkeypatch):
    """The commit protocol must hold on an object store, where there is no
    atomic link/rename — only conditional PUT (verdict r09).  Same racing
    scenario as the hard-link test, through ConditionalPutArbiter: exactly
    one committer publishes, the loser gets ConflictError and cleans up."""
    import pytest

    from edgy_spark.storage import ConditionalPutArbiter, ConflictError

    root = str(tmp_path / "db")
    store = GraphStore(
        spark, root, demo_schema(), commit_arbiter=ConditionalPutArbiter()
    )
    base = store.snapshot()
    df_a = spark.createDataFrame([(1, "A", 1)], "id long, name string, age long")
    df_b = spark.createDataFrame([(2, "B", 2)], "id long, name string, age long")

    monkeypatch.setattr(store, "current_version", lambda: base.version)
    store.commit(base, {"n_Person": df_a}, next_id=2)
    with pytest.raises(ConflictError, match="concurrent commit"):
        store.commit(base, {"n_Person": df_b}, next_id=3)
    monkeypatch.undo()

    assert store.current_version() == base.version + 1
    names = [r["name"] for r in store.snapshot().nodes("Person").collect()]
    assert names == ["A"]
    person_dirs = [d for d in _data_dirs(root) if d.startswith("n_Person")]
    assert len(person_dirs) == 1


def test_conditional_put_arbiter_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """Crash between the conditional PUT (the commit point) and the CURRENT
    pointer swap: the commit survives and the store rolls forward — the
    protocol's crash story is arbiter-independent."""
    import pytest

    from edgy_spark.storage import ConditionalPutArbiter

    root = str(tmp_path / "db")
    engine = Engine(
        spark, root, demo_schema(), commit_arbiter=ConditionalPutArbiter()
    )
    engine.run(lambda t: t.new_node("Person", name="Before", age=1))
    v_ok = engine.store.current_version()

    def crash(_root, _version):
        raise OSError("simulated crash before CURRENT publish")

    monkeypatch.setattr(storage, "_swap_current", crash)
    with pytest.raises(OSError, match="simulated crash"):
        engine.run(lambda t: t.new_node("Person", name="Crashed", age=2))
    monkeypatch.undo()

    assert engine.store.current_version() == v_ok + 1
    engine.run(lambda t: t.new_node("Person", name="After", age=3))
    names = {r["name"] for r in engine.snapshot().nodes("Person").collect()}
    assert {"Before", "Crashed", "After"} <= names


def test_conditional_put_manifest_path_never_links(spark, tmp_path, monkeypatch):
    """With ConditionalPutArbiter the MANIFEST path must not rely on
    os.link at all (object stores don't have it).  A first commit — whose
    only hard-link user would be the manifest publish itself — succeeds
    with os.link disabled entirely."""
    from edgy_spark.storage import ConditionalPutArbiter

    root = str(tmp_path / "db")

    def no_link(*_a, **_k):
        raise OSError("os.link is not available on this storage system")

    monkeypatch.setattr(os, "link", no_link)
    store = GraphStore(
        spark, root, demo_schema(), commit_arbiter=ConditionalPutArbiter()
    )
    df = spark.createDataFrame([(1, "A", 1)], "id long, name string, age long")
    store.commit(store.snapshot(), {"n_Person": df}, next_id=2)
    monkeypatch.undo()
    assert store.current_version() == 1
    assert [r["name"] for r in store.snapshot().nodes("Person").collect()] == ["A"]


def test_conditional_put_reclaims_crashed_empty_claim(tmp_path):
    """A putter that crashed between O_EXCL create and write leaves an
    empty file; past the grace period the next putter reclaims the slot
    instead of wedging the version forever, and roll-forward never adopts
    the empty claim as a commit (review r10)."""
    from edgy_spark.storage import ConditionalPutArbiter

    arb = ConditionalPutArbiter()
    path = str(tmp_path / "manifest.v1.json")
    # simulate the crash: empty file, old mtime
    open(path, "w").close()
    os.utime(path, (1, 1))
    assert arb.put_if_absent(path, '{"version": 1}') is True
    assert open(path).read() == '{"version": 1}'
    # a FRESH empty claim (live putter) is NOT stolen
    path2 = str(tmp_path / "manifest.v2.json")
    open(path2, "w").close()
    assert arb.put_if_absent(path2, "x") is False


def test_rollforward_skips_empty_manifest_claims(spark, tmp_path):
    """current_version must not adopt a ConditionalPut claim that has no
    content yet — an empty manifest.v{N+1} reads as absent."""
    root = str(tmp_path / "db")
    store = GraphStore(spark, root, demo_schema())
    df = spark.createDataFrame([(1, "A", 1)], "id long, name string, age long")
    store.commit(store.snapshot(), {"n_Person": df}, next_id=2)
    assert store.current_version() == 1
    open(os.path.join(root, "manifest.v2.json"), "w").close()
    assert store.current_version() == 1  # empty claim != commit
    snap = store.snapshot()
    assert snap.version == 1


def test_conditional_put_reclaims_torso_never_complete(tmp_path):
    """Review r10b: a crashed putter can also leave a NON-empty truncated
    torso — reclaimable past the grace period; a COMPLETE manifest is
    never reclaimed no matter how old."""
    from edgy_spark.storage import ConditionalPutArbiter

    arb = ConditionalPutArbiter()
    torso = str(tmp_path / "manifest.v1.json")
    with open(torso, "w") as f:
        f.write('{"version": 1, "tab')  # crashed mid-flush
    os.utime(torso, (1, 1))
    assert arb.put_if_absent(torso, '{"version": 1}') is True
    assert open(torso).read() == '{"version": 1}'

    done = str(tmp_path / "manifest.v2.json")
    with open(done, "w") as f:
        f.write('{"version": 2}')
    os.utime(done, (1, 1))
    assert arb.put_if_absent(done, '{"version": 2, "other": true}') is False
    assert open(done).read() == '{"version": 2}'


def test_rollforward_skips_truncated_manifest_torso(spark, tmp_path):
    """A non-empty but unparseable manifest.v{N+1} must read as absent —
    adopting it wedged every snapshot (review r10b)."""
    root = str(tmp_path / "db")
    store = GraphStore(spark, root, demo_schema())
    df = spark.createDataFrame([(1, "A", 1)], "id long, name string, age long")
    store.commit(store.snapshot(), {"n_Person": df}, next_id=2)
    with open(os.path.join(root, "manifest.v2.json"), "w") as f:
        f.write('{"version": 2, "tab')
    assert store.current_version() == 1
    assert store.snapshot().version == 1


def test_conditional_put_stalled_putter_loses_to_reclaimer(tmp_path):
    """Review r11: the open→flock gap is not covered by the lock, so a
    putter stalled past the grace period can wake AFTER a reclaimer stole
    its empty claim.  The woken putter must re-validate under its lock
    (inode still empty) and lose cleanly — never overwrite the
    reclaimer's manifest (the two-winner interleave)."""
    from edgy_spark.storage import ConditionalPutArbiter

    arb = ConditionalPutArbiter()
    path = str(tmp_path / "manifest.v1.json")
    # putter A: O_EXCL create succeeds ... then stalls holding only the fd
    fd_a = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.utime(path, (1, 1))  # stall exceeds the grace period
    # reclaimer B arrives, steals the slot, writes its manifest
    assert arb.put_if_absent(path, '{"version": 1, "by": "B"}') is True
    # A wakes and finishes its write path: must LOSE, not interleave
    assert arb._write_all(fd_a, b'{"version": 1, "by": "A"}') is False
    assert open(path).read() == '{"version": 1, "by": "B"}'


def test_history_audit_trail(spark, tmp_path):
    """DESCRIBE HISTORY (r11): operations classify per retained version —
    bootstrap, data writes naming the changed table versions,
    metadata-only commits (a CHECK re-declaration moves no rows), and a
    clone target's v0; newest first, bounded by retention."""
    from edgy_spark.demo import big_bang, demo_schema
    from edgy_spark.graph import Engine

    engine = Engine(
        spark, str(tmp_path / "src"), demo_schema(), retain_versions=10
    )
    engine.run(big_bang)
    src = engine.store
    engine.run(lambda t: t.new_node("Person", name="H1", age=31))
    # metadata-only: re-open with a CHECK declaration (no data moves)
    src2 = GraphStore(
        spark, src.root, demo_schema(), retain_versions=10,
        check_constraints={"Person": "age >= 0"},
    )
    hist = src2.history()
    assert [h["version"] for h in hist] == [3, 2, 1, 0]
    assert hist[-1]["operation"] == "bootstrap"
    assert hist[0]["operation"] == "metadata-only"
    assert hist[0]["changed_tables"] == []
    writes = [h for h in hist if h["operation"] == "write"]
    assert writes and all(h["changed_tables"] for h in writes)
    assert any("n_Person" in h["changed_tables"] for h in writes)
    # rows recorded and id cursor monotone
    assert all(
        h["next_id"] >= p["next_id"]
        for h, p in zip(hist, hist[1:])
        if h["next_id"] is not None and p["next_id"] is not None
    )
    # a clone's own history starts at a clone v0
    clone = src2.clone(str(tmp_path / "dst"))
    chist = clone.history()
    assert chist[-1]["operation"] == "clone"
    assert chist[-1]["cloned_from"]["root"] == src.root


def test_history_does_not_diff_across_vacuumed_gap(spark, tmp_path):
    """r11d: a missing manifest inside the horizon resets the diff base —
    the next version must not be classified against a non-adjacent
    predecessor (a RESTORE back to older tables would read
    'metadata-only')."""
    from edgy_spark.demo import big_bang, demo_schema
    from edgy_spark.graph import Engine

    engine = Engine(
        spark, str(tmp_path / "db"), demo_schema(), retain_versions=10
    )
    engine.run(big_bang)
    engine.run(lambda t: t.new_node("Person", name="G1", age=20))
    engine.run(lambda t: t.new_node("Person", name="G2", age=21))
    store = engine.store
    import json as _json

    os.unlink(store._manifest_path(2))  # simulate a partial vacuum
    hist = {h["version"]: h for h in store.history()}
    assert 2 not in hist
    # v3 follows the gap: full table list, classified as a write — never
    # "metadata-only" by accident of matching a non-adjacent base
    assert hist[3]["operation"] == "write"
    with open(store._manifest_path(3)) as f:
        assert hist[3]["changed_tables"] == sorted(_json.load(f)["tables"])
