"""Unit tests for the generic iterative graph algorithms on a hand-built
graph (independent of the star-schema fixtures, so expected values are
checkable by eye).

Graph (canonical src<dst edges):

    component A: 1-2, 2-3, 1-3, 3-4   (triangle 1-2-3 plus a tail to 4)
    component B: 10-11
    component C: 20 (isolated -> absent: vertices are induced from edges)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from edgy_spark.operators.graph_algos import (
    PR_SCALE,
    aggregate_messages,
    bfs_distances,
    connected_components,
    pagerank_scaled,
    run_fixpoint,
    sssp_weighted,
    triangle_count,
    undirect,
)

EDGES = [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)]


def _edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_connected_components(spark):
    got = {
        (r.node, r.component)
        for r in connected_components(_edges_df(spark)).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_bfs_distances_from_min_node(spark):
    got = {(r.node, r.dist) for r in bfs_distances(_edges_df(spark)).collect()}
    # source = min node (1); component B is unreachable and must be absent
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2)}


def test_triangle_count(spark):
    assert triangle_count(_edges_df(spark)).collect()[0].n_triangles == 1


def test_pagerank_scaled_properties(spark):
    ranks = {r.node: r.rank for r in pagerank_scaled(_edges_df(spark)).collect()}
    assert set(ranks) == {1, 2, 3, 4, 10, 11}
    # all ranks positive; degree-3 node 3 outranks the degree-1 tail node 4
    assert all(v > 0 for v in ranks.values())
    assert ranks[3] > ranks[4]
    # symmetric pair 10-11 must tie exactly (integer arithmetic)
    assert ranks[10] == ranks[11]
    # total mass stays within [0.8, 1.05] of SCALE (integer floor leaks a
    # little mass; teleport re-injects it)
    total = sum(ranks.values())
    assert 0.8 * PR_SCALE < total < 1.05 * PR_SCALE


# -- the user-facing primitives ---------------------------------------------


def test_aggregate_messages_one_superstep(spark):
    """Degree count written directly as one aggregate_messages superstep."""
    und = undirect(_edges_df(spark))
    state = und.select(F.col("src").alias("node")).distinct().withColumn(
        "one", F.lit(1)
    )
    deg = aggregate_messages(
        und, state, msg={"m": F.col("one")}, aggs=[F.sum("m").alias("deg")]
    )
    got = {(r.node, r.deg) for r in deg.collect()}
    assert got == {(1, 2), (2, 2), (3, 3), (4, 1), (10, 1), (11, 1)}


def test_aggregate_messages_sees_edge_columns(spark):
    """Message expressions may mix edge attributes with source state."""
    wedges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 7)], "src long, dst long, w long"
    )
    state = spark.createDataFrame([(1, 100), (2, 200)], "node long, x long")
    out = aggregate_messages(
        wedges, state, msg={"m": F.col("x") + F.col("w")},
        aggs=[F.min("m").alias("m")],
    )
    assert {(r.node, r.m) for r in out.collect()} == {(2, 105), (3, 207)}


def test_run_fixpoint_converges_and_stops(spark):
    """A decrement-to-zero loop must stop at the fixpoint, not max_iter."""
    state = spark.createDataFrame([(1, 3), (2, 1)], "node long, v long")

    def step(s):
        return s.select("node", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))

    out = run_fixpoint(state, step, max_iter=50, compare_cols=["v"])
    assert {(r.node, r.v) for r in out.collect()} == {(1, 0), (2, 0)}


def test_run_fixpoint_monotone_matches_join_convergence(spark):
    """r15: the monotone signature convergence (no per-round join) must
    stop at the same round and return the same rows as the join-based
    change-set, on a decreasing-value loop, a shrinking-state peel, and a
    growing-state frontier."""
    # decreasing values, fixed node set
    state = spark.createDataFrame([(1, 3), (2, 1)], "node long, v long")

    def dec(s):
        return s.select("node", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))

    a = run_fixpoint(state, dec, max_iter=50, compare_cols=["v"])
    b = run_fixpoint(state, dec, max_iter=50, compare_cols=["v"], monotone=True)
    assert sorted((r.node, r.v) for r in a.collect()) == sorted(
        (r.node, r.v) for r in b.collect()
    ) == [(1, 0), (2, 0)]

    # shrinking state: drop the max node each round until one row is left
    # (legacy needs detect_removals to see a removals-only round; monotone
    # sees it through the row count)
    st2 = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "node long, v long")

    def peel(s):
        mx = s.agg(F.max("node").alias("m"))
        n = s.count()
        if n <= 1:
            return s
        return s.join(F.broadcast(mx), s.node == F.col("m"), "left_anti")

    a2 = run_fixpoint(
        st2, peel, max_iter=10, compare_cols=["v"], detect_removals=True
    )
    b2 = run_fixpoint(st2, peel, max_iter=10, compare_cols=["v"], monotone=True)
    assert sorted(r.node for r in a2.collect()) == sorted(
        r.node for r in b2.collect()
    ) == [1]

    # growing state: add node n+1 each round up to 5
    st3 = spark.createDataFrame([(1, 0)], "node long, v long")

    def grow(s):
        nxt = s.agg((F.max("node") + 1).alias("node")).filter(
            F.col("node") <= 5
        ).select("node", F.lit(0).alias("v"))
        return s.unionByName(nxt)

    a3 = run_fixpoint(st3, grow, max_iter=20, compare_cols=["v"])
    b3 = run_fixpoint(st3, grow, max_iter=20, compare_cols=["v"], monotone=True)
    assert sorted(r.node for r in a3.collect()) == sorted(
        r.node for r in b3.collect()
    ) == [1, 2, 3, 4, 5]


def test_run_fixpoint_monotone_require_converged_raises(spark):
    """The monotone loop honors require_converged: a loop still moving at
    the budget must raise, not return truncated state."""
    import pytest

    state = spark.createDataFrame([(1, 100)], "node long, v long")

    def dec(s):
        return s.select("node", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))

    with pytest.raises(RuntimeError, match="no fixpoint"):
        run_fixpoint(
            state, dec, max_iter=3, compare_cols=["v"],
            monotone=True, require_converged=True,
        )


def test_run_fixpoint_monotone_rejects_fractional_compare_columns(spark):
    """The signature sums compare columns as DECIMAL(38,0): a 0.25 step
    would round away and read as converged, so monotone mode refuses
    fractional columns up front (integral and scale-0 decimals pass)."""
    import pytest

    def quarter(s):
        return s.select("node", (F.col("v") / 4).alias("v"))

    for typ in ("double", "decimal(10,2)"):
        state = spark.createDataFrame([(1, 1)], "node long, v long").select(
            "node", F.col("v").cast(typ).alias("v")
        )
        with pytest.raises(TypeError, match="compare column 'v'"):
            run_fixpoint(
                state, quarter, max_iter=3, compare_cols=["v"], monotone=True
            )
    state = spark.createDataFrame([(1, 1)], "node long, v long").select(
        "node", F.col("v").cast("decimal(20,0)").alias("v")
    )
    out = run_fixpoint(
        state, lambda s: s, max_iter=3, compare_cols=["v"], monotone=True
    )
    assert [tuple(r) for r in out.collect()] == [(1, 1)]


def test_sssp_weighted_nearest_hub(spark):
    """Hand-checkable weighted distances: hub = degree>=3 node (only 3)."""
    wedges = spark.createDataFrame(
        [(1, 2, 9), (2, 3, 2), (1, 3, 4), (3, 4, 1), (10, 11, 5)],
        "src long, dst long, w long",
    )
    got = {(r.node, r.dist) for r in sssp_weighted(wedges).collect()}
    # node 3 is the only hub; 1 via 3 (4), 2 via 3 (2), 4 via 3 (1);
    # component B has no hub -> absent
    assert got == {(3, 0), (1, 4), (2, 2), (4, 1)}


def test_deterministic_mode_breaks_ties_to_min(spark):
    """The LPA combiner: most frequent value wins, smallest on ties."""
    import pyspark.sql.functions as F

    from edgy_spark.operators.graph_algos import mode_messages

    # edges carry each message once: src holds the label, dst=receiver
    edges = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (13, 1), (14, 1), (15, 2)],
        "src long, dst long",
    )
    state = spark.createDataFrame(
        [(10, 5), (11, 3), (12, 3), (13, 5), (14, 1), (15, 9)],
        "node long, label long",
    )
    got = {
        r["node"]: r["new_label"]
        for r in mode_messages(edges, state, F.col("label")).collect()
    }
    assert got == {1: 3, 2: 9}  # {5:2, 3:2} tie -> 3; singleton -> itself


def test_lpa_mode_is_two_level_combinable(spark):
    """Skew pin: the LPA sweep must contain NO collect_list (the per-vertex
    array was the hot-key memory risk at web scale) and must show the
    Louvain-style partial aggregate on (node, label) — i.e. two hash
    aggregations with map-side partial combine."""
    import pyspark.sql.functions as F

    from edgy_spark.operators.graph_algos import (
        copurchase_edges,
        mode_messages,
        undirect,
    )
    from tests.conftest import SF_SMOKE

    # one superstep, exactly as label_propagation's step builds it
    # (the fixpoint localCheckpoints per round, so only the per-step plan
    # is inspectable)
    und = undirect(copurchase_edges(spark, SF_SMOKE))
    lbl = (
        und.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    df = mode_messages(und, lbl, F.col("label"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in plan, "degree-unbounded in-row array is back"
    assert "max_by" in plan  # combinable second level
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_label_propagation_fixed_rounds_deterministic(spark):
    """Two runs produce identical labels (synchronous rounds, deterministic
    mode), and labels coarsen no finer than connected components."""
    from edgy_spark.operators.graph_algos import (
        connected_components,
        copurchase_edges,
        label_propagation,
    )
    from tests.conftest import SF_SMOKE

    e = copurchase_edges(spark, SF_SMOKE)
    a = sorted(map(tuple, label_propagation(e).collect()))
    b = sorted(map(tuple, label_propagation(e).collect()))
    assert a == b and len(a) > 0
    # every LPA label stays inside one CC component (labels travel edges)
    cc = {r["node"]: r["component"] for r in connected_components(e).collect()}
    comp_of_label = {}
    for node, label in a:
        comp_of_label.setdefault(label, cc[label])
        assert cc[node] == comp_of_label[label]


def test_iter_partitions_derived_from_state_size(spark, monkeypatch):
    """VERDICT r07: the fixpoint width must come from the data, not a
    constant.  ceil(rows / ITER_TARGET_ROWS) is the lower bound;
    ITER_MIN_PARTITIONS caps tiny-state narrowing (r09: it no longer
    force-WIDENS — see test_narrow_state_not_force_widened); per-call and
    per-session (spark.edgy.fixpoint.partitions) overrides win."""
    from edgy_spark.operators import graph_algos as ga

    # repartition(16) pins the natural width above the floor so the
    # assertions are host-independent (review r09: a <8-core session's
    # createDataFrame would otherwise set natural = defaultParallelism
    # below the cap and the floor no longer force-widens)
    state = spark.createDataFrame(
        [(i, 0) for i in range(40)], "node long, v long"
    ).repartition(16)

    def step(s):
        return s.select("node", F.lit(0).alias("v"))

    # small state -> capped at the floor width
    out = run_fixpoint(state, step, max_iter=2, compare_cols=["v"])
    assert out.rdd.getNumPartitions() == ga.ITER_MIN_PARTITIONS

    # derived: 40 rows / 3-per-partition = 14 > floor
    monkeypatch.setattr(ga, "ITER_TARGET_ROWS", 3)
    out = run_fixpoint(state, step, max_iter=2, compare_cols=["v"])
    assert out.rdd.getNumPartitions() == 14

    # explicit parameter wins
    out = run_fixpoint(
        state, step, max_iter=2, compare_cols=["v"], iter_partitions=5
    )
    assert out.rdd.getNumPartitions() == 5

    # session conf wins over derivation (but not over the parameter)
    spark.conf.set(ga.ITER_PARTITIONS_CONF, "6")
    try:
        out = run_fixpoint(state, step, max_iter=2, compare_cols=["v"])
        assert out.rdd.getNumPartitions() == 6
    finally:
        spark.conf.unset(ga.ITER_PARTITIONS_CONF)

    # the canned algorithms FORWARD the knob into their fixpoint loop
    # (review r08: the parameter existed but was only applied to the edge
    # materialization, never the iteration state)
    e = spark.createDataFrame(EDGES, "src long, dst long")
    cc = connected_components(e, iter_partitions=5)
    assert cc.rdd.getNumPartitions() == 5
    assert {(r.node, r.component) for r in cc.collect()} == {
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
    }


def test_narrow_state_not_force_widened(spark, monkeypatch):
    """VERDICT r09: the r08 floor force-widened a state AQE had already
    right-sized (2 partitions at fixture scale) through a LAZY repartition
    that re-executed its shuffle inside every round's job — +36% on the
    sf0.1 CC bench.  The natural width is authoritative whenever it meets
    the row-derived bound; any genuine widening must be MATERIALIZED once,
    never handed to the rounds as a pending shuffle."""
    from edgy_spark.operators import graph_algos as ga

    narrow = spark.createDataFrame(
        [(i, 0) for i in range(40)], "node long, v long"
    ).coalesce(2)
    out, width = ga._materialize(narrow)
    assert width == 2
    assert out.rdd.getNumPartitions() == 2

    # under-parallelized seed vs a row count that demands more width:
    # spread once, eagerly — the returned plan must be a bare checkpoint
    # (no pending Repartition for every round to re-run)
    monkeypatch.setattr(ga, "ITER_TARGET_ROWS", 3)
    seed = spark.createDataFrame(
        [(i, 0) for i in range(40)], "node long, v long"
    ).coalesce(1)
    out, width = ga._materialize(seed)
    assert width == 14
    assert out.rdd.getNumPartitions() == 14
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan and "LogicalRDD" in plan


def test_observed_changes_falls_back_to_probe_on_missing_metric(spark):
    """ADVICE r07 guard: if the Observation metric is never delivered (a
    future Spark routing localCheckpoint around Dataset actions), the
    bounded wait must fall back to the explicit probe instead of hanging."""
    import time

    from pyspark.sql import Observation

    from edgy_spark.operators.graph_algos import _observed_changes

    df = spark.createDataFrame([(1, True), (2, False)], "node long, __chg boolean")
    obs = Observation()
    df.observe(obs, F.sum(F.col("__chg").cast("long")).alias("n_changed"))
    # no action ran on the observed df -> metric never arrives
    t0 = time.monotonic()
    got = _observed_changes(obs, df, timeout_s=0.3)
    assert time.monotonic() - t0 < 5  # bounded, not Observation.get's forever
    assert got == 1  # probe counted the changed row (limit(1))

    # and the normal path: metric delivered by an action -> no probe needed
    obs2 = Observation()
    d2 = df.observe(obs2, F.sum(F.col("__chg").cast("long")).alias("n_changed"))
    d2.collect()
    assert _observed_changes(obs2, df.limit(0), timeout_s=5) == 1


def _peel(edges, k):
    """Brute-force k-core: (node -> in-core degree) by repeated removal."""
    from collections import defaultdict

    alive = {n for e in edges for n in e}
    while True:
        deg = defaultdict(int)
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        nxt = {n for n in alive if deg[n] >= k}
        if nxt == alive:
            return {n: deg[n] for n in alive}
        alive = nxt


def test_k_core_matches_bruteforce_peeling(spark):
    from edgy_spark.operators.graph_algos import k_core

    # triangle (the stable 2-core) + a chain that peels over several
    # rounds + an isolated pair whose removal is a removals-ONLY round:
    # x,y vanish together leaving every surviving degree unchanged — the
    # exact blind spot detect_removals guards.
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (100, 101)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node, r.deg) for r in k_core(e, k=2).collect()}
    assert got == set(_peel(edges, 2).items())
    assert got == {(1, 2), (2, 2), (3, 2)}

    # empty core: peel everything away
    got = k_core(e, k=3).collect()
    assert got == []


def test_scc_members_handmade(spark):
    """Two cycles joined by a one-way bridge plus a feeder node: SCCs are
    {1,2,3}, {4,5}, {6} — the bridge (3->4) and feeder (6->1) must not
    merge components the way undirected CC would."""
    from edgy_spark.operators.graph_algos import scc_members

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1)],
        "src long, dst long",
    )
    got = {(r.node, r.scc) for r in scc_members(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}


def test_scc_refines_connected_components(spark):
    """Every SCC lies inside one undirected component, and two runs agree
    (determinism) — on the sf fixture's directed co-purchase graph."""
    from edgy_spark.operators.graph_algos import (
        connected_components,
        directed_copurchase_edges,
        scc_members,
        undirect,
    )
    from tests.conftest import SF_SMOKE

    d = directed_copurchase_edges(spark, SF_SMOKE)
    scc = {r.node: r.scc for r in scc_members(d).collect()}
    scc2 = {r.node: r.scc for r in scc_members(d).collect()}
    assert scc == scc2 and len(scc) > 0
    # canonical undirected edges from the directed ones
    canon = d.selectExpr("least(src, dst) AS src", "greatest(src, dst) AS dst").distinct()
    cc = {r.node: r.component for r in connected_components(canon).collect()}
    assert set(scc) == set(cc)
    for node, label in scc.items():
        assert cc[node] == cc[label]  # SCC members share the CC of their label


def test_condensation_levels_handmade(spark):
    """Condensation of the two-cycle bridge graph: SCCs {1,2,3}, {4,5},
    {6}; condensed edges 6->1->4; levels 6:0, 1:1, 4:2 with member
    counts 1, 3, 2."""
    from edgy_spark.operators.graph_algos import condensation_levels

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1)],
        "src long, dst long",
    )
    got = {(r.scc, r.level, r.n_members) for r in condensation_levels(edges).collect()}
    assert got == {(6, 0, 1), (1, 1, 3), (4, 2, 2)}


def test_run_fixpoint_require_converged_raises_on_budget(spark):
    """review r09: a caller whose DECISIONS read converged labels (SCC's
    f = b test) must get an error, never a truncated state."""
    import pytest

    state = spark.createDataFrame([(1, 10)], "node long, v long")

    def step(s):
        return s.select("node", (F.col("v") - 1).alias("v"))  # never stable

    with pytest.raises(RuntimeError, match="no fixpoint"):
        run_fixpoint(
            state, step, max_iter=3, compare_cols=["v"], require_converged=True
        )
    # without the flag the truncated state is returned (documented-safe
    # for radius-bounded algorithms)
    out = run_fixpoint(state, step, max_iter=3, compare_cols=["v"])
    assert out.collect()[0].v == 7


def test_anf_estimates_track_exact_neighborhood_function(spark):
    """ANF (r11): the FM-sketch pair estimates must be monotone
    nondecreasing in the radius, within a generous multiplicative band of
    the EXACT neighborhood function (K=4 registers -> ~50% rsd; the band
    is wide on purpose — determinism, not tightness, is the contract the
    oracle pins), and d90 must flag exactly the radii whose estimate
    reaches 90% of the horizon's."""
    from edgy_spark.catalog import QUERIES
    from edgy_spark.operators.graph_algos import (
        ANF_ROUNDS,
        copurchase_edges,
        undirect,
    )
    from tests.conftest import SF_SMOKE

    rows = {
        r["radius"]: r
        for r in QUERIES["graph_anf_effective_diameter"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert sorted(rows) == list(range(1, ANF_ROUNDS + 1))
    ests = [rows[r]["est_pairs"] for r in sorted(rows)]
    assert all(a <= b for a, b in zip(ests, ests[1:])), ests

    # exact N(r): iterate reachable sets in driver python (fixture-sized)
    edges = undirect(copurchase_edges(spark, SF_SMOKE)).collect()
    adj: dict[int, set[int]] = {}
    for e in edges:
        adj.setdefault(e["src"], set()).add(e["dst"])
    reach = {v: {v} for v in adj}
    for r in range(1, ANF_ROUNDS + 1):
        reach = {
            v: s | {w for u in s for w in adj.get(u, ())} for v, s in reach.items()
        }
        exact = sum(len(s) for s in reach.values())
        est = ests[r - 1]
        assert exact // 4 <= est <= exact * 4, (r, est, exact)

    final = ests[-1]
    for r in sorted(rows):
        assert rows[r]["d90"] == (1 if ests[r - 1] * 10 >= final * 9 else 0)


def test_stress_centrality_diamond_by_hand(spark):
    """Sampled stress on the 4-cycle (diamond) 1-2-4-3-1: every node lies
    on exactly the two shortest paths between its two neighbors' opposite
    pair (ordered s,t pairs), so stress == 2 everywhere — hand-computed
    Brandes prefix x suffix counts."""
    from edgy_spark.operators.graph_algos import stress_centrality_sampled

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    got = {r["node"]: r["stress"] for r in stress_centrality_sampled(e).collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 2}
    # deterministic across runs (integer path counts, no float anywhere)
    again = {r["node"]: r["stress"] for r in stress_centrality_sampled(e).collect()}
    assert got == again


def test_stress_centrality_path_graph(spark):
    """On the path 1-2-3-4-5: interior nodes carry all (s,t) pairs that
    straddle them — stress(3) = 2*2*2 = 8 ordered pairs, stress(2) =
    stress(4) = 2*1*3 = 6, endpoints 0."""
    from edgy_spark.operators.graph_algos import stress_centrality_sampled

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["node"]: r["stress"] for r in stress_centrality_sampled(e).collect()}
    assert got == {1: 0, 2: 6, 3: 8, 4: 6, 5: 0}


def test_stress_sigma_step_is_two_level_combinable(spark):
    """Skew pin for the Brandes forward pass: the sigma candidate
    aggregation must be the two-level combinable shape (partial sum per
    (node, seed, cand_dist), then min_by) with no collect_list and no
    cartesian product in the superstep plan."""
    import pyspark.sql.functions as F

    from edgy_spark.operators.graph_algos import (
        _landmark_seed_state,
        copurchase_edges,
        undirect,
    )
    from tests.conftest import SF_SMOKE

    und = undirect(copurchase_edges(spark, SF_SMOKE))
    st = _landmark_seed_state(und, 16, F.lit(1).cast("long").alias("sigma"))
    flat = st.select(
        F.col("node.n").alias("src"), F.col("node.s").alias("s"),
        "dist", "sigma",
    )
    by_d = (
        und.join(flat, "src")
        .groupBy(F.col("dst").alias("n"), "s", (F.col("dist") + 1).alias("cand"))
        .agg(F.sum("sigma").alias("sig"))
    )
    cand = by_d.groupBy("n", "s").agg(
        F.min("cand").alias("cand"), F.min_by("sig", "cand").alias("cand_sig")
    )
    plan = cand._sc._jvm.PythonSQLUtils.explainString(
        cand._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial sum" in plan.lower()
    assert "min_by" in plan
