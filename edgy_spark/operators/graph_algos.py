"""Iterative graph analytics as DataFrame loops (north-star scope: the
reference is a graph DATABASE with point traversals —
/root/reference/src/Edgy/Operations.hs:273-287 — but ships no graph
ALGORITHMS; BASELINE.json's spark_approach calls for GraphX-style analytics).

Built on two user-facing primitives (the GraphX surface, engine-native):

- :func:`aggregate_messages` — one superstep: join edge list to source-vertex
  state, emit per-edge message expressions to the destination, combine per
  destination.  GraphX's ``aggregateMessages`` as one join + one groupBy.
- :func:`run_fixpoint` — the iterate/checkpoint/convergence-detect loop every
  iterative algorithm needs (``localCheckpoint`` per round to truncate
  lineage, change-set convergence when ``compare_cols`` is given, fixed
  rounds when not).

Connected components, BFS, PageRank, triangle-free SSSP and label-style
propagation are all ~15-line ``step`` functions over these two primitives —
a user writing a NEW algorithm (weighted SSSP below is written exactly this
way) composes them rather than copying a 70-line loop.  The reference's
analogue is free-form monadic traversal composition
(/root/reference/app/Main.hs:148-157).

Determinism stance (oracle parity): every algorithm is either integer-only
(hash-min CC labels, BFS hop counts, weighted-SSSP integer distances,
triangle counts) or runs in SCALED INTEGER arithmetic (PageRank: ranks are
BIGINT micro-units, contributions use integer division) — sums/mins of
integers are order-independent, so a distributed reduction matches DuckDB's
single-threaded recursive CTE / unrolled-iteration SQL bit-for-bit.

Test graph: the part co-purchase graph — an undirected edge between two
parts when some order contains both with quantity >= 48 (sparse by
construction: ~650 vertices / ~430 edges at sf0.01, component diameter < 12).

Scale notes:
- Edge generation groups parts per order (posting-list shape) — one shuffle,
  pair explosion bounded by order size (AQE splits stragglers).
- Hash-min CC + pointer jumping converges in ~O(log diameter) rounds; each
  round is one join + one groupBy(min) on (node, label) pairs — narrow rows.
- localCheckpoint materializes each round's state, preventing the
  exponential lineage/replan blowup that kills naive iterative Spark jobs.
- Vertex-state joins broadcast by default (checkpointed state loses Catalyst
  size stats and would shuffle every round otherwise); pass
  ``broadcast_state=False`` for vertex states beyond executor memory.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from edgy_spark.catalog import register
from edgy_spark.functions.hashing import h60_sql
from edgy_spark.sources import load

QTY_THRESHOLD = 48
PR_SCALE = 10**12  # PageRank unit: 1.0 == 10^12 (BIGINT micro-ranks)
PR_ITERS = 5
BFS_MAX_DEPTH = 12
SSSP_MAX_DEPTH = 16  # Bellman-Ford rounds == oracle's path-length cap

_EDGES_SQL = f"""
  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
   AND l1.l_partkey < l2.l_partkey
  WHERE l1.l_quantity >= {QTY_THRESHOLD} AND l2.l_quantity >= {QTY_THRESHOLD}
"""

# Sibling CTE pair (DuckDB's recursive WITH rejects a nested WITH inside a
# CTE body, so `edges` must be hoisted to the same level as `undirected`).
_UND_CTES = f"""
    edges AS ({_EDGES_SQL}),
    undirected AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)
"""


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst) co-purchase edges over parts.

    Posting-list formulation (same shape as the dedup pair generator): ONE
    scan of lineitem, one shuffle to group parts per order, pairs exploded
    from each order's list.  A self-join would scan and shuffle the fact
    table twice; per-order lists are bounded by order size, so the explode
    cannot blow up.
    """
    l = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= QTY_THRESHOLD)
        .select("l_orderkey", "l_partkey")
    )
    per_order = l.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    return (
        per_order.filter(F.size("parts") >= 2)
        .select(F.explode("parts").alias("src"), "parts")
        .select("src", F.explode("parts").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )


def undirect(edges: DataFrame) -> DataFrame:
    """Expand canonical edges to both directions (symmetric adjacency).

    Extra edge columns (weights etc.) are carried through unchanged.
    """
    extra = [c for c in edges.columns if c not in ("src", "dst")]
    return edges.select("src", "dst", *extra).union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *extra)
    )


# Partitioning for iteration state (r08: derived from the data, not a
# constant — the old ITER_PARTITIONS = 8 hard-code would funnel a
# billion-vertex state through 8 tasks every round at 100x scale; r09:
# widen only when the ROW COUNT demands it).  The resolved width is
# ceil(rows / target-rows-per-partition) as a lower bound, but AQE has
# already right-sized the checkpointed shuffle by BYTES, so the natural
# width is authoritative whenever it meets that bound — r08's floor of 8
# force-widened AQE's 2-partition fixture state via a LAZY repartition
# that re-executed its shuffle inside every round's job (+36% on the
# sf0.1 CC bench, r08 verdict).  The floor now only CAPS mostly-empty
# tiny states when narrowing a too-wide (non-AQE) materialization.
# Overridable per call (iter_partitions=) or per session
# (spark.edgy.fixpoint.partitions).
ITER_MIN_PARTITIONS = 8
ITER_TARGET_ROWS = 2_000_000
ITER_PARTITIONS_CONF = "spark.edgy.fixpoint.partitions"


def _num_partitions(df: DataFrame) -> int:
    """Partition count of a materialized DataFrame via the JVM Dataset's
    own RDD — ``df.rdd`` builds the Python-serializer conversion pipeline
    (~50ms of py4j on first touch); the JVM twin answers instantly."""
    return df._jdf.rdd().getNumPartitions()


def _materialize(df: DataFrame, iter_partitions: int | None = None) -> tuple[DataFrame, int]:
    """Materialize ``df`` as iteration state and resolve its width.
    Returns (state, width) so per-round re-checkpoints reuse the width
    without re-counting.

    Both paths checkpoint at the plan's NATURAL width first — never
    coalesce before the materialization, which would cap the upstream
    stage (the state-computing join/explode itself) at the iteration
    width's task count (review r09: the explicit-width path briefly
    resurrected exactly the funnel the width derivation was built to
    kill).  Then: widening (demanded or row-derived — e.g. a
    collected-then-parallelized frontier) is ONE materialized shuffle so
    no round re-executes it (the r08 regression was a lazy
    ``repartition`` re-running per round); narrowing stays a lazy
    ``coalesce`` (narrow dependency over in-memory checkpoint blocks).
    In the derived path the row count rides the checkpoint's OWN
    materialization job as an ``observe`` metric (zero extra jobs)."""
    if iter_partitions is None:
        conf = df.sparkSession.conf.get(ITER_PARTITIONS_CONF, "")
        if conf:
            iter_partitions = int(conf)
    if iter_partitions is not None:
        ck = df.localCheckpoint(eager=True)
        natural = _num_partitions(ck)
        if natural < iter_partitions:
            ck = ck.repartition(iter_partitions).localCheckpoint(eager=True)
        elif natural > iter_partitions:
            ck = ck.coalesce(iter_partitions)
        return ck, iter_partitions
    from pyspark.sql import Observation

    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("n_rows")).localCheckpoint(
        eager=True
    )
    n = _observed_long(obs, "n_rows", ck.count)
    need = max(1, -(-n // ITER_TARGET_ROWS))
    natural = _num_partitions(ck)
    if natural < need:
        ck = ck.repartition(need).localCheckpoint(eager=True)
        return ck, need
    width = max(need, min(natural, ITER_MIN_PARTITIONS))
    if natural > width:
        return ck.coalesce(width), width
    return ck, width


def _checkpoint(df: DataFrame, parts: int = ITER_MIN_PARTITIONS) -> DataFrame:
    """Materialize iteration state on ``parts`` partitions, truncate lineage."""
    return df.coalesce(parts).localCheckpoint(eager=True)


def _observed_long(obs, field: str, fallback, timeout_s: float = 5.0) -> int:
    """Read one long-valued CollectMetrics field an eager localCheckpoint
    just delivered, WITHOUT the unbounded wait of ``Observation.get``.

    ``get`` blocks until "the first action" — if a Spark upgrade ever stops
    routing ``localCheckpoint(eager=True)`` through a Dataset action, every
    fixpoint query would hang indefinitely (ADVICE r07).  The JVM
    ``Observation.getRowOrEmpty`` is the non-blocking twin (pyspark exposes
    no wrapper, hence the ``_jo`` reach-in); normally the metric is already
    set when we arrive, so the poll exits on its first iteration.  On
    timeout, ``fallback()`` recomputes the value with one explicit job —
    correct in all cases."""
    import time

    deadline = time.monotonic() + timeout_s
    while True:
        opt = obs._jo.getRowOrEmpty()
        if opt.isDefined():
            jrow = opt.get()
            v = jrow.get(jrow.fieldIndex(field))
            return int(v) if v is not None else 0
        if time.monotonic() >= deadline:
            return fallback()
        time.sleep(0.05)


def _observed_changes(obs, merged_chg: DataFrame, timeout_s: float = 5.0) -> int:
    """Convergence-count read for :func:`run_fixpoint` — the bounded
    metric read with the pre-r07 change probe as its timeout fallback."""
    return _observed_long(
        obs,
        "n_changed",
        lambda: merged_chg.filter(F.col("__chg")).limit(1).count(),
        timeout_s,
    )


def _hint(df: DataFrame, broadcast_state: bool) -> DataFrame:
    """Broadcast hint for vertex-state joins.

    Checkpointed DataFrames lose Catalyst size statistics (a LogicalRDD
    reports the default huge sizeInBytes), so WITHOUT an explicit hint every
    per-round join becomes a full shuffle exchange of a few-thousand-row
    state — stage latency, not data volume, then dominates the loop.  The
    derived graph here is orders of magnitude smaller than its source fact
    table, so broadcasting is right; for a graph whose vertex state exceeds
    executor memory pass ``broadcast_state=False`` to fall back to shuffled
    hash joins (the message pattern is identical).
    """
    return F.broadcast(df) if broadcast_state else df


# ---------------------------------------------------------------------------
# The two user-facing primitives
# ---------------------------------------------------------------------------

def aggregate_messages(
    edges: DataFrame,
    state: DataFrame,
    msg: Mapping[str, Column],
    aggs: Sequence[Column],
    broadcast_state: bool = True,
) -> DataFrame:
    """One message superstep (GraphX ``aggregateMessages``, engine-native).

    Joins ``edges`` (``src``, ``dst``, + any edge-attribute columns such as
    weights) to the source vertex's ``state`` (``node`` + state columns),
    evaluates each ``msg`` expression — which may reference both edge and
    source-state columns — per edge, sends it to ``dst``, and combines the
    messages per destination with ``aggs``.

    Returns one row per destination that received >= 1 message:
    ``(node, <agg columns>)``.  For send-to-src semantics on a directed
    graph, pass the edge list with src/dst swapped; for undirected graphs
    pass :func:`undirect`'s doubled edge list and send-to-dst covers both
    directions.

    Physical shape: ONE join (broadcast of the vertex state by default) +
    ONE groupBy — messages are never materialized wider than the selected
    msg columns, so a 100 TB-scale edge list shuffles only
    (dst, msg-columns), not edge payloads.
    """
    j = edges.join(_hint(state, broadcast_state), edges["src"] == state["node"])
    msgs = j.select(
        F.col("dst").alias("node"), *[m.alias(k) for k, m in msg.items()]
    )
    return msgs.groupBy("node").agg(*aggs)


def run_fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_iter: int,
    compare_cols: Sequence[str] | None = None,
    substeps: int = 1,
    broadcast_state: bool = True,
    detect_removals: bool = False,
    iter_partitions: int | None = None,
    require_converged: bool = False,
    monotone: bool = False,
) -> DataFrame:
    """Iterate ``state = step(state)`` with per-round checkpointing and
    optional change-set convergence — the loop shared by every iterative
    algorithm here (and the one a user would otherwise copy).

    ``require_converged``: raise instead of returning a state the budget
    cut off mid-flight.  Most canned algorithms are SAFE truncated (BFS/
    SSSP distances within the explored radius are exact; PageRank runs
    fixed rounds by design), but an algorithm whose DECISIONS read the
    converged labels (SCC's f = b test) would silently emit wrong answers
    from a partial state — those callers set this flag (review r09).

    - ``state`` must carry a ``node`` key column; ``step`` returns the next
      state (it may grow the node set, e.g. a BFS frontier).
    - ``detect_removals``: the default change-set (new LEFT JOIN old) is
      blind to nodes a step DROPS — fine for every canned algorithm here
      (their states only grow or change), wrong for peeling/pruning-style
      steps (k-core, frontier-only BFS) where a removals-only round must
      NOT read as converged.  Set True for such steps: each round adds one
      tiny broadcast anti-join probe for vanished nodes.  (A full-outer
      merge would detect this without the extra probe but cannot broadcast,
      which would shuffle the state every round.)
    - ``compare_cols``: state columns whose stability defines convergence.
      After each round the new state is joined (left) to the previous one on
      ``node``; a node that is new, or whose compared column changed, marks
      the round as changed.  ``None`` runs exactly ``max_iter`` rounds
      (fixed-iteration algorithms like PageRank).
    - ``substeps`` applies ``step`` several times between materializations —
      checkpoint + convergence-check overhead dominates when vertex state is
      small, so e.g. connected components double-steps per round.

    Every round's state is ``localCheckpoint``-materialized on few
    partitions: lineage stays O(1) across rounds, and the convergence count
    rides the SAME materialization job as an ``observe`` metric
    (``CollectMetrics`` accumulator) — zero extra Spark jobs per round.
    The one remaining per-converged-run probe is the optional
    ``detect_removals`` anti-join, which runs only on the round that would
    otherwise terminate.

    - ``monotone`` (r15, guide §2.4/§2.6 — remove per-round work outright):
      the CALLER asserts that between consecutive rounds (a) every
      per-row change to a ``compare_cols`` value moves in one direction
      within the round (all decreases or all increases — e.g. hash-min CC
      labels only decrease, BFS/SSSP distances only relax downward,
      peeling supports only drop), (b) the node set only grows or only
      shrinks, and (c) compare columns are non-null.  Under that contract
      "nothing changed" is exactly "the state's (row count, per-column
      sums) signature is unchanged", so convergence needs NO join with the
      previous round's state at all: the signature rides the checkpoint's
      own ``observe`` metric and is compared driver-side.  This removes
      one broadcast build + one join from EVERY round (the join-based
      change-set remains the default for steps without a monotonicity
      argument).  Removed rows change the row count, so ``monotone``
      subsumes ``detect_removals`` (the anti-join probe never runs).
      Sums accumulate in DECIMAL(38,0), so compare columns must be
      integral or scale-0 decimal (checked: a fractional change would
      round away); overflow needs ~1e19 of row-value mass.
    """
    state, parts = _materialize(state, iter_partitions)
    converged = compare_cols is None  # fixed-round loops are complete by definition
    if monotone and compare_cols is not None:
        return _run_fixpoint_monotone(
            state, step, parts,
            max_iter=max_iter, compare_cols=compare_cols, substeps=substeps,
            require_converged=require_converged,
        )
    for _ in range(max_iter):
        new = state
        for _ in range(substeps):
            new = step(new)
        if compare_cols is None:
            state = _checkpoint(new, parts)
            continue
        old = state.select(
            "node",
            F.lit(True).alias("__old_present"),
            *[F.col(c).alias(f"__old_{c}") for c in compare_cols],
        )
        # null-safe change detection: a plain != reads NULL for any
        # value↔NULL transition (missed change → premature convergence),
        # and "old column is null" cannot distinguish a NEW node from an
        # existing node whose compared value is legitimately NULL — hence
        # the explicit presence marker + eqNullSafe.
        chg = reduce(
            lambda a, b: a | b,
            [
                ~F.col(c).eqNullSafe(F.col(f"__old_{c}"))
                for c in compare_cols
            ],
            F.col("__old_present").isNull(),  # node absent last round
        )
        from pyspark.sql import Observation

        obs = Observation()
        merged = _checkpoint(
            new.join(_hint(old, broadcast_state), "node", "left")
            .withColumn("__chg", chg)
            .observe(obs, F.sum(F.col("__chg").cast("long")).alias("n_changed")),
            parts,
        )
        # the eager checkpoint above already ran the plan; the metric is
        # delivered with it (verified: Observation fires on the checkpoint
        # action), so this read does not launch a job.  Bounded (ADVICE
        # r07): obs.get would block FOREVER if a future Spark version stops
        # routing localCheckpoint through a Dataset action — poll the
        # non-blocking accessor briefly, then fall back to a 1-job probe.
        changed = _observed_changes(obs, merged)
        if changed == 0 and detect_removals:
            changed = state.join(
                _hint(new.select("node"), broadcast_state), "node", "left_anti"
            ).limit(1).count()
        state = merged.drop(
            "__chg", "__old_present", *[f"__old_{c}" for c in compare_cols]
        )
        if changed == 0:
            converged = True
            break
    if require_converged and not converged:
        raise RuntimeError(
            f"run_fixpoint: no fixpoint within max_iter={max_iter} rounds"
            f" (x{substeps} substeps) — raise the budget; the caller"
            " declared truncated state unusable"
        )
    return state


def _sig_exprs(compare_cols: Sequence[str]) -> list[Column]:
    """Aggregate signature of a monotone fixpoint state: row count plus,
    per compare column, its exact DECIMAL(38,0) sum and its null count.
    Under the ``monotone`` contract a round changed the state iff this
    signature changed (single-direction per-row moves cannot cancel; the
    null count keeps a value<->NULL flip visible even when the contract
    is violated on nullability)."""
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(compare_cols):
        col = F.col(c)
        exprs.append(F.sum(col.cast("decimal(38,0)")).alias(f"s_{i}"))
        exprs.append(
            F.sum(F.when(col.isNull(), F.lit(1)).otherwise(F.lit(0))).alias(f"z_{i}")
        )
    return exprs


def _observed_sig(obs, fields: Sequence[str], fallback, timeout_s: float = 5.0):
    """Read the whole signature row an eager localCheckpoint just
    delivered — the multi-field twin of :func:`_observed_long`, with the
    same bounded poll + recompute fallback."""
    import time

    deadline = time.monotonic() + timeout_s
    while True:
        opt = obs._jo.getRowOrEmpty()
        if opt.isDefined():
            jrow = opt.get()
            return tuple(
                _sig_long(jrow.get(jrow.fieldIndex(f))) for f in fields
            )
        if time.monotonic() >= deadline:
            return fallback()
        time.sleep(0.05)


def _sig_long(v) -> int:
    """NULL-safe integer view of a signature field (DECIMAL sums arrive
    as Decimal/BigDecimal; an empty state's SUM is NULL)."""
    return 0 if v is None else int(v)


def _run_fixpoint_monotone(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    parts: int,
    *,
    max_iter: int,
    compare_cols: Sequence[str],
    substeps: int,
    require_converged: bool,
) -> DataFrame:
    """The ``monotone=True`` loop of :func:`run_fixpoint` (contract there):
    convergence by signature comparison — no per-round join with the old
    state, no broadcast build, no removal probe.  Costs ONE extra
    state-sized aggregation job up front (the initial signature); every
    round after that is exactly one checkpoint job whose metrics ride the
    materialization."""
    from pyspark.sql import Observation
    from pyspark.sql import types as T

    dtypes = {f.name: f.dataType for f in state.schema.fields}
    for c in compare_cols:
        dt = dtypes[c]
        if not (
            isinstance(dt, T.IntegralType)
            or (isinstance(dt, T.DecimalType) and dt.scale == 0)
        ):
            raise TypeError(
                f"run_fixpoint(monotone=True): compare column {c!r} is "
                f"{dt.simpleString()}; the signature needs integral or "
                "scale-0 decimal columns"
            )
    fields = ["n_rows"] + [
        name for i in range(len(compare_cols)) for name in (f"s_{i}", f"z_{i}")
    ]
    exprs = _sig_exprs(compare_cols)

    def _agg_sig(df: DataFrame) -> tuple:
        row = df.agg(*exprs).collect()[0]
        return tuple(_sig_long(row[f]) for f in fields)

    prev_sig = _agg_sig(state)
    converged = False
    for _ in range(max_iter):
        new = state
        for _ in range(substeps):
            new = step(new)
        obs = Observation()
        ck = _checkpoint(new.observe(obs, *exprs), parts)
        sig = _observed_sig(obs, fields, lambda ck=ck: _agg_sig(ck))
        state = ck
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if require_converged and not converged:
        raise RuntimeError(
            f"run_fixpoint: no fixpoint within max_iter={max_iter} rounds"
            f" (x{substeps} substeps) — raise the budget; the caller"
            " declared truncated state unusable"
        )
    return state


# ---------------------------------------------------------------------------
# Connected components (hash-min label propagation + pointer jumping)
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    Hash-min with pointer jumping: each round every node adopts the
    smallest label among itself and its neighbors (hash-min, O(diameter)
    alone), then follows its label's OWN label one step (path compression).
    Labels only ever decrease toward the component minimum, so the fixpoint
    is unchanged, but long chains collapse exponentially — rounds scale
    ~O(log diameter), the same effect the large-star/small-star algorithm
    achieves.  Fixpoint detected by an empty change-set.
    """
    und, _ = _materialize(undirect(edges), iter_partitions)
    labels = (
        und.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )

    def step(lbl: DataFrame) -> DataFrame:
        nbr_min = aggregate_messages(
            und, lbl,
            msg={"m": F.col("label")},
            aggs=[F.min("m").alias("nbr_min")],
            broadcast_state=broadcast_state,
        )
        cand = (
            lbl.select("node", "label")
            .join(_hint(nbr_min, broadcast_state), "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
        )
        # pointer jumping: label <- label(label); the parent lookup uses the
        # input round's labels, which is sound because any label value is
        # an upper bound of its own component minimum.
        parent = lbl.select(F.col("node").alias("p_node"), F.col("label").alias("p_label"))
        return (
            cand.join(_hint(parent, broadcast_state), cand.label == F.col("p_node"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("p_label", F.col("label"))).alias("label"),
            )
        )

    # two propagation steps per materialization round: halves the
    # checkpoint + convergence-check overhead per label hop, which
    # dominates when the vertex state is small
    labels = run_fixpoint(
        labels, step,
        max_iter=max_iter, compare_cols=["label"], substeps=2,
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
        # hash-min labels only ever DECREASE and the node set is fixed,
        # so convergence = unchanged (count, sum(label)) signature
        monotone=True,
    )
    return labels.select("node", F.col("label").alias("component"))


@register(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE
    {_UND_CTES},
    verts AS (SELECT DISTINCT src AS node FROM undirected),
    reach(node, label) AS (
      SELECT node, node FROM verts
      UNION
      SELECT u.dst, r.label FROM reach r JOIN undirected u ON u.src = r.node)
    SELECT node, MIN(label) AS component FROM reach GROUP BY node ORDER BY node
    """,
    tags=("graph", "iterative", "components"),
    bench=True,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph (hash-min vs a
    DuckDB recursive-CTE transitive closure)."""
    return connected_components(copurchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# BFS / single-source shortest hop distances
# ---------------------------------------------------------------------------

def bfs_distances(
    edges: DataFrame,
    max_depth: int = BFS_MAX_DEPTH,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, dist) minimum hop counts from the smallest node id in the
    graph; nodes unreachable within max_depth are omitted.

    Bellman-Ford-style relaxation: after k rounds all distances <= k are
    exact, so max_depth rounds bound the search identically to the
    oracle's depth-capped recursive CTE; a converged (unchanged) state is
    a fixpoint, so stopping early cannot change the result.
    """
    und, _ = _materialize(undirect(edges), iter_partitions)
    source = und.agg(F.min("src").alias("s"))
    dist0 = (
        und.select(F.col("src").alias("node")).distinct()
        .join(F.broadcast(source), F.col("node") == F.col("s"), "left_semi")
        .withColumn("dist", F.lit(0).cast("long"))
    )

    def step(dist: DataFrame) -> DataFrame:
        cand = aggregate_messages(
            und, dist,
            msg={"m": F.col("dist") + 1},
            aggs=[F.min("m").alias("cand")],
            broadcast_state=broadcast_state,
        )
        # full outer keeps both already-settled and newly-reached nodes;
        # full outer cannot broadcast, but both sides are post-aggregation
        # state-sized so this is the round's one small shuffle
        return dist.join(cand, "node", "full_outer").select(
            "node",
            F.least(
                F.coalesce("dist", F.col("cand")), F.coalesce("cand", F.col("dist"))
            ).alias("dist"),
        )

    dist = run_fixpoint(
        dist0, step,
        max_iter=max_depth, compare_cols=["dist"],
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
        # distances only relax DOWNWARD and nodes are only ever added,
        # so the (count, sum(dist)) signature detects every change
        monotone=True,
    )
    return dist


@register(
    "graph_bfs_distances",
    oracle=f"""
    WITH RECURSIVE
    {_UND_CTES},
    source AS (SELECT MIN(src) AS s FROM undirected),
    walk(node, dist) AS (
      SELECT s, 0 FROM source
      UNION
      SELECT u.dst, w.dist + 1 FROM walk w JOIN undirected u ON u.src = w.node
      WHERE w.dist < {BFS_MAX_DEPTH})
    SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node ORDER BY node
    """,
    tags=("graph", "iterative", "bfs"),
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from the smallest part in the co-purchase graph."""
    return bfs_distances(copurchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# sampled closeness / harmonic centrality (multi-source BFS)
# ---------------------------------------------------------------------------

CLOSE_SEEDS = 8
CLOSE_E6 = 10**6


def _landmark_seed_state(
    und: DataFrame, n_seeds: int, *extra: Column
) -> DataFrame:
    """Initial multi-seed fixpoint state from the ``n_seeds`` highest-
    degree landmarks (ties to the smaller id): (node=(n,s) struct, dist=0,
    *extra).  ONE definition so closeness and stress — and their oracles,
    which re-derive the same ORDER BY k DESC, node LIMIT n seed set —
    can never desynchronize on degree source or tie-break order."""
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("k")
    )
    seeds = deg.orderBy(F.desc("k"), F.asc("node")).limit(n_seeds)
    return seeds.select(
        F.struct(
            F.col("node").alias("n"), F.col("node").alias("s")
        ).alias("node"),
        F.lit(0).cast("long").alias("dist"),
        *extra,
    )


def closeness_sampled(
    edges: DataFrame,
    n_seeds: int = CLOSE_SEEDS,
    max_depth: int = BFS_MAX_DEPTH,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, n_reached, total_dist, harmonic_e6) — closeness and harmonic
    centrality estimated from the ``n_seeds`` highest-degree landmarks
    (ties to the smaller id), the standard sampling estimator for
    centrality at graph scales where all-pairs BFS is impossible
    (Eppstein-Wang).  ``harmonic_e6`` sums floor(1e6 / d) per reached
    seed — per-term integer floors, so both engines agree exactly where a
    float 1/d sum would drift.

    The fixpoint state is (node, seed) COMPOSITE keys — all n_seeds BFS
    frontiers advance in the SAME rounds (one message join per round for
    all seeds together, not n_seeds sequential traversals): the state key
    is a struct, the same run_fixpoint capability k-truss exercises with
    edge keys.  After k rounds every distance <= k is exact, matching the
    oracle's depth-capped recursive walk.
    """
    und, _ = _materialize(undirect(edges), iter_partitions)
    state0 = _landmark_seed_state(und, n_seeds)

    def step(st: DataFrame) -> DataFrame:
        flat = st.select(
            F.col("node.n").alias("src"), F.col("node.s").alias("s"), "dist"
        )
        cand = (
            und.join(_hint(flat, broadcast_state), "src")
            .groupBy(F.col("dst").alias("n"), "s")
            .agg((F.min("dist") + 1).alias("cand"))
            .select(F.struct("n", "s").alias("node"), "cand")
        )
        return st.join(cand, "node", "full_outer").select(
            "node",
            F.least(
                F.coalesce("dist", F.col("cand")),
                F.coalesce("cand", F.col("dist")),
            ).alias("dist"),
        )

    res = run_fixpoint(
        state0, step,
        max_iter=max_depth, compare_cols=["dist"],
        broadcast_state=broadcast_state, iter_partitions=iter_partitions,
        # per-(node, seed) distances only relax DOWNWARD; rows only appear
        monotone=True,
    )
    return (
        res.select(F.col("node.n").alias("node"), "dist")
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("dist").alias("total_dist"),
            F.sum(
                F.when(
                    F.col("dist") > 0, F.expr(f"{CLOSE_E6} div dist")
                ).otherwise(F.lit(0))
            ).alias("harmonic_e6"),
        )
    )


@register(
    "graph_closeness_sampled",
    oracle=f"""
    WITH RECURSIVE
    {_UND_CTES},
    deg AS (SELECT src AS node, COUNT(*) AS k FROM undirected GROUP BY src),
    seeds AS (SELECT node FROM deg ORDER BY k DESC, node LIMIT {CLOSE_SEEDS}),
    walk(seed, node, dist) AS (
      SELECT node, node, 0 FROM seeds
      UNION
      SELECT w.seed, u.dst, w.dist + 1
      FROM walk w JOIN undirected u ON u.src = w.node
      WHERE w.dist < {BFS_MAX_DEPTH}),
    d AS (SELECT seed, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2)
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(dist) AS BIGINT) AS total_dist,
           CAST(SUM(CASE WHEN dist > 0 THEN {CLOSE_E6} // dist ELSE 0 END)
                AS BIGINT) AS harmonic_e6
    FROM d GROUP BY node ORDER BY node
    """,
    tags=("graph", "iterative", "centrality", "bfs", "pregel-primitive"),
    bench=True,  # r11: heaviest multi-source BFS fixpoint, tracked per round
)
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled closeness/harmonic centrality of the co-purchase
    graph (see :func:`closeness_sampled`) vs a depth-capped recursive
    oracle over the identical seed set."""
    return (
        closeness_sampled(copurchase_edges(spark, sf_dir))
        .select(
            "node",
            F.col("n_reached").cast("long").alias("n_reached"),
            F.col("total_dist").cast("long").alias("total_dist"),
            F.col("harmonic_e6").cast("long").alias("harmonic_e6"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Sampled stress centrality (Brandes-style path counting, all-integer)
# ---------------------------------------------------------------------------

STRESS_SEEDS = 16
STRESS_DEPTH = 4


def stress_centrality_sampled(
    edges: DataFrame,
    n_seeds: int = STRESS_SEEDS,
    max_depth: int = STRESS_DEPTH,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, stress) — STRESS centrality (Shimbel 1953: the number of
    shortest paths passing through a node) estimated from the ``n_seeds``
    highest-degree landmark sources, depth-capped at ``max_depth``.

    This is the Brandes (2001) two-pass framework with an ALL-INTEGER
    accumulation — the reason stress (path counts) is implemented rather
    than betweenness (whose dependency accumulation is fractional,
    sigma_v/sigma_w, and no cross-engine float hash survives that):

    - FORWARD: a multi-seed synchronous BFS on (node, seed) struct keys
      (the closeness machinery) that also counts shortest paths —
      sigma(v) = sum of sigma over the parents that achieve the minimum
      candidate distance, a two-level combinable aggregate
      (groupBy(dst, seed, cand_dist).sum(sigma) then min_by) with no
      per-vertex arrays.
    - REVERSE: tau(v) = 1 + sum of tau over BFS-DAG successors — the
      count of shortest-path SUFFIXES starting at v (every DAG path from
      v is one).  Iterated ``max_depth`` rounds over the materialized
      per-seed DAG, deepest level correct first, one level per round.
    - The number of shortest s->t paths through v (t != v, v != s) is
      exactly sigma_s(v) * (tau_s(v) - 1): a DAG edge always increases
      dist by 1, so prefix x suffix compositions are precisely the
      shortest paths through v.

    Scale: state is O(reached x seeds); the DAG materialization is
    O(|E| x seeds) with seeds a small constant; every aggregation is
    map-side combinable; products are summed through DECIMAL(38,0) so
    the distributed sum is bit-identical to the oracle's HUGEINT."""
    und, _ = _materialize(undirect(edges), iter_partitions)
    state0 = _landmark_seed_state(
        und, n_seeds, F.lit(1).cast("long").alias("sigma")
    )

    def step(st: DataFrame) -> DataFrame:
        flat = st.select(
            F.col("node.n").alias("src"), F.col("node.s").alias("s"),
            "dist", "sigma",
        )
        by_d = (
            und.join(_hint(flat, broadcast_state), "src")
            .groupBy(
                F.col("dst").alias("n"), "s",
                (F.col("dist") + 1).alias("cand"),
            )
            .agg(F.sum("sigma").alias("sig"))
        )
        cand = (
            by_d.groupBy("n", "s")
            .agg(
                F.min("cand").alias("cand"),
                # cand values are distinct within the group, so min_by is
                # deterministic: the sigma-sum at the minimum distance
                F.min_by("sig", "cand").alias("cand_sig"),
            )
            .select(F.struct("n", "s").alias("node"), "cand", "cand_sig")
        )
        return st.join(cand, "node", "full_outer").select(
            "node",
            F.coalesce("dist", "cand").alias("dist"),
            F.coalesce("sigma", "cand_sig").alias("sigma"),
        )

    fwd_res = run_fixpoint(
        state0, step,
        max_iter=max_depth, compare_cols=["dist"],
        broadcast_state=broadcast_state, iter_partitions=iter_partitions,
        # settled rows are immutable (dist/sigma coalesce keeps the old
        # value); the state only GROWS, so the row count alone changes
        monotone=True,
    )
    fwd = fwd_res.select(
        F.col("node.n").alias("n"), F.col("node.s").alias("s"),
        "dist", "sigma",
    )
    # per-seed BFS DAG, materialized once: edge (v -> w) iff dist_w
    # = dist_v + 1 under that seed
    v_side = fwd.select(F.col("n").alias("src"), "s", F.col("dist").alias("dv"))
    w_side = fwd.select(F.col("n").alias("dst"), "s", F.col("dist").alias("dw"))
    dag = (
        und.join(_hint(v_side, broadcast_state), "src")
        .join(_hint(w_side, broadcast_state), ["dst", "s"])
        .filter(F.col("dw") == F.col("dv") + 1)
        .select(F.col("src").alias("v"), "s", F.col("dst").alias("w"))
        .localCheckpoint(eager=True)
    )
    t0 = fwd.select(
        F.struct("n", "s").alias("node"), F.lit(1).cast("long").alias("tau")
    )

    def rstep(st: DataFrame) -> DataFrame:
        flat = st.select(
            F.col("node.n").alias("w"), F.col("node.s").alias("s"), "tau"
        )
        inc = (
            dag.join(_hint(flat, broadcast_state), ["w", "s"])
            .groupBy(F.col("v").alias("n"), "s")
            .agg(F.sum("tau").alias("children"))
            .select(F.struct("n", "s").alias("node"), "children")
        )
        return st.select("node").join(inc, "node", "left").select(
            "node",
            (F.lit(1) + F.coalesce("children", F.lit(0))).alias("tau"),
        )

    taus = run_fixpoint(
        t0, rstep,
        max_iter=max_depth, compare_cols=["tau"],
        broadcast_state=broadcast_state, iter_partitions=iter_partitions,
        # tau = 1 + sum over successors is non-DECREASING round-over-round
        # (induction from tau_0 = 1) on a fixed node set
        monotone=True,
    ).select(F.col("node.n").alias("n"), F.col("node.s").alias("s"), "tau")
    return (
        fwd.join(taus, ["n", "s"])
        .filter(F.col("n") != F.col("s"))
        .groupBy(F.col("n").alias("node"))
        .agg(
            # cast an OPERAND before multiplying (the modularity-audit
            # pattern): a long*long product could wrap before the cast
            F.sum(
                F.col("sigma").cast("decimal(38,0)") * (F.col("tau") - 1)
            )
            .cast("long")
            .alias("stress")
        )
    )


def _stress_oracle_sql(depth: int, n_seeds: int) -> str:
    """Unrolled forward-level + reverse-tau CTE chain mirroring
    :func:`stress_centrality_sampled` (AS MATERIALIZED per round — the
    r10 CTE-inlining lesson)."""
    parts = [
        "l0 AS MATERIALIZED (SELECT node AS seed, node, "
        "CAST(1 AS BIGINT) AS sigma FROM seeds)",
        "a0 AS MATERIALIZED (SELECT seed, node FROM l0)",
    ]
    for k in range(1, depth + 1):
        parts.append(f"""l{k} AS MATERIALIZED (
      SELECT p.seed, u.dst AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM l{k - 1} p JOIN undirected u ON u.src = p.node
      WHERE NOT EXISTS (SELECT 1 FROM a{k - 1} a
                        WHERE a.seed = p.seed AND a.node = u.dst)
      GROUP BY 1, 2)""")
        parts.append(f"""a{k} AS MATERIALIZED (
      SELECT seed, node FROM a{k - 1}
      UNION ALL SELECT seed, node FROM l{k})""")
    parts.append(f"""t{depth} AS MATERIALIZED (
      SELECT seed, node, CAST(1 AS BIGINT) AS tau FROM l{depth})""")
    for k in range(depth - 1, -1, -1):
        parts.append(f"""t{k} AS MATERIALIZED (
      SELECT l.seed, l.node,
             CAST(1 + COALESCE(SUM(t.tau), 0) AS BIGINT) AS tau
      FROM l{k} l
      LEFT JOIN undirected u ON u.src = l.node
      LEFT JOIN t{k + 1} t ON t.seed = l.seed AND t.node = u.dst
      GROUP BY 1, 2)""")
    f_union = " UNION ALL ".join(
        f"SELECT seed, node, sigma FROM l{k}" for k in range(depth + 1)
    )
    t_union = " UNION ALL ".join(
        f"SELECT seed, node, tau FROM t{k}" for k in range(depth + 1)
    )
    return f"""
    WITH {_UND_CTES},
    deg AS (SELECT src AS node, COUNT(*) AS k FROM undirected GROUP BY src),
    seeds AS (SELECT node FROM deg ORDER BY k DESC, node LIMIT {n_seeds}),
    {",".join(parts)},
    f AS (SELECT * FROM ({f_union})),
    t AS (SELECT * FROM ({t_union}))
    SELECT f.node,
           CAST(SUM(f.sigma * (t.tau - 1)) AS BIGINT) AS stress
    FROM f JOIN t USING (seed, node)
    WHERE f.node <> f.seed
    GROUP BY f.node ORDER BY f.node
    """


@register(
    "graph_stress_centrality_sampled",
    oracle=_stress_oracle_sql(STRESS_DEPTH, STRESS_SEEDS),
    tags=("graph", "iterative", "centrality", "brandes", "pregel-primitive"),
    bench=True,  # r12: double-fixpoint Brandes shape, tracked per round
)
def graph_stress_centrality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled stress centrality of the co-purchase graph (see
    :func:`stress_centrality_sampled`) vs an unrolled forward-sigma /
    reverse-tau oracle over the identical seed set — the Brandes two-pass
    shape with integer path counts, so the value hash is exact."""
    return (
        stress_centrality_sampled(copurchase_edges(spark, sf_dir))
        .select("node", F.col("stress").cast("long").alias("stress"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# PageRank (scaled-integer, undirected)
# ---------------------------------------------------------------------------

def pagerank_scaled(
    edges: DataFrame,
    iters: int = PR_ITERS,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, rank) after ``iters`` synchronous PageRank rounds with
    damping 0.85, in BIGINT units of 1/PR_SCALE.

    rank_0 = SCALE div n;
    rank_{k+1} = (15*SCALE) div (100*n) + (85 * sum(contribs)) div 100,
    contrib = rank div degree.  All operations are integer, so the result
    is independent of partitioning AND matches the oracle's unrolled SQL
    exactly — the reason this engine's PageRank is scaled-integer.
    """
    und, _ = _materialize(undirect(edges), iter_partitions)
    verts = und.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    n_df = verts.agg(F.count(F.lit(1)).alias("n"))
    state0 = (
        verts.crossJoin(F.broadcast(n_df))
        .select("node", "deg", "n", F.expr(f"{PR_SCALE} div n").alias("rank"))
    )

    def step(state: DataFrame) -> DataFrame:
        msgs = aggregate_messages(
            und, state,
            msg={"c": F.expr("rank div deg")},
            aggs=[F.sum("c").alias("s")],
            broadcast_state=broadcast_state,
        )
        return (
            state.drop("rank")
            .join(_hint(msgs, broadcast_state), "node", "left")
            .select(
                "node", "deg", "n",
                (
                    F.expr(f"{15 * PR_SCALE} div (100 * n)")
                    + F.expr("(85 * coalesce(s, 0)) div 100")
                ).alias("rank"),
            )
        )

    state = run_fixpoint(
        state0, step, max_iter=iters, compare_cols=None,
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
    )
    return state.select("node", "rank")


def _pagerank_oracle() -> str:
    cte = [
        _UND_CTES.strip().rstrip(","),
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM undirected GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        f"r0 AS (SELECT node, deg, n, {PR_SCALE} // n AS rank FROM deg, nn)",
    ]
    for i in range(1, PR_ITERS + 1):
        cte.append(
            f"m{i} AS MATERIALIZED (SELECT u.dst AS node, SUM(r.rank // r.deg) AS s "
            f"FROM undirected u JOIN r{i-1} r ON u.src = r.node GROUP BY u.dst)"
        )
        cte.append(
            f"r{i} AS MATERIALIZED (SELECT r.node, r.deg, r.n, "
            f"{15 * PR_SCALE} // (100 * r.n) + (85 * COALESCE(m.s, 0)) // 100 AS rank "
            f"FROM r{i-1} r LEFT JOIN m{i} m ON m.node = r.node)"
        )
    return (
        "WITH " + ",\n".join(cte)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{PR_ITERS} ORDER BY node"
    )


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-round damped PageRank over the co-purchase graph in scaled-integer
    arithmetic (bit-identical to the oracle's unrolled iterations)."""
    return pagerank_scaled(copurchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------

def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count on canonical (src < dst) edges: each triangle
    a<b<c is counted once via the wedge join (a,b)+(b,c) closed by (a,c)."""
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL})
    SELECT COUNT(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst
    JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
    tags=("graph", "triangles"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-purchase graph (wedge join + closure
    semi-join — the scalable formulation; no per-node adjacency collection)."""
    return triangle_count(copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (NEW algorithm, written as a user
# of aggregate_messages + run_fixpoint would write it)
# ---------------------------------------------------------------------------

# NOTE: keep in sync with copurchase_edges above and with the edge SQL in
# _EDGES_SQL + the SSSP/LPA oracles — the edge DEFINITION (qty filter, pair
# shape) is spelled in several places because the weighted/unweighted and
# Spark/SQL variants differ structurally; a semantic change must hit all.
def copurchase_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical co-purchase edges with an integer distance weight:
    w = greatest(1, 10 - #co-purchasing orders) — strongly co-purchased
    parts are "closer".  Same posting-list generation as
    :func:`copurchase_edges` but keeping per-pair order counts."""
    l = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= QTY_THRESHOLD)
        .select("l_orderkey", "l_partkey")
    )
    per_order = l.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    pairs = (
        per_order.filter(F.size("parts") >= 2)
        .select("l_orderkey", F.explode("parts").alias("src"), "parts")
        .select("l_orderkey", "src", F.explode("parts").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
    )
    return pairs.groupBy("src", "dst").agg(
        F.greatest(F.lit(1), F.lit(10) - F.count_distinct("l_orderkey"))
        .cast("long")
        .alias("w")
    )


HUB_DEGREE = 3  # multi-source seeds: nodes with undirected degree >= this


def sssp_weighted(
    wedges: DataFrame,
    max_iter: int = SSSP_MAX_DEPTH,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, dist) minimum WEIGHTED distance to the nearest "hub" (any node
    of degree >= HUB_DEGREE — multi-source Bellman-Ford, the
    nearest-facility shape), over paths of at most ``max_iter`` edges.
    After k rounds every distance achievable in <= k hops is exact, so the
    bound matches a depth-capped recursive-CTE oracle exactly; early
    convergence is a fixpoint and cannot change the result.

    This is the primitive-composition showcase: the entire algorithm is the
    ~10 lines below — a seed set, a message expression (``dist + w``), a
    min combiner, a relaxation update, and the shared loop.
    """
    und, _ = _materialize(undirect(wedges), iter_partitions)
    dist0 = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= HUB_DEGREE)
        .select("node", F.lit(0).cast("long").alias("dist"))
    )

    def step(dist: DataFrame) -> DataFrame:
        cand = aggregate_messages(
            und, dist,
            msg={"m": F.col("dist") + F.col("w")},  # edge weight + source state
            aggs=[F.min("m").alias("cand")],
            broadcast_state=broadcast_state,
        )
        return dist.join(cand, "node", "full_outer").select(
            "node",
            F.least(
                F.coalesce("dist", F.col("cand")), F.coalesce("cand", F.col("dist"))
            ).alias("dist"),
        )

    dist = run_fixpoint(
        dist0, step,
        max_iter=max_iter, compare_cols=["dist"],
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
        # weighted distances only relax DOWNWARD; nodes are only added
        monotone=True,
    )
    return dist


@register(
    "graph_sssp_weighted",
    oracle=f"""
    WITH RECURSIVE
    wedges AS (
      SELECT l1.l_partkey AS src, l2.l_partkey AS dst,
             GREATEST(1, 10 - COUNT(DISTINCT l1.l_orderkey)) AS w
      FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       AND l1.l_partkey < l2.l_partkey
      WHERE l1.l_quantity >= {QTY_THRESHOLD} AND l2.l_quantity >= {QTY_THRESHOLD}
      GROUP BY l1.l_partkey, l2.l_partkey),
    undw AS (SELECT src, dst, w FROM wedges
             UNION ALL SELECT dst, src, w FROM wedges),
    hubs AS (SELECT src AS node FROM undw GROUP BY src
             HAVING COUNT(*) >= {HUB_DEGREE}),
    walk(node, dist, depth) AS (
      SELECT node, CAST(0 AS BIGINT), 0 FROM hubs
      UNION
      SELECT u.dst, w.dist + u.w, w.depth + 1
      FROM walk w JOIN undw u ON u.src = w.node
      WHERE w.depth < {SSSP_MAX_DEPTH})
    SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node ORDER BY node
    """,
    tags=("graph", "iterative", "sssp", "pregel-primitive"),
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted nearest-hub distances over the co-purchase graph, built
    purely on the aggregate_messages + run_fixpoint primitives (integer
    weights, so the distributed min-reduction is bit-identical to the
    oracle's depth-capped recursive CTE)."""
    return sssp_weighted(copurchase_weighted_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# Label propagation (community detection) on the same primitives
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3  # fixed synchronous rounds, unrolled identically in the oracle


def mode_messages(
    edges: DataFrame,
    state: DataFrame,
    msg: Column,
    broadcast_state: bool = True,
) -> DataFrame:
    """One message superstep whose per-destination combiner is the
    DETERMINISTIC MODE (most frequent message, smallest on ties — plain
    ``mode()`` breaks ties arbitrarily, which no cross-engine hash compare
    survives).

    The mode is not an algebraic aggregate over one groupBy, so it gets its
    own primitive next to :func:`aggregate_messages`: a TWO-LEVEL
    map-side-combinable aggregation —

        groupBy(dst, msg).count()                       # partial combine
        groupBy(dst).agg(max_by(msg, (count, -msg)))    # max is combinable

    Both levels partial-aggregate before their shuffle, so a celebrity
    vertex with 10^8 same-label neighbors reduces to one (dst, label, cnt)
    row per map task — no per-vertex array ever materializes (the previous
    ``sort_array(collect_list(...))`` fold held the whole neighborhood in
    a single aggregation buffer, the hot-key failure mode).  Ties on count
    pick the max of ``-msg`` = the MIN message; (cnt, -msg) is unique per
    destination because msg is distinct within the first-level groups.

    Returns ``(node, new_label)`` for every destination with >= 1 message.
    """
    j = edges.join(_hint(state, broadcast_state), edges["src"] == state["node"])
    counts = (
        j.select(F.col("dst").alias("node"), msg.alias("l"))
        .groupBy("node", "l")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy("node").agg(
        F.max_by("l", F.struct(F.col("cnt"), (-F.col("l")).alias("neg_l"))).alias(
            "new_label"
        )
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = LPA_ROUNDS,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, label) after ``rounds`` synchronous label-propagation steps:
    every node simultaneously adopts its neighbors' deterministic-mode
    label (most frequent, min on ties); nodes keep their label when they
    receive no messages.  Initial label = own id.

    Built on the same aggregate_messages/run_fixpoint primitives as
    CC/BFS/PageRank/SSSP — the second user-algorithm proof that the
    combinator surface is general.  A fixed round count (not convergence)
    is deliberate: synchronous LPA can oscillate on near-bipartite
    structures, and a fixed unroll is what the SQL oracle replicates
    bit-for-bit.  Per round: ONE message join + the two-level combinable
    mode of :func:`mode_messages` — both aggregation levels partial-combine
    map-side, so no per-vertex array materializes and a celebrity vertex
    costs one (dst, label, cnt) row per map task, not O(degree) memory in
    one aggregation buffer (skew-immune without the skew toolkit).
    """
    und, _ = _materialize(undirect(edges), iter_partitions)
    labels = (
        und.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )

    def step(lbl: DataFrame) -> DataFrame:
        votes = mode_messages(
            und, lbl, F.col("label"), broadcast_state=broadcast_state
        )
        return lbl.join(_hint(votes, broadcast_state), "node", "left").select(
            "node", F.coalesce("new_label", "label").alias("label")
        )

    out = run_fixpoint(
        labels, step, max_iter=rounds, compare_cols=None,
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
    )
    return out


LOUVAIN_SWEEPS = 2


def louvain_communities(
    edges: DataFrame,
    sweeps: int = LOUVAIN_SWEEPS,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, community) after ``sweeps`` synchronous Louvain phase-1
    sweeps from singleton communities — MODULARITY-based community
    detection (Blondel et al. 2008), the third grouped-structure lens
    next to LPA (message frequency) and k-truss (triangle support).

    Each sweep, every node simultaneously evaluates moving to each
    neighbor community: the modularity gain of u -> c is
    e_{u,c}/m - k_u * K_c / (2 m^2), compared against staying in its own
    community (with K computed EXCLUDING u, the standard isolated-move
    form).  All comparisons are cross-multiplied to BIGINT —
    score = 2m * e_{u,c} - k_u * K_c — so both engines rank identically
    with zero float drift; ties break to the smallest community id, and
    an exact tie with staying stays (no oscillating swap).  A fixed sweep
    count is deliberate for the same reason as LPA's: synchronous sweeps
    can oscillate, and a fixed unroll is what the oracle replicates.

    Physical shape per sweep: community sizes/weights are ONE
    map-side-combinable groupBy; candidate scores are the edge list
    joined to the (broadcastable) label and degree states; the argmax is
    a per-node window over each node's candidate communities (bounded by
    degree).  2m joins as a broadcast singleton.  No collect, no
    cartesian, payloads are longs.
    """
    und, deg, m2, labels = _louvain_setup(edges, iter_partitions)
    sweep = _louvain_sweep(und, deg, m2, broadcast_state)
    return run_fixpoint(
        labels, sweep, max_iter=sweeps, compare_cols=None,
        broadcast_state=broadcast_state, iter_partitions=iter_partitions,
    )


def _louvain_setup(edges, iter_partitions=None):
    """(und, deg, m2, singleton labels) — shared by louvain_communities
    and graph_modularity_score so the Q audit never recomputes the
    doubled-edge aggregations its own sweeps just built (review r10b)."""
    und, _ = _materialize(undirect(edges), iter_partitions)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("k")
    )
    m2 = und.agg(F.count(F.lit(1)).alias("m2"))  # doubled edges = 2m
    labels = deg.select("node", F.col("node").alias("label"))
    return und, deg, m2, labels


def _louvain_sweep(und, deg, m2, broadcast_state=True):
    """One synchronous Louvain sweep as a reusable (labels) -> labels
    builder — module-level so plan tests can audit a single
    un-materialized round (run_fixpoint checkpoints between rounds)."""
    def sweep(lbl: DataFrame) -> DataFrame:
        lbl_dst = lbl.select(F.col("node").alias("dst"), F.col("label").alias("c"))
        e_uc = (
            und.join(_hint(lbl_dst, broadcast_state), "dst")
            .groupBy(F.col("src").alias("node"), "c")
            .agg(F.count(F.lit(1)).alias("e"))
        )
        k_c = (
            lbl.join(_hint(deg, broadcast_state), "node")
            .groupBy(F.col("label").alias("c"))
            .agg(F.sum("k").alias("kc"))
        )
        cand = (
            e_uc.join(_hint(lbl, broadcast_state), "node")
            .join(_hint(deg, broadcast_state), "node")
            .join(_hint(k_c, broadcast_state), "c")
            .crossJoin(F.broadcast(m2))
            .select(
                "node", "c", "label", "k",
                (F.col("m2") * F.col("e") - F.col("k") * F.col("kc")).alias("s"),
                "e",
            )
        )
        from pyspark.sql import Window

        win = Window.partitionBy("node").orderBy(F.desc("s"), F.asc("c"))
        best = (
            cand.filter(F.col("c") != F.col("label"))
            .withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") == 1)
            .select("node", F.col("c").alias("bc"), F.col("s").alias("bs"))
        )
        e_own = cand.filter(F.col("c") == F.col("label")).select(
            "node", F.col("e").alias("e_own")
        )
        stay = (
            lbl.join(_hint(deg, broadcast_state), "node")
            .join(
                _hint(k_c.select(F.col("c").alias("label"), "kc"), broadcast_state),
                "label",
            )
            .join(_hint(e_own, broadcast_state), "node", "left")
            .crossJoin(F.broadcast(m2))
            .select(
                "node",
                F.col("label").alias("own"),
                (
                    F.col("m2") * F.coalesce("e_own", F.lit(0))
                    - F.col("k") * (F.col("kc") - F.col("k"))
                ).alias("s0"),
            )
        )
        return stay.join(_hint(best, broadcast_state), "node", "left").select(
            "node",
            F.when(F.col("bs") > F.col("s0"), F.col("bc"))
            .otherwise(F.col("own"))
            .alias("label"),
        )

    return sweep


def _louvain_sweep_sql(prev: str, this: str) -> str:
    """One unrolled synchronous Louvain sweep over CTEs ``und``/``deg``/
    ``mm`` — the exact cross-multiplied gain algebra of
    :func:`louvain_communities`."""
    return f"""
    e_{this} AS MATERIALIZED (
      SELECT u.src AS node, l.label AS c, COUNT(*) AS e
      FROM und u JOIN {prev} l ON u.dst = l.node GROUP BY 1, 2),
    k_{this} AS MATERIALIZED (
      SELECT l.label AS c, SUM(d.k) AS kc
      FROM {prev} l JOIN deg d USING (node) GROUP BY 1),
    best_{this} AS MATERIALIZED (
      SELECT node, c AS bc, s AS bs FROM (
        SELECT e.node, e.c,
               mm.m2 * e.e - d.k * k.kc AS s,
               ROW_NUMBER() OVER (PARTITION BY e.node
                                  ORDER BY mm.m2 * e.e - d.k * k.kc DESC,
                                           e.c) AS rk
        FROM e_{this} e
        JOIN {prev} l USING (node)
        JOIN deg d USING (node)
        JOIN k_{this} k ON k.c = e.c
        CROSS JOIN mm
        WHERE e.c <> l.label)
      WHERE rk = 1),
    {this} AS MATERIALIZED (
      SELECT l.node,
             CASE WHEN b.bs > mm.m2 * COALESCE(eo.e, 0)
                             - d.k * (k.kc - d.k)
                  THEN b.bc ELSE l.label END AS label
      FROM {prev} l
      JOIN deg d USING (node)
      JOIN k_{this} k ON k.c = l.label
      LEFT JOIN e_{this} eo ON eo.node = l.node AND eo.c = l.label
      LEFT JOIN best_{this} b ON b.node = l.node
      CROSS JOIN mm)"""


@register(
    "graph_louvain_communities",
    oracle=f"""
    WITH {_UND_CTES},
    deg AS MATERIALIZED (
      SELECT src AS node, COUNT(*) AS k FROM undirected GROUP BY src),
    und AS MATERIALIZED (SELECT src, dst FROM undirected),
    mm AS (SELECT COUNT(*) AS m2 FROM und),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM deg),
    {",".join(_louvain_sweep_sql(f"l{i}", f"l{i + 1}") for i in range(LOUVAIN_SWEEPS))}
    SELECT node, CAST(label AS BIGINT) AS community
    FROM l{LOUVAIN_SWEEPS} ORDER BY node
    """,
    tags=("graph", "iterative", "community", "modularity"),
    bench=True,  # r11: the label-sweep fixpoint, tracked round-over-round
)
def graph_louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain phase-1 communities of the co-purchase graph after
    LOUVAIN_SWEEPS synchronous sweeps — modularity-gain moves in exact
    cross-multiplied BIGINT arithmetic vs a DuckDB oracle unrolling the
    identical sweeps (see :func:`louvain_communities`)."""
    return (
        louvain_communities(copurchase_edges(spark, sf_dir))
        .select("node", F.col("label").cast("long").alias("community"))
        .orderBy("node")
    )


@register(
    "graph_modularity_score",
    oracle=f"""
    WITH {_UND_CTES},
    deg AS MATERIALIZED (
      SELECT src AS node, COUNT(*) AS k FROM undirected GROUP BY src),
    und AS MATERIALIZED (SELECT src, dst FROM undirected),
    mm AS (SELECT COUNT(*) AS m2 FROM und),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM deg),
    {",".join(_louvain_sweep_sql(f"l{i}", f"l{i + 1}") for i in range(LOUVAIN_SWEEPS))},
    fin AS MATERIALIZED (SELECT node, label FROM l{LOUVAIN_SWEEPS}),
    intra AS MATERIALIZED (
      SELECT a.label AS community, COUNT(*) AS in_edges
      FROM edges e JOIN fin a ON e.src = a.node JOIN fin b ON e.dst = b.node
      WHERE a.label = b.label GROUP BY a.label),
    comm AS MATERIALIZED (
      SELECT f.label AS community, COUNT(*) AS size, SUM(d.k) AS k_sum
      FROM fin f JOIN deg d USING (node) GROUP BY f.label),
    tot AS (
      SELECT CAST(SUM(2 * CAST(COALESCE(i.in_edges, 0) AS HUGEINT) * mm.m2
                       - CAST(c.k_sum AS HUGEINT) * c.k_sum) AS HUGEINT)
               AS q_num,
             CAST(mm.m2 AS HUGEINT) * mm.m2 AS q_den
      FROM comm c LEFT JOIN intra i ON i.community = c.community
      CROSS JOIN mm GROUP BY mm.m2)
    SELECT c.community, CAST(c.size AS BIGINT) AS size,
           CAST(COALESCE(i.in_edges, 0) AS BIGINT) AS in_edges,
           CAST(c.k_sum AS BIGINT) AS k_sum,
           CAST((1000000 * t.q_num) // t.q_den AS BIGINT) AS q_e6
    FROM comm c LEFT JOIN intra i ON i.community = c.community
    CROSS JOIN tot t
    ORDER BY c.community
    """,
    tags=("graph", "community", "modularity", "eval"),
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity audit of the Louvain labeling: per community its size,
    intra-community edge count, and degree mass, plus the GLOBAL
    modularity Q = sum_c [in_c/m - (K_c/(2m))^2] as an e6 fixed-point
    integer (identical on every row — cross-multiplied to
    (2m*sum(2*in_c*... )) / (2m)^2 and accumulated in DECIMAL(38)/HUGEINT
    so the square of a web-scale degree mass cannot overflow).  The
    quality-eval companion to graph_louvain_communities: a partitioning
    change that degrades Q shows up as a value change here, not an
    eyeball judgement.

    Scale: intra-edge counting is one join of the canonical edge list
    against the (broadcastable) label state on each endpoint; community
    rollups are map-side-combinable; Q is a one-row total broadcast back.
    """
    edges, _ = _materialize(copurchase_edges(spark, sf_dir))
    und, deg, m2, labels = _louvain_setup(edges)
    fin = run_fixpoint(
        labels,
        _louvain_sweep(und, deg, m2, True),
        max_iter=LOUVAIN_SWEEPS,
        compare_cols=None,
        broadcast_state=True,
    )
    la = fin.select(F.col("node").alias("src"), F.col("label").alias("ca"))
    lb = fin.select(F.col("node").alias("dst"), F.col("label").alias("cb"))
    intra = (
        edges.join(_hint(la, True), "src")
        .join(_hint(lb, True), "dst")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("in_edges"))
    )
    comm = (
        fin.join(_hint(deg, True), "node")
        .groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"), F.sum("k").alias("k_sum"))
    )
    d38 = "decimal(38,0)"
    joined = comm.join(_hint(intra, True), "community", "left").crossJoin(
        F.broadcast(m2)
    )
    per = joined.select(
        "community",
        "size",
        F.coalesce("in_edges", F.lit(0)).alias("in_edges"),
        "k_sum",
        (
            F.lit(2).cast(d38) * F.coalesce("in_edges", F.lit(0)) * F.col("m2")
            - F.col("k_sum").cast(d38) * F.col("k_sum")
        ).alias("q_term"),
        F.col("m2").cast(d38).alias("m2d"),
    )
    tot = per.agg(
        F.sum("q_term").alias("q_num"), F.max("m2d").alias("m2d")
    ).select(
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * q_num) div (m2d * m2d) "
            "AS BIGINT)"
        ).alias("q_e6")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "community",
            F.col("size").cast("long").alias("size"),
            F.col("in_edges").cast("long").alias("in_edges"),
            F.col("k_sum").cast("long").alias("k_sum"),
            "q_e6",
        )
        .orderBy("community")
    )


def _lpa_round_sql(prev: str, this: str) -> str:
    """One unrolled synchronous LPA round over CTE ``und`` (doubled edges)
    and label relation ``prev`` → ``this``: deterministic neighbor mode
    with keep-own-label fallback for message-less nodes."""
    return f"""
    {this} AS MATERIALIZED (
      SELECT p.node,
             COALESCE(v.new_label, p.label) AS label
      FROM {prev} p LEFT JOIN (
        SELECT node, new_label FROM (
          SELECT u.dst AS node, l.label AS new_label,
                 ROW_NUMBER() OVER (PARTITION BY u.dst
                                    ORDER BY COUNT(*) DESC, l.label) AS rk
          FROM und u JOIN {prev} l ON u.src = l.node
          GROUP BY u.dst, l.label) WHERE rk = 1
      ) v ON v.node = p.node)"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH edges AS (
      SELECT l1.l_partkey AS src, l2.l_partkey AS dst
      FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       AND l1.l_partkey < l2.l_partkey
      WHERE l1.l_quantity >= {QTY_THRESHOLD} AND l2.l_quantity >= {QTY_THRESHOLD}
      GROUP BY 1, 2),
    und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    r0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
    {",".join(_lpa_round_sql(f"r{i}", f"r{i + 1}") for i in range(LPA_ROUNDS))}
    SELECT node, label FROM r{LPA_ROUNDS} ORDER BY node
    """,
    tags=("graph", "iterative", "community", "pregel-primitive"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels over the co-purchase graph after LPA_ROUNDS (= 3)
    synchronous LPA rounds, written on the aggregate_messages/run_fixpoint
    combinators; the oracle unrolls the identical rounds in SQL."""
    return label_propagation(copurchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------

KCORE_K = 3          # fixture-visible core: 12 nodes across 3 peel rounds
KCORE_ORACLE_ROUNDS = 10  # unroll margin: extra rounds past the fixpoint
#                           are idempotent (peeling a stable set returns it),
#                           so only UNDER-unrolling could diverge; measured
#                           fixpoint at sf0.01 is 3 rounds.


def k_core(
    edges: DataFrame,
    k: int = KCORE_K,
    max_iter: int = 30,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, deg) for the k-core: the maximal subgraph in which every
    node has degree >= k within the subgraph, with ``deg`` the node's
    degree inside that core.  Classic iterative peeling: drop all nodes
    of degree < k, recompute degrees over the survivors, repeat.

    The state SHRINKS: a round that only removes nodes whose neighbors
    all left with them changes no surviving row, which a new-LEFT-JOIN-old
    change-set cannot see.  The ``monotone`` signature's row count does,
    so such a round never reads as converged.

    Physical shape per round: two broadcast LEFT SEMI joins restrict the
    (materialized-once) doubled edge list to live endpoints, then ONE
    groupBy whose shuffle carries (node, count) — edge payloads never
    re-shuffle.  At 100 TB the edge list is scanned per round but never
    re-partitioned; for vertex states too big to broadcast, pass
    ``broadcast_state=False`` for shuffled semi joins.
    """
    und, _ = _materialize(undirect(edges), iter_partitions)

    def live_degrees(alive: DataFrame) -> DataFrame:
        a_src = alive.select(F.col("node").alias("src"))
        a_dst = alive.select(F.col("node").alias("dst"))
        live = und.join(_hint(a_src, broadcast_state), "src", "left_semi").join(
            _hint(a_dst, broadcast_state), "dst", "left_semi"
        )
        return (
            live.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
        )

    state0 = und.select(F.col("src").alias("node")).distinct()
    return run_fixpoint(
        live_degrees(state0),
        live_degrees,
        max_iter=max_iter,
        compare_cols=["deg"],
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
        # peeling only REMOVES nodes and surviving degrees only DROP
        monotone=True,
    )


def _kcore_round_sql(prev: str, this: str, k: int) -> str:
    """One unrolled peel round over CTE ``undirected``: degrees within the
    surviving set ``prev``, keeping nodes with degree >= k."""
    return f"""
    {this} AS MATERIALIZED (
      SELECT u.src AS node, COUNT(*) AS deg
      FROM undirected u
      JOIN {prev} s ON u.src = s.node
      JOIN {prev} t ON u.dst = t.node
      GROUP BY u.src HAVING COUNT(*) >= {k})"""


@register(
    "graph_kcore_members",
    oracle=f"""
    WITH {_UND_CTES},
    a0 AS (SELECT DISTINCT src AS node FROM undirected),
    {",".join(_kcore_round_sql(f"a{i}", f"a{i + 1}", KCORE_K) for i in range(KCORE_ORACLE_ROUNDS))}
    SELECT node, CAST(deg AS BIGINT) AS deg
    FROM a{KCORE_ORACLE_ROUNDS} ORDER BY node
    """,
    tags=("graph", "iterative", "kcore", "pregel-primitive"),
)
def graph_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Members of the KCORE_K (= 3)-core of the co-purchase graph with their
    in-core degrees — peeling on run_fixpoint(monotone=True) vs a
    DuckDB oracle that unrolls KCORE_ORACLE_ROUNDS idempotent peel rounds
    (safely past the measured 3-round fixpoint)."""
    return k_core(copurchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# k-truss (community detection by triangle-support peeling)
# ---------------------------------------------------------------------------

TRUSS_K = 4              # every surviving edge sits in >= K-2 = 2 triangles
TRUSS_ORACLE_ROUNDS = 4  # measured fixpoint at sf0.01 is 1 round; unrolled
#                          rounds past it are idempotent (k-core pattern)


def k_truss(
    edges: DataFrame,
    k: int = TRUSS_K,
    max_iter: int = 20,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node=struct(src,dst), sup) for the k-truss: the maximal subgraph in
    which every EDGE is supported by >= k-2 triangles within the subgraph —
    the edge-granularity analogue of k-core, and the classic deterministic
    community-detection pass (cohesive groups survive; bridges and
    tree-like fringe peel away).  Iterative peeling (Cohen 2008's
    MapReduce truss decomposition, re-expressed in DataFrame algebra):
    count per-edge triangle support via the wedge join, drop edges under
    k-2, repeat until stable.

    The state is EDGES, so the fixpoint key is a (src, dst) struct — the
    first run_fixpoint user with a composite node, exercising that the
    loop's convergence join and removal probe need only column equality.

    Physical shape per round: the triangle enumeration is the same
    wedge-join + closure-semi-join as triangle_count (canonical a<b<c,
    each triangle once, no adjacency lists collected); support counting
    is one map-side-combinable groupBy over the 3 exploded edge sides.
    Edge payloads are two longs — shuffles stay narrow at any scale; as
    with k-core, rounds are O(max truss number), and the monotone
    signature's row count keeps a removals-only round from reading as
    converged.
    """
    peel = _truss_peel(k)
    und, _ = _materialize(undirect(edges), iter_partitions)
    state0 = und.filter(F.col("src") < F.col("dst")).select(
        F.struct("src", "dst").alias("node")
    )
    return run_fixpoint(
        peel(state0),
        peel,
        max_iter=max_iter,
        compare_cols=["sup"],
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
        # peeling only REMOVES edges and surviving supports only DROP
        monotone=True,
    )


def _truss_peel(k: int):
    """One k-truss peel round as a reusable (state) -> state builder —
    module-level so plan tests can audit a single un-materialized round
    (run_fixpoint checkpoints between rounds, which truncates lineage)."""
    def peel(state: DataFrame) -> DataFrame:
        e = state.select(F.col("node.src").alias("src"), F.col("node.dst").alias("dst"))
        e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"], "left_semi")
        sides = (
            tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
            .unionAll(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        )
        return (
            sides.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter(F.col("sup") >= k - 2)
            .select(F.struct("src", "dst").alias("node"), "sup")
        )

    return peel


def _truss_round_sql(prev: str, this: str, k: int) -> str:
    """One unrolled peel round: triangles within the surviving edge set
    ``prev`` (wedge join on canonical a<b<c), per-edge support from the
    three sides, keeping edges with support >= k-2."""
    return f"""
    tri_{this} AS MATERIALIZED (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM {prev} e1 JOIN {prev} e2 ON e2.src = e1.dst
      JOIN {prev} e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    {this} AS MATERIALIZED (
      SELECT src, dst, COUNT(*) AS sup FROM (
        SELECT a AS src, b AS dst FROM tri_{this}
        UNION ALL SELECT b AS src, c AS dst FROM tri_{this}
        UNION ALL SELECT a AS src, c AS dst FROM tri_{this}) u
      GROUP BY src, dst HAVING COUNT(*) >= {k - 2})"""


@register(
    "graph_ktruss_edges",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    s0 AS (SELECT src, dst FROM edges),
    {",".join(_truss_round_sql(f"s{i}", f"s{i + 1}", TRUSS_K) for i in range(TRUSS_ORACLE_ROUNDS))}
    SELECT src, dst, CAST(sup AS BIGINT) AS sup
    FROM s{TRUSS_ORACLE_ROUNDS} ORDER BY src, dst
    """,
    tags=("graph", "iterative", "truss", "community", "pregel-primitive"),
    bench=True,  # r10: the edge-state fixpoint, tracked round-over-round
)
def graph_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges of the TRUSS_K (= 4)-truss of the co-purchase graph with their
    in-truss triangle support — the grouped-structure surface the
    reference's traversal demos motivate (app/Main.hs:148-157), one level
    beyond LPA/k-core: triangle-supported communities.  Peeling on
    run_fixpoint(monotone=True) vs a DuckDB oracle unrolling
    TRUSS_ORACLE_ROUNDS idempotent rounds past the measured fixpoint."""
    return (
        k_truss(copurchase_edges(spark, sf_dir))
        .select(
            F.col("node.src").alias("src"),
            F.col("node.dst").alias("dst"),
            F.col("sup").cast("long").alias("sup"),
        )
        .orderBy("src", "dst")
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (teleport restricted to a seed set)
# ---------------------------------------------------------------------------

def personalized_pagerank_scaled(
    edges: DataFrame,
    iters: int = PR_ITERS,
    seed_degree: int = HUB_DEGREE,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, rank) after ``iters`` rounds of PERSONALIZED PageRank: the 15%
    teleport mass returns only to the seed set (nodes of undirected degree
    >= ``seed_degree``) instead of spreading uniformly — rank becomes
    proximity to the seeds, the classic related-items / recommendation
    primitive.  Same scaled-integer discipline as :func:`pagerank_scaled`
    (BIGINT units of 1/PR_SCALE, div arithmetic), so the result is
    partition-independent and matches the oracle's unrolled SQL exactly.

    rank_0 = SCALE div n_seeds on seeds, 0 elsewhere;
    rank_{k+1} = seed * (15*SCALE) div (100*n_seeds)
                 + (85 * sum(rank div deg over in-neighbors)) div 100.
    """
    und, _ = _materialize(undirect(edges), iter_partitions)
    verts = und.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    seeds = verts.filter(F.col("deg") >= seed_degree).select(
        "node", F.lit(1).alias("seed")
    )
    ns_df = seeds.agg(F.count(F.lit(1)).alias("ns"))
    state0 = (
        verts.join(seeds, "node", "left")
        .select("node", "deg", F.coalesce("seed", F.lit(0)).alias("seed"))
        .crossJoin(F.broadcast(ns_df))
        .select(
            "node", "deg", "seed", "ns",
            F.expr(f"seed * ({PR_SCALE} div ns)").alias("rank"),
        )
    )

    def step(state: DataFrame) -> DataFrame:
        msgs = aggregate_messages(
            und, state,
            msg={"c": F.expr("rank div deg")},
            aggs=[F.sum("c").alias("s")],
            broadcast_state=broadcast_state,
        )
        return (
            state.drop("rank")
            .join(_hint(msgs, broadcast_state), "node", "left")
            .select(
                "node", "deg", "seed", "ns",
                (
                    F.expr(f"seed * (({15 * PR_SCALE}) div (100 * ns))")
                    + F.expr("(85 * coalesce(s, 0)) div 100")
                ).alias("rank"),
            )
        )

    state = run_fixpoint(
        state0, step, max_iter=iters, compare_cols=None,
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
    )
    return state.select("node", "rank")


def _ppr_oracle() -> str:
    cte = [
        _UND_CTES.strip().rstrip(","),
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM undirected GROUP BY src)",
        f"sd AS (SELECT node, (CASE WHEN deg >= {HUB_DEGREE} THEN 1 ELSE 0 END)"
        " AS seed, deg FROM deg)",
        "nn AS (SELECT SUM(seed) AS ns FROM sd)",
        f"r0 AS (SELECT node, deg, seed, ns, seed * ({PR_SCALE} // ns) AS rank"
        " FROM sd, nn)",
    ]
    for i in range(1, PR_ITERS + 1):
        cte.append(
            f"m{i} AS MATERIALIZED (SELECT u.dst AS node, SUM(r.rank // r.deg) AS s "
            f"FROM undirected u JOIN r{i-1} r ON u.src = r.node GROUP BY u.dst)"
        )
        cte.append(
            f"r{i} AS MATERIALIZED (SELECT r.node, r.deg, r.seed, r.ns, "
            f"r.seed * ({15 * PR_SCALE} // (100 * r.ns)) "
            f"+ (85 * COALESCE(m.s, 0)) // 100 AS rank "
            f"FROM r{i-1} r LEFT JOIN m{i} m ON m.node = r.node)"
        )
    return (
        "WITH " + ",\n".join(cte)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{PR_ITERS} ORDER BY node"
    )


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "pagerank", "personalized"),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-round personalized PageRank over the co-purchase graph, teleporting
    only to the hub seed set (degree >= HUB_DEGREE) — rank as proximity to
    the hubs, in scaled-integer arithmetic bit-identical to the unrolled
    oracle."""
    return personalized_pagerank_scaled(copurchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# HITS (hubs & authorities) over the bipartite purchase graph
# ---------------------------------------------------------------------------

HITS_SCALE = 10**12  # like PR_SCALE: score 1.0 == 10^12, BIGINT units
HITS_ITERS = 3


def purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed (cust → part) purchase edges — the bipartite graph
    HITS and common-neighbor link prediction run on.  One equi-join of the
    two fact projections; Catalyst/AQE owns the join strategy (orders is
    the dimension-sized side at every SF)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )


def hits_scaled(
    edges: DataFrame,
    iters: int = HITS_ITERS,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(authorities, hubs) after ``iters`` synchronous HITS rounds in
    BIGINT units of 1/HITS_SCALE (Kleinberg 1999, sum-normalized).

    auth_k(p) = Σ_{c→p} hub_{k-1}(c), then scaled so Σ auth = HITS_SCALE;
    hub_k(c) = Σ_{c→p} auth_k(p), scaled the same way.  The rescale is
    ``raw * SCALE div Σraw`` with the product in DECIMAL(20+13,0), so the
    arithmetic is exact integer at any graph size — order-independent
    sums, bit-identical to the oracle's unrolled SQL (the same stance as
    :func:`pagerank_scaled`; L2 normalization would put a sqrt in the hot
    loop and unmatchable float rounding in the oracle).

    Scale: each half-round is one state join + one map-side-combinable
    groupBy over the edge list; the one-row Σ rides a broadcast.  The edge
    list is materialized once (localCheckpoint here; persist(DISK) on a
    cluster) and per-round states are checkpointed at the width
    :func:`_materialize` derives from the data.
    """
    if iters < 1:
        raise ValueError("hits_scaled needs iters >= 1 (no round 0 scores)")
    pe, width = _materialize(edges, iter_partitions)
    custs = pe.select("cust").distinct()
    n_df = custs.agg(F.count(F.lit(1)).alias("n"))
    hub = _checkpoint(
        custs.crossJoin(F.broadcast(n_df)).select(
            "cust", F.expr(f"{HITS_SCALE} div n").alias("hub")
        ),
        width,
    )

    # raw sums and Σraw accumulate in DECIMAL(38,0), not BIGINT: a raw score
    # is bounded by HITS_SCALE * max_degree, so a ~1e7-degree node pushes the
    # int64 sum past 2^63 (ANSI mode would kill the query; the oracle's SUM
    # widens to HUGEINT and would diverge).  The rescale product then fits
    # DECIMAL(38,0) (≲1e21 * 1e12 = 1e33) and `div` lands back in BIGINT.
    def _rescale(df: DataFrame, key: str, out: str) -> DataFrame:
        s = df.agg(F.sum("raw").alias("s"))
        return df.crossJoin(F.broadcast(s)).select(
            key,
            F.expr(f"raw * {HITS_SCALE} div s").alias(out),
        )

    auth = None
    for i in range(iters):
        raw_a = (
            pe.join(_hint(hub, broadcast_state), "cust")
            .groupBy("part")
            .agg(F.sum(F.col("hub").cast("decimal(38,0)")).alias("raw"))
        )
        auth = _checkpoint(_rescale(raw_a, "part", "auth"), width)
        if i < iters - 1:  # the final round's hub update feeds nothing
            raw_h = (
                pe.join(_hint(auth, broadcast_state), "part")
                .groupBy("cust")
                .agg(F.sum(F.col("auth").cast("decimal(38,0)")).alias("raw"))
            )
            hub = _checkpoint(_rescale(raw_h, "cust", "hub"), width)
    return auth, hub


def _hits_oracle() -> str:
    cte = [
        "pe AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "nc AS (SELECT COUNT(DISTINCT cust) AS n FROM pe)",
        f"h0 AS (SELECT cust, {HITS_SCALE} // n AS hub"
        " FROM (SELECT DISTINCT cust FROM pe), nc)",
    ]
    for i in range(1, HITS_ITERS + 1):
        cte += [
            f"a{i}r AS MATERIALIZED (SELECT part, SUM(hub) AS raw"
            f" FROM pe JOIN h{i-1} USING (cust) GROUP BY part)",
            f"a{i}s AS (SELECT SUM(raw) AS s FROM a{i}r)",
            f"a{i} AS MATERIALIZED (SELECT part, CAST(CAST(raw AS HUGEINT) * {HITS_SCALE}"
            f" // s AS BIGINT) AS auth FROM a{i}r, a{i}s)",
        ]
        if i < HITS_ITERS:
            cte += [
                f"h{i}r AS MATERIALIZED (SELECT cust, SUM(auth) AS raw"
                f" FROM pe JOIN a{i} USING (part) GROUP BY cust)",
                f"h{i}s AS (SELECT SUM(raw) AS s FROM h{i}r)",
                f"h{i} AS MATERIALIZED (SELECT cust, CAST(CAST(raw AS HUGEINT) *"
                f" {HITS_SCALE} // s AS BIGINT) AS hub FROM h{i}r, h{i}s)",
            ]
    return (
        "WITH " + ",\n".join(cte)
        + f"\nSELECT part, auth FROM a{HITS_ITERS}"
        " ORDER BY auth DESC, part LIMIT 100"
    )


@register(
    "graph_hits_authorities",
    oracle=_hits_oracle(),
    tags=("graph", "iterative", "hits"),
)
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 authority parts after HITS_ITERS hub/authority rounds on the
    customer→part purchase graph, in scaled-integer arithmetic
    (bit-identical to the oracle's unrolled iterations)."""
    auth, _ = hits_scaled(purchase_edges(spark, sf_dir))
    return auth.orderBy(F.desc("auth"), F.asc("part")).limit(100)


# ---------------------------------------------------------------------------
# common-neighbor link prediction (bounded posting lists)
# ---------------------------------------------------------------------------

CN_MAX_DF = 100  # stop-part cap: parts bought by > this many custs dropped
CN_TOP_K = 50


def _capped_custs_per_part(pur: DataFrame) -> DataFrame:
    """Bounded posting lists: customers per part, kept only when the list
    has 2..CN_MAX_DF members — the shared pair-generation base for every
    neighborhood link predictor here (a part bought by half the planet
    predicts nothing and would otherwise emit 10^17 pairs in one task)."""
    return (
        pur.groupBy("part")
        .agg(F.collect_list("cust").alias("custs"))
        .filter((F.size("custs") >= 2) & (F.size("custs") <= CN_MAX_DF))
    )


def _posting_pairs(posting: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Emit (cust_a, cust_b[, *carry]) per posting list, a < b — ONE scan of
    the grouped table, never a corpus self-join; ``carry`` columns ride
    along per source list (e.g. the list's RA contribution)."""
    return (
        posting.select(F.explode("custs").alias("cust_a"), "custs", *carry)
        .select("cust_a", F.explode("custs").alias("cust_b"), *carry)
        .filter(F.col("cust_a") < F.col("cust_b"))
    )


@register(
    "graph_common_neighbors",
    oracle=f"""
    WITH pur AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    posting AS (SELECT part FROM pur GROUP BY part
                HAVING COUNT(*) BETWEEN 2 AND {CN_MAX_DF}),
    kept AS (SELECT p.cust, p.part FROM pur p JOIN posting USING (part)),
    nsz AS (SELECT cust, COUNT(*) AS n FROM kept GROUP BY cust),
    common AS (
      SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS n_common
      FROM kept a JOIN kept b ON a.part = b.part AND a.cust < b.cust
      GROUP BY a.cust, b.cust)
    SELECT cust_a, cust_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
    FROM common
    JOIN nsz na ON na.cust = cust_a
    JOIN nsz nb ON nb.cust = cust_b
    ORDER BY n_common DESC, cust_a, cust_b LIMIT {CN_TOP_K}
    """,
    tags=("graph", "link-prediction"),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by shared neighborhoods: the top-CN_TOP_K customer
    pairs ranked by how many (sub-ubiquitous) parts both bought, with the
    exact neighborhood Jaccard as the tie-quality column — the classic
    common-neighbors / Jaccard predictor, which is also user-user
    collaborative filtering's candidate generator.

    Scale: the SAME bounded-posting-list shape as the dedup pair family
    (one scan, group customers per part, emit pairs per list) with the
    stop-part cap CN_MAX_DF bounding every list's pair explosion — a part
    bought by half the planet predicts nothing and would otherwise emit
    10^17 pairs inside one task.  Per-customer degrees are counted over the
    SAME capped universe so the Jaccard stays internally consistent
    (the containment op's denominators move identically).  Ranking is
    TakeOrderedAndProject — no global sort materializes.
    """
    posting = _capped_custs_per_part(purchase_edges(spark, sf_dir))
    kept = posting.select("part", F.explode("custs").alias("cust"))
    nsz = kept.groupBy("cust").agg(F.count(F.lit(1)).alias("n"))
    common = (
        _posting_pairs(posting)
        .groupBy("cust_a", "cust_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = nsz.select(F.col("cust").alias("cust_a"), F.col("n").alias("na"))
    nb = nsz.select(F.col("cust").alias("cust_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "cust_a")
        .join(nb, "cust_b")
        .select(
            "cust_a",
            "cust_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("n_common"), F.asc("cust_a"), F.asc("cust_b"))
        .limit(CN_TOP_K)
    )


# ---------------------------------------------------------------------------
# Strongly connected components (forward/backward min-label coloring + peel)
# ---------------------------------------------------------------------------

SCC_MAX_PEEL = 8    # outer peel rounds; each assigns >= the SCC of the
#                     minimum remaining node, measured 4 at sf0.01
SCC_MAX_ITER = 30   # inner propagation fixpoint bound per peel (x2 substeps
#                     = 60 label hops; converged loops exit early, and a
#                     TRUNCATED inner state would assign WRONG labels — the
#                     loop raises instead, review r09)

_DEDGES_SQL = f"""
  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
   AND l1.l_partkey <> l2.l_partkey
  WHERE l1.l_quantity >= {QTY_THRESHOLD} AND l2.l_quantity >= {QTY_THRESHOLD}
    AND l1.l_quantity >= l2.l_quantity
"""


def directed_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edges: part a -> part b when some order holds
    both at quantity >= QTY_THRESHOLD with a's quantity >= b's.  Equal
    quantities emit both directions, and opposing inequalities across
    different orders close longer cycles — so the graph has real SCC
    structure (512 SCCs, largest 4, at sf0.01).

    Same posting-list shape as :func:`copurchase_edges`: ONE lineitem
    scan, one shuffle grouping (part, qty) items per order, pairs exploded
    per order — never a fact-table self-join.
    """
    l = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= QTY_THRESHOLD)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(F.col("l_partkey").alias("p"), F.col("l_quantity").alias("q"))
        ).alias("items")
    )
    return (
        per_order.filter(F.size("items") >= 2)
        .select(F.explode("items").alias("a"), "items")
        .select("a", F.explode("items").alias("b"))
        .filter((F.col("a.p") != F.col("b.p")) & (F.col("a.q") >= F.col("b.q")))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )


def scc_members(
    edges: DataFrame,
    max_peel: int = SCC_MAX_PEEL,
    max_iter: int = SCC_MAX_ITER,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(node, scc) with scc = min node id in the strongly connected
    component — the coloring/peeling SCC algorithm on the two shared
    primitives:

    Each peel round propagates two min-labels to fixpoint simultaneously:
    f(u) = min node REACHABLE FROM u (messages flow along reversed edges)
    and b(u) = min node REACHING u (along forward edges).  f(u) = b(u) = c
    proves u -> * c and c -> * u, i.e. u is in SCC(c); every member of that
    SCC carries the same (f, b), so whole SCCs settle atomically.  Settled
    nodes are peeled off (paths inside a surviving SCC never leave it, so
    removing other SCCs is safe) and the next round runs on the remainder.
    The minimum remaining node always satisfies f = b = itself, so every
    peel makes progress; sparse condensations settle many SCCs per peel
    (the sf0.01 fixture's 512 SCCs finish in 4).

    Scale shape: each inner step is two aggregate_messages supersteps
    (edge list scanned, only (node, label) shuffles) on the shared
    checkpointed loop; each peel shrinks the live edge list with two
    broadcast semi joins, materialized once per peel.  No transitive
    closure is ever built — the oracle does that (recursive CTE + mutual
    join), which is exactly the quadratic blowup this formulation avoids.
    """
    ed, parts = _materialize(edges.select("src", "dst"), iter_partitions)
    verts = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    assigned: DataFrame | None = None
    remaining = verts
    for _ in range(max_peel):
        rev = ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        state0 = remaining.select(
            "node", F.col("node").alias("f"), F.col("node").alias("b")
        )

        def step(st: DataFrame, ed=ed, rev=rev) -> DataFrame:
            fmin = aggregate_messages(
                rev, st.select("node", "f"),
                msg={"m": F.col("f")},
                aggs=[F.min("m").alias("fm")],
                broadcast_state=broadcast_state,
            )
            bmin = aggregate_messages(
                ed, st.select("node", "b"),
                msg={"m": F.col("b")},
                aggs=[F.min("m").alias("bm")],
                broadcast_state=broadcast_state,
            )
            return (
                st.join(_hint(fmin, broadcast_state), "node", "left")
                .join(_hint(bmin, broadcast_state), "node", "left")
                .select(
                    "node",
                    F.least(F.col("f"), F.coalesce("fm", F.col("f"))).alias("f"),
                    F.least(F.col("b"), F.coalesce("bm", F.col("b"))).alias("b"),
                )
            )

        # a TRUNCATED inner state is not merely imprecise here: the f = b
        # assignment test read against partial windows can match on wrong
        # labels (splitting a real SCC), so truncation must raise
        st = run_fixpoint(
            state0, step,
            max_iter=max_iter, compare_cols=["f", "b"], substeps=2,
            broadcast_state=broadcast_state,
            iter_partitions=iter_partitions,
            require_converged=True,
            # f and b are each min-propagations: per-column DECREASING
            # on a fixed node set
            monotone=True,
        )
        done = st.filter(F.col("f") == F.col("b")).select(
            "node", F.col("f").alias("scc")
        )
        assigned = done if assigned is None else assigned.unionByName(done)
        # checkpoint the accumulator so lineage stays O(1) across peels
        assigned = _checkpoint(assigned, parts)
        rem = st.filter(F.col("f") != F.col("b")).select("node")
        if rem.limit(1).count() == 0:
            break
        remaining = _checkpoint(rem, parts)
        ed = _checkpoint(
            ed.join(
                _hint(remaining.select(F.col("node").alias("src")), broadcast_state),
                "src", "left_semi",
            ).join(
                _hint(remaining.select(F.col("node").alias("dst")), broadcast_state),
                "dst", "left_semi",
            ),
            parts,
        )
    else:
        # budget exhausted with nodes unassigned: returning a partial
        # labeling would silently drop them — fail loud (review r09)
        raise RuntimeError(
            f"scc_members: {max_peel} peel rounds did not settle every node"
            " — raise max_peel (each round is guaranteed to assign at least"
            " the minimum remaining node's component)"
        )
    return assigned


@register(
    "graph_scc_members",
    oracle=f"""
    WITH RECURSIVE
    dedges AS ({_DEDGES_SQL}),
    dverts AS (SELECT DISTINCT node FROM
               (SELECT src AS node FROM dedges UNION SELECT dst FROM dedges)),
    reach(src, dst) AS (
      SELECT node, node FROM dverts
      UNION
      SELECT r.src, e.dst FROM reach r JOIN dedges e ON e.src = r.dst),
    scc AS (
      SELECT r1.src AS node, MIN(r1.dst) AS scc
      FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
      GROUP BY r1.src)
    SELECT node, scc FROM scc ORDER BY node
    """,
    tags=("graph", "iterative", "scc"),
)
def graph_scc_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED co-purchase graph
    (quantity-ordered edges) by min-label coloring + peeling, vs a DuckDB
    transitive-closure-and-mutual-reach oracle on the same graph."""
    return scc_members(directed_copurchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# SCC condensation: topological levels of the component DAG
# ---------------------------------------------------------------------------

COND_MAX_ITER = 12  # fixture DAG depth is 3; each round advances >= 1 level


def condensation_levels(
    edges: DataFrame,
    broadcast_state: bool = True,
    iter_partitions: int | None = None,
) -> DataFrame:
    """(scc, level, n_members): contract each strongly connected component
    of the directed graph to one vertex and compute every component's
    topological level = its longest path from any source component — the
    scheduling depth a DAG executor (or a dependency-ordered backfill)
    assigns.  Composition of the two SCC/fixpoint primitives: labels from
    :func:`scc_members`, condensed edges by relabeling endpoints (two
    broadcast joins + distinct), then a max-propagation fixpoint
    (level(n) = max over predecessors of level+1, init 0) that converges
    in DAG-depth rounds — the longest path ending anywhere always starts
    at an in-degree-0 component, so the fixpoint equals
    longest-path-from-source without enumerating paths.  The oracle DOES
    enumerate (source-rooted recursive CTE + MAX), which is exactly the
    exponential-path blowup the fixpoint avoids; the UNION dedup bounds
    it to (component, depth) pairs at fixture scale.
    """
    # materialize the edge derivation ONCE: scc_members scans it through
    # its peel rounds and the relabeling below scans it again — handing
    # both the same checkpoint stops the (expensive) posting-list plan
    # from executing twice (review r09)
    ed, _ = _materialize(edges.select("src", "dst"), iter_partitions)
    scc = scc_members(
        ed, broadcast_state=broadcast_state, iter_partitions=iter_partitions
    )
    s_src = scc.select(F.col("node").alias("src"), F.col("scc").alias("s_scc"))
    s_dst = scc.select(F.col("node").alias("dst"), F.col("scc").alias("d_scc"))
    ced, parts = _materialize(
        ed.join(_hint(s_src, broadcast_state), "src")
        .join(_hint(s_dst, broadcast_state), "dst")
        .filter(F.col("s_scc") != F.col("d_scc"))
        .select(F.col("s_scc").alias("src"), F.col("d_scc").alias("dst"))
        .distinct(),
        iter_partitions,
    )
    state0 = scc.select(F.col("scc").alias("node")).distinct().withColumn(
        "level", F.lit(0).cast("long")
    )

    def step(st: DataFrame) -> DataFrame:
        cand = aggregate_messages(
            ced, st,
            msg={"m": F.col("level") + 1},
            aggs=[F.max("m").alias("cand")],
            broadcast_state=broadcast_state,
        )
        return st.join(_hint(cand, broadcast_state), "node", "left").select(
            "node",
            F.greatest(F.col("level"), F.coalesce("cand", F.col("level"))).alias(
                "level"
            ),
        )

    # truncated max-propagation would return silently UNDERESTIMATED
    # levels (monotone state, no way to tell from the values) — raise
    levels = run_fixpoint(
        state0, step,
        max_iter=COND_MAX_ITER, compare_cols=["level"], substeps=2,
        broadcast_state=broadcast_state,
        iter_partitions=iter_partitions,
        require_converged=True,
        # levels are a max-propagation: per-row INCREASING, fixed node set
        monotone=True,
    )
    members = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n_members"))
    return levels.select(F.col("node").alias("scc"), "level").join(
        members, "scc"
    )


@register(
    "graph_scc_condensation_levels",
    oracle=f"""
    WITH RECURSIVE
    dedges AS ({_DEDGES_SQL}),
    dverts AS (SELECT DISTINCT node FROM
               (SELECT src AS node FROM dedges UNION SELECT dst FROM dedges)),
    reach(src, dst) AS (
      SELECT node, node FROM dverts
      UNION
      SELECT r.src, e.dst FROM reach r JOIN dedges e ON e.src = r.dst),
    scc AS (
      SELECT r1.src AS node, MIN(r1.dst) AS scc
      FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
      GROUP BY r1.src),
    cedges AS (SELECT DISTINCT a.scc AS src, b.scc AS dst
               FROM dedges e
               JOIN scc a ON a.node = e.src JOIN scc b ON b.node = e.dst
               WHERE a.scc <> b.scc),
    sccs AS (SELECT DISTINCT scc FROM scc),
    sources AS (SELECT scc FROM sccs
                WHERE scc NOT IN (SELECT dst FROM cedges)),
    paths(n, d) AS (
      SELECT scc, 0 FROM sources
      UNION
      SELECT c.dst, p.d + 1 FROM paths p JOIN cedges c ON c.src = p.n),
    lvl AS (SELECT n AS scc, MAX(d) AS level FROM paths GROUP BY n)
    SELECT l.scc, CAST(l.level AS BIGINT) AS level,
           CAST(m.n AS BIGINT) AS n_members
    FROM lvl l JOIN (SELECT scc, COUNT(*) AS n FROM scc GROUP BY scc) m
      USING (scc)
    ORDER BY scc
    """,
    tags=("graph", "iterative", "scc", "dag"),
)
def graph_scc_condensation_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological levels of the directed co-purchase graph's SCC
    condensation (512 components, depth 3 at sf0.01) — longest path from a
    source component, by max-propagation fixpoint vs the oracle's
    source-rooted path enumeration."""
    return condensation_levels(
        directed_copurchase_edges(spark, sf_dir)
    ).orderBy("scc")


# ---------------------------------------------------------------------------
# resource-allocation link prediction (transcendental-free Adamic-Adar)
# ---------------------------------------------------------------------------

RA_SCALE = 10**12  # fixed-point scale for the 1/deg contributions
RA_TOP_K = 50


@register(
    "graph_resource_allocation_links",
    oracle=f"""
    WITH pur AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    posting AS (SELECT part, COUNT(*) AS d FROM pur GROUP BY part
                HAVING COUNT(*) BETWEEN 2 AND {CN_MAX_DF}),
    kept AS (SELECT p.cust, p.part, posting.d
             FROM pur p JOIN posting USING (part)),
    scored AS (
      SELECT a.cust AS cust_a, b.cust AS cust_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM({RA_SCALE} // a.d) AS BIGINT) AS ra_score_scaled
      FROM kept a JOIN kept b ON a.part = b.part AND a.cust < b.cust
      GROUP BY a.cust, b.cust)
    SELECT cust_a, cust_b, n_common, ra_score_scaled
    FROM scored
    ORDER BY ra_score_scaled DESC, cust_a, cust_b LIMIT {RA_TOP_K}
    """,
    tags=("graph", "link-prediction"),
)
def graph_resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by the resource-allocation index (Zhou/Lu/Zhang's
    RA, the division-only member of the Adamic-Adar family): score(a,b) =
    sum over shared neighbors z of 1/deg(z), so a part bought by 3
    customers is stronger evidence than one bought by 90.  Computed in
    fixed-point (RA_SCALE // deg, integer floor-division) so the
    distributed sum is BIGINT-exact and bit-identical to the oracle — the
    log() in Adamic-Adar proper is exactly what cross-engine float
    identity cannot survive, and RA is its standard transcendental-free
    sibling (often the better predictor empirically).

    Scale: identical bounded-posting-list shape as
    :func:`graph_common_neighbors` — one scan, per-part customer lists
    capped at CN_MAX_DF, pairs emitted per list each carrying the list's
    own floor(RA_SCALE/deg) contribution, summed per pair.  Max term
    RA_SCALE/2 and bounded shared-part counts keep the sum far under
    2^63.  Ranking is TakeOrderedAndProject.
    """
    posting = _capped_custs_per_part(purchase_edges(spark, sf_dir)).select(
        "custs",
        # integral floor-division (Spark's `div`), NOT double `/` —
        # exactness must not ride on float rounding staying clear of
        # integer boundaries
        F.expr(f"{RA_SCALE}L div size(custs)").alias("contrib"),
    )
    return (
        _posting_pairs(posting, carry=("contrib",))
        .groupBy("cust_a", "cust_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("contrib").alias("ra_score_scaled"),
        )
        .orderBy(F.desc("ra_score_scaled"), F.asc("cust_a"), F.asc("cust_b"))
        .limit(RA_TOP_K)
    )


# ---------------------------------------------------------------------------
# per-node clustering coefficients (local triangle density)
# ---------------------------------------------------------------------------


@register(
    "graph_clustering_coefficients",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    und AS (SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
    tris AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
      JOIN edges e2 ON e2.src = e1.dst
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    per_node AS (
      SELECT node, COUNT(*) AS n_tri FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
      GROUP BY node)
    SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
           CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri,
           CAST((2000000 * COALESCE(p.n_tri, 0)) // (d.deg * (d.deg - 1))
                AS BIGINT) AS clustering_e6
    FROM deg d LEFT JOIN per_node p USING (node)
    WHERE d.deg >= 2
    ORDER BY d.node
    """,
    tags=("graph", "triangles", "clustering"),
)
def graph_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the co-purchase graph:
    2 * triangles_at(v) / (deg(v) * (deg(v)-1)) in e6 fixed-point floor
    division — the transitivity profile (who sits in tight communities vs
    on bridges), companion to the global triangle count.

    Scale: triangles enumerate once via the same wedge-join + closure as
    :func:`triangle_count` (canonical a<b<c, so each triangle contributes
    exactly one row, then fans out to its 3 members — a 3x row multiplier
    on TRIANGLES, not edges); degrees are one map-side-combinable count
    over the symmetric adjacency.  The coefficient is exact integers end
    to end — no float ratio can disagree between engines.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        undirect(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 2)
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    per_node = (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.expr(
                "(2000000 * coalesce(n_tri, 0)) div (deg * (deg - 1))"
            ).alias("clustering_e6"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# ANF / HyperBall: neighborhood function + effective diameter (r11)
# ---------------------------------------------------------------------------

ANF_K = 4        # Flajolet-Martin registers per node (stochastic averaging)
ANF_ROUNDS = 4   # radii computed: N(v, 1..ANF_ROUNDS)
ANF_MAXB = 39    # highest settable register bit (keeps 2^b sums in BIGINT)
ANF_PHI = 77351  # FM correction factor phi = 0.77351, as the e5 ratio
ANF_INV = 100000  # ... estimate = 2^b * ANF_INV / ANF_PHI


def _anf_init_sql(k: int, dialect: str) -> str:
    """Register init for mask ``k``: one bit at the trailing-zero count of
    an md5-derived 60-bit hash (geometric, P(bit j) = 2^-(j+1) — Flajolet-
    Martin), capped at ANF_MAXB.  tz via the identity
    bit_count((h & -h) - 1); h & -h isolates the lowest set bit."""
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(concat(CAST(node AS STRING), "
            f"':anf{k}')), 1, 15), 16, 10) AS BIGINT)"
        )
        one = "CAST(1 AS BIGINT)"
    else:
        h = h60_sql(f"node::VARCHAR || ':anf{k}'")
        one = "1::BIGINT"
    return (
        f"({one} << least(bit_count((({h}) & (-({h}))) - 1), {ANF_MAXB}))"
    )


def _anf_pow_sql(mcols: list[str]) -> str:
    """Sum of per-register FM powers 2^b (b = lowest ZERO bit position):
    (m + 1) & ~m isolates that bit directly — no log, no float."""
    return " + ".join(f"((({c}) + 1) & ((-({c})) - 1))" for c in mcols)


def _anf_step(und: DataFrame, state: DataFrame) -> DataFrame:
    """One ANF superstep, un-materialized (module-level so the plan audit
    in tests/test_plans.py can inspect a single round): BIT_OR the
    neighbors' masks per destination, merge into the vertex state."""
    mcols = [f"m{k}" for k in range(ANF_K)]
    msgs = aggregate_messages(
        und, state,
        msg={c: F.col(c) for c in mcols},
        aggs=[F.bit_or(c).alias(f"o_{c}") for c in mcols],
    )
    return state.join(_hint(msgs, True), "node", "left").select(
        "node",
        *[
            F.col(c).bitwiseOR(F.coalesce(F.col(f"o_{c}"), F.lit(0))).alias(c)
            for c in mcols
        ],
    )


def _anf_oracle() -> str:
    mcols = [f"m{k}" for k in range(ANF_K)]
    init = ",\n        ".join(
        f"{_anf_init_sql(k, 'duck')} AS m{k}" for k in range(ANF_K)
    )
    rounds = []
    for r in range(1, ANF_ROUNDS + 1):
        ors = ", ".join(f"BIT_OR(x.{c}) AS o{c}" for c in mcols)
        merge = ", ".join(f"s.{c} | COALESCE(n.o{c}, 0) AS {c}" for c in mcols)
        rounds.append(f"""
    s{r} AS MATERIALIZED (
      SELECT s.node, {merge}
      FROM s{r - 1} s LEFT JOIN (
        SELECT u.dst AS node, {ors}
        FROM undirected u JOIN s{r - 1} x ON x.node = u.src
        GROUP BY u.dst) n ON n.node = s.node)""")
    aggs = "\n      UNION ALL ".join(
        f"SELECT {r} AS radius, CAST(SUM({_anf_pow_sql(mcols)}) AS BIGINT)"
        f" AS pow_sum FROM s{r}"
        for r in range(1, ANF_ROUNDS + 1)
    )
    return f"""
    WITH {_UND_CTES},
    verts AS MATERIALIZED (SELECT DISTINCT src AS node FROM undirected),
    s0 AS MATERIALIZED (
      SELECT node,
        {init}
      FROM verts),
    {",".join(rounds)},
    agg AS MATERIALIZED ({aggs}),
    est AS MATERIALIZED (
      SELECT radius, pow_sum,
             CAST(pow_sum::HUGEINT * {ANF_INV} // {ANF_K * ANF_PHI} AS BIGINT)
               AS est_pairs
      FROM agg)
    SELECT e.radius, e.pow_sum, e.est_pairs,
           CAST(CASE WHEN e.est_pairs::HUGEINT * 10 >= f.est_pairs::HUGEINT * 9
                THEN 1 ELSE 0 END AS BIGINT) AS d90
    FROM est e, (SELECT est_pairs FROM est WHERE radius = {ANF_ROUNDS}) f
    ORDER BY e.radius
    """


@register(
    "graph_anf_effective_diameter",
    oracle=_anf_oracle(),
    tags=("graph", "iterative", "sketch", "anf"),
)
def graph_anf_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate Neighborhood Function (Palmer et al., ANF KDD'02 /
    Boldi-Vigna HyperBall): per radius r, estimate the number of reachable
    (source, target) pairs within r hops via per-node Flajolet-Martin
    bitmask sketches, and flag the 90%-effective-diameter radius (smallest
    r whose pair estimate reaches 90% of the horizon's).  Registers are
    md5-derived (functions/hashing.h60) and every estimator step is
    integer ((m+1) & ~m isolates the lowest zero bit's power 2^b — no log,
    no float), so the oracle replays the IDENTICAL register arithmetic
    unrolled and the driver's value-hash must match bit-for-bit.

    Scale (the reason ANF exists): exact neighborhood functions need
    all-pairs BFS — O(n^2) state.  Here per-node state is ANF_K 64-bit
    masks regardless of graph size (the OUTPUT totals are BIGINT, exact
    for graphs to ~4M nodes at ANF_MAXB=39 — 4 * 2^39 * n < 2^63; beyond
    that, widen the outputs to DECIMAL or emit per-node estimates — and
    the multiply runs in DECIMAL(38,0)/HUGEINT so it cannot wrap); each round is one aggregate_messages
    superstep (shuffle carries (dst, 4 longs)), masks merge by BIT_OR
    (map-side combinable, order-independent), and rounds localCheckpoint
    via _materialize so lineage stays flat.  This is the diameter/
    reachability profile a 100 TB web-graph crawl audit actually runs.
    """
    und, _ = _materialize(undirect(copurchase_edges(spark, sf_dir)))
    verts = und.select(F.col("src").alias("node")).distinct()
    mcols = [f"m{k}" for k in range(ANF_K)]
    state, _ = _materialize(
        verts.select(
            "node",
            *[
                F.expr(_anf_init_sql(k, "spark")).alias(c)
                for k, c in enumerate(mcols)
            ],
        )
    )
    per_round = []
    for r in range(1, ANF_ROUNDS + 1):
        state, _ = _materialize(_anf_step(und, state))
        per_round.append(
            state.agg(
                F.sum(
                    F.expr(_anf_pow_sql(mcols)).cast("decimal(38,0)")
                ).alias("pow_raw")
            ).select(
                F.lit(r).cast("long").alias("radius"),
                F.expr("CAST(pow_raw AS BIGINT)").alias("pow_sum"),
            )
        )
    rounds = reduce(DataFrame.unionByName, per_round)
    est = rounds.select(
        "radius", "pow_sum",
        F.expr(
            # decimal intermediate: the multiply must not wrap in BIGINT
            # where the oracle's HUGEINT twin raises (review r11)
            f"CAST((CAST(pow_sum AS DECIMAL(38,0)) * {ANF_INV}) "
            f"div {ANF_K * ANF_PHI} AS BIGINT)"
        ).alias("est_pairs"),
    )
    final = est.filter(F.col("radius") == ANF_ROUNDS).select(
        F.col("est_pairs").alias("est_final")
    )
    return (
        est.crossJoin(F.broadcast(final))
        .select(
            "radius", "pow_sum", "est_pairs",
            F.expr(
                "CAST(CASE WHEN CAST(est_pairs AS DECIMAL(38,0)) * 10 >= "
                "CAST(est_final AS DECIMAL(38,0)) * 9 "
                "THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("d90"),
        )
        .orderBy("radius")
    )
