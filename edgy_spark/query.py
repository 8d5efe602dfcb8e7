"""Traversal-to-join compiler — set-at-a-time queries over graph snapshots.

The reference's demo queries are monadic compositions of point reads
(/root/reference/app/Main.hs:118-157): enumerate-all + filterM (scan+filter),
``concatMapM (getRelated …)`` (k-hop flatMap), ``(++)`` (union) and
``Data.List.(\\\\)`` (bag difference).  This module compiles the same shapes
into DataFrame plans so Catalyst executes them as distributed joins:

- ``NodeSet`` is a *bag* of nodes (duplicates preserved — ``concatMapM``
  over parallel edges duplicates results, and the parity tests depend on it).
- ``hop(rel)`` = equi-join through the relation's edge table; the node side
  broadcasts when small, and the join is a plain shuffled hash join at scale.
- ``minus_bag`` = EXCEPT ALL on node id — exactly ``(\\\\)``'s
  one-occurrence-per-right-element semantics (SURVEY §7.4 trap 1).
- ``anti`` = left-anti join, ``union`` = unionAll.

The reference's O(N)-scan ``lookupByName`` (app/Main.hs:132-140) becomes a
predicate-pushdown columnar scan + unique assertion.

Small graphs run on the driver: a ``NodeSet`` built from a store
``Snapshot`` whose tables all fit the store's Arrow tier
(``Snapshot.local``) carries a ``pyarrow.Table`` instead of a plan, and
``hop``/``union``/``minus_bag``/``anti``/``distinct``/``rehydrate``/
``filter(**eq)``/``lookup`` keep the same bag semantics in Arrow — no
Spark job (Pregelix's choice of physical plan by input size, with
"small" meaning "fits on the driver").  ``.df`` materialises the rows as
a LocalRelation for everything else, and an operand without a table
(e.g. after ``filter(condition=Column)``, or a ``hop`` whose result would
pass the tier's size limit) sends the chain to the DataFrame path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edgy_spark.schema import GraphSchema
from edgy_spark.storage import Snapshot, arrow_column, local_df, local_limit, to_rows


class LookupError_(Exception):
    """0 or >1 matches where exactly one was required (app/Main.hs:137-140)."""


def _with_defaults(df: DataFrame, nt) -> DataFrame:
    """Unset OPTIONAL attributes are stored as NULL but READ as the declared
    default (mempty analogue — same rule as Transaction.get_attribute).
    Every path that materializes node attributes into the set-at-a-time
    layer (scan, hop, rehydrate) must apply this projection, so a
    filter(tag=<default>) matches nodes whose attr was never written no
    matter how the NodeSet was built (ADVICE r06: it was scan-only, and
    post-traversal filters missed never-written attrs)."""
    return df.select(
        "id",
        *[
            (
                F.coalesce(F.col(a.name), F.lit(a.default)).alias(a.name)
                if (not a.required and a.default is not None)
                else F.col(a.name)
            )
            for a in nt.attrs
        ],
    )


def _local_nodes(snap, schema: GraphSchema, node_type: str) -> pa.Table | None:
    """The driver-side node table with READ defaults applied (the Arrow
    twin of ``_with_defaults(snap.nodes(...))``), or None when ``snap`` is
    not a store snapshot or the table is not on the driver."""
    if not isinstance(snap, Snapshot):
        return None
    tbl = snap.local(f"n_{node_type}")
    if tbl is None:
        return None
    for a in schema.node_type(node_type).attrs:
        if not a.required and a.default is not None:
            i = tbl.schema.get_field_index(a.name)
            default = arrow_column([a.default], a.spark_type())[0]
            tbl = tbl.set_column(i, tbl.schema.field(i), pc.coalesce(tbl[a.name], default))
    return tbl


def _match(
    left: pa.ChunkedArray, right: pa.ChunkedArray, max_rows: float = np.inf
) -> tuple[np.ndarray, np.ndarray] | None:
    """Inner equi-join of two non-null int64 key columns as index pairs:
    one ``(i, j)`` per ``left[i] == right[j]``, duplicates on both sides
    kept (bag semantics); None, before building anything, when there would
    be more than ``max_rows`` pairs."""
    lk = left.to_numpy()
    rk = right.to_numpy()
    order = np.argsort(rk, kind="stable")
    lo = np.searchsorted(rk[order], lk, "left")
    cnt = np.searchsorted(rk[order], lk, "right") - lo
    if cnt.sum() > max_rows:
        return None
    li = np.repeat(np.arange(len(lk)), cnt)
    within = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return li, order[np.repeat(lo, cnt) + within]


def _eq_mask(tbl: pa.Table, name: str, value, dt: T.DataType):
    """``tbl[name] == value`` with Spark's answer, or None when only Spark
    can say (a value that needs Spark's casts, NaN equality, nested types)."""
    if value is None:
        return pa.array(np.zeros(tbl.num_rows, bool))  # = NULL matches nothing
    if isinstance(value, float) and value != value:
        return None
    try:
        return pc.fill_null(pc.equal(tbl[name], arrow_column([value], dt)[0]), False)
    except Exception:  # noqa: BLE001 - Spark decides, and raises if it must
        return None


class NodeSet:
    def __init__(
        self,
        snap: Snapshot,
        schema: GraphSchema,
        node_type: str,
        df: DataFrame | None = None,
        tbl: pa.Table | None = None,
    ):
        self.snap = snap
        self.schema = schema
        self.node_type = node_type
        self._df = df  # bag of node rows (id + attrs) as a plan ...
        self.tbl = tbl  # ... or as a driver-side table

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self._df = local_df(self.snap._store.spark, self.tbl)
        return self._df

    def _with(self, tbl: pa.Table, node_type: str | None = None) -> "NodeSet":
        return NodeSet(self.snap, self.schema, node_type or self.node_type, tbl=tbl)

    # -- scan / filter / project ------------------------------------------

    @classmethod
    def scan(cls, snap: Snapshot, schema: GraphSchema, node_type: str) -> "NodeSet":
        nt = schema.node_type(node_type)  # plan-time validation
        tbl = _local_nodes(snap, schema, node_type)
        if tbl is not None:
            return cls(snap, schema, node_type, tbl=tbl)
        df = _with_defaults(snap.nodes(node_type), nt)
        return cls(snap, schema, node_type, df)

    #: above this many index hits, lookup abandons the point-read plan (the
    #: literal id list would bloat the filter) and joins ids to the table
    LOOKUP_POINT_LIMIT = 1000

    @classmethod
    def lookup(cls, snap: Snapshot, schema: GraphSchema, node_type: str, **eq) -> "NodeSet":
        """Equality lookup that uses a committed secondary index when one
        matches an ``attr=value`` predicate.  The index read prunes to ONE
        bucket of a two-column projection; the matching ids (an equality
        hit — small by construction) are then collected and pushed into the
        node-table read as a LITERAL id predicate, which parquet row-group
        min/max skipping — and bucket pruning, under ``bucket_nodes`` —
        turns into a point read.  (A lazy ids⋈nodes join would NOT give
        this: OSS Spark has no dynamic bucket/file pruning off a join key,
        so the join side would scan the whole table.)  Lookups matching
        more than LOOKUP_POINT_LIMIT ids keep the join plan instead.

        Falls back to ``scan().filter()`` when no index applies (none
        configured, dropped by a bulk load, or stale against the current
        schema), so results are identical either way — including matches on
        never-written optional attributes, since the index stores
        default-coalesced READ values."""
        nt = schema.node_type(node_type)
        for name in eq:
            nt.attr(name)  # plan-time validation → UnknownAttributeError
        if _local_nodes(snap, schema, node_type) is not None:
            # the index answers exactly what scan+filter does, and on the
            # driver the filter is the cheaper of the two
            return cls.scan(snap, schema, node_type).filter(**eq)
        for name, value in eq.items():
            idx = snap.attr_index(node_type, name)
            if idx is None:
                continue
            ids = idx.filter(F.col(name) == value).select("id")
            nodes = _with_defaults(snap.nodes(node_type), nt)
            head = ids.limit(cls.LOOKUP_POINT_LIMIT + 1).collect()
            if len(head) <= cls.LOOKUP_POINT_LIMIT:
                id_list = [r[0] for r in head]
                hit_df = (
                    nodes.filter(F.col("id").isin(id_list))
                    if id_list
                    else nodes.filter(F.lit(False))
                )
            else:
                hit_df = ids.join(nodes, "id")
            hit = cls(snap, schema, node_type, hit_df)
            rest = {k: v for k, v in eq.items() if k != name}
            return hit.filter(**rest) if rest else hit
        return cls.scan(snap, schema, node_type).filter(**eq)

    def filter(self, condition: Column | None = None, **eq) -> "NodeSet":
        nt = self.schema.node_type(self.node_type)
        for name in eq:
            nt.attr(name)  # plan-time validation → UnknownAttributeError
        if self.tbl is not None and condition is None:
            tbl = self.tbl
            for name, value in eq.items():
                mask = _eq_mask(tbl, name, value, nt.attr(name).spark_type())
                if mask is None:
                    break
                tbl = tbl.filter(mask)
            else:
                return self._with(tbl)
        df = self.df
        if condition is not None:
            df = df.filter(condition)
        for name, value in eq.items():
            nt.attr(name)  # plan-time validation → UnknownAttributeError
            df = df.filter(F.col(name) == value)
        return NodeSet(self.snap, self.schema, self.node_type, df)

    def attrs(self, *names: str) -> DataFrame:
        nt = self.schema.node_type(self.node_type)
        for n in names:
            nt.attr(n)
        return self.df.select("id", *names)

    # -- traversal ---------------------------------------------------------

    def hop(
        self, rel_name: str, keep_order: bool = False, with_source: bool = False
    ) -> "NodeSet":
        """Follow a relation for every node in the set (bag semantics:
        one output row per edge, duplicates preserved — ``concatMapM``).

        Scale: two equi-joins (nodes⋈edges⋈targets); Catalyst broadcasts
        whichever side is small and shuffles on the key otherwise.  With
        ``keep_order`` the per-source adjacency order (pos) is carried so
        downstream sorts can reproduce the reference's list order.
        """
        side = self.schema.relation(rel_name)
        if side.source != self.node_type:
            raise TypeError(
                f"relation {rel_name!r} starts at {side.source!r}, "
                f"not {self.node_type!r}"
            )
        if self.tbl is not None:
            edges = self.snap.local(f"e_{side.table}")
            targets = _local_nodes(self.snap, self.schema, side.target)
            if edges is not None and targets is not None:
                fr, to, order = (
                    ("src", "dst", "pos") if side.forward or side.symmetric
                    else ("dst", "src", "ipos")
                )
                # the result is bounded like the tables: a fan-out past the
                # tier's limit (a hub, a wide seed) is left to Spark, which
                # can spill (+16: the pos / src_id columns a hop may add)
                row_bytes = targets.nbytes / max(targets.num_rows, 1) + 16
                budget = local_limit(self.snap._store.spark) / row_bytes
                pairs = _match(self.tbl["id"], edges[fr], budget)
                if pairs is not None:
                    li, ei = pairs
                    # target ids are unique: at most one target per edge
                    k, ti = _match(edges[to].take(ei), targets["id"])
                    out = targets.take(ti)
                    if keep_order:
                        out = out.append_column("pos", edges[order].take(ei[k]))
                    if with_source:
                        out = out.append_column("src_id", self.tbl["id"].take(li[k]))
                    return self._with(out, side.target)
        edges = self.snap.edge_table(side.table)
        if side.forward or side.symmetric:
            e = edges.select(
                F.col("src").alias("_from"), F.col("dst").alias("_to"), "pos"
            )
        else:
            e = edges.select(
                F.col("dst").alias("_from"), F.col("src").alias("_to"),
                F.col("ipos").alias("pos"),
            )
        targets = _with_defaults(
            self.snap.nodes(side.target), self.schema.node_type(side.target)
        )
        out = (
            self.df.select(F.col("id").alias("_from"))
            .join(e, "_from")
            .join(targets, F.col("_to") == targets.id)
        )
        cols = list(targets.columns)
        if keep_order:
            cols.append("pos")
        sel = out.select(*cols, F.col("_from").alias("src_id")) if with_source else out.select(*cols)
        return NodeSet(self.snap, self.schema, side.target, sel)

    # -- set / bag algebra -------------------------------------------------

    def union(self, other: "NodeSet") -> "NodeSet":
        self._same_type(other)
        if self.tbl is not None and other.tbl is not None:
            return self._with(pa.table({"id": pa.chunked_array(
                self.tbl["id"].chunks + other.tbl["id"].chunks, pa.int64()
            )}))
        return NodeSet(
            self.snap, self.schema, self.node_type,
            self.df.select("id").unionAll(other.df.select("id")),
        )

    def minus_bag(self, other: "NodeSet") -> "NodeSet":
        """Bag difference on id — ``Data.List.(\\\\)`` semantics."""
        self._same_type(other)
        if self.tbl is not None and other.tbl is not None:
            # EXCEPT ALL: each right occurrence cancels one left occurrence
            ids, n = np.unique(self.tbl["id"].to_numpy(), return_counts=True)
            rids, rn = np.unique(other.tbl["id"].to_numpy(), return_counts=True)
            at = np.searchsorted(rids, ids)
            hit = at < len(rids)
            hit[hit] = rids[at[hit]] == ids[hit]
            n[hit] -= rn[at[hit]]
            keep = np.repeat(ids, np.maximum(n, 0))
            return self._with(pa.table({"id": pa.array(keep, pa.int64())}))
        return NodeSet(
            self.snap, self.schema, self.node_type,
            self.df.select("id").exceptAll(other.df.select("id")),
        )

    def anti(self, other: "NodeSet") -> "NodeSet":
        """Anti-join on id — removes ALL occurrences (document the delta
        from minus_bag; both are exposed per SURVEY §7.4)."""
        self._same_type(other)
        if self.tbl is not None and other.tbl is not None:
            gone = pc.is_in(self.tbl["id"], value_set=other.tbl["id"].combine_chunks())
            return self._with(self.tbl.filter(pc.invert(gone)))
        return NodeSet(
            self.snap, self.schema, self.node_type,
            self.df.join(other.df.select("id"), "id", "left_anti"),
        )

    def distinct(self) -> "NodeSet":
        if self.tbl is not None:
            try:
                out = self.tbl.group_by(self.tbl.column_names, use_threads=False).aggregate([])
                return self._with(out.select(self.tbl.column_names))
            except pa.ArrowException:  # a column type Arrow cannot group
                pass
        return NodeSet(self.snap, self.schema, self.node_type, self.df.distinct())

    def rehydrate(self) -> "NodeSet":
        """Re-attach attribute columns after id-only algebra."""
        nodes = _local_nodes(self.snap, self.schema, self.node_type)
        if self.tbl is not None and nodes is not None:
            # left join on a unique key: a missing node keeps its id, NULL attrs
            li, ni = _match(self.tbl["id"], nodes["id"])
            take = np.full(self.tbl.num_rows, -1)
            take[li] = ni
            out = nodes.take(pa.array(take, mask=take < 0))
            return self._with(out.set_column(0, out.schema.field(0), self.tbl["id"]))
        nodes = _with_defaults(
            self.snap.nodes(self.node_type), self.schema.node_type(self.node_type)
        )
        ids = self.df.select("id")
        return NodeSet(
            self.snap, self.schema, self.node_type, ids.join(nodes, "id", "left")
        )

    def _same_type(self, other: "NodeSet") -> None:
        if other.node_type != self.node_type:
            raise TypeError(
                f"set algebra over different node types: "
                f"{self.node_type!r} vs {other.node_type!r}"
            )

    # -- terminal ----------------------------------------------------------

    def ids(self) -> list[int]:
        if self.tbl is not None:
            return self.tbl["id"].to_pylist()
        return [r[0] for r in self.df.select("id").collect()]

    def values(self, name: str) -> list:
        """One column of the bag, with the types ``collect`` returns."""
        if self.tbl is not None:
            col = self.tbl.select([name])
            return [r[0] for r in to_rows(col, _struct(col))]
        return [r[0] for r in self.df.select(name).collect()]

    def unique(self) -> dict:
        """Exactly-one assertion (lookupByName, app/Main.hs:137-140)."""
        if self.tbl is not None:
            n = self.tbl.num_rows
            if n != 1:
                raise LookupError_(f"expected exactly one {self.node_type}, found {n}")
            return to_rows(self.tbl, _struct(self.tbl))[0].asDict()
        rows = self.df.limit(2).collect()
        if len(rows) != 1:
            n = self.df.count() if len(rows) > 1 else 0
            raise LookupError_(f"expected exactly one {self.node_type}, found {n or len(rows)}")
        return rows[0].asDict()


def _struct(tbl: pa.Table) -> T.StructType:
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(tbl.schema)
