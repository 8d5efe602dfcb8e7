"""The 12-operation surface of the reference engine, Spark-first.

Public API parity with /root/reference/src/Edgy.hs:12-46 — each operation
cites its counterpart:

=====================  =====================================================
reference              here
=====================  =====================================================
runEdgy                ``Engine.run(fn)`` — retried atomic transaction
getUniverse            implicit: the catalog; ``Transaction.all_nodes(T)``
                       is the Universe existence-relation scan
                       (Schema.hs:56-57, app/Main.hs:132-136)
newNode                ``Transaction.new_node`` (Operations.hs:165-195)
deleteNode             ``Transaction.delete_node`` — cascading edge cleanup
                       (Operations.hs:197-218)
getAttribute           ``Transaction.get_attribute`` (Operations.hs:220-244)
setAttribute           ``Transaction.set_attribute`` (Operations.hs:246-271)
getRelated             ``Transaction.get_related`` — cardinality-shaped
                       (Operations.hs:273-287)
isRelated              ``Transaction.is_related`` (Operations.hs:289-301)
setRelated             ``Transaction.set_related`` (Operations.hs:303-319)
addRelated             ``Transaction.add_related`` — prepend, parallel edges
                       allowed (Operations.hs:321-334)
removeRelated          ``Transaction.remove_related`` — removes ALL copies
                       (Operations.hs:336-349)
clearRelated           ``Transaction.clear_related`` (Operations.hs:351-365)
=====================  =====================================================

Semantics preserved (SURVEY §7.4):
- parallel edges + prepend order: edges carry ``pos`` (order in src's
  forward list) and ``ipos`` (order in dst's inverse list); a prepend is
  min-1, so no existing row is rewritten;
- cardinality checked on READ, not write (Operations.hs:284-287);
- symmetric relations store both orientations, written atomically — one
  logical edge, visible from both endpoints (Schema.hs:298-307);
- transaction = snapshot-pinned reads + one atomic manifest publish;
  conflicts retry like STM (Operations.hs:73-89);
- deleteNode leaves no dangling edges (and unlike the reference, also no
  orphaned adjacency refs — SURVEY §7.4 trap 5, deliberately cleaner).

These are POINT operations (the reference's entire workload is point ops on
a 9-node graph), so their cost is Spark job latency, and the budget is kept
in jobs (pinned by tests/test_graph.py::test_point_op_job_counts and its
forced-Spark twin).  Tables small enough for the driver are served by the
store's Arrow tier (``Snapshot.local``, see edgy_spark.storage):

- ``get_attribute`` / ``get_related_list`` / ``all_nodes``: ZERO jobs — a
  vectorised Arrow filter over the cached table version; values have the
  types ``collect`` returns;
- a ``set_attribute`` + ``add_related`` commit: ONE write job per
  rewritten table — the prepend mins come from the cached adjacency and
  the next node/edge version is built in Arrow and written as a
  LocalRelation; node types the transaction did not touch are not read.

A table above the tier's size limit, and an edge table with a bulk batch
staged, take the Spark path: one job per point read (the manifest's
recorded schema spares the footer inference; list order is sorted on the
driver), and at most six for that commit — the prepend-position aggregate
(its shuffle stage and its result are a job each under AQE), the
broadcast of the update rows, and one write per changed table.  Driver
rows enter Spark only as Arrow LocalRelations (``storage.local_df``),
never through ``createDataFrame`` on a Python list.

Set-at-a-time analytics over the same tables — scans,
multi-hop joins, bag difference — live in ``edgy_spark.query``; at 100 TB
you use that layer, and mutations arrive as DataFrame batches via
``Transaction.bulk_*`` which never touch the driver row-by-row.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edgy_spark.schema import Cardinality, CardinalityError, GraphSchema
from edgy_spark.storage import (
    EDGE_STRUCT,
    ConflictError,
    GraphStore,
    Snapshot,
    arrow_table,
    local_df,
    to_rows,
)


@dataclass(frozen=True)
class Node:
    """Typed node handle (the reference's ``Node schema t``, Node.hs:39-41)."""

    node_type: str
    id: int


class Transaction:
    def __init__(self, engine: "Engine", snapshot: Snapshot):
        self.engine = engine
        self.schema = engine.schema
        self.snap = snapshot
        self._next_id = snapshot.manifest["next_id"]
        # staged state
        self._new_nodes: dict[str, list[dict]] = {}          # type -> rows
        self._attr_updates: dict[str, dict[int, dict]] = {}  # type -> id -> {attr: v}
        self._deleted: dict[str, set[int]] = {}              # type -> ids
        self._edge_log: dict[str, list[tuple]] = {}          # table -> ops
        self._dirty = False

    # -- node ops ----------------------------------------------------------

    def new_node(self, node_type: str, **attrs) -> Node:
        nt = self.schema.node_type(node_type)
        row: dict = {}
        for a in nt.attrs:
            if a.name in attrs:
                row[a.name] = attrs.pop(a.name)
            elif a.required:
                # the Constructor type family makes required attrs mandatory
                # arguments (Schema.hs:309-312) — enforce at creation time
                raise TypeError(
                    f"required attribute {a.name!r} of {node_type!r} not provided"
                )
            else:
                row[a.name] = None  # default applied on read (mempty analogue)
        if attrs:
            nt.attr(next(iter(attrs)))  # raises UnknownAttributeError
        nid = self._next_id
        self._next_id += 1
        row["id"] = nid
        self._new_nodes.setdefault(node_type, []).append(row)
        self._dirty = True
        return Node(node_type, nid)

    def delete_node(self, node: Node) -> None:
        self._deleted.setdefault(node.node_type, set()).add(node.id)
        self._attr_updates.get(node.node_type, {}).pop(node.id, None)
        self._dirty = True

    def get_attribute(self, node: Node, name: str):
        attr = self.schema.node_type(node.node_type).attr(name)
        if node.id in self._deleted.get(node.node_type, set()):
            # deleted earlier in THIS transaction: reads must not resurrect
            # it (all_nodes/get_related already honor _deleted)
            raise KeyError(f"{node} was deleted in this transaction")
        upd = self._attr_updates.get(node.node_type, {}).get(node.id, {})
        if name in upd:
            return upd[name]
        for row in self._new_nodes.get(node.node_type, []):
            if row["id"] == node.id:
                v = row.get(name)
                return attr.default if v is None and not attr.required else v
        tbl = self.snap.local(f"n_{node.node_type}")
        if tbl is not None:
            hit = tbl.filter(pc.equal(tbl["id"], node.id)).select([name])
            rows = to_rows(hit, T.StructType([T.StructField(name, attr.spark_type())]))
        else:
            rows = (
                self.snap.nodes(node.node_type)
                .filter(F.col("id") == node.id)
                .select(name)
                .collect()
            )
        if not rows:
            raise KeyError(f"no {node.node_type} node with id {node.id}")
        v = rows[0][0]
        if v is None:
            if attr.required:
                # unset required attribute is a runtime error in the
                # reference (Operations.hs:235-243)
                raise ValueError(f"required attribute {name!r} unset on {node}")
            return attr.default
        return v

    def set_attribute(self, node: Node, name: str, value) -> None:
        self.schema.node_type(node.node_type).attr(name)
        if node.id in self._deleted.get(node.node_type, set()):
            raise KeyError(f"{node} was deleted in this transaction")
        for row in self._new_nodes.get(node.node_type, []):
            if row["id"] == node.id:
                row[name] = value
                return
        self._attr_updates.setdefault(node.node_type, {}).setdefault(node.id, {})[
            name
        ] = value
        self._dirty = True

    def all_nodes(self, node_type: str) -> list[Node]:
        """Universe existence-relation scan (app/Main.hs:132-136)."""
        self.schema.node_type(node_type)
        dead = self._deleted.get(node_type, set())
        # sorted on the driver: every id comes here anyway, and an orderBy
        # would add a sampling job and a shuffle
        tbl = self.snap.local(f"n_{node_type}")
        if tbl is not None:
            committed = tbl["id"].to_pylist()
        else:
            committed = [r[0] for r in self.snap.nodes(node_type).select("id").collect()]
        ids = sorted(i for i in committed if i not in dead)
        ids += [
            row["id"] for row in self._new_nodes.get(node_type, []) if row["id"] not in dead
        ]
        return [Node(node_type, i) for i in ids]

    # -- edge ops ----------------------------------------------------------

    def _log(self, table: str, *entry) -> None:
        self._edge_log.setdefault(table, []).append(entry)
        self._dirty = True

    def add_related(self, node: Node, rel_name: str, target: Node) -> None:
        side = self._check_endpoints(node, rel_name, target)
        if side.symmetric:
            self._log(side.table, "add", node.id, target.id)
            self._log(side.table, "add", target.id, node.id)
        elif side.forward:
            self._log(side.table, "add", node.id, target.id)
        else:
            self._log(side.table, "add", target.id, node.id)

    def remove_related(self, node: Node, rel_name: str, target: Node) -> None:
        side = self._check_endpoints(node, rel_name, target)
        if side.symmetric:
            self._log(side.table, "remove", node.id, target.id)
            self._log(side.table, "remove", target.id, node.id)
        elif side.forward:
            self._log(side.table, "remove", node.id, target.id)
        else:
            self._log(side.table, "remove", target.id, node.id)

    def clear_related(self, node: Node, rel_name: str) -> None:
        side = self.schema.relation(rel_name)
        self._check_source(node, rel_name, side)
        if side.symmetric:
            for other in self.get_related_list(node, rel_name):
                self.remove_related(node, rel_name, other)
        elif side.forward:
            self._log(side.table, "clear_src", node.id)
        else:
            self._log(side.table, "clear_dst", node.id)

    def set_related(self, node: Node, rel_name: str, targets: list[Node]) -> None:
        """Replace the whole adjacency (Operations.hs:303-319)."""
        side = self.schema.relation(rel_name)
        self._check_source(node, rel_name, side)  # also when targets == []
        if side.symmetric:
            self.clear_related(node, rel_name)
            for t in reversed(targets):  # prepends → final order == targets
                self.add_related(node, rel_name, t)
            return
        for t in targets:
            self._check_endpoints(node, rel_name, t)
        if side.forward:
            self._log(side.table, "set_src", node.id, [t.id for t in targets])
        else:
            self._log(side.table, "clear_dst", node.id)
            for t in reversed(targets):
                self._log(side.table, "add", t.id, node.id)

    def get_related_list(self, node: Node, rel_name: str) -> list[Node]:
        """Adjacency in list order (committed pos order + staged replay)."""
        side = self.schema.relation(rel_name)
        if side.source != node.node_type:
            raise TypeError(
                f"relation {rel_name!r} starts at {side.source!r}, not {node.node_type!r}"
            )
        if side.forward or side.symmetric:
            key, order, other = "src", "pos", "dst"
        else:
            key, order, other = "dst", "ipos", "src"
        # the adjacency is fetched whole (an Arrow filter, or one Spark job)
        # and put in list order on the driver: an orderBy would cost a
        # sampling job and a shuffle on top
        tbl = self.snap.local(f"e_{side.table}")
        if tbl is not None:
            hit = tbl.filter(pc.equal(tbl[key], node.id))
            rows = zip(hit[order].to_pylist(), hit[other].to_pylist())
        else:
            rows = (
                self.snap.edge_table(side.table)
                .filter(F.col(key) == node.id)
                .select(order, other)
                .collect()
            )
        adj = [v for _, v in sorted((r[0], r[1]) for r in rows)]
        adj = self._replay(side, node.id, adj)
        dead = self._deleted.get(side.target, set())
        adj = [i for i in adj if i not in dead]
        if node.node_type in self._deleted and node.id in self._deleted[node.node_type]:
            adj = []
        return [Node(side.target, i) for i in adj]

    def get_related(self, node: Node, rel_name: str):
        """Cardinality-shaped read; violation → CardinalityError on READ
        (Operations.hs:284-287, Cardinality.hs:28-50)."""
        side = self.schema.relation(rel_name)
        lst = self.get_related_list(node, rel_name)
        card = side.cardinality
        if card is Cardinality.MANY:
            return lst
        if card is Cardinality.SOME:
            if not lst:
                raise CardinalityError(f"{rel_name}: Some relation is empty at {node}")
            return lst
        if card is Cardinality.OPTIONAL:
            if len(lst) > 1:
                raise CardinalityError(
                    f"{rel_name}: Optional relation has {len(lst)} edges at {node}"
                )
            return lst[0] if lst else None
        if len(lst) != 1:
            raise CardinalityError(
                f"{rel_name}: One relation has {len(lst)} edges at {node}"
            )
        return lst[0]

    def is_related(self, node: Node, rel_name: str, target: Node) -> bool:
        return any(t.id == target.id for t in self.get_related_list(node, rel_name))

    def _replay(self, side, key: int, adj: list[int]) -> list[int]:
        """Apply this txn's staged ops to one committed adjacency list.

        Bulk batches replay too (read-your-writes, ADVICE r06): the batch's
        rows for this key are prepended as a block in the same dst-ascending
        (src-ascending for inverse reads) order ``_rebuild_edges`` commits,
        so an in-txn ``get_related`` equals the post-commit read — and
        One/Optional cardinality violations introduced by a bulk batch
        surface on read like any other.  Cost: one bounded Spark filter per
        pending batch per point read — this is the OLTP surface; set-at-a-
        time readers use the query layer.
        """
        for entry in self._edge_log.get(side.table, []):
            op = entry[0]
            if op == "bulk":
                b = entry[1]
                if side.forward or side.symmetric:
                    rows = b.filter(F.col("src") == key).select("dst").collect()
                else:
                    rows = b.filter(F.col("dst") == key).select("src").collect()
                adj = sorted(r[0] for r in rows) + adj
                continue
            if side.forward or side.symmetric:
                if op == "add" and entry[1] == key:
                    adj = [entry[2]] + adj
                elif op == "remove" and entry[1] == key:
                    adj = [d for d in adj if d != entry[2]]
                elif op == "clear_src" and entry[1] == key:
                    adj = []
                elif op == "set_src" and entry[1] == key:
                    adj = list(entry[2])
                elif op == "clear_dst":
                    adj = [d for d in adj if d != entry[1]]
            else:
                if op == "add" and entry[2] == key:
                    adj = [entry[1]] + adj
                elif op == "remove" and entry[2] == key:
                    adj = [s for s in adj if s != entry[1]]
                elif op == "clear_dst" and entry[1] == key:
                    adj = []
                elif op == "clear_src":
                    # removes every row with src = entry[1], which appears
                    # in key's INVERSE list as the value entry[1] — also
                    # when entry[1] == key (a self-loop (k,k) is cleared by
                    # clearing k's own forward edges)
                    adj = [s for s in adj if s != entry[1]]
                elif op == "set_src":
                    adj = [s for s in adj if s != entry[1]]
                    if key in entry[2]:
                        # appears once per occurrence in the new list
                        adj = [entry[1]] * entry[2].count(key) + adj
        return adj

    def _check_endpoints(self, node: Node, rel_name: str, target: Node):
        side = self.schema.relation(rel_name)
        if side.source != node.node_type or side.target != target.node_type:
            raise TypeError(
                f"relation {rel_name!r} is {side.source!r}→{side.target!r}; "
                f"got {node.node_type!r}→{target.node_type!r}"
            )
        return side

    def _check_source(self, node: Node, rel_name: str, side) -> None:
        """Source-endpoint validation for ops with no target (clear, empty
        set): a wrong node type must raise like every other edge op, not
        silently log a no-op."""
        if side.source != node.node_type:
            raise TypeError(
                f"relation {rel_name!r} starts at {side.source!r}, "
                f"not {node.node_type!r}"
            )

    # -- bulk (the 100 TB path) -------------------------------------------

    def bulk_add_edges(self, rel_name: str, edges_df: DataFrame) -> None:
        """Append an edge batch as a DataFrame — distributed end to end;
        pos/ipos are assigned set-at-a-time at commit.

        ``(src, dst)`` are in the NAMED relation's direction, exactly like
        ``add_related(src_node, rel_name, dst_node)``: a batch on an
        inverse-named relation is stored swapped into the physical forward
        table, and a batch on a symmetric relation stores both
        orientations (one logical edge visible from both endpoints — the
        same mirroring add_related performs)."""
        side = self.schema.relation(rel_name)  # raises UnknownRelationError
        e = edges_df.select("src", "dst")
        flipped = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        if side.symmetric:
            e = e.unionByName(flipped)
        elif not side.forward:
            e = flipped
        self._log(side.table, "bulk", e)

    # -- commit ------------------------------------------------------------

    def _commit(self) -> Snapshot:
        if not self._dirty:
            return self.snap
        changed: dict[str, DataFrame] = {}
        cdc: dict[str, DataFrame] = {}
        spark = self.engine.spark

        for nt in self.schema.node_types:
            node_type = nt.name
            dead = self._deleted.get(node_type, set())
            updates = self._attr_updates.get(node_type, {})
            new_rows = [
                r for r in self._new_nodes.get(node_type, []) if r["id"] not in dead
            ]
            if not (dead or updates or new_rows):
                continue  # untouched type: its table is never read
            # per-(node, attr) set-mask: vals.get(name) is None BOTH for
            # "not updated by this node" and "updated to null", and the set
            # of updated attrs differs per node — a single global
            # updated-attr set would clobber other nodes' untouched attrs
            # with NULL (one txn updating x on node1 and y on node2 must
            # not null node1.y)
            upd = _update_rows(nt, updates) if updates else None
            new_tbl = arrow_table(new_rows, nt.struct_type()) if new_rows else None
            live_upd = [i for i in updates if i not in dead]
            base_tbl = self.snap.local(f"n_{node_type}")
            if base_tbl is not None:
                changed[f"n_{node_type}"] = _next_node_table(base_tbl, dead, upd, new_tbl)
                if self.engine.capture_cdc:
                    # commit-time change capture from STAGED state, on the
                    # driver: the touched rows of the cached base version
                    pre = base_tbl.filter(pc.is_in(base_tbl["id"], pa.array(live_upd, pa.int64())))
                    parts = [
                        (new_tbl, "insert"),
                        (_next_node_table(pre, set(), upd, None), "update_postimage"),
                    ]
                    if self.engine.capture_cdc == "full":
                        parts.append((pre, "update_preimage"))
                    parts.append((
                        base_tbl.filter(pc.is_in(base_tbl["id"], pa.array(list(dead), pa.int64()))),
                        "delete",
                    ))
                    parts = [
                        t.cast(base_tbl.schema).append_column(
                            "_change", pa.array([change] * t.num_rows, pa.string())
                        )
                        for t, change in parts
                        if t is not None and t.num_rows
                    ]
                    if parts:
                        cdc[f"n_{node_type}"] = pa.concat_tables(parts)
                continue
            base = self.snap.nodes(node_type)
            df = base
            if dead:
                df = df.filter(~F.col("id").isin(list(dead)))
            if upd is not None:
                upd_set = [c[len("__set_"):] for c in upd.column_names if c.startswith("__set_")]
                u = local_df(spark, upd).select(
                    F.col("id").alias("_uid"),
                    *[F.col(a).alias(f"_u_{a}") for a in upd_set],
                    *[F.col(f"__set_{a}") for a in upd_set],
                )
                # broadcast: keeps the join off a sort-merge plan that would
                # hash-partition the whole node table on id
                df = df.join(F.broadcast(u), df.id == u._uid, "left").select(
                    "id",
                    *[
                        (
                            F.when(
                                F.coalesce(F.col(f"__set_{a.name}"), F.lit(False)),
                                F.col(f"_u_{a.name}"),
                            )
                            .otherwise(F.col(a.name))
                            .alias(a.name)
                            if a.name in upd_set
                            else F.col(a.name)
                        )
                        for a in nt.attrs
                    ],
                )
            if new_tbl is not None:
                df = df.unionByName(local_df(spark, new_tbl, nt.struct_type()))
            changed[f"n_{node_type}"] = df
            if self.engine.capture_cdc:
                # commit-time change capture from STAGED state — O(rows
                # touched by this txn), no diff join (Delta-CDF shape).
                # A node created AND deleted in the same txn nets to
                # zero rows (insert excluded by `dead`, delete preimage
                # absent from `base`).
                parts: list[DataFrame] = []
                if new_tbl is not None:
                    parts.append(
                        local_df(spark, new_tbl, nt.struct_type()).withColumn(
                            "_change", F.lit("insert")
                        )
                    )
                if live_upd:
                    # postimages built DRIVER-side (ADVICE r07): the
                    # updated values are already in the updates dict;
                    # the untouched attrs come from one bounded
                    # point-read of base (id-pushdown scan, no join).
                    # Filtering the STAGED df here would re-execute the
                    # whole base-scan + update-join plan a second time
                    # at commit just to write the CDC parquet.
                    pre = {
                        r["id"]: r.asDict()
                        for r in base.filter(
                            F.col("id").isin(live_upd)
                        ).collect()
                    }
                    post_rows = [
                        {**pre[i], **updates[i]}
                        for i in live_upd
                        if i in pre  # nonexistent id: no postimage
                    ]
                    if post_rows:
                        parts.append(
                            local_df(
                                spark, arrow_table(post_rows, nt.struct_type())
                            ).withColumn("_change", F.lit("update_postimage"))
                        )
                    if self.engine.capture_cdc == "full":
                        # Delta-CDF full shape: the preimages are the
                        # SAME point-read rows the postimages overlay —
                        # zero extra Spark work, one more local part
                        pre_rows = [pre[i] for i in live_upd if i in pre]
                        if pre_rows:
                            parts.append(
                                local_df(
                                    spark, arrow_table(pre_rows, nt.struct_type())
                                ).withColumn("_change", F.lit("update_preimage"))
                            )
                if dead:
                    parts.append(
                        base.filter(F.col("id").isin(list(dead))).withColumn(
                            "_change", F.lit("delete")
                        )
                    )
                if parts:
                    out = parts[0]
                    for p in parts[1:]:
                        out = out.unionByName(p)
                    cdc[f"n_{node_type}"] = out

        for table in self.schema.edge_tables:
            df = self._rebuild_edges(table)
            if df is not None:
                changed[f"e_{table}"] = df

        # tri-state contract (storage.commit): with capture on, an empty
        # dict still means "captured, nothing changed"; with capture off,
        # None marks the version as not-captured so completeness-requiring
        # consumers fail loudly instead of silently missing changes
        return self.engine.store.commit(
            self.snap,
            changed,
            next_id=self._next_id,
            cdc=cdc if self.engine.capture_cdc else None,
        )

    def _rebuild_edges(self, table: str) -> DataFrame | pa.Table | None:
        """Fold the op log into the edge table.

        The log is processed strictly IN ORDER so prepend semantics hold
        across mixed point and bulk mutations (ADVICE r06): a batch's rows
        take positions below everything staged BEFORE it — and nothing
        staged after — and a later ``add_related`` on the same key prepends
        ABOVE the batch (the driver-side running min is advanced past the
        batch for exactly the keys later point ops touch, one bounded
        aggregate per batch, skipped when no later point add exists).
        Within a batch, list order is ``dst`` ascending per src (``src``
        ascending per dst on the inverse side) — the same order
        ``_replay`` uses for read-your-writes.

        With no bulk batch staged and the committed table on the driver
        (``Snapshot.local``), the fold runs in Arrow and returns the next
        version as a ``pyarrow.Table``; otherwise it is a DataFrame plan.
        """
        log = self._edge_log.get(table, [])
        # cascade delete: endpoints of this table's relation
        fwd = next(
            r
            for r in self.schema._rels.values()
            if r.table == table and (r.forward or r.symmetric)
        )
        src_dead = self._deleted.get(fwd.source, set())
        dst_dead = self._deleted.get(fwd.target, set())
        if not log and not src_dead and not dst_dead:
            return None
        local = (
            None if any(e[0] == "bulk" for e in log) else self.snap.local(f"e_{table}")
        )
        committed = self.snap.edge_table(table) if local is None else None
        spark = self.engine.spark

        # current mins for prepend positions (only staged keys — small)
        add_srcs = {e[1] for e in log if e[0] in ("add", "set_src")}
        add_dsts = {e[2] for e in log if e[0] == "add"} | {
            d for e in log if e[0] == "set_src" for d in e[2]
        }
        min_pos: dict[int, int] = {}
        min_ipos: dict[int, int] = {}

        def fold(found) -> None:
            for fwd_, k, p in found:
                mins = min_pos if fwd_ else min_ipos
                mins[k] = min(mins.get(k, p), p)

        def fold_mins(edges: DataFrame, srcs: set, dsts: set) -> None:
            """Lower the running mins to ``edges``' min(pos) per src in
            ``srcs`` and min(ipos) per dst in ``dsts`` — ONE aggregate over
            the union of both lookups, so one shuffle instead of two."""
            parts = [
                edges.filter(F.col(key).isin(list(keys))).select(
                    F.lit(fwd).alias("fwd"),
                    F.col(key).alias("key"),
                    F.col(order).alias("p"),
                )
                for fwd, key, order, keys in _min_lookups(srcs, dsts)
            ]
            if parts:
                keyed = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
                fold(keyed.groupBy("fwd", "key").agg(F.min("p")).collect())

        if local is not None:
            for fwd_, key, order, keys in _min_lookups(add_srcs, add_dsts):
                got = local.filter(pc.is_in(local[key], pa.array(list(keys), pa.int64())))
                got = got.group_by(key).aggregate([(order, "min")])
                fold((fwd_, k, p) for k, p in zip(got[key].to_pylist(), got[f"{order}_min"].to_pylist()))
        elif f"e_{table}" in self.snap.manifest["tables"]:  # else nothing to look up
            fold_mins(committed, add_srcs, add_dsts)

        def next_pos(s: int) -> int:
            p = min_pos.get(s, 1) - 1
            min_pos[s] = p
            return p

        def next_ipos(d: int) -> int:
            p = min_ipos.get(d, 1) - 1
            min_ipos[d] = p
            return p

        # removals as (log idx, (column, value) pairs that all match)
        conds: list[tuple[int, tuple]] = []
        # staged rows land in SEGMENTS in log order: point rows accumulate
        # in `pending` (eagerly filtered by later point ops, exact list
        # semantics) and are flushed to a segment whenever a bulk batch
        # arrives, so each batch sees exactly the rows staged before it.
        # A removal predicate at log idx c applies to segments flushed at
        # idx < c (pending rows are filtered eagerly instead).
        segments: list[tuple[int, DataFrame]] = []  # (flush/bulk idx, rows)
        pending: list[tuple[int, int, int, int]] = []

        def pending_table() -> pa.Table:
            return arrow_table(
                [{"src": s, "dst": d, "pos": p, "ipos": ip} for s, d, p, ip in pending],
                EDGE_STRUCT,
            )

        def flush_pending(at_idx: int) -> None:
            nonlocal pending
            if pending:
                segments.append((at_idx, local_df(spark, pending_table(), EDGE_STRUCT)))
                pending = []

        for idx, entry in enumerate(log):
            op = entry[0]
            if op == "add":
                _, s, d = entry
                pending.append((s, d, next_pos(s), next_ipos(d)))
            elif op == "remove":
                _, s, d = entry
                conds.append((idx, (("src", s), ("dst", d))))
                pending = [r for r in pending if not (r[0] == s and r[1] == d)]
            elif op == "clear_src":
                s = entry[1]
                conds.append((idx, (("src", s),)))
                pending = [r for r in pending if r[0] != s]
            elif op == "clear_dst":
                d = entry[1]
                conds.append((idx, (("dst", d),)))
                pending = [r for r in pending if r[1] != d]
            elif op == "set_src":
                _, s, dsts = entry
                conds.append((idx, (("src", s),)))
                pending = [r for r in pending if r[0] != s]
                for i, d in enumerate(dsts):
                    pending.append((s, d, i, next_ipos(d)))
                # set_src re-bases s's positions at 0..n-1 (committed rows
                # for s are all removed above), so the next prepend must go
                # BELOW the new block, not reuse 0
                min_pos[s] = 0 if dsts else 1
            elif op == "bulk":
                flush_pending(idx)
                b = entry[1]
                # distributed position assignment: batch rows get pos/ipos
                # strictly below any edge present BEFORE this point in the
                # log — committed rows plus every earlier segment.  The min
                # lookup is restricted to the batch's own keys via a
                # semi-join, so it never scans beyond touched adjacencies.
                base = committed
                for _, seg in segments:
                    base = base.unionByName(seg)
                mins_p = (
                    base.join(b.select("src").distinct(), "src", "semi")
                    .groupBy("src")
                    .agg(F.min("pos").alias("__minp"))
                )
                mins_i = (
                    base.join(b.select("dst").distinct(), "dst", "semi")
                    .groupBy("dst")
                    .agg(F.min("ipos").alias("__mini"))
                )
                # descending row_number: the smallest dst gets the LOWEST
                # pos, so reads (pos ascending) list the batch dst-ascending
                b2 = (
                    b.join(mins_p, "src", "left")
                    .join(mins_i, "dst", "left")
                    .withColumn(
                        "pos",
                        F.coalesce(F.col("__minp"), F.lit(1)).cast("long")
                        - F.row_number()
                        .over(Window.partitionBy("src").orderBy(F.desc("dst")))
                        .cast("long"),
                    )
                    .withColumn(
                        "ipos",
                        F.coalesce(F.col("__mini"), F.lit(1)).cast("long")
                        - F.row_number()
                        .over(Window.partitionBy("dst").orderBy(F.desc("src")))
                        .cast("long"),
                    )
                    .select("src", "dst", "pos", "ipos")
                )
                segments.append((idx, b2))
                # advance the driver-side running mins past this batch for
                # keys that LATER point ops prepend to — so those adds land
                # above the batch, not inside it (ADVICE r06 ordering bug)
                later_srcs = {
                    e[1] for e in log[idx + 1 :] if e[0] in ("add", "set_src")
                }
                later_dsts = {e[2] for e in log[idx + 1 :] if e[0] == "add"} | {
                    d for e in log[idx + 1 :] if e[0] == "set_src" for d in e[2]
                }
                fold_mins(b2, later_srcs, later_dsts)

        if local is not None:
            # no batch: every removal applies to the committed rows, and the
            # pending rows were already filtered by the removals after them
            drop = pa.array(np.zeros(local.num_rows, bool))
            for _, cond in conds:
                match = pa.array(np.ones(local.num_rows, bool))
                for col, v in cond:
                    match = pc.and_(match, pc.equal(local[col], v))
                drop = pc.or_(drop, match)
            for col, ids in (("src", src_dead), ("dst", dst_dead)):
                if ids:
                    drop = pc.or_(drop, pc.is_in(local[col], pa.array(list(ids), pa.int64())))
            pending = [r for r in pending if r[0] not in src_dead and r[1] not in dst_dead]
            return pa.concat_tables(
                [local.filter(pc.invert(drop)), pending_table().cast(local.schema)]
            )

        flush_pending(len(log))

        def cond_col(cond: tuple):
            out = None
            for col, v in cond:
                c = F.col(col) == v
                out = c if out is None else out & c
            return out

        df = committed
        for _, cond in conds:
            df = df.filter(~cond_col(cond))
        for seg_idx, seg in segments:
            # removal/clear/set predicates issued AFTER a segment apply to
            # its rows, earlier ones do not (pending rows were filtered
            # eagerly before flushing, so only later conds remain)
            for cond_idx, cond in conds:
                if cond_idx > seg_idx:
                    seg = seg.filter(~cond_col(cond))
            df = df.unionByName(seg)
        # cascade delete is transaction-wide: applies to committed rows and
        # every staged segment — without this, bulk rows escaped
        # delete_node and left dangling edges
        if src_dead:
            df = df.filter(~F.col("src").isin(list(src_dead)))
        if dst_dead:
            df = df.filter(~F.col("dst").isin(list(dst_dead)))
        return df


def _min_lookups(srcs: set, dsts: set):
    """The prepend-min lookups a fold needs: (forward?, key column, position
    column, keys) for the forward (src, pos) and inverse (dst, ipos) lists."""
    return [
        (fwd, key, order, keys)
        for fwd, key, order, keys in ((True, "src", "pos", srcs), (False, "dst", "ipos", dsts))
        if keys
    ]


def _update_rows(nt, updates: dict[int, dict]) -> pa.Table:
    """A transaction's staged attribute updates of one node type: ``id``,
    the new value of every updated attr, and a ``__set_<attr>`` mask per
    (node, attr), verified like ``createDataFrame`` would."""
    upd_set = sorted({a for vals in updates.values() for a in vals})
    by_name = {f.name: f.dataType for f in nt.struct_type().fields}
    struct = T.StructType(
        [T.StructField("id", T.LongType(), False)]
        + [T.StructField(a, by_name[a], True) for a in upd_set]
        + [T.StructField(f"__set_{a}", T.BooleanType(), False) for a in upd_set]
    )
    rows = [
        {
            "id": i,
            **{a: vals.get(a) for a in upd_set},
            **{f"__set_{a}": (a in vals) for a in upd_set},
        }
        for i, vals in updates.items()
    ]
    return arrow_table(rows, struct)


def _next_node_table(
    base: pa.Table, dead: set, upd: pa.Table | None, new: pa.Table | None
) -> pa.Table:
    """The next version of a driver-side node table: ``base`` without the
    ``dead`` ids, each ``upd`` value written where its set-mask is on, and
    the ``new`` rows appended."""
    tbl = base
    if dead:
        tbl = tbl.filter(pc.invert(pc.is_in(tbl["id"], pa.array(list(dead), pa.int64()))))
    if upd is not None:
        row = pc.index_in(upd["id"], value_set=tbl["id"].combine_chunks())  # null: not in base
        n = tbl.num_rows
        for i, name in enumerate(tbl.column_names):
            if f"__set_{name}" not in upd.column_names:
                continue
            hit = pc.and_(upd[f"__set_{name}"], pc.is_valid(row))
            at = pc.filter(row, hit).to_numpy()
            take = np.arange(n)
            take[at] = n + np.arange(len(at))
            col = pa.chunked_array(
                tbl[name].chunks + pc.filter(upd[name], hit).chunks,
                type=tbl.schema.field(name).type,
            )
            tbl = tbl.set_column(i, tbl.schema.field(name), col.take(pa.array(take)))
    if new is not None:
        tbl = pa.concat_tables([tbl, new.cast(tbl.schema)])
    return tbl


class Engine:
    """DB handle + transaction runner (the reference's ``DB`` + ``runEdgy``)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: GraphSchema,
        bucket_edges: int | None = None,
        bucket_nodes: int | None = None,
        compact_every: int | None = None,
        retain_versions: int = 2,
        capture_cdc: bool | str = False,
        index_attrs: dict[str, list[str]] | None = None,
        index_buckets: int = 16,
        check_constraints: dict[str, str] | None = None,
        commit_arbiter=None,
    ):
        """``bucket_edges=N`` turns on the bucketed edge layout: point
        adjacency reads prune to one bucket instead of scanning the whole
        edge table; ``bucket_nodes=N`` is the node twin (get_attribute
        point reads prune to one bucket, id-joins skip their Exchange); ``compact_every=K`` turns on every-K-commits
        compact+vacuum maintenance (see GraphStore); ``capture_cdc=True``
        records each commit's row-level node changes for
        ``GraphStore.table_changes`` and the ``mode=upsert`` stream source
        (one extra small write per commit, O(touched rows)).
        ``capture_cdc="full"`` additionally records ``update_preimage``
        rows (Delta CDF's full shape) so downstream consumers can
        SUBTRACT a row's old contribution — what incremental aggregate
        maintenance needs (operators/incremental.py); replica builders
        must then filter ``_change = 'update_preimage'`` before applying
        upserts, exactly as with Delta's change feed.
        ``index_attrs={"person": ["name"]}`` maintains bucketed secondary
        indexes for equality lookups (see GraphStore / query.NodeSet.lookup):
        the reference's O(N)-scan ``lookupByName`` becomes a one-bucket read
        of a two-column projection, kept transactionally in step with its
        node table by every commit.
        ``check_constraints={"Person": "age >= 0"}`` forwards to the
        store's commit-time CHECK gate, so engine transactions are bound
        by the same declarative constraints as merges and raw commits
        (see GraphStore)."""
        if capture_cdc not in (False, True, "full"):
            raise ValueError("capture_cdc must be False, True, or 'full'")
        self.spark = spark
        self.schema = schema
        self.capture_cdc = capture_cdc
        self.store = GraphStore(
            spark,
            root,
            schema,
            bucket_edges=bucket_edges,
            bucket_nodes=bucket_nodes,
            compact_every=compact_every,
            retain_versions=retain_versions,
            index_attrs=index_attrs,
            index_buckets=index_buckets,
            check_constraints=check_constraints,
            commit_arbiter=commit_arbiter,
        )

    def run(self, fn, retries: int = 3):
        """Run ``fn(txn)`` atomically; retry on write conflict (STM analogue)."""
        for attempt in range(retries + 1):
            txn = Transaction(self, self.store.snapshot())
            result = fn(txn)
            try:
                txn._commit()
                return result
            except ConflictError:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def snapshot(self) -> Snapshot:
        return self.store.snapshot()

    def read(self):
        """Read-only transaction pinned to the current snapshot."""
        return Transaction(self, self.store.snapshot())

    # -- constraint scan (SURVEY §2.3 cardinality row) ---------------------

    def check_cardinality(self, rel_name: str) -> DataFrame:
        """Write/commit-time enforcement scan: DataFrame of (id, n_edges)
        violating the declared cardinality.  Distributed — a groupBy count
        joined against the node table; empty result = constraint holds."""
        side = self.schema.relation(rel_name)
        snap = self.snapshot()
        edges = snap.edge_table(side.table)
        key = "src" if (side.forward or side.symmetric) else "dst"
        counts = edges.groupBy(F.col(key).alias("id")).agg(
            F.count(F.lit(1)).alias("n_edges")
        )
        nodes = snap.nodes(side.source).select("id")
        full = nodes.join(counts, "id", "left").fillna(0, subset=["n_edges"])
        card = side.cardinality
        if card is Cardinality.OPTIONAL:
            return full.filter(F.col("n_edges") > 1)
        if card is Cardinality.ONE:
            return full.filter(F.col("n_edges") != 1)
        if card is Cardinality.SOME:
            return full.filter(F.col("n_edges") < 1)
        return full.filter(F.lit(False))


class WriteBehindError(Exception):
    """One or more queued transactions failed; carries (index, exception)
    pairs in ``failures``."""

    def __init__(self, failures: list[tuple[int, Exception]]):
        self.failures = failures
        super().__init__(
            f"{len(failures)} queued transaction(s) failed: "
            + "; ".join(f"#{i}: {e!r}" for i, e in failures[:3])
        )


class WriteBehind:
    """Admission-bounded asynchronous transaction runner — the analogue of
    the reference's write-behind persistence queue: ``runEdgy`` blocks new
    transactions until the persister's backlog drops below 10,000 queued
    writes (/root/reference/src/Edgy/Operations.hs:76-79,
    ``waitForMaxBacklog db maxQueue``).

    ``submit(fn)`` enqueues a transaction function and returns immediately;
    a single worker thread drains the queue through ``Engine.run`` (serial
    commits — no self-inflicted write conflicts).  When ``max_queued``
    transactions are pending, ``submit`` BLOCKS until the worker catches up:
    that is the backpressure contract, verbatim from the reference.

    ``flush()`` waits for the queue to drain and raises
    :class:`WriteBehindError` if any queued transaction failed (errors
    never disappear silently into the background thread).  Use as a context
    manager for deterministic shutdown.

    Scale stance: this is the HIGH-RATE POINT-MUTATION path; DataFrame-sized
    batches should go through ``Transaction.bulk_add_edges`` inside one
    transaction instead of many queued point writes.
    """

    def __init__(self, engine: "Engine", max_queued: int = 10_000):
        import queue
        import threading

        self.engine = engine
        self._q: "queue.Queue" = queue.Queue(maxsize=max_queued)
        self._failures: list[tuple[int, Exception]] = []
        self._n_submitted = 0
        self._closed = False
        self._worker = threading.Thread(
            target=self._drain, name="edgy-write-behind", daemon=True
        )
        self._worker.start()

    def submit(self, fn) -> None:
        """Enqueue ``fn(txn)``; blocks while ``max_queued`` are pending."""
        if self._closed:
            raise RuntimeError("WriteBehind is closed")
        self._q.put((self._n_submitted, fn))
        self._n_submitted += 1

    def _drain(self) -> None:
        while True:
            item = self._q.get()
            if item is None:
                self._q.task_done()
                return
            i, fn = item
            try:
                self.engine.run(fn)
            except Exception as e:  # surfaced on flush/close, never lost
                self._failures.append((i, e))
            finally:
                self._q.task_done()

    def flush(self) -> None:
        """Block until every queued transaction committed; raise if any failed."""
        self._q.join()
        if self._failures:
            failures, self._failures = self._failures, []
            raise WriteBehindError(failures)

    def close(self) -> None:
        if self._closed:
            return
        try:
            self.flush()
        finally:
            self._closed = True
            self._q.put(None)
            self._worker.join()

    def __enter__(self) -> "WriteBehind":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()
