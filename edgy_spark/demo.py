"""Executable demo — the reference's CLI (/root/reference/app/Main.hs:161-205)
as ``python -m edgy_spark.demo``.

Same schema (Main.hs:47-75), same ``bigBang`` seed graph (Main.hs:79-116),
same commands against a persistent store root::

    python -m edgy_spark.demo --root /tmp/demo.db create
    python -m edgy_spark.demo --root /tmp/demo.db query Bob
    python -m edgy_spark.demo --root /tmp/demo.db buy Bob "Poker Chips"
    python -m edgy_spark.demo --root /tmp/demo.db friend Jane Bob
    ...

``query NAME`` prints the missingTools result (Main.hs:148-157): tools
needed by NAME's hobbies, bag-minus what NAME and NAME's friends own.

This module is also the single in-package home of the demo schema and
workload; the parity tests (tests/test_graph.py, tests/test_schema.py)
import from here rather than redefining them.
"""

from __future__ import annotations

import argparse
import sys

from edgy_spark.graph import Engine
from edgy_spark.query import NodeSet
from edgy_spark.schema import (
    Attr,
    Cardinality,
    Directed,
    GraphSchema,
    NodeType,
    Symmetric,
)


def demo_schema() -> GraphSchema:
    """The demo MySchema (/root/reference/app/Main.hs:47-75)."""
    return GraphSchema(
        node_types=(
            NodeType("Person", (Attr("name"), Attr("age", "long"))),
            NodeType("Activity", (Attr("name"),)),
            NodeType("Object", (Attr("name"),)),
        ),
        relations=(
            Symmetric("spouse", Cardinality.OPTIONAL, "Person"),
            Directed("friend", Cardinality.MANY, "Person", "Person", "friendOf"),
            Directed("hobby", Cardinality.MANY, "Person", "Activity", "enthusiast"),
            Directed("possession", Cardinality.MANY, "Person", "Object", "owner"),
            Directed("tool", Cardinality.MANY, "Activity", "Object", "application"),
        ),
    )


def big_bang(txn):
    """The bigBang fixture (/root/reference/app/Main.hs:79-116)."""
    bob = txn.new_node("Person", name="Bob", age=20)
    jane = txn.new_node("Person", name="Jane", age=21)
    jose = txn.new_node("Person", name="Jose", age=22)
    poker = txn.new_node("Activity", name="Poker")
    hiking = txn.new_node("Activity", name="Hiking")
    cards = txn.new_node("Object", name="Deck of Cards")
    chips = txn.new_node("Object", name="Poker Chips")
    poles = txn.new_node("Object", name="Trekking Poles")
    trailmap = txn.new_node("Object", name="Trail Map")

    txn.add_related(bob, "spouse", jane)
    txn.add_related(bob, "friend", jane)
    txn.add_related(bob, "friend", jose)
    txn.add_related(jose, "friend", bob)
    txn.add_related(jane, "friend", jose)
    txn.add_related(bob, "hobby", poker)
    txn.add_related(bob, "hobby", hiking)
    txn.add_related(jane, "hobby", poker)
    txn.add_related(jose, "hobby", hiking)
    txn.add_related(bob, "possession", trailmap)
    txn.add_related(jane, "possession", cards)
    txn.add_related(jose, "possession", poles)
    txn.add_related(poker, "tool", cards)
    txn.add_related(poker, "tool", chips)
    txn.add_related(hiking, "tool", poles)
    txn.add_related(hiking, "tool", trailmap)
    return {
        "bob": bob, "jane": jane, "jose": jose, "poker": poker, "hiking": hiking,
        "cards": cards, "chips": chips, "poles": poles, "trailmap": trailmap,
    }


def lookup(engine: Engine, node_type: str, name: str, snap=None):
    """lookupByName (/root/reference/app/Main.hs:118-140): scan + filter +
    assert-unique, as a pushdown scan instead of an O(N) loop.

    ``snap`` pins the read to a specific version — pass a transaction's
    ``txn.snap`` so lookups share the transaction's isolation scope (the
    reference runs lookupByName inside the same Edgy transaction)."""
    snap = engine.snapshot() if snap is None else snap
    # index-aware: a store built with index_attrs={type: ["name"]} serves
    # this from ONE bucket of a (name, id) projection; otherwise it's the
    # same pushdown scan as before (NodeSet.lookup falls back to scan)
    return NodeSet.lookup(snap, engine.schema, node_type, name=name).unique()


def missing_tools(engine: Engine, person_name: str) -> list[str]:
    """missingTools (/root/reference/app/Main.hs:148-157):
    (p.hobby.tool) bag-minus (p.friend.possession ++ p.possession).

    On a store whose tables fit the driver's Arrow tier the seed is
    filtered once and every step, the terminal included, runs no Spark
    job (see edgy_spark.query)."""
    snap = engine.snapshot()
    p = NodeSet.scan(snap, engine.schema, "Person").filter(name=person_name)
    needed = p.hop("hobby").hop("tool")
    available = p.hop("friend").hop("possession").union(p.hop("possession"))
    missing = needed.minus_bag(available).rehydrate()
    return sorted(missing.values("name"))


def _edge_cmd(engine: Engine, op: str, rel: str, name1: str, name2: str) -> None:
    """buy/discard/friend/unfriend/marry/divorce all share this shape:
    look up both endpoints, add or remove one edge, atomically."""
    target_type = "Object" if rel == "possession" else "Person"

    def txn_fn(txn):
        # resolve through the transaction's OWN pinned snapshot, not the
        # latest committed version: lookup and mutation then see one
        # consistent version, and a conflict retry revalidates the reads
        # (parity with the reference, where lookupByName runs inside the
        # same Edgy transaction as the edge write)
        a = lookup(engine, "Person", name1, snap=txn.snap)
        b = lookup(engine, target_type, name2, snap=txn.snap)
        from edgy_spark.graph import Node

        na, nb = Node("Person", a["id"]), Node(target_type, b["id"])
        if op == "add":
            txn.add_related(na, rel, nb)
        else:
            txn.remove_related(na, rel, nb)

    engine.run(txn_fn)


def main(argv: list[str] | None = None, spark=None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m edgy_spark.demo",
        description="reference demo CLI (app/Main.hs) on the Spark engine",
    )
    parser.add_argument("--root", default=".db", help="store root (default .db)")
    parser.add_argument("cmd", nargs="+", help=(
        "create | query NAME | buy NAME TOOL | discard NAME TOOL | "
        "friend N1 N2 | unfriend N1 N2 | marry N1 N2 | divorce N1 N2 | "
        "maintain | changes [FROM_VERSION] | bulkload N1 N2 ..."
    ))
    args = parser.parse_args(argv)
    if spark is None:
        from edgy_spark.session import get_spark

        spark = get_spark("edgy-spark-demo")
    # demo stores capture their change feed so `changes` (and any upsert
    # stream a user points at the root) always has a complete history
    engine = Engine(spark, args.root, demo_schema(), capture_cdc=True)

    cmd, rest = args.cmd[0], args.cmd[1:]
    two_arg = {
        "buy": ("add", "possession"), "discard": ("remove", "possession"),
        "friend": ("add", "friend"), "unfriend": ("remove", "friend"),
        "marry": ("add", "spouse"), "divorce": ("remove", "spouse"),
    }
    if cmd == "create" and not rest:
        engine.run(big_bang)
    elif cmd == "query" and len(rest) == 1:
        print(f"{rest[0]} is missing:")
        for name in missing_tools(engine, rest[0]):
            print(name)
    elif cmd in two_arg and len(rest) == 2:
        op, rel = two_arg[cmd]
        _edge_cmd(engine, op, rel, rest[0], rest[1])
    elif cmd == "changes" and len(rest) <= 1:
        # the change feed since FROM_VERSION (default: everything retained):
        # one line per captured row-level change, in commit order
        try:
            from_v = int(rest[0]) if rest else 0
        except ValueError:
            print("Usage: main [cmd]")
            return 1
        rows = sorted(
            engine.store.table_changes("n_Person", from_v, strict=False).collect(),
            key=lambda r: (r["_commit_version"], r["id"]),
        )
        for r in rows:
            print(f"v{r['_commit_version']} {r['_change']:>16s}  "
                  f"Person(id={r['id']}, name={r['name']!r}, age={r['age']})")
        print(f"{len(rows)} change(s)")
    elif cmd == "bulkload" and rest:
        # multi-table atomic bulk load: N people who all befriend each
        # other, staged as TWO data-source writes under one txn and
        # published by ONE manifest link — readers at any version see the
        # people and their friendships both-or-neither (the reference's
        # single-txn bigBang at bulk scale)
        from edgy_spark.sources.pysource import (
            commit_edgy_txn,
            register_edgy_source,
        )

        register_edgy_source(spark)
        cursor = engine.snapshot().manifest["next_id"]
        ids = {name: cursor + i for i, name in enumerate(rest)}
        people = spark.createDataFrame(
            [(i, name, 30) for name, i in ids.items()],
            "id long, name string, age long",
        )
        pairs = [
            (a, b) for a in ids.values() for b in ids.values() if a != b
        ]
        friends = spark.createDataFrame(
            [(a, b, k, k) for k, (a, b) in enumerate(pairs)],
            "src long, dst long, pos long, ipos long",
        )
        token = f"bulk-{cursor}"
        for df, table in ((people, "n_Person"), (friends, "e_friend")):
            (
                df.write.format("edgy")
                .option("root", engine.store.root).option("table", table)
                .option("txn", token).mode("append").save()
            )
        v = commit_edgy_txn(engine.store.root, token)
        print(f"loaded {len(ids)} people + {len(pairs)} friendships "
              f"atomically -> v{v}")
    elif cmd == "maintain" and not rest:
        # OPTIMIZE + VACUUM on demand (also available automatically via
        # Engine(compact_every=K))
        out = engine.store.compact()
        removed = engine.store.vacuum()
        print(
            f"compacted -> v{out.version}" if out else "nothing fragmented",
            f"| removed {len(removed)} old table version(s)",
        )
    else:
        print("Usage: main [cmd]")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
