"""End-to-end parity tests: the reference demo graph and workload
(/root/reference/app/Main.hs) plus the §7.4 semantic traps.

Covers all 12 operations, the golden missingTools outputs (FIXTURES.md §1),
mutation scenarios (buy/discard/friend/unfriend/marry/divorce), cascade
delete, bidirectional consistency, cardinality-on-read, parallel edges,
and snapshot atomicity.
"""

from __future__ import annotations

import pytest

from edgy_spark.graph import Engine, Node
from edgy_spark.query import LookupError_, NodeSet
from edgy_spark.schema import Cardinality, CardinalityError
from edgy_spark.storage import ConflictError
from tests.test_schema import demo_schema


# Most tests here build their own store and take seconds each: they are
# marked `slow` (excluded by pyproject's default `-m 'not slow'`, run with
# `pytest -m slow` or `-m ""`).  The unmarked subset keeps the store's
# read/commit path in the default gate; all but the schema-evolution test
# share one module-scoped bigBang store (`demo_store`).
slow = pytest.mark.slow


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"), demo_schema())


# the workload lives in the runnable CLI module (single source); tests
# exercise the same functions the CLI runs
from edgy_spark.demo import big_bang  # noqa: E402, F401


@pytest.fixture()
def populated(engine):
    nodes = engine.run(big_bang)
    return engine, nodes


@pytest.fixture(scope="module")
def demo_store(spark, tmp_path_factory):
    """One committed bigBang store shared by the fast tests; a test that
    writes to it only touches nodes it created itself."""
    engine = Engine(spark, str(tmp_path_factory.mktemp("demo") / "db"), demo_schema())
    return engine, engine.run(big_bang)


def count_jobs(spark, fn, *args):
    """(result, number of Spark jobs ``fn(*args)`` ran), read through a job
    group and the public status tracker.  The tracker is fed by an
    asynchronous listener, so a marker job in its own group is run after
    the call and awaited: the listener handles events in order, so once it
    has seen the marker every job of the call is recorded too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, marker = f"count-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn(*args)
    finally:
        sc.setJobGroup(marker, "count_jobs marker")
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "status tracker never saw the marker job"
        time.sleep(0.01)
    return out, len(tracker.getJobIdsForGroup(group))


def lookup_person(engine, name: str) -> dict:
    """demo.lookup for a Person (/root/reference/app/Main.hs:118-140)."""
    from edgy_spark.demo import lookup

    return lookup(engine, "Person", name)


def missing_tools(engine, person_name: str) -> set[str]:
    """demo.missing_tools (/root/reference/app/Main.hs:148-157) as a set."""
    from edgy_spark.demo import missing_tools as demo_missing_tools

    return set(demo_missing_tools(engine, person_name))


# -- golden workload ------------------------------------------------------

def test_missing_tools_bob(demo_store):
    engine, _ = demo_store
    # Bob: needed={Cards,Chips,Poles,TrailMap}; available={Cards(Jane),
    # Poles(Jose), TrailMap(own)} → {Poker Chips}  (FIXTURES.md §1)
    assert missing_tools(engine, "Bob") == {"Poker Chips"}


def test_missing_tools_jane(demo_store):
    engine, _ = demo_store
    # Jane: hobby=Poker → needed={Cards,Chips}; friends={Jose}→{Poles},
    # own={Cards} → missing={Chips}
    assert missing_tools(engine, "Jane") == {"Poker Chips"}


def test_point_op_job_counts(spark, demo_store):
    """The per-operation Spark job budget in the graph module docstring: a
    point read is ONE job (the recorded read schema spares the footer
    inference, the adjacency is put in list order on the driver), and a
    set_attribute + add_related commit stays within six."""
    engine, n = demo_store
    t = engine.read()
    assert count_jobs(spark, t.get_attribute, n["bob"], "age") == (20, 1)
    friends, jobs = count_jobs(spark, t.get_related_list, n["bob"], "friend")
    assert ([f.id for f in friends], jobs) == ([n["jose"].id, n["jane"].id], 1)

    p, o = engine.run(
        lambda t: (
            t.new_node("Person", name="Counted", age=1),
            t.new_node("Object", name="Counter"),
        )
    )

    def write(t):
        t.set_attribute(p, "age", 2)
        t.add_related(p, "possession", o)

    _, jobs = count_jobs(spark, engine.run, write)
    assert jobs <= 6, f"set_attribute + add_related commit ran {jobs} jobs"
    t = engine.read()
    assert t.get_attribute(p, "age") == 2
    assert t.get_related_list(p, "possession") == [o]


@slow
def test_lookup_unique_contract(populated):
    engine, _ = populated
    assert lookup_person(engine, "Bob")["age"] == 20
    with pytest.raises(LookupError_):
        lookup_person(engine, "Nobody")
    engine.run(lambda t: t.new_node("Person", name="Bob", age=99))
    with pytest.raises(LookupError_):
        lookup_person(engine, "Bob")  # >1 match is an error too


# -- the 12 operations ----------------------------------------------------

@slow
def test_get_set_attribute(populated):
    engine, n = populated
    t = engine.read()
    assert t.get_attribute(n["bob"], "name") == "Bob"
    engine.run(lambda t: t.set_attribute(n["bob"], "age", 33))
    assert engine.read().get_attribute(n["bob"], "age") == 33


@slow
def test_required_attr_missing_at_creation(engine):
    with pytest.raises(TypeError, match="required attribute"):
        engine.run(lambda t: t.new_node("Person", name="NoAge"))


def test_get_related_order_is_prepend(demo_store):
    # addRelated prepends (Operations.hs:332-334): Bob's friends were added
    # Jane then Jose → list order [Jose, Jane]
    engine, n = demo_store
    t = engine.read()
    friends = t.get_related_list(n["bob"], "friend")
    names = [t.get_attribute(f, "name") for f in friends]
    assert names == ["Jose", "Jane"]


@slow
def test_inverse_relation_view(populated):
    # friendOf is a swapped view of the same table — bidirectional
    # consistency by construction (Operations.hs:314-319)
    engine, n = populated
    t = engine.read()
    back = t.get_related_list(n["jose"], "friendOf")  # who befriended Jose?
    names = sorted(t.get_attribute(p, "name") for p in back)
    assert names == ["Bob", "Jane"]


@slow
def test_is_related(populated):
    engine, n = populated
    t = engine.read()
    assert t.is_related(n["bob"], "friend", n["jane"])
    assert not t.is_related(n["jane"], "friend", n["bob"])  # directed!


@slow
def test_symmetric_spouse(populated):
    # marry inserts ONE logical edge visible from both ends (Schema.hs:298-307)
    engine, n = populated
    t = engine.read()
    assert t.get_related(n["bob"], "spouse") == n["jane"]
    assert t.get_related(n["jane"], "spouse") == n["bob"]


@slow
def test_divorce_and_remarry(populated):
    engine, n = populated
    engine.run(lambda t: t.remove_related(n["bob"], "spouse", n["jane"]))
    t = engine.read()
    assert t.get_related(n["bob"], "spouse") is None
    assert t.get_related(n["jane"], "spouse") is None
    engine.run(lambda t: t.add_related(n["jane"], "spouse", n["jose"]))
    assert engine.read().get_related(n["jose"], "spouse") == n["jane"]


@slow
def test_parallel_edges_and_remove_all(populated):
    # addRelated has no dedup; removeRelated removes ALL copies
    # (Operations.hs:332-334, 347-349 — SURVEY §7.4 trap 2)
    engine, n = populated

    def dup(t):
        t.add_related(n["jane"], "friend", n["jose"])  # second copy
    engine.run(dup)
    t = engine.read()
    assert [f.id for f in t.get_related_list(n["jane"], "friend")] == [
        n["jose"].id, n["jose"].id,
    ]
    engine.run(lambda t: t.remove_related(n["jane"], "friend", n["jose"]))
    assert engine.read().get_related_list(n["jane"], "friend") == []


@slow
def test_set_related_replaces(populated):
    engine, n = populated
    engine.run(
        lambda t: t.set_related(n["bob"], "hobby", [n["hiking"]])
    )
    t = engine.read()
    assert [h.id for h in t.get_related_list(n["bob"], "hobby")] == [n["hiking"].id]
    # inverse view updated too
    assert [p.id for p in t.get_related_list(n["poker"], "enthusiast")] == [
        n["jane"].id
    ]


@slow
def test_clear_related(populated):
    engine, n = populated
    engine.run(lambda t: t.clear_related(n["bob"], "friend"))
    t = engine.read()
    assert t.get_related_list(n["bob"], "friend") == []
    # Jose's inverse no longer sees Bob
    assert [p.id for p in t.get_related_list(n["jose"], "friendOf")] == [n["jane"].id]


@slow
def test_delete_node_cascades(populated):
    # deleteNode patches every neighbor's inverse list (Operations.hs:197-218)
    # and leaves no dangling edges in any table (§7.4 trap 5)
    engine, n = populated
    engine.run(lambda t: t.delete_node(n["jane"]))
    t = engine.read()
    assert [p.id for p in t.get_related_list(n["bob"], "friend")] == [n["jose"].id]
    assert t.get_related(n["bob"], "spouse") is None
    assert [p.id for p in t.get_related_list(n["poker"], "enthusiast")] == [n["bob"].id]
    snap = engine.snapshot()
    for table in engine.schema.edge_tables:
        df = snap.edge_table(table)
        assert df.filter(
            (df.src == n["jane"].id) | (df.dst == n["jane"].id)
        ).count() == 0


@slow
def test_cardinality_checked_on_read_not_write(populated):
    # Nothing stops addRelated from growing Optional past one edge; the
    # violation surfaces on getRelated (Operations.hs:284-287, §7.4 trap 3)
    engine, n = populated
    engine.run(lambda t: t.add_related(n["bob"], "spouse", n["jose"]))
    t = engine.read()
    with pytest.raises(CardinalityError):
        t.get_related(n["bob"], "spouse")
    assert len(t.get_related_list(n["bob"], "spouse")) == 2


@slow
def test_cardinality_enforcement_scan(populated):
    engine, n = populated
    assert engine.check_cardinality("spouse").count() == 0
    engine.run(lambda t: t.add_related(n["bob"], "spouse", n["jose"]))
    bad = engine.check_cardinality("spouse").collect()
    assert [r["id"] for r in bad] == [n["bob"].id]


# -- transaction semantics ------------------------------------------------

@slow
def test_atomic_read_modify_write(populated):
    # lookup + mutation in one txn, one snapshot (app/Main.hs:175-179)
    engine, n = populated

    def buy(t):
        people = [p for p in t.all_nodes("Person") if t.get_attribute(p, "name") == "Jose"]
        objs = [o for o in t.all_nodes("Object") if t.get_attribute(o, "name") == "Trail Map"]
        t.add_related(people[0], "possession", objs[0])
    engine.run(buy)
    t = engine.read()
    names = [t.get_attribute(o, "name") for o in t.get_related_list(n["jose"], "possession")]
    assert names == ["Trail Map", "Trekking Poles"]  # prepend order


@slow
def test_read_your_own_writes_in_txn(engine):
    def fn(t):
        a = t.new_node("Person", name="A", age=1)
        b = t.new_node("Person", name="B", age=2)
        t.add_related(a, "friend", b)
        assert t.is_related(a, "friend", b)       # staged edge visible
        assert t.get_attribute(b, "name") == "B"  # staged node visible
        t.set_attribute(b, "name", "B2")
        assert t.get_attribute(b, "name") == "B2"
        return (a, b)
    a, b = engine.run(fn)
    assert engine.read().get_attribute(b, "name") == "B2"


@slow
def test_conflict_detection(populated):
    engine, n = populated
    txn = engine.store.snapshot()
    from edgy_spark.graph import Transaction

    t1 = Transaction(engine, engine.store.snapshot())
    t1.set_attribute(n["bob"], "age", 50)
    # a second txn commits first
    engine.run(lambda t: t.set_attribute(n["bob"], "age", 60))
    with pytest.raises(ConflictError):
        t1._commit()
    # Engine.run retries and succeeds
    engine.run(lambda t: t.set_attribute(n["bob"], "age", 70))
    assert engine.read().get_attribute(n["bob"], "age") == 70


@slow
def test_snapshot_isolation(populated):
    engine, n = populated
    old = engine.snapshot()
    engine.run(lambda t: t.set_attribute(n["bob"], "age", 99))
    assert old.nodes("Person").filter("name = 'Bob'").collect()[0]["age"] == 20
    assert engine.snapshot().nodes("Person").filter("name = 'Bob'").collect()[0]["age"] == 99


# -- bag vs set semantics (§7.4 trap 1) -----------------------------------

@slow
def test_bag_difference_vs_anti_join(populated):
    engine, n = populated
    # give Bob a second Poker hobby edge → needed has duplicate Cards/Chips
    engine.run(lambda t: t.add_related(n["bob"], "hobby", n["poker"]))
    snap = engine.snapshot()
    p = NodeSet.scan(snap, engine.schema, "Person").filter(name="Bob")
    needed = p.hop("hobby").hop("tool")
    available = p.hop("friend").hop("possession").union(p.hop("possession"))
    bag = sorted(needed.minus_bag(available).ids())
    anti = sorted(needed.anti(available).ids())
    # bag: one Cards occurrence removed per availability; the duplicate survives
    assert bag.count(n["cards"].id) == 1
    assert bag.count(n["chips"].id) == 2
    # anti: ALL occurrences of available ids removed
    assert anti.count(n["cards"].id) == 0
    assert anti.count(n["chips"].id) == 2


@slow
def test_snapshot_diff_cdc(engine):
    """snapshot_diff reports exactly the rows that changed between versions,
    as insert/delete pairs, across non-adjacent versions too."""
    from edgy_spark.storage import snapshot_diff

    v0 = engine.snapshot()
    created = engine.run(
        lambda txn: (
            txn.new_node("Person", name="Alice", age=30),
            txn.new_node("Person", name="Bob", age=40),
        )
    )
    alice = created[0]
    v1 = engine.snapshot()
    engine.run(lambda txn: txn.set_attribute(alice, "name", "Alicia"))
    v2 = engine.snapshot()

    d01 = snapshot_diff(v0, v1, "Person")
    assert sorted(
        (r["name"], r["_change"]) for r in d01.collect()
    ) == [("Alice", "insert"), ("Bob", "insert")]

    # update = delete old row + insert new row; Bob unchanged → absent
    d12 = snapshot_diff(v1, v2, "Person")
    assert sorted(
        (r["name"], r["_change"]) for r in d12.collect()
    ) == [("Alice", "delete"), ("Alicia", "insert")]

    # spanning diff collapses intermediate churn
    d02 = snapshot_diff(v0, v2, "Person")
    assert sorted(
        (r["name"], r["_change"]) for r in d02.collect()
    ) == [("Alicia", "insert"), ("Bob", "insert")]


@slow
def test_snapshot_diff_edges_cdc(engine):
    """Edge CDC: adding then removing a friendship shows up as exactly the
    inserted/deleted edge rows (both directions of the symmetric pair)."""
    from edgy_spark.storage import snapshot_diff_edges

    eng, nodes = engine, engine.run(big_bang)
    v1 = eng.snapshot()
    bob, jane = nodes["bob"], nodes["jane"]
    eng.run(lambda txn: txn.remove_related(bob, "friend", jane))
    v2 = eng.snapshot()
    d = snapshot_diff_edges(v1, v2, "friend")
    rows = [(r["src"], r["dst"], r["_change"]) for r in d.collect()]
    assert all(c == "delete" for _, _, c in rows)
    assert len(rows) >= 1  # at least the (bob→jane) adjacency row went away
    assert (bob.id, jane.id, "delete") in rows


# -- schema evolution ------------------------------------------------------

def test_schema_evolution_reads_old_versions(spark, tmp_path):
    """Reference load semantics (/root/reference/src/Edgy/Node.hs:181-189):
    the attr map is keyed by (name, type) — unknown keys drop on load,
    missing keys read as the default.  Adding attributes to a NodeType must
    therefore read OLD snapshot versions: new optional attr → default, new
    required attr → lazy unset error at get, dropped attr → gone; and a
    commit under the evolved schema round-trips."""
    from edgy_spark.schema import Attr, GraphSchema, NodeType, optional

    root = str(tmp_path / "db")
    v1_schema = GraphSchema((NodeType("Person", (Attr("name"), Attr("age", "long"))),))
    e1 = Engine(spark, root, v1_schema)
    bob = e1.run(lambda t: t.new_node("Person", name="Bob", age=20))

    # evolve: add an optional attr (with default), add a required attr
    v2_schema = GraphSchema(
        (
            NodeType(
                "Person",
                (
                    Attr("name"),
                    Attr("age", "long"),
                    optional("nickname", "string", default="(none)"),
                    Attr("email"),
                ),
            ),
        )
    )
    e2 = Engine(spark, root, v2_schema)
    t = e2.read()
    assert t.get_attribute(bob, "name") == "Bob"          # untouched attr
    assert t.get_attribute(bob, "nickname") == "(none)"   # added optional → default
    with pytest.raises(ValueError, match="required attribute 'email' unset"):
        t.get_attribute(bob, "email")                     # added required → lazy error

    # commit under the evolved schema: set the new attrs, create a new node
    def fill(txn):
        txn.set_attribute(bob, "email", "bob@example.com")
        txn.set_attribute(bob, "nickname", "Bobby")
        return txn.new_node("Person", name="Ann", age=30, email="ann@example.com")

    ann = e2.run(fill)
    t2 = e2.read()
    assert t2.get_attribute(bob, "email") == "bob@example.com"
    assert t2.get_attribute(bob, "nickname") == "Bobby"
    assert t2.get_attribute(ann, "email") == "ann@example.com"

    # drop an attribute: age disappears from reads; stored column is ignored
    v3_schema = GraphSchema((NodeType("Person", (Attr("name"),)),))
    e3 = Engine(spark, root, v3_schema)
    t3 = e3.read()
    assert t3.get_attribute(bob, "name") == "Bob"
    assert "age" not in e3.snapshot().nodes("Person").columns
    from edgy_spark.schema import UnknownAttributeError

    with pytest.raises(UnknownAttributeError):
        t3.get_attribute(bob, "age")

    # re-type an attribute: old (name, type) key is unknown → reads default
    v4_schema = GraphSchema(
        (NodeType("Person", (Attr("name"), optional("age", "string", default="?"))),)
    )
    e4 = Engine(spark, root, v4_schema)
    assert e4.read().get_attribute(bob, "age") == "?"


# -- write-behind / backpressure ------------------------------------------

@slow
def test_write_behind_applies_queued_mutations_in_order(spark, tmp_path):
    """The async admission-bounded runner (Operations.hs:76-79 analogue)
    must produce exactly the state sequential commits would."""
    from edgy_spark.demo import demo_schema
    from edgy_spark.graph import Engine, WriteBehind

    engine = Engine(spark, str(tmp_path / "db"), demo_schema())
    nodes = engine.run(big_bang)
    bob, chips, cards = nodes["bob"], nodes["chips"], nodes["cards"]
    with WriteBehind(engine, max_queued=4) as wb:
        wb.submit(lambda t: t.add_related(bob, "possession", chips))
        wb.submit(lambda t: t.add_related(bob, "possession", cards))
        wb.submit(lambda t: t.set_attribute(bob, "age", 21))
        wb.submit(lambda t: t.remove_related(bob, "possession", cards))
        wb.flush()
        t = engine.read()
        names = sorted(
            t.get_attribute(o, "name")
            for o in t.get_related_list(bob, "possession")
        )
        assert names == ["Poker Chips", "Trail Map"]
        assert t.get_attribute(bob, "age") == 21


@slow
def test_write_behind_surfaces_failures_on_flush(spark, tmp_path):
    """Background failures must not vanish: flush raises WriteBehindError
    carrying the failed transaction's index and exception, and the other
    queued transactions still commit."""
    import pytest as _pytest

    from edgy_spark.demo import demo_schema
    from edgy_spark.graph import Engine, WriteBehind, WriteBehindError

    engine = Engine(spark, str(tmp_path / "db"), demo_schema())
    nodes = engine.run(big_bang)
    bob, chips = nodes["bob"], nodes["chips"]

    def bad(t):
        raise RuntimeError("boom")

    with WriteBehind(engine) as wb:
        wb.submit(lambda t: t.add_related(bob, "possession", chips))
        wb.submit(bad)
        wb.submit(lambda t: t.set_attribute(bob, "age", 44))
        with _pytest.raises(WriteBehindError) as ei:
            wb.flush()
        assert [i for i, _ in ei.value.failures] == [1]
    t = engine.read()
    assert t.get_attribute(bob, "age") == 44
    assert t.is_related(bob, "possession", chips)


@slow
def test_binary_attribute_roundtrip_through_commit_and_snapshot(spark, tmp_path):
    """Opaque host payloads: a `binary` attribute (the reference's arbitrary
    Typeable+Binary latitude, Schema.hs:148-155) must round-trip bytes —
    including a pickled Python object — unchanged through new_node/commit,
    set_attribute on a later version, and reads pinned to OLD snapshots."""
    import pickle

    from edgy_spark.schema import Attr, GraphSchema, NodeType, optional

    schema = GraphSchema(
        node_types=(
            NodeType(
                "Blob",
                (
                    Attr("name"),
                    Attr("payload", "binary"),
                    optional("note_blob", "binary"),
                ),
            ),
        ),
    )
    engine = Engine(spark, str(tmp_path / "db"), schema)
    obj = {"weights": [1.5, -2.25], "tag": ("x", 7)}
    raw = b"\x00\xffbinary\x00bytes"

    def create(t):
        return t.new_node("Blob", name="a", payload=pickle.dumps(obj))

    node = engine.run(create)
    old = engine.snapshot()

    t = engine.read()
    assert pickle.loads(t.get_attribute(node, "payload")) == obj
    # optional binary defaults to b"" (the bytes mempty)
    assert t.get_attribute(node, "note_blob") == b""

    engine.run(lambda t: t.set_attribute(node, "payload", raw))
    assert engine.read().get_attribute(node, "payload") == raw
    # the pinned old snapshot still decodes the original pickled payload
    from edgy_spark.graph import Transaction

    t_old = Transaction(engine, old)
    assert pickle.loads(t_old.get_attribute(node, "payload")) == obj


# -- r06 review regressions ------------------------------------------------

@slow
def test_txn_attr_updates_do_not_clobber_other_nodes(engine):
    """Two nodes updating DIFFERENT attrs in one txn: each keeps its other
    attributes (the commit merge must mask per-(node, attr), not per-attr)."""
    def seed(t):
        return (
            t.new_node("Person", name="N1", age=10),
            t.new_node("Person", name="N2", age=20),
        )

    n1, n2 = engine.run(seed)

    def upd(t):
        t.set_attribute(n1, "name", "N1b")  # only name on n1
        t.set_attribute(n2, "age", 21)      # only age on n2

    engine.run(upd)
    t = engine.read()
    assert t.get_attribute(n1, "name") == "N1b"
    assert t.get_attribute(n1, "age") == 10        # was clobbered to NULL
    assert t.get_attribute(n2, "name") == "N2"     # was clobbered to NULL
    assert t.get_attribute(n2, "age") == 21


@slow
def test_bulk_edges_respect_cascade_delete_and_later_removes(spark, engine):
    """Bulk batches obey the same semantics as staged ops: cascade delete
    applies, and removes issued AFTER the bulk apply to its rows."""
    def seed(t):
        return [t.new_node("Person", name=f"P{i}", age=i) for i in range(4)]

    p = engine.run(seed)

    def txn(t):
        batch = spark.createDataFrame(
            [(p[0].id, p[1].id), (p[2].id, p[3].id), (p[0].id, p[2].id)],
            "src long, dst long",
        )
        t.bulk_add_edges("friend", batch)
        t.remove_related(p[0], "friend", p[2])  # after the bulk: applies
        t.delete_node(p[3])                     # cascade: applies

    engine.run(txn)
    t = engine.read()
    assert [n.id for n in t.get_related(p[0], "friend")] == [p[1].id]
    assert t.get_related(p[2], "friend") == []  # p3 deleted -> edge gone


@slow
def test_bulk_edges_symmetric_visible_from_both_ends(spark, engine):
    def seed(t):
        return (
            t.new_node("Person", name="A", age=1),
            t.new_node("Person", name="B", age=2),
        )

    a, b = engine.run(seed)
    engine.run(
        lambda t: t.bulk_add_edges(
            "spouse", spark.createDataFrame([(a.id, b.id)], "src long, dst long")
        )
    )
    t = engine.read()
    assert t.get_related(a, "spouse").id == b.id
    assert t.get_related(b, "spouse").id == a.id  # mirrored orientation


@slow
def test_bulk_edges_positions_stack_below_existing(spark, engine):
    """Bulk rows must take positions BELOW existing edges (prepend), never
    colliding with previously prepended pos values."""
    def seed(t):
        return [t.new_node("Person", name=f"Q{i}", age=i) for i in range(4)]

    p = engine.run(seed)
    engine.run(lambda t: t.add_related(p[0], "friend", p[1]))  # pos 0
    engine.run(lambda t: t.add_related(p[0], "friend", p[2]))  # pos -1
    engine.run(
        lambda t: t.bulk_add_edges(
            "friend", spark.createDataFrame([(p[0].id, p[3].id)], "src long, dst long")
        )
    )
    t = engine.read()
    ids = [n.id for n in t.get_related(p[0], "friend")]
    assert ids == [p[3].id, p[2].id, p[1].id]  # strict prepend order
    from pyspark.sql import functions as F

    edges = engine.snapshot().edge_table("friend").filter(F.col("src") == p[0].id)
    poss = [r["pos"] for r in edges.collect()]
    assert len(poss) == len(set(poss)), f"pos collision: {poss}"


def test_set_related_then_add_orders_consistently(demo_store):
    """add_related after set_related prepends BELOW the set block, and the
    committed order equals the in-txn read-your-writes order."""
    engine, _ = demo_store

    def seed(t):
        return [t.new_node("Person", name=f"R{i}", age=i) for i in range(4)]

    p = engine.run(seed)

    in_txn = {}

    def txn(t):
        t.set_related(p[0], "friend", [p[1], p[2]])
        t.add_related(p[0], "friend", p[3])
        in_txn["order"] = [n.id for n in t.get_related(p[0], "friend")]

    engine.run(txn)
    committed = [n.id for n in engine.read().get_related(p[0], "friend")]
    assert committed == in_txn["order"] == [p[3].id, p[1].id, p[2].id]


@slow
def test_clear_and_empty_set_validate_source_type(engine):
    from edgy_spark.graph import Transaction

    nodes = engine.run(big_bang)
    t = Transaction(engine, engine.store.snapshot())
    with pytest.raises(TypeError, match="starts at"):
        t.clear_related(nodes["poker"], "friend")  # Activity, not Person
    with pytest.raises(TypeError, match="starts at"):
        t.set_related(nodes["poker"], "friend", [])


@slow
def test_reads_of_node_deleted_in_txn_raise(engine):
    nodes = engine.run(big_bang)

    def txn(t):
        t.delete_node(nodes["bob"])
        with pytest.raises(KeyError, match="deleted in this transaction"):
            t.get_attribute(nodes["bob"], "name")
        with pytest.raises(KeyError, match="deleted in this transaction"):
            t.set_attribute(nodes["bob"], "name", "zombie")

    engine.run(txn)


@slow
def test_nodeset_filter_sees_optional_defaults(spark, tmp_path):
    """A filter on an optional attr's default value must match nodes that
    never wrote it (stored NULL reads as the default in BOTH layers)."""
    from edgy_spark.schema import Attr, GraphSchema, NodeType, optional

    schema = GraphSchema(
        (NodeType("Doc", (Attr("name"), optional("tag", "string", default="none"))),)
    )
    e = Engine(spark, str(tmp_path / "db2"), schema)
    e.run(lambda t: t.new_node("Doc", name="a"))           # tag unset
    e.run(lambda t: t.new_node("Doc", name="b", tag="x"))
    ns = NodeSet.scan(e.snapshot(), schema, "Doc")
    assert [r["name"] for r in ns.filter(tag="none").df.collect()] == ["a"]
    got = {r["name"]: r["tag"] for r in ns.attrs("name", "tag").collect()}
    assert got == {"a": "none", "b": "x"}


@slow
def test_self_loop_clear_consistent_in_txn_and_committed(engine):
    """Clearing a node's forward edges removes a self-loop from its OWN
    inverse view too — in-txn read must equal committed state."""
    def seed(t):
        return t.new_node("Person", name="Loop", age=1)

    k = engine.run(seed)
    engine.run(lambda t: t.add_related(k, "friend", k))  # self-loop

    views = {}

    def txn(t):
        t.clear_related(k, "friend")
        views["fwd"] = t.get_related(k, "friend")
        views["bwd"] = t.get_related(k, "friendOf")

    engine.run(txn)
    assert views["fwd"] == [] and views["bwd"] == []
    t = engine.read()
    assert t.get_related(k, "friend") == [] and t.get_related(k, "friendOf") == []


@slow
def test_add_after_bulk_prepends_above_the_batch(spark, engine):
    """ADVICE r06: an add_related issued AFTER bulk_add_edges on the same
    src must commit ABOVE the batch (prepend semantics are log-ordered),
    and the in-txn read must see the same order (read-your-writes)."""
    def seed(t):
        return [t.new_node("Person", name=f"S{i}", age=i) for i in range(4)]

    p = engine.run(seed)

    orders = {}

    def txn(t):
        batch = spark.createDataFrame(
            [(p[0].id, p[1].id), (p[0].id, p[2].id)], "src long, dst long"
        )
        t.bulk_add_edges("friend", batch)
        t.add_related(p[0], "friend", p[3])  # AFTER the bulk: goes on top
        orders["in_txn"] = [n.id for n in t.get_related(p[0], "friend")]

    engine.run(txn)
    committed = [
        n.id for n in engine.read().get_related(p[0], "friend")
    ]
    # log order: [bulk(p1,p2), add(p3)] → list [p3, p1, p2]
    # (batch reads dst-ascending; the later add prepends above it)
    assert committed == [p[3].id, p[1].id, p[2].id]
    assert orders["in_txn"] == committed  # read-your-writes == committed


@slow
def test_bulk_before_add_matches_point_op_equivalent(spark, engine):
    """A txn issuing [add, bulk] commits the batch ON TOP of the earlier
    add — the same order as issuing every edge as a point op in sequence."""
    def seed(t):
        return [t.new_node("Person", name=f"T{i}", age=i) for i in range(4)]

    p = engine.run(seed)

    def txn(t):
        t.add_related(p[0], "friend", p[3])
        batch = spark.createDataFrame(
            [(p[0].id, p[1].id), (p[0].id, p[2].id)], "src long, dst long"
        )
        t.bulk_add_edges("friend", batch)

    engine.run(txn)
    committed = [n.id for n in engine.read().get_related(p[0], "friend")]
    assert committed == [p[1].id, p[2].id, p[3].id]


@slow
def test_bulk_edges_in_txn_cardinality_check_on_read(spark, engine):
    """Bulk rows participate in read-time cardinality shaping (ADVICE r06:
    they previously bypassed _replay entirely): a batch that grows an
    Optional relation past one edge raises on an in-txn read."""
    import pytest

    from edgy_spark.schema import CardinalityError

    def seed(t):
        return [t.new_node("Person", name=f"U{i}", age=i) for i in range(3)]

    p = engine.run(seed)

    def txn(t):
        batch = spark.createDataFrame(
            [(p[0].id, p[1].id), (p[0].id, p[2].id)], "src long, dst long"
        )
        t.bulk_add_edges("spouse", batch)
        with pytest.raises(CardinalityError):
            t.get_related(p[0], "spouse")
        raise RuntimeError("roll back")  # don't commit the violation

    with pytest.raises(RuntimeError):
        engine.run(txn)


@slow
def test_bulk_edges_visible_to_in_txn_inverse_reads(spark, engine):
    """Read-your-writes holds from the INVERSE side of a pending batch."""
    def seed(t):
        return (
            t.new_node("Person", name="Fwd", age=1),
            t.new_node("Person", name="Bwd", age=2),
        )

    a, b = engine.run(seed)

    seen = {}

    def txn(t):
        batch = spark.createDataFrame([(a.id, b.id)], "src long, dst long")
        t.bulk_add_edges("friend", batch)
        seen["fwd"] = [n.id for n in t.get_related(a, "friend")]
        seen["inv"] = [n.id for n in t.get_related(b, "friendOf")]
        seen["is"] = t.is_related(a, "friend", b)

    engine.run(txn)
    assert seen == {"fwd": [b.id], "inv": [a.id], "is": True}


@slow
def test_hop_and_rehydrate_see_optional_defaults(spark, tmp_path):
    """ADVICE r06: the default-coalescing projection applied only in scan;
    NodeSets built by hop() or rehydrate() read raw NULLs, so a
    filter(tag=<default>) after a traversal missed never-written attrs."""
    from edgy_spark.schema import (
        Attr, Cardinality, Directed, GraphSchema, NodeType, optional,
    )

    schema = GraphSchema(
        (
            NodeType("Author", (Attr("name"),)),
            NodeType("Doc", (Attr("title"), optional("tag", "string", default="none"))),
        ),
        (Directed("wrote", Cardinality.MANY, "Author", "Doc", "written_by"),),
    )
    e = Engine(spark, str(tmp_path / "db3"), schema)

    def seed(t):
        a = t.new_node("Author", name="Ann")
        d1 = t.new_node("Doc", title="untagged")        # tag unset
        d2 = t.new_node("Doc", title="tagged", tag="x")
        t.add_related(a, "wrote", d1)
        t.add_related(a, "wrote", d2)
        return a

    e.run(seed)
    snap = e.snapshot()
    docs = NodeSet.scan(snap, schema, "Author").hop("wrote")
    assert {r["title"]: r["tag"] for r in docs.df.collect()} == {
        "untagged": "none", "tagged": "x",
    }
    assert [r["title"] for r in docs.filter(tag="none").df.collect()] == ["untagged"]

    rehydrated = NodeSet.scan(snap, schema, "Doc").distinct().rehydrate()
    assert {r["title"]: r["tag"] for r in rehydrated.df.collect()} == {
        "untagged": "none", "tagged": "x",
    }
