"""The benchmark's workloads: each builds its inputs from the seed, runs one
untimed warm pass, then repeats a fixed pass of calls into the package's
public functions, checking every result it times.

- ``graph_iter``: fixpoint / checkpoint graph analytics over the co-purchase
  graph (``operators.graph_algos``, ``graph_queries``, ``recursive``).
- ``llm_pipeline``: the LLM-data operators (dedup, codec lanes, similarity,
  text, pipeline) on seeded documents and embeddings.
- ``store_txn``: the transactional graph store behind ``Engine``: write
  transactions, point reads and the demo's 2-hop bag-minus traversal.
"""

from __future__ import annotations

import gc
import json
import os
from collections import Counter

import numpy as np

from perfbench import datagen
from perfbench.measure import Tracer, digest

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected_digests.json")

# catalog queries per pass, in run order
GRAPH_ITER = (
    "graph_connected_components",
    "graph_customer_order_rollup",
    "recursive_copurchase_reach",
)
LLM_PIPELINE = (
    "dedup_ngram_jaccard_pairs",
    "multimodal_webp_stats",
    "multimodal_jpeg_block_stats",
    "sim_bruteforce_topk",
    "text_token_counts",
    "corpus_clean_pipeline",
)

CATALOG_SIZES = datagen.Sizes(
    customers=1500, suppliers=100, parts=2000, orders=15000,
    lineitems=60000, events=10000, documents=500, embeddings=500,
)
SMOKE_SIZES = datagen.Sizes(
    customers=150, suppliers=10, parts=200, orders=1500,
    lineitems=6000, events=1000, documents=100, embeddings=100,
)


class Failures:
    """Operations attempted and failed, plus every correctness mismatch."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def mismatch(self, what: str) -> None:
        if len(self.mismatches) < 20:
            self.mismatches.append(what)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


class CatalogWorkload:
    """A fixed list of catalog queries over seeded fixture tables."""

    def __init__(self, name, queries, spark, work_dir, seed, nominal_pass_s,
                 min_passes, smoke=False):
        from edgy_spark.catalog import QUERIES, load_all_registrations

        load_all_registrations()
        self.name = name
        # a steady pass on a 4-core host; with --seconds it sets the pass count
        self.nominal_pass_s = nominal_pass_s
        self.min_passes = min_passes
        self.specs = [QUERIES[q] for q in queries]
        self.spark = spark
        self.seed = seed
        self.sizes = SMOKE_SIZES if smoke else CATALOG_SIZES
        self.data_dir = os.path.join(work_dir, "tables")
        self.digests: dict[str, str] = {}  # first digest seen per query
        # digests are recorded for the full-size inputs only
        self.expected = {} if smoke else load_expected().get(name, {}).get(str(seed), {})
        self.expected_checked = 0
        # latencies of the plain timed passes, per operation
        self.samples: dict[str, list[float]] = {s.name: [] for s in self.specs}

    @staticmethod
    def layer(spec) -> str:
        return spec.fn.__module__.removeprefix("edgy_spark.")

    def build_inputs(self) -> None:
        datagen.write_tables(datagen.build_tables(self.seed, self.sizes), self.data_dir)

    def load(self) -> None:
        pass

    def run_pass(self, tracer: Tracer, fails: Failures, timed: bool) -> None:
        for spec in self.specs:
            fails.attempted += 1
            try:
                rows, dt = tracer.call(
                    self.layer(spec),
                    lambda: spec.fn(self.spark, self.data_dir).collect(),
                    op=spec.name,
                )
            except Exception as exc:  # a failing query is counted, not fatal
                fails.failed += 1
                fails.mismatch(f"{spec.name}: raised {type(exc).__name__}: {exc}")
                continue
            d = digest(rows)
            del rows
            # checkpointed fixpoint state stays cached until the driver drops
            # its DataFrame references; free it so the next query starts clean
            gc.collect()
            if timed and not tracer.on:
                self.samples[spec.name].append(dt)
            if self.digests.setdefault(spec.name, d) != d:
                fails.mismatch(f"{spec.name}: digest {d} != warm pass")
            want = self.expected.get(spec.name)
            if want is not None:
                self.expected_checked += 1
                if d != want:
                    fails.mismatch(f"{spec.name}: digest {d} != expected {want}")

    def warm(self, tracer: Tracer, fails: Failures) -> None:
        """One untimed pass; it also records the digests later passes match."""
        self.run_pass(tracer, fails, timed=False)

    def finish(self, fails: Failures) -> dict:
        return {"expected_checked": self.expected_checked,
                "expected_recorded": bool(self.expected)}

# --- store_txn --------------------------------------------------------------

STORE_PERSONS = 10_000  # and as many objects
SMOKE_PERSONS = 200
STORE_ACTIVITIES = 40
TOOLS_PER_ACTIVITY = 5
READS_PER_WRITE = 4
WRITES_PER_PASS = 2  # the traversal runs once per pass, i.e. every 2nd write


class StoreWorkload:
    """One client against an ``Engine`` on the demo schema.

    A Python model of every node's age and adjacency mirrors each write, and
    every read and traversal is checked against it."""

    name = "store_txn"
    nominal_pass_s = 5.6  # a steady pass on a 4-core host
    min_passes = 2

    def __init__(self, spark, work_dir, seed, persons=STORE_PERSONS):
        self.spark = spark
        self.seed = seed
        self.root = os.path.join(work_dir, "store")
        self.n_persons = persons
        self.n_objects = persons
        self.rng = np.random.default_rng([seed, 1])
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("commit", "get_attribute", "get_related_list", "traverse")
        }
        self.written: list[int] = []  # person indices, in write order

    def build_inputs(self) -> None:
        """Draw the seed graph (node indices) and build the model."""
        rng = np.random.default_rng([self.seed, 0])
        n_p, n_o, n_a = self.n_persons, self.n_objects, STORE_ACTIVITIES
        self.poss_edges = (rng.integers(0, n_p, n_p), rng.integers(0, n_o, n_p))
        self.friend_edges = (rng.integers(0, n_p, n_p), rng.integers(0, n_p, n_p))
        hobby_src = rng.integers(0, n_p, n_p)
        self.hobby_edges = (hobby_src, rng.integers(0, n_a, n_p))
        self.tool_edges = (
            np.repeat(np.arange(n_a), TOOLS_PER_ACTIVITY),
            rng.integers(0, n_o, n_a * TOOLS_PER_ACTIVITY),
        )
        self.age = rng.integers(0, 90, n_p)
        self.poss = _adjacency(*self.poss_edges)
        self.friends = _adjacency(*self.friend_edges)
        self.hobbies = _adjacency(*self.hobby_edges)
        self.tools = _adjacency(*self.tool_edges)
        self.with_hobby = np.unique(hobby_src)

    def load(self) -> None:
        """Create the store: ``big_bang`` plus the seed graph, one commit."""
        import pandas as pd

        from edgy_spark.demo import big_bang, demo_schema
        from edgy_spark.graph import Engine

        self.engine = Engine(self.spark, self.root, demo_schema())
        ages = self.age

        def seed_txn(txn):
            big_bang(txn)
            p = np.array([txn.new_node("Person", name=f"p{i}", age=int(ages[i])).id
                          for i in range(self.n_persons)])
            o = np.array([txn.new_node("Object", name=f"o{i}").id
                          for i in range(self.n_objects)])
            a = np.array([txn.new_node("Activity", name=f"a{i}").id
                          for i in range(STORE_ACTIVITIES)])
            for rel, (src, dst), (s_ids, d_ids) in (
                ("possession", self.poss_edges, (p, o)),
                ("friend", self.friend_edges, (p, p)),
                ("hobby", self.hobby_edges, (p, a)),
                ("tool", self.tool_edges, (a, o)),
            ):
                pdf = pd.DataFrame({"src": s_ids[src], "dst": d_ids[dst]})
                txn.bulk_add_edges(rel, self.spark.createDataFrame(pdf))
            return p, o

        self.person_ids, self.object_ids = self.engine.run(seed_txn)
        self.object_index = {int(x): i for i, x in enumerate(self.object_ids)}
        self._wrap_store_commit()

    def _wrap_store_commit(self) -> None:
        """Time ``GraphStore.commit`` inside each write as its own layer;
        a traced pass also counts the bytes and files the commit adds."""
        store = self.engine.store
        inner = store.commit

        def commit(*args, **kwargs):
            tracer = self._tracer
            if not tracer.on:
                return inner(*args, **kwargs)
            b0, f0 = dir_stats(self.root)
            out, _ = tracer.call("storage.commit", inner, *args, **kwargs)
            b1, f1 = dir_stats(self.root)
            tracer.add("storage.commit", "write_mb", (b1 - b0) / 2**20)
            tracer.add("storage.commit", "files", f1 - f0)
            return out

        store.commit = commit

    # -- the pass ------------------------------------------------------------

    def _node(self, kind: str, idx: int):
        from edgy_spark.graph import Node

        ids = self.person_ids if kind == "Person" else self.object_ids
        return Node(kind, int(ids[idx]))

    def _write(self, p: int, o: int, age: int) -> None:
        person, obj = self._node("Person", p), self._node("Object", o)

        def txn_fn(txn):
            txn.set_attribute(person, "age", age)
            txn.add_related(person, "possession", obj)

        self._op("commit", "graph.commit", self.engine.run, txn_fn)
        self.age[p] = age
        self.poss.setdefault(p, []).append(o)
        self.written.append(p)

    def _read(self, txn, p: int, what: str = "read") -> None:
        person = self._node("Person", p)
        got = self._op("get_attribute", "graph.read", txn.get_attribute, person, "age")
        if got != int(self.age[p]):
            self.fails.mismatch(f"{what} age of p{p} = {got}, model {self.age[p]}")
        got = self._op("get_related_list", "graph.read", txn.get_related_list,
                       person, "possession")
        if sorted(self.object_index.get(n.id, -1) for n in got) != sorted(self.poss.get(p, [])):
            self.fails.mismatch(f"{what} possessions of p{p} differ from the model")

    def _traverse(self, p: int) -> None:
        from edgy_spark.demo import missing_tools

        got = self._op("traverse", "query.traverse", missing_tools, self.engine, f"p{p}")
        if got != self.model_missing_tools(p):
            self.fails.mismatch(f"missing_tools(p{p}) differs from the model")

    def model_missing_tools(self, p: int) -> list[str]:
        needed = Counter(t for a in self.hobbies.get(p, []) for t in self.tools[a])
        have = Counter(o for f in self.friends.get(p, []) for o in self.poss.get(f, []))
        have.update(self.poss.get(p, []))
        return sorted(f"o{o}" for o in (needed - have).elements())

    def _op(self, kind: str, layer: str, fn, *args):
        self.fails.attempted += 1
        try:
            result, dt = self._tracer.call(layer, fn, *args, op=kind)
        except Exception:
            self.fails.failed += 1
            raise
        if self._timed and not self._tracer.on:
            self.samples[kind].append(dt)
        return result

    def warm(self, tracer: Tracer, fails: Failures) -> None:
        """An untimed half pass: every operation kind once."""
        self.run_pass(tracer, fails, timed=False, writes=1)

    def run_pass(self, tracer: Tracer, fails: Failures, timed: bool,
                 writes: int = WRITES_PER_PASS) -> None:
        self._tracer, self.fails, self._timed = tracer, fails, timed
        rng = self.rng
        for w in range(writes):
            p = int(rng.choice(self.with_hobby))
            self._write(p, int(rng.integers(self.n_objects)), int(rng.integers(0, 90)))
            readers = (p, int(rng.integers(self.n_persons)))
            for r in range(READS_PER_WRITE // 2):
                self._read(self.engine.read(), readers[r % 2])
            if w == 0:
                self._traverse(p)

    def finish(self, fails: Failures) -> dict:
        """End state: fsck, then read back the last written nodes."""
        report = self.engine.store.fsck()
        if not report["ok"]:
            fails.mismatch(f"fsck: {report['errors'][:3]}")
        self._tracer, self.fails, self._timed = Tracer(None), fails, False
        txn = self.engine.read()
        for p in dict.fromkeys(reversed(self.written[-WRITES_PER_PASS:])):
            self._read(txn, p, "read-back")
        return {"fsck_ok": report["ok"], "store_mb": dir_stats(self.root)[0] / 2**20}


def _adjacency(src: np.ndarray, dst: np.ndarray) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for s, d in zip(src.tolist(), dst.tolist()):
        out.setdefault(s, []).append(d)
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def make(name: str, spark, work_dir: str, seed: int, smoke: bool = False):
    """``smoke`` shrinks the inputs to a quick self-test size."""
    if name == "graph_iter":
        # the many small fixpoint jobs keep getting faster (JIT) through the
        # third pass after the cold one, so its median needs three passes
        return CatalogWorkload(name, GRAPH_ITER, spark, work_dir, seed, 5.4, 3, smoke)
    if name == "llm_pipeline":
        return CatalogWorkload(name, LLM_PIPELINE, spark, work_dir, seed, 4.3, 2, smoke)
    if name == "store_txn":
        return StoreWorkload(spark, work_dir, seed,
                             SMOKE_PERSONS if smoke else STORE_PERSONS)
    raise ValueError(f"unknown workload {name!r}")

