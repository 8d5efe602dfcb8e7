"""The repository benchmark: one closed-loop client per run.

Run from the repository root::

    python3 perfbench/run.py --workload graph_iter --seed 1 --seconds 10 --trace 0

Workloads are ``graph_iter``, ``llm_pipeline`` and ``store_txn`` (see
``perfbench/workloads.py``).  A run starts one local Spark session, builds
its inputs from ``--seed`` under ``.perfbench_work/``, runs one untimed warm
pass, then repeats the workload's fixed pass ``--seconds`` / its nominal
pass time times (at least twice; a traced run needs a plain and a traced
pass), checking every result it times.  The last stdout
line is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``END_TO_END``):

- ``setup_s``: process start to the first timed call (session start, one
  input build -- the median of ``INPUT_BUILDS`` -- store seeding, warm pass);
- ``pass_s``: median wall time of a timed pass;
- ``cpu_s``: median CPU seconds of a pass, summed over this process, the JVM
  and its Python workers;
- ``query_gmean_s``: geometric mean over the pass's operations of each
  operation's median latency.

``--trace 1`` alternates plain and traced passes; a traced pass runs each
call under its own Spark job group and charges Spark's job and stage
accounting to the call's layer.  It reports the per-layer metrics
(``PER_LAYER``) per traced pass; ``trace.overhead_s`` is the time a traced
pass spends reading that accounting, the cost tracing adds to a pass.

The line before the last one holds run details: host drift probes, every
latency sample, check results.  Spans of a traced run are written to
``.perfbench_work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

WORKLOADS = ("graph_iter", "llm_pipeline", "store_txn")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".perfbench_work")

INPUT_BUILDS = 3  # setup_s counts the median of these input builds
DRIVER_MEM = "3g"

MODULES = (
    "graph_algos", "graph_queries", "recursive", "dedup", "multimodal",
    "similarity", "text", "pipeline",
)
MODULE_FIELDS = (
    ("wall_s", "s"), ("driver_s", "s"), ("exec_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"), ("input_mb", "MB"),
)
END_TO_END = (
    ("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"), ("query_gmean_s", "s"),
)
PER_LAYER = (
    *((f"operators.{m}.{f}", u) for m in MODULES for f, u in MODULE_FIELDS),
    ("operators.dedup.shuffle_rw_ratio", "ratio"),
    ("graph.commit_s", "s"), ("graph.commit_jobs", "count"),
    ("graph.commit_p50_s", "s"), ("graph.stage_s", "s"),
    ("graph.read_s", "s"), ("graph.read_jobs", "count"), ("graph.read_p50_s", "s"),
    ("storage.commit_s", "s"), ("storage.commit_jobs", "count"),
    ("storage.commit_stages", "count"), ("storage.write_mb", "MB"),
    ("storage.files", "count"), ("storage.store_mb", "MB"),
    ("query.traverse_s", "s"), ("query.traverse_jobs", "count"),
    ("query.traverse_driver_s", "s"), ("query.traverse_p50_s", "s"),
    ("session.start_s", "s"), ("catalog.load_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"), ("session.live_heap_mb", "MB"),
    ("trace.overhead_s", "s"),
)


def prepare_env(work: str) -> None:
    """Confine Spark's scratch files to the run's directory and let the
    Python workers import the package, before the JVM starts."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, len(os.sched_getaffinity(0))))
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def _per_layer(tracer, wl, n_traced: int, extra: dict) -> dict[str, float]:
    from perfbench.measure import median

    layers = tracer.layers
    out: dict[str, float] = {}
    for m in MODULES:
        agg = layers.get(f"operators.{m}", {})
        for f, _ in MODULE_FIELDS:
            out[f"operators.{m}.{f}"] = agg.get(f, 0.0) / n_traced
    dd = layers.get("operators.dedup", {})
    w = dd.get("shuffle_write_mb", 0.0)
    out["operators.dedup.shuffle_rw_ratio"] = dd.get("shuffle_read_mb", 0.0) / w if w else 0.0

    def per_pass(layer: str, key: str) -> float:
        return layers.get(layer, {}).get(key, 0.0) / n_traced

    lat = wl.samples
    out["graph.commit_s"] = per_pass("graph.commit", "wall_s")
    out["graph.commit_jobs"] = per_pass("graph.commit", "jobs")
    out["graph.commit_p50_s"] = median(lat.get("commit", []))
    out["graph.read_s"] = per_pass("graph.read", "wall_s")
    out["graph.read_jobs"] = per_pass("graph.read", "jobs")
    out["graph.read_p50_s"] = median(lat.get("get_attribute", []) + lat.get("get_related_list", []))
    out["storage.commit_s"] = per_pass("storage.commit", "wall_s")
    out["storage.commit_jobs"] = per_pass("storage.commit", "jobs")
    out["storage.commit_stages"] = per_pass("storage.commit", "stages")
    out["storage.write_mb"] = per_pass("storage.commit", "write_mb")
    out["storage.files"] = per_pass("storage.commit", "files")
    out["storage.store_mb"] = extra.get("store_mb", 0.0)
    out["graph.stage_s"] = out["graph.commit_s"] - out["storage.commit_s"]
    out["query.traverse_s"] = per_pass("query.traverse", "wall_s")
    out["query.traverse_jobs"] = per_pass("query.traverse", "jobs")
    out["query.traverse_driver_s"] = per_pass("query.traverse", "driver_s")
    out["query.traverse_p50_s"] = median(lat.get("traverse", []))
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started (the JVM and its Python workers) has exited."""
    from perfbench.measure import descendants, running
    from perfbench.sparkstats import stop_jvm

    started = descendants()
    stop_jvm(spark)
    deadline = time.monotonic() + 20
    while alive := [p for p in started if running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        smoke: bool = False) -> tuple[dict, dict]:
    from edgy_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    try:
        detail, metrics, fails = _measure(spark, workload, seed, seconds, trace,
                                          work, smoke)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
    detail.update(session_start_s=session_start_s, stop_s=stop_s,
                  run_wall_s=time.perf_counter() - T0)
    if trace:
        metrics["session.start_s"] = session_start_s
        units = dict(PER_LAYER)
    else:
        units = dict(END_TO_END)
    result = {
        "correct": not fails.mismatches and fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def _measure(spark, workload, seed, seconds, trace, work, smoke):
    """Set up, warm, run the timed passes and check the end state."""
    from perfbench import workloads
    from perfbench.measure import (
        Tracer, gmean, host_probe, median, peak_rss_mb, tree_cpu_s,
    )
    from perfbench.sparkstats import SparkAccounting

    wl = workloads.make(workload, spark, work, seed, smoke)
    builds = []
    for _ in range(INPUT_BUILDS):
        t = time.perf_counter()
        wl.build_inputs()
        builds.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.load()
    load_s = time.perf_counter() - t

    fails = workloads.Failures()
    plain = Tracer(None)
    acct = SparkAccounting(spark.sparkContext)
    traced = Tracer(acct) if trace else None
    t = time.perf_counter()
    wl.warm(plain, fails)
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T0 - sum(builds) + median(builds)
    host_start = host_probe(spark)

    # a fixed pass count per --seconds keeps runs comparable; a traced run
    # alternates plain and traced passes, plain first
    n_passes = max(wl.min_passes, round(seconds / wl.nominal_pass_s))
    walls: dict[bool, list[float]] = {False: [], True: []}
    cpus: list[float] = []
    t_start = time.perf_counter()
    try:
        for i in range(n_passes):
            tracing = traced is not None and i % 2 == 1
            tracer = traced if tracing else plain
            tracer.trace_id += 1
            c0 = tree_cpu_s()
            _, wall = tracer.call("pass", wl.run_pass, tracer, fails, timed=True)
            walls[tracing].append(wall)
            if not tracing:
                cpus.append(tree_cpu_s() - c0)
        measured_s = time.perf_counter() - t_start
        extra = wl.finish(fails)
    except Exception:  # a failed operation ends the run; report, don't hide
        traceback.print_exc()
        measured_s, extra = time.perf_counter() - t_start, {}
        fails.mismatch("an operation raised; see stderr")
    host_end = host_probe(spark)

    lat = wl.samples
    detail = {
        "workload": workload, "seed": seed, "trace": trace,
        "passes": len(walls[False]), "traced_passes": len(walls[True]),
        "measured_s": measured_s, "pass_walls_s": walls[False],
        "samples": {k: [round(x, 4) for x in v] for k, v in lat.items()},
        "host_start": host_start, "host_end": host_end,
        "input_builds_s": builds, "load_s": load_s, "warm_s": warm_s,
        "setup_s": setup_s, "mismatches": fails.mismatches, **extra,
    }
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median(walls[False]),
            "cpu_s": median(cpus),
            "query_gmean_s": gmean([median(v) for v in lat.values() if v]),
        }
        return detail, metrics, fails
    n_traced = max(1, len(walls[True]))
    metrics = _per_layer(traced, wl, n_traced, extra)
    metrics["catalog.load_s"] = median(builds) if workload != "store_txn" else 0.0
    metrics["session.jvm_peak_rss_mb"] = peak_rss_mb(acct.jvm_pid())
    metrics["session.live_heap_mb"] = acct.live_heap_mb()
    metrics["trace.overhead_s"] = traced.overhead_s / n_traced
    spans_path = os.path.join(WORK_ROOT, f"spans-{workload}-{seed}.json")
    with open(spans_path, "w") as f:
        json.dump(traced.span_dicts(), f)
    detail["spans"] = os.path.relpath(spans_path, REPO)
    return detail, metrics, fails


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true",
                        help="tiny inputs, for the benchmark's own tests")
    args = parser.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "edgy_spark", "__init__.py")):
        print(f"error: no edgy_spark package in {REPO}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        detail, result = run(args.workload, args.seed, args.seconds,
                             bool(args.trace), work, args.smoke)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
