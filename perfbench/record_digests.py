"""Record the expected result digests of the catalog workloads.

    python3 perfbench/record_digests.py --seeds 0-31

Runs each catalog workload's pass once per seed in one Spark session and
writes the digests to ``perfbench/expected_digests.json``, which every
benchmark run then checks its timed passes against.  Re-record only when a
change is meant to alter query results, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import WORK_ROOT, prepare_env, stop_spark  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--seeds", default="0-31", help="range such as 0-31")
    parser.add_argument("--workloads", default="graph_iter,llm_pipeline")
    args = parser.parse_args()
    work = os.path.join(WORK_ROOT, f"record-{os.getpid()}")
    prepare_env(work)

    from edgy_spark.session import get_spark
    from perfbench import workloads
    from perfbench.measure import Tracer

    spark = get_spark("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    record = workloads.load_expected()
    try:
        for name in args.workloads.split(","):
            for seed in _seeds(args.seeds):
                wl = workloads.make(name, spark, work, seed)
                wl.build_inputs()
                fails = workloads.Failures()
                wl.warm(Tracer(None), fails)
                if fails.failed:
                    raise SystemExit(f"{name} seed {seed}: {fails.mismatches}")
                record.setdefault(name, {})[str(seed)] = wl.digests
                print(name, seed, flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.EXPECTED_PATH, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
