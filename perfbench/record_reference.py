"""Re-record ``reference.json`` for one workload: the ``pair_f1`` /
``cluster_f1`` the current code produces for each seed in the range, which
the benchmark's quality gate then holds later code to. Other seeds and
workloads keep their recorded values.

    python3 perfbench/record_reference.py --workload batch_link --seeds 0-63

Run it only when a change means to move accuracy, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gates, harness  # noqa: E402

METRICS = ["pair_f1", "cluster_f1"]


def main() -> None:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-63")
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    work_dir = os.path.join(harness.WORK_DIR, f"reference-{os.getpid()}")
    harness.prepare_env(work_dir)

    spark = harness.start_session()
    seeds = {}
    try:
        for seed in range(lo, hi + 1):
            run_dir = os.path.join(work_dir, str(seed))  # fresh: nothing to resume
            wl = WORKLOADS[args.workload](spark, seed, run_dir)
            wl.set_up()
            wl.measure()
            scores = wl.quality()
            shutil.rmtree(run_dir, ignore_errors=True)
            if wl.problems:
                raise SystemExit(f"seed {seed}: {wl.problems}")
            seeds[str(seed)] = {k: scores[k] for k in METRICS}
            print(seed, seeds[str(seed)], flush=True)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    with open(gates.REFERENCE_PATH) as f:
        ref = json.load(f)
    ref.setdefault(args.workload, {"metrics": METRICS, "seeds": {}})["seeds"].update(seeds)
    with open(gates.REFERENCE_PATH, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
