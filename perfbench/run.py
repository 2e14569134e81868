"""Seeded linkage benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload batch_link --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` with ``pipeline/synth.py``
inside this one driver process, starts a ``local[4]`` session, sets up,
measures the workload's operation, checks the output and prints one line
per metric followed by a final JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
operation, reports the per-layer metrics and writes the spans to
``.perfbench_work/traces/``. Exit status is 1 when a correctness gate
fails, and non-zero without a result line when the program cannot run.
``--seed`` may be any integer; the inputs are generated from
``seed mod 64``, the seeds whose quality ``reference.json`` records.
One operation outlasts ``--seconds`` at the run time ``BENCHMARK.json``
sets, so a run measures exactly one.
See ``README.md`` for the workloads, metrics and gates.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gates, harness  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "convs_per_s": "1/s",
    "pair_f1": "ratio",
    "cluster_f1": "ratio",
    "peak_rss_mb": "MB",
}

LAYERS = ["canonicalize", "features", "blocking", "scoring", "cluster", "audit", "io", "incremental"]
SELF_TIMED = ["canonicalize", "features", "blocking", "scoring", "cluster", "audit"]
PER_LAYER = {
    **{f"{layer}.self_s": "s" for layer in SELF_TIMED},
    "io.commit_s": "s",
    "io.resume_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "canonicalize.docs_out": "count",
    "blocking.pairs_out": "count",
    "blocking.hot_keys_capped": "count",
    "blocking.pairs_dropped_by_cap": "count",
    "blocking.precision": "ratio",
    "blocking.recall": "ratio",
    "scoring.pairs_per_s": "1/s",
    "scoring.pairs_matched": "count",
    "cluster.iterations": "count",
    "cluster.edges_in": "count",
    "cluster.mode": "code",
    "io.bytes_written": "bytes",
    "incremental.jobs_per_step": "count",
    "incremental.stages_per_step": "count",
    "retract.jobs": "count",
    **{f"{layer}.spark_jobs": "count" for layer in LAYERS},
    **{f"{layer}.spark_stages": "count" for layer in LAYERS},
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def layer_values(tracer, sample: dict) -> dict:
    """Per-layer metrics of one traced operation."""
    sub = tracer.subtree(sample["span"])
    roll = tracer.self_times(sub)
    v = {name: 0 for name in PER_LAYER}
    for layer in SELF_TIMED:
        v[f"{layer}.self_s"] = roll.get(layer, {}).get("self_s", 0.0)
    v["io.commit_s"] = roll.get("io", {}).get("self_s", 0.0)
    v["trace.wall_s"] = sample["wall_s"]
    v["trace.overhead_s"] = sum(s["bookkeeping_s"] for s in sub)
    for layer in LAYERS:
        v[f"{layer}.spark_jobs"] = roll.get(layer, {}).get("jobs", 0)
        v[f"{layer}.spark_stages"] = roll.get(layer, {}).get("stages", 0)
    cc = [s for s in sub if s["name"] == "cluster.connected_components"]
    if cc:
        big = max(cc, key=lambda s: s["attrs"]["edges_in"])
        v["cluster.iterations"] = big["attrs"]["iterations"]
        v["cluster.edges_in"] = big["attrs"]["edges_in"]
        v["cluster.mode"] = 0 if big["attrs"]["mode"] == "driver_union_find" else 1
    layers = dict(sample["layers"])
    scored = layers.pop("scoring.pairs_scored", 0)
    v.update(layers)
    if scored and v["scoring.self_s"] > 0:
        v["scoring.pairs_per_s"] = scored / v["scoring.self_s"]
    return v


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    run_dir = os.path.join(harness.WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    harness.prepare_env(run_dir)

    from perfbench.workloads import WORKLOADS

    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, gates.corpus_seed(args.seed), run_dir)
        wl.set_up()
        setup_s = session_s + sum(wl.setup.values())
        tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            tracer = Tracer(spark)
        m = wl.measure(tracer)
        res = wl.finish(m) if m["sample"] else {}
        if tracer is not None:
            trace_dir = os.path.join(harness.WORK_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [
        ("setup_s", {"value": setup_s, "session_s": session_s, **wl.setup}),
        ("failed_frac", wl.failed / max(wl.attempted, 1)),
        ("peak_rss_mb", m["peak_mem_mb"]),
        *res.items(),
    ]
    for name, val in lines:
        print(f"{args.workload} {name} {json.dumps(val)}")
    for p in wl.problems:
        print(f"{args.workload} FAILED {p}")

    metrics: dict[str, dict] = {}
    if args.trace:
        if m["sample"]:
            v = {**layer_values(tracer, m["sample"]), "io.resume_s": m["resume_s"]}
            metrics = {name: {"value": v[name], "unit": unit} for name, unit in PER_LAYER.items()}
        wanted = PER_LAYER
    else:
        values = {**res, "setup_s": setup_s, "peak_rss_mb": m["peak_mem_mb"]}
        for name, unit in END_TO_END.items():
            if name in values:
                val = values[name]
                metrics[name] = {"value": val["median"] if isinstance(val, dict) else val, "unit": unit}
        wanted = END_TO_END

    correct = wl.attempted > 0 and wl.failed == 0 and not wl.problems and set(metrics) == set(wanted)
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
