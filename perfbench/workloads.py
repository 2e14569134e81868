"""The benchmark's workloads. Each drives production entry points from
outside and measures one operation per run, after set-up, followed by
one restart over the committed output (``resume_s``: what a restarted
job pays). On 4 cores one operation takes longer than the run time
``BENCHMARK.json`` asks for, so a run never has room for a second.

* ``batch_link``: one ``linkage.run_staged`` pass with ``PRODUCTION_CONFIG``
  (the path ``main.py --profile production`` runs) into a fresh output
  directory, in a fresh JVM: a ``spark-submit`` batch pays the JVM's
  first-pass cost (class loading, JIT, plan code generation, Python worker
  start) on every run, so that cost is measured, not warmed away.
* ``incremental_cadence``: a 95% base committed by ``run_staged`` in set-up
  (which also warms the JVM, as a long-lived cadence job is warm); then one
  cycle: a 5% ``incremental_link`` step, committed, then one ``retract``
  request against the state the step committed, both under
  ``increment_tuning`` with the committed keys, key counts, match edges and
  anchor snapshot (the shape of ``bench.py`` q11b).
"""

from __future__ import annotations

import os
import random
import statistics
import time

from perfbench import gates
from perfbench.harness import MemorySampler, summarize

# synth.generate(n_base=320) gives 840 +- 23 conversations; every corpus is
# cut to its first CORPUS_CONVS by arrival, so all seeds have one size
N_BASE = 320
CORPUS_CONVS = 720
INCREMENT_CONVS = CORPUS_CONVS // 20  # incremental_cadence: the last 5% arrive as the step
RETRACT_CONVS = 10                    # conversations named in the deletion request
INPUT_REPEATS = 3                     # corpus generations in set-up; the median counts


def seeded_corpus(seed: int):
    """``synth.generate`` cut to its first ``CORPUS_CONVS`` conversations in
    arrival order, with the ground truth restricted to match."""
    from pipeline import synth

    c = synth.generate(n_base=N_BASE, seed=seed)
    keep = set(c.conv_meta["conv_id"].iloc[:CORPUS_CONVS])
    tp = c.true_pairs
    return synth.SynthCorpus(
        turns=c.turns[c.turns["conv_id"].isin(keep)],
        conv_meta=c.conv_meta[c.conv_meta["conv_id"].isin(keep)],
        true_pairs=tp[tp["conv_id_a"].isin(keep) & tp["conv_id_b"].isin(keep)],
        expected_clusters=c.expected_clusters[c.expected_clusters["conv_id"].isin(keep)],
    )


def _pairs_dropped(pair_cap_audit) -> int:
    from pyspark.sql import functions as F

    dropped = F.sum(F.col("pairs_total") - F.col("pairs_kept"))
    return int(pair_cap_audit.agg(dropped).first()[0] or 0)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    """Set-up, the measured operation and checks for one workload.

    Subclasses provide ``generate`` (the seeded corpus), ``load`` (hand it
    to Spark), ``warm_up`` (the rest of set-up), ``op`` (the measured
    operation), ``resume`` (``run_staged`` over committed output),
    ``quality`` (``pair_f1`` / ``cluster_f1`` of the committed output) and
    ``finish`` (end-of-run checks and metrics)."""

    name = ""

    def __init__(self, spark, seed: int, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.setup: dict[str, float] = {}

    def out_dir(self, name: str) -> str:
        return os.path.join(self.run_dir, "out", name)

    def fail(self, problems: list[str]) -> None:
        if problems:
            self.failed = self.attempted
            self.problems += problems

    # -- set-up ------------------------------------------------------------
    def set_up(self) -> None:
        times = []
        for _ in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            self.corpus = self.generate()
            times.append(time.perf_counter() - t0)
        self.setup["generate_s"] = statistics.median(times)
        for step in (self.load, self.warm_up):
            t0 = time.perf_counter()
            step()
            self.setup[f"{step.__name__}_s"] = time.perf_counter() - t0

    def warm_up(self) -> None:
        pass

    # -- measurement ---------------------------------------------------------
    def measure(self, tracer=None) -> dict:
        """The operation, then one restart over its committed output. With
        a ``tracer`` both are traced. ``sample`` is None when the operation
        raised; the error counts as a failed operation."""
        sample, resume_s = None, None
        if tracer is not None:
            tracer.install()
            self.tracer = tracer
        try:
            with MemorySampler() as mem:
                self.attempted = 1
                try:
                    sample = self.op()
                except Exception as e:
                    self.fail([f"{type(e).__name__}: {e}"])
                if sample is not None:
                    with self.span("io.resume", "io"):
                        t0 = time.perf_counter()
                        self.resume()
                        resume_s = time.perf_counter() - t0
        finally:
            if tracer is not None:
                tracer.uninstall()
                self.tracer = None
        return {"sample": sample, "resume_s": resume_s, "peak_mem_mb": mem.peak_mb}

    def span(self, name: str, layer: str):
        """A tracer span when this run is traced, else a no-op."""
        if self.tracer is None:
            return _NullSpan()
        return self.tracer.span(name, layer)

    def finish_common(self, m: dict, convs: int) -> dict:
        """Timings of the run, and its quality held to what the seed code
        produced for this seed (``reference.json``)."""
        scores = self.quality()
        self.fail(gates.check_quality(scores, self.name, self.seed))
        wall = m["sample"]["wall_s"]
        return {
            "wall_s": summarize([wall]),
            "convs_per_s": convs / wall,
            "resume_s": summarize([m["resume_s"]]),
            **scores,
        }


class _NullSpan:
    def __enter__(self):
        return {"attrs": {}, "id": None}

    def __exit__(self, *exc):
        return False


# ---------------------------------------------------------------------------
class BatchLink(Workload):
    name = "batch_link"

    def generate(self):
        return seeded_corpus(self.seed)

    def load(self) -> None:
        df = self.spark.createDataFrame
        self.turns = df(self.corpus.turns).localCheckpoint(eager=True)
        self.true_pairs = df(self.corpus.true_pairs)
        self.expected = df(self.corpus.expected_clusters)
        self.conv_ids = set(self.corpus.conv_meta["conv_id"])

    def _run_staged(self):
        from pipeline.config import PRODUCTION_CONFIG
        from pipeline.linkage import run_staged

        return run_staged(
            self.spark, self.turns, self.out_dir("pass"), PRODUCTION_CONFIG,
            input_token=f"perfbench:{self.name}:{self.seed}",
        )

    def resume(self) -> None:
        self._run_staged()  # every stage committed

    def op(self) -> dict:
        with self.span("batch_link.pass", "linkage") as rec:
            t0 = time.perf_counter()
            out = self._run_staged()  # fresh output directory: nothing to resume
            wall = time.perf_counter() - t0
        self.scores = self.score(out)
        self.fail(gates.check_min_id_partition(gates.labels_to_dict(out["clusters"]), self.conv_ids))
        sample = {"wall_s": wall}
        if self.tracer is not None:
            sample["span"] = rec["id"]
            sample["layers"] = self.layer_counts(out)
        return sample

    def score(self, out: dict) -> dict:
        from pipeline.evaluate import cluster_agreement, pairwise_f1

        return {
            "pair_f1": pairwise_f1(out["scored"], self.true_pairs)["f1"],
            "cluster_f1": cluster_agreement(out["clusters"], self.expected)["f1"],
        }

    def quality(self) -> dict:
        return self.scores

    def layer_counts(self, out: dict) -> dict:
        """Per-layer counts of a traced pass, read from its committed stage
        tables after the pass (outside every span)."""
        from pipeline.evaluate import blocking_metrics
        from pipeline.io import read_table

        out_dir = self.out_dir("pass")
        pairs_out = out["pairs"].count()
        matched = out["match_summary"].first()["pairs_matched"] or 0
        recall = blocking_metrics(out["pairs"], self.expected).first()["pairs_completeness_x1e6"]
        return {
            "canonicalize.docs_out": out["docs"].count(),
            "blocking.pairs_out": pairs_out,
            "blocking.hot_keys_capped": read_table(
                self.spark, os.path.join(out_dir, "hot_key_audit")
            ).count(),
            "blocking.pairs_dropped_by_cap": _pairs_dropped(
                read_table(self.spark, os.path.join(out_dir, "pair_cap_audit"))
            ),
            "blocking.precision": matched / pairs_out if pairs_out else 0.0,
            "blocking.recall": recall / 1e6,
            "scoring.pairs_scored": pairs_out,
            "scoring.pairs_matched": int(matched),
            "io.bytes_written": _dir_bytes(out_dir),
        }

    def finish(self, m: dict) -> dict:
        return self.finish_common(m, len(self.conv_ids))


# ---------------------------------------------------------------------------
class IncrementalCadence(Workload):
    name = "incremental_cadence"

    def generate(self):
        return seeded_corpus(self.seed)

    def load(self) -> None:
        """Base = all but the last ``INCREMENT_CONVS`` conversations by
        arrival; the step appends those; the retraction names
        ``RETRACT_CONVS`` base conversations drawn with the seed."""
        turns = self.corpus.turns
        arrival = list(self.corpus.conv_meta["conv_id"])
        n_base = len(arrival) - INCREMENT_CONVS
        df = self.spark.createDataFrame
        self.base_ids = set(arrival[:n_base])
        self.new_ids = set(arrival[n_base:])
        self.base_turns = df(turns[turns["conv_id"].isin(self.base_ids)]).localCheckpoint(eager=True)
        self.new_turns = df(turns[turns["conv_id"].isin(self.new_ids)]).localCheckpoint(eager=True)
        self.removed = random.Random(self.seed).sample(sorted(self.base_ids), RETRACT_CONVS)
        self.ids = (self.base_ids | self.new_ids) - set(self.removed)

    def _run_staged(self):
        from pipeline.config import PRODUCTION_CONFIG
        from pipeline.linkage import run_staged

        return run_staged(
            self.spark, self.base_turns, self.out_dir("base"), PRODUCTION_CONFIG,
            input_token=f"perfbench:{self.name}:{self.seed}:base",
        )

    def resume(self) -> None:
        self._run_staged()  # a restarted job re-opening the committed base

    def warm_up(self) -> None:
        """The committed base build: staged batch over the base, plus the
        blocking state and anchor snapshot an increment consumes."""
        from pyspark.sql import functions as F

        from pipeline.blocking import key_table_with_counts, token_df
        from pipeline.config import PRODUCTION_CONFIG as cfg

        out = self._run_staged()
        self.cfg = cfg
        self.feats = out["features"]
        self.clusters = out["clusters"]
        self.edges = out["scored"].where("is_match").select(
            F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
        ).localCheckpoint(eager=True)
        self.snapshot = token_df(self.feats, cfg).localCheckpoint(eager=True)
        keys, counts = key_table_with_counts(self.feats, cfg, self.snapshot)
        self.keys = keys.localCheckpoint(eager=True)
        self.counts = counts.localCheckpoint(eager=True)

    def _commit(self, out: dict, tag: str, t0: float) -> float:
        """Commit a step's or retraction's output: labels written with
        ``io.write_table`` (the latency end point, returned as seconds since
        ``t0``), then the blocking state the next request reads, pinned with
        ``materialize_state``."""
        from pipeline.incremental import materialize_state
        from pipeline.io import read_table, write_table

        path = self.out_dir(f"labels_{tag}")
        write_table(out["clusters"], path)
        self.clusters = read_table(self.spark, path)
        latency = time.perf_counter() - t0
        state = materialize_state(out, keys=("features", "keys", "key_counts"))
        self.feats, self.keys, self.counts = (
            state["features"], state["keys"], state["key_counts"]
        )
        return latency

    def op(self) -> dict:
        from pyspark.sql import functions as F

        from pipeline import audit
        from pipeline.incremental import increment_tuning, incremental_link, retract
        from pipeline.io import write_table
        from pipeline.session import release_caches

        spark, cfg = self.spark, self.cfg

        with self.span("incremental_cadence.cycle", "linkage") as cycle_rec:
            # step: increment's turns handed over -> updated labels committed
            with self.span("incremental.step", "incremental") as step_rec:
                t0 = time.perf_counter()
                with increment_tuning(spark):
                    out = incremental_link(
                        self.feats, self.clusters, self.new_turns, cfg,
                        anchor_df=self.snapshot,
                        existing_keys=self.keys, existing_key_counts=self.counts,
                    )
                    step_s = self._commit(out, "step", t0)
                    scored = out["scored"]  # pinned by incremental_link
                    self.edges = self.edges.unionByName(
                        scored.select(
                            F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
                        )
                    )
                    with self.span("audit.step_tiers", "audit"):
                        write_table(audit.tier_histogram(scored), self.out_dir("tiers_step"))
                step_wall = time.perf_counter() - t0
            release_caches()
            hot_rows = out["hot_key_audit"].count()
            self.audits_empty = hot_rows == 0 and out["cap_risk_audit"].count() == 0

            # retract: deletion request handed over -> repaired labels committed
            with self.span("incremental.retract", "incremental") as retract_rec:
                t0 = time.perf_counter()
                with increment_tuning(spark):
                    r = retract(
                        self.feats, self.clusters,
                        spark.createDataFrame([(c,) for c in self.removed], "conv_id string"),
                        cfg, match_edges=self.edges,
                        existing_keys=self.keys, existing_key_counts=self.counts,
                        anchor_df=self.snapshot,
                    )
                    retract_s = self._commit(r, "retract", t0)
                    self.edges = r["match_edges"].localCheckpoint(eager=True)
                retract_wall = time.perf_counter() - t0
            release_caches()

        self.labels = gates.labels_to_dict(self.clusters)
        self.fail(gates.check_min_id_partition(self.labels, self.ids))
        sample = {"wall_s": step_wall + retract_wall, "step_s": step_s, "retract_s": retract_s}
        if self.tracer is not None:
            step_inc = self.tracer.inclusive(step_rec["id"])
            sample["span"] = cycle_rec["id"]
            sample["layers"] = {
                "canonicalize.docs_out": len(self.new_ids),
                "blocking.hot_keys_capped": hot_rows,
                "blocking.pairs_dropped_by_cap": _pairs_dropped(out["pair_cap_audit"]),
                "scoring.pairs_matched": scored.count(),
                "io.bytes_written": sum(
                    _dir_bytes(self.out_dir(d)) for d in ("labels_step", "tiers_step", "labels_retract")
                ),
                "incremental.jobs_per_step": step_inc["jobs"],
                "incremental.stages_per_step": step_inc["stages"],
                "retract.jobs": self.tracer.inclusive(retract_rec["id"])["jobs"],
            }
        return sample

    def quality(self) -> dict:
        """Quality of the committed state; and the labels equal one batch
        run over the same final corpus and anchor snapshot whenever no cap
        could bind (the equivalence theorem's scope)."""
        from pyspark.sql import functions as F

        from pipeline.evaluate import cluster_agreement, pairwise_f1
        from pipeline.linkage import build_plan, cluster_edges

        spark, ids, c = self.spark, self.ids, self.corpus
        truth = c.true_pairs[c.true_pairs["conv_id_a"].isin(ids) & c.true_pairs["conv_id_b"].isin(ids)]
        expected = c.expected_clusters[c.expected_clusters["conv_id"].isin(ids)]
        scored = self.edges.select(
            F.col("src").alias("conv_id_a"), F.col("dst").alias("conv_id_b"),
            F.lit(True).alias("is_match"),
        )
        if self.audits_empty:
            turns = spark.createDataFrame(c.turns[c.turns["conv_id"].isin(ids)])
            plan = build_plan(turns, self.cfg, anchor_df=self.snapshot)
            batch, _ = cluster_edges(plan["edges"], plan["features"])
            self.fail(gates.check_labels_equal(self.labels, gates.labels_to_dict(batch)))
        return {
            "pair_f1": pairwise_f1(scored, spark.createDataFrame(truth))["f1"],
            "cluster_f1": cluster_agreement(self.clusters, spark.createDataFrame(expected))["f1"],
        }

    def finish(self, m: dict) -> dict:
        s = m["sample"]
        return {
            **self.finish_common(m, INCREMENT_CONVS + RETRACT_CONVS),
            "step_p50_s": summarize([s["step_s"]]),
            "retract_p50_s": summarize([s["retract_s"]]),
            "batch_compared": self.audits_empty,
        }


WORKLOADS = {w.name: w for w in (BatchLink, IncrementalCadence)}
