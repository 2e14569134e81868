"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's side only: the public entry
points of each layer are wrapped at runtime (``Tracer.install``) and
restored afterwards, so the program itself carries no tracing code.

* Every span has a name, a layer, start/end (``perf_counter``), its
  parent span and the run's trace id.
* Every span records its own bookkeeping time, the tracer's overhead.
* Every span owns a Spark job group while it is the innermost open span,
  so ``statusTracker`` attributes each job and stage to exactly one span.
* A layer's self time is the sum over its spans of span duration minus
  the time covered by the span's children.

Attribution follows where the work runs, not where the plan is built.
Spark is lazy: a ``StageRunner`` stage computes inside its parquet write,
so the write is recorded as a child of the stage and charged to the
stage's layer, while ``io`` keeps only the commit around it (manifest,
rename, read-back). Layer functions that only build a plan (``featurize``
inside ``incremental_link``) get spans of plan-building time; the
actions that execute that plan are charged to the caller's span.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from contextlib import contextmanager

# StageRunner stage name -> layer (pipeline/linkage.py run_staged)
STAGE_LAYER = {
    "docs": "canonicalize",
    "features": "features",
    "rep_features": "blocking",
    "dup_map": "blocking",
    "anchor_df": "blocking",
    "hot_key_audit": "blocking",
    "pair_cap_audit": "blocking",
    "pairs": "blocking",
    "scored": "scoring",
    "scored_audit_sample": "scoring",
    "clusters": "cluster",
    "tier_histogram": "audit",
    "match_summary": "audit",
    "review_queue": "audit",
    "partition_lineage": "audit",
    "audit_metrics": "audit",
}

# (module, attribute, layer): public layer functions wrapped with a span
# in every module that imported them by name
LAYER_FUNCTIONS = [
    ("canonicalize", "canonicalize", "canonicalize"),
    ("features", "featurize", "features"),
    ("blocking", "candidate_pairs", "blocking"),
    ("blocking", "key_table_with_counts", "blocking"),
    ("blocking", "merge_key_state", "blocking"),
    ("blocking", "star_capped_pairs", "blocking"),
    ("scoring", "score_pairs", "scoring"),
    ("cluster", "connected_components", "cluster"),
    ("audit", "tier_histogram", "audit"),
    ("audit", "match_summary", "audit"),
    ("audit", "partition_lineage", "audit"),
]
IMPORTERS = ["pipeline.linkage", "pipeline.incremental"]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _group(self, sid: int) -> str:
        return f"perfbench-{self.trace_id}-{sid}"

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(sid), self.spans[sid]["name"])

    def layer_of_open_span(self, skip: tuple[str, ...] = ()) -> str | None:
        for sid in reversed(self._stack):
            layer = self.spans[sid]["layer"]
            if layer not in skip:
                return layer
        return None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        t_book = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.perf_counter()
        book = rec["start"] - t_book
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(self._group(sid))
            rec["jobs"] = len(jobs)
            rec["stages"] = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    rec["stages"] += len(info.stageIds)
            # the tracer's own cost: job-group switches and status queries
            rec["bookkeeping_s"] = book + time.perf_counter() - rec["end"]

    def wrap(self, fn, name: str, layer: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as rec:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        return traced

    # -- runtime patching --------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap the layers' public entry points; ``uninstall`` restores them."""
        import importlib

        from pyspark.sql import DataFrameWriter

        from pipeline import io as pio

        tracer = self
        for mod, attr, layer in LAYER_FUNCTIONS:
            module = importlib.import_module(f"pipeline.{mod}")
            orig = getattr(module, attr)
            on_result = _cc_result if attr == "connected_components" else None
            traced = self.wrap(orig, f"{mod}.{attr}", layer, on_result)
            self._patch(module, attr, traced)
            for name in IMPORTERS:
                importer = importlib.import_module(name)
                if getattr(importer, attr, None) is orig:
                    self._patch(importer, attr, traced)

        run = pio.StageRunner.run

        def stage_run(runner, name, fn):
            before = len(runner.metrics)
            with tracer.span(f"stage:{name}", STAGE_LAYER.get(name, "io")) as rec:
                df = run(runner, name, fn)
                resumed = [m for m in runner.metrics[before:] if m.get("stage") == name]
                if resumed and resumed[-1].get("resumed"):
                    # a committed stage is only read back: io work
                    rec["layer"] = "io"
                    rec["attrs"]["resumed"] = True
                return df

        self._patch(pio.StageRunner, "run", stage_run)

        write_table = pio.write_table

        def traced_write_table(df, table_dir, *args, **kwargs):
            leaf = os.path.basename(os.path.normpath(str(table_dir)))
            owner = STAGE_LAYER.get(leaf) or tracer.layer_of_open_span(("io",))
            with tracer.span("io.write_table", "io", table=leaf, owner=owner):
                return write_table(df, table_dir, *args, **kwargs)

        self._patch(pio, "write_table", traced_write_table)

        parquet = DataFrameWriter.parquet

        def traced_parquet(writer, path, *args, **kwargs):
            # the job that computes the stage: charged to the layer that
            # asked for the write, not to io
            owner = None
            if tracer._stack:
                owner = tracer.spans[tracer._stack[-1]]["attrs"].get("owner")
            layer = owner or tracer.layer_of_open_span(("io",)) or "io"
            with tracer.span("spark.write", layer):
                return parquet(writer, path, *args, **kwargs)

        self._patch(DataFrameWriter, "parquet", traced_parquet)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- roll-up -----------------------------------------------------------
    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, dict]:
        """Per layer over ``spans``: self seconds, self jobs, self stages."""
        child_time = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child_time:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in spans:
            agg = out.setdefault(s["layer"], {"self_s": 0.0, "jobs": 0, "stages": 0})
            agg["self_s"] += (s["end"] - s["start"]) - child_time[s["id"]]
            agg["jobs"] += s["jobs"]
            agg["stages"] += s["stages"]
        return out

    def subtree(self, root_id: int) -> list[dict]:
        keep = {root_id}
        out = []
        for s in self.spans:  # parents are always recorded before children
            if s["id"] == root_id or s["parent"] in keep:
                keep.add(s["id"])
                out.append(s)
        return out

    def inclusive(self, root_id: int) -> dict:
        sub = self.subtree(root_id)
        return {
            "jobs": sum(s["jobs"] for s in sub),
            "stages": sum(s["stages"] for s in sub),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)


def _cc_result(rec: dict, result) -> None:
    """Record what connected_components reports about its own run."""
    metrics = result[1]
    rec["attrs"]["edges_in"] = metrics[0]["edges"] if metrics else 0
    rec["attrs"]["iterations"] = len(metrics)
    rec["attrs"]["mode"] = (
        metrics[0].get("mode", "distributed_star") if metrics else "empty"
    )
