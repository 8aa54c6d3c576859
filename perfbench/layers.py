"""Per-layer attribution for one traced op.

Spark is lazy: operator functions return plans in milliseconds and the work
runs wherever a plan is finally executed, mostly inside ``Catalog.write``.
So the tracer opens a span around the public calls where work executes, and
tags every Spark job with the innermost open span through the job group.
Driver-side wall time and process-tree CPU are charged to the innermost
span at every span boundary (self time); task metrics are folded from the
Spark event log by job-group tag after the session stops.

The layers are named after the program's modules. Time outside every span
is the remainder, reported beside the layers, so the layers' self times
plus the remainder equal the traced op's wall time.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

ER_LAYERS = [
    "preprocess", "blocking.keys", "blocking.pairs", "pairs.score",
    "classify.train", "cluster.edges", "cluster.cc", "catalog.manifest",
    "catalog.fingerprint", "pipeline.dims", "pipeline.evaluate",
]
CURATION_LAYERS = ["textstats.quality", "dedup.exact", "dedup.near_dup", "textstats.redact"]
LAYERS = ER_LAYERS + CURATION_LAYERS
LAYER_METRICS = {
    "wall_s": "s", "cpu_util": "ratio", "spark_jobs": "count",
    "shuffle_write_mb": "MiB", "spill_mb": "MiB", "task_skew": "ratio",
}
REMAINDER = "remainder"

# Catalog table -> layer whose plan the write executes.
TABLE_LAYER = {
    "records": "preprocess",
    "blocking_keys": "blocking.keys",
    "candidate_pairs": "blocking.pairs",
    "oversized_blocks": "blocking.pairs",
    "scored_pairs": "pairs.score",
    "edges": "cluster.edges",
    "clusters": "cluster.cc",
    "unique_strings": "pipeline.dims",
    "string_counts": "pipeline.dims",
    "field_hash_mapping": "pipeline.dims",
    "field_stats": "pipeline.dims",
}
# ERPipeline stage name -> layer. A stage's eager work (the score stage's
# dup-ratio probe, the CC rounds before the clusters write) runs in its
# stage runner, outside Catalog.write.
STAGE_LAYER = {
    "preprocess": "preprocess", "blocking": "blocking.keys",
    "pairs": "blocking.pairs", "score": "pairs.score",
    "edges": "cluster.edges", "cluster": "cluster.cc",
}


class Tracer:
    def __init__(self, sc, tree, tag_prefix: str):
        self.sc = sc
        self.tree = tree
        self.prefix = tag_prefix
        self.stack: list[str] = []
        self.phase = REMAINDER  # layer charged when no span is open
        self.wall: dict[str, float] = defaultdict(float)
        self.cpu: dict[str, float] = defaultdict(float)
        self.cost = 0.0  # the tracer's own time: /proc reads and job tags
        self._undo: list[tuple] = []

    def start(self) -> None:
        self._t, self._c = time.perf_counter(), self.tree.cpu_seconds()
        self._enter()

    @property
    def current(self) -> str:
        return self.stack[-1] if self.stack else self.phase

    def _enter(self, push: str | None = None, pop: bool = False, phase: str | None = None) -> None:
        """Charge the elapsed interval to the current layer, change the
        current layer, and retag the thread's Spark jobs."""
        now, cpu = time.perf_counter(), self.tree.cpu_seconds()
        self.wall[self.current] += now - self._t
        self.cpu[self.current] += cpu - self._c
        if push is not None:
            self.stack.append(push)
        if pop:
            self.stack.pop()
        if phase is not None:
            self.phase = phase
        tag = self.prefix + self.current
        self.sc.setJobGroup(tag, tag)
        self._t, self._c = time.perf_counter(), self.tree.cpu_seconds()
        self.cost += self._t - now

    @contextmanager
    def span(self, layer: str):
        self._enter(push=layer)
        try:
            yield
        finally:
            self._enter(pop=True)

    def switch(self, layer: str) -> None:
        """Start a sequential phase: for a function that returns a lazy
        plan whose work runs in the caller's next actions, the layer lasts
        until the next phase starts."""
        self._enter(phase=layer)

    def wrap(self, owner, name: str, layer_of, phase: bool = False) -> None:
        """Replace ``owner.name`` until ``close``. ``layer_of(*args,
        **kwargs)`` names the call's layer; None leaves the call in the
        enclosing layer."""
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            layer = layer_of(*args, **kwargs)
            if layer is None:
                return orig(*args, **kwargs)
            if phase:
                self.switch(layer)
                return orig(*args, **kwargs)
            with self.span(layer):
                return orig(*args, **kwargs)

        setattr(owner, name, traced)
        self._undo.append((owner, name, orig))

    def close(self) -> None:
        self._enter()
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)


def install_er(tracer: Tracer) -> None:
    from entity_resolution_pipeline_spark.plans import pipeline as pl
    from entity_resolution_pipeline_spark.sources import catalog as cat

    tracer.wrap(cat.Catalog, "write", lambda _s, _df, name, *a, **k: TABLE_LAYER.get(name))
    for m in ("read", "stage_complete", "record_stage", "record_alias", "record_skipped"):
        tracer.wrap(cat.Manifest, m, lambda *a, **k: "catalog.manifest")
    for f in ("fingerprint_files", "fingerprint_df"):
        tracer.wrap(pl, f, lambda *a, **k: "catalog.fingerprint")
    tracer.wrap(pl.ERPipeline, "_run_stage", lambda _s, stage, *a, **k: STAGE_LAYER.get(stage))
    tracer.wrap(pl.ERPipeline, "train", lambda *a, **k: "classify.train")
    tracer.wrap(pl.ERPipeline, "evaluate", lambda *a, **k: "pipeline.evaluate")


def install_curation(tracer: Tracer) -> None:
    """curate_corpus builds each stage's plan, then materializes it with a
    persisted count; the output write runs the lazy redaction and split."""
    from entity_resolution_pipeline_spark.plans import curation as cu

    for fn, layer in (("gopher_quality", "textstats.quality"), ("exact_dedup", "dedup.exact"),
                      ("near_dup_clusters", "dedup.near_dup"), ("redact_pii", "textstats.redact")):
        tracer.wrap(cu, fn, lambda *a, _l=layer, **k: _l, phase=True)


def fold_event_log(path: str, tag_prefix: str) -> dict[str, dict]:
    """Task metrics per layer for the jobs whose group starts with
    ``tag_prefix``: job count, shuffle bytes written, bytes spilled to
    disk, and the task skew (max over median run time) of the layer's
    heaviest stage."""
    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[int]] = defaultdict(list)
    shuffle: dict[str, int] = defaultdict(int)
    spill: dict[str, int] = defaultdict(int)
    wanted = ('"SparkListenerJobStart"', '"SparkListenerStageSubmitted"', '"SparkListenerTaskEnd"')
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not any(w in line[:64] for w in wanted):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if layer is None or not m:
                    continue
                tasks[ev["Stage ID"]].append(int(m.get("Executor Run Time", 0)))
                shuffle[layer] += int(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                spill[layer] += int(m.get("Disk Bytes Spilled", 0))
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not group.startswith(tag_prefix):
                continue
            layer = group[len(tag_prefix):]
            if kind == "SparkListenerJobStart":
                jobs[layer] += 1
            else:
                stage_layer[ev["Stage Info"]["Stage ID"]] = layer

    heaviest: dict[str, list[int]] = {}
    for stage, runs in tasks.items():
        layer = stage_layer[stage]
        if sum(runs) > sum(heaviest.get(layer, ())):
            heaviest[layer] = runs
    out = {}
    for layer in set(jobs) | set(stage_layer.values()):
        runs = heaviest.get(layer, [])
        med = statistics.median(runs) if runs else 0
        out[layer] = {
            "spark_jobs": jobs[layer],
            "shuffle_write_mb": shuffle[layer] / 2**20,
            "spill_mb": spill[layer] / 2**20,
            "task_skew": max(runs) / med if len(runs) > 1 and med > 0 else 1.0,
        }
    return out
