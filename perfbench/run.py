"""End-to-end benchmark of the ER pipeline and the curation funnel.

    python3 perfbench/run.py --workload er_mirrored --seed 1 --seconds 5 --trace 0

Runs one workload in one process on ``local[<cores>]``: starts Spark, makes
the workload's inputs from the seed and writes them once to parquet, warms
up with one op (billed to ``setup_s``), then times ops until ``--seconds``
have passed, or times one traced op with ``--trace 1``. Every op's output
is checked. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before it
records the workload's defining properties.

Every file it writes lives under ``.perfbench_work/`` in the checkout and is
removed on exit. See perfbench/README.md for why each workload and metric
was chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "entity_resolution_pipeline_spark"

# ERPipeline switches to dedup-then-join scoring at this dup ratio
# (plans/pipeline.py build_scores), and to a person repartition of the
# direct-scoring input at this many pair rows.
DUP_SWITCH = 3.0
PERSON_REPARTITION_ROWS = 2_000_000
# connected_components' driver union-find takes graphs up to 500k edges. The
# ER inputs here are 5x to 60x smaller than 2000 entities, so the threshold
# is scaled with the entity count (500k at 2000 entities), which keeps each
# workload's edge count on the same side of it as at full size.
EDGES_PER_ENTITY_THRESHOLD = 250
# labeled_pairs_pdf draws distinct positive pairs within entities and loops
# until it has them, so small corpora get proportionally fewer
LABELED_PAIRS_PER_ENTITY, LABELED_PAIRS_MAX = 20, 1000
F1_GATE = 0.99


@dataclass(frozen=True)
class Workload:
    kind: str            # "er" or "curation"
    entities: int
    mirrors: int = 1     # copies of every page, each on its own host


WORKLOADS = {
    # measured by BENCHMARK.json
    "er_mirrored": Workload("er", entities=48, mirrors=10),
    "curate_web": Workload("curation", entities=1000, mirrors=6),
    # runnable by hand, for the opposite side of every ER switch; too slow
    # to fit the benchmark's time budget as well
    "er_base": Workload("er", entities=400),
}


# ---------------------------------------------------------------- inputs

def _mirror(pages, mirrors: int):
    """Republish every page on ``mirrors - 1`` more hosts: identical bytes
    under another URL, as syndicated pages appear in a web crawl. Copy 0
    keeps the original URL, so the labeled pairs still apply."""
    import pandas as pd

    return pd.concat(
        [pages] + [
            pages.assign(url=pages["url"].str.replace(
                "https://", f"https://mirror-{j}.example.net/", regex=False))
            for j in range(1, mirrors)
        ],
        ignore_index=True,
    )


def _write(pdf, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(path),
                   coerce_timestamps="us")


def _normalized(text: str) -> str:
    """exact_dedup's key text: runs of JVM-regex whitespace to one space,
    then trimmed."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text).strip(" ")


def _corpus(wl: Workload, seed: int):
    """(pages, entities): the prefix of the seed's entities whose page count
    is nearest ``5 * wl.entities`` (2-8 pages each, 5 on average), so every
    seed gives an input of about the same size."""
    from entity_resolution_pipeline_spark.sources.webpages import (
        PAGE_COLUMNS,
        generate_pages_pdf,
    )

    pages = generate_pages_pdf(2 * wl.entities, seed, with_truth=True)
    per_entity = pages.groupby("ent_id").size().sort_index().cumsum()
    n = int((per_entity - 5 * wl.entities).abs().idxmin()) + 1
    return _mirror(pages[pages["ent_id"] < n][PAGE_COLUMNS], wl.mirrors), n


def make_inputs(wl: Workload, seed: int, work: Path) -> dict:
    import pandas as pd

    from entity_resolution_pipeline_spark.sources.webpages import labeled_pairs_pdf

    pages, n = _corpus(wl, seed)
    inp = {"rows": len(pages), "entities": n}
    if wl.kind == "er":
        inp["pages"] = work / "pages.parquet"
        inp["labels"] = work / "labels.parquet"
        _write(pages, inp["pages"])
        n_labels = min(LABELED_PAIRS_MAX, LABELED_PAIRS_PER_ENTITY * n)
        _write(labeled_pairs_pdf(n, n_labels, seed), inp["labels"])
    else:
        inp["docs"] = work / "docs.parquet"
        _write(pd.DataFrame({"doc_id": range(len(pages)), "url": pages["url"],
                             "text": pages["text"]}), inp["docs"])
        inp["distinct_texts"] = len({_normalized(t) for t in pages["text"]})
    inp["bytes"] = sum(p.stat().st_size for k, p in inp.items() if k in ("pages", "docs"))
    return inp


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# ---------------------------------------------------------------- ops
# prepare_* returns (call, check): ``call`` is exactly the timed region,
# ``check`` validates its output afterwards and returns the workload's
# defining properties plus a list of violations.

def prepare_er(spark, wl: Workload, inp: dict, wh: Path):
    from entity_resolution_pipeline_spark.plans.pipeline import ERPipeline

    pages = spark.read.parquet(str(inp["pages"]))
    labels = spark.read.parquet(str(inp["labels"]))
    pipe = ERPipeline(spark, str(wh))

    def check(res):
        threshold = inp["driver_threshold"]
        edges = pipe.catalog.read("edges").count()
        dup = res["metrics"].get("score_dup_ratio")
        props = {
            "pages": res["n_pages"],
            "candidate_pairs": res["candidate_pairs"],
            "edges": edges,
            "driver_threshold": threshold,
            "score_dup_ratio": dup,
            "oversized_blocks": res["metrics"].get("oversized_blocks_count", 0),
            "clusters": res["n_clusters"],
            "blocked_f1": res["evaluation"]["blocked_pairs"]["f1"],
            "blocked_confusion": {k: res["evaluation"]["blocked_pairs"][k]
                                  for k in ("tp", "fp", "fn")},
            # the person repartition needs direct scoring of >= 2M pair rows
            "reaches_person_repartition": bool(
                dup is not None and dup < DUP_SWITCH
                and res["candidate_pairs"] >= PERSON_REPARTITION_ROWS),
        }
        bad = []
        if props["blocked_f1"] < F1_GATE:
            bad.append(f"blocked_f1 {props['blocked_f1']:.4f} < {F1_GATE} "
                       f"({props['blocked_confusion']})")
        if res["n_pages"] != inp["rows"]:
            bad.append(f"n_pages {res['n_pages']} != input rows {inp['rows']}")
        if props["reaches_person_repartition"]:
            bad.append("reached the person-repartition branch")
        # Without a threshold connected_components has one path only, so
        # only the dup switch defines the workload's side.
        if wl.mirrors > 1:
            if not ((threshold is None or edges > threshold) and dup >= DUP_SWITCH):
                bad.append(f"mirrored needs edges > {threshold} and dup >= {DUP_SWITCH}")
        elif not ((threshold is None or edges < threshold) and dup < DUP_SWITCH):
            bad.append(f"base needs edges < {threshold} and dup < {DUP_SWITCH}")
        return props, bad

    return (lambda: pipe.run(pages, labels)), check


def prepare_curation(spark, wl: Workload, inp: dict, out: Path):
    from entity_resolution_pipeline_spark.plans.curation import curate_corpus

    docs = spark.read.parquet(str(inp["docs"]))

    def call():
        curated, funnel = curate_corpus(docs)
        curated.write.mode("overwrite").parquet(str(out))
        return funnel

    def check(funnel):
        written = spark.read.parquet(str(out)).count()
        props = {"docs": funnel["input"], "exact_kept": funnel["after_exact_dedup"],
                 "near_dup_kept": funnel["after_near_dup"], "written": written}
        bad = []
        if funnel["input"] != inp["rows"] or funnel["after_quality"] != inp["rows"]:
            bad.append(f"quality gate kept {funnel['after_quality']} of {inp['rows']}; "
                       "the exact-dedup oracle assumes it keeps all")
        if funnel["after_exact_dedup"] != inp["distinct_texts"]:
            bad.append(f"exact dedup kept {funnel['after_exact_dedup']}, "
                       f"{inp['distinct_texts']} distinct normalized texts")
        if not 0 < funnel["after_near_dup"] <= funnel["after_exact_dedup"]:
            bad.append(f"near-dup kept {funnel['after_near_dup']}")
        if written != funnel["after_near_dup"]:
            bad.append(f"wrote {written} rows, funnel kept {funnel['after_near_dup']}")
        return props, bad

    return call, check


# ---------------------------------------------------------------- harness

class Bench:
    def __init__(self, name: str, seed: int, trace: bool, work: Path):
        from proctree import ProcTree

        self.name = name
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.trace = trace
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tree = ProcTree()
        self.attempted = 0
        self.failed = 0
        self.props: dict = {}
        self._n = 0

    def start_spark(self):
        from entity_resolution_pipeline_spark.session import build_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            # a fixed heap size: the resident size no longer depends on
            # when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"),
        }
        if self.trace:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_spark(app_name=f"perfbench-{self.name}",
                                 master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        from proctree import stop_descendants

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        stop_descendants(self.tree)

    def op(self, tracer=None) -> dict | None:
        """One timed op; None when it raised or failed its check."""
        from proctree import PeakMemory

        self._n += 1
        shutil.rmtree(self.work / f"out{self._n - 1}", ignore_errors=True)
        out = self.work / f"out{self._n}"
        prepare = prepare_er if self.wl.kind == "er" else prepare_curation
        self.attempted += 1
        try:
            call, check = prepare(self.spark, self.wl, self.inp, out)
            if tracer is not None:
                tracer.start()
            try:
                cpu0 = self.tree.cpu_seconds()
                with PeakMemory(self.tree) as mem:
                    t0 = time.perf_counter()
                    res = call()
                    wall = time.perf_counter() - t0
                cpu = self.tree.cpu_seconds() - cpu0
            finally:
                if tracer is not None:
                    tracer.close()
            props, bad = check(res)
        except Exception as exc:  # an op that raises is a failed op, not a crash
            import traceback

            traceback.print_exc()
            print(f"op {self._n} raised {type(exc).__name__}", file=sys.stderr)
            self.failed += 1
            return None
        finally:
            self.spark.catalog.clearCache()
        self.props = props
        if bad:
            print(f"op {self._n} failed its check: {'; '.join(bad)}", file=sys.stderr)
            self.failed += 1
            return None
        return {"wall_s": wall, "cpu_s": cpu, "peak_pss_mb": mem.peak / 2**20, "out": out}

    def setup(self) -> bool:
        """Make the inputs and run the warm-up op. False when the warm-up op
        failed: it is then the run's one attempted op."""
        self.inp = make_inputs(self.wl, self.seed, self.work)
        if self.wl.kind == "er":
            self.inp["driver_threshold"] = _set_driver_threshold(
                EDGES_PER_ENTITY_THRESHOLD * self.inp["entities"])
        # One warm-up op: the first op in a process pays JIT and worker
        # start-up (~2x a warm op), and the time budget has room for no
        # second one.
        first = self.op()
        self.warmup_walls = [first["wall_s"]] if first is not None else []
        if first is None:
            return False
        self.attempted = self.failed = 0  # the warm-up is set-up, not a sample
        return True


def _set_driver_threshold(value: int) -> int | None:
    """Give connected_components a new default driver_threshold and return
    it; None when the parameter is gone."""
    import inspect

    from entity_resolution_pipeline_spark.operators import cluster

    fn = cluster.connected_components
    names = [p.name for p in inspect.signature(fn).parameters.values()
             if p.default is not inspect.Parameter.empty]
    if "driver_threshold" not in names:
        return None
    defaults = list(fn.__defaults__)
    defaults[names.index("driver_threshold")] = value
    fn.__defaults__ = tuple(defaults)
    return value


def layer_metrics(bench: Bench, tracer, traced: dict) -> dict:
    """Per-layer metrics of the traced op."""
    import layers as tr

    log = next((bench.work / "eventlog").iterdir())
    folded = tr.fold_event_log(str(log), tracer.prefix)
    out = {}
    for layer in tr.LAYERS:
        wall = tracer.wall.get(layer, 0.0)
        f = folded.get(layer, {})
        vals = {
            "wall_s": wall,
            "cpu_util": tracer.cpu.get(layer, 0.0) / (wall * bench.cores) if wall > 0 else 0.0,
            "spark_jobs": f.get("spark_jobs", 0),
            "shuffle_write_mb": f.get("shuffle_write_mb", 0.0),
            "spill_mb": f.get("spill_mb", 0.0),
            "task_skew": f.get("task_skew", 0.0),
        }
        for k, unit in tr.LAYER_METRICS.items():
            out[f"{layer}.{k}"] = (vals[k], unit)
    p = bench.props
    er = bench.wl.kind == "er"
    cand = p.get("candidate_pairs", 0)
    out.update({
        "preprocess.rows_out": (p.get("pages", 0), "count"),
        "blocking.candidate_pairs": (cand, "count"),
        "blocking.oversized_blocks": (p.get("oversized_blocks", 0), "count"),
        "blocking.edge_yield": (p["edges"] / cand if er and cand else 0.0, "ratio"),
        "pairs.dup_ratio": (p.get("score_dup_ratio") or 0.0, "ratio"),
        "cluster.edges": (p.get("edges", 0), "count"),
        "cluster.components": (p.get("clusters", 0), "count"),
        "catalog.bytes_per_input_byte": (
            _du(traced["out"]) / bench.inp["bytes"] if er else 0.0, "ratio"),
        "pipeline.evaluate.blocked_f1": (p.get("blocked_f1", 0.0), "ratio"),
        "dedup.exact_kept": (p.get("exact_kept", 0), "count"),
        "dedup.near_dup_kept": (p.get("near_dup_kept", 0), "count"),
        "trace.wall_s": (traced["wall_s"], "s"),
        "trace.self_cost_s": (tracer.cost, "s"),
        "trace.remainder_s": (
            traced["wall_s"] - sum(tracer.wall.get(layer, 0.0) for layer in tr.LAYERS), "s"),
    })
    return out


def run(args, work: Path) -> dict:
    t_start = time.perf_counter()
    bench = Bench(args.workload, args.seed, bool(args.trace), work)
    bench.start_spark()
    tracer, samples = None, []
    try:
        warm = bench.setup()
        setup_s = time.perf_counter() - t_start
        # A traced run times one traced op in place of the timed ops, at the
        # same point of the warm-up curve, so its wall compares with wall_s.
        if warm and args.trace:
            import layers as tr

            tracer = tr.Tracer(bench.spark.sparkContext, bench.tree, f"perfbench:{os.getpid()}:")
            (tr.install_er if bench.wl.kind == "er" else tr.install_curation)(tracer)
            traced = bench.op(tracer)
            samples = [traced] if traced is not None else []
        elif warm:
            t_measure = time.perf_counter()
            while not samples or time.perf_counter() - t_measure < args.seconds:
                r = bench.op()
                if r is not None:
                    samples.append(r)
                elif bench.attempted >= 3 and not samples:
                    break
    finally:
        bench.stop_spark()  # also closes the event log

    if not samples:
        metrics = {}
    elif args.trace:
        metrics = layer_metrics(bench, tracer, samples[0])
    else:
        wall = statistics.median(s["wall_s"] for s in samples)
        metrics = {
            "wall_s": (wall, "s"),
            "pages_per_s": (bench.inp["rows"] / wall, "1/s"),
            "cpu_s": (statistics.median(s["cpu_s"] for s in samples), "s"),
            "peak_pss_mb": (statistics.median(s["peak_pss_mb"] for s in samples), "MiB"),
            "setup_s": (setup_s, "s"),
        }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": bench.cores,
        "input_rows": bench.inp["rows"], "entities": bench.inp["entities"],
        "warmup_walls_s": bench.warmup_walls, "walls_s": [s["wall_s"] for s in samples],
        "properties": bench.props,
    }))
    return {
        "correct": bench.failed == 0 and bool(metrics),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG).is_dir():
        print(f"perfbench: {PKG}/ not found next to perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Spark's Python workers import the package; neither they nor the
    # driver may depend on the caller's working directory.
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"  # the machine is shared
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:  # another run still has its directory there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
