#!/usr/bin/env python3
"""Nightly-cycle benchmark for the eea_crawler_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 35 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``nightly``: a standing site is bootstrapped untimed, then timed
  nights of changes (new, modified and deleted docs plus transient and
  permanent fetch errors) each run one ``run_sync``.
- ``rebuild``: the serving state rebuilt from a standing corpus with
  near-copies — chunk embeddings, IVF index, dedup state — then one
  ``ann_search`` and one flagged-document lookup. Its traced run goes
  on with one night through the O(delta) index and dedup legs.

The Spark session runs ``local[<cores>]`` on every core the process may
use, with a 4 GB lazily grown JVM heap. All state, Spark scratch
space and temporary files live under ``.perfbench_work/run-<pid>/`` in
the current directory, which is removed at exit.

With ``--trace 0`` the last line of stdout is a JSON object carrying
the end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics of a traced run, measured from spans the benchmark opens around
calls into the engine's modules (``perfbench/tracer.py``). The exit
code is 0 when the run completed, whether or not its checks passed
(``correct`` says which); it is 2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).absolute().parent.parent
WORK = Path.cwd() / ".perfbench_work"

END_TO_END = {"setup_s": "s", "cycle_s": "s", "state_mb_per_kdoc": "MB/kdoc"}

# (module, attribute, span name): each wrapped at the module attribute
# its callers resolve. Every traced run reports every name; a span a
# workload never reaches reads 0 there (see perfbench/NOTES.md for
# which names each workload reaches).
SPAN_TARGETS = [
    ("eea_crawler_spark.pipeline", "run_sync", "pipeline.run_sync"),
    ("eea_crawler_spark.operators.incremental", "sync_sweep_parts",
     "incremental.sync_sweep_parts"),
    ("eea_crawler_spark.pipeline", "normalize_by_site",
     "sites.normalize_by_site"),
    ("eea_crawler_spark.sinks.indexes", "upsert_index", "indexes.upsert_index"),
    ("eea_crawler_spark.sinks.indexes", "delete_from_index",
     "indexes.delete_from_index"),
    ("eea_crawler_spark.sinks.indexes", "status_event", "indexes.status_event"),
    ("eea_crawler_spark.pipeline", "run_ann_maintenance",
     "pipeline.run_ann_maintenance"),
    ("eea_crawler_spark.operators.similarity", "build_ivf_index",
     "similarity.build_ivf_index"),
    ("eea_crawler_spark.operators.similarity", "append_ivf_index",
     "similarity.append_ivf_index"),
    ("eea_crawler_spark.operators.similarity", "repair_ivf_index",
     "similarity.repair_ivf_index"),
    ("eea_crawler_spark.pipeline", "bootstrap_dedup_maintenance",
     "pipeline.bootstrap_dedup_maintenance"),
    ("eea_crawler_spark.pipeline", "run_dedup_maintenance",
     "pipeline.run_dedup_maintenance"),
    ("eea_crawler_spark.operators.dedup", "repair_text_dedup_state",
     "dedup.repair_text_dedup_state"),
    ("eea_crawler_spark.operators.dedup", "append_text_dedup_state",
     "dedup.append_text_dedup_state"),
    ("eea_crawler_spark.operators.dedup", "build_text_dedup_state",
     "dedup.build_text_dedup_state"),
    ("eea_crawler_spark.operators.dedup", "ngram_jaccard_pairs",
     "dedup.ngram_jaccard_pairs"),
    ("eea_crawler_spark.operators.dedup", "connected_components",
     "dedup.connected_components"),
    ("eea_crawler_spark.operators.similarity", "ivf_topk_state",
     "similarity.ivf_topk_state"),
]
# spans the rebuild workload opens itself: the chunk embedding with the
# checkpoint that runs it, and each read with the collect that runs it
OWN_SPANS = ["embeddings.embed_chunks", "pipeline.ann_search",
             "pipeline.with_dedup_flags"]
SPAN_NAMES = [name for _m, _a, name in SPAN_TARGETS] + OWN_SPANS
OWN_LAYERS = {
    "sinks.written_mb_per_changed_doc": "MB/doc",
    "acquire.transport.calls": "count",
    "acquire.transport.error_calls": "count",
}


def layer_unit(name: str) -> str:
    if name in OWN_LAYERS:
        return OWN_LAYERS[name]
    return "s" if name.endswith("_s") or name.endswith(".s") else "count"


def per_layer_names() -> list[str]:
    return [f"{n}.{k}" for n in SPAN_NAMES
            for k in ("s", "self_s", "jobs", "tasks", "gap_s")
            ] + list(OWN_LAYERS)


def _env(work: Path) -> None:
    """Point the engine's session factory, Spark's scratch space and
    every temporary file at ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_GRAFT_FIXED_HEAP": "0",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # executors' Python workers import perfbench (the stub site)
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        # the status store must keep every job for the end-of-run fold
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    })


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit: the gateway JVM ends when its stdin pipe closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _clear_stale(root: Path) -> None:
    """Remove directories left by runs whose process is gone."""
    for d in root.glob("run-*"):
        try:
            os.kill(int(d.name[4:]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("nightly", "rebuild"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "eea_crawler_spark" / "pipeline.py").is_file():
        print(f"perfbench: the engine package is missing under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    _clear_stale(WORK)
    work = WORK / f"run-{os.getpid()}"
    t0 = time.perf_counter()
    _env(work)
    spark = None
    try:
        import importlib

        from eea_crawler_spark.session import get_spark
        from perfbench.tracer import Tracer
        from perfbench.workloads import WORKLOADS, note

        spark = get_spark("perfbench")
        note("session started")
        targets = [(importlib.import_module(m), a, n)
                   for m, a, n in SPAN_TARGETS]
        tracer = Tracer(spark, targets, on=bool(args.trace))
        setup_done = []
        res = WORKLOADS[args.workload](
            spark, str(work / "state"), args.seed, args.seconds, tracer,
            on_setup_done=lambda: setup_done.append(time.perf_counter() - t0),
        )
        res.metrics["setup_s"] = setup_done[0]
        if args.trace:
            # a span or counter a workload never reaches reads 0
            metrics = tracer.fold(max(1, res.cycles), SPAN_NAMES)
            metrics.update(res.layers)
            for name in OWN_LAYERS:
                metrics.setdefault(name, 0.0)
            out = {k: {"value": metrics[k], "unit": layer_unit(k)}
                   for k in per_layer_names()}
        else:
            out = {k: {"value": res.metrics[k], "unit": u}
                   for k, u in END_TO_END.items()}
        if args.trace:
            # the traced run's own end-to-end figures: their difference
            # from an untraced run on the same seed is the tracing overhead
            print("perfbench: traced " + " ".join(
                f"{k}={res.metrics[k]:.3f}" for k in END_TO_END),
                file=sys.stderr)
        for p in res.problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print(f"perfbench: {args.workload} attempted={res.attempted} "
              f"failed={res.failed} fail_frac="
              f"{res.failed / max(1, res.attempted):.4f}", file=sys.stderr)
        print(json.dumps({
            "correct": not res.problems and res.failed == 0,
            "attempted": max(1, res.attempted),
            "failed": res.failed,
            "metrics": out,
        }))
        sys.stdout.flush()
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK.rmdir()
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
