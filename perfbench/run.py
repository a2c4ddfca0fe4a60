#!/usr/bin/env python3
"""Benchmark for the extraction pipeline and its carried curation leaves.

    python3 perfbench/run.py --workload extract_steady --seed 1 --seconds 12 --trace 0

Run from the repository root. One run starts a local[k] Spark session
(k = min(2, usable cores)), builds the workload's inputs from the seed,
warms up, then repeats timed passes for about ``--seconds`` (at least
one) and reports medians. The output is checked outside the clock
(see gate.py). ``--trace 1`` adds one traced pass and an in-process
trace of core.*/operators.extract, and reports per-layer numbers instead
of the end-to-end ones. See README.md.

Human-readable lines come first; the last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Everything the
run writes goes under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    # String hashing is seeded per process; fix it here and, through the
    # environment, in the Spark JVM's Python workers, so that set and dict
    # order is the same from run to run.
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable, *sys.argv])

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import workloads  # noqa: E402  (imports the package: fails outside a full checkout)
from tracing import (  # noqa: E402
    UNATTRIBUTED,
    CallTrace,
    NullTracer,
    RssSampler,
    StageCollector,
    Tracer,
    attribute,
    descendants,
    patched,
    stage_module,
)

PREPARE_REPS = 3
# Two task slots on a four-vCPU host leave room for the driver JVM, the
# Python driver, GC and anything else on the machine. With two busy
# processes beside it, a pipeline_resume pass slowed by 11% on local[2]
# and by 51% on local[4]: the wider session measured the neighbours.
MAX_CORES = 2

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "peak_worker_rss_mb": "MB",
    "setup_s": "s",
}

LAYER_MODULES = (
    "plans.pipeline",
    "operators.skew",
    "operators.extract",
    "operators.resume",
    "operators.lineage",
    "sources.catalog",
    "operators.dedup",
    "operators.spandedup",
    "operators.bpetrain",
)
CORE_FUNCTIONS = {
    "core.extractor": ("parse_html", "lift_code_blocks", "lift_media", "needs_ssr", "normalize_text"),
    "core.readability": ("strip_boilerplate", "score_candidates", "assemble_text", "normalize_text"),
    "core.dom": ("annotate",),
}
CORE_NAMES = (
    "parse_html", "lift_code_blocks", "lift_media", "strip_boilerplate", "annotate",
    "score_candidates", "assemble_text", "normalize_text", "needs_ssr", "extract_document",
)

PER_LAYER = {
    "trace.wall_ms": "ms",
    "trace.overhead_ms": "ms",
    "unattributed_ms": "ms",
    **{f"layer.{m}.ms": "ms" for m in LAYER_MODULES},
    "setup.session_start_s": "s",
    "sources.corpus.prepare_s": "s",
    **{f"core.{f}.self_ms": "ms" for f in CORE_NAMES},
    "core.extractor.doc_us_p50": "us",
    "core.extractor.doc_us_p99": "us",
    "core.extractor.html_passes_per_doc": "count",
    "core.extractor.docs_per_s_core": "docs/s",
    "core.trace_overhead_ms": "ms",
    "operators.extract.to_pylist_ms": "ms",
    "operators.extract.from_pylist_ms": "ms",
    "operators.extract.udf_ms": "ms",
    "operators.extract.python_bytes_sent_per_doc": "B",
    "operators.extract.python_bytes_received_per_doc": "B",
    "operators.extract.task_ms_p50": "ms",
    "operators.extract.task_ms_max": "ms",
    "operators.extract.core_busy_ratio": "ratio",
    "plans.pipeline.run_extraction.call_ms": "ms",
    "plans.pipeline.spark_jobs": "count",
    "plans.pipeline.resume_wall_s": "s",
    "operators.skew.shuffle_write_bytes": "B",
    "operators.skew.partition_bytes_max_over_median": "ratio",
    "operators.resume.done_rows_scanned": "count",
    "operators.resume.remaining_ratio": "ratio",
    "sources.catalog.files_written": "count",
    "sources.catalog.bytes_written_per_doc": "B",
    **{
        f"{q}.{m}": u
        for q in workloads.CurateLeaves.QUERIES
        for m, u in (("wall_s", "s"), ("spark_jobs", "count"), ("shuffle_bytes", "B"),
                     ("gc_ms", "ms"), ("driver_ms", "ms"))
    },
}


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


# --------------------------------------------------------------------------
# Spark session lifetime
# --------------------------------------------------------------------------


def start_session(work: str, cores: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The JVM and the Python workers it forks inherit these: executors
    # import the package from the checkout, and temp files stay in it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first reads only these
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from pyspark.sql import SparkSession

    # -XX:TieredStopAtLevel=1 keeps the JIT at C1. With C2 a pass kept
    # speeding up for five passes (12.4, 9.2, 8.6, 8.4, 7.9, then about
    # 7.5 s on pipeline_resume) and each JVM settled at its own speed;
    # with C1 passes settle from the second or third, about 15% slower.
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            f"-XX:ParallelGCThreads={cores} -XX:ConcGCThreads=1 -XX:TieredStopAtLevel=1",
        )
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every process
    this run started (the JVM and its Python daemon and workers)."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure it is gone either way
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --------------------------------------------------------------------------
# Traced run
# --------------------------------------------------------------------------


class _TimedBatch:
    """An Arrow RecordBatch whose to_pylist is timed."""

    def __init__(self, batch, ct: CallTrace):
        self._batch = batch
        self._ct = ct
        self.nbytes = batch.nbytes
        self.num_rows = batch.num_rows
        self.to_pylist = ct.wrap(batch.to_pylist, "to_pylist")

    def slice(self, offset, length):
        return _TimedBatch(self._batch.slice(offset, length), self._ct)


def inprocess_trace(sample: list[dict]) -> dict:
    """Run operators.extract's mapInArrow function in this process over
    the sample, untraced and then with every core.* function named in
    CORE_FUNCTIONS wrapped where core.extractor/core.readability/core.dom
    look it up."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType, StructField, StructType

    from claude_readability_hook_spark.core import dom, extractor, readability
    from claude_readability_hook_spark.operators import extract as ext
    from claude_readability_hook_spark.schemas import SPANS

    if not sample:
        return {}
    schema = to_arrow_schema(
        StructType([StructField("doc_id", StringType()), StructField("spans", SPANS)])
    )
    batch_rows = 512
    batches = [
        pa.RecordBatch.from_pylist(sample[i : i + batch_rows], schema=schema)
        for i in range(0, len(sample), batch_rows)
    ]

    def run(bs) -> tuple[float, int]:
        t0 = time.perf_counter()
        out = sum(b.nbytes for b in ext.make_extract_arrow_fn()(iter(bs)))
        return time.perf_counter() - t0, out

    run(batches)  # first call pays imports and regex compilation
    untraced_s, _ = run(batches)
    ct = CallTrace()
    mods = {"core.extractor": extractor, "core.readability": readability, "core.dom": dom}
    patches = [
        (mods[m], f, ct.wrap(getattr(mods[m], f), f))
        for m, fs in CORE_FUNCTIONS.items()
        for f in fs
    ]
    patches.append((ext, "extract_document", ct.wrap(ext.extract_document, "extract_document", per_doc=True)))
    shim = type("RecordBatchShim", (), {})()
    shim.from_pylist = ct.wrap(pa.RecordBatch.from_pylist, "from_pylist")
    patches.append((pa, "RecordBatch", shim))
    with patched(patches):
        traced_s, out_bytes = run([_TimedBatch(b, ct) for b in batches])
    n = len(sample)
    doc_us = sorted(d / 1e3 for d in ct.doc_ns)
    out = {f"core.{f}.self_ms": ct.self_ns.get(f, 0) / 1e6 for f in CORE_NAMES}
    out.update(
        {
            "core.extractor.doc_us_p50": statistics.median(doc_us),
            "core.extractor.doc_us_p99": doc_us[min(len(doc_us) - 1, int(0.99 * len(doc_us)))],
            "core.extractor.html_passes_per_doc": ct.calls.get("parse_html", 0) / n,
            "core.extractor.docs_per_s_core": n / untraced_s,
            "core.trace_overhead_ms": (traced_s - untraced_s) * 1e3,
            "operators.extract.to_pylist_ms": ct.self_ns.get("to_pylist", 0) / 1e6,
            "operators.extract.from_pylist_ms": ct.self_ns.get("from_pylist", 0) / 1e6,
            "operators.extract.udf_ms": sum(ct.doc_ns) / 1e6,
            "operators.extract.python_bytes_sent_per_doc": sum(b.nbytes for b in batches) / n,
            "operators.extract.python_bytes_received_per_doc": out_bytes / n,
        }
    )
    return out


def traced_pass(spark, w, cores: int) -> tuple[dict, Tracer, list, float]:
    """One pass with spans around the calls into each layer, then the
    stages it ran from the status store, split into layers."""
    from claude_readability_hook_spark.plans import pipeline

    tr = Tracer(uuid.uuid4().hex[:12], spark)
    col = StageCollector(spark)
    stages_before, jobs_before = col.stage_ids(), col.job_ids()
    patches = [
        (pipeline, "run_extraction",
         tr.wrap(pipeline.run_extraction, "plans.pipeline.run_extraction", "plans.pipeline")),
        (pipeline, "partitions_for",
         tr.wrap(pipeline.partitions_for, "operators.skew.partitions_for", "operators.skew",
                 "module:operators.skew")),
    ]
    with patched(patches), tr.span(f"workload:{w.name}"):
        t0 = time.time_ns()
        result = w.run_pass(tr)
        t1 = time.time_ns()
    stages = col.stages_since(stages_before)
    jobs = col.jobs_since(jobs_before)
    wall_ms = (t1 - t0) / 1e6
    layers = attribute(t0 / 1e6, t1 / 1e6, stages, tr.spans)

    out = {f"layer.{m}.ms": layers.get(m, 0.0) for m in LAYER_MODULES}
    out["unattributed_ms"] = layers.get(UNATTRIBUTED, 0.0)
    out["trace.wall_ms"] = wall_ms
    out["plans.pipeline.spark_jobs"] = len(jobs)
    out["plans.pipeline.run_extraction.call_ms"] = sum(
        (s.end_ns - s.start_ns) / 1e6 for s in tr.spans if s.name == "plans.pipeline.run_extraction"
    )
    extract = [s for s in stages if stage_module(s) == "operators.extract"]
    skew = [s for s in stages if stage_module(s) == "operators.skew"]
    if extract:
        main = max(extract, key=lambda s: s.run_ms)
        out["operators.extract.task_ms_p50"] = main.task_ms_p50
        out["operators.extract.task_ms_max"] = main.task_ms_max
        busy = out["layer.operators.extract.ms"] * cores
        out["operators.extract.core_busy_ratio"] = sum(s.run_ms for s in extract) / busy if busy else 0.0
        out["operators.skew.partition_bytes_max_over_median"] = (
            main.task_read_bytes_max / main.task_read_bytes_p50 if main.task_read_bytes_p50 else 0.0
        )
    out["operators.skew.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in skew)
    out.update(w.layer_metrics(stages, jobs, tr))
    return out, tr, stages, result["wall_s"]


# --------------------------------------------------------------------------
# Main
# --------------------------------------------------------------------------


def main() -> int:
    args = parse_args()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))

    t = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t
    try:
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        prep = []
        for _ in range(PREPARE_REPS):
            t = time.perf_counter()
            w.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t

        passes = []
        with RssSampler() as rss:
            t_start = time.perf_counter()
            # start a pass only if it should end within half a pass of the
            # window, so the measured time stays close to --seconds
            while not passes or time.perf_counter() - t_start + 0.5 * statistics.median(
                p["wall_s"] for p in passes
            ) < args.seconds:
                passes.append(w.run_pass(NullTracer()))
        layer = {}
        if args.trace:
            # overhead against an untraced pass run just before, not the
            # timed passes, so that warm-up drift does not count
            untraced_wall = w.run_pass(NullTracer())["wall_s"]
            layer, tracer, stages, traced_wall = traced_pass(spark, w, cores)
            layer["trace.overhead_ms"] = (traced_wall - untraced_wall) * 1e3
            tracer.dump(os.path.join(work, "spans.jsonl"))
            with open(os.path.join(work, "stages.jsonl"), "w") as f:
                for s in stages:
                    f.write(json.dumps({**s.__dict__, "module": stage_module(s)}) + "\n")
        t = time.perf_counter()
        attempted, failed = w.check()
        check_s = time.perf_counter() - t
        if args.trace:
            layer.update(inprocess_trace(w.trace_sample()))
    finally:
        stop_session(spark)

    def med(key):
        return statistics.median(p[key] for p in passes)

    wall = med("wall_s")
    e2e = {
        "wall_s": wall,
        "docs_per_s": w.n_docs / wall,
        "peak_worker_rss_mb": rss.peak_mb,
        "setup_s": session_s + statistics.median(prep) + warm_s,
    }
    print(f"workload {args.workload} seed {args.seed}: {w.n_docs} docs, local[{cores}], "
          f"{len(passes)} timed passes, {rss.samples} RSS samples")
    print(f"  set-up: session {session_s:.2f} s, prepare {' '.join(f'{x:.2f}' for x in prep)} s, "
          f"warm-up {warm_s:.2f} s; check {check_s:.2f} s")
    samples = {
        "wall_s": f"median of {len(passes)} passes",
        "docs_per_s": f"{w.n_docs} docs / median wall of {len(passes)} passes",
        "peak_worker_rss_mb": f"max of {rss.samples} samples",
        "setup_s": f"session + median of {len(prep)} input builds + "
                   f"{w.WARM_UP_PASSES} warm-up pass(es)",
    }
    for name, value in e2e.items():
        print(f"  {name} = {value:.6g} {END_TO_END[name]} ({samples[name]})")
    print("  pass walls: " + " ".join(f"{p['wall_s']:.3f}" for p in passes) + " s")
    if "resume_wall_s" in passes[0]:
        print(f"  resume_wall_s = {med('resume_wall_s'):.6g} s (median of {len(passes)})")
    print(f"  mismatch_ratio = {failed / attempted:.6g} ({failed} of {attempted} checked)")

    if args.trace:
        layer["setup.session_start_s"] = session_s
        layer["sources.corpus.prepare_s"] = statistics.median(prep)
        if "resume_wall_s" in passes[0]:
            layer["plans.pipeline.resume_wall_s"] = med("resume_wall_s")
        for q in workloads.CurateLeaves.QUERIES:
            if f"{q}.wall_s" in passes[0]:
                layer[f"{q}.wall_s"] = med(f"{q}.wall_s")
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        attributed = sum(layer[f"layer.{m}.ms"] for m in LAYER_MODULES) + layer["unattributed_ms"]
        print(f"  traced wall {layer['trace.wall_ms']:.1f} ms = layers {attributed:.1f} ms "
              f"(unattributed {layer['unattributed_ms']:.1f} ms); "
              f"tracing overhead {layer['trace.overhead_ms']:.1f} ms")
        metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
