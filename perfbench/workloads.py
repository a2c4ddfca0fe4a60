"""The benchmark workloads.

Each workload builds its inputs from the seed (``prepare``, repeatable),
warms the JVM and Python workers (``warm_up``), runs one timed pass
(``run_pass``) through the package's public entry points, and checks
its output outside the clock (``check``).

- pipeline_resume: write beside read. The sf0.1-sized span corpus
  (5,000 docs) plus 4 giant docs (5 MiB of HTML in all) as a 2-file
  parquet table, fewer files than the pipeline wants, so
  ``repartition="auto"`` runs the salted repartition. Phase 1 commits
  about 90% of the docs into a fresh TableCatalog; phase 2 resumes over
  the whole table. Every layer of the extraction pipeline runs.
- curate_leaves: the carried curation leaves dedup_clusters,
  remove_dup_spans and bpe_pack_symbols over 500 docs, the size at which
  their DuckDB oracles check in seconds (dedup_clusters' takes ~5 s).
  Shuffle- and driver-loop-heavy, no readability code: a core.* change
  should leave it unchanged.
- extract_steady: the paper's docs/s, run by hand (BENCHMARK.json leaves
  it out to fit the run budget). The 5,000-doc corpus twice over under
  doc_id prefixes, persisted in 16 partitions, through
  ``run_extraction(catalog=None)`` to a noop sink. core.* and
  operators.extract do nearly all the work; skew, resume and sink none.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import duckdb
from pyspark.sql import functions as F

import gate
import inputs
from tracing import NullTracer, stage_module

# Imported as modules so a traced pass can patch their attributes.
from claude_readability_hook_spark.plans import pipeline
from claude_readability_hook_spark.sources import corpus as corpus_mod
from claude_readability_hook_spark.sources.catalog import TableCatalog

BASE_DOCS = 5000  # the shipped sf0.1 documents table's size
SPAN_SAMPLE = 40  # docs checked span for span against in-process extraction
TRACE_SAMPLE = 600  # docs of the in-process core/operators.extract trace


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _base_span_docs(table, ids: list[int], prefix: str) -> list[dict]:
    texts = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    return [
        {"doc_id": f"{prefix}{i}", "spans": corpus_mod.build_html_doc(i, texts[i] or "")}
        for i in ids
    ]


class Workload:
    name = ""
    WARM_UP_PASSES = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.docs_dir = os.path.join(work_dir, "sf")
        os.makedirs(self.docs_dir, exist_ok=True)
        self.documents = os.path.join(self.docs_dir, "documents.parquet")
        self.flat = None

    def _write_documents(self, n: int) -> None:
        self.flat = inputs.write_documents(self.documents, self.seed, n)

    def _sample_ids(self, k: int, salt: int) -> list[int]:
        return sorted(random.Random(self.seed * 1_000_003 + salt).sample(range(BASE_DOCS), k))

    def warm_up(self) -> None:
        """Untimed passes over the real input: the first pays JIT and code
        generation for every plan shape, and a pass over a smaller input
        leaves the next full-size pass still warming."""
        for _ in range(self.WARM_UP_PASSES):
            self.run_pass(NullTracer())

    def trace_sample(self) -> list[dict]:
        """Docs for the in-process core/operators.extract trace."""
        return []

    def layer_metrics(self, stages, jobs, tracer) -> dict:
        """Workload-specific per-layer numbers from the traced pass."""
        return {}


class ExtractSteady(Workload):
    name = "extract_steady"
    REPLICAS = 2
    PARTITIONS = 16

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus = None
        self.n_docs = BASE_DOCS * self.REPLICAS

    def prepare(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist(blocking=True)
        self._write_documents(BASE_DOCS)
        base = corpus_mod.corpus_from_flat(self.spark, self.docs_dir)
        big = None
        for i in range(self.REPLICAS):
            r = base.withColumn("doc_id", F.concat(F.lit(f"r{i}-"), F.col("doc_id")))
            big = r if big is None else big.unionByName(r)
        self.corpus = big.repartition(self.PARTITIONS).persist()
        self.corpus.count()

    def run_pass(self, tr) -> dict:
        t0 = time.perf_counter()
        with tr.span("phase:extract"):
            res = pipeline.run_extraction(
                self.spark, self.corpus, catalog=None, num_partitions=self.PARTITIONS
            )
            _noop(res.extracted)
        return {"wall_s": time.perf_counter() - t0}

    def check(self) -> tuple[int, int]:
        out = os.path.join(self.work, "gate_extracted")
        res = pipeline.run_extraction(
            self.spark, self.corpus, catalog=None, num_partitions=self.PARTITIONS
        )
        res.extracted.write.mode("overwrite").parquet(out)
        glob = f"{out}/*.parquet"
        a1, b1 = gate.flagship_mismatches(
            self.documents, glob, [f"r{i}-" for i in range(self.REPLICAS)]
        )
        docs = _base_span_docs(self.flat, self._sample_ids(SPAN_SAMPLE, 1), "r0-")
        a2, b2 = gate.span_mismatches(docs, gate.read_extracted(glob, [d["doc_id"] for d in docs]))
        return a1 + a2, b1 + b2

    def trace_sample(self) -> list[dict]:
        return _base_span_docs(self.flat, self._sample_ids(TRACE_SAMPLE, 2), "r0-")


class PipelineResume(Workload):
    name = "pipeline_resume"
    # On local[2] passes take about 10.5, 8.3, then 7.5-9.5 s. With one
    # warm-up pass the spread of ten runs' medians was 0.163, with two 0.092.
    WARM_UP_PASSES = 2
    GIANTS = 4
    GIANT_BYTES = 5 * 1024 * 1024
    SOURCE_FILES = 2
    COMMIT_PERCENT = 90

    def __init__(self, *a):
        super().__init__(*a)
        self.src_dir = os.path.join(self.work, "source")
        self.cat_dir = os.path.join(self.work, "catalog")
        self.giants = inputs.giant_documents(self.seed, self.GIANTS, self.GIANT_BYTES)
        self.n_docs = BASE_DOCS + self.GIANTS
        self.run_ids: list[str] = []

    def prepare(self) -> None:
        from claude_readability_hook_spark.schemas import DOCUMENTS

        self._write_documents(BASE_DOCS)
        src = corpus_mod.corpus_from_flat(self.spark, self.docs_dir).unionByName(
            self.spark.createDataFrame(self.giants, schema=DOCUMENTS)
        )
        src.coalesce(self.SOURCE_FILES).write.mode("overwrite").parquet(self.src_dir)

    def run_pass(self, tr) -> dict:
        shutil.rmtree(self.cat_dir, ignore_errors=True)
        t0 = time.perf_counter()
        cat = TableCatalog(self.spark, self.cat_dir, use_iceberg=False)
        if tr.enabled:
            _trace_catalog(cat, tr)
        src = self.spark.read.parquet(self.src_dir)
        # The giants always commit in phase 1: where they land would
        # otherwise move the critical path between phases from seed to seed.
        committed = F.col("doc_id").startswith("giant-") | (
            F.pmod(F.xxhash64(F.lit(self.seed), F.col("doc_id")), F.lit(100))
            < self.COMMIT_PERCENT
        )
        with tr.span("phase:commit"):
            r1 = pipeline.run_extraction(self.spark, src.filter(committed), catalog=cat)
        t1 = time.perf_counter()
        with tr.span("phase:resume"):
            r2 = pipeline.run_extraction(self.spark, src, catalog=cat)
        t2 = time.perf_counter()
        self.run_ids = [r1.run_id, r2.run_id]
        return {"wall_s": t2 - t0, "resume_wall_s": t2 - t1}

    def check(self) -> tuple[int, int]:
        glob = f"{self.cat_dir}/extracted/*.parquet"
        a1, b1 = gate.flagship_mismatches(self.documents, glob, [""])
        docs = self.giants + _base_span_docs(self.flat, self._sample_ids(SPAN_SAMPLE, 1), "")
        a2, b2 = gate.span_mismatches(docs, gate.read_extracted(glob, [d["doc_id"] for d in docs]))
        return a1 + a2, b1 + b2

    def trace_sample(self) -> list[dict]:
        return self.giants + _base_span_docs(self.flat, self._sample_ids(TRACE_SAMPLE, 2), "")

    def layer_metrics(self, stages, jobs, tracer) -> dict:
        resume = [s for s in stages if stage_module(s) == "operators.resume"]
        con = duckdb.connect()
        try:
            phase2_docs = con.execute(
                f"""SELECT coalesce(sum(docs_in), 0)
                    FROM read_parquet('{self.cat_dir}/_lineage/*.parquet')
                    WHERE run_id = ?""",
                [self.run_ids[1]],
            ).fetchone()[0]
        finally:
            con.close()
        files, nbytes = 0, 0
        for root, _, names in os.walk(self.cat_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        return {
            "operators.resume.done_rows_scanned": sum(s.input_records for s in resume),
            "operators.resume.remaining_ratio": phase2_docs / self.n_docs,
            "sources.catalog.files_written": files,
            "sources.catalog.bytes_written_per_doc": nbytes / self.n_docs,
        }


def _trace_catalog(cat, tr) -> None:
    """Wrap one TableCatalog's public methods with layer-call spans.
    Stages of the _lineage append run operators.lineage's rollup."""
    append = cat.append

    def traced_append(df, name):
        module = "operators.lineage" if name == pipeline.LINEAGE_TABLE else "sources.catalog"
        with tr.span(f"sources.catalog.append:{name}", "sources.catalog", f"module:{module}"):
            append(df, name)

    cat.append = traced_append
    for attr in ("read", "exists"):
        setattr(
            cat,
            attr,
            tr.wrap(getattr(cat, attr), f"sources.catalog.{attr}", "sources.catalog",
                    "module:sources.catalog"),
        )


class CurateLeaves(Workload):
    name = "curate_leaves"
    # On local[2] passes take about 21, 10-12, then 10-11 s.
    WARM_UP_PASSES = 2
    DOCS = 500
    QUERIES = {
        "dedup_clusters": "operators.dedup",
        "remove_dup_spans": "operators.spandedup",
        "bpe_pack_symbols": "operators.bpetrain",
    }

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.n_docs = self.DOCS
        self.out_dir = os.path.join(self.work, "leaves")

    def prepare(self) -> None:
        self._write_documents(self.DOCS)

    def run_pass(self, tr) -> dict:
        out = {}
        t0 = time.perf_counter()
        for q, module in self.QUERIES.items():
            tq = time.perf_counter()
            with tr.span(f"leaf:{q}", module, f"module:{module}"):
                self.queries[q](self.spark, self.docs_dir).write.mode("overwrite").parquet(
                    os.path.join(self.out_dir, q)
                )
            out[f"{q}.wall_s"] = time.perf_counter() - tq
        out["wall_s"] = time.perf_counter() - t0
        return out

    def check(self) -> tuple[int, int]:
        attempted = bad = 0
        for q in self.QUERIES:
            a, b = gate.leaf_mismatches(
                self.documents, q, os.path.join(self.out_dir, q, "*.parquet")
            )
            attempted += a
            bad += b
        return attempted, bad

    def layer_metrics(self, stages, jobs, tracer) -> dict:
        out = {}
        leaf_spans = {s.name[len("leaf:"):]: s for s in tracer.spans if s.name.startswith("leaf:")}
        for q, module in self.QUERIES.items():
            span = leaf_spans[q]
            t0, t1 = span.start_ns / 1e6, span.end_ns / 1e6
            mine = [s for s in stages if s.job_label == f"module:{module}"]
            busy = _union_ms([(max(s.submit_ms, t0), min(s.complete_ms, t1)) for s in mine])
            out[f"{q}.spark_jobs"] = sum(1 for label in jobs if label == f"module:{module}")
            out[f"{q}.shuffle_bytes"] = sum(s.shuffle_write_bytes for s in mine)
            out[f"{q}.gc_ms"] = sum(s.gc_ms for s in mine)
            out[f"{q}.driver_ms"] = (t1 - t0) - busy
        return out


def _union_ms(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


WORKLOADS = {w.name: w for w in (ExtractSteady, PipelineResume, CurateLeaves)}
