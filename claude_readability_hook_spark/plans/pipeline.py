"""The flagship extraction job (SURVEY §3.1 Spark lifecycle).

  read span table
    → resume anti-join against committed output       (O5/J1)
    → validation / routing / SSR-metric column exprs  (O1-O4, O14; codegen)
    → byte-salted repartition                         (skew, §4.1)
    → mapInPandas extraction with in-UDF fallback     (F4-F7, §2.12)
    → output append + per-partition lineage append    (S7/S8)

The reference's two HTTP hops and thread pool (§3.1 boundaries)
collapse into Spark's executor↔Python-worker Arrow channels.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions import columns as C
from ..operators.extract import extract_spans, strip_metrics
from ..operators.lineage import lineage_rollup
from ..operators.resume import remaining_documents
from ..operators.skew import is_oversize, partitions_for, salted_repartition, with_doc_bytes
from ..sources.catalog import TableCatalog

EXTRACTED_TABLE = "extracted"
LINEAGE_TABLE = "_lineage"
QUARANTINE_TABLE = "_quarantine"


def validated(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Attach the cheap Column-expr predicates BEFORE the expensive UDF
    (Catalyst can't reorder across a UDF black box — SURVEY §4)."""
    out = with_doc_bytes(df)
    if "url" in df.columns:
        out = (
            out.withColumn("url", C.transform_url_expr(F.col("url")))
            .withColumn("valid_url", C.is_valid_url_expr(F.col("url")))
        )
    if "host" in df.columns:
        out = out.withColumn("host_private", C.host_is_private_expr(F.col("host"))).withColumn(
            "route_tag", C.route_tag_expr(F.col("host"))
        )
    # Oversize docs route to quarantine instead of killing tasks (S2).
    return out.withColumn("oversize", is_oversize(cfg))


def _parse_bytes_conf(v: str) -> int:
    """Parse Spark size confs like '134217728b' / '128m' / '1g'."""
    s = v.strip().lower().rstrip("b")
    mult = 1
    if s and s[-1] in "kmgt":
        mult = 1024 ** ("kmgt".index(s[-1]) + 1)
        s = s[:-1]
    return int(s) * mult if s else 128 * 1024 * 1024


def _estimated_scan_partitions(spark: SparkSession, df: DataFrame) -> int | None:
    """Estimate how many scan partitions the plan's leaf files yield,
    WITHOUT df.rdd (which forces plan analysis on the driver and hides
    the plan from AQE): leaf file bytes / maxPartitionBytes. Returns
    None when the plan already contains an explicit repartition — the
    caller's partitioning is authoritative then. Returns 0 ("unknown —
    assume unusable") when no leaf files resolve (in-memory frames,
    UDF-synthesized sources): a wrong "fine" guess there leaves the
    heavy UDF stage on a single task, which costs far more than one
    possibly-redundant salted shuffle of a source that small. When leaf
    files DO resolve but none can be sized (exotic FS), returns None —
    a real file scan already yields byte-bounded splits."""
    try:
        logical = df._jdf.queryExecution().logical().toString()
        if "Repartition" in logical:  # Repartition / RepartitionByExpression
            return None
    except Exception:
        pass
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return 0
    import os
    from urllib.parse import urlparse

    total = 0
    sized = 0
    jvm_fs_conf = None
    for f in files:
        scheme = urlparse(f).scheme
        if scheme in ("", "file"):
            path = urlparse(f).path or f
            try:
                total += os.path.getsize(path)
                sized += 1
            except OSError:
                pass
        else:
            # s3://, hdfs://, ... — size through the Hadoop FileSystem
            # API; os.path.getsize on a URL path always raises, which
            # used to zero the estimate and force a full salted shuffle
            # of the corpus on every remote-storage run (ADVICE r2).
            try:
                if jvm_fs_conf is None:
                    jvm_fs_conf = spark._jsc.hadoopConfiguration()
                jpath = spark._jvm.org.apache.hadoop.fs.Path(f)
                fs = jpath.getFileSystem(jvm_fs_conf)
                total += fs.getFileStatus(jpath).getLen()
                sized += 1
            except Exception:
                pass
    if sized == 0:
        # files exist but none could be sized: the scan's own
        # byte-bounded splits (maxPartitionBytes) are a better default
        # than forcing a shuffle off a zero estimate — treat the
        # caller's partitioning as authoritative.
        return None
    max_pb = _parse_bytes_conf(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    )
    return max(1, -(-total // max_pb))


@dataclass
class RunResult:
    run_id: str
    # With a catalog, `extracted` is the raw committed table — after a
    # staleness-driven re-extraction it contains superseded rows too;
    # operators.resume.latest_extractions (or catalog.merge_latest)
    # resolves to one row per doc.
    extracted: DataFrame
    lineage: DataFrame


def run_extraction(
    spark: SparkSession,
    src: DataFrame,
    catalog: TableCatalog | None = None,
    cfg: EngineConfig = DEFAULT,
    num_partitions: int | None = None,
    run_id: str | None = None,
    repartition: str = "auto",
) -> RunResult:
    """Execute the flagship pipeline. With a catalog, commits output +
    lineage and resumes from whatever is already committed.

    repartition: 'auto' shuffles only when the source partitioning is
    unusable; 'force'/'skip' override. Rationale: a parquet/Iceberg
    scan already yields byte-bounded splits (maxPartitionBytes), so
    re-shuffling every HTML byte before the UDF doubles the stage's
    I/O for nothing (measured: the shuffle cost 2-4× the extraction
    compute). The salted shuffle earns its cost only when the input
    arrives in few/skewed partitions (a handful of giant files, or a
    filter that gutted most partitions).

    Sizing: one aggregate over the remaining docs (partitions_for)
    gives the stage's byte total and the oversize count. The stage gets
    bytes / target_partition_bytes partitions, but at least one per
    task slot (defaultParallelism) and no more on a small input: each
    Python task costs a fixed ~180 ms of worker start-up, so a fixed
    floor above the slot count paid that cost several times per slot.
    The _quarantine append runs only when the count is non-zero."""
    run_id = run_id or uuid.uuid4().hex[:12]

    df = validated(src, cfg)

    done = None
    if catalog is not None and catalog.exists(EXTRACTED_TABLE):
        done = catalog.read(EXTRACTED_TABLE)
    # "absent OR stale": older engine_version (and, if configured,
    # rows past the TTL) are re-extracted — the reference's 24h cache
    # TTL (lib/cache.ts:12-22) as a batch policy.
    todo = remaining_documents(
        df, done, engine_version=cfg.engine_version, max_age_hours=cfg.reextract_ttl_hours
    )

    # The one sizing job: stage byte total and oversize count together.
    # Without a catalog nothing is quarantined, so a caller-set
    # partition count makes it unnecessary.
    sizing = partitions_for(todo, cfg) if not num_partitions or catalog is not None else None
    nparts = num_partitions or sizing.partitions
    quarantined = todo.filter(F.col("oversize"))
    todo = todo.filter(~F.col("oversize"))
    # Logical-plan partition estimate (no .rdd conversion — that would
    # sidestep AQE's view of the plan and force an analysis round-trip
    # on the driver): leaf scan partitions from the file sizes. The
    # estimate runs on the SOURCE plan (df), not todo — todo's leaf
    # files include the committed-output side of the resume anti-join,
    # which would inflate the estimate and wrongly skip the shuffle.
    # The lower bound is at least the slot count, so 'auto' never runs
    # the UDF on fewer scan partitions than there are slots (on 2 slots
    # nparts // 2 can be 1, which no estimate is below).
    src_parts = _estimated_scan_partitions(spark, df)
    slots = spark.sparkContext.defaultParallelism
    needs_shuffle = repartition == "force" or (
        repartition == "auto"
        and src_parts is not None
        and (src_parts < max(nparts // 2, slots) or src_parts > nparts * 4)
    )
    if needs_shuffle:
        todo = salted_repartition(todo, nparts, cfg)

    with_metrics = extract_spans(todo, cfg)
    with_metrics = with_metrics.withColumn(
        "engine_version", F.lit(cfg.engine_version)
    ).withColumn("extracted_at", F.current_timestamp())

    if catalog is not None:
        # Materialize ONCE via localCheckpoint, not persist: appending to
        # the output table refreshes Spark's cache for every plan that
        # scans that path — a persisted plan containing the resume
        # anti-join would be invalidated by its own commit and silently
        # recompute to zero rows. The checkpoint truncates lineage, so
        # the materialized rows have no file-scan dependency to refresh,
        # and extraction runs exactly once per run.
        with_metrics = with_metrics.localCheckpoint(eager=True)
        catalog.append(strip_metrics(with_metrics), EXTRACTED_TABLE)
        catalog.append(lineage_rollup(with_metrics, run_id), LINEAGE_TABLE)
        extracted = catalog.read(EXTRACTED_TABLE)
        lineage = catalog.read(LINEAGE_TABLE).filter(F.col("run_id") == run_id)
        # Oversize docs (S2 byte cap) go to a quarantine table instead of
        # killing tasks — metadata only, never the giant payload. The
        # append re-runs the source scan and the resume anti-join, so it
        # runs only when the sizing job counted something to quarantine.
        if sizing.oversize_docs:
            catalog.append(
                quarantined.select(
                    F.lit(run_id).alias("run_id"),
                    "doc_id",
                    "n_bytes",
                    F.lit("oversize").alias("reason"),
                ),
                QUARANTINE_TABLE,
            )
    else:
        lineage = lineage_rollup(with_metrics, run_id)
        extracted = strip_metrics(with_metrics)

    return RunResult(run_id=run_id, extracted=extracted, lineage=lineage)
