"""Skew machinery tests (SURVEY §5.3.5): giant docs must not stack on
full partitions; per-partition byte load stays bounded."""

from __future__ import annotations

from pyspark.sql import functions as F

from claude_readability_hook_spark.config import EngineConfig
from claude_readability_hook_spark.operators.skew import (
    partitions_for,
    salted_repartition,
    with_doc_bytes,
)
from claude_readability_hook_spark.schemas import DOCUMENTS


def _corpus_with_giants(spark, n_normal=400, n_giant=8):
    rows = []
    for i in range(n_normal):
        rows.append(
            {
                "doc_id": f"n{i}",
                "url": None,
                "host": None,
                "n_bytes": None,
                "spans": [{"kind": "text", "text": "word " * 200, "media_ref": "", "offset": 0}],
            }
        )
    for i in range(n_giant):
        rows.append(
            {
                "doc_id": f"g{i}",
                "url": None,
                "host": None,
                "n_bytes": None,
                "spans": [
                    {"kind": "text", "text": "giant " * 40000, "media_ref": "", "offset": 0}
                ],
            }
        )
    return spark.createDataFrame(rows, schema=DOCUMENTS)


def test_n_bytes_derived_from_spans(spark):
    df = with_doc_bytes(_corpus_with_giants(spark, 5, 1))
    rows = {r["doc_id"]: r["n_bytes"] for r in df.collect()}
    assert rows["n0"] == 1000
    assert rows["g0"] == 240000


def test_giants_never_share_partition_with_full_normal_load(spark):
    cfg = EngineConfig(giant_doc_bytes=100_000)
    df = _corpus_with_giants(spark)
    parts = salted_repartition(df, 8, cfg)
    dist = (
        parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.sum("n_bytes").alias("part_bytes"),
            F.sum(F.when(F.col("n_bytes") > 100_000, 1).otherwise(0)).alias("giants"),
            F.sum(F.when(F.col("n_bytes") <= 100_000, 1).otherwise(0)).alias("normals"),
        )
        .collect()
    )
    # giants travel through their own shuffle: any partition with a giant
    # holds no normals and vice versa
    for r in dist:
        assert r["giants"] == 0 or r["normals"] == 0, r
    # normal-doc partitions stay balanced (continuous hash keys: no
    # empty-bin pathology)
    normal_parts = [r for r in dist if r["normals"] > 0]
    assert len(normal_parts) == 8
    counts = [r["normals"] for r in normal_parts]
    assert max(counts) <= 2.5 * (400 / 8)


def test_partitions_for_scales_with_bytes(spark):
    cfg = EngineConfig(target_partition_bytes=100_000)
    df = _corpus_with_giants(spark, n_normal=400, n_giant=8)
    n = partitions_for(df, cfg).partitions
    # ~2.3 MB total / 100 KB target ≈ 24 partitions
    assert 20 <= n <= 32


def test_partitions_for_floor_is_the_slot_count(spark):
    df = _corpus_with_giants(spark, n_normal=5, n_giant=1)
    slots = spark.sparkContext.defaultParallelism
    assert partitions_for(df) == (slots, 0)
    # the same aggregate counts the docs past the byte cap, and leaves
    # their bytes out of the sizing
    capped = EngineConfig(max_html_bytes=100_000, target_partition_bytes=1_000)
    assert partitions_for(df, capped) == (max(slots, 6), 1)


def test_one_file_source_below_slot_count_gets_salted_exchange(spark, tmp_path):
    """At the slot floor nparts // 2 is half the slots; a source whose
    scan estimate sits between that and the slot count must still be
    spread by the salted repartition before the UDF."""
    import glob
    import os

    from claude_readability_hook_spark.plans.pipeline import run_extraction

    path = str(tmp_path / "src")
    _corpus_with_giants(spark, n_normal=40, n_giant=0).coalesce(1).write.parquet(path)
    size = sum(os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet"))
    slots = spark.sparkContext.defaultParallelism
    assert slots >= 4
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(size // 2 + 1))  # one file, estimated 2 scan partitions
    try:
        extracted = run_extraction(spark, spark.read.parquet(path), catalog=None).extracted
        plan = extracted._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "Exchange hashpartitioning(xxhash64(doc_id" in plan, plan


def test_determinism_same_input_same_partitioning(spark):
    cfg = EngineConfig(giant_doc_bytes=100_000)
    df = _corpus_with_giants(spark, 50, 2)
    a = salted_repartition(df, 4, cfg).withColumn("pid", F.spark_partition_id())
    b = salted_repartition(df, 4, cfg).withColumn("pid", F.spark_partition_id())
    ma = {r["doc_id"]: r["pid"] for r in a.collect()}
    mb = {r["doc_id"]: r["pid"] for r in b.collect()}
    assert ma == mb  # resume-safe: no rand() in the salt
