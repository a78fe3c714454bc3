"""Watermark/late-data contract tests (SURVEY.md §5.4).

The oracle suite covers availableNow batch-equivalence; what it cannot
cover is multi-batch TIMING — a watermark only drops a late row if the
row arrives in a LATER micro-batch than the rows that advanced the
watermark. These tests stage two parquet files and force one file per
micro-batch to make the ordering real."""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

import pytest
from pyspark.sql import Row, types as T
from pyspark.sql import functions as F

UTC = dt.timezone.utc
SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_batches(spark, tmpdir, batches):
    """Write each batch as one parquet file; spacing mtimes pins the
    file-stream processing order (source lists by modification time)."""
    d = os.path.join(tmpdir, "in")
    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate(batches):
        f = os.path.join(tmpdir, f"b{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f)
        part = [p for p in os.listdir(f) if p.startswith("part-")][0]
        dst = os.path.join(d, f"batch_{i}.parquet")
        os.rename(os.path.join(f, part), dst)
        mtime = time.time() - 1000 + i * 100
        os.utime(dst, (mtime, mtime))
    return d


def _run_one_file_per_batch(spark, src_dir, build, tmpdir, output_mode):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    name = "wm_" + uuid.uuid4().hex[:10]
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt_" + name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_watermark_drops_late_rows_in_windowed_agg(spark, tmp_path):
    """Run 1 advances the watermark past 11:00 (checkpointed); run 2
    delivers a 10:30 row — later than 1h behind max event time — which
    must NOT appear in the 10:00 window's final count. Two sequential
    availableNow runs over one checkpoint make the batch boundary (and
    hence the watermark timing) deterministic."""
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, tzinfo=UTC)
    src = os.path.join(str(tmp_path), "in")
    sink = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    def deliver(i, rows):
        stage = os.path.join(str(tmp_path), f"stage{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = [p for p in os.listdir(stage) if p.startswith("part-")][0]
        os.rename(os.path.join(stage, part), os.path.join(src, f"b{i}.parquet"))

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").cast("string").alias("win"), "n")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    deliver(0, [Row(event_id=1, ts=t(10, 0), value=1.0),
                Row(event_id=2, ts=t(10, 10), value=1.0),
                Row(event_id=3, ts=t(13, 0), value=1.0)])  # watermark -> 12:00
    run()
    deliver(1, [Row(event_id=4, ts=t(10, 30), value=1.0),  # LATE: dropped
                Row(event_id=5, ts=t(13, 30), value=1.0)])
    run()

    out = {r.win: r.n for r in spark.read.parquet(sink).collect()}
    # 10:00 window finalized at watermark 12:00 — with only the two
    # on-time rows; event 4 arrived after finalization and is dropped.
    assert out.get("2024-01-01 10:00:00") == 2
    # 13:00 window never finalized (watermark ends at 12:30) -> absent
    assert "2024-01-01 13:00:00" not in out


def test_watermark_keeps_rows_within_allowed_lateness(spark, tmp_path):
    """A row 30 min behind max event time is WITHIN a 2h watermark and
    must be counted."""
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, tzinfo=UTC)
    batches = [
        [Row(event_id=1, ts=t(10, 0), value=1.0),
         Row(event_id=2, ts=t(11, 0), value=1.0)],   # watermark -> 09:00
        [Row(event_id=3, ts=t(10, 30), value=1.0)],  # within lateness
    ]
    src = _write_batches(spark, str(tmp_path), batches)

    def build(stream):
        return (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").cast("string").alias("win"), "n")
        )

    # complete mode: final state regardless of finalization timing
    out = {r.win: r.n for r in _run_one_file_per_batch(
        spark, src, build, str(tmp_path), "complete").collect()}
    assert out.get("2024-01-01 10:00:00") == 2


def test_dedup_within_watermark_drops_late_duplicate(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate key arriving within
    the watermark window is suppressed; the first occurrence wins."""
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, tzinfo=UTC)
    batches = [
        [Row(event_id=100, ts=t(10, 0), value=1.0)],
        [Row(event_id=100, ts=t(10, 20), value=2.0)],  # dup key, in window
        [Row(event_id=200, ts=t(10, 40), value=3.0)],
    ]
    src = _write_batches(spark, str(tmp_path), batches)

    def build(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "value")
        )

    rows = sorted(
        (r.event_id, r.value)
        for r in _run_one_file_per_batch(
            spark, src, build, str(tmp_path), "append"
        ).collect()
    )
    assert rows == [(100, 1.0), (200, 3.0)]


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Crash-recovery contract: stop an availableNow file-stream →
    parquet-sink pipeline, land a new source file, restart with the
    SAME checkpoint and sink. Batches committed before the stop must
    NOT be reprocessed — the sink ends with every source row exactly
    once. This is the property that makes a 100-TB ingest restartable
    at hour 9 without deduplicating downstream."""
    tmpdir = str(tmp_path)

    def rows(base, n):
        return [
            Row(
                event_id=base + i,
                ts=dt.datetime(2024, 1, 1, 10, 0, i, tzinfo=UTC),
                value=float(i),
            )
            for i in range(n)
        ]

    src = _write_batches(spark, tmpdir, [rows(0, 5), rows(100, 7)])
    sink = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt_restart")

    def run_once():
        q = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(sink).count()
    assert first == 12

    # a third batch lands while the pipeline is down
    f = os.path.join(tmpdir, "b_late")
    spark.createDataFrame(rows(200, 3), SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f)
    part = [p for p in os.listdir(f) if p.startswith("part-")][0]
    os.rename(os.path.join(f, part), os.path.join(src, "batch_2.parquet"))

    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 15, "restart reprocessed or dropped a batch"
    ids = sorted(r.event_id for r in got.select("event_id").collect())
    assert ids == sorted(
        list(range(0, 5)) + list(range(100, 107)) + list(range(200, 203))
    )


def test_content_dedup_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """The streaming content-dedup must give the identical final state
    whether the corpus arrives as ONE micro-batch or as four (the
    order-insensitive-aggregation claim in its docstring, actually
    exercised): stage documents as 4 part files, replay with
    maxFilesPerTrigger=1, and compare against the single-batch run on
    the original fixture. Also regression-pins the per-file symlink
    staging (a directory fixture used to replay as an EMPTY stream)."""
    import os

    from pyspark.sql import functions as F

    from bigdata_financial_reporting_spark.sources.catalog import (
        TABLE_SCHEMAS,
        load_table,
    )
    from bigdata_financial_reporting_spark.streaming.runner import (
        run_available_now,
    )

    d = load_table(spark, sf_dir, "documents")
    staged = os.path.join(str(tmp_path), "docs4")
    d.repartition(4).write.mode("overwrite").parquet(staged)
    parts = [f for f in os.listdir(staged) if f.endswith(".parquet")]
    assert len(parts) == 4

    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    agg = (
        stream.select(
            "doc_id",
            F.md5(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
            ).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n"))
    )
    streamed = {
        (r["fp"], r["first_doc"], r["n"])
        for r in run_available_now(agg, output_mode="complete").collect()
    }
    batch = {
        (r["fp"], r["first_doc"], r["n"])
        for r in d.select(
            "doc_id",
            F.md5(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
            ).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_cdc_upsert_sink_leaves_only_its_final_snapshot(spark, sf_dir):
    """stream_cdc_upsert_sink stages the change log, drains it and
    writes a snapshot per micro-batch under the temp dir. Only the
    final snapshot, which the returned frame reads, may outlive the
    call: at most one new ``bdfr_cdc_*`` entry per call."""
    import tempfile

    from bigdata_financial_reporting_spark.queries import QUERIES

    def cdc_entries():
        return {
            n for n in os.listdir(tempfile.gettempdir()) if n.startswith("bdfr_cdc_")
        }

    before = cdc_entries()
    df = QUERIES["stream_cdc_upsert_sink"].fn(spark, sf_dir)
    added = cdc_entries() - before
    assert len(added) <= 1, f"leaked temp dirs: {sorted(added)}"
    for d in added:
        kept = os.listdir(os.path.join(tempfile.gettempdir(), d))
        assert len(kept) == 1, f"{d} keeps more than the final snapshot: {kept}"
    assert df.count() > 0, "the returned frame must still read its snapshot"
