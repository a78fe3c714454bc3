"""Structured Streaming queries (SURVEY.md §2B.10).

Each query replays the ``events`` fixture through ``readStream`` with
``trigger(availableNow=True)`` into a memory sink and returns the final
static result. Because the replay drains everything, the final state
equals the equivalent BATCH computation — so these queries carry real
DuckDB oracles (batch-equivalence made executable). Watermark
late-drop behavior (which needs multi-batch timing) is exercised in
tests/test_streaming.py instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.functions.exact import (
    duck_half_div,
    duck_sum,
    exact_sum,
    micro_units,
    spark_half_div,
)
from bigdata_financial_reporting_spark.queries.ops_tools import (
    CDC_APPLY_ORACLE,
)
from bigdata_financial_reporting_spark.queries.registry import register
from bigdata_financial_reporting_spark.sources.catalog import load_table
from bigdata_financial_reporting_spark.streaming.runner import (
    discard_checkpoint,
    ephemeral_checkpoint_dir,
    events_stream,
    run_available_now,
    scoped_state_partitions,
)


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n,
           {vs} AS value_sum
    FROM events
    GROUP BY 1, 2
    """.format(vs=duck_sum("value", 10_000)),
    category="streaming",
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window aggregation over the event stream."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact sum at the OUTPUT resolution (1e-4): quantize, sum
            # in decimal(38,0), render with one division and NO float
            # round — a round() over a quantized sum lands on exact
            # 4dp halves ~1% of cells, where the engines disagree
            exact_sum(F.col("value"), 10_000).alias("value_sum"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )
    with scoped_state_partitions(spark):
        return run_available_now(agg, output_mode="complete")


@register(
    "stream_sliding_window",
    oracle="""
    WITH buckets AS (
      SELECT ts, value,
             time_bucket(INTERVAL 30 MINUTE, ts) AS b
      FROM events
    ),
    slides AS (
      SELECT b AS win_start, ts, value FROM buckets
      UNION ALL
      SELECT b - INTERVAL 30 MINUTE AS win_start, ts, value FROM buckets
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n,
           CAST({q} AS DOUBLE) / 1000000.0 AS value_avg
    FROM slides
    GROUP BY 1
    """.format(
        q=duck_half_div(
            "sum(CAST(round(value * 1000000.0) AS BIGINT))", "count(*)"
        )
    ),
    category="streaming",
)
def stream_sliding_window(spark, sf_dir):
    """Sliding window (1 h length, 30 min slide): every event lands in
    two windows. Oracle reproduces the two-bucket expansion."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # round-6 at-scale red: the 6dp average renders via pure-
            # integer half-away division of the exact micro-unit sum —
            # F.round on the float quotient diverges on exact halves
            F.sum(micro_units(F.col("value"))).alias("v_units"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
            (
                F.expr(spark_half_div("v_units", "n")).cast("double")
                / 1000000.0
            ).alias("value_avg"),
        )
    )
    with scoped_state_partitions(spark):
        return run_available_now(agg, output_mode="complete")


@register(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           {vs} AS value_sum
    FROM sessions
    GROUP BY user_id, session_id
    """.format(vs=duck_sum("value", 10_000)),
    category="streaming",
)
def stream_session_window(spark, sf_dir):
    """Session windows (30-minute inactivity gap) per user. Oracle is
    the classic gaps-and-islands rewrite — the same sessionization a
    batch engine would run."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 10_000).alias("value_sum"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "value_sum",
        )
    )
    with scoped_state_partitions(spark):
        return run_available_now(agg, output_mode="complete")


@register(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    category="streaming",
)
def stream_dedup_watermark(spark, sf_dir):
    """Stateful streaming dedup on (user_id, event_type) within a
    watermark; projecting only the keys makes the survivor question
    moot, so the final set equals batch DISTINCT."""
    s = events_stream(spark, sf_dir)
    deduped = (
        s.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    with scoped_state_partitions(spark):
        return run_available_now(deduped, output_mode="append")


@register(
    "stream_stateful_counters",
    oracle="""
    SELECT user_id, count(*) AS n_events, {vs} AS value_sum,
           round(max(value), 6) AS value_max
    FROM events GROUP BY user_id
    """.format(vs=duck_sum("value", 10_000)),
    category="streaming",
)
def stream_stateful_counters(spark, sf_dir):
    """Arbitrary stateful op: applyInPandasWithState maintaining
    running per-user counters across micro-batches; final state equals
    the batch groupBy. (Spark 4's successor API,
    transformWithStateInPandas, was evaluated: its Python runner needs
    google.protobuf bindings absent from this environment — the
    dataflow and state semantics here are identical.)"""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        # the running sum is EXACT integer 1e-4 units (Python-int
        # accumulation — arbitrary precision, no int64 wrap, no float
        # merge order across micro-batches); the double renders once
        # at the end, Spark-side, mirroring the oracle
        n, s_micro, mx = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            # v_micro was quantized JVM-side (F.round — half-away like
            # DuckDB); Python-int accumulation is arbitrary-precision
            s_micro += int(pdf["v_micro"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, s_micro, mx))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_micro": [s_micro],
                "value_max": [mx],
            }
        )

    s = events_stream(spark, sf_dir).withColumn(
        "v_micro", F.round(F.col("value") * 10000.0).cast("long")
    )
    out = (
        s.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_micro long, value_max double",
            stateStructType="n long, s_micro long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    with scoped_state_partitions(spark):
        result = run_available_now(out, output_mode="update")
    # update-mode emits one row per key per batch; keep the final state
    # (max n_events per user = last emission). value_sum renders from
    # the exact 1e-4-unit integer with one division and NO float round.
    from bigdata_financial_reporting_spark.operators.topk import top_k_per_group

    final = top_k_per_group(result, ["user_id"], [F.col("n_events").desc()], 1)
    return final.select(
        "user_id",
        "n_events",
        (F.col("sum_micro").cast("double") / 10000.0).alias("value_sum"),
        F.round("value_max", 6).alias("value_max"),
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
    WHERE v.ts < TIMESTAMP '2024-01-05 00:00:00'
      AND c.ts < TIMESTAMP '2024-01-05 00:00:00'
    """,
    category="streaming",
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join: views joined to clicks by the same
    user within 2 hours. Both sides carry watermarks and the join
    has the time-bound condition Spark needs to expire state; draining
    with availableNow makes the result equal the batch interval join."""
    base = events_stream(spark, sf_dir).filter(F.col("ts") < "2024-01-05")
    views = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select(F.col("v_user").alias("user_id"), "view_id", "click_id")
    with scoped_state_partitions(spark):
        return run_available_now(joined, output_mode="append")


@register(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, count(*) AS n, {vs} AS value_sum
    FROM events
    WHERE value > 100
    GROUP BY event_type
    """.format(vs=duck_sum("value", 10_000)),
    category="streaming",
)
def stream_foreach_batch_sink(spark, sf_dir):
    """foreachBatch sink: each micro-batch lands in a parquet directory
    via arbitrary Python (the hook production uses for MERGE/upsert into
    warehouses). Draining with availableNow and re-reading the sink must
    equal the batch computation."""
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="bdfr_feb_sink_")
    s = events_stream(spark, sf_dir).filter(F.col("value") > 100)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    ckpt = ephemeral_checkpoint_dir()
    q = (
        s.select("event_id", "event_type", "value")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    discard_checkpoint(ckpt)
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum(F.col("value"), 10_000).alias("value_sum"),
        )
    )


@register(
    "stream_rate_source",
    oracle="""
    SELECT CAST(v % 10 AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(sum(v) AS BIGINT) AS value_sum
    FROM generate_series(0, 99) t(v)
    GROUP BY 1
    """,
    category="streaming",
)
def stream_rate_source(spark, sf_dir):
    """Rate stream source (SURVEY.md §2B.10 row 1): rate-micro-batch
    emits a deterministic 0..N-1 value sequence, so even this generator
    query gets an exact oracle. availableNow drains exactly one batch
    of rowsPerBatch rows."""
    s = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    agg = (
        s.select((F.col("value") % 10).alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
    )
    return run_available_now(agg, output_mode="complete")


@register(
    "stream_static_join",
    oracle="""
    SELECT n_name, count(*) AS n_events, {vs} AS value_sum
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """.format(vs=duck_sum("value", 10_000)),
    category="streaming",
)
def stream_static_join(spark, sf_dir):
    """Stream-static join: the static dimension is broadcast into every
    micro-batch; aggregation state lives in the stream."""
    s = events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dim = F.broadcast(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
            "c_custkey", "n_name"
        )
    )
    joined = s.join(dim, s.user_id == dim.c_custkey)
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value"), 10_000).alias("value_sum"),
    )
    return run_available_now(agg, output_mode="complete")


@register(
    "stream_content_dedup",
    oracle="""
    SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           count(*) AS n_copies,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    """,
    category="streaming",
)
def stream_content_dedup(spark, sf_dir):
    """Streaming ingest dedup for a training-data pipeline: documents
    arrive as a file stream, each micro-batch folds into a stateful
    aggregation KEYED ON THE CONTENT HASH — surviving doc (min id),
    copy count, max length. Aggregation (not dropDuplicates) on
    purpose: min/count/max are order-insensitive, so the final state
    is deterministic whatever the micro-batch carve-up, and equals
    the batch GROUP BY — dropDuplicates' survivor would depend on
    arrival order. In production the same frame runs unchanged with a
    real trigger and a checkpoint; state is bounded by distinct
    content, the thing dedup exists to bound."""
    from bigdata_financial_reporting_spark.streaming.runner import (
        documents_stream,
    )

    s = documents_stream(spark, sf_dir)
    agg = (
        s.select(
            "doc_id",
            "n_chars",
            F.md5(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
            ).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").cast("long").alias("first_doc"),
            F.count(F.lit(1)).alias("n_copies"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )
    with scoped_state_partitions(spark):
        return run_available_now(agg, output_mode="complete")


@register(
    "stream_stream_left_outer",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-05 00:00:00'
    ),
    c AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00'
    )
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id
    FROM v LEFT JOIN c
      ON v.user_id = c.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
    """,
    category="streaming",
)
def stream_stream_left_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the stateful op the
    inner `stream_stream_join` cannot express: a view with NO click
    within 2 hours must still emit (with nulls), which requires the
    engine to hold the row in state until the watermark PROVES no
    match can arrive, then emit the null row on eviction.

    The batch-equivalence subtlety this key pins: outer results only
    surface when the global watermark passes `v_ts + 2h + delay`, so
    `withWatermark` is applied BEFORE the analysis cutoff filter —
    the watermark then advances over the whole fixture (through
    2024-01-30), clearing every held row, and the availableNow drain
    equals the batch left join exactly, null rows included. Filtering
    before the watermark would freeze it at the cutoff and silently
    swallow the last interval's unmatched rows — the classic
    stream-stream outer-join production bug, here made a contract.

    State is bounded: each side keeps only rows younger than the
    watermark minus the interval (Spark evicts by the join's time
    bound), so at 100 TB/day state is interval-sized, not corpus-
    sized."""
    base = events_stream(spark, sf_dir)
    views = (
        base.select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
            "event_type",
        )
        .withWatermark("v_ts", "1 hour")
        .filter((F.col("event_type") == "view") & (F.col("v_ts") < "2024-01-05"))
        .drop("event_type")
    )
    clicks = (
        base.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            "event_type",
        )
        .withWatermark("c_ts", "1 hour")
        .filter((F.col("event_type") == "click") & (F.col("c_ts") < "2024-01-05"))
        .drop("event_type")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
        "left_outer",
    ).select(F.col("v_user").alias("user_id"), "view_id", "click_id")
    with scoped_state_partitions(spark):
        return run_available_now(joined, output_mode="append")


@register(
    "stream_cdc_upsert_sink",
    # identical snapshot contract to the batch key — the oracle IS the
    # batch semantics, so a drift in the per-batch MERGE fails the hash
    oracle=CDC_APPLY_ORACLE,
    category="streaming",
)
def stream_cdc_upsert_sink(spark, sf_dir):
    """Streaming CDC apply (round-10 verdict item 3c): the change log
    `ops_cdc_apply` collapses in one batch window here arrives as a
    file stream — one file per commit version, replayed in order under
    maxFilesPerTrigger=1 — and each micro-batch MERGEs into a parquet
    snapshot inside foreachBatch, the lakehouse upsert consumer shape
    (Delta/Iceberg MERGE INTO per batch).

    The merge is ORDER-INDEPENDENT by construction: the snapshot keeps
    each key's highest-(version, op)-ranked row INCLUDING delete
    tombstones, so a late-arriving lower-version row can never revive
    a deleted key and the final state equals the batch window whatever
    the micro-batch carve-up; tombstones drop only at read-out. At
    100 TB each micro-batch merge is one hash shuffle keyed on the
    primary key (production prunes it to matched partitions /
    merge-on-read); the log derivation and snapshot are fully
    distributed — nothing key-sized ever reaches the driver."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from bigdata_financial_reporting_spark.queries.ops_tools import (
        cdc_change_log,
    )

    # stage the log: one parquet file per commit version, sortable
    # names. ONE partitioned write job stages every version (a write
    # job's fixed commit-protocol cost dominates the 15k-row data at
    # this SF — the former per-version coalesce(1) loop spent ~1 s of
    # wall PER VERSION on job scheduling + _temporary renames). The
    # partition column is a duplicate (__v) because partitionBy drops
    # its column from the data files and the stream schema needs
    # `version` in-file. The stage, the log and the snapshots share one
    # work dir; each is removed as soon as nothing reads it, so the
    # work dir ends up holding only the final snapshot.
    work = tempfile.mkdtemp(prefix="bdfr_cdc_")
    log_dir = os.path.join(work, "log")
    stage = os.path.join(work, "stage")
    os.makedirs(log_dir)
    versions = cdc_change_log(spark, sf_dir)
    log = versions[0][1].withColumn("__v", F.col("version"))
    for _, df in versions[1:]:
        log = log.unionByName(df.withColumn("__v", F.col("version")))
    (
        log.repartition(len(versions), "__v")
        .write.mode("overwrite")
        .partitionBy("__v")
        .parquet(stage)
    )
    for version, _ in versions:
        vdir = os.path.join(stage, f"__v={version}")
        # an empty version frame writes NO __v=<version> partition
        # directory — fail loudly naming the version rather than an
        # opaque FileNotFoundError from os.listdir (round-13 advice;
        # the per-version staged file is the micro-batch unit, so an
        # empty version would silently change the drain's batch count)
        if not os.path.isdir(vdir):
            shutil.rmtree(work, ignore_errors=True)
            raise ValueError(
                f"cdc staging: change-log version {version} produced "
                "no rows — every version must stage one non-empty "
                "commit file"
            )
        part = next(
            n for n in sorted(os.listdir(vdir)) if n.endswith(".parquet")
        )
        shutil.copyfile(
            os.path.join(vdir, part),
            os.path.join(log_dir, f"commit-{version:05d}.parquet"),
        )
    shutil.rmtree(stage, ignore_errors=True)

    state = {"path": None}
    rn = F.row_number().over(
        Window.partitionBy("k").orderBy(F.desc("version"), "op")
    )

    def merge(batch_df, batch_id):
        cur = batch_df
        if state["path"] is not None:
            cur = batch_df.sparkSession.read.parquet(state["path"]).unionByName(
                batch_df
            )
        out = os.path.join(work, f"snap-{batch_id}")
        (
            cur.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .drop("rn")
            .write.mode("overwrite")
            .parquet(out)
        )
        if state["path"] is not None:
            shutil.rmtree(state["path"], ignore_errors=True)
        state["path"] = out

    stream = (
        spark.readStream.schema("k long, version int, op string, acctbal double")
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir)
    )
    # each per-version micro-batch MERGE plans a key-hash window
    # shuffle from the live conf — 32 partitions x 15 sequential
    # micro-batches is pure task-launch overhead on a ~1.5k-row
    # snapshot; scope the width to the drain like the other stateful
    # keys (see scoped_state_partitions)
    with scoped_state_partitions(spark):
        ckpt = ephemeral_checkpoint_dir()
        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        discard_checkpoint(ckpt)
    shutil.rmtree(log_dir, ignore_errors=True)
    snap = spark.read.parquet(state["path"])
    return snap.filter(F.col("op") != "D").select(
        F.col("k").alias("custkey"),
        "version",
        F.round("acctbal", 4).alias("acctbal"),
    )


@register(
    "stream_stream_full_outer",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-05 00:00:00'
    ),
    c AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00'
    )
    SELECT COALESCE(v.user_id, c.user_id) AS user_id,
           v.event_id AS view_id,
           c.event_id AS click_id
    FROM v FULL JOIN c
      ON v.user_id = c.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
    """,
    category="streaming",
)
def stream_stream_full_outer(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — the completion of the
    outer-join family over `stream_stream_join` (inner) and
    `stream_stream_left_outer`: BOTH sides' unmatched rows must
    surface, which means the engine holds state on both sides and
    emits each side's null-padded rows only when the watermark proves
    no match can arrive. A view with no click within 2 hours emits
    (user, view_id, NULL); a click no view preceded within 2 hours
    emits (user, NULL, click_id).

    Same batch-equivalence subtlety the left-outer key pinned
    (round-11): `withWatermark` is applied BEFORE the analysis cutoff
    filter so the watermark advances over the whole fixture and
    flushes every held row on BOTH sides — filtering first would
    freeze it at the cutoff and swallow the last interval's unmatched
    rows on each side. State is bounded by the join's time bound
    (interval-sized, never corpus-sized) exactly as in the left-outer
    case, now symmetric."""
    base = events_stream(spark, sf_dir)
    views = (
        base.select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
            "event_type",
        )
        .withWatermark("v_ts", "1 hour")
        .filter((F.col("event_type") == "view") & (F.col("v_ts") < "2024-01-05"))
        .drop("event_type")
    )
    clicks = (
        base.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            "event_type",
        )
        .withWatermark("c_ts", "1 hour")
        .filter((F.col("event_type") == "click") & (F.col("c_ts") < "2024-01-05"))
        .drop("event_type")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
        "full_outer",
    ).select(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        "view_id",
        "click_id",
    )
    # A two-sided outer join commits FOUR stores per partition per
    # batch — at the bench SF, 32 partitions are ~10 s of pure
    # store-commit overhead for ~5k rows (measured 9.8 s -> 2.3 s at
    # 4). See scoped_state_partitions for the sizing/threading
    # contract.
    with scoped_state_partitions(spark):
        return run_available_now(joined, output_mode="append")


@register(
    "stream_dedup_exactly_once",
    oracle="""
    SELECT event_type, count(*) AS n_events, {vs} AS value_sum
    FROM (SELECT DISTINCT event_id, event_type, value FROM events) t
    GROUP BY event_type
    """.format(vs=duck_sum("value", 10_000)),
    category="streaming",
)
def stream_dedup_exactly_once(spark, sf_dir):
    """At-least-once -> exactly-once collapse: every event is
    deliberately delivered TWICE in the same stream (the retry /
    redelivery shape of an at-least-once source — here an explode
    duplication, so the duplicate provably shares its original's
    micro-batch and event time) and `dropDuplicatesWithinWatermark`
    on the record identity must collapse the stream back to
    exactly-once: the drained per-type counts and exact value sums
    equal the plain batch aggregate over the fixture, so even ONE
    surviving duplicate fails the hash (count +1, sum shifted).

    Differs from `stream_dedup_watermark` (key-projection dedup, no
    duplicates injected): here full VALUE-carrying rows survive, so
    the key also pins that the survivor is the duplicate-identical
    row, and the downstream aggregate is the witness. At 100 TB the
    dedup state is one (event_id, within-watermark) entry per live
    key — the standard exactly-once ingestion front of a CDC/event
    pipeline; eviction by watermark keeps it horizon-sized."""
    s = events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value", "ts"
    )
    dup = s.withColumn(
        "__copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("__copy")
    deduped = (
        dup.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "value")
    )
    # same scoped state-partition sizing as stream_stream_full_outer:
    # the dedup state is one store per partition per batch, and the
    # bench-SF wall is store commits, not data
    with scoped_state_partitions(spark):
        drained = run_available_now(deduped, output_mode="append")
    return drained.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value"), 10_000).alias("value_sum"),
    )
