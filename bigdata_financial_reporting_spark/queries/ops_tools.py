"""Ops-tool queries: table profiling (the approx-ndv column is dropped
from the oracle projection — it is tolerance-tested in
tests/test_ops_tools.py instead)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.functions.exact import (
    cents,
    duck_cents,
    duck_dec2d,
    duck_half_div,
    duck_units,
    micro_units,
    spark_dec2d,
    spark_half_div,
)
from bigdata_financial_reporting_spark.operators.cache import scratch_dir
from bigdata_financial_reporting_spark.operators.profile import profile_table
from bigdata_financial_reporting_spark.queries.registry import register
from bigdata_financial_reporting_spark.sources.catalog import load_table


_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column,
           count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           CAST(min({c}) AS VARCHAR) AS min_s,
           CAST(max({c}) AS VARCHAR) AS max_s
    FROM customer
    """
    for c in _COLS
)


@register("ops_table_profile", oracle=_ORACLE, category="ops")
def ops_table_profile(spark, sf_dir):
    """Single-pass per-column profile of customer. Floats render via
    the same cast-to-string on both engines; approx ndv is excluded
    here (tolerance-tested separately)."""
    c = load_table(spark, sf_dir, "customer")
    return profile_table(c).select("column", "n_rows", "n_nulls", "min_s", "max_s")


@register(
    "ops_validate_quality",
    oracle="""
    WITH n AS (SELECT count(*) AS n_rows FROM orders)
    SELECT * FROM (
      SELECT 'not_null:o_custkey' AS rule, n.n_rows,
             (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_violations
      FROM n
      UNION ALL
      SELECT 'unique:o_orderkey', n.n_rows,
             (SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders)
      FROM n
      UNION ALL
      SELECT 'in_range:o_totalprice(0,300000)', n.n_rows,
             (SELECT count(*) FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_totalprice NOT BETWEEN 0 AND 300000)
      FROM n
      UNION ALL
      SELECT 'accepted_values:o_orderstatus(O,F,P)', n.n_rows,
             (SELECT count(*) FROM orders
              WHERE o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O', 'F', 'P'))
      FROM n
    )
    """,
    category="ops",
)
def ops_validate_quality(spark, sf_dir):
    """Expectations-style validation of orders in one aggregation pass:
    null check, key uniqueness, numeric range, accepted categorical
    values. The ingest gate shape for training-data batches."""
    from bigdata_financial_reporting_spark.operators.quality import (
        accepted_values,
        in_range,
        not_null,
        unique,
        validate,
    )

    o = load_table(spark, sf_dir, "orders")
    rules = [
        not_null("o_custkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 300000),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
    ]
    return validate(o, rules).select("rule", "n_rows", "n_violations")


@register(
    "ops_compact_roundtrip",
    oracle=f"""
    SELECT c_nationkey, count(*) AS n,
           {duck_dec2d("sum(" + duck_cents("c_acctbal") + ")")} / 100.0
             AS acctbal
    FROM customer GROUP BY c_nationkey
    """,
    category="ops",
)
def ops_compact_roundtrip(spark, sf_dir):
    """Small-file compaction as a verified roundtrip: customer is
    scattered into 16 tiny parquet files (the streaming-append
    pathology), compact_parquet rewrites the directory to the target
    file size with a staged-then-swapped temp dir, and the compacted
    table must aggregate identically to the source of truth. The
    operator's file-count reduction is asserted in test_ops_tools; the
    oracle here pins content preservation through the rewrite."""
    from bigdata_financial_reporting_spark.operators.compact import (
        compact_parquet,
    )

    c = load_table(spark, sf_dir, "customer")
    path = os.path.join(scratch_dir("bdfr_compact_"), "customer")
    c.repartition(16).write.mode("overwrite").parquet(path)
    compact_parquet(spark, path, target_file_bytes=256 * 1024 * 1024)
    back = spark.read.parquet(path)
    return (
        back.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("c_acctbal"))).alias("bal_c"),
        )
        .select(
            "c_nationkey",
            "n",
            (F.expr(spark_dec2d("bal_c")) / 100.0).alias("acctbal"),
        )
    )


@register(
    "ops_upsert_roundtrip",
    oracle="""
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey BETWEEN 10000 AND 30000
                 THEN o_totalprice * 2 ELSE o_totalprice END, 4) AS price
    FROM orders
    WHERE o_orderkey <= 20000 OR o_orderkey BETWEEN 10000 AND 30000
    """,
    category="ops",
)
def ops_upsert_roundtrip(spark, sf_dir):
    """Keyed MERGE as a verified roundtrip: the target table holds
    orders with key <= 20000; the source batch re-states keys
    10000-30000 with doubled prices. After upsert_parquet (anti-join +
    union, staged swap), matched keys must carry the update, unmatched
    source keys must be inserted, and untouched target rows must
    survive — exactly the CASE expression the oracle evaluates against
    the original table. Read-join-rewrite is the log-less-parquet MERGE
    cost; the operator docstring is the semantic reference for a
    table-format upgrade."""
    from bigdata_financial_reporting_spark.operators.upsert import (
        upsert_parquet,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 4).alias("price")
    )
    path = os.path.join(scratch_dir("bdfr_upsert_"), "orders")
    o.filter(F.col("o_orderkey") <= 20000).write.mode("overwrite").parquet(path)
    source = o.filter(F.col("o_orderkey").between(10000, 30000)).select(
        "o_orderkey", F.round(F.col("price") * 2, 4).alias("price")
    )
    upsert_parquet(spark, path, source, ["o_orderkey"])
    return spark.read.parquet(path).select("o_orderkey", "price")


# SCD2 dimension CTEs in DuckDB — the exact mirror of
# operators/timeseries.scd2_versions (both windows carry the event_id
# tie-break so same-timestamp changes version deterministically).
# Shared with join_point_in_time_scd2 (queries/joins.py).
DUCK_SCD2_DIM = """
    ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    scd2_dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changes
    )
"""


@register(
    "ops_scd2_build",
    oracle="""
    WITH """
    + DUCK_SCD2_DIM
    + """
    SELECT user_id, state AS event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           CASE WHEN valid_to IS NULL THEN NULL
                ELSE strftime(valid_to, '%Y-%m-%d %H:%M:%S') END AS valid_to,
           (valid_to IS NULL) AS is_current
    FROM scd2_dim
    WHERE user_id < 100
    """,
    category="ops",
)
def ops_scd2_build(spark, sf_dir):
    """Slowly-changing-dimension type 2 build from a change stream:
    collapse consecutive equal states per user (gaps-and-islands lag
    compare), then close each version with the next change's
    timestamp — valid_to NULL marks the current row. One user_id
    shuffle shared by both windows; timestamps rendered as strings on
    both engines (registry precision convention). The dimension-build
    half of the CDC story whose merge half is ops_upsert_roundtrip."""
    from bigdata_financial_reporting_spark.operators.timeseries import (
        scd2_versions,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    dim = scd2_versions(ev, "user_id", "event_type", "ts", "event_id")
    return dim.select(
        "user_id",
        F.col("state").alias("event_type"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


def _duck_morton(x: str, y: str) -> str:
    """DuckDB mirror of the Morton/Z-order bit interleave below."""
    terms = []
    for b in range(16):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


@register(
    "ops_zorder_layout",
    oracle=f"""
    WITH k AS (
      SELECT o_orderkey,
             o_custkey & 65535 AS xd,
             date_diff('day', DATE '1992-01-01', o_orderdate) & 65535 AS yd
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, xd, yd,
             {_duck_morton('xd', 'yd')} AS zkey
      FROM k
    )
    SELECT zkey >> 16 AS file_bucket,
           count(*) AS n_rows,
           min(xd) AS min_cust, max(xd) AS max_cust,
           min(yd) AS min_day, max(yd) AS max_day
    FROM z
    GROUP BY zkey >> 16
    """,
    category="ops",
)
def ops_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering layout for two-dimensional data
    skipping: interleave the bits of (custkey, order-day) into one
    sort key, then report per-file-bucket min/max boxes for BOTH
    dimensions. Sorting 100 TB by this key before writing gives every
    file a tight bounding box in each dimension simultaneously, so
    parquet min/max stats prune scans for predicates on EITHER column
    — a linear sort can only serve one. The interleave is a pure
    integer codegen expression (32 shift-and-mask terms, no UDF); the
    bucket report is one hash agg. All-integer output = bit-exact
    oracle."""
    o = load_table(spark, sf_dir, "orders")
    xd = F.col("o_custkey").bitwiseAND(65535)
    yd = F.datediff("o_orderdate", F.lit("1992-01-01")).bitwiseAND(65535)
    k = o.select(
        "o_orderkey", xd.alias("xd"), yd.cast("long").alias("yd")
    )
    z = F.lit(0).cast("long")
    for b in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("xd"), b).bitwiseAND(1).cast("long"), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("yd"), b).bitwiseAND(1).cast("long"), 2 * b + 1)
        )
    zd = k.select("xd", "yd", z.alias("zkey"))
    return (
        zd.groupBy(F.shiftright("zkey", 16).alias("file_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xd").alias("min_cust"),
            F.max("xd").alias("max_cust"),
            F.min("yd").alias("min_day"),
            F.max("yd").alias("max_day"),
        )
    )


@register(
    "ops_incremental_rollup_refresh",
    oracle="""
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
           count(*) AS n_events,
           CAST({vs} AS DOUBLE) / 10000.0 AS sum_value
    FROM events
    GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    """.format(
        vs=duck_half_div("sum(" + duck_units("value") + ")", "100")
    ),
    category="ops",
)
def ops_incremental_rollup_refresh(spark, sf_dir):
    """Incremental materialized-rollup maintenance with DYNAMIC
    partition overwrite: the daily rollup is first materialized
    STALE (late data withheld), then the refresh recomputes ONLY the
    affected day partitions and overwrites exactly those directories
    (partitionOverwriteMode=dynamic leaves every other partition's
    files untouched). At 100 TB this is the difference between
    rewriting a year of rollups and rewriting the two days a late
    batch touched. The oracle is the from-scratch rollup — the
    incrementally-refreshed table must be indistinguishable from a
    full recompute."""
    ev = load_table(spark, sf_dir, "events")
    daily = lambda df: (  # noqa: E731
        df.groupBy(
            "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micro_units(F.col("value"))).alias("s_u"),
        )
        .select(
            "user_id",
            "day",
            "n_events",
            (
                F.expr(spark_half_div("s_u", "100")).cast("double") / 10000.0
            ).alias("sum_value"),
        )
    )
    path = os.path.join(scratch_dir("bdfr_rollup_refresh_"), "events_daily")
    cutoff = "2024-01-28"
    # 1. stale materialization: late rows (>= cutoff) not yet arrived
    daily(ev.filter(F.col("ts") < cutoff)).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)
    # 2. late batch lands; recompute ONLY the affected days and
    #    dynamically overwrite just those partition dirs
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        affected_days = daily(ev.filter(F.col("ts") >= cutoff))
        # a day partition can straddle the cutoff: recompute the full
        # day from source, not just the late slice
        days = [r.day for r in affected_days.select("day").distinct().collect()]
        daily(
            ev.filter(F.date_format("ts", "yyyy-MM-dd").isin(days))
        ).write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(path)
    return back.select(
        "user_id", F.col("day").cast("string").alias("day"),
        "n_events", "sum_value",
    )


# Shared by ops_cdc_apply (batch) and stream_cdc_upsert_sink (the
# availableNow streaming form in streaming_queries.py): both collapse
# the SAME deterministic change log to the same snapshot.
CDC_APPLY_ORACLE = """
    WITH log_ AS (
      SELECT c_custkey AS k, 1 AS version, 'I' AS op,
             c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT c_custkey, 2, 'U', c_acctbal + 100.0
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 3, 'D', NULL
      FROM customer WHERE c_custkey % 17 = 0
      UNION ALL
      SELECT -(c_custkey + 1), 2, 'I', 999.0
      FROM customer WHERE c_custkey % 23 = 0
    ),
    ranked AS (
      SELECT k, version, op, acctbal,
             row_number() OVER (PARTITION BY k
                                ORDER BY version DESC, op) AS rn
      FROM log_
    )
    SELECT k AS custkey, version, round(acctbal, 4) AS acctbal
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """


def cdc_change_log(spark, sf_dir):
    """The deterministic CDC change log both CDC keys replay: derived
    from the customer fixture (10% updated, ~6% deleted, ~4% fresh
    inserts at negative keys) so both engines build the identical
    stream. Returns (version, DataFrame) pairs in commit order."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(1).alias("version"),
        F.lit("I").alias("op"),
        F.col("c_acctbal").alias("acctbal"),
    )
    upd = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        (F.col("c_acctbal") + 100.0).alias("acctbal"),
    )
    dels = c.filter(F.col("c_custkey") % 17 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(3).alias("version"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("acctbal"),
    )
    # negative key range: can NEVER collide with a real custkey at any
    # scale (the +100000 offset collided once customer exceeded 100k
    # rows, making the same key carry two version-2 rows)
    ins = c.filter(F.col("c_custkey") % 23 == 0).select(
        (-(F.col("c_custkey") + 1)).alias("k"),
        F.lit(2).alias("version"),
        F.lit("I").alias("op"),
        F.lit(999.0).alias("acctbal"),
    )
    return [(1, base), (2, upd.unionByName(ins)), (3, dels)]


@register(
    "ops_cdc_apply",
    oracle=CDC_APPLY_ORACLE,
    category="ops",
)
def ops_cdc_apply(spark, sf_dir):
    """CDC log application (last-write-wins materialization): a
    versioned change stream of inserts/updates/deletes collapses to
    the current snapshot by keeping each key's highest-version row
    and dropping keys whose last op is a delete — the core of every
    lakehouse MERGE/CDF consumer. One hash-partitioned window keyed
    on the (high-cardinality) primary key; at 100 TB the log is
    typically also bucketed by key so the window reuses the layout.
    The change log is derived deterministically from the customer
    fixture (``cdc_change_log``: 10%% updated, ~6%% deleted, ~4%% fresh
    inserts) so both engines build the identical stream."""
    from pyspark.sql import Window

    frames = [df for _, df in cdc_change_log(spark, sf_dir)]
    log = frames[0]
    for f in frames[1:]:
        log = log.unionByName(f)
    # op tie-break pins the survivor if a key ever carries two rows of
    # one version (deterministic across engines and runs)
    rn = F.row_number().over(
        Window.partitionBy("k").orderBy(F.desc("version"), "op")
    )
    return (
        log.withColumn("rn", rn)
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("custkey"),
            "version",
            F.round("acctbal", 4).alias("acctbal"),
        )
    )


@register(
    "ops_time_travel_versions",
    oracle="""
    WITH v1 AS (SELECT * FROM customer WHERE c_custkey % 3 <> 0),
    appended AS (SELECT * FROM customer WHERE c_custkey % 3 = 0),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM appended)
    SELECT 1 AS version,
           (SELECT count(*) FROM v1) AS n_rows,
           (SELECT {bal1} / 100.0 FROM v1) AS acctbal_sum
    UNION ALL
    SELECT 2,
           (SELECT count(*) FROM v2),
           (SELECT {bal1} / 100.0 FROM v2)
    """.format(
        bal1=duck_dec2d("sum(" + duck_cents("c_acctbal") + ")")
    ),
    category="ops",
)
def ops_time_travel_versions(spark, sf_dir):
    """Manifest-based time travel on plain parquet
    (operators/manifest.py): v1 commits a subset of customer, v2
    commits a logical append (new immutable files + a manifest
    KEEPING v1's files — zero rewrite). Both versions are then read
    back AS OF their manifests and summarized; v1's numbers must be
    unaffected by the later commit — the snapshot-isolation property
    that makes training runs reproducible ("the corpus as of v7")
    while ingestion continues. The commit point is a single manifest
    rename; data files are never mutated."""
    from bigdata_financial_reporting_spark.operators.manifest import (
        commit_version,
        files_of,
        read_version,
    )

    c = load_table(spark, sf_dir, "customer")
    # fresh table per invocation: versions must be exactly v1, v2
    table_dir = scratch_dir("bdfr_tt_customer_")
    v1 = commit_version(c.filter(F.col("c_custkey") % 3 != 0), table_dir)
    v2 = commit_version(
        c.filter(F.col("c_custkey") % 3 == 0),
        table_dir,
        base_files=files_of(table_dir, v1),
    )

    def summary(version: int):
        df = read_version(spark, table_dir, version)
        return df.agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents(F.col("c_acctbal"))).alias("bal_c"),
        ).select(
            "version",
            "n_rows",
            (F.expr(spark_dec2d("bal_c")) / 100.0).alias("acctbal_sum"),
        )

    return summary(v1).unionByName(summary(v2))


@register(
    "ops_delete_update_cow",
    oracle="""
    WITH v1 AS (SELECT * FROM nation),
    v2 AS (SELECT * FROM v1 WHERE n_nationkey % 3 <> 0),
    v3 AS (
      SELECT n_nationkey,
             CASE WHEN n_regionkey = 2 THEN n_name || '_EU' ELSE n_name END
               AS n_name,
             n_regionkey
      FROM v2
    )
    SELECT 1 AS version, (SELECT count(*) FROM v1) AS n_rows,
           (SELECT count(*) FROM v1 WHERE n_name LIKE '%\\_EU' ESCAPE '\\')
             AS n_updated,
           (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM v1) AS key_sum
    UNION ALL
    SELECT 2, (SELECT count(*) FROM v2),
           (SELECT count(*) FROM v2 WHERE n_name LIKE '%\\_EU' ESCAPE '\\'),
           (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM v2)
    UNION ALL
    SELECT 3, (SELECT count(*) FROM v3),
           (SELECT count(*) FROM v3 WHERE n_name LIKE '%\\_EU' ESCAPE '\\'),
           (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM v3)
    """,
    category="ops",
)
def ops_delete_update_cow(spark, sf_dir):
    """Copy-on-write DELETE and UPDATE on the manifest table — the two
    mutations a plain-parquet lake cannot do in place, expressed as
    Delta/Iceberg do: DELETE commits a rewrite containing only the
    surviving rows (v2), UPDATE commits a rewrite with the transformed
    rows (v3); v1's files and manifest are untouched, so readers
    pinned to any version keep a consistent snapshot and the mutation
    history is queryable. Each version is then read back AS OF its
    manifest and summarized. At scale the rewrite would target only
    the files containing hit rows (base_files keeps the rest) — the
    engine-side mechanics are identical."""
    from bigdata_financial_reporting_spark.operators.manifest import (
        commit_version,
        read_version,
    )

    n = load_table(spark, sf_dir, "nation")
    table_dir = scratch_dir("bdfr_cow_nation_")
    commit_version(n, table_dir)
    # DELETE ... WHERE n_nationkey % 3 = 0  (copy-on-write rewrite)
    deleted = read_version(spark, table_dir, 1).filter(
        F.col("n_nationkey") % 3 != 0
    )
    commit_version(deleted, table_dir)
    # UPDATE ... SET n_name = n_name || '_EU' WHERE n_regionkey = 2
    updated = read_version(spark, table_dir, 2).withColumn(
        "n_name",
        F.when(
            F.col("n_regionkey") == 2, F.concat(F.col("n_name"), F.lit("_EU"))
        ).otherwise(F.col("n_name")),
    )
    commit_version(updated, table_dir)

    def summary(version: int):
        df = read_version(spark, table_dir, version)
        return df.agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("n_name").endswith("_EU"), 1)).alias(
                "n_updated"
            ),
            F.sum("n_nationkey").alias("key_sum"),
        ).select("version", "n_rows", "n_updated", "key_sum")

    return summary(1).unionAll(summary(2)).unionAll(summary(3))


@register(
    "ops_partition_skew_report",
    oracle="""
    WITH p AS (
      SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             count(DISTINCT l_orderkey) AS n_orders,
             CAST(round(sum(l_quantity), 0) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT max(n_rows) AS mx, sum(n_rows) AS s, count(*) AS k FROM p)
    SELECT p.l_returnflag, p.l_linestatus, p.n_rows, p.n_orders, p.qty,
           round(CAST(t.mx AS DOUBLE) * t.k / t.s, 6) AS skew_factor
    FROM p, tot t
    """,
    category="ops",
)
def ops_partition_skew_report(spark, sf_dir):
    """Partition-skew diagnostic over the table's natural partition
    key (returnflag x linestatus): per-partition row/order/quantity
    profile plus the global skew factor max/avg — the number that
    predicts straggler tasks before a backfill is launched. The
    profile is one map-side-combined aggregate; the skew factor joins
    a broadcast 1-row total. At 100 TB this is the report that decides
    whether a partition column needs salting before it burns a
    cluster-day."""
    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 0).cast("long").alias("qty"),
    )
    tot = p.agg(
        F.max("n_rows").alias("mx"),
        F.sum("n_rows").alias("s"),
        F.count(F.lit(1)).alias("k"),
    )
    return p.join(F.broadcast(tot)).select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "n_orders",
        "qty",
        F.round(
            F.col("mx").cast("double") * F.col("k") / F.col("s"), 6
        ).alias("skew_factor"),
    )


@register(
    "ops_snapshot_expiry",
    oracle="""
    WITH v1 AS (SELECT * FROM nation WHERE n_nationkey < 10),
    v2 AS (SELECT * FROM nation WHERE n_nationkey < 20),
    v3 AS (SELECT * FROM nation)
    SELECT 1 AS version, TRUE AS expired,
           CAST(NULL AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, FALSE, (SELECT count(*) FROM v2)
    UNION ALL
    SELECT 3, FALSE, (SELECT count(*) FROM v3)
    """,
    category="ops",
)
def ops_snapshot_expiry(spark, sf_dir):
    """Snapshot expiry (retention) on the manifest table: keep the
    newest N versions, expire the rest — Iceberg's expire_snapshots /
    Delta's VACUUM boundary, reduced to its manifest essence. Expiry
    deletes only MANIFESTS (the version pointer); data files shared
    with surviving versions stay because younger manifests still list
    them (v2 here keeps v1's files alive through the logical append
    chain). The report reads back every surviving version and marks
    expired ones with a NULL row count — pinned readers of an expired
    version fail loudly instead of silently seeing other data."""
    from bigdata_financial_reporting_spark.operators.manifest import (
        _manifest_path,
        commit_version,
        files_of,
        latest_version,
        read_version,
    )

    n = load_table(spark, sf_dir, "nation")
    table_dir = scratch_dir("bdfr_expiry_nation_")
    v1 = commit_version(n.filter(F.col("n_nationkey") < 10), table_dir)
    v2 = commit_version(
        n.filter((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        table_dir,
        base_files=files_of(table_dir, v1),
    )
    commit_version(
        n.filter(F.col("n_nationkey") >= 20),
        table_dir,
        base_files=files_of(table_dir, v2),
    )
    # retention: keep the newest 2 versions, expire older manifests
    keep = 2
    latest = latest_version(table_dir)
    for v in range(1, latest - keep + 1):
        os.remove(_manifest_path(table_dir, v))

    rows = []
    for v in range(1, latest + 1):
        if os.path.exists(_manifest_path(table_dir, v)):
            cnt = read_version(spark, table_dir, v).count()
            rows.append((v, False, cnt))
        else:
            rows.append((v, True, None))
    return spark.createDataFrame(
        rows, "version int, expired boolean, n_rows long"
    )


@register(
    "ops_compaction_bins",
    oracle="""
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             count(*) AS n_rows
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT month, n_rows,
             sum(n_rows) OVER (ORDER BY month
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM m
    )
    SELECT month, CAST(n_rows AS BIGINT) AS n_rows,
           CAST((run - n_rows) // 2000 AS BIGINT) AS bin_id
    FROM r
    """,
    category="ops",
)
def ops_compaction_bins(spark, sf_dir):
    """Small-file compaction PLANNING: pack the per-month partitions
    of orders into sequential target-size bins (~2000 rows each) —
    the plan a compaction job executes with one write per bin. The
    classic contiguous bin-packing identity: a partition's bin is
    floor(rows_before_it / target), from one running sum over the
    (tiny) per-partition stats — computed with the split-point-bucketed
    ``global_running_sum``, so even a million-partition table plans
    without a single-task sort. Pure integer arithmetic."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_running_sum,
    )

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    r = global_running_sum(m, ["month"], ["n_rows"])
    return r.select(
        "month",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.expr("(run_n_rows - n_rows) div 2000").cast("long").alias("bin_id"),
    )


@register(
    "ops_vacuum_orphan_files",
    oracle="""
    SELECT 0 AS version, FALSE AS live, TRUE AS disk_clean,
           (SELECT count(*) FROM nation WHERE n_nationkey >= 20)
             AS n_rows
    UNION ALL
    SELECT 1, TRUE, TRUE,
           (SELECT count(*) FROM nation WHERE n_nationkey < 10)
    UNION ALL
    SELECT 2, TRUE, TRUE,
           (SELECT count(*) FROM nation WHERE n_nationkey < 20)
    """,
    category="ops",
)
def ops_vacuum_orphan_files(spark, sf_dir):
    """Orphan-file VACUUM on the manifest table (Delta VACUUM /
    Iceberg remove_orphan_files): reap data files no surviving
    manifest references — here the staging parquet of an ABORTED
    commit (crashed writer: files on disk, no manifest) — and prove
    the reap touched NOTHING live. Report: version 0 = the orphan
    row (n_rows it held before reclamation, counted from the orphan
    files themselves pre-delete); versions 1-2 = the surviving
    snapshots COUNTED AFTER THE DELETE, so a vacuum that over-reaps
    breaks the count (or the read) loudly. ``disk_clean`` asserts the
    post-vacuum disk state is exactly the union of the manifests'
    file lists — no orphan survived, no live file vanished. At 100 TB
    both the reference set (manifest union) and the listing are
    metadata-scale, never data-scale; production adds the retention
    window documented on :func:`vacuum_orphans`."""
    import uuid as _uuid

    from bigdata_financial_reporting_spark.operators.manifest import (
        commit_version,
        files_of,
        latest_version,
        vacuum_orphans,
    )

    n = load_table(spark, sf_dir, "nation")
    table_dir = scratch_dir("bdfr_vacuum_nation_")
    v1 = commit_version(n.filter(F.col("n_nationkey") < 10), table_dir)
    v2 = commit_version(
        n.filter((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        table_dir,
        base_files=files_of(table_dir, v1),
    )
    # the aborted commit: staging parquet with NO manifest (a writer
    # that died between its data write and its manifest publish)
    aborted = os.path.join(table_dir, f"commit-{_uuid.uuid4().hex[:12]}")
    n.filter(F.col("n_nationkey") >= 20).write.mode("overwrite").parquet(
        aborted
    )
    orphan_rows = spark.read.parquet(aborted).count()

    deleted = vacuum_orphans(table_dir)
    if not deleted:
        raise RuntimeError("vacuum found no orphans in the staged abort")

    # post-vacuum witnesses: disk == union of manifests, snapshots intact
    referenced = set()
    for v in range(1, latest_version(table_dir) + 1):
        referenced.update(files_of(table_dir, v))
    present = set()
    for entry in os.listdir(table_dir):
        staging = os.path.join(table_dir, entry)
        if entry.startswith("commit-") and os.path.isdir(staging):
            present.update(
                os.path.join(staging, f)
                for f in os.listdir(staging)
                if f.endswith(".parquet")
            )
    disk_clean = present == referenced
    rows = [(0, False, disk_clean, orphan_rows)]
    for v in (v1, v2):
        cnt = spark.read.parquet(*files_of(table_dir, v)).count()
        rows.append((v, True, disk_clean, cnt))
    return spark.createDataFrame(
        rows, "version int, live boolean, disk_clean boolean, n_rows long"
    )


@register(
    "ops_clone_shallow",
    oracle="""
    SELECT 'src' AS side, 1 AS version,
           (SELECT count(*) FROM nation WHERE n_nationkey < 10) AS n_rows,
           TRUE AS zero_copy
    UNION ALL
    SELECT 'src', 2,
           (SELECT count(*) FROM nation WHERE n_nationkey < 20), TRUE
    UNION ALL
    SELECT 'src', 3, (SELECT count(*) FROM nation), TRUE
    UNION ALL
    SELECT 'clone', 1,
           (SELECT count(*) FROM nation WHERE n_nationkey < 20), TRUE
    """,
    category="ops",
)
def ops_clone_shallow(spark, sf_dir):
    """Zero-copy shallow clone on the manifest table (Delta SHALLOW
    CLONE): fork the source at v2 into a new table via
    :func:`operators.manifest.clone_table`, then commit v3 to the
    SOURCE and prove isolation — the clone still reads exactly the v2
    content (counted AFTER the source moved on). ``zero_copy`` is the
    witness that no data moved: the clone directory holds no parquet
    of its own AND its manifest references exactly the source's v2
    file set. At 100 TB the clone is O(manifest) — the fork-a-corpus
    primitive for experiments; completes the manifest family
    (commit / time travel / expiry / vacuum / clone)."""
    from bigdata_financial_reporting_spark.operators.manifest import (
        clone_table,
        commit_version,
        files_of,
    )

    n = load_table(spark, sf_dir, "nation")
    root = scratch_dir("bdfr_clone_nation_")
    src = os.path.join(root, "src")
    dst = os.path.join(root, "dst")
    v1 = commit_version(n.filter(F.col("n_nationkey") < 10), src)
    v2 = commit_version(
        n.filter((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        src,
        base_files=files_of(src, v1),
    )
    cloned = clone_table(src, dst, version=v2)
    # source moves on AFTER the clone — the clone must not see v3
    v3 = commit_version(
        n.filter(F.col("n_nationkey") >= 20),
        src,
        base_files=files_of(src, v2),
    )
    clone_files = files_of(dst, 1)
    has_own_parquet = any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(dst)
        for f in fs
    )
    zero_copy = (
        not has_own_parquet
        and set(clone_files) == set(files_of(src, v2))
        and set(cloned) == set(clone_files)
    )
    rows = []
    for v in (v1, v2, v3):
        cnt = spark.read.parquet(*files_of(src, v)).count()
        rows.append(("src", v, cnt, zero_copy))
    rows.append(("clone", 1, spark.read.parquet(*clone_files).count(),
                 zero_copy))
    return spark.createDataFrame(
        rows, "side string, version int, n_rows long, zero_copy boolean"
    )
