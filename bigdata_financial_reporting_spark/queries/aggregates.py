"""Aggregation queries (SURVEY.md §2B.4).

Cross-engine gotchas handled here:
- Spark ``skewness``/``kurtosis`` are population moments (g1, g2);
  DuckDB's are sample-adjusted — the oracle computes Spark's formula
  from raw moments explicitly.
- ``min_by``/``max_by`` are ordered on a UNIQUE key so the arg-extremum
  is well-defined in both engines.
- double sums are rounded to 4-6 decimals; at sf0.01 the accumulated
  float noise is well below that.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.functions.exact import (
    cents,
    duck_cents,
    duck_dec2d,
    duck_half_div,
    spark_dec2d,
    spark_half_div,
)
from bigdata_financial_reporting_spark.queries.registry import register
from bigdata_financial_reporting_spark.sources.catalog import load_table


def _rev_u(prefix: str = "") -> Column:
    """Exact TPC-H revenue summand in 1e-4 dollar units:
    cents(l_extendedprice) * (100 - discount_pct) — both factors exact
    integers, so the decimal(38,0) sum is order-independent (the q1
    discipline applied to every revenue aggregate; SCALING.md
    raw-double-sum watch list, retired round 10). Render the sum with
    ``spark_dec2d(...) / 10000.0``."""
    return cents(F.col(prefix + "l_extendedprice")) * (
        100 - F.round(F.col(prefix + "l_discount") * 100).cast("long")
    )


def _duck_rev_u(prefix: str = "") -> str:
    """DuckDB mirror of :func:`_rev_u`."""
    return (
        duck_cents(prefix + "l_extendedprice")
        + f" * (100 - CAST(round({prefix}l_discount * 100) AS BIGINT))"
    )


@register(
    "agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           count(l_quantity) AS n_qty,
           round(sum(l_quantity), 4) AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(min(l_extendedprice), 4) AS min_price,
           round(max(l_extendedprice), 4) AS max_price
    FROM lineitem
    """,
    category="aggregates",
)
def agg_global(spark, sf_dir):
    """Global aggregate, no keys (reference R12 generalization)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
    )


@register(
    "tpch_q1",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity) AS BIGINT) AS qty_i,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_p,
             CAST(round(l_tax * 100) AS BIGINT) AS tax_p
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    ),
    s AS (
      SELECT l_returnflag, l_linestatus,
             sum(qty_i) AS sq, sum(price_c) AS sp, sum(disc_p) AS sd,
             sum(price_c * (100 - disc_p)) AS sdp,
             sum(price_c * (100 - disc_p) * (100 + tax_p)) AS sc,
             count(*) AS cnt
      FROM c
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sq AS DOUBLE) AS sum_qty,
           {sp} / 100.0 AS sum_base_price,
           {sdp} / 10000.0 AS sum_disc_price,
           {sc} / 1000000.0 AS sum_charge,
           CAST(sq AS DOUBLE) / cnt AS avg_qty,
           ({sp} / 100.0) / cnt AS avg_price,
           (CAST(sd AS DOUBLE) / 100.0) / cnt AS avg_disc,
           cnt AS count_order
    FROM s
    """.format(
        sp=duck_dec2d("sp"), sdp=duck_dec2d("sdp"), sc=duck_dec2d("sc")
    ),
    category="aggregates",
)
def tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary — the classic partial+final hash agg;
    map-side combine means the shuffle carries 6 groups, not 600k rows.

    Money columns are exact 2-decimal values stored as doubles, so all
    sums run in EXACT integer cents (decimal(38,0) merge — the fixture's
    doubles are within 1e-9 of integral cents, and a float sum's
    partition-merge order would otherwise leak into the 4th decimal at
    the 10x corpus: ~9e-3 accumulated ulp error on a 4.5e10 group sum).
    Rendering is one fixed integer->double conversion per column,
    bit-identical across engines; no final round() is needed at all."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_i = F.round(F.col("l_quantity")).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_p = F.round(F.col("l_discount") * 100).cast("long")
    tax_p = F.round(F.col("l_tax") * 100).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")
    # the charge/disc-price cent sums exceed 2^53 at the 10x corpus
    # (1.1e11 max per row), so their double renderings go through the
    # MIRRORED two-limb conversion (spark_dec2d/duck_dec2d) — a plain
    # CAST is correctly rounded in Spark but double-rounded in DuckDB
    s = (
        li.filter(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(qty_i)).alias("sq"),
            F.sum(dec(price_c)).alias("sp"),
            F.sum(dec(disc_p)).alias("sd"),
            F.sum(dec(price_c * (100 - disc_p))).alias("sdp"),
            F.sum(dec(price_c * (100 - disc_p) * (100 + tax_p))).alias("sc"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    spd = F.expr(spark_dec2d("sp"))
    sdpd = F.expr(spark_dec2d("sdp"))
    scd = F.expr(spark_dec2d("sc"))
    return s.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sq").cast("double").alias("sum_qty"),
        (spd / 100.0).alias("sum_base_price"),
        (sdpd / 10000.0).alias("sum_disc_price"),
        (scd / 1000000.0).alias("sum_charge"),
        (F.col("sq").cast("double") / F.col("cnt")).alias("avg_qty"),
        ((spd / 100.0) / F.col("cnt")).alias("avg_price"),
        ((F.col("sd").cast("double") / 100.0) / F.col("cnt")).alias("avg_disc"),
        F.col("cnt").alias("count_order"),
    )


@register(
    "agg_histogram",
    oracle="""
    WITH stats AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      FROM lineitem
    )
    SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 10)), 9) AS INT)
             AS bucket,
           count(*) AS n,
           round(min(l_extendedprice), 4) AS bucket_min,
           round(max(l_extendedprice), 4) AS bucket_max
    FROM lineitem CROSS JOIN stats
    GROUP BY 1
    """,
    category="aggregates",
)
def agg_histogram(spark, sf_dir):
    """Equi-width histogram (10 buckets over [min, max]): one stats
    pass, then a broadcast of the 1-row bounds and a bucket groupBy —
    two scans, one tiny broadcast, no shuffle of raw values. Bucket
    edges are pure IEEE double arithmetic, identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    bucket = F.least(
        F.floor(
            (F.col("l_extendedprice") - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / 10)
        ),
        F.lit(9),
    ).cast("int")
    return (
        li.crossJoin(F.broadcast(stats))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 4).alias("bucket_min"),
            F.round(F.max("l_extendedprice"), 4).alias("bucket_max"),
        )
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT s_suppkey, metric, round(val, 6) AS val
    FROM (
      SELECT s_suppkey,
             CAST(s_acctbal AS DOUBLE) AS acctbal,
             CAST(s_nationkey AS DOUBLE) AS nationkey
      FROM supplier
    )
    UNPIVOT (val FOR metric IN (acctbal, nationkey))
    """,
    category="aggregates",
)
def agg_unpivot(spark, sf_dir):
    """unpivot/melt — wide-to-long reshape, the inverse of pivot."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("acctbal"),
        F.col("s_nationkey").cast("double").alias("nationkey"),
    )
    return s.unpivot(
        ids=["s_suppkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="v",
    ).select("s_suppkey", "metric", F.round("v", 6).alias("val"))


@register(
    "tpch_q3_shape",
    oracle=f"""
    SELECT l_orderkey,
           {duck_dec2d("sum(" + _duck_rev_u() + ")")} / 10000.0 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    category="aggregates",
)
def tpch_q3_shape(spark, sf_dir):
    """TPC-H Q3 shape (shipping-priority): selective dim filter,
    3-way join, revenue agg, top-10. o_orderpriority stands in for the
    fixture's missing o_shippriority. The customer slice broadcasts;
    order/lineitem join shuffles on the order key. Revenue sums in
    exact 1e-4-dollar integer units (_rev_u — the q1 discipline), so
    the per-order groups and the revenue-ordered top-10 cannot drift
    with merge order at any scale."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev_u()).alias("rev_u"))
        .select(
            "l_orderkey",
            (F.expr(spark_dec2d("rev_u")) / 10000.0).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_shape",
    oracle=f"""
    SELECT n_name,
           {duck_dec2d("sum(" + _duck_rev_u() + ")")} / 10000.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    category="aggregates",
)
def tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): 6-table join with the
    local-supplier constraint (customer and supplier share a nation).
    region/nation broadcast; supplier broadcasts after the region
    filter; the fact-side joins shuffle on their keys."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    asia_nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    sup = s.join(F.broadcast(asia_nations), s.s_nationkey == F.col("n_nationkey")).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (c.c_nationkey == sup.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev_u()).alias("rev_u"))
        .select(
            "n_name", (F.expr(spark_dec2d("rev_u")) / 10000.0).alias("revenue")
        )
    )


@register(
    "agg_count_distinct",
    oracle=f"""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT o_orderpriority) AS n_prio,
           {duck_dec2d("sum(DISTINCT " + duck_cents("o_totalprice") + ")")}
             / 100.0 AS sum_distinct_price
    FROM orders GROUP BY o_orderstatus
    """,
    category="aggregates",
)
def agg_count_distinct(spark, sf_dir):
    """DISTINCT over exact cents (2dp doubles map 1:1 to cents ints,
    so the distinct SET is unchanged) and the sum merges exactly."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        (
            F.expr(spark_dec2d("sum(DISTINCT " + "cast(cast(round(o_totalprice * 100) as long) as decimal(38,0))" + ")"))
            / 100.0
        ).alias("sum_distinct_price"),
    )


@register(
    "agg_stats",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             avg(l_extendedprice) AS mu,
             avg(l_extendedprice * l_extendedprice) AS m2r,
             avg(l_extendedprice * l_extendedprice * l_extendedprice) AS m3r,
             avg(l_extendedprice * l_extendedprice * l_extendedprice * l_extendedprice) AS m4r,
             stddev_samp(l_extendedprice) AS sd_s,
             stddev_pop(l_extendedprice) AS sd_p,
             var_samp(l_extendedprice) AS var_s
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round(sd_s, 4) AS stddev_s,
           round(sd_p, 4) AS stddev_p,
           round(var_s, 2) AS variance_s,
           -- Spark skewness/kurtosis = population moments
           round((m3r - 3*mu*m2r + 2*mu*mu*mu) / pow(m2r - mu*mu, 1.5), 6) AS skew,
           round((m4r - 4*mu*m3r + 6*mu*mu*m2r - 3*mu*mu*mu*mu) / pow(m2r - mu*mu, 2) - 3, 6) AS kurt
    FROM m
    """,
    category="aggregates",
)
def agg_stats(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("stddev_s"),
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("stddev_p"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("variance_s"),
        F.round(F.skewness("l_extendedprice"), 6).alias("skew"),
        F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt"),
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p
    FROM lineitem
    """,
    category="aggregates",
)
def agg_corr_covar(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_s"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_p"),
    )


@register(
    "agg_median_percentile",
    oracle="""
    SELECT l_linestatus,
           round(median(l_extendedprice), 6) AS med_price,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.90), 6) AS p90
    FROM lineitem GROUP BY l_linestatus
    """,
    category="aggregates",
)
def agg_median_percentile(spark, sf_dir):
    """Exact median/percentiles (both engines: continuous
    interpolation). Exact percentile requires a full sort per group —
    see agg_approx_quantiles for the 100 TB path."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.median("l_extendedprice"), 6).alias("med_price"),
        F.round(F.percentile("l_extendedprice", 0.25), 6).alias("p25"),
        F.round(F.percentile("l_extendedprice", 0.90), 6).alias("p90"),
    )


@register(
    "agg_approx_quantiles",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS med_exact,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_exact,
           TRUE AS approx_med_in_band,
           TRUE AS approx_p90_in_band
    FROM lineitem GROUP BY l_linestatus
    """,
    category="aggregates",
)
def agg_approx_quantiles(spark, sf_dir):
    """approx_percentile (GK sketch) — mergeable, one pass, bounded
    memory: the percentile that scales. Spark's sketch has no DuckDB
    twin, so the driver-facing output is a TOLERANCE WITNESS: the
    exact percentiles (cross-engine comparable) plus in-band booleans
    asserting the sketch landed within 2% of exact — the oracle
    expects exact + TRUE, so a drifting sketch fails the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    med_e = F.percentile("l_extendedprice", F.lit(0.5))
    p90_e = F.percentile("l_extendedprice", F.lit(0.9))
    med_a = F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000))
    p90_a = F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000))
    return li.groupBy("l_linestatus").agg(
        F.round(med_e, 6).alias("med_exact"),
        F.round(p90_e, 6).alias("p90_exact"),
        (F.abs(med_a - med_e) / med_e <= 0.02).alias("approx_med_in_band"),
        (F.abs(p90_a - p90_e) / p90_e <= 0.02).alias("approx_p90_in_band"),
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust_exact,
           TRUE AS approx_in_band
    FROM orders GROUP BY o_orderstatus
    """,
    category="aggregates",
)
def agg_approx_count_distinct(spark, sf_dir):
    """HyperLogLog++ distinct — constant memory per group vs the exact
    count's shuffle of every key. Tolerance-witness output (cf.
    agg_approx_quantiles): exact distinct count + a boolean pinning the
    HLL estimate within 5% (2.5 sigma at rsd=0.02; deterministic for a
    fixed fixture, so the witness is stable)."""
    o = load_table(spark, sf_dir, "orders")
    exact = F.count_distinct("o_custkey")
    approx = F.approx_count_distinct("o_custkey", 0.02)
    return o.groupBy("o_orderstatus").agg(
        exact.cast("long").alias("n_cust_exact"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            / exact.cast("double")
            <= 0.05
        ).alias("approx_in_band"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           string_agg(DISTINCT CAST(n_nationkey % 5 AS VARCHAR), ',' ORDER BY CAST(n_nationkey % 5 AS VARCHAR)) AS key_mods
    FROM nation GROUP BY n_regionkey
    """,
    category="aggregates",
)
def agg_collect_sorted(spark, sf_dir):
    """collect_list/collect_set pinned by sort_array then serialized to
    a string — order-pinned so both engines hash identically."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
        F.concat_ws(
            ",",
            F.sort_array(F.collect_set((F.col("n_nationkey") % 5).cast("string"))),
        ).alias("key_mods"),
    )


@register(
    "agg_min_by_max_by",
    oracle="""
    SELECT o_orderstatus,
           arg_min(o_orderkey, o_orderkey) AS first_key,
           arg_max(o_orderkey, o_orderkey) AS last_key,
           arg_max(o_orderpriority, o_orderkey) AS prio_of_last
    FROM orders GROUP BY o_orderstatus
    """,
    category="aggregates",
)
def agg_min_by_max_by(spark, sf_dir):
    """first/last/any_value made deterministic via min_by/max_by on the
    unique order key."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", "o_orderkey").alias("first_key"),
        F.max_by("o_orderkey", "o_orderkey").alias("last_key"),
        F.max_by("o_orderpriority", "o_orderkey").alias("prio_of_last"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 4) AS qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    category="aggregates",
)
def agg_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    category="aggregates",
)
def agg_cube(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS rev
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    category="aggregates",
)
def agg_grouping_sets(spark, sf_dir):
    """SQL-path grouping sets (no DataFrame equivalent — this is the
    spark.sql surface working over registered views).

    Revenue sums run in EXACT integer cents (decimal(38,0) — the
    grouping-sets grand-total row sums the whole table, where a raw
    double sum's partition-merge order drifts past the 4th decimal at
    the 10x corpus; round-6 at-scale red). One fixed int->double
    conversion renders the result, bit-identical across engines."""
    from bigdata_financial_reporting_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                             AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS rev
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS F,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
    category="aggregates",
)
def agg_pivot(spark, sf_dir):
    """Pivot with an explicit value list — at scale always pass the
    values (otherwise Spark runs a blocking distinct job first)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 4))
    )


@register(
    "tpch_q4_shape",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
    category="aggregates",
)
def tpch_q4_shape(spark, sf_dir):
    """TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join (the
    fixture lacks commit/receipt dates, so the inner predicate is
    'has a returned line'): order counts by priority for a half-year
    window. The semi join shuffles only the order keys of matching
    lineitems; the date filter prunes orders at the scan.
    Ref parity: controller/script.py:22-100 has no multi-table
    analytics — this extends the engine beyond R1-R23."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q7_shape",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {duck_dec2d("sum(" + _duck_rev_u("l.") + ")")} / 10000.0 AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE (ns.n_nationkey = 0 AND nc.n_nationkey = 1)
       OR (ns.n_nationkey = 1 AND nc.n_nationkey = 0)
    GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
    """,
    category="aggregates",
)
def tpch_q7_shape(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between a nation pair, by
    year): the 6-table join chain where dimension placement decides
    the plan — supplier/customer/nation broadcast, so the only big
    shuffle is lineitem-orders; the nation-pair disjunction prunes at
    the dim scan before any fact row moves."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("s_nk") == 0) & (F.col("c_nk") == 1))
            | ((F.col("s_nk") == 1) & (F.col("c_nk") == 0))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(_rev_u()).alias("rev_u"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            (F.expr(spark_dec2d("rev_u")) / 10000.0).alias("volume"),
        )
    )


@register(
    "agg_equidepth_histogram",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(l_extendedprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
      FROM lineitem
    )
    SELECT len(list_filter(b.bs, x -> l.l_extendedprice >= x)) AS bucket,
           count(*) AS n,
           round(min(l.l_extendedprice), 4) AS lo,
           round(max(l.l_extendedprice), 4) AS hi
    FROM lineitem l CROSS JOIN bounds b
    GROUP BY 1
    """,
    category="aggregates",
)
def agg_equidepth_histogram(spark, sf_dir):
    """Equi-DEPTH histogram (decile buckets): exact decile boundaries
    in one percentile pass (interpolation arithmetic is IEEE-identical
    across engines), broadcast as a 9-element array, bucket = count of
    boundaries <= value — two scans, no global sort, no single-
    partition window (the ntile() formulation would funnel the table
    through one task; this form scales). Complements agg_histogram
    (equi-width)."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.percentile(
            "l_extendedprice", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("bs")
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            "l_extendedprice",
            F.size(
                F.filter("bs", lambda x: F.col("l_extendedprice") >= x)
            ).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 4).alias("lo"),
            F.round(F.max("l_extendedprice"), 4).alias("hi"),
        )
    )


@register(
    "tpch_q17_shape",
    oracle=f"""
    SELECT {duck_dec2d("sum(" + duck_cents("l.l_extendedprice") + ")")}
             / 100.0 / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
    category="aggregates",
)
def tpch_q17_shape(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    scalar subquery — the per-part average quantity — decorrelated
    Spark-first into a pre-aggregation joined back to the fact. The
    per-part threshold frame is #parts-sized, so it broadcasts; the
    lineitem side never shuffles. This is exactly the rewrite Catalyst
    performs for correlated scalar subqueries, expressed explicitly so
    the plan is pinned rather than planner-dependent."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    )
    thresholds = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("sc"))
        .select(
            (F.expr(spark_dec2d("sc")) / 100.0 / 7.0).alias("avg_yearly")
        )
    )


@register(
    "tpch_q2_shape",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS cost
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, min(cost) AS mc FROM ps GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_brand, s.s_name,
           round(ps.cost, 6) AS min_cost
    FROM ps
    JOIN best b ON ps.l_partkey = b.l_partkey AND ps.cost = b.mc
    JOIN part p ON p.p_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE p.p_size >= 40
    """,
    category="aggregates",
)
def tpch_q2_shape(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the correlated
    min-subquery against partsupp, emulated on lineitem (per-(part,
    supplier) minimum unit price stands in for ps_supplycost). The
    min-per-part is a window over the already-aggregated ps frame —
    ranking #part×supp rows, not lineitem — and ties (two suppliers at
    the same min cost) are KEPT, matching the SQL join-on-equality
    semantics. Unit prices divide identically under IEEE-754 in both
    engines, so the float equality against the min is exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    w = Window.partitionBy("l_partkey")
    best = ps.withColumn("mc", F.min("cost").over(w)).filter(
        F.col("cost") == F.col("mc")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    s = load_table(spark, sf_dir, "supplier")
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey", "p_brand", "s_name",
            F.round("cost", 6).alias("min_cost"),
        )
    )


@register(
    "agg_filtered_conditional",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           {rev} / 100.0 AS rev_discounted,
           round(avg(CASE WHEN l_tax > 0.04 THEN l_extendedprice END), 6)
             AS avg_price_taxed,
           count(*) AS n_all
    FROM lineitem
    GROUP BY l_returnflag
    """.format(
        rev=duck_dec2d(
            "sum(" + duck_cents("l_extendedprice") + ")"
            " FILTER (WHERE l_discount > 0.05)"
        )
    ),
    category="aggregates",
)
def agg_filtered_conditional(spark, sf_dir):
    """Conditional aggregation (SQL FILTER clause): count_if and
    when()-guarded sum/avg compile to the same partial-aggregate
    tree as their unconditional forms — one map-side-combined shuffle,
    the predicate evaluated before any row moves."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
            F.sum(
                F.when(
                    F.col("l_discount") > 0.05, cents(F.col("l_extendedprice"))
                )
            ).alias("rev_c"),
            F.round(
                F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 6
            ).alias("avg_price_taxed"),
            F.count(F.lit(1)).alias("n_all"),
        )
        .select(
            "l_returnflag",
            "n_bulk",
            (F.expr(spark_dec2d("rev_c")) / 100.0).alias("rev_discounted"),
            "avg_price_taxed",
            "n_all",
        )
    )


@register(
    "agg_bool_bitwise",
    oracle="""
    SELECT user_id,
           bit_and(event_id) AS band,
           bit_or(event_id) AS bor,
           bit_xor(event_id) AS bxor,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(event_type = 'purchase') AS any_purchase
    FROM events
    GROUP BY user_id
    """,
    category="aggregates",
)
def agg_bool_bitwise(spark, sf_dir):
    """Bitwise and boolean aggregate family (bit_and/or/xor,
    bool_and/bool_or) — the flag-merging aggregates a permissions or
    feature-mask rollup uses. All are commutative/associative, so the
    partial-aggregate shuffle carries one word per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.bit_and("event_id").alias("band"),
        F.bit_or("event_id").alias("bor"),
        F.bit_xor("event_id").alias("bxor"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("event_type") == "purchase").alias("any_purchase"),
    )


@register(
    "agg_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn
      FROM c
    )
    SELECT user_id, event_type AS mode_type, n AS mode_n
    FROM r WHERE rn = 1
    """,
    category="aggregates",
)
def agg_mode_per_group(spark, sf_dir):
    """Mode (most frequent value) per group with a deterministic
    lexicographic tie-break. Counting first collapses the input to
    #(group, value) rows, so the ranking window runs over the small
    aggregated frame — never over raw events — and reuses the count's
    group partitioning."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"),
                F.col("n").alias("mode_n"))
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH o AS (
      SELECT l_returnflag, l_quantity, l_extendedprice,
             sum(l_extendedprice) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_quantity, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cw,
             sum(l_extendedprice) OVER (PARTITION BY l_returnflag) AS tot
      FROM lineitem
    )
    SELECT l_returnflag,
           round(min(CASE WHEN cw >= tot / 2 THEN l_quantity END), 6)
             AS weighted_median_qty,
           round(min(tot), 4) AS total_weight
    FROM o GROUP BY l_returnflag
    """,
    category="aggregates",
)
def agg_weighted_median(spark, sf_dir):
    """Weighted median (price-weighted quantity) per group: the first
    value whose cumulative weight crosses half the total. The
    cumulative fold is order-pinned by (quantity, orderkey,
    linenumber) so both engines sum the identical sequence — without
    the tie-break the crossing row would be summation-order-dependent
    at the ulp. One ordered window + one keyed agg on the same key."""
    li = load_table(spark, sf_dir, "lineitem")
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    o = li.select(
        "l_returnflag",
        "l_quantity",
        F.sum("l_extendedprice").over(wc).alias("cw"),
        F.sum("l_extendedprice").over(wt).alias("tot"),
    )
    return o.groupBy("l_returnflag").agg(
        F.round(
            F.min(F.when(F.col("cw") >= F.col("tot") / 2, F.col("l_quantity"))),
            6,
        ).alias("weighted_median_qty"),
        F.round(F.min("tot"), 4).alias("total_weight"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT user_id,
           count(DISTINCT event_id) AS n_distinct_bitmap,
           count(DISTINCT event_id) AS n_distinct_exact
    FROM events
    GROUP BY user_id
    """,
    category="aggregates",
)
def agg_bitmap_distinct(spark, sf_dir):
    """Bitmap-based EXACT distinct counting (Spark 4 bitmap aggregate
    family): keys bucket into 32k-bit bitmaps (bitmap_bucket_number /
    bitmap_bit_position), each bucket ORs its bits map-side
    (bitmap_construct_agg), and the distinct count is the sum of
    bitmap popcounts. Unlike approx_count_distinct this is exact, and
    unlike count(DISTINCT) the shuffle carries fixed-size bitmaps
    instead of every distinct key — the standard high-cardinality
    pattern. Both the bitmap path and the naive exact path are
    emitted; the oracle pins them equal."""
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "user_id", F.bitmap_bucket_number("event_id").alias("bk")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("event_id")).alias("bm"),
        F.count_distinct("event_id").alias("nd"),
    )
    return buckets.groupBy("user_id").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct_bitmap"),
        F.sum("nd").alias("n_distinct_exact"),
    )


@register(
    "agg_hll_sketch_mergeable",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS within_5pct,
           (SELECT count(DISTINCT user_id) FROM events) AS n_exact_all,
           TRUE AS union_within_5pct
    FROM events
    GROUP BY event_type
    """,
    category="aggregates",
)
def agg_hll_sketch_mergeable(spark, sf_dir):
    """Mergeable HLL sketches (Spark 4 Apache DataSketches family) —
    THE 100-TB distinct-counting pattern: build one sketch per group
    (hll_sketch_agg), estimate per group, then hll_union_agg MERGES the
    per-group sketches into a global estimate without ever re-touching
    the raw data. That re-aggregability (sketch once at ingest, union
    at any rollup level later) is what approx_count_distinct cannot
    do. Sketches are approximate, so the driver-facing output is a
    tolerance WITNESS (same convention as agg_approx_count_distinct):
    the exact value plus in-band booleans the oracle pins TRUE."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    # g feeds the union-estimate rollup and the per-type report —
    # unpersisted, the raw sketch pass ran twice (round-14 audit).
    # Group-count-sized; persist it.
    g = track(
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("n_exact"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    glob = g.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_all"),
    ).crossJoin(
        ev.agg(F.count_distinct("user_id").alias("n_exact_all"))
    )
    per = g.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_5pct"),
    )
    return per.crossJoin(
        F.broadcast(
            glob.select(
                "n_exact_all",
                (
                    F.abs(F.col("est_all") - F.col("n_exact_all"))
                    <= 0.05 * F.col("n_exact_all")
                ).alias("union_within_5pct"),
            )
        )
    )


@register(
    "agg_regression_family",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag, count(*) AS n,
             sum(x) AS sx, sum(yc) AS sy,
             sum(x * x) AS sxx2, sum(yc * yc) AS syy2,
             sum(x * yc) AS sxy2
      FROM q GROUP BY l_returnflag
    ),
    t AS (
      SELECT l_returnflag, n, sx, sy,
             n * sxy2 - sx * sy AS n1,
             n * sxx2 - sx * sx AS d,
             n * syy2 - sy * sy AS syy
      FROM m
    )
    SELECT l_returnflag,
           CAST({slope} AS DOUBLE) / 1000000.0 AS slope,
           CAST({icept} AS DOUBLE) / 1000000.0 AS intercept,
           CASE WHEN d > 0 AND syy > 0
                THEN round(({n1d} * {n1d}) / ({dd} * {syyd}), 6) END AS r2,
           CAST(n AS BIGINT) AS n,
           CAST({avgx} AS DOUBLE) / 1000000.0 AS avg_x,
           CAST({avgy} AS DOUBLE) / 1000000.0 AS avg_y,
           CAST({sxxr} AS DOUBLE) / 100.0 AS sxx,
           CAST({sxyr} AS DOUBLE) / 100.0 AS sxy
    FROM t
    """.format(
        slope=duck_half_div("n1 * 1000000", "100 * d"),
        icept=duck_half_div("(sy * d - n1 * sx) * 10000", "n * d"),
        avgx=duck_half_div("sx * 1000000", "n"),
        avgy=duck_half_div("sy * 10000", "n"),
        sxxr=duck_half_div("100 * d", "n"),
        sxyr=duck_half_div("n1", "n"),
        n1d=duck_dec2d("n1"),
        dd=duck_dec2d("d"),
        syyd=duck_dec2d("syy"),
    ),
    category="aggregates",
)
def agg_regression_family(spark, sf_dir):
    """ANSI linear-regression aggregate family (slope/intercept/r2/
    count/avgx/avgy/sxx/sxy) — closed-form OLS of extendedprice on
    quantity per returnflag. Round 8 moved it off the built-in
    regr_* aggregates onto EXACT integer moments: the built-ins sum
    raw doubles whose merge order is task-scheduling-dependent, and at
    the 10x corpus (2M rows/group) the r8 sweep caught sxy's 2dp
    rounding flipping between runs — the same class as the round-6
    fin_vwap red. Now x (integral qty) and y (cents) quantize exactly,
    the five moments sum in decimal(38,0) (map-side combined,
    constant-size state per group — still the textbook scalable OLS),
    and every output renders from the exact moments: slope/intercept/
    means/sxx/sxy by pure-integer half-away division, r2 (whose
    exact-integer square overflows 128 bits) as ONE mirrored double
    expression over two-limb dec2d conversions. Exact-domain note:
    the intercept numerator (sy*d) reaches ~1e33 at the 10x corpus —
    decimal(38,0) holds to ~30x; beyond that the render needs a
    rescale, and micro_units raises loudly rather than wrapping."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,0)")
    x = F.round(F.col("l_quantity")).cast("long")
    yc = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = li.select(
        "l_returnflag", x.alias("x"), yc.alias("yc")
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("yc"))).alias("sy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx2"),
        F.sum(dec(F.col("yc")) * F.col("yc")).alias("syy2"),
        F.sum(dec(F.col("x")) * F.col("yc")).alias("sxy2"),
    )
    t = m.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy2") - F.col("sx") * F.col("sy")).alias("n1"),
        (F.col("n") * F.col("sxx2") - F.col("sx") * F.col("sx")).alias("d"),
        (F.col("n") * F.col("syy2") - F.col("sy") * F.col("sy")).alias("syy"),
    )
    n1d, dd, syyd = (
        F.expr(spark_dec2d("n1")),
        F.expr(spark_dec2d("d")),
        F.expr(spark_dec2d("syy")),
    )
    return t.select(
        "l_returnflag",
        (
            F.expr(spark_half_div("n1 * 1000000", "100 * d")).cast("double")
            / 1000000.0
        ).alias("slope"),
        (
            F.expr(
                spark_half_div("(sy * d - n1 * sx) * 10000", "n * d")
            ).cast("double")
            / 1000000.0
        ).alias("intercept"),
        F.when(
            (F.col("d") > 0) & (F.col("syy") > 0),
            F.round((n1d * n1d) / (dd * syyd), 6),
        ).alias("r2"),
        F.col("n").cast("long").alias("n"),
        (
            F.expr(spark_half_div("sx * 1000000", "n")).cast("double")
            / 1000000.0
        ).alias("avg_x"),
        (
            F.expr(spark_half_div("sy * 10000", "n")).cast("double")
            / 1000000.0
        ).alias("avg_y"),
        (
            F.expr(spark_half_div("100 * d", "n")).cast("double") / 100.0
        ).alias("sxx"),
        (
            F.expr(spark_half_div("n1", "n")).cast("double") / 100.0
        ).alias("sxy"),
    )


@register(
    "agg_countmin_heavy_hitters",
    oracle="""
    WITH counts AS (
      SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
    ),
    hashed AS (
      SELECT l_partkey, cnt,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(CAST(l_partkey AS VARCHAR))),
                 i -> CAST(unicode(substr(CAST(l_partkey AS VARCHAR), i, 1)) AS BIGINT))),
               (acc, c) -> (acc * 131 + c) % 2147483647) AS h1,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(CAST(l_partkey AS VARCHAR))),
                 i -> CAST(unicode(substr(CAST(l_partkey AS VARCHAR), i, 1)) AS BIGINT))),
               (acc, c) -> (acc * 137 + c) % 2147483647) AS h2
      FROM counts
    ),
    sketch AS (
      SELECT r, (h1 + r * h2) % 256 AS cell, CAST(sum(cnt) AS BIGINT) AS v
      FROM hashed, (SELECT unnest(generate_series(0, 3)) AS r)
      GROUP BY r, (h1 + r * h2) % 256
    ),
    top10 AS (
      SELECT l_partkey, cnt, h1, h2 FROM hashed
      ORDER BY cnt DESC, l_partkey LIMIT 10
    )
    SELECT t.l_partkey, t.cnt AS exact_cnt,
           CAST(min(s.v) AS BIGINT) AS cms_est,
           CAST(min(s.v) - t.cnt AS BIGINT) AS overestimate
    FROM top10 t
    JOIN sketch s ON s.cell = (t.h1 + s.r * t.h2) % 256
    GROUP BY t.l_partkey, t.cnt
    """,
    category="aggregates",
)
def agg_countmin_heavy_hitters(spark, sf_dir):
    """Count-min sketch (Cormode/Muthukrishnan '05) heavy-hitter
    estimation with an engine-neutral hash family: d=4 rows x w=256
    counters, double hashing over the polynomial key hash, estimate =
    min over rows — checked against the exact counts of the top-10
    part keys (overestimate >= 0 is the CMS guarantee, pinned in
    tests). The sketch is built from the map-side-combined (key, cnt)
    frame — mathematically identical to streaming single increments
    but one shuffle over |keys| rows instead of |rows|; the sketch
    itself is a fixed 1024-cell relation however large the fact table,
    which is the whole point: a 100-TB stream compresses to KBs of
    mergeable state (same pattern as the HLL rollup,
    agg_hll_sketch_mergeable)."""
    from bigdata_financial_reporting_spark.operators.text import poly_text_hash

    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("ks", F.col("l_partkey").cast("string"))
    )
    hashed = counts.select(
        "l_partkey",
        "cnt",
        poly_text_hash("ks", 131).alias("h1"),
        poly_text_hash("ks", 137).alias("h2"),
    )
    rows = F.explode(
        F.expr("transform(sequence(0, 3), r -> struct(r AS r, pmod(h1 + r * h2, 256) AS cell))")
    )
    sketch = (
        hashed.select("cnt", rows.alias("rc"))
        .select("cnt", F.col("rc.r").alias("r"), F.col("rc.cell").alias("cell"))
        .groupBy("r", "cell")
        .agg(F.sum("cnt").alias("v"))
    )
    top10 = hashed.orderBy(F.desc("cnt"), "l_partkey").limit(10)
    est = top10.join(
        F.broadcast(sketch),
        F.col("cell") == F.expr("pmod(h1 + r * h2, 256)"),
    )
    return est.groupBy("l_partkey", "cnt").agg(
        F.min("v").cast("long").alias("cms_est"),
        (F.min("v") - F.col("cnt")).cast("long").alias("overestimate"),
    ).select(
        "l_partkey",
        F.col("cnt").alias("exact_cnt"),
        "cms_est",
        "overestimate",
    )


@register(
    "tpch_q8_shape",
    oracle="""
    WITH vols AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             {vol_u} AS vol_u,
             ns.n_nationkey AS supp_nk
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST({share} AS DOUBLE) / 1000000.0 AS mkt_share
    FROM vols GROUP BY o_year
    """.format(
        vol_u=_duck_rev_u("l."),
        share=duck_half_div(
            "sum(CASE WHEN supp_nk = 0 THEN vol_u ELSE 0 END) * 1000000",
            "sum(vol_u)",
        ),
    ),
    category="aggregates",
)
def tpch_q8_shape(spark, sf_dir):
    """TPC-H Q8 shape (national market share): the 8-table star —
    every dimension (customer, supplier, part, nation x2, region)
    broadcasts, so the single big shuffle is lineitem-orders; the
    region and part-type filters prune on the dim side BEFORE the
    fact join, which at 100 TB is the difference between scanning a
    region's slice and scanning the world. Share-of-total computed in
    one aggregate pass with a conditional numerator."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    ns = n.select(F.col("n_nationkey").alias("s_nk"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"),
            _rev_u().alias("vol_u"),
            F.col("s_nk").alias("supp_nk"),
        )
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nk") == 0, F.col("vol_u")).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias("num"),
            F.sum("vol_u").alias("den"),
        )
        .select(
            "o_year",
            (
                F.expr(spark_half_div("num * 1000000", "den")).cast("double")
                / 1000000.0
            ).alias("mkt_share"),
        )
    )


@register(
    "tpch_q10_shape",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {duck_dec2d("sum(" + _duck_rev_u("l.") + ")")} / 10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY sum({_duck_rev_u("l.")}) DESC, c.c_custkey
    LIMIT 20
    """,
    category="aggregates",
)
def tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 shape (returned-item revenue, top-20 customers):
    fact-to-fact join on orderkey carries the one real shuffle;
    customer and nation broadcast; the returnflag and date filters
    push into the scans. Ranking is over the EXACT integer revenue sum
    (_rev_u) with a custkey tie-break on BOTH engines — ordering on a
    raw double sum would make the top-20 boundary sensitive to
    summation order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_u()).alias("rev_u"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "rev_u",
            (F.expr(spark_dec2d("rev_u")) / 10000.0).alias("revenue"),
        )
    )
    return (
        agg.orderBy(F.desc("rev_u"), "c_custkey")
        .limit(20)
        .drop("rev_u")
    )


@register(
    "tpch_q14_shape",
    oracle="""
    SELECT CAST({share} AS DOUBLE) / 1000000.0 AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """.format(
        share=duck_half_div(
            "sum(CASE WHEN p.p_type = 'PROMO' THEN "
            + _duck_rev_u("l.")
            + " ELSE 0 END) * 100000000",
            "sum(" + _duck_rev_u("l.") + ")",
        )
    ),
    category="aggregates",
)
def tpch_q14_shape(spark, sf_dir):
    """TPC-H Q14 shape (promo revenue share): one broadcast join of
    the month's lineitem slice against part, one global conditional
    aggregate — the date filter reaches the parquet scan so only the
    month's row groups are read (min/max pruning at 100 TB). Both
    revenue sums are exact 1e-4-unit integers and the percentage
    renders by integer half-away division at 6dp."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _rev_u()).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias("num"),
            F.sum(_rev_u()).alias("den"),
        )
        .select(
            (
                F.expr(spark_half_div("num * 100000000", "den")).cast("double")
                / 1000000.0
            ).alias("promo_share")
        )
    )


@register(
    "tpch_q16_shape",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    LIMIT 20
    """,
    category="aggregates",
)
def tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 shape (supplier diversity per part group; the
    fixture's lineitem stands in for partsupp as the part-supplier
    relation): brand/size dim filters prune before the join, then a
    two-level aggregate — count(DISTINCT suppkey) expands to the
    standard two-phase plan (group by keys+supp, then count) with
    map-side partials, so the distinct never funnels through one
    task. Deterministic top-20 with full-key tie-break."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
    return agg.orderBy(
        F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
    ).limit(20)


@register(
    "tpch_q19_shape",
    oracle=f"""
    SELECT {duck_dec2d("sum(" + _duck_rev_u("l.") + ")")} / 10000.0 AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    category="aggregates",
)
def tpch_q19_shape(spark, sf_dir):
    """TPC-H Q19 shape (disjunctive predicate revenue): three
    brand/size/quantity bands OR-ed across the join — the classic
    test that the optimizer splits the disjunction, pushes the
    part-only conjuncts into the part scan and the lineitem-only
    conjuncts into the fact scan, instead of evaluating the whole OR
    post-join. Part broadcasts; one global aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.agg(
        F.sum(_rev_u()).alias("rev_u"),
        F.count(F.lit(1)).alias("n_items"),
    ).select(
        (F.expr(spark_dec2d("rev_u")) / 10000.0).alias("revenue"),
        "n_items",
    )


@register(
    "agg_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice
               / pow(10, floor(log10(o_totalprice)))) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM d)
    SELECT digit, count(*) AS n,
           round(count(*) / max(n.total), 6) AS observed,
           round(log10(1.0 + 1.0 / digit), 6) AS benford,
           round(abs(count(*) / max(n.total)
                     - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
    FROM d, n GROUP BY digit
    """,
    category="aggregates",
)
def agg_benford_digits(spark, sf_dir):
    """Benford's-law first-digit audit over order totals — the
    classic financial-forensics screen (the reference is, after all, a
    financial reporting system): observed leading-digit frequencies
    against log10(1 + 1/d), with per-digit absolute deviation. The
    leading digit is pure arithmetic (no string casts) so it pushes
    into codegen; one map-side-combined 9-group aggregate plus a
    broadcast 1-row total. Synthetic uniform prices deviate from
    Benford — which is exactly what the screen is for."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("long")
        .alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("observed"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford"),
            F.round(
                F.abs(
                    F.col("n") / F.col("total")
                    - F.log10(1.0 + 1.0 / F.col("digit"))
                ),
                6,
            ).alias("abs_dev"),
        )
    )


@register(
    "agg_gini_coefficient",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS grp, o_totalprice AS x,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS i,
             count(*) OVER (PARTITION BY o_orderpriority) AS n,
             sum(o_totalprice) OVER (PARTITION BY o_orderpriority) AS s
      FROM orders
    )
    SELECT grp, round(2.0 * sum(i * x) / (max(n) * max(s))
                      - (max(n) + 1.0) / max(n), 6) AS gini,
           max(n) AS n
    FROM r GROUP BY grp
    """,
    category="aggregates",
)
def agg_gini_coefficient(spark, sf_dir):
    """Gini coefficient of order value per priority class — the
    standard inequality/concentration measure, computed by the exact
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over the
    within-group value ranking (deterministic orderkey tie-break).
    One hash-partitioned window per group plus a grouped aggregate —
    no sorting beyond the per-key window, no driver math. The rank
    formula needs a total order WITHIN each group only, so group
    cardinality bounds the sort, not corpus size."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wp = Window.partitionBy("o_orderpriority")
    r = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("o_totalprice").over(wp).alias("s"),
    )
    return r.groupBy("grp").agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.max("n") * F.max("s"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
        F.max("n").alias("n"),
    )


@register(
    "agg_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS m, var_samp(value) AS v,
             CAST(count(*) AS DOUBLE) AS n
      FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1
    ),
    w AS (
      SELECT max(CASE WHEN event_type = 'purchase' THEN m END) AS m1,
             max(CASE WHEN event_type = 'purchase' THEN v END) AS v1,
             max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
             max(CASE WHEN event_type = 'click' THEN m END) AS m2,
             max(CASE WHEN event_type = 'click' THEN v END) AS v2,
             max(CASE WHEN event_type = 'click' THEN n END) AS n2
      FROM s
    )
    SELECT round((m1 - m2) / sqrt(v1/n1 + v2/n2), 6) AS t_stat,
           round(pow(v1/n1 + v2/n2, 2)
                 / (pow(v1/n1, 2)/(n1-1) + pow(v2/n2, 2)/(n2-1)), 6)
             AS df_welch,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
    FROM w
    """,
    category="aggregates",
)
def agg_welch_ttest(spark, sf_dir):
    """Welch's two-sample t statistic (unequal variances) comparing
    purchase vs click values, with the Welch-Satterthwaite degrees of
    freedom — the A/B-test primitive. The entire test reduces to six
    map-side-combined moments (mean/var/count per arm) pivoted into
    one row; the statistic is closed-form arithmetic on that 1-row
    frame, so a 100-TB A/B test costs exactly one aggregation pass."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    s = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    pick = lambda arm, c: F.max(F.when(F.col("event_type") == arm, F.col(c)))
    w = s.agg(
        pick("purchase", "m").alias("m1"),
        pick("purchase", "v").alias("v1"),
        pick("purchase", "n").alias("n1"),
        pick("click", "m").alias("m2"),
        pick("click", "v").alias("v2"),
        pick("click", "n").alias("n2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return w.select(
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            6,
        ).alias("df_welch"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
    )


@register(
    "agg_chi2_independence",
    oracle="""
    WITH c AS (
      SELECT event_type, isodow(ts) AS dw, CAST(count(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT c.*, sum(o) OVER (PARTITION BY event_type) AS rt,
             sum(o) OVER (PARTITION BY dw) AS ct, sum(o) OVER () AS t
      FROM c
    )
    SELECT round(sum(pow(o - rt*ct/t, 2) / (rt*ct/t)), 6) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dw) - 1) AS BIGINT) AS dof,
           CAST(max(t) AS BIGINT) AS n_total
    FROM m
    """,
    category="aggregates",
)
def agg_chi2_independence(spark, sf_dir):
    """Pearson chi-square test of independence between event type and
    ISO day-of-week: observed vs expected (row-total x col-total / n)
    over the contingency table. The raw table collapses to the
    |types| x 7 contingency cells in one map-side-combined pass; the
    marginals are windows over that tiny frame (the global-sum window
    runs on ~35 rows — bounded by the category product, never by the
    corpus). ISO numbering pinned as in ts_calendar_features."""
    ev = load_table(spark, sf_dir, "events")
    dow_iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    c = ev.groupBy(
        "event_type", dow_iso.alias("dw")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    m = c.select(
        "event_type",
        "dw",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("dw")).alias("ct"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("t"),
    )
    e = F.col("rt") * F.col("ct") / F.col("t")
    return m.agg(
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dw") - 1)
        ).cast("long").alias("dof"),
        F.max("t").cast("long").alias("n_total"),
    )


@register(
    "agg_ks_twosample",
    oracle="""
    WITH cells AS (
      SELECT value,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c1,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c2
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY value
    ),
    n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM cells),
    e AS (
      SELECT sum(c1) OVER (ORDER BY value) AS r1,
             sum(c2) OVER (ORDER BY value) AS r2
      FROM cells
    )
    SELECT round(max(abs(e.r1 / n.n1 - e.r2 / n.n2)), 6) AS ks_d,
           CAST(max(n.n1) AS BIGINT) AS n1,
           CAST(max(n.n2) AS BIGINT) AS n2
    FROM e, n
    """,
    category="aggregates",
)
def agg_ks_twosample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic (purchase vs click
    value distributions): D = max |ECDF₁ − ECDF₂| evaluated at every
    observed value. The classic distribution-drift detector for data
    pipelines. Scalable shape: counts per DISTINCT value first
    (map-side combined), then the running ECDFs via
    ``global_running_sum`` — a split-point-bucketed two-phase
    cumulative sum whose only unpartitioned window runs over the
    per-bucket offset table, never the data (operators/global_window.py). The
    oracle's single-partition `ORDER BY` window computes the same
    prefix sums."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_running_sum,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cells = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("c2"),
    )
    # with_totals: every row carries the grand totals tot_c1/tot_c2
    # (exact integers), so ONE consumer computes the normalized ECDF
    # gap AND n1/n2 — before round 15 a second aggregation pass
    # (max of the running columns) re-ran the whole window pipeline
    # per action and fed a crossJoin.
    runs = global_running_sum(
        cells, ["value"], ["c1", "c2"], with_totals=True
    )
    return runs.agg(
        F.round(
            F.max(
                F.abs(
                    F.col("run_c1") / F.col("tot_c1")
                    - F.col("run_c2") / F.col("tot_c2")
                )
            ),
            6,
        ).alias("ks_d"),
        F.max("tot_c1").cast("long").alias("n1"),
        F.max("tot_c2").cast("long").alias("n2"),
    )


@register(
    "agg_subsample_ci",
    oracle="""
    WITH h AS (
      SELECT value, md5(CAST(event_id AS VARCHAR)) AS hx FROM events
    ),
    picks AS (
      SELECT b.b, h.value
      FROM h, (SELECT unnest(generate_series(0, 31)) AS b) b
      WHERE (CAST(concat('0x', substr(h.hx, CAST(b.b // 4 AS INT) + 1, 1))
                  AS BIGINT) >> CAST(b.b % 4 AS INT)) & 1 = 0
    ),
    means AS (SELECT b, avg(value) AS m, count(*) AS n FROM picks GROUP BY b)
    SELECT round(avg(m), 6) AS mean_of_means,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi,
           CAST(min(n) AS BIGINT) AS min_resample_n,
           count(*) AS n_resamples
    FROM means
    """,
    category="aggregates",
)
def agg_subsample_ci(spark, sf_dir):
    """Distributed subsampling confidence interval for the mean (the
    half-sample bootstrap a cluster can actually run): 32 pseudo-
    resamples where membership of row r in resample b is a pure hash
    bit — no RNG state, no resampling shuffle, exactly reproducible
    on any engine or partitioning. ONE md5 per row supplies all 32
    membership bits (resample b reads bit b%4 of hex nibble b//4) —
    the per-(row, resample) re-hash form cost 28 s at the 10x corpus,
    this form 32 cheap bit tests per row. The explode is map-side
    combined immediately: only 32 (mean,count) cells survive per
    partition; then percentile over the 32 resample means."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "value", F.md5(F.col("event_id").cast("string")).alias("hx")
    )
    b = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
    picks = h.select("*", b).filter(
        F.expr(
            "(shiftright(cast(conv(substring(hx, cast(b div 4 AS int) + 1, 1), "
            "16, 10) AS int), cast(b % 4 AS int)) & 1) = 0"
        )
    )
    means = picks.groupBy("b").agg(
        F.avg("value").alias("m"), F.count(F.lit(1)).alias("n")
    )
    return means.agg(
        F.round(F.avg("m"), 6).alias("mean_of_means"),
        F.round(F.percentile("m", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 6).alias("ci_hi"),
        F.min("n").cast("long").alias("min_resample_n"),
        F.count(F.lit(1)).alias("n_resamples"),
    )


@register(
    "agg_crosstab_stat",
    oracle="""
    SELECT event_type AS event_type_dow,
           CAST(sum(CASE WHEN isodow(ts) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS "1",
           CAST(sum(CASE WHEN isodow(ts) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS "2",
           CAST(sum(CASE WHEN isodow(ts) = 3 THEN 1 ELSE 0 END) AS BIGINT) AS "3",
           CAST(sum(CASE WHEN isodow(ts) = 4 THEN 1 ELSE 0 END) AS BIGINT) AS "4",
           CAST(sum(CASE WHEN isodow(ts) = 5 THEN 1 ELSE 0 END) AS BIGINT) AS "5",
           CAST(sum(CASE WHEN isodow(ts) = 6 THEN 1 ELSE 0 END) AS BIGINT) AS "6",
           CAST(sum(CASE WHEN isodow(ts) = 7 THEN 1 ELSE 0 END) AS BIGINT) AS "7"
    FROM events
    GROUP BY event_type
    """,
    category="aggregates",
)
def agg_crosstab_stat(spark, sf_dir):
    """``DataFrameStatFunctions.crosstab``: the contingency-table
    convenience (pair frequencies pivoted into columns) — here event
    type x ISO day-of-week, the same table agg_chi2_independence
    tests. Crosstab plans as groupBy+pivot: one map-side-combined
    aggregation over |types| x 7 cells. Column names are the distinct
    column-2 values by contract; ISO numbering keeps them identical
    across engines."""
    ev = load_table(spark, sf_dir, "events")
    dow_iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    ct = ev.select(
        "event_type", dow_iso.cast("string").alias("dow")
    ).stat.crosstab("event_type", "dow")
    return ct.select(
        "event_type_dow",
        *[F.col(str(d)).cast("long").alias(str(d)) for d in range(1, 8)],
    )


@register(
    "tpch_q6_shape",
    oracle=f"""
    SELECT {duck_dec2d(
        "sum(" + duck_cents("l_extendedprice")
        + " * CAST(round(l_discount * 100) AS BIGINT))"
    )} / 10000.0 AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
    category="aggregates",
)
def tpch_q6_shape(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): the canonical
    scan-dominated query — every predicate (date window, discount
    band, quantity cap) must reach the parquet scan as a pushed
    filter, and the single global aggregate is one map-side-combined
    pass with a 1-row shuffle. At 100 TB this query IS the scan; the
    plan with anything between the scan and the partial agg is wrong.
    Ref parity: extends the engine beyond the reference's single-table
    pipeline (controller/script.py:22-100)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                cents(F.col("l_extendedprice"))
                * F.round(F.col("l_discount") * 100).cast("long")
            ).alias("rev_u"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            (F.expr(spark_dec2d("rev_u")) / 10000.0).alias("revenue"), "n"
        )
    )


@register(
    "tpch_q9_shape",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           {duck_dec2d(
               "sum(" + _duck_rev_u("l.")
               + " - 10 * " + duck_cents("p.p_retailprice")
               + " * CAST(round(l.l_quantity) AS BIGINT))"
           )} / 10000.0 AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    category="aggregates",
)
def tpch_q9_shape(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year). The
    fixture has no partsupp table, so supply cost is proxied as 10% of
    p_retailprice — the SHAPE is what matters: a fact table joined to
    three broadcastable dims plus orders, with the part-name LIKE
    filter applied on the dim BEFORE the join so the broadcast carries
    only matching parts and the fact rows for other parts die at the
    join, not in a post-join filter."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # exact profit in 1e-4 dollar units: revenue minus the 10%
    # supply-cost proxy — supply cost cents * integral quantity * 10
    # keeps everything integer (l_quantity is integral by fixture
    # construction, pinned by round())
    profit_u = _rev_u() - F.lit(10) * cents(F.col("p_retailprice")) * F.round(
        F.col("l_quantity")
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit_u).alias("profit_u"))
        .select(
            "nation",
            "o_year",
            (F.expr(spark_dec2d("profit_u")) / 10000.0).alias("profit"),
        )
    )


@register(
    "tpch_q11_shape",
    oracle=f"""
    WITH val AS (
      SELECT l.l_partkey, sum({_duck_rev_u("l.")}) AS vu
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey < 13
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT count(*) AS n, sum(vu) AS sv FROM val)
    SELECT l_partkey, {duck_dec2d("vu")} / 10000.0 AS value
    FROM val, tot
    WHERE vu * 10 * n > 14 * sv
    """,
    category="aggregates",
)
def tpch_q11_shape(spark, sf_dir):
    """TPC-H Q11 shape (important stock identification): per-part
    value with a GLOBAL-fraction threshold — the signature is the
    scalar subquery over the same aggregate, which must plan as ONE
    computation of the per-part aggregate feeding both sides (the
    per-part frame reused, the 1-row threshold broadcast into the
    filter), never two scans of lineitem. The threshold is a MULTIPLE
    OF THE AVERAGE part value (1.4x) rather than a fraction of the
    total, so the query stays selective and nonvacuous at every scale
    factor (a fixed fraction of total goes vacuous as the part count
    grows — verified at the 10x corpus). Both the per-part values and
    the 1.4x-average threshold comparison are exact integers:
    value_u * 10 * n_parts > 14 * sum(value_u) — no float average
    anywhere, so the threshold boundary cannot drift with merge
    order."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 13)
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_rev_u()).alias("vu"))
    )
    total = val.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("vu").alias("__sv")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("vu") * 10 * F.col("__n") > 14 * F.col("__sv"))
        .select(
            "l_partkey", (F.expr(spark_dec2d("vu")) / 10000.0).alias("value")
        )
    )


@register(
    "tpch_q12_shape",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= '1997-01-01' AND l.l_shipdate < '1998-01-01'
    GROUP BY l.l_linestatus
    """,
    category="aggregates",
)
def tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shape (shipping-priority counting; the fixture lacks
    l_shipmode, so l_linestatus is the grouping dim): conditional
    integer counting over the orders-lineitem join — the CASE sums are
    exact integers so the result is bit-stable under any shuffle
    order, and the date filter prunes lineitem at the scan before the
    join shuffles anything."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_shape",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count
    """,
    category="aggregates",
)
def tpch_q13_shape(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): the
    double aggregation — per-customer order counts through a LEFT
    OUTER join (zero-order customers must survive as c_count=0), then
    the distribution of those counts. The second groupBy's input is
    one row per customer, so the distribution shuffle is
    customer-bounded, and every value is an exact integer."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15_shape",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no, sum({vu}) AS vu
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, {vud} / 10000.0 AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.vu = (SELECT max(vu) FROM rev)
    """.format(vu=_duck_rev_u(), vud=duck_dec2d("r.vu")),
    category="aggregates",
)
def tpch_q15_shape(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): the revenue "view" computed
    once and consumed twice — per-supplier quarterly revenue, its max
    (a broadcast 1-row aggregate), and the equality filter returning
    the argmax supplier(s). The equality compares EXACT integer
    revenue sums (_rev_u), so both engines pick the identical winner
    at any scale and merge order."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_u()).alias("vu")
    )
    mx = rev.agg(F.max("vu").alias("__mx"))
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx))
        .filter(F.col("vu") == F.col("__mx"))
        .select(
            "s_suppkey",
            "s_name",
            (F.expr(spark_dec2d("vu")) / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "tpch_q18_shape",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 160
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, round(sum(l.l_quantity), 4) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    """,
    category="aggregates",
)
def tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): the HAVING subquery
    becomes a left-semi join from orders onto the big-order keys — the
    qualifying key set is aggregated FIRST (map-side combined, keys
    only in the shuffle) so the three-way join runs over the filtered
    orders, not the whole table. l_quantity is integral-valued, so the
    HAVING threshold and final sums are exact under any merge order."""
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 160)
        .select("l_orderkey")
    )
    o_big = o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
    return (
        c.join(o_big, c.c_custkey == o_big.o_custkey)
        .join(li, o_big.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


@register(
    "tpch_q20_shape",
    oracle="""
    WITH shipped AS (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%bolt%'
        AND l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
      GROUP BY l.l_suppkey
      HAVING sum(l.l_quantity) > 50
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped)
    """,
    category="aggregates",
)
def tpch_q20_shape(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with significant shipments of
    pattern-matched parts; the fixture lacks partsupp, so the
    excess-stock correlation becomes a shipped-quantity threshold):
    a nested aggregate reduced to a supplier-key set, consumed as a
    left-semi join against the supplier dim — the fact table
    contributes only grouped keys to the final join, and the part
    filter broadcasts before any lineitem row moves."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 50)
        .select("l_suppkey")
    )
    return (
        # shipped is bounded by the supplier count (grouped keys after
        # HAVING) — broadcast it; the static planner can't estimate an
        # aggregate's output and would fall back to sort-merge
        s.join(F.broadcast(shipped), s.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


@register(
    "tpch_q21_shape",
    oracle="""
    WITH l1 AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l1 l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    """,
    category="aggregates",
)
def tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting; "late" is
    shipped >90 days after order date since the fixture lacks
    commit/receipt dates): the EXISTS/NOT-EXISTS pair on the fact
    table becomes a left-semi join (another supplier on the order)
    plus a left-anti join (no OTHER supplier was late on it) — both
    keyed on the order key, so the quadratic-looking correlation is
    two hash joins over keys, never a per-row re-scan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    s = load_table(spark, sf_dir, "supplier")
    l1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    late_others = l1.select(
        F.col("l_orderkey").alias("a_key"), F.col("l_suppkey").alias("a_supp")
    )
    waited = (
        l1.join(
            others,
            (l1.l_orderkey == others.o_key)
            & (l1.l_suppkey != others.o_supp),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == late_others.a_key)
            & (F.col("l_suppkey") != late_others.a_supp),
            "left_anti",
        )
    )
    return (
        waited.join(F.broadcast(s), waited.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q22_shape",
    oracle="""
    WITH bal AS (
      SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents,
             count(*) AS cnt
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey AS cntrycode, count(*) AS numcust,
           {tot} / 100.0 AS totacctbal
    FROM customer c, bal
    WHERE c.c_nationkey IN (0,1,2,3,4,5,6)
      AND CAST(round(c.c_acctbal * 100) AS BIGINT) * bal.cnt > bal.cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= '1999-01-01')
    GROUP BY c.c_nationkey
    """.format(
        tot=duck_dec2d("sum(CAST(round(c.c_acctbal * 100) AS BIGINT))")
    ),
    category="aggregates",
)
def tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity — lapsed high-balance
    customers; every fixture customer has SOME order, so "no orders"
    is scoped to the recent window): the above-average-balance
    comparison is done in EXACT integer cents — balance*cnt > total
    cents — instead of comparing against a float average, so the
    selected set is bit-identical across engines and layouts (the
    float-avg form can flip a boundary customer between engines). The
    anti join on recent orders ships only customer keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    # The global cents total and the balance*count comparison run in
    # decimal(38,0): with ANSI off a LongType Σcents / product wraps
    # silently past ~1e13 customers while the DuckDB oracle stays
    # exact (HUGEINT sum) or raises loudly — the Spearman overflow
    # class.
    centsD = cents.cast("decimal(38,0)")
    bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(centsD).alias("__cents"),
            F.count(F.lit(1)).alias("__cnt"),
        )
    )
    return (
        c.filter(F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(bal))
        .filter(centsD * F.col("__cnt") > F.col("__cents"))
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(centsD).alias("bal_c"),
        )
        .select(
            "cntrycode",
            "numcust",
            (F.expr(spark_dec2d("bal_c")) / 100.0).alias("totacctbal"),
        )
    )


@register(
    "stat_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             2 * rank() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity)
               + count(*) OVER (PARTITION BY l_returnflag, l_quantity)
               - 1 AS rx2,
             2 * rank() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice)
               + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
               - 1 AS ry2
      FROM lineitem
    ),
    s AS (
      SELECT grp, count(*) AS n,
             sum(rx2) AS sx, sum(ry2) AS sy, sum(rx2 * ry2) AS sxy,
             sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy
      FROM r GROUP BY grp
    ),
    q AS (
      SELECT grp, n,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS dx,
             n * syy - sy * sy AS dy
      FROM s
    )
    SELECT grp, n,
           round({nd} / sqrt({dxd} * {dyd}), 6) + 0 AS rho
    FROM q
    """.format(
        nd=duck_dec2d("num"), dxd=duck_dec2d("dx"), dyd=duck_dec2d("dy")
    ),
    category="aggregates",
)
def stat_spearman_corr(spark, sf_dir):
    """Spearman rank correlation per group (quantity vs price), with
    correct AVERAGE ranks under ties: avg_rank*2 = 2*min_rank +
    tie_count - 1 is an exact INTEGER, so every moment (n, Σr, Σr²,
    Σrxry) is an exact integer sum — order-independent across any
    shuffle — and rho derives at the very end from one fixed double
    expression mirrored verbatim in the oracle (the
    emb_covariance_matrix discipline). The rank windows sort within
    each group only; '+ 0' in the oracle normalizes DuckDB's -0.0 for
    a tiny-negative rho."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    g = F.col("l_returnflag")
    rx2 = (
        F.lit(2) * F.rank().over(Window.partitionBy(g).orderBy("l_quantity"))
        + F.count(F.lit(1)).over(Window.partitionBy(g, F.col("l_quantity")))
        - 1
    )
    ry2 = (
        F.lit(2)
        * F.rank().over(Window.partitionBy(g).orderBy("l_extendedprice"))
        + F.count(F.lit(1)).over(
            Window.partitionBy(g, F.col("l_extendedprice"))
        )
        - 1
    )
    r = li.select(
        g.alias("grp"),
        rx2.cast("long").alias("rx2"),
        ry2.cast("long").alias("ry2"),
    )
    # Every moment sum AND every product of moments runs in
    # decimal(38,0): at 2M rows/group (the 10x corpus) Σrx2² ≈ 1e19
    # already exceeds 2^63, and sx*sx ≈ 1.6e25 far exceeds it — with
    # ANSI off a LongType pipeline wraps silently while DuckDB's
    # HUGEINT stays exact (observed: rho off by 6x at 10x before this).
    # decimal(38,0) matches HUGEINT's exact range (~1.7e38), which
    # holds past 1e12 rows per group. Per-row rx2*ry2 ≤ 4n² needs the
    # decimal cast BEFORE the multiply for n beyond ~1.5e9.
    dec = "decimal(38,0)"
    s = r.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2").cast(dec)).alias("sx"),
        F.sum(F.col("ry2").cast(dec)).alias("sy"),
        F.sum(F.col("rx2").cast(dec) * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2").cast(dec) * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2").cast(dec) * F.col("ry2")).alias("syy"),
    )
    nD = F.col("n").cast(dec)
    # the >2^53 decimal moments convert to double via the MIRRORED
    # two-limb decomposition (spark_dec2d/duck_dec2d): a plain CAST is
    # correctly rounded in Spark but double-rounded in DuckDB's
    # HUGEINT path, and the ulp difference flips rounded cells at
    # scale (the round-7 fin_kurtosis_returns 10x finding)
    q = s.select(
        "grp",
        "n",
        (nD * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (nD * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx"),
        (nD * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy"),
    )
    num_d = F.expr(spark_dec2d("num"))
    dx_d = F.expr(spark_dec2d("dx"))
    dy_d = F.expr(spark_dec2d("dy"))
    return q.select(
        "grp", "n", F.round(num_d / F.sqrt(dx_d * dy_d), 6).alias("rho")
    )


@register(
    "stat_mann_whitney_u",
    oracle="""
    WITH cells AS (
      SELECT value,
             count(*) FILTER (event_type = 'click') AS c1,
             count(*) FILTER (event_type = 'view') AS c2,
             count(*) AS t
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY value
    ),
    runs AS (
      SELECT c1, c2, t,
             sum(t) OVER (ORDER BY value
                          ROWS UNBOUNDED PRECEDING) AS run_t
      FROM cells
    ),
    ties AS (
      SELECT sum(CAST(t * t * t - t AS BIGINT)) AS tie3 FROM cells
    ),
    s AS (
      SELECT sum(c1) AS n1, sum(c2) AS n2,
             sum(c1 * (2 * run_t - t + 1)) AS r1_2
      FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           round((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2
                  - CAST(n1 * n2 AS DOUBLE) / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                        * (CAST(n1 + n2 + 1 AS DOUBLE)
                           - {t3}
                             / (CAST(n1 + n2 AS DOUBLE)
                                * CAST(n1 + n2 - 1 AS DOUBLE)))), 6)
             + 0 AS z
    FROM s, ties
    """.format(t3=duck_dec2d("tie3")),
    category="aggregates",
)
def stat_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) comparing click vs view
    values — the nonparametric two-sample location test, the
    distribution-free sibling of agg_welch_ttest. Doubled average
    ranks keep every rank sum an exact integer under ties: for a
    distinct value with cumulative count C before it and tie count t,
    avg_rank*2 = 2C + t + 1, so R1*2 = Σ c1·(2·run_t − t + 1) needs
    only the per-DISTINCT-VALUE count table plus a running sum. That
    running sum goes through ``global_running_sum`` — the same
    split-point-bucketed two-phase cumulative sum agg_ks_twosample
    uses — so there is NO row-level global sort: the only unpartitioned
    window runs over the per-bucket offset table. U is emitted as
    u1_x2 = 2·U (exact integer); the tie-corrected z is one fixed
    double expression over exact integers, mirrored in the oracle."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_running_sum,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cells = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "c1"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "c2"
        ),
        F.count(F.lit(1)).alias("t"),
    )
    runs = global_running_sum(cells, ["value"], ["t"])
    # The rank-sum and tie moments run in decimal(38,0): r1_2 grows as
    # ~2N² and tie3 as Σt³, both past 2^63 once N reaches the low
    # billions — the Spearman overflow class (silent wrap with ANSI
    # off, exact HUGEINT in the DuckDB oracle). The decimal cast sits
    # BEFORE the per-row products so they never form in LongType.
    dec = "decimal(38,0)"
    s = runs.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1").cast(dec)
            * (2 * F.col("run_t") - F.col("t") + 1)
        ).alias("r1_2"),
        F.sum(
            F.col("t").cast(dec) * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie3"),
    )
    u1_x2 = (
        F.col("r1_2") - F.col("n1").cast(dec) * (F.col("n1") + 1)
    ).cast("long")
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    z = (
        u1_x2.cast("double") / 2
        - (F.col("n1") * F.col("n2")).cast("double") / 2
    ) / F.sqrt(
        n1d * n2d / 12.0
        * (
            (F.col("n1") + F.col("n2") + 1).cast("double")
            - F.expr(spark_dec2d("tie3")) / (nd * (nd - 1))
        )
    )
    return s.select(
        "n1", "n2", u1_x2.alias("u1_x2"), F.round(z, 6).alias("z")
    )


@register(
    "stat_anova_f",
    oracle="""
    WITH q AS (
      SELECT event_type AS grp,
             CAST(round(value * 1000000) AS BIGINT) AS xq
      FROM events
    ),
    g AS (
      SELECT grp, count(*) AS n, sum(xq) AS s, sum(xq * xq) AS qq
      FROM q GROUP BY grp
    ),
    terms AS (
      SELECT count(*) AS k, sum(n) AS nt, sum(s) AS st,
             list_aggregate(list({sd} * {sd} / n
                                 ORDER BY grp), 'sum') AS bsum,
             list_aggregate(list({qqd} ORDER BY grp), 'sum')
               AS qsum
      FROM g
    )
    SELECT CAST(k AS INT) AS k, CAST(nt AS BIGINT) AS nt,
           round(((bsum - {std} * {std} / nt)
                  / (k - 1))
                 / ((qsum - bsum) / (nt - k)) / 1.0, 6) AS f_stat
    FROM terms
    """.format(
        sd=duck_dec2d("s"), qqd=duck_dec2d("qq"), std=duck_dec2d("st")
    ),
    category="aggregates",
)
def stat_anova_f(spark, sf_dir):
    """One-way ANOVA F statistic across the five event types: are the
    group means distinguishable? Values micro-quantize to exact
    integers, so every per-group moment (n, Σx, Σx²) is an exact
    integer; the cross-group combination of the five per-group double
    terms folds in FIXED group order on both engines (array_sort +
    F.aggregate ↔ list(... ORDER BY grp) + list_aggregate) — the one
    place float addition happens is over an ordered 5-element list,
    never a shuffle. F = (SSB/(k-1)) / (SSW/(N-k)) derives at the end
    from one mirrored expression."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 1000000).cast("long").alias("xq"),
    )
    # Both moment sums in decimal(38,0) (Σxq ≈ 5e8·N wraps int64 past
    # N ≈ 2e10 rows; Σxq² much sooner), and the cast sits BEFORE the
    # square so the per-row product never forms in LongType.
    g = q.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xq").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("xq").cast("decimal(38,0)") * F.col("xq")
        ).alias("qq"),
    )
    terms = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "grp",
                            (
                                F.expr(spark_dec2d("s"))
                                * F.expr(spark_dec2d("s"))
                                / F.col("n")
                            ).alias("b"),
                        )
                    )
                ),
                lambda x: x["b"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("bsum"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("grp", F.expr(spark_dec2d("qq")).alias("qd"))
                    )
                ),
                lambda x: x["qd"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("qsum"),
    )
    # mirrored >2^53 decimal->double conversions (see stat_spearman)
    std = F.expr(spark_dec2d("st"))
    ntd = F.col("nt").cast("double")
    f = (
        (F.col("bsum") - std * std / F.col("nt"))
        / (F.col("k") - 1)
    ) / ((F.col("qsum") - F.col("bsum")) / (F.col("nt") - F.col("k")))
    return terms.select(
        F.col("k").cast("int").alias("k"),
        "nt",
        F.round(f / 1.0, 6).alias("f_stat"),
    )


@register(
    "stat_kruskal_wallis",
    oracle="""
    WITH cells AS (
      SELECT value, count(*) AS t FROM events GROUP BY value
    ),
    runs AS (
      SELECT value, t,
             sum(t) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS run_t
      FROM cells
    ),
    gv AS (
      SELECT event_type AS grp, value, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT grp, sum(c) AS n,
             sum(CAST(c AS HUGEINT) * (2 * run_t - t + 1)) AS r2
      FROM gv JOIN runs USING (value) GROUP BY grp
    ),
    ties AS (
      SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM cells
    ),
    terms AS (
      SELECT count(*) AS k, sum(n) AS nt,
             list_aggregate(list({r2d} * {r2d}
                                 / 4.0 / n ORDER BY grp), 'sum') AS ssum
      FROM g
    )
    SELECT CAST(k AS INT) AS k, CAST(nt AS BIGINT) AS n,
           round((12.0 / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) + 1.0))
                  * ssum - 3.0 * (CAST(nt AS DOUBLE) + 1.0))
                 / (1.0 - {t3}
                          / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
                             * CAST(nt AS DOUBLE) - CAST(nt AS DOUBLE))), 6)
             + 0 AS h
    FROM terms, ties
    """.format(r2d=duck_dec2d("r2"), t3=duck_dec2d("tie3")),
    category="aggregates",
)
def stat_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across the five event types — the rank-based
    (distribution-free) ANOVA, with the tie correction. No row-level
    global sort: average ranks come from DISTINCT-VALUE cells (the
    stat_mann_whitney_u plan) — midrank2 = 2*run_t - t + 1 is an exact
    integer per cell, run_t from the split-point-bucketed
    ``global_running_sum``. Every moment (n_g, rank sums, tie³) is an
    exact decimal(38,0) integer; the five per-group double terms
    R²/(4n) fold in FIXED group order on both engines (the
    stat_anova_f pattern), and H derives from one mirrored
    expression."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_running_sum,
    )

    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    ev = load_table(spark, sf_dir, "events")
    # One raw scan: the (group, value) cells are persisted and the
    # value cells DERIVE from them — count per value is exactly the
    # sum over groups of per-(group, value) counts, so the two-scan
    # form (round-14 audit) computed the same thing twice.
    gv = track(
        ev.groupBy(F.col("event_type").alias("grp"), "value")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cells = gv.groupBy("value").agg(F.sum("c").cast("long").alias("t"))
    runs = global_running_sum(cells, ["value"], ["t"])
    dec = "decimal(38,0)"
    g = gv.join(runs, "value").groupBy("grp").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.col("c").cast(dec) * (2 * F.col("run_t") - F.col("t") + 1)
        ).alias("r2"),
    )
    tie3 = (
        cells.agg(
            F.sum(
                F.col("t").cast(dec) * F.col("t") * F.col("t") - F.col("t")
            ).alias("tie3")
        )
    )
    terms = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "grp",
                            (
                                F.expr(spark_dec2d("r2"))
                                * F.expr(spark_dec2d("r2"))
                                / 4.0
                                / F.col("n")
                            ).alias("term"),
                        )
                    )
                ),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ssum"),
    )
    ntd = F.col("nt").cast("double")
    h = (
        12.0 / (ntd * (ntd + 1.0)) * F.col("ssum") - 3.0 * (ntd + 1.0)
    ) / (
        1.0 - F.expr(spark_dec2d("tie3")) / (ntd * ntd * ntd - ntd)
    )
    return terms.crossJoin(F.broadcast(tie3)).select(
        F.col("k").cast("int").alias("k"),
        F.col("nt").cast("long").alias("n"),
        F.round(h, 6).alias("h"),
    )


@register(
    "stat_chisq_gof",
    oracle="""
    WITH o AS (
      SELECT event_type, count(*) AS obs FROM events GROUP BY event_type
    ),
    d AS (
      SELECT obs,
             CAST(count(*) OVER () * obs - sum(obs) OVER () AS HUGEINT)
               AS dev
      FROM o
    ),
    t AS (
      SELECT count(*) AS k, sum(obs) AS n, sum(dev * dev) AS num FROM d
    )
    SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
           CAST((2 * num * 1000000 + k * n) // (2 * (k * n)) AS BIGINT)
             AS chi2_micro
    FROM t
    """,
    category="aggregates",
)
def stat_chisq_gof(spark, sf_dir):
    """Chi-squared goodness-of-fit of the event-type distribution
    against uniform, computed ENTIRELY in integers: with E = N/k,
    chi2 = sum (O - N/k)^2 / (N/k) = sum (k*O - N)^2 / (k*N) — the
    numerator is an exact decimal(38,0) sum of squared integer
    deviations, and the statistic renders as exact micro-units via
    pure-integer half-away division (functions/exact.py). No float
    forms anywhere, so the result is bit-identical at any scale."""
    from bigdata_financial_reporting_spark.functions.exact import (
        spark_half_div,
    )

    ev = load_table(spark, sf_dir, "events")
    o = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("obs"))
    dec = "decimal(38,0)"
    allw = Window.partitionBy()
    dev = (
        F.count(F.lit(1)).over(allw) * F.col("obs")
        - F.sum("obs").over(allw)
    ).cast(dec)
    t = o.select(
        F.col("obs"), dev.alias("dev")
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("obs").alias("n"),
        F.sum(F.col("dev") * F.col("dev")).alias("num"),
    )
    return t.select(
        F.col("k").cast("int").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.expr(spark_half_div("num * 1000000", "k * n"))
        .cast("long")
        .alias("chi2_micro"),
    )


@register(
    "stat_cohens_d",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 1000000) AS BIGINT) AS xq
      FROM events WHERE event_type IN ('click', 'view')
    ),
    g AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(xq AS HUGEINT)) AS s,
             sum(CAST(xq AS HUGEINT) * xq) AS q2
      FROM q GROUP BY event_type
    ),
    w AS (
      SELECT
        max(CASE WHEN event_type = 'click' THEN n END) AS n1,
        max(CASE WHEN event_type = 'click' THEN s END) AS s1i,
        max(CASE WHEN event_type = 'click' THEN q2 END) AS q1i,
        max(CASE WHEN event_type = 'view' THEN n END) AS n2,
        max(CASE WHEN event_type = 'view' THEN s END) AS s2i,
        max(CASE WHEN event_type = 'view' THEN q2 END) AS q2i
      FROM g
    ),
    wd AS (
      SELECT n1, n2, {s1} AS s1, {q1} AS q1, {s2} AS s2, {q2} AS q2d
      FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round((s1 / n1 - s2 / n2)
                 / sqrt(((q1 - s1 * s1 / n1) + (q2d - s2 * s2 / n2))
                        / (n1 + n2 - 2)) / 1000000.0 * 1000000.0, 6)
             + 0 AS cohens_d
    FROM wd
    """.format(
        s1=duck_dec2d("s1i"), q1=duck_dec2d("q1i"),
        s2=duck_dec2d("s2i"), q2=duck_dec2d("q2i"),
    ),
    category="aggregates",
)
def stat_cohens_d(spark, sf_dir):
    """Cohen's d effect size between the click and view value
    distributions (pooled-variance standardized mean difference).
    Values micro-quantize to exact integers so every moment (n, Σx,
    Σx²) is exact and order-independent; the statistic derives at the
    end from ONE fixed double expression mirrored verbatim (micro
    units cancel in the ratio — the explicit /1e6*1e6 keeps the two
    engines' expression trees identical)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    dec = "decimal(38,0)"
    q = ev.select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("xq"),
    )
    g = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xq").cast(dec)).alias("s"),
        F.sum(F.col("xq").cast(dec) * F.col("xq")).alias("q2"),
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = g.agg(
        pick("click", "n").alias("n1"),
        pick("click", "s").alias("s1i"),
        pick("click", "q2").alias("q1i"),
        pick("view", "n").alias("n2"),
        pick("view", "s").alias("s2i"),
        pick("view", "q2").alias("q2i"),
    ).select(
        "n1",
        "n2",
        # mirrored >2^53 decimal->double conversions (see stat_spearman)
        F.expr(spark_dec2d("s1i")).alias("s1"),
        F.expr(spark_dec2d("q1i")).alias("q1"),
        F.expr(spark_dec2d("s2i")).alias("s2"),
        F.expr(spark_dec2d("q2i")).alias("q2d"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    d = (
        (F.col("s1") / n1d - F.col("s2") / n2d)
        / F.sqrt(
            (
                (F.col("q1") - F.col("s1") * F.col("s1") / n1d)
                + (F.col("q2d") - F.col("s2") * F.col("s2") / n2d)
            )
            / (n1d + n2d - 2)
        )
        / 1000000.0
        * 1000000.0
    )
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(d, 6).alias("cohens_d"),
    )


@register(
    "stat_kendall_tau_b",
    oracle="""
    WITH o AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 30
    ),
    p AS (
      SELECT a.user_id,
             sum(CASE WHEN a.value < b.value THEN 1 ELSE 0 END) AS nc,
             sum(CASE WHEN a.value > b.value THEN 1 ELSE 0 END) AS nd,
             sum(CASE WHEN a.value = b.value THEN 1 ELSE 0 END) AS nty,
             count(*) AS n0
      FROM o a JOIN o b
        ON a.user_id = b.user_id AND a.rn < b.rn
      GROUP BY a.user_id
    )
    SELECT user_id, CAST(nc AS BIGINT) AS nc, CAST(nd AS BIGINT) AS nd,
           round(CAST(nc - nd AS DOUBLE)
                 / sqrt(CAST(n0 AS DOUBLE) * CAST(n0 - nty AS DOUBLE)), 6)
             + 0 AS tau_b
    FROM p
    """,
    category="aggregates",
)
def stat_kendall_tau_b(spark, sf_dir):
    """Kendall tau-b per user between arrival order and value (is the
    series trending?), tie-corrected on the value side (arrival rank
    has no ties, so tau_b = (C-D)/sqrt(n0*(n0-T)) with T the tied-value
    pairs). Pair counting is the O(n^2) self-join on a BOUNDED slice
    (30 users) — the exact ground-truth form; at corpus scale the
    per-key merge-sort inversion count replaces it, this key pins the
    semantics. Counts are exact integers; only the final tau divides
    (sqrt — irrational, so the 6dp rounding cannot sit on a decimal
    half)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    o = ev.select("user_id", "value", rn.alias("rn"))
    a = o.alias("a")
    b = o.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(
            F.sum(
                F.when(F.col("a.value") < F.col("b.value"), 1).otherwise(0)
            ).alias("nc"),
            F.sum(
                F.when(F.col("a.value") > F.col("b.value"), 1).otherwise(0)
            ).alias("nd"),
            F.sum(
                F.when(F.col("a.value") == F.col("b.value"), 1).otherwise(0)
            ).alias("nty"),
            F.count(F.lit(1)).alias("n0"),
        )
    )
    tau = (F.col("nc") - F.col("nd")).cast("double") / F.sqrt(
        F.col("n0").cast("double") * (F.col("n0") - F.col("nty")).cast("double")
    )
    return p.select(
        "user_id",
        F.col("nc").cast("long").alias("nc"),
        F.col("nd").cast("long").alias("nd"),
        F.round(tau, 6).alias("tau_b"),
    )


@register(
    "stat_runs_test",
    oracle="""
    WITH q AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 1000000) AS BIGINT) AS xq
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(xq, 0.5) AS med FROM q
      GROUP BY event_type
    ),
    sides AS (
      SELECT q.event_type, ts, event_id,
             CASE WHEN xq > med THEN 1 ELSE 0 END AS side
      FROM q JOIN med USING (event_type)
      WHERE xq <> med
    ),
    flagged AS (
      SELECT event_type, side,
             CASE WHEN lag(side) OVER w IS DISTINCT FROM side
                  THEN 1 ELSE 0 END AS new_run
      FROM sides
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    s AS (
      SELECT event_type,
             sum(new_run) AS r,
             sum(side) AS n1,
             sum(1 - side) AS n2
      FROM flagged GROUP BY event_type
    )
    SELECT event_type, CAST(r AS BIGINT) AS r,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round((CAST(r AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                           * (n1 + n2 - 1.0))), 6) + 0 AS z
    FROM s
    """,
    category="aggregates",
)
def stat_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test per event type: is the sequence of
    above/below-median values random in time, or does it cluster?
    Median comes from exact micro-int quantiles ((a+b)/2 of integers —
    exact in double on both engines); median-equal rows drop (standard
    practice, and it removes the one equality that could differ);
    runs count via the gaps-and-islands lag flag ordered by
    (ts, event_id). R, n1, n2 are exact integers; z's 6dp rounding
    sits behind a sqrt (irrational — never on a decimal half). The
    per-type window is a bounded partition here; at corpus scale the
    flag + sum pair buckets on split points like global_running_sum."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("xq"),
    )
    med = q.groupBy("event_type").agg(
        F.percentile("xq", F.lit(0.5)).alias("med")
    )
    sides = (
        q.join(F.broadcast(med), "event_type")
        .filter(F.col("xq") != F.col("med"))
        .select(
            "event_type",
            "ts",
            "event_id",
            F.when(F.col("xq") > F.col("med"), 1).otherwise(0).alias("side"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    flagged = sides.withColumn(
        "new_run",
        F.when(~F.lag("side").over(w).eqNullSafe(F.col("side")), 1).otherwise(
            0
        ),
    )
    s = flagged.groupBy("event_type").agg(
        F.sum("new_run").alias("r"),
        F.sum("side").alias("n1"),
        F.sum(1 - F.col("side")).alias("n2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    mu = 2.0 * n1d * n2d / (n1d + n2d) + 1.0
    sig = F.sqrt(
        2.0
        * n1d
        * n2d
        * (2.0 * n1d * n2d - n1d - n2d)
        / ((F.col("n1") + F.col("n2")).cast("double") * (n1d + n2d) * (n1d + n2d - 1.0))
    )
    return s.select(
        "event_type",
        F.col("r").cast("long").alias("r"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round((F.col("r").cast("double") - mu) / sig, 6).alias("z"),
    )


@register(
    "agg_kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT l_returnflag AS grp,
             (l_partkey * 2654435761) % 4294967296 AS hv
      FROM lineitem
    ),
    r AS (
      SELECT grp, hv,
             row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
      FROM h
    )
    SELECT grp,
           count(*) AS n_distinct_true,
           max(CASE WHEN rn = 64 THEN hv END) AS kth_min_hash,
           {duck_half_div(
               "63 * 4294967296", "max(CASE WHEN rn = 64 THEN hv END)"
           )} AS kmv_estimate
    FROM r
    GROUP BY grp
    """,
    category="aggregates",
)
def agg_kmv_distinct_sketch(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch per group, k=64:
    keep the k smallest hash values of the key and estimate
    |distinct| as (k-1) * 2^32 / h_(k).  The sketch is MERGEABLE
    (union of two groups = k smallest of the combined value sets), so
    at 100 TB each executor keeps a 64-value heap per group and the
    shuffle carries 64 rows/group — the same contract as HLL but with
    an exactly reproducible estimator: the hash is a fixed odd-
    multiplier mix mod 2^32 (bijective while the key < 2^32, so
    distinct keys <-> distinct hashes), and the estimate derives via
    integer half-away division — no floats anywhere.  Spark's
    rank<=k filter compiles to WindowGroupLimit, which prunes to the
    k smallest PER MAP PARTITION before the shuffle — the plan is the
    sketch.  True distinct count emitted alongside for an on-query
    accuracy audit."""
    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            ((F.col("l_partkey") * F.lit(2654435761)) % F.lit(4294967296)).alias(
                "hv"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("grp")
        .agg(
            F.max(F.when(F.col("rn") == 64, F.col("hv"))).alias(
                "kth_min_hash"
            )
        )
    )
    cnt = h.groupBy("grp").agg(F.count(F.lit(1)).alias("n_distinct_true"))
    return cnt.join(F.broadcast(sk), "grp").select(
        "grp",
        "n_distinct_true",
        "kth_min_hash",
        F.expr(spark_half_div("63 * 4294967296", "kth_min_hash")).alias(
            "kmv_estimate"
        ),
    )


@register(
    "stat_levene",
    oracle="""
    WITH med AS (
      SELECT event_type AS grp, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ),
    q AS (
      SELECT e.event_type AS grp,
             CAST(round(abs(e.value - m.med) * 1000000) AS BIGINT) AS zq
      FROM events e JOIN med m ON m.grp = e.event_type
    ),
    g AS (
      SELECT grp, count(*) AS n, sum(zq) AS s, sum(zq * zq) AS qq
      FROM q GROUP BY grp
    ),
    terms AS (
      SELECT count(*) AS k, sum(n) AS nt, sum(s) AS st,
             list_aggregate(list({sd} * {sd} / n ORDER BY grp), 'sum')
               AS bsum,
             list_aggregate(list({qqd} ORDER BY grp), 'sum') AS qsum
      FROM g
    )
    SELECT CAST(k AS INT) AS k, CAST(nt AS BIGINT) AS nt,
           round(((bsum - {std} * {std} / nt) / (k - 1))
                 / ((qsum - bsum) / (nt - k)) / 1000000000000.0, 6)
             AS levene_w
    FROM terms
    """.format(
        sd=duck_dec2d("s"), qqd=duck_dec2d("qq"), std=duck_dec2d("st")
    ),
    category="aggregates",
)
def stat_levene(spark, sf_dir):
    """Brown–Forsythe variance-homogeneity statistic across the event
    types (Levene's test with the group MEDIAN center — the robust
    form): W = ((N-k)/(k-1)) * SSB(z)/SSW(z) for z = |x - median_g|.
    Algebraically it is stat_anova_f applied to the absolute
    deviations, and it reuses that key's exactness discipline end to
    end: the per-group median is the exact interpolating percentile
    ROUNDED to 6dp on both engines before the subtraction (boundary
    rows cannot be engine-dependent), z micro-quantizes to exact
    integers, per-group moments (n, Σz, Σz²) sum in decimal(38,0),
    the k per-group double terms fold in FIXED group order (array_sort
    + F.aggregate ↔ list(ORDER BY grp) + list_aggregate), and the
    >2^53 moment casts go through the mirrored two-limb dec2d. The
    final /1e12 undoes the micro-unit square's scale so levene_w is in
    natural units. Plan: one shuffle for the medians (tiny broadcast
    back), one for the moments."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    q = ev.join(
        F.broadcast(med), ev.event_type == med.grp
    ).select(
        "grp",
        F.round(F.abs(F.col("value") - F.col("med")) * 1000000)
        .cast("long")
        .alias("zq"),
    )
    g = q.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("zq").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("zq").cast("decimal(38,0)") * F.col("zq")).alias("qq"),
    )
    terms = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "grp",
                            (
                                F.expr(spark_dec2d("s"))
                                * F.expr(spark_dec2d("s"))
                                / F.col("n")
                            ).alias("b"),
                        )
                    )
                ),
                lambda x: x["b"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("bsum"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("grp", F.expr(spark_dec2d("qq")).alias("qd"))
                    )
                ),
                lambda x: x["qd"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("qsum"),
    )
    std = F.expr(spark_dec2d("st"))
    w_stat = (
        (F.col("bsum") - std * std / F.col("nt")) / (F.col("k") - 1)
    ) / ((F.col("qsum") - F.col("bsum")) / (F.col("nt") - F.col("k")))
    return terms.select(
        F.col("k").cast("int").alias("k"),
        "nt",
        F.round(w_stat / 1000000000000.0, 6).alias("levene_w"),
    )


@register(
    "agg_theta_sketch_intersection",
    oracle="""
    WITH h AS (
      SELECT DISTINCT l_returnflag AS grp,
             (l_partkey * 2654435761) % 4294967296 AS hv
      FROM lineitem
    ),
    r AS (
      SELECT grp, hv,
             row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
      FROM h
    ),
    kth AS (
      SELECT grp, max(hv) AS kth_hv
      FROM r WHERE rn <= 64 GROUP BY grp
    ),
    sk AS (SELECT grp, hv FROM r WHERE rn <= 64),
    pairs AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b,
             least(ka.kth_hv, kb.kth_hv) AS theta,
             count(*) FILTER (
               WHERE a.hv = b.hv
                 AND a.hv < least(ka.kth_hv, kb.kth_hv)) AS n_common
      FROM sk a
      JOIN sk b ON a.hv = b.hv AND a.grp < b.grp
      JOIN kth ka ON ka.grp = a.grp
      JOIN kth kb ON kb.grp = b.grp
      GROUP BY a.grp, b.grp, least(ka.kth_hv, kb.kth_hv)
    ),
    truth AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common_true
      FROM h a JOIN h b ON a.hv = b.hv AND a.grp < b.grp
      GROUP BY a.grp, b.grp
    )
    SELECT p.grp_a, p.grp_b,
           CAST(p.n_common AS BIGINT) AS n_common_sketch,
           p.theta,
           CAST({est} AS BIGINT) AS inter_estimate,
           t.n_common_true
    FROM pairs p JOIN truth t
      ON t.grp_a = p.grp_a AND t.grp_b = p.grp_b
    """.format(est=duck_half_div("n_common * 4294967296", "theta")),
    category="aggregates",
)
def agg_theta_sketch_intersection(spark, sf_dir):
    """Theta-sketch set INTERSECTION between group pairs, built on the
    same k=64 KMV sketches as agg_kmv_distinct_sketch: for groups A, B
    take theta = min(kth_A, kth_B); the common hashes below theta are a
    uniform sample of A∩B at rate theta/2^32, so |A∩B| ≈ n_common *
    2^32 / theta — the mergeable-sketch way to estimate cross-segment
    overlap (audience overlap, split contamination) without a distinct
    join at scale: each side ships 64 integers per group. Everything
    is exact integer arithmetic end to end (the fixed odd-multiplier
    hash is bijective below 2^32, the estimate renders via integer
    half-away division), and the TRUE overlap rides along for an
    on-query accuracy audit — at 100 TB the truth column is the one
    you drop, not the sketch. The l_partkey hash space is shared
    across groups, so the sketch self-join touches 64·k rows."""
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    li = load_table(spark, sf_dir, "lineitem")
    # h feeds the sketch build AND both truth-join sides; r feeds the
    # kth threshold and the sketch rows — unpersisted, the raw table
    # was scanned six times per action (round-14 audit). Both frames
    # are distinct-(grp, hash)-sized and narrow; persisting them
    # restores one scan + one distinct shuffle + one ranking pass.
    h = track(
        li.select(
            F.col("l_returnflag").alias("grp"),
            ((F.col("l_partkey") * F.lit(2654435761)) % F.lit(4294967296)).alias(
                "hv"
            ),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w = Window.partitionBy("grp").orderBy("hv")
    r = track(
        h.withColumn("rn", F.row_number().over(w)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    kth = r.filter(F.col("rn") <= 64).groupBy("grp").agg(
        F.max("hv").alias("kth_hv")
    )
    sk = r.filter(F.col("rn") <= 64).select("grp", "hv")
    a = sk.alias("a")
    b = sk.alias("b")
    theta = F.least(F.col("ka.kth_hv"), F.col("kb.kth_hv"))
    pairs = (
        a.join(b, (F.col("a.hv") == F.col("b.hv")) & (F.col("a.grp") < F.col("b.grp")))
        .join(F.broadcast(kth.alias("ka")), F.col("ka.grp") == F.col("a.grp"))
        .join(F.broadcast(kth.alias("kb")), F.col("kb.grp") == F.col("b.grp"))
        .groupBy(
            F.col("a.grp").alias("grp_a"),
            F.col("b.grp").alias("grp_b"),
            theta.alias("theta"),
        )
        .agg(
            F.sum(
                F.when(F.col("a.hv") < theta, 1).otherwise(0)
            ).alias("n_common")
        )
    )
    truth = (
        h.alias("ta")
        .join(
            h.alias("tb"),
            (F.col("ta.hv") == F.col("tb.hv"))
            & (F.col("ta.grp") < F.col("tb.grp")),
        )
        .groupBy(
            F.col("ta.grp").alias("grp_a"), F.col("tb.grp").alias("grp_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common_true"))
    )
    return pairs.join(truth, ["grp_a", "grp_b"]).select(
        "grp_a",
        "grp_b",
        F.col("n_common").cast("long").alias("n_common_sketch"),
        "theta",
        F.expr(spark_half_div("n_common * 4294967296", "theta"))
        .cast("long")
        .alias("inter_estimate"),
        "n_common_true",
    )


@register(
    "stat_anova_two_way",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag AS a, l_linestatus AS b,
             count(*) AS n,
             sum(CAST(round(l_quantity) AS BIGINT)) AS s,
             sum(CAST(round(l_quantity) AS HUGEINT)
                 * CAST(round(l_quantity) AS BIGINT)) AS qq
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    am AS (SELECT a, sum(n) AS na, sum(s) AS sa FROM cells GROUP BY a),
    bm AS (SELECT b, sum(n) AS nb, sum(s) AS sb FROM cells GROUP BY b),
    tc AS (
      SELECT count(*) AS ncells, sum(n) AS nt, sum(s) AS st,
             sum(qq) AS qt,
             list_aggregate(list({sc} * {sc} / n ORDER BY a, b), 'sum')
               AS cells_term
      FROM cells
    ),
    ta AS (
      SELECT count(*) AS ka,
             list_aggregate(list({sa} * {sa} / na ORDER BY a), 'sum')
               AS a_term
      FROM am
    ),
    tb AS (
      SELECT count(*) AS kb,
             list_aggregate(list({sb} * {sb} / nb ORDER BY b), 'sum')
               AS b_term
      FROM bm
    )
    SELECT CAST(ka AS INT) AS ka, CAST(kb AS INT) AS kb,
           CAST(nt AS BIGINT) AS n,
           round(((a_term - {st} * {st} / nt) / (ka - 1))
                 / ((qt_d - cells_term) / (nt - ka * kb)), 6) AS f_a,
           round(((b_term - {st} * {st} / nt) / (kb - 1))
                 / ((qt_d - cells_term) / (nt - ka * kb)), 6) AS f_b,
           round(((cells_term - a_term - b_term + {st} * {st} / nt)
                  / ((ka - 1) * (kb - 1)))
                 / ((qt_d - cells_term) / (nt - ka * kb)), 6) AS f_ab
    FROM (SELECT *, {qt} AS qt_d FROM tc), ta, tb
    """.format(
        sc=duck_dec2d("s"),
        sa=duck_dec2d("sa"),
        sb=duck_dec2d("sb"),
        st=duck_dec2d("st"),
        qt=duck_dec2d("qt"),
    ),
    category="aggregates",
)
def stat_anova_two_way(spark, sf_dir):
    """Two-way factorial ANOVA with interaction over lineitem:
    factors A = l_returnflag, B = l_linestatus, response l_quantity
    (integral by fixture construction, so every moment is an exact
    integer). The factorial decomposition runs entirely on per-cell
    exact moments (n, Σx, Σx² in decimal(38,0) — the constant-state,
    two-shuffle stat_anova_f shape): SSA = Σ_a Sa²/na − S²/N,
    SSB likewise, SS_cells = Σ_c Sc²/nc − S²/N,
    SS_AB = SS_cells − SSA − SSB, SSW = ΣΣx² − Σ_c Sc²/nc, and
    F_X = (SS_X/df_X)/(SSW/df_W). Every per-cell/per-margin double
    term folds in FIXED (a, b) order on both engines (array_sort +
    F.aggregate ↔ list(ORDER BY) + list_aggregate — the stat_levene
    discipline) and the >2^53 moment casts go through the mirrored
    two-limb dec2d, so the statistic is bit-stable under any
    partitioning. Completes the stat_anova_f / stat_levene family
    with the interaction term (round-8 verdict, registry extension).
    Scale: the shuffle carries ka*kb cell rows of constant state —
    independent of corpus size."""
    from pyspark import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    li = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    # ka*kb rows of constant state with THREE consumers (total, A
    # margin, B margin) — unpersisted, each margin re-scanned and
    # re-aggregated the raw table (three full scans per action,
    # round-14 audit). Persisting the model-sized cell frame restores
    # the designed cost: one scan, one map-collapsed shuffle. The
    # coalesce(1) collapses the cached frame to a single partition
    # (ka*kb rows of constant state — never corpus-sized), so the
    # three consumers each read ONE task instead of a full
    # shuffle-partition fan of near-empty tasks (the round-14
    # regression: 0.46 -> 0.64 s from task overhead alone).
    cells = track(
        li.groupBy(
            F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(qty.cast("decimal(38,0)")).alias("s"),
            F.sum(qty.cast("decimal(38,0)") * qty).alias("qq"),
        )
        .coalesce(1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def fold_terms(order_cols, term_col):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(*order_cols, term_col.alias("t")))
                ),
                lambda x: x["t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sq_over_n = lambda s, n: (  # noqa: E731
        F.expr(spark_dec2d(s)) * F.expr(spark_dec2d(s)) / F.col(n)
    )
    tc = cells.agg(
        F.count(F.lit(1)).alias("ncells"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("qq").alias("qt"),
        fold_terms(["a", "b"], sq_over_n("s", "n")).alias("cells_term"),
    )
    am = cells.groupBy("a").agg(F.sum("n").alias("na"), F.sum("s").alias("sa"))
    ta = am.agg(
        F.count(F.lit(1)).alias("ka"),
        fold_terms(["a"], sq_over_n("sa", "na")).alias("a_term"),
    )
    bm = cells.groupBy("b").agg(F.sum("n").alias("nb"), F.sum("s").alias("sb"))
    tb = bm.agg(
        F.count(F.lit(1)).alias("kb"),
        fold_terms(["b"], sq_over_n("sb", "nb")).alias("b_term"),
    )
    j = tc.crossJoin(ta).crossJoin(tb)
    std = F.expr(spark_dec2d("st"))
    grand = std * std / F.col("nt")
    qt_d = F.expr(spark_dec2d("qt"))
    ssw = qt_d - F.col("cells_term")
    dfw = F.col("nt") - F.col("ka") * F.col("kb")
    msw = ssw / dfw
    ssa = F.col("a_term") - grand
    ssb = F.col("b_term") - grand
    ssab = F.col("cells_term") - F.col("a_term") - F.col("b_term") + grand
    return j.select(
        F.col("ka").cast("int").alias("ka"),
        F.col("kb").cast("int").alias("kb"),
        F.col("nt").alias("n"),
        F.round((ssa / (F.col("ka") - 1)) / msw, 6).alias("f_a"),
        F.round((ssb / (F.col("kb") - 1)) / msw, 6).alias("f_b"),
        F.round(
            (ssab / ((F.col("ka") - 1) * (F.col("kb") - 1))) / msw, 6
        ).alias("f_ab"),
    )


@register(
    "agg_tdigest_quantiles",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    ranked AS (
      SELECT vc,
             row_number() OVER (ORDER BY vc, l_orderkey, l_linenumber)
               AS r,
             count(*) OVER () AS n
      FROM v
    ),
    scaled AS (
      SELECT vc,
             CAST(2 * r - n AS DOUBLE) / CAST(n AS DOUBLE) AS t
      FROM ranked
    ),
    bucketed AS (
      SELECT vc,
             LEAST(CAST(floor(50.0 * (1.0 + t * t * t)) AS INT), 99)
               AS bucket
      FROM scaled
    ),
    cents_agg AS (
      SELECT bucket,
             count(*) AS n_rows,
             sum(CAST(vc AS HUGEINT)) AS s,
             min(vc) AS lo_c,
             max(vc) AS hi_c
      FROM bucketed GROUP BY bucket
    )
    SELECT bucket,
           CAST(n_rows AS BIGINT) AS n_rows,
           ({dec2d} / 100.0) AS sum_price,
           (CAST(lo_c AS DOUBLE) / 100.0) AS lo,
           (CAST(hi_c AS DOUBLE) / 100.0) AS hi,
           coalesce(
             lo_c >= lag(hi_c) OVER (ORDER BY bucket), TRUE
           ) AS ordered_ok
    FROM cents_agg
    """.format(dec2d=duck_dec2d("s")),
    category="aggregates",
)
def agg_tdigest_quantiles(spark, sf_dir):
    """t-digest-style quantile sketch, built deterministically and
    oracle-EXACT: values get a global rank under a total order, the
    t-digest scale function maps rank quantiles to cluster ids —
    finer clusters at the tails, the digest's defining property —
    and each cluster emits exact centroid moments (count, integer-
    cents sum, min/max). This is the canonical BATCH construction
    (digest of a fully sorted stream); the merge-based streaming
    construction is arrival-order-dependent by design and therefore
    cannot be oracle-exact — the sorted build is what a lakehouse
    computes at rest, and its clusters are mergeable state.

    Exactness: the classic asin scale is transcendental (engine libm
    would diverge), so this uses the all-RATIONAL tail-accurate scale
    k(q) = 50 * (1 + (2q-1)^3), whose k'(q) = 300(2q-1)^2 is maximal
    at the tails (fine tail clusters, one wide median cluster). With
    integer rank r and count N (both exact doubles below 2^53), the
    bucket floor(50*(1+t^3)), t=(2r-N)/N, is ONE identical IEEE
    sequence on both engines — the spark_dec2d mirroring argument —
    so cluster membership is bit-stable, and every emitted moment is
    exact-integer. `ordered_ok` is the in-band witness that clusters
    tile the value axis (each cluster's min >= previous cluster's
    max — true by the rank construction, pinned so a bucketing bug
    fails the hash).

    Scale: the global rank is operators/global_window.global_row_number
    — ONE shuffle of the data into split-point buckets + a broadcast of
    per-bucket offsets, never the single-task global window. N is the
    input's row count (the sum of the per-bucket counts), a column-free
    count of the scan rather than a second run of the ranking. The loud
    N-guard keeps t exact (2r-N must stay below 2^53; beyond ~4.5e15
    rows, pre-aggregate to distinct-value cells first)."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_row_number,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("vc"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_row_number(
        li, ["vc", "l_orderkey", "l_linenumber"], out_col="r"
    )
    n_total = li.count()
    if not 0 < n_total < 4.5e15:
        raise ValueError(
            "agg_tdigest_quantiles: row count outside the exact-double "
            "rank domain (2r-N must stay below 2^53) — pre-aggregate "
            "to distinct-value cells first"
        )
    t = (2 * F.col("r") - F.lit(n_total)).cast("double") / F.lit(
        float(n_total)
    )
    bucketed = ranked.select(
        "vc",
        F.least(
            F.floor(F.lit(50.0) * (F.lit(1.0) + t * t * t)).cast("int"),
            F.lit(99),
        ).alias("bucket"),
    )
    agg = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("vc").cast("decimal(38,0)")).alias("s"),
        F.min("vc").alias("lo_c"),
        F.max("vc").alias("hi_c"),
    )
    # 101-bucket witness window: bounded rows, plain global order is fine
    w = Window.orderBy("bucket")
    return agg.select(
        "bucket",
        "n_rows",
        (F.expr(spark_dec2d("s")) / F.lit(100.0)).alias("sum_price"),
        (F.col("lo_c").cast("double") / F.lit(100.0)).alias("lo"),
        (F.col("hi_c").cast("double") / F.lit(100.0)).alias("hi"),
        F.coalesce(
            F.col("lo_c") >= F.lag("hi_c").over(w), F.lit(True)
        ).alias("ordered_ok"),
    )


@register(
    "stat_wilcoxon_signed_rank",
    oracle="""
    WITH d AS (
      SELECT CAST(round(l_tax * 100) AS BIGINT)
             - CAST(round(l_discount * 100) AS BIGINT) AS d
      FROM lineitem
    ),
    nz AS (SELECT d, abs(d) AS ad FROM d WHERE d <> 0),
    cells AS (
      SELECT ad, count(*) AS t,
             count(*) FILTER (d > 0) AS cpos
      FROM nz GROUP BY ad
    ),
    runs AS (
      SELECT ad, t, cpos,
             sum(t) OVER (ORDER BY ad
                          ROWS UNBOUNDED PRECEDING) AS run_t
      FROM cells
    ),
    s AS (
      SELECT sum(CAST(t AS HUGEINT)) AS n,
             sum(CAST(cpos AS HUGEINT) * (2 * run_t - t + 1)) AS w2,
             sum(CAST(t AS HUGEINT) * t * t - t) AS tie3
      FROM runs
    )
    SELECT CAST(n AS BIGINT) AS n_nonzero,
           CAST(w2 AS BIGINT) AS w_plus_x2,
           round(({w2d} / 2
                  - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
                        * (2 * CAST(n AS DOUBLE) + 1) / 24
                        - {t3} / 48), 6) + 0 AS z
    FROM s
    """.format(t3=duck_dec2d("tie3"), w2d=duck_dec2d("w2")),
    category="aggregates",
)
def stat_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test on the PAIRED per-row difference
    d = cents(l_tax) - cents(l_discount) — the nonparametric paired
    sibling of stat_mann_whitney_u (two independent samples) that
    completes the classic rank-test family (MW-U, Kruskal-Wallis,
    runs, Spearman, Kendall). Zeros are discarded (the standard
    Wilcoxon reduction), |d| is ranked ascending with midranks under
    ties via the doubled-rank identity avg_rank*2 = 2C + t + 1 over
    the per-DISTINCT-|d| count table, so W+*2 = SUM cpos*(2*run_t - t
    + 1) is an exact integer. The running sum goes through
    ``global_running_sum`` (split-point buckets, two-phase, no row-level
    global sort — the stat_mann_whitney_u / agg_ks_twosample posture);
    the cell table is AT MOST ~19 rows here (cents differences in
    [-10, 8]) and bounded by the |d| domain generally, so the offset
    window is trivial at any corpus size. Rank-sum and tie moments
    accumulate in decimal(38,0) (W+*2 grows ~n*(2n+1), tie3 as t^3 —
    both past int64 in the low billions: the Spearman wrap class);
    the tie-corrected z is ONE fixed double expression over exact
    integers, mirrored token-for-token in the oracle, with the
    DuckDB-side `+ 0` normalizing a rounded -0.0."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_running_sum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    d = (cents(F.col("l_tax")) - cents(F.col("l_discount"))).alias("d")
    nz = li.select(d).filter(F.col("d") != 0)
    cells = nz.groupBy(F.abs(F.col("d")).alias("ad")).agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("cpos"),
    )
    runs = global_running_sum(cells, ["ad"], ["t"])
    dec = "decimal(38,0)"
    s = runs.agg(
        F.sum(F.col("t").cast(dec)).alias("n"),
        F.sum(
            F.col("cpos").cast(dec)
            * (2 * F.col("run_t") - F.col("t") + 1)
        ).alias("w2"),
        F.sum(
            F.col("t").cast(dec) * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie3"),
    )
    nd = F.col("n").cast("double")
    # w2 grows ~2n^2 and crosses 2^53 near 70M rows — render through
    # the MIRRORED two-limb decomposition, not a plain cast (the
    # fin_kurtosis_returns double-rounding trap on DuckDB's HUGEINT)
    z = (
        F.expr(spark_dec2d("w2")) / 2 - nd * (nd + 1) / 4
    ) / F.sqrt(
        nd * (nd + 1) * (2 * nd + 1) / 24
        - F.expr(spark_dec2d("tie3")) / 48
    )
    return s.select(
        F.col("n").cast("long").alias("n_nonzero"),
        F.col("w2").cast("long").alias("w_plus_x2"),
        F.round(z, 6).alias("z"),
    )


@register(
    "stat_friedman",
    oracle="""
    WITH cell AS (
      SELECT user_id, event_type,
             sum(CAST(round(value * 1000000.0) AS HUGEINT)) AS v
      FROM events GROUP BY 1, 2
    ),
    kk AS (SELECT count(DISTINCT event_type) AS k FROM events),
    blocks AS (
      SELECT user_id, event_type, v,
             count(*) OVER (PARTITION BY user_id) AS bs
      FROM cell
    ),
    r AS (
      SELECT user_id, event_type,
             rank() OVER (PARTITION BY user_id ORDER BY v)
             + count(*) OVER (PARTITION BY user_id ORDER BY v
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS r2
      FROM blocks, kk WHERE bs = kk.k
    ),
    g AS (
      SELECT event_type,
             sum(CAST(r2 AS HUGEINT)) AS rj2,
             sum(CAST(r2 AS HUGEINT) * r2) AS rsq,
             count(*) AS nb
      FROM r GROUP BY event_type
    ),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS k,
             CAST(max(nb) AS HUGEINT) AS n,
             sum(rj2 * rj2) AS srj2,
             sum(rsq) AS sr2
      FROM g
    ),
    f AS (
      SELECT k, n,
             srj2 - n * n * k * (k + 1) * (k + 1) AS num4,
             sr2 - n * k * (k + 1) * (k + 1) AS den4
      FROM s
    )
    SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n_blocks,
           round((CAST(k AS DOUBLE) - 1.0) * {num} / {den}, 6) + 0
             AS q_stat
    FROM f
    """.format(num=duck_dec2d("num4"), den=duck_dec2d("den4")),
    category="aggregates",
)
def stat_friedman(spark, sf_dir):
    """Friedman test (repeated-measures rank ANOVA) — blocks are
    instruments (user_id), treatments are the k event types, the cell
    statistic is the exact micro-quantized value sum. Completes the
    classic rank-test family (Mann-Whitney U two-sample, Kruskal-
    Wallis k independent samples, Wilcoxon signed-rank paired; this is
    the k-treatment blocked design). Only COMPLETE blocks enter (the
    textbook reduction): a block must hold all k treatments, checked
    against the global distinct-treatment count. Within-block doubled
    midranks are exact integers from ONE window spec — r2 = rank() +
    count(RANGE <= current) = 2*cnt_less + t + 1 — so both window
    functions share the single (block) exchange and sort; blocks are
    k-row groups, so the per-block sort is constant-size at any corpus
    scale. Rank sums, their squares, and the tie-adjusted total
    SUM r2^2 accumulate in decimal(38,0); the tie-corrected statistic
    Q = (k-1)(4*sum Rj^2 - n^2 k(k+1)^2) / (4*sum r^2 - n k(k+1)^2)
    (stated here in doubled-rank form, so every term is integer) is
    ONE mirrored double expression over two-limb dec2d renders."""
    ev = load_table(spark, sf_dir, "events")
    micro = F.round(F.col("value") * 1000000.0).cast("long")
    dec = "decimal(38,0)"
    # The cell frame feeds both the ranking pipeline and the global
    # treatment count: groupBy(user_id, event_type) preserves the
    # distinct event_type set exactly, so countDistinct over cells
    # equals countDistinct over raw rows.
    cell = ev.groupBy("user_id", "event_type").agg(
        F.sum(micro.cast(dec)).alias("v")
    )
    kk = cell.agg(F.countDistinct("event_type").alias("k"))
    w_blk = Window.partitionBy("user_id")
    w_ord = Window.partitionBy("user_id").orderBy("v")
    w_le = (
        Window.partitionBy("user_id")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    blocks = cell.withColumn("bs", F.count(F.lit(1)).over(w_blk))
    r = (
        blocks.crossJoin(F.broadcast(kk))
        .filter(F.col("bs") == F.col("k"))
        .select(
            "user_id",
            "event_type",
            (F.rank().over(w_ord) + F.count(F.lit(1)).over(w_le)).alias(
                "r2"
            ),
        )
    )
    g = r.groupBy("event_type").agg(
        F.sum(F.col("r2").cast(dec)).alias("rj2"),
        F.sum(F.col("r2").cast(dec) * F.col("r2")).alias("rsq"),
        F.count(F.lit(1)).alias("nb"),
    )
    s = g.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.max("nb").cast(dec).alias("n"),
        F.sum(F.col("rj2") * F.col("rj2")).alias("srj2"),
        F.sum("rsq").alias("sr2"),
    )
    f = s.select(
        "k",
        "n",
        (
            F.col("srj2")
            - F.col("n") * F.col("n") * F.col("k")
            * (F.col("k") + 1) * (F.col("k") + 1)
        ).alias("num4"),
        (
            F.col("sr2")
            - F.col("n") * F.col("k")
            * (F.col("k") + 1) * (F.col("k") + 1)
        ).alias("den4"),
    )
    q = (
        (F.col("k").cast("double") - 1.0)
        * F.expr(spark_dec2d("num4"))
        / F.expr(spark_dec2d("den4"))
    )
    return f.select(
        F.col("k").cast("int").alias("k"),
        F.col("n").cast("long").alias("n_blocks"),
        F.round(q, 6).alias("q_stat"),
    )


@register(
    "stat_bartlett",
    oracle="""
    WITH q AS (
      SELECT event_type AS grp,
             CAST(round(value * 1000000.0) AS BIGINT) AS vq
      FROM events
    ),
    g AS (
      SELECT grp, count(*) AS n,
             sum(CAST(vq AS HUGEINT)) AS s1,
             sum(CAST(vq AS HUGEINT) * vq) AS s2
      FROM q GROUP BY grp HAVING count(*) >= 2
    ),
    ss AS (
      SELECT grp, n, CAST(n AS HUGEINT) * s2 - s1 * s1 AS ssn FROM g
    ),
    terms AS (
      SELECT count(*) AS k, sum(n) AS nt,
             list_aggregate(list({ssnd} / CAST(n AS DOUBLE)
                                 ORDER BY grp), 'sum') AS ssp,
             list_aggregate(list((CAST(n AS DOUBLE) - 1.0)
                                 * ln({ssnd}
                                      / (CAST(n AS DOUBLE)
                                         * (CAST(n AS DOUBLE) - 1.0)))
                                 ORDER BY grp), 'sum') AS lnsum,
             list_aggregate(list(1.0 / (CAST(n AS DOUBLE) - 1.0)
                                 ORDER BY grp), 'sum') AS invsum
      FROM ss
    )
    SELECT CAST(k AS INT) AS k, CAST(nt AS BIGINT) AS nt,
           round(((CAST(nt AS DOUBLE) - CAST(k AS DOUBLE))
                  * ln(ssp / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)))
                  - lnsum)
                 / (1.0 + (invsum
                           - 1.0 / (CAST(nt AS DOUBLE)
                                    - CAST(k AS DOUBLE)))
                          / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6) + 0
             AS bartlett_t
    FROM terms
    """.format(ssnd=duck_dec2d("ssn")),
    category="aggregates",
)
def stat_bartlett(spark, sf_dir):
    """Bartlett's variance-homogeneity test across the event types —
    the parametric sibling of stat_levene (Brown-Forsythe), completing
    the homoscedasticity pair: T = [(N-k) ln Sp^2 - SUM (n_i-1) ln
    S_i^2] / C with C the small-sample correction. Values
    micro-quantize to exact integers; each group's corrected
    sum-of-squares NUMERATOR ssn = n*s2 - s1^2 is an exact
    decimal(38,0), so the only floats are the per-group doubles
    ssn/n (= SS_i) and the ln terms, every one folded in FIXED group
    order (array_sort + F.aggregate <-> list(ORDER BY grp) +
    list_aggregate, the stat_anova_f canon) and mirrored
    token-for-token. The micro^2 unit cancels identically: SUM
    (n_i-1) = N-k, so the unit's ln offsets subtract out of T —
    no rescale is needed or applied. ln is the SURVEY 7.5
    mirrored-IEEE single-expression float class (1-ulp libm
    divergence only moves the 6dp round at measure-zero boundaries).
    Groups need n_i >= 2 (variance df). One shuffle on the group key;
    k-row state thereafter."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    vq = F.round(F.col("value") * 1000000.0).cast("long")
    g = (
        ev.select(F.col("event_type").alias("grp"), vq.alias("vq"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("vq").cast(dec)).alias("s1"),
            F.sum(F.col("vq").cast(dec) * F.col("vq")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    ss = g.select(
        "grp",
        "n",
        (F.col("n").cast(dec) * F.col("s2") - F.col("s1") * F.col("s1")).alias(
            "ssn"
        ),
    )
    nd = F.col("n").cast("double")
    ssnd = F.expr(spark_dec2d("ssn"))

    def fold(term):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("grp", term.alias("t")))),
                lambda x: x["t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    terms = ss.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        fold(ssnd / nd).alias("ssp"),
        fold(
            (nd - 1.0) * F.log(ssnd / (nd * (nd - 1.0)))
        ).alias("lnsum"),
        fold(1.0 / (nd - 1.0)).alias("invsum"),
    )
    ntd = F.col("nt").cast("double")
    kd = F.col("k").cast("double")
    t = (
        (ntd - kd) * F.log(F.col("ssp") / (ntd - kd)) - F.col("lnsum")
    ) / (
        1.0
        + (F.col("invsum") - 1.0 / (ntd - kd)) / (3.0 * (kd - 1.0))
    )
    return terms.select(
        F.col("k").cast("int").alias("k"),
        F.col("nt").cast("long").alias("nt"),
        F.round(t, 6).alias("bartlett_t"),
    )
