"""Source/sink queries (SURVEY.md §2B.1): format roundtrips prove the
read AND write paths against parquet ground truth.

Each roundtrip writes the fixture to a temp dir in the target format
with an explicit schema (never inferSchema — SURVEY §7.4), reads it
back, and the oracle compares against the original parquet content.
The temp dir is a per-call ``scratch_dir``: the returned frame reads it
lazily, and ``release_operator_caches()`` removes it.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.functions import exact as _exact
from bigdata_financial_reporting_spark.operators.cache import scratch_dir
from bigdata_financial_reporting_spark.queries.registry import register
from bigdata_financial_reporting_spark.sources.catalog import TABLE_SCHEMAS, load_table
from bigdata_financial_reporting_spark.sources.readers import read_csv, read_json
from bigdata_financial_reporting_spark.sources.writers import (
    write_parquet,
    write_single_csv,
)


@register(
    "src_parquet_scan",
    oracle="SELECT r_regionkey, r_name FROM region",
    category="sources",
)
def src_parquet_scan(spark, sf_dir):
    """Plain parquet scan — the engine's native source."""
    return load_table(spark, sf_dir, "region")


@register(
    "src_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    category="sources",
)
def src_csv_roundtrip(spark, sf_dir):
    """CSV sink + scan (reference R6/R13 generalization): write the
    nation table as headered CSV, read it back with an explicit
    schema."""
    n = load_table(spark, sf_dir, "nation")
    tmp = os.path.join(scratch_dir("bdfr_csv_"), "nation_csv")
    n.write.mode("overwrite").option("header", "true").csv(tmp)
    return read_csv(spark, tmp, schema=TABLE_SCHEMAS["nation"])


@register(
    "src_json_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 6) AS s_acctbal FROM supplier",
    category="sources",
)
def src_json_roundtrip(spark, sf_dir):
    """JSON-lines sink + scan with explicit schema."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 6).alias("s_acctbal")
    )
    tmp = os.path.join(scratch_dir("bdfr_json_"), "supplier_json")
    s.write.mode("overwrite").json(tmp)
    return read_json(spark, tmp, schema=s.schema)


@register(
    "src_parquet_partitioned_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 6) AS o_totalprice
    FROM orders
    """,
    category="sources",
)
def src_parquet_partitioned_roundtrip(spark, sf_dir):
    """Hive-partitioned parquet sink (partitionBy status) + scan —
    the layout that enables partition pruning at 100 TB. Partition
    values come back from directory names; content must match."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 6).alias("o_totalprice")
    )
    tmp = os.path.join(scratch_dir("bdfr_pq_"), "orders_part")
    write_parquet(o, tmp, partition_by=["o_orderstatus"])
    back = spark.read.parquet(tmp)
    return back.select(
        "o_orderkey", F.col("o_orderstatus").cast("string").alias("o_orderstatus"), "o_totalprice"
    )


@register(
    "src_in_memory",
    oracle="""
    -- CAST: a bare 1.5 literal is DECIMAL(2,1) in DuckDB while the
    -- Spark schema declares double; the driver-strict canon compares
    -- types, not just values (round-6 strictness upgrade)
    SELECT id, name, CAST(score AS DOUBLE) AS score
    FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', NULL))
      AS t(id, name, score)
    """,
    category="sources",
)
def src_in_memory(spark, sf_dir):
    """In-memory source: createDataFrame with explicit schema."""
    return spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", None)],
        schema="id int, name string, score double",
    )


@register(
    "src_single_csv_sink",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS qty
    FROM lineitem GROUP BY l_returnflag
    """,
    category="sources",
)
def src_single_csv_sink(spark, sf_dir):
    """write_single_csv helper (replaces the reference's coalesce(1) +
    part-file rename dance, app.py:457-491): small agg out to ONE csv
    file, read back."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty")
    )
    path = os.path.join(scratch_dir("bdfr_scsv_"), "agg.csv")
    write_single_csv(agg, path)
    return read_csv(
        spark, path, schema="l_returnflag string, n long, qty double"
    )


@register(
    "src_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 6) AS acctbal
    FROM supplier
    """,
    category="sources",
)
def src_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan: the second columnar format Spark supports
    natively (vectorized reader, predicate pushdown). DuckDB cannot
    read ORC, so the oracle checks the roundtripped CONTENT against the
    parquet ground truth — which is exactly the property that matters."""
    s = load_table(spark, sf_dir, "supplier")
    tmp = os.path.join(scratch_dir("bdfr_orc_"), "supplier_orc")
    s.write.mode("overwrite").orc(tmp)
    back = spark.read.schema(TABLE_SCHEMAS["supplier"]).orc(tmp)
    return back.select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 6).alias("acctbal")
    )


@register(
    "src_split_export_roundtrip",
    oracle="""
    SELECT split, doc_id, lang
    FROM (
      SELECT CASE
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                         AS BIGINT) % 10 < 8 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                         AS BIGINT) % 10 = 8 THEN 'val'
               ELSE 'test'
             END AS split,
             doc_id, lang
      FROM documents
    )
    """,
    category="sources",
)
def src_split_export_roundtrip(spark, sf_dir):
    """Training-data export: documents written Hive-partitioned by the
    deterministic train/val/test split (same md5 assignment as
    split_train_test), then read back through partition discovery.
    This is the layout a downstream trainer consumes — per-split
    directories, loadable independently — and the roundtrip proves the
    partition values survive the directory encoding."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10
    )
    split = F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    out = d.select(split.alias("split"), "doc_id", "lang")
    tmp = os.path.join(scratch_dir("bdfr_split_"), "docs_by_split")
    write_parquet(out, tmp, partition_by=["split"])
    back = spark.read.parquet(tmp)
    return back.select(
        F.col("split").cast("string").alias("split"), "doc_id", "lang"
    )


@register(
    "src_schema_evolution_merge",
    oracle="""
    SELECT doc_id, text, NULL AS lang, NULL AS n_chars, 'v1' AS batch
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, NULL AS text, lang, n_chars, 'v2' AS batch
    FROM documents WHERE doc_id % 2 = 1
    """,
    category="sources",
)
def src_schema_evolution_merge(spark, sf_dir):
    """Schema evolution on a parquet directory: two writer generations
    land batches with DIFFERENT column sets (v1: doc_id+text, v2:
    doc_id+lang+n_chars) under one root, and ``mergeSchema=true``
    reads the union schema with nulls where a batch lacks a column —
    the append-only data-lake pattern where producers add columns over
    time. Merge happens at footer level (per-file schemas union on the
    driver); row groups are never rewritten, so evolution is free at
    100 TB. The batch id doubles as the discriminator column."""
    d = load_table(spark, sf_dir, "documents")
    root = scratch_dir("bdfr_schema_merge_")
    v1 = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", F.lit("v1").alias("batch")
    )
    v2 = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars", F.lit("v2").alias("batch")
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "gen_v1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "gen_v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen_v1"), os.path.join(root, "gen_v2")
    )
    return merged.select("doc_id", "text", "lang", "n_chars", "batch")


@register(
    "src_bucketed_colocated_join",
    oracle="""
    SELECT c.c_nationkey,
           count(*) AS n_orders,
           {rev} / 100.0 AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """.format(
        rev=_exact.duck_dec2d(
            "sum(" + _exact.duck_cents("o.o_totalprice") + ")"
        )
    ),
    category="sources",
)
def src_bucketed_colocated_join(spark, sf_dir):
    """Bucketed-table co-located join as a driver-checked roundtrip:
    orders and customer are written bucketed on the join key (8
    buckets each), then joined through the table catalog — the layout
    under which the join needs ZERO shuffle (each task reads matching
    bucket files from both sides; that plan property is pinned with
    broadcast disabled in tests/test_bucketing.py). At 100 TB this
    converts the recurring fact-fact join cost from a full shuffle per
    query into a one-time layout cost at write. The oracle checks the
    content survives the bucketed write+catalog read roundtrip."""
    from bigdata_financial_reporting_spark.sources.writers import write_bucketed

    root = scratch_dir("bdfr_bucketed_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    write_bucketed(
        o, "bdfr_q_orders", ["o_custkey"], 8, path=os.path.join(root, "o")
    )
    write_bucketed(
        c, "bdfr_q_customer", ["c_custkey"], 8, path=os.path.join(root, "c")
    )
    joined = spark.table("bdfr_q_orders").join(
        spark.table("bdfr_q_customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_exact.cents(F.col("o_totalprice"))).alias("rev_c"),
        )
        .select(
            "c_nationkey",
            "n_orders",
            (F.expr(_exact.spark_dec2d("rev_c")) / 100.0).alias("revenue"),
        )
    )


@register(
    "src_python_datasource",
    oracle="""
    WITH t AS (
      SELECT unnest(generate_series(0, 999)) AS tick_id
    ),
    px AS (
      SELECT tick_id, tick_id % 8 AS series,
             50.0 + 10.0 * ((tick_id * 37) % 100) / 100.0 AS px
      FROM t
    )
    SELECT series, count(*) AS n,
           round(avg(px), 6) AS avg_px,
           round(min(px), 6) AS min_px,
           round(max(px), 6) AS max_px
    FROM px GROUP BY series
    """,
    category="sources",
)
def src_python_datasource(spark, sf_dir):
    """Custom connector via the Spark 4 Python Data Source API: a
    registered DataSource class supplies schema + input partitions on
    the driver and a per-partition row generator on executors — the
    same split contract a file source has, so a bespoke feed (REST
    cursor, queue, proprietary format) parallelises like parquet. The
    source's rows are pure integer arithmetic, so the oracle
    regenerates them exactly from generate_series."""
    from bigdata_financial_reporting_spark.sources.python_source import (
        TickerDataSource,
    )

    try:
        spark.dataSource.register(TickerDataSource)
    except Exception:
        pass  # already registered in this session
    ticks = (
        spark.read.format("bdfr_ticker")
        .option("n", "1000")
        .option("partitions", "4")
        .load()
    )
    return ticks.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("px"), 6).alias("avg_px"),
        F.round(F.min("px"), 6).alias("min_px"),
        F.round(F.max("px"), 6).alias("max_px"),
    )


@register(
    "src_text_lines_roundtrip",
    oracle="""
    SELECT CAST(substr(line, 1, strpos(line, chr(9)) - 1) AS BIGINT) AS doc_id,
           length(substr(line, strpos(line, chr(9)) + 1)) AS n_chars,
           len(list_filter(string_split_regex(
             substr(line, strpos(line, chr(9)) + 1), '\\s+'), t -> t <> ''))
             AS n_tokens
    FROM (
      SELECT CAST(doc_id AS VARCHAR) || chr(9)
             || regexp_replace(text, '[\r\n]', ' ', 'g') AS line
      FROM documents
    )
    """,
    category="sources",
)
def src_text_lines_roundtrip(spark, sf_dir):
    """Plain-text source/sink roundtrip (``spark.read.text`` — the
    format raw web-scrape corpora actually arrive in): write one
    tab-prefixed line per document, read the directory back as a
    line stream, and re-derive id/length/token stats from the raw
    line. Text files have no schema and no row order guarantee across
    part-files — the id travels IN the line, which is the pattern a
    real pipeline uses (jsonl/tsv), so the roundtrip is
    order-independent. Embedded line terminators in a document would
    split it into multiple lines on read-back (NULL ids, silently
    wrong stats — ADVICE round 4), so the line builder escapes
    ``[\\r\\n]`` to a space (length- and token-preserving; mirrored in
    the oracle) to make the one-doc-one-line contract hold for
    arbitrary corpora. Line splitting and parsing are codegen
    expressions; the sink keeps the source's partitioning (no
    coalesce(1) single-writer funnel)."""
    d = load_table(spark, sf_dir, "documents")
    path = os.path.join(scratch_dir("bdfr_text_lines_"), "lines")
    lines = d.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.regexp_replace("text", "[\\r\\n]", " "),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    body = F.expr("substring(value, instr(value, '\t') + 1)")
    return back.select(
        F.expr("cast(substring(value, 1, instr(value, '\t') - 1) AS bigint)").alias(
            "doc_id"
        ),
        F.length(body).cast("long").alias("n_chars"),
        F.size(F.filter(F.split(body, r"\s+"), lambda t: t != "")).cast(
            "long"
        ).alias("n_tokens"),
    )


@register(
    "src_csv_corrupt_handling",
    oracle="""
    SELECT
      CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_good,
      CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_corrupt,
      CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END)
        AS BIGINT) AS good_key_sum
    FROM nation
    """,
    category="sources",
)
def src_csv_corrupt_handling(spark, sf_dir):
    """Malformed-record handling on CSV ingest: a staged file where
    every 5th nation row carries a non-numeric key is read back under
    PERMISSIVE mode with an explicit ``_corrupt_record`` column — bad
    rows surface as data (for quarantine/audit) instead of failing
    the job or vanishing (DROPMALFORMED), which is the only sane
    default for a 100-TB ingest where some corruption is certain. The
    oracle derives the same good/corrupt split from the construction
    rule. The one-file write is nation-sized; the read path is the
    scalable splittable CSV scan."""
    n = load_table(spark, sf_dir, "nation")
    path = os.path.join(scratch_dir("bdfr_csv_corrupt_"), "nation_csv")
    staged = n.select(
        F.concat_ws(
            ",",
            F.when(
                F.col("n_nationkey") % 5 == 0,
                F.concat(F.lit("xx"), F.col("n_nationkey").cast("string")),
            ).otherwise(F.col("n_nationkey").cast("string")),
            F.col("n_name"),
            F.col("n_regionkey").cast("string"),
        ).alias("value")
    )
    staged.coalesce(1).write.mode("overwrite").text(path)
    back = spark.read.csv(
        path,
        schema="n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, "
        "_corrupt_record STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    return back.agg(
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))
        ).cast("long").alias("good_key_sum"),
    )


@register(
    "src_file_metadata_column",
    oracle="""
    SELECT c_mktsegment AS segment, count(*) AS n_rows,
           1 AS n_files, true AS one_file_per_partition
    FROM customer
    GROUP BY c_mktsegment
    """,
    category="sources",
)
def src_file_metadata_column(spark, sf_dir):
    """The hidden ``_metadata`` file column (Spark 3.4+): per-row
    provenance (file path/name/size/mtime) read straight from the
    scan with zero extra IO — what an audit or incremental-repair job
    uses to map bad rows back to bad files. Staged as a
    partitionBy(segment) layout coalesced to one file per partition,
    so the file-count-per-segment assertion is deterministic; the
    oracle derives the same accounting from the data rule. Metadata
    access composes with normal pruning (the scan still prunes
    columns — _metadata is synthesized, not read from parquet data
    pages)."""
    c = load_table(spark, sf_dir, "customer")
    path = os.path.join(scratch_dir("bdfr_meta_col_"), "customer")
    c.repartition("c_mktsegment").write.partitionBy("c_mktsegment").mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col("_metadata.file_path")).cast("int").alias(
            "n_files"
        ),
        (F.countDistinct(F.col("_metadata.file_path")) == 1).alias(
            "one_file_per_partition"
        ),
    )


@register(
    "src_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    category="sources",
)
def src_xml_roundtrip(spark, sf_dir):
    """XML sink + scan via Spark 4's built-in xml data source (rowTag
    records): the interchange format enterprise feeds still arrive in.
    DuckDB cannot read XML, so — as for ORC — the oracle checks the
    roundtripped CONTENT against the parquet ground truth. The read
    back uses an explicit schema: XML stores text, and schema
    inference would widen every numeric to bigint or string."""
    n = load_table(spark, sf_dir, "nation")
    tmp = os.path.join(scratch_dir("bdfr_xml_"), "nation_xml")
    (
        n.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(tmp)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .load(tmp)
    )
    return back.select("n_nationkey", "n_name", "n_regionkey")


@register(
    "src_compressed_roundtrip",
    oracle="""
    SELECT 'zstd' AS codec, count(*) AS n,
           CAST(sum(p_size) AS BIGINT) AS size_sum
    FROM part
    UNION ALL
    SELECT 'gzip', count(*), CAST(sum(p_size) AS BIGINT) FROM part
    """,
    category="sources",
)
def src_compressed_roundtrip(spark, sf_dir):
    """Compression-codec roundtrips: the same table written as
    zstd parquet and gzip CSV, read back, and summarized — codec
    choice is a first-order cost lever at 100 TB (zstd parquet is the
    default lake posture; gzip CSV the interchange fallback) and the
    read path must be transparent to it. Content equality against the
    uncompressed ground truth is the whole check."""
    p = load_table(spark, sf_dir, "part")
    base = scratch_dir("bdfr_codec_")
    zpath = os.path.join(base, "part_zstd")
    p.write.mode("overwrite").option("compression", "zstd").parquet(zpath)
    gpath = os.path.join(base, "part_gzip_csv")
    (
        p.select("p_partkey", "p_size")
        .write.mode("overwrite")
        .option("header", "true")
        .option("compression", "gzip")
        .csv(gpath)
    )
    z = (
        spark.read.parquet(zpath)
        .agg(
            F.lit("zstd").alias("codec"),
            F.count(F.lit(1)).alias("n"),
            F.sum("p_size").alias("size_sum"),
        )
        .select("codec", "n", "size_sum")
    )
    g = (
        read_csv(spark, gpath, schema="p_partkey long, p_size int")
        .agg(
            F.lit("gzip").alias("codec"),
            F.count(F.lit(1)).alias("n"),
            F.sum("p_size").alias("size_sum"),
        )
        .select("codec", "n", "size_sum")
    )
    return z.unionAll(g)


@register(
    "src_binaryfile_scan",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS file_name,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 20
    """,
    category="sources",
)
def src_binaryfile_scan(spark, sf_dir):
    """The `binaryFile` source — Spark's whole-file reader for opaque
    payloads (images, audio, PDFs): each file becomes one row of
    (path, modificationTime, length, content BINARY). Twenty fixture
    documents stage as .txt files, the directory scans through the
    binaryFile format, and the row set must reproduce each file's
    byte length and content MD5 exactly — pinning that content
    round-trips byte-identically. At 100 TB this is the ingest path
    for the multimodal family (operators/multimodal.py), which
    consumes exactly this (path, content) shape."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    rows = d.select("doc_id", "text").collect()  # bounded: 20 docs
    stage = scratch_dir("bdfr_binaryfile_")
    for r in rows:
        with open(os.path.join(stage, f"doc_{r['doc_id']}.txt"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    scanned = spark.read.format("binaryFile").load(stage)
    return scanned.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@register(
    "src_partition_pruning_scan",
    oracle="""
    SELECT o_orderpriority AS part_read,
           count(*) AS n_rows,
           true AS only_one_partition_dir
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
    category="sources",
)
def src_partition_pruning_scan(spark, sf_dir):
    """Partition PRUNING, proven from inside the query: write orders
    hive-partitioned by priority, read back with an equality filter,
    and derive each row's partition directory from the hidden
    ``_metadata.file_path`` — the assertion column shows the scan
    touched exactly ONE partition directory.  This is the layout
    contract that turns a 100 TB full scan into a single-partition
    read: the filter binds at PLANNING time (PartitionFilters in the
    scan node, visible in PLANS.md), so non-matching directories are
    never listed, opened, or read.  The oracle derives the same
    accounting from the unpartitioned source."""
    o = load_table(spark, sf_dir, "orders")
    path = os.path.join(scratch_dir("bdfr_prune_scan_"), "orders")
    write_parquet(o, path, partition_by=["o_orderpriority"])
    back = spark.read.parquet(path).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    dirpart = F.regexp_extract(
        F.col("_metadata.file_path"), "o_orderpriority=([^/]+)", 1
    )
    return back.groupBy(
        F.col("o_orderpriority").cast("string").alias("part_read")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.countDistinct(dirpart) == 1).alias("only_one_partition_dir"),
    )
