"""Text-analysis queries (SURVEY.md §2B.9 + training-data operators):
tokenization, token counts, TF-IDF, n-grams, language ID, quality
scoring, token counting, fingerprinting.

Everything is pure Catalyst expressions (regexp / split / explode /
higher-order functions) — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.functions.exact import duck_half_div
from bigdata_financial_reporting_spark.operators.text import (
    fingerprint,
    tokenize,
    word_ngrams,
)
from bigdata_financial_reporting_spark.queries.oracle_helpers import (
    DUCK_TOKENIZE as _DUCK_TOK,
)
from bigdata_financial_reporting_spark.queries.registry import register
from bigdata_financial_reporting_spark.sources.catalog import load_table

#: tiny function-word lists for the language-ID heuristic
_LANG_MARKERS = {
    "en": ["the", "a", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}


@register(
    "text_tokenize",
    oracle=f"""
    SELECT doc_id,
           len({_DUCK_TOK}) AS n_tokens,
           array_to_string(list_slice({_DUCK_TOK}, 1, 5), ' ') AS head_tokens
    FROM documents
    """,
    category="text",
)
def text_tokenize(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # bind the token array to a column first: HOF references of an
    # inlined tokenize() re-evaluate the regex per reference
    tokd = d.select("doc_id", tokenize(F.col("text")).alias("__tok"))
    return tokd.select(
        "doc_id",
        F.size("__tok").alias("n_tokens"),
        F.concat_ws(" ", F.slice("__tok", 1, 5)).alias("head_tokens"),
    )


@register(
    "text_token_counts",
    oracle=f"""
    SELECT tok AS token, count(*) AS tf
    FROM (SELECT unnest({_DUCK_TOK}) AS tok FROM documents)
    GROUP BY tok
    """,
    category="text",
)
def text_token_counts(spark, sf_dir):
    """Corpus term frequencies: explode + hash agg (map-side combine
    keeps the shuffle at vocabulary size, not token count)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_DUCK_TOK}) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
         df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok AS token,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    WHERE tf.doc_id < 50
    """,
    category="text",
)
def text_tfidf(spark, sf_dir):
    """TF-IDF: two aggregations + a broadcast join of the document-
    frequency table (vocabulary-sized -> broadcastable at any corpus
    scale). Restricted to doc_id < 50 to bound oracle output."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # tf already holds one row per (doc, token): the document frequency
    # is a plain count over it — no second tokenize+explode pass and no
    # distinct (cf. the PMI marginal derivation, 10x finding).
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # scalar; cheap count-star over parquet metadata
    out = tf.join(F.broadcast(df), "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    return out.filter(F.col("doc_id") < 50)


@register(
    "text_bigrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOK} AS tok FROM documents)
    SELECT bigram, count(*) AS n
    FROM (
      SELECT unnest(list_transform(generate_series(1, len(tok) - 1),
                                   i -> tok[i] || ' ' || tok[i+1])) AS bigram
      FROM toks WHERE len(tok) >= 2
    )
    GROUP BY bigram
    HAVING count(*) >= 5
    """,
    category="text",
)
def text_bigrams(spark, sf_dir):
    """Word bigram counts (>= 5 occurrences) via higher-order sequence
    transform — no UDF, no MLlib dependency."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select(tokenize(F.col("text")).alias("__tok"))
    return (
        tokd.select(F.explode(word_ngrams(F.col("__tok"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@register(
    "text_normalize_stem",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOK}) AS tok FROM documents WHERE doc_id < 100
    ),
    kept AS (
      SELECT doc_id,
             regexp_replace(tok, '(ing|edly|ed|ly|es|s)$', '') AS stem
      FROM toks
      WHERE tok NOT IN ('the', 'a', 'an', 'of', 'and', 'is', 'to', 'in')
        AND length(tok) > 2
    )
    SELECT stem, count(*) AS n
    FROM kept WHERE stem <> '' GROUP BY stem
    """,
    category="text",
)
def text_normalize_stem(spark, sf_dir):
    """Normalization pipeline: tokenize -> stopword removal -> crude
    suffix stemming (regexp, first-match longest-alternative) -> stem
    frequencies. The lightweight pre-embedding cleanup pass; swap the
    regexp for Snowball rules without touching the dataflow."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    stop = ["the", "a", "an", "of", "and", "is", "to", "in"]
    toks = d.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    kept = toks.filter(
        ~F.col("tok").isin(stop) & (F.length("tok") > 2)
    ).select(
        F.regexp_replace("tok", r"(ing|edly|ed|ly|es|s)$", "").alias("stem")
    )
    return (
        kept.filter(F.col("stem") != "")
        .groupBy("stem")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_lang_slice",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           min(doc_id) AS first_doc
    FROM documents
    WHERE lang IN ('en', 'es', 'zh')
    GROUP BY lang, source
    """,
    category="text",
)
def text_lang_slice(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang").isin("en", "es", "zh"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _marker_count(toks, markers):
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


@register(
    "text_langid",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 \\t\\n]', ' ', 'g'), '\\s+'), x -> x <> '') AS tok
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang,
             len(list_filter(tok, x -> x IN ('the', 'a', 'of'))) AS s_en,
             len(list_filter(tok, x -> x IN ('el', 'la', 'de'))) AS s_es,
             len(list_filter(tok, x -> x IN ('le', 'la', 'et'))) AS s_fr,
             len(list_filter(tok, x -> x IN ('der', 'die', 'und'))) AS s_de
      FROM t
    )
    SELECT doc_id, lang AS lang_true,
           CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
                WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
                WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
                WHEN s_fr >= s_de THEN 'fr'
                ELSE 'de' END AS lang_pred
    FROM scores
    """,
    category="text",
)
def text_langid(spark, sf_dir):
    """Marker-word language-ID heuristic (deterministic tie-break
    en > es > fr > de, 'und' when no markers hit). A real deployment
    swaps the marker lists for per-language n-gram profiles; the
    dataflow — score arrays per language, argmax per row — is the
    same."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select("doc_id", "lang", tokenize(F.col("text")).alias("__tok"))
    scored = tokd.select(
        "doc_id",
        "lang",
        *[
            _marker_count(F.col("__tok"), v).alias(f"s_{k}")
            for k, v in _LANG_MARKERS.items()
        ],
    )
    s = {k: F.col(f"s_{k}") for k in _LANG_MARKERS}
    pred = (
        F.when(F.greatest(s["en"], s["es"], s["fr"], s["de"]) == 0, "und")
        .when(s["en"] >= F.greatest(s["es"], s["fr"], s["de"]), "en")
        .when(s["es"] >= F.greatest(s["fr"], s["de"]), "es")
        .when(s["fr"] >= s["de"], "fr")
        .otherwise("de")
    )
    return scored.select(
        "doc_id", F.col("lang").alias("lang_true"), pred.alias("lang_pred")
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, n_chars, {_DUCK_TOK} AS tok FROM documents
    )
    SELECT doc_id,
           len(tok) AS n_tokens,
           round(CAST(n_chars AS DOUBLE) / greatest(len(tok), 1), 6) AS avg_tok_len,
           round(len(list_filter(tok, x -> x IN ('the', 'a', 'of', 'and', 'is')))
                 / CAST(greatest(len(tok), 1) AS DOUBLE), 6) AS stopword_ratio,
           round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio,
           CASE WHEN len(tok) BETWEEN 20 AND 1000
                 AND length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                     / CAST(greatest(length(text), 1) AS DOUBLE) < 0.1
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM t
    """,
    category="text",
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality scoring (length / punctuation / stopword
    signals) with a keep/drop verdict — the C4-style pre-training
    filter shape."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select(
        "doc_id", "text", "n_chars", tokenize(F.col("text")).alias("__tok")
    )
    n_tok = F.size("__tok")
    stop = F.array(*[F.lit(s) for s in ["the", "a", "of", "and", "is"]])
    punct_n = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", ""))
    punct_ratio = punct_n.cast("double") / F.greatest(F.length("text"), F.lit(1))
    return tokd.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(
            F.col("n_chars").cast("double") / F.greatest(n_tok, F.lit(1)), 6
        ).alias("avg_tok_len"),
        F.round(
            F.size(F.filter(F.col("__tok"), lambda t: F.array_contains(stop, t)))
            / F.greatest(n_tok, F.lit(1)).cast("double"),
            6,
        ).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.when(
            n_tok.between(20, 1000) & (punct_ratio < 0.1), "keep"
        ).otherwise("drop").alias("verdict"),
    )


@register(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS char_estimate
    FROM documents
    """,
    category="text",
)
def text_token_count_bpe(spark, sf_dir):
    """Token counting three ways: whitespace, BPE-ish regex pieces
    (letter runs / digit runs / single symbols), and the chars/4
    rule-of-thumb estimate."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("char_estimate"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_DUCK_TOK})), ' ')) AS fp,
           count(*) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct({_DUCK_TOK})), ' '))) AS collision_count
    FROM documents
    """,
    category="text",
)
def text_fingerprint(spark, sf_dir):
    """Key-collision fingerprint (sorted distinct token bag -> md5) +
    per-fingerprint collision count: catches bag-of-words duplicates
    that exact hashing misses."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    return d.select("doc_id", fp.alias("fp")).withColumn(
        "collision_count", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )


@register(
    "split_train_test",
    oracle="""
    SELECT split, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
    FROM (
      SELECT CASE
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                         AS BIGINT) % 10 < 8 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                         AS BIGINT) % 10 = 8 THEN 'val'
               ELSE 'test'
             END AS split,
             n_chars
      FROM documents
    )
    GROUP BY split
    """,
    category="text",
)
def split_train_test(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split — the assignment is
    a pure function of the document id (first 16 bits of md5 mod 10),
    so it is stable across runs, engines, partitionings, and data
    order: the property a training-data pipeline needs so that
    re-processing never migrates a document across splits. No
    sampling, no RNG state, embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(_split_col().alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@register(
    "text_top_shingles",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOK} AS tok FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(generate_series(1, len(tok) - 2),
                              i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))) AS s
      FROM toks WHERE len(tok) >= 3
    )
    SELECT s AS shingle, count(*) AS n_docs
    FROM sh
    GROUP BY s
    ORDER BY n_docs DESC, shingle
    LIMIT 20
    """,
    category="text",
)
def text_top_shingles(spark, sf_dir):
    """Global stop-shingle census: the 20 most document-frequent word
    3-grams (ties broken by shingle text). This is the operator that
    FEEDS the hot-shingle escape hatch documented on
    ngram_jaccard_pairs — at 100 TB you compute this first and filter
    the head out of the pair join. Map-side combine reduces each
    partition to its local counts; only (shingle, count) rows cross
    the exchange, then a 20-row global top-k."""
    from bigdata_financial_reporting_spark.operators.text import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", 3)
    return (
        sh.groupBy(F.col("s").alias("shingle"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("shingle"))
        .limit(20)
    )


@register(
    "quality_filter_reasons",
    oracle="""
    SELECT reason, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
    FROM (
      SELECT CASE
               WHEN n_chars < 150 THEN 'too_short'
               WHEN n_chars > 450 THEN 'too_long'
               WHEN lang <> 'en' THEN 'non_english'
               ELSE 'keep'
             END AS reason,
             n_chars
      FROM documents
    )
    GROUP BY reason
    """,
    category="text",
)
def quality_filter_reasons(spark, sf_dir):
    """Quality-filter census: every document is assigned the FIRST
    rule that rejects it (length bounds, then language), or 'keep'.
    The census form — counts per rejection reason rather than the
    filtered frame — is what pipeline operators dashboard at scale;
    the same CASE expression with a filter on 'keep' is the actual
    gate. Pure expressions, one map-side-combined aggregation."""
    d = load_table(spark, sf_dir, "documents")
    reason = (
        F.when(F.col("n_chars") < 150, "too_short")
        .when(F.col("n_chars") > 450, "too_long")
        .when(F.col("lang") != "en", "non_english")
        .otherwise("keep")
    )
    return (
        d.select(reason.alias("reason"), "n_chars")
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


# Deterministic split assignment (md5 of doc_id, first 16 bits, mod 10)
# shared by split_train_test and split_contamination.
def _split_col():
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10
    )
    return F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")


_DUCK_SPLIT = """CASE
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                         AS BIGINT) % 10 < 8 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                         AS BIGINT) % 10 = 8 THEN 'val'
               ELSE 'test'
             END"""


@register(
    "text_repetition_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOK} AS tok FROM documents),
    sh AS (
      SELECT doc_id, len(tok) - 2 AS nt,
             len(list_distinct(
               list_transform(generate_series(1, len(tok) - 2),
                              i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])))
               AS nd
      FROM toks WHERE len(tok) >= 3
    )
    SELECT doc_id,
           CAST(nt AS BIGINT) AS n_shingles,
           CAST(nd AS BIGINT) AS n_distinct,
           round(1 - CAST(nd AS DOUBLE) / nt, 6) AS rep_frac
    FROM sh
    """,
    category="text",
)
def text_repetition_score(spark, sf_dir):
    """Gopher-style repetition signal: the fraction of duplicate word
    3-grams per document (1 - distinct/total) — high values flag
    boilerplate and degenerate generations before training. Uses the
    NON-distinct shingle-row form (one row per occurrence, still
    HOF-safe — see shingle_rows), then one map-side-combined
    aggregation per doc; no shingle array ever crosses the shuffle.
    Docs under 3 tokens are excluded (no 3-grams to score)."""
    from bigdata_financial_reporting_spark.operators.text import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", 3, distinct=False)
    return (
        sh.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count_distinct("s").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_distinct",
            F.round(
                1 - F.col("n_distinct").cast("double") / F.col("n_shingles"), 6
            ).alias("rep_frac"),
        )
    )


@register(
    "split_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_SPLIT} AS split, {_DUCK_TOK} AS tok FROM documents
    ),
    sh AS (
      SELECT doc_id, split,
             unnest(list_distinct(
               list_transform(generate_series(1, len(tok) - 2),
                              i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))) AS s
      FROM toks WHERE len(tok) >= 3
    ),
    train AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
    test AS (SELECT doc_id, s FROM sh WHERE split = 'test')
    SELECT test.doc_id,
           count(*) AS n_shingles,
           count(train.s) AS n_shared,
           round(CAST(count(train.s) AS DOUBLE) / count(*), 6)
             AS contaminated_frac
    FROM test LEFT JOIN train ON test.s = train.s
    GROUP BY test.doc_id
    """,
    category="text",
)
def split_contamination(spark, sf_dir):
    """Train/test contamination check: for every TEST document, the
    fraction of its distinct 3-gram shingles that also appear in any
    TRAIN document — the audit a training pipeline runs before
    reporting eval numbers. Shingle rows carry the split label through
    one pipeline pass; the train side reduces to a distinct shingle
    set; the probe is a shuffle hash join on the shingle string with
    map-side-combined per-doc counts. At 100 TB, filter the
    stop-shingle head (text_top_shingles) out of both sides first —
    ubiquitous shingles dominate the join and carry no signal."""
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track
    from bigdata_financial_reporting_spark.operators.text import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    # Persisted: the train and test branches would otherwise each
    # re-run the full shingle pipeline (posexplode + per-doc window) —
    # measured 2x wall at the 10x corpus. Registered with
    # operators.cache (caller-released, see perfbench/workloads.registry_op).
    sh = track(
        shingle_rows(
            d, "doc_id", "text", 3, extra=[_split_col().alias("split")]
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    train = sh.filter(F.col("split") == "train").select("s").distinct()
    test = sh.filter(F.col("split") == "test")
    return (
        test.join(train.withColumn("__hit", F.lit(1)), "s", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_shingles"), 6
            ).alias("contaminated_frac"),
        )
    )


@register(
    "text_redact",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ips,
           regexp_replace(
             regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')
             AS redacted
    FROM aug
    """,
    category="text",
)
def text_redact(spark, sf_dir):
    """PII-style redaction: emails and IPv4 addresses replaced with
    typed placeholders, with per-doc match counts — the scrub step
    before training text leaves the pipeline. Pure Catalyst regexes
    (whole-stage codegen; no Python in the row path). The fixture text
    contains no PII, so both engines append a deterministic synthetic
    email + IP per row first — the redaction is proven to FIRE, not
    just to no-op."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(email), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(ip), F.lit(0))).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace("t", email, "<EMAIL>"), ip, "<IP>"
        ).alias("redacted"),
    )


@register(
    "mix_temperature_sample",
    oracle=f"""
    WITH t AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len({_DUCK_TOK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    p AS (
      SELECT *, n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS nat
      FROM t
    ),
    w AS (SELECT *, pow(nat, 0.7) AS wraw FROM p)
    SELECT source, n_docs, n_tokens,
           round(nat, 6) AS natural_share,
           round(wraw / sum(wraw) OVER (), 6) AS weight,
           round(CASE WHEN nat > 0
                 THEN (wraw / sum(wraw) OVER ()) / nat END, 6) AS epochs
    FROM w
    """,
    category="text",
)
def mix_temperature_sample(spark, sf_dir):
    """Temperature-based data-mixture weights (the multilingual-
    sampling rule from the XLM-R / mT5 line of work): per source,
    natural token share p_s, resampling weight p_s^0.7 / sum(p^0.7),
    and the implied epochs-over-source multiplier weight/p_s. The raw
    data is touched by exactly one map-side-combined aggregation; the
    temperature math runs on the per-source frame, whose row count is
    the (bounded) source dimension — the unpartitioned windows below
    never see document rows."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokenize(F.col("text")))).alias("n_tokens"),
    )
    everything = Window.partitionBy()
    nat = F.col("n_tokens") / F.sum("n_tokens").over(everything).cast("double")
    p = t.withColumn("nat", nat).withColumn("wraw", F.pow("nat", 0.7))
    share = F.col("wraw") / F.sum("wraw").over(everything)
    return p.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("nat", 6).alias("natural_share"),
        F.round(share, 6).alias("weight"),
        # guard the all-empty-source corner: 0/0 is NULL in Spark
        # (ANSI off) but NaN in DuckDB — pin both engines to NULL
        F.round(F.when(F.col("nat") > 0, share / F.col("nat")), 6).alias(
            "epochs"
        ),
    )


@register(
    "text_global_shuffle",
    oracle="""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             AS pos
    FROM documents
    """,
    category="text",
)
def text_global_shuffle(spark, sf_dir):
    """Deterministic global shuffle for training-data export: every
    document gets a stable pseudo-random position (rank over
    md5(doc_id)) that is identical across runs, engines, and
    partitionings — the property epoch-reproducible training needs.
    The total order comes from operators/global_window.global_row_number
    with the hex prefix of the hash as a static 256-way bucket: one
    hash shuffle of the data + a broadcast of 256 offset rows, NOT a
    single-partition window, so the sort parallelizes at any scale
    (widen the prefix for more parallelism)."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_row_number,
    )

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("shuffle_key")
    )
    return global_row_number(
        keyed,
        ["shuffle_key", "doc_id"],
        "pos",
        bucket_col=F.substring("shuffle_key", 1, 2),
    ).select("doc_id", "shuffle_key", "pos")


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH v AS (
      SELECT tok AS token, count(*) AS tf
      FROM (SELECT unnest({_DUCK_TOK}) AS tok FROM documents)
      GROUP BY tok
    ),
    tot AS (SELECT sum(tf) AS t FROM v),
    top AS (
      SELECT token, tf,
             row_number() OVER (ORDER BY tf DESC, token) AS rank,
             sum(tf) OVER (ORDER BY tf DESC, token
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM v ORDER BY tf DESC, token LIMIT 100
    )
    SELECT rank, token, tf,
           round(cum / (SELECT CAST(t AS DOUBLE) FROM tot), 6) AS cum_share
    FROM top
    """,
    category="text",
)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: the 100 most frequent tokens with
    the cumulative share of ALL token occurrences they cover — the
    how-big-must-the-vocab-be question. The corpus is reduced by one
    map-side-combined count; the top-100 comes out via Spark's
    TakeOrdered (per-partition heads, no global sort); the cumulative
    window then runs over exactly 100 rows. The global total is a
    1-row aggregate joined in by broadcast. The vocabulary frame is
    persisted (tracked, caller-released): both the top-100 and the
    total read it, and without the persist each branch re-runs the
    corpus explode+count — one corpus pass instead of two."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokenize(F.col("text"))).alias("token"))
    v = track(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = v.agg(F.sum("tf").cast("double").alias("__total"))
    top = v.orderBy(F.desc("tf"), F.asc("token")).limit(100)
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    ranked = top.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum", F.sum("tf").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return ranked.join(F.broadcast(total)).select(
        "rank",
        "token",
        "tf",
        F.round(F.col("cum") / F.col("__total"), 6).alias("cum_share"),
    )


@register(
    "text_source_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOK} AS tok FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct(
               list_transform(generate_series(1, len(tok) - 2),
                              i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))) AS s
      FROM toks WHERE len(tok) >= 3
    ),
    sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
    common AS (
      SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT x.source AS source_a, y.source AS source_b,
           COALESCE(c.n_common, 0) AS n_common,
           round(COALESCE(c.n_common, 0)
                 / CAST(x.n_sh + y.n_sh - COALESCE(c.n_common, 0) AS DOUBLE),
                 6) AS jaccard
    FROM sizes x JOIN sizes y ON x.source < y.source
    LEFT JOIN common c ON c.sa = x.source AND c.sb = y.source
    """,
    category="text",
)
def text_source_overlap(spark, sf_dir):
    """Cross-source contamination census: Jaccard similarity of the
    DISTINCT word-3-gram sets of every source pair — how much of one
    shard's content leaks into another. The shingle join is keyed on
    the shingle string but its fan-out is bounded by the SOURCE
    dimension, not the corpus: shingles are first deduplicated to one
    row per (source, shingle), so a shingle appearing in every source
    yields at most |sources| rows on each side. The final pair frame
    is |sources| choose 2 — broadcast territory at any scale."""
    from bigdata_financial_reporting_spark.operators.text import shingle_rows

    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    d = load_table(spark, sf_dir, "documents")
    # sh feeds the size census and both self-join sides, sizes feeds
    # both pair sides — unpersisted, four raw scans + four tokenize
    # passes per action (round-14 audit). sh is distinct-(source,
    # shingle)-sized, sizes source-count-sized; one raw scan remains.
    sh = track(
        shingle_rows(d, "doc_id", "text", 3, extra=[F.col("source")])
        .select("source", "s")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = track(
        sh.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    common = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        sizes.alias("x")
        .join(sizes.alias("y"), F.col("x.source") < F.col("y.source"))
        .join(
            F.broadcast(common),
            (F.col("sa") == F.col("x.source"))
            & (F.col("sb") == F.col("y.source")),
            "left",
        )
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0).cast("long"))
    return pairs.select(
        F.col("x.source").alias("source_a"),
        F.col("y.source").alias("source_b"),
        n_common.alias("n_common"),
        F.round(
            n_common
            / (F.col("x.n_sh") + F.col("y.n_sh") - n_common).cast("double"),
            6,
        ).alias("jaccard"),
    )


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_DUCK_TOK}) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((cum_end - n_tokens) / 512.0) AS BIGINT) AS pack_id,
           CASE WHEN n_tokens = 0 THEN 0
                ELSE CAST(floor((cum_end - 1) / 512.0)
                          - floor((cum_end - n_tokens) / 512.0) + 1 AS BIGINT)
           END AS n_windows
    FROM c
    """,
    category="text",
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing for training batches: concatenate each source
    shard's token stream in deterministic (doc_id) order and chunk it
    into fixed 512-token context windows. Emits, per document, the
    window its first token lands in (``pack_id``) and how many windows
    it spans. The window is partitioned by ``source`` — pack state never
    crosses shard boundaries, so at 100 TB each shard's running sum is
    an independent partitioned window, not a global one."""
    from pyspark.sql import Window

    budget = 512.0
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum_end", F.sum("n_tokens").over(w))
    start = F.col("cum_end") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(start / budget).cast("long").alias("pack_id"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(
            (
                F.floor((F.col("cum_end") - 1) / budget)
                - F.floor(start / budget)
                + 1
            ).cast("long")
        )
        .alias("n_windows"),
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOK}) AS tok FROM documents
    ),
    v AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    c AS (SELECT sum(tf) AS total, count(*) AS vocab FROM v)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(-ln((v.tf + 1) / CAST(c.total + c.vocab AS DOUBLE))), 6)
             AS avg_neg_logp
    FROM toks t JOIN v ON t.tok = v.tok CROSS JOIN c
    GROUP BY t.doc_id
    """,
    category="text",
)
def text_unigram_logprob(spark, sf_dir):
    """Unigram-LM fluency score — the CCNet/KenLM quality-filter shape
    with the simplest possible model: corpus unigram frequencies with
    add-one smoothing, scored as each document's mean negative log
    probability (low = stereotypical text, high = rare-token soup).
    The corpus is read once into (token, tf); scoring joins tokens to
    that model on the token key — a fact-to-vocab join whose per-key
    fan-out on the model side is exactly 1 row, so hot tokens skew the
    probe side only and AQE's skew-join split applies. The (total,
    vocab) pair is a 1-row broadcast. Docs with zero tokens drop out,
    as in the SQL form. The model frame v is persisted (tracked,
    caller-released): it feeds both the scoring join and the totals,
    and is vocabulary-sized — persisting it costs O(vocab) memory and
    saves a third corpus explode; the token stream itself is NOT
    persisted (corpus-sized — two streaming passes over the source
    beat materializing 1:1 token rows at 100 TB)."""
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    v = track(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = v.agg(
        F.sum("tf").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    scored = toks.join(v, "tok").crossJoin(F.broadcast(c))
    neg_logp = -F.log(
        (F.col("tf") + 1) / (F.col("total") + F.col("vocab")).cast("double")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(neg_logp), 6).alias("avg_neg_logp"),
    )


# Winnowing (k=5, w=4) in DuckDB — identical BIGINT arithmetic to
# operators/text.winnow_fingerprints; shared by the fingerprint and
# pair queries below.
_DUCK_WINNOW = """
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
      FROM documents
    ),
    kg AS (
      SELECT doc_id,
             CASE WHEN length(t) >= 5 THEN
               list_transform(generate_series(1, length(t) - 4),
                 i -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(generate_series(0, 4),
                            j -> CAST(unicode(substr(t, i + j, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 131 + c) % 2147483647))
             ELSE [] END AS kh
      FROM norm
    ),
    win AS (
      SELECT doc_id, kh,
             CASE WHEN len(kh) >= 4 THEN
               list_distinct(list_transform(generate_series(1, len(kh) - 3),
                 i -> least(kh[i], kh[i+1], kh[i+2], kh[i+3])))
             ELSE list_distinct(kh) END AS fps
      FROM kg
    )
"""


@register(
    "text_winnow_fingerprint",
    oracle=_DUCK_WINNOW
    + """
    SELECT doc_id, len(kh) AS n_kgrams, len(fps) AS n_fps,
           md5(array_to_string(list_sort(fps), '-')) AS fp_digest
    FROM win
    """,
    category="text",
)
def text_winnow_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprints via winnowing (k=5, w=4) —
    see operators/text.winnow_fingerprints for the algorithm and its
    shared-substring guarantee. Emits per doc the k-gram count, the
    selected-fingerprint count, and an md5 digest of the sorted
    fingerprint set (two docs sharing a digest are near-certain
    substring-level duplicates; explode the set instead for the
    inverted candidate index). Scan -> one codegen projection; the
    polynomial arithmetic is engine-neutral BIGINT, verified
    bit-exactly against the SQL oracle."""
    from bigdata_financial_reporting_spark.operators.text import (
        winnow_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(d, "doc_id", "text", k=5, w=4)
    return fp.select(
        F.col("id").alias("doc_id"),
        "n_kgrams",
        F.size("fps").cast("long").alias("n_fps"),
        F.expr(
            "md5(array_join(transform(array_sort(fps), x -> cast(x AS string)), '-'))"
        ).alias("fp_digest"),
    )


@register(
    "dedup_winnow_pairs",
    oracle=_DUCK_WINNOW
    + """
    , rows_ AS (SELECT doc_id, unnest(fps) AS f FROM win),
    kept AS (
      SELECT doc_id, f FROM (
        SELECT doc_id, f, count(*) OVER (PARTITION BY f) AS df FROM rows_
      ) WHERE df <= 100
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           round(n_shared / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
    FROM shared JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_shared >= 5
      AND n_shared / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.5
    """,
    category="dedup",
)
def dedup_winnow_pairs(spark, sf_dir):
    """Substring-level near-dup pairs via the winnowing inverted
    index — the complement to MinHash (word-shingle Jaccard): pairs
    rank by CONTAINMENT (shared fingerprints / smaller doc's set), so
    a short doc copied into a long one scores ~1.0 where Jaccard
    dilutes toward 0. Fingerprint rows (id, fp) self-join on the
    fingerprint key — identical shape and scale posture to the shingle
    pair join, with winnowing already thinning the index ~3x vs raw
    k-grams. The hot-fingerprint escape is built IN, not optional: a
    fingerprint appearing in more than 100 documents (a stop-phrase)
    is dropped before the pair join, bounding the per-key fan-out at
    C(100,2) — without the cap the 10x-duplicated stress corpus drove
    the pair aggregation to an executor OOM. The df filter is one
    window over the same fingerprint partitioning the join needs, and
    the oracle applies the identical cap, so the comparison stays
    exact. TWO persists (tracked): the fingerprint frame — not just
    reuse but an EVALUATION BARRIER, because exploding the unpersisted
    fps column lets projection collapse inline the winnowing
    expression into the Generate, re-evaluating the k-gram array per
    output element (observed: sf0.01 went from ~2 s to minutes) — and
    the capped rows frame, which the pair join reads twice and the
    sizes once."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track
    from bigdata_financial_reporting_spark.operators.text import (
        winnow_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = track(
        winnow_fingerprints(d, "doc_id", "text", k=5, w=4)
        .select("id", "fps")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rows = fp.select("id", F.explode("fps").alias("f"))
    by_f = Window.partitionBy("f")
    kept = track(
        rows.withColumn("__df", F.count(F.lit(1)).over(by_f))
        .filter(F.col("__df") <= 100)
        .drop("__df")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.f") == F.col("b.f")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "__containment_raw",
            F.col("n_shared") / F.least("n_a", "n_b").cast("double"),
        )
        # Filter on the RAW ratio — the oracle filters unrounded, so a
        # pair in [0.4999995, 0.5) must fail on BOTH sides; rounding is
        # presentation only (round-3 ADVICE).
        .filter((F.col("n_shared") >= 5) & (F.col("__containment_raw") >= 0.5))
        .withColumn("containment", F.round("__containment_raw", 6))
    )
    return out.select("id_a", "id_b", "n_shared", "containment")


@register(
    "mix_apply_sample",
    oracle=f"""
    WITH t AS (
      SELECT source, CAST(sum(len({_DUCK_TOK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    p AS (
      SELECT *, n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS nat
      FROM t
    ),
    w AS (SELECT *, pow(nat, 0.7) AS wraw FROM p),
    rates AS (
      SELECT source,
             least(1.0, (wraw / sum(wraw) OVER ()) / nat) AS rate
      FROM w
    ),
    u AS (
      SELECT d.source, d.doc_id,
             CAST(concat('0x', substr(md5('sample:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) / 16777216.0 AS u
      FROM documents d
    )
    SELECT u.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN u.u < r.rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(r.rate, 6) AS target_rate,
           round(sum(CASE WHEN u.u < r.rate THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS realized_rate
    FROM u JOIN rates r ON r.source = u.source
    GROUP BY u.source, r.rate
    """,
    category="text",
)
def mix_apply_sample(spark, sf_dir):
    """EXECUTION of the temperature-mixing policy: every document is
    kept iff a deterministic uniform draw (first 24 bits of
    md5('sample:' || doc_id), the salt decorrelating it from the
    train/val/test and shuffle hashes) falls under its source's
    down-sampling rate least(1, epochs) from mix_temperature_sample.
    The decision is a pure function of (doc_id, corpus stats): stable
    across runs, engines, partitionings — reproducible-epoch sampling
    with no RNG state. Per-source census out; the same keep predicate
    with a filter is the actual gate. The rates frame is source-dim
    sized and broadcast."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.sum(F.size(tokenize(F.col("text")))).alias("n_tokens")
    )
    everything = Window.partitionBy()
    nat = F.col("n_tokens") / F.sum("n_tokens").over(everything).cast("double")
    w = t.withColumn("nat", nat).withColumn("wraw", F.pow("nat", 0.7))
    rates = w.select(
        "source",
        F.least(
            F.lit(1.0),
            (F.col("wraw") / F.sum("wraw").over(everything)) / F.col("nat"),
        ).alias("rate"),
    )
    u = d.select(
        "source",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(16777216.0)
        ).alias("u"),
    )
    kept = F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0))
    return (
        u.join(F.broadcast(rates), "source")
        .groupBy("source", "rate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.cast("long").alias("n_kept"),
            F.round(kept / F.count(F.lit(1)).cast("double"), 6).alias(
                "realized_rate"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.round("rate", 6).alias("target_rate"),
            "realized_rate",
        )
    )


@register(
    "sample_weighted_topk",
    oracle=f"""
    WITH u AS (
      SELECT source, doc_id, n_chars,
             (CAST(concat('0x', substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)),
                    1, 6)) AS BIGINT) + 1) / 16777217.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT source, doc_id, n_chars, ln(u) / n_chars AS k FROM u
    )
    -- '+ 0' normalizes DuckDB's signed zero: k <= 0 by construction
    -- (ln of u in (0,1]), so a tiny-negative key rounds to -0.0 in
    -- DuckDB but +0.0 in Spark — caught by the 10x -0.0 sweep
    SELECT source, doc_id, n_chars, round(k, 6) + 0 AS sample_key,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY k DESC, doc_id) AS INT) AS rank
    FROM keyed
    QUALIFY rank <= 10
    """,
    category="text",
)
def sample_weighted_topk(spark, sf_dir):
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): per source, keep the 10 docs with the
    largest u^(1/w) — here ranked by the monotone-equivalent
    ln(u)/w — where w = n_chars (longer docs proportionally likelier)
    and u is a salted-md5 uniform in (0, 1]. This is how a quality- or
    length-weighted subsample is drawn reproducibly at 100 TB: no RNG
    state, membership is a pure function of doc_id, and the per-group
    top-k is one window (WindowGroupLimit prunes map-side). The +1 /
    2^24+1 shift keeps u strictly positive for ln."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(16777217.0)
    keyed = d.select(
        "source", "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("k")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.round("k", 6).alias("sample_key"),
            "rank",
        )
    )


@register(
    "sample_per_stratum_topk",
    oracle="""
    SELECT lang, doc_id,
           CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY md5('ssel:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT)
             AS pick
    FROM documents
    QUALIFY pick <= 20
    """,
    category="text",
)
def sample_per_stratum_topk(spark, sf_dir):
    """Fixed-size uniform sample per stratum (exactly 20 docs per
    language) — eval-set construction. Ranking by the md5 hash STRING
    of the doc id gives an order that is uniform, deterministic, and
    engine-identical with no floating point at all; one window per
    stratum, map-side pruned. Contrast sample_stratified (Bernoulli,
    fraction-sized) — this is the exact-k form."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit("ssel:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        d.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 20)
        .select("lang", "doc_id", "pick")
    )


@register(
    "text_token_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOK}) AS t FROM documents
    ),
    tf AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
    tot AS (SELECT doc_id, sum(c) AS n, count(*) AS v FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           CAST(max(tot.n) AS BIGINT) AS n_tokens,
           CAST(max(tot.v) AS BIGINT) AS n_distinct,
           round(-sum((tf.c / CAST(tot.n AS DOUBLE))
                      * log2(tf.c / CAST(tot.n AS DOUBLE))), 6) AS entropy
    FROM tf JOIN tot USING (doc_id)
    GROUP BY tf.doc_id
    """,
    category="text",
)
def text_token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    repetitive-document signal (template spam and boilerplate score
    low; natural text scores near log2 of its vocabulary breadth).
    Explode -> per-(doc, token) counts -> one agg; all map-side
    combined, no UDFs."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    n = F.sum("c").over(w)
    p = F.col("c") / n.cast("double")
    return (
        tf.select(
            "doc_id",
            n.alias("n_all"),
            p.alias("p"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("n_all").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy"),
        )
    )


@register(
    "batch_length_buckets",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, CAST(len({_DUCK_TOK}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_tokens, n_tokens // 32 AS bucket,
             row_number() OVER (PARTITION BY n_tokens // 32
                                ORDER BY doc_id) AS rn
      FROM sized
    )
    SELECT doc_id, n_tokens, bucket,
           CAST((rn - 1) // 8 AS BIGINT) AS batch_id
    FROM bucketed
    """,
    category="text",
)
def batch_length_buckets(spark, sf_dir):
    """Length-bucketed micro-batch assignment — the padding-efficiency
    step before batched inference/tokenization: docs are grouped into
    token-length buckets of width 32, then packed 8 per batch in
    deterministic doc_id order. Output is (doc, bucket, batch) —
    a pure windowed computation with no data movement beyond one
    shuffle on the bucket key."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        sized.withColumn("bucket", F.floor(F.col("n_tokens") / 32))
        .withColumn("batch_id", ((F.row_number().over(w) - 1) / 8).cast("long"))
        .select("doc_id", "n_tokens", "bucket", "batch_id")
    )


# Corpus bigram list in DuckDB — shared by the LM and the
# distinctive-ngram oracles below.
_DUCK_BIGRAMS = f"""
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(tok) - 1),
                                   i -> tok[i] || ' ' || tok[i+1])) AS bg
      FROM (SELECT doc_id, source, {_DUCK_TOK} AS tok FROM documents)
      WHERE len(tok) >= 2
"""


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH bgs AS ({_DUCK_BIGRAMS}),
    model AS (SELECT bg, count(*) AS c12 FROM bgs GROUP BY bg),
    ctx AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
      FROM model GROUP BY split_part(bg, ' ', 1)
    ),
    v AS (
      SELECT count(DISTINCT t) AS vsize
      FROM (SELECT unnest({_DUCK_TOK}) AS t FROM documents)
    )
    SELECT bgs.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-log2((model.c12 + 0.5)
                 / (ctx.c1 + 0.5 * v.vsize))), 6) AS avg_neg_log2p
    FROM bgs
    JOIN model USING (bg)
    JOIN ctx ON ctx.w1 = split_part(bgs.bg, ' ', 1)
    CROSS JOIN v
    GROUP BY bgs.doc_id
    """,
    category="text",
)
def text_bigram_logprob(spark, sf_dir):
    """Bigram-LM fluency scoring (add-0.5 smoothing), the CCNet-style
    perplexity filter one step up from text_unigram_logprob: train
    bigram/context counts on the corpus (both model frames are
    vocabulary-sized -> broadcast), then score every document's mean
    -log2 P(w_i | w_{{i-1}}). Two corpus passes (train, score), zero
    UDFs; the 1:1 bigram stream is never persisted."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select(
        "doc_id", "source", tokenize(F.col("text")).alias("__tok")
    )
    bgs = tokd.filter(F.size("__tok") >= 2).select(
        "doc_id", F.explode(word_ngrams(F.col("__tok"), 2)).alias("bg")
    )
    # model feeds the context rollup and the scoring broadcast —
    # unpersisted, the train pass (tokenize + explode + count) ran
    # twice (round-14 audit). Vocabulary-sized; persist it. The 1:1
    # bigram stream itself stays unpersisted by design (train + score
    # re-derive it rather than caching corpus x tokens rows).
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    model = track(
        bgs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ctx = (
        model.select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"), "c12"
        )
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    vsize = (
        d.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .agg(F.count_distinct("t"))
        .collect()[0][0]
    )
    p = (F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.lit(float(vsize)))
    return (
        bgs.join(F.broadcast(model), "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(ctx), "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(-F.log2(p)), 6).alias("avg_neg_log2p"),
        )
    )


@register(
    "text_distinctive_ngrams",
    oracle=f"""
    WITH bgs AS ({_DUCK_BIGRAMS}),
    per_src AS (SELECT source, bg, count(*) AS tf_s FROM bgs GROUP BY source, bg),
    corpus_tf AS (SELECT bg, count(*) AS tf_g FROM bgs GROUP BY bg),
    scored AS (
      SELECT p.source, p.bg AS bigram, p.tf_s,
             (g.tf_g - p.tf_s) AS tf_rest,
             (p.tf_s + 1.0) / ((g.tf_g - p.tf_s) + 1.0) AS ratio
      FROM per_src p JOIN corpus_tf g USING (bg)
    )
    SELECT source, bigram, CAST(tf_s AS BIGINT) AS tf_source,
           CAST(tf_rest AS BIGINT) AS tf_rest,
           round(ratio, 6) AS ratio,
           CAST(row_number() OVER (PARTITION BY source
                 ORDER BY ratio DESC, bigram) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    category="text",
)
def text_distinctive_ngrams(spark, sf_dir):
    """Per-source distinctive bigrams — corpus contrastive analysis
    (which phrases characterize a source vs the rest): smoothed ratio
    (tf_source + 1) / (tf_rest + 1), top-5 per source. The ratio is a
    pure integer-arithmetic double division, so ranking is
    engine-exact with bigram string tie-break; both count frames are
    vocabulary-sized aggregations with map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select("source", tokenize(F.col("text")).alias("__tok"))
    bgs = tokd.filter(F.size("__tok") >= 2).select(
        "source", F.explode(word_ngrams(F.col("__tok"), 2)).alias("bigram")
    )
    per_src = bgs.groupBy("source", "bigram").agg(
        F.count(F.lit(1)).alias("tf_s")
    )
    glob = bgs.groupBy("bigram").agg(F.count(F.lit(1)).alias("tf_g"))
    scored = per_src.join(F.broadcast(glob), "bigram").select(
        "source",
        "bigram",
        "tf_s",
        (F.col("tf_g") - F.col("tf_s")).alias("tf_rest"),
        (
            (F.col("tf_s") + F.lit(1.0))
            / (F.col("tf_g") - F.col("tf_s") + F.lit(1.0))
        ).alias("ratio"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("ratio").desc(), F.col("bigram")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "source",
            "bigram",
            F.col("tf_s").cast("long").alias("tf_source"),
            F.col("tf_rest").cast("long").alias("tf_rest"),
            F.round("ratio", 6).alias("ratio"),
            "rank",
        )
    )


@register(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOK} AS tok FROM documents
    ),
    s AS (
      SELECT doc_id, tok,
             unnest(generate_series(0, greatest(len(tok) - 1, 0), 48)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start / 48 AS BIGINT) AS chunk_id,
           len(list_slice(tok, start + 1, start + 64)) AS n_chunk_tokens,
           array_to_string(list_slice(tok, start + 1, start + 64), ' ')
             AS chunk_text
    FROM s
    """,
    category="text",
)
def text_chunk_overlap(spark, sf_dir):
    """Sliding-window document chunking (64-token chunks, 48-token
    stride → 16-token overlap) — the context-window splitter every
    RAG / pre-training pipeline runs before embedding or packing.
    Chunk starts are a sequence() per document exploded in place:
    pure codegen, no shuffle at all — the chunker is a map-only
    operator that scales with input splits. The final (possibly
    short) tail chunk is kept, matching the oracle's generate_series
    bound."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select("doc_id", tokenize(F.col("text")).alias("tok"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("tok") - 1, F.lit(0)), F.lit(48)
    )
    ex = tokd.select("doc_id", "tok", F.explode(starts).alias("start"))
    chunk = F.slice("tok", F.col("start") + 1, F.lit(64))
    return ex.select(
        "doc_id",
        (F.col("start") / 48).cast("long").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@register(
    "text_length_band_filter",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents
    )
    SELECT doc_id, source, n_chars, round(pr, 6) AS length_pctile
    FROM r
    WHERE pr >= 0.05 AND pr <= 0.95
    """,
    category="text",
)
def text_length_band_filter(spark, sf_dir):
    """Percentile-band length filtering per source: drop the shortest
    and longest 5% of documents WITHIN each source rather than against
    a global threshold (sources have different length regimes — a
    global cut would gut the short-form source). percent_rank is pure
    integer-rank arithmetic, so the band membership is bit-identical
    across engines — no interpolated-quantile boundary risk. One
    window, one shuffle, keyed on source."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select(
        "doc_id", "source", "n_chars", F.percent_rank().over(w).alias("pr")
    )
    return r.filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95)).select(
        "doc_id", "source", "n_chars", F.round("pr", 6).alias("length_pctile")
    )


@register(
    "text_quality_logreg",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, n_chars, {_DUCK_TOK} AS tok FROM documents
    ),
    f AS (
      SELECT doc_id,
             ln(1 + len(tok)) AS x_len,
             len(list_filter(tok, x -> x IN ('the','a','of','and','is')))
               / CAST(greatest(len(tok), 1) AS DOUBLE) AS x_stop,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
               / CAST(greatest(length(text), 1) AS DOUBLE) AS x_punct,
             CAST(n_chars AS DOUBLE) / greatest(len(tok), 1) AS x_toklen
      FROM t
    )
    SELECT doc_id,
           round(1 / (1 + exp(-(-2.0 + 0.8 * x_len + 3.0 * x_stop
                                - 6.0 * x_punct - 0.1 * x_toklen))), 6)
             AS quality_score,
           round(1 / (1 + exp(-(-2.0 + 0.8 * x_len + 3.0 * x_stop
                                - 6.0 * x_punct - 0.1 * x_toklen))), 6) >= 0.5
             AS keep
    FROM f
    """,
    category="text",
)
def text_quality_logreg(spark, sf_dir):
    """Model-based quality scoring as a pure codegen expression: a
    logistic regression with FIXED public weights over four engineered
    features (log length, stopword ratio, punctuation ratio, mean
    token length) — the fasttext-classifier stand-in for pre-training
    data curation. The trained model ships as constants in the plan,
    so scoring 100 TB is a map-only pass with zero Python and zero
    shuffle; the keep flag thresholds the ROUNDED score so the
    boundary decision is identical on both engines."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select(
        "doc_id", "text", "n_chars", tokenize(F.col("text")).alias("tok")
    )
    n_tok = F.greatest(F.size("tok"), F.lit(1))
    stop = F.array(*[F.lit(s) for s in ["the", "a", "of", "and", "is"]])
    x_len = F.log(F.lit(1) + F.size("tok"))
    x_stop = (
        F.size(F.filter(F.col("tok"), lambda t: F.array_contains(stop, t)))
        / n_tok.cast("double")
    )
    x_punct = F.length(
        F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", "")
    ).cast("double") / F.greatest(F.length("text"), F.lit(1))
    x_toklen = F.col("n_chars").cast("double") / n_tok
    z = (
        F.lit(-2.0)
        + 0.8 * x_len
        + 3.0 * x_stop
        - 6.0 * x_punct
        - 0.1 * x_toklen
    )
    score = F.round(F.lit(1) / (F.lit(1) + F.exp(-z)), 6)
    return tokd.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


@register(
    "text_keywords_tfidf_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_DUCK_TOK}) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
         df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.tok,
                  tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS s
           FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
         ),
         ranked AS (
           SELECT doc_id, tok, s,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY s DESC, tok) AS rnk
           FROM scored
         )
    SELECT doc_id, rnk, tok AS keyword, round(s, 6) AS score
    FROM ranked WHERE rnk <= 3
    """,
    category="text",
)
def text_keywords_tfidf_topk(spark, sf_dir):
    """Per-document keyword extraction: top-3 tokens by TF-IDF with a
    deterministic (score desc, token) tie-break — the cheap extractive
    summarizer / index-term generator. The document-frequency model is
    vocabulary-sized and broadcasts; the ranking window partitions on
    doc_id over the already-aggregated tf frame, so nothing bigger
    than (doc, distinct-token) rows ever shuffles."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df derived from tf (one row per (doc, token) already) — single
    # tokenize+explode pass, no distinct
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()
    from pyspark.sql import Window

    scored = tf.join(F.broadcast(df_), "tok").select(
        "doc_id",
        "tok",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("s"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id", "rnk", F.col("tok").alias("keyword"),
            F.round("s", 6).alias("score"),
        )
    )


@register(
    "text_collocations_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOK} AS tok FROM documents
    ),
    pairs AS (
      SELECT tok[i] AS w1, tok[i + 1] AS w2
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(tok) - 1)) AS i
      )
    ),
    uni AS (
      SELECT w1 AS w, count(*) AS c FROM pairs GROUP BY w1
    ),
    tot AS (
      SELECT count(*) AS n FROM pairs
    ),
    big AS (
      SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
    ),
    pmi AS (
      SELECT b.w1, b.w2, b.c12,
             ln((CAST(b.c12 AS DOUBLE) * t.n) / (u1.c * u2.c)) AS pmi
      FROM big b
      JOIN uni u1 ON b.w1 = u1.w
      JOIN uni u2 ON b.w2 = u2.w
      CROSS JOIN tot t
      WHERE b.c12 >= 5
    )
    SELECT w1, w2, c12, round(pmi, 6) AS pmi
    FROM pmi
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
    category="text",
)
def text_collocations_pmi(spark, sf_dir):
    """Collocation mining via pointwise mutual information over
    adjacent token pairs (min count 5, top 20): the phrase detector
    that feeds tokenizer merges and stop-phrase lists. Unigram counts
    here are counts of pair LEFT slots, so marginals and joints come
    from the same pair population (clean probability space). The
    unigram marginals and the pair total are DERIVED from the
    aggregated bigram frame (uni(w) = sum of c12 over pairs with left
    slot w), so the corpus is tokenized and exploded exactly ONCE —
    the naive three-consumer form re-ran the explode per consumer and
    measured 3.4x slower at the 10x corpus. Top-20 is a TakeOrdered,
    not a global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokenize(F.col("text")).alias("tok"))
    idx = F.sequence(F.lit(1), F.greatest(F.size("tok") - 1, F.lit(0)))
    pairs = (
        toks.filter(F.size("tok") >= 2)
        .select(F.explode(idx).alias("i"), "tok")
        .select(
            F.element_at("tok", F.col("i")).alias("w1"),
            F.element_at("tok", F.col("i") + 1).alias("w2"),
        )
    )
    from bigdata_financial_reporting_spark.operators.cache import track

    big = track(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).persist()
    )
    uni = big.groupBy(F.col("w1").alias("w")).agg(F.sum("c12").alias("c"))
    tot = big.agg(F.sum("c12").alias("t")).first().t
    pmi = (
        big.filter(F.col("c12") >= 5)
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")
                          .withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                          .withColumnRenamed("c", "c2")), "w2")
        .select(
            "w1", "w2", "c12",
            F.log(
                F.col("c12").cast("double") * F.lit(float(tot))
                / (F.col("c1") * F.col("c2"))
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("pmi"), "w1", "w2").limit(20).select(
        "w1", "w2", "c12", F.round("pmi", 6).alias("pmi")
    )


@register(
    "split_kfold",
    oracle="""
    WITH folded AS (
      SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 5 AS fold,
             lang, n_chars
      FROM documents
    )
    SELECT fold, count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           round(avg(n_chars), 6) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM folded
    GROUP BY fold
    """,
    category="text",
)
def split_kfold(spark, sf_dir):
    """Deterministic 5-fold cross-validation assignment: the fold is
    a pure function of doc_id (first 16 md5 bits mod 5), so folds are
    reproducible across engines, runs, and repartitionings — the same
    stability contract as split_train_test, generalized to k folds.
    Emits per-fold balance diagnostics (count, language diversity,
    length stats) that a pipeline checks before trusting the split.
    Map-only assignment + one map-side-combined aggregate."""
    d = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 5
    )
    return (
        d.select(fold.alias("fold"), "lang", "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "text_pagerank_keywords",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text),
               '[^a-z0-9 \\t\\n]', ' ', 'g'), '\\s+'), t -> t <> '') AS tok
      FROM documents
    ),
    big AS (
      SELECT tok[i] AS a, tok[i + 1] AS b
      FROM toks, LATERAL unnest(generate_series(1, len(tok) - 1)) t(i)
      WHERE len(tok) >= 2 AND tok[i] <> tok[i + 1]
    ),
    edges AS (
      SELECT DISTINCT a AS src, b AS dst FROM big
      UNION
      SELECT DISTINCT b AS src, a AS dst FROM big
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / n AS r FROM deg, nn),
    r1 AS (
      SELECT e.dst AS node, 0.15 / max(nn.n) + 0.85 * sum(r.r / dg.d) AS r
      FROM edges e JOIN r0 r ON e.src = r.node
                   JOIN deg dg ON e.src = dg.src, nn
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node, 0.15 / max(nn.n) + 0.85 * sum(r.r / dg.d) AS r
      FROM edges e JOIN r1 r ON e.src = r.node
                   JOIN deg dg ON e.src = dg.src, nn
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node, 0.15 / max(nn.n) + 0.85 * sum(r.r / dg.d) AS r
      FROM edges e JOIN r2 r ON e.src = r.node
                   JOIN deg dg ON e.src = dg.src, nn
      GROUP BY e.dst
    )
    SELECT r3.node AS token, round(r3.r, 6) AS rank,
           CAST(deg.d AS BIGINT) AS degree
    FROM r3 JOIN deg ON r3.node = deg.src
    """,
    category="text",
)
def text_pagerank_keywords(spark, sf_dir):
    """TextRank keyword scoring (Mihalcea/Tarau '04): PageRank over
    the word co-occurrence graph (undirected edges between adjacent
    tokens), 3 fixed power iterations, damping 0.85. The iterative
    step is the canonical distributed PageRank plan — edges join
    ranks on src, contributions sum per dst with map-side combine —
    so the same code runs a billion-edge web graph; no driver-side
    state at all (even the node count N rides along as a broadcast
    1-row aggregate instead of a collect). Fixed iteration count +
    6-dp rounding keep it exactly reproducible, so the DuckDB oracle
    is the same recursion unrolled into three CTEs.

    Scale posture: the corpus-sized bigram stream collapses to the
    vocabulary²-bounded distinct pair set in its first exchange (the
    partial-distinct map side does the reduction), and the edge list +
    degree frame are persisted so the corpus pass runs ONCE — found at
    the 10x corpus, where the naive form re-exploded all 50k documents
    in every one of the three iterations (26 s warm → ~6 s). A
    per-document ``array_distinct`` pre-dedup was tried and REJECTED:
    over struct arrays it runs interpreted O(n²) element comparisons
    (21 s for the corpus pass vs 4.4 s letting the exchange dedup)."""
    from bigdata_financial_reporting_spark.operators.cache import track
    from bigdata_financial_reporting_spark.operators.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokenize(F.col("text")).alias("tok")).filter(
        F.size("tok") >= 2
    )
    big = toks.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(tok) - 1), "
                "i -> struct(element_at(tok, i) AS a, element_at(tok, i + 1) AS b)), "
                "p -> p.a <> p.b)"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).distinct()
    # vocabulary²-bounded — persisting caps the corpus pass at one
    # (the union below consumes it twice, the iterations many times)
    big = track(big.persist())
    edges = track(
        big.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(big.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist()
    )
    deg = track(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).persist()
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst"), (F.col("r") / F.col("d")).alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("node"),
                (0.15 / F.col("n") + 0.85 * F.col("s")).alias("r"),
            )
        )
    return ranks.join(deg, ranks.node == deg.src).select(
        F.col("node").alias("token"),
        F.round("r", 6).alias("rank"),
        F.col("d").cast("long").alias("degree"),
    )


@register(
    "pipeline_pretrain_end2end",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, n_chars,
             len({_DUCK_TOK}) AS n_tokens,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents
    ),
    q AS (
      SELECT * FROM base WHERE n_tokens >= 20 AND n_chars >= 100
    ),
    dd AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM q
      ) WHERE rn = 1
    ),
    sp AS (
      SELECT *,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                            1, 4)) AS BIGINT) % 10 < 8 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                            1, 4)) AS BIGINT) % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM dd
    ),
    packed AS (
      SELECT split, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
      FROM sp
    )
    SELECT split,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(floor((cum_end - 1) / 512.0)) + 1 AS BIGINT) AS n_packs,
           (SELECT count(*) FROM base) - (SELECT count(*) FROM q)
             AS n_dropped_quality,
           (SELECT count(*) FROM q) - (SELECT count(*) FROM dd)
             AS n_dropped_dup
    FROM packed
    GROUP BY split
    """,
    category="text",
)
def pipeline_pretrain_end2end(spark, sf_dir):
    """The full pretraining-data pipeline as ONE composed dataflow:
    quality filter (length floors) -> exact dedup on the normalized
    fingerprint (keep lowest doc_id) -> deterministic hash split ->
    512-token sequence packing via per-split cumulative sums ->
    per-split accounting (docs, tokens, packs, and how many documents
    each upstream stage dropped). Every stage is the registry's
    already-verified primitive (quality_filter_reasons,
    dedup_exact_groups, split_train_test, text_pack_sequences) chained
    without materialization barriers — Catalyst fuses the filters and
    fingerprinting into the scan projection, and the only shuffles are
    the dedup window (keyed on the high-cardinality fingerprint) and
    the per-split packing window. The drop counters ride along as
    broadcast 1-row aggregates, not driver collects."""
    from pyspark.sql import Window

    from bigdata_financial_reporting_spark.operators.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(tokenize(F.col("text"))).alias("n_tokens"),
        F.md5(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
        ).alias("fp"),
    )
    q = base.filter((F.col("n_tokens") >= 20) & (F.col("n_chars") >= 100))
    dd = (
        q.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    sp = dd.withColumn("split", _split_col())
    cum = F.sum("n_tokens").over(
        Window.partitionBy("split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sp.select("split", "n_tokens", cum.alias("cum_end"))
    # drop counters WITHOUT extra corpus passes (10x finding: separate
    # n_base/n_q/n_dd aggregates re-ran the tokenize scan 3 times,
    # 18.7 s warm): nb and nq come from ONE combined pass over base,
    # and the post-dedup count is the sum of per-split n_docs — a
    # window over the 3-row result frame, not a scan.
    from pyspark.sql import Window as _W

    counters = base.select(
        ((F.col("n_tokens") >= 20) & (F.col("n_chars") >= 100))
        .cast("long")
        .alias("passes_q")
    ).agg(
        F.count(F.lit(1)).alias("nb"), F.sum("passes_q").alias("nq")
    )
    per_split = packed.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.max(F.floor((F.col("cum_end") - 1) / 512.0)) + 1)
        .cast("long")
        .alias("n_packs"),
    )
    ndd = F.sum("n_docs").over(_W.partitionBy())
    return (
        per_split.withColumn("ndd", ndd)
        .crossJoin(F.broadcast(counters))
        .select(
            "split",
            "n_docs",
            "total_tokens",
            "n_packs",
            (F.col("nb") - F.col("nq")).alias("n_dropped_quality"),
            (F.col("nq") - F.col("ndd")).alias("n_dropped_dup"),
        )
    )


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOK}) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY tok),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM freq
    )
    SELECT round(regr_slope(log(CAST(f AS DOUBLE)),
                            log(CAST(r AS DOUBLE))), 6) AS zipf_slope,
           round(regr_r2(log(CAST(f AS DOUBLE)),
                         log(CAST(r AS DOUBLE))), 6) AS fit_r2,
           count(*) AS vocab,
           CAST(sum(f) AS BIGINT) AS total_tokens
    FROM ranked
    """,
    category="text",
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit of the corpus frequency spectrum: OLS slope of
    log(frequency) on log(rank) plus R² — the one-row corpus
    diagnostic that distinguishes natural-language from synthetic or
    degenerate corpora (natural text slopes ~-1 at high R²; this
    fixture's uniform generator fits badly, which is the finding).
    The rank window runs over the VOCABULARY-sized frequency table,
    not the token stream; corpus order never matters because ranking
    ties break on the token string."""
    from pyspark.sql import Window

    from bigdata_financial_reporting_spark.operators.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.select(
        F.col("f").cast("double").alias("f"),
        F.row_number()
        .over(Window.orderBy(F.desc("f"), "tok"))
        .cast("double")
        .alias("r"),
    )
    return ranked.agg(
        F.round(F.regr_slope(F.log("f"), F.log("r")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("f"), F.log("r")), 6).alias("fit_r2"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum("f").cast("long").alias("total_tokens"),
    )


@register(
    "text_bpe_merge_step",
    oracle="""
    WITH words AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    pos AS (
      SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i
      FROM words
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 1) AS sym_a,
             substr(word, CAST(i AS INT) + 1, 1) AS sym_b,
             sum(freq) AS cnt
      FROM pos GROUP BY 1, 2
    )
    SELECT sym_a, sym_b, CAST(cnt AS BIGINT) AS merge_count
    FROM pairs ORDER BY merge_count DESC, sym_a, sym_b LIMIT 20
    """,
    category="text",
)
def text_bpe_merge_step(spark, sf_dir):
    """One BPE-training merge step, distributed: the pair-counting
    pass tokenizer induction (Sennrich et al. 2016) iterates — count
    adjacent symbol pairs across the corpus weighted by word
    frequency, take the top merges. The expensive corpus scan
    collapses to the per-WORD frequency table first (groupBy combines
    map-side), so pair explosion runs over distinct words — corpus
    growth only changes frequencies, not the exploded row count.
    Counts are exact integers (order-independent); the top-20 cut is
    a total order (count desc, then pair), so both engines pick an
    identical merge list. Full BPE = this step iterated with the
    chosen merge applied; the per-step dataflow is what has to scale."""
    words = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pos = words.filter(F.length("word") >= 2).select(
        "word",
        "freq",
        # sequence(1, 0) would generate a DESCENDING [1, 0] in Spark,
        # so single-char words are filtered out above (they have no
        # pairs; DuckDB's generate_series(1, 0) is empty)
        F.explode(
            F.sequence(F.lit(1), F.length("word") - 1)
        ).alias("i"),
    )
    pairs = (
        pos.select(
            F.expr("substring(word, i, 1)").alias("sym_a"),
            F.expr("substring(word, i + 1, 1)").alias("sym_b"),
            "freq",
        )
        .groupBy("sym_a", "sym_b")
        .agg(F.sum("freq").alias("merge_count"))
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.orderBy(
            F.col("merge_count").desc(), F.col("sym_a"), F.col("sym_b")
        )
    )
    return (
        pairs.withColumn("__rn", rn)
        .filter(F.col("__rn") <= 20)
        .select("sym_a", "sym_b", "merge_count")
    )


@register(
    "text_flesch_readability",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      FROM documents
    )
    SELECT doc_id, CAST(words AS BIGINT) AS words,
           CAST(sentences AS BIGINT) AS sentences,
           CAST(syllables AS BIGINT) AS syllables,
           round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) + 0
             AS flesch
    FROM m WHERE words > 0
    """,
    category="text",
)
def text_flesch_readability(spark, sf_dir):
    """Flesch reading-ease per document — the classic readability
    quality signal (Kincaid et al. 1975), with the standard
    vowel-group syllable heuristic: syllables ≈ [aeiouy]+ runs,
    sentences ≈ [.!?]+ runs (floored at 1), words = [a-z]+ runs. All
    three are exact integer regexp counts (pure codegen, one map-only
    pass, no shuffle at all), and the score is one fixed double
    expression over them — bit-identical across engines and layouts.
    '+ 0' guards the rare near-zero score rounding to DuckDB's -0.0."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0))
    sentences = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0))
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)
    )
    m = d.select(
        "doc_id",
        words.cast("long").alias("words"),
        sentences.cast("long").alias("sentences"),
        syllables.cast("long").alias("syllables"),
    ).filter(F.col("words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("words").cast("double") / F.col("sentences"))
        - F.lit(84.6)
        * (F.col("syllables").cast("double") / F.col("words"))
    )
    return m.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.round(flesch, 4).alias("flesch"),
    )


@register(
    "text_html_strip",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             '<p>' || replace(text, chr(10), '</p><p>') || '</p>' AS html
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT)
             AS n_tags,
           CAST(length(trim(regexp_replace(
                  regexp_replace(html, '<[^>]+>', ' ', 'g'),
                  '\\s+', ' ', 'g'))) AS BIGINT) AS stripped_len,
           substr(trim(regexp_replace(
                  regexp_replace(html, '<[^>]+>', ' ', 'g'),
                  '\\s+', ' ', 'g')), 1, 40) AS head
    FROM h
    """,
    category="text",
)
def text_html_strip(spark, sf_dir):
    """HTML tag stripping — the first cleanup stage of every
    web-scrape ingestion pipeline. The fixture text is plain, so the
    markup is constructed deterministically (paragraph tags around
    newline-split text) and then stripped back: tags → space,
    whitespace squeezed, trimmed. Tag count, cleaned length, and the
    cleaned head prove the strip; everything is string codegen in one
    map-only pass — at 100 TB this runs at scan speed with zero
    shuffles."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<p>"),
        F.regexp_replace(F.col("text"), F.lit("\n"), F.lit("</p><p>")),
        F.lit("</p>"),
    )
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(html, F.lit("<[^>]+>"), F.lit(" ")),
            F.lit("\\s+"),
            F.lit(" "),
        )
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(html, F.lit("<[^>]+>"), 0))
        .cast("long")
        .alias("n_tags"),
        F.length(stripped).cast("long").alias("stripped_len"),
        F.substring(stripped, 1, 40).alias("head"),
    )


@register(
    "mix_domain_rebalance",
    oracle="""
    WITH sized AS (
      SELECT source, count(*) AS n_before FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_before) // count(*) AS BIGINT) AS per_domain
      FROM sized
    ),
    ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('rebal:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT s.source, s.n_before,
           least(s.n_before, t.per_domain) AS quota,
           (SELECT count(*) FROM ranked r
            WHERE r.source = s.source
              AND r.rn <= least(s.n_before, t.per_domain)) AS n_kept,
           (SELECT CAST(sum(doc_id) AS BIGINT) FROM ranked r
            WHERE r.source = s.source
              AND r.rn <= least(s.n_before, t.per_domain)) AS id_checksum
    FROM sized s, tot t
    """,
    category="text",
)
def mix_domain_rebalance(spark, sf_dir):
    """Domain rebalancing for a training mix: every source is capped
    at an equal share (total/k docs), with the kept subset chosen by a
    salted-md5 ranking — membership is a pure function of doc_id, so
    the SAME documents are selected on any cluster, any partitioning,
    any rerun (no RNG state to ship). This is the downsampling half of
    mix_temperature_sample's reweighting: where temperature adjusts
    probabilities, rebalance enforces hard caps. The rank window sorts
    within each source only; id_checksum (exact integer sum of kept
    ids) proves the selected SET matches, not just its size."""
    from pyspark.sql import Window

    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.operators.cache import track

    d = load_table(spark, sf_dir, "documents")
    # sized feeds the quota scalar, the per-source quota join and the
    # report row. Domain-count-sized; persisted, it runs faster than
    # re-aggregating the corpus per consumer. The 1-row tot derives
    # from it and is cheaper recomputed than cached.
    sized = track(
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_before"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = sized.agg(
        (F.sum("n_before") / F.count(F.lit(1))).cast("long").alias("per_domain")
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("rebal:"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    ranked = d.select(
        "source", "doc_id", F.row_number().over(w).alias("rn")
    )
    kept = (
        ranked.join(F.broadcast(sized), "source")
        .join(F.broadcast(tot))
        .filter(F.col("rn") <= F.least(F.col("n_before"), F.col("per_domain")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )
    return (
        sized.join(F.broadcast(tot))
        .join(kept, "source", "left")
        .select(
            "source",
            "n_before",
            F.least(F.col("n_before"), F.col("per_domain")).alias("quota"),
            "n_kept",
            "id_checksum",
        )
    )


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOK} AS tok FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(tok) AS n_words,
             len(list_distinct(tok)) AS n_distinct,
             -- BIGINT cast: a bare list_aggregate sum comes back
             -- HUGEINT, which pandas renders as float (dtype parity)
             CAST(list_aggregate(list_transform(tok, w -> length(w)), 'sum')
                  AS BIGINT) AS n_word_chars
      FROM t
    )
    SELECT doc_id, n_words, n_distinct, n_word_chars,
           n_words < 50 AS flag_short,
           2 * n_distinct < n_words AS flag_low_diversity,
           NOT (n_word_chars >= 4 * n_words AND n_word_chars <= 5 * n_words)
             AS flag_wordlen_out,
           (n_words >= 50 AND 2 * n_distinct >= n_words
            AND n_word_chars >= 4 * n_words AND n_word_chars <= 5 * n_words)
             AS keep
    FROM m
    """,
    category="text",
)
def quality_gopher_rules(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1,
    adapted to this fixture's value ranges): minimum word count,
    type/token diversity floor, and a mean-word-length band — each
    expressed as a pure INTEGER comparison (chars >= 4*words instead
    of chars/words >= 4.0), so no float ratio ever forms and the flags
    are bit-exact at any scale. One projection, no shuffle; the `keep`
    column is the conjunctive filter a pretraining pipeline applies
    before tokenization."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokenize(F.col("text"))
    m = d.select(
        "doc_id",
        F.size(tok).alias("n_words"),
        F.size(F.array_distinct(tok)).alias("n_distinct"),
        F.aggregate(
            F.transform(tok, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("long").alias("n_word_chars"),
    )
    w, dw, ch = F.col("n_words"), F.col("n_distinct"), F.col("n_word_chars")
    wordlen_ok = (ch >= 4 * w) & (ch <= 5 * w)
    return m.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "n_word_chars",
        (w < 50).alias("flag_short"),
        (2 * dw < w).alias("flag_low_diversity"),
        (~wordlen_ok).alias("flag_wordlen_out"),
        ((w >= 50) & (2 * dw >= w) & wordlen_ok).alias("keep"),
    )


@register(
    "mix_epoch_upsample",
    oracle=f"""
    WITH t AS (
      SELECT source, CAST(sum(len({_DUCK_TOK})) AS BIGINT) AS n_tokens,
             count(*) AS n_docs
      FROM documents GROUP BY source
    ),
    e AS (
      SELECT source, n_docs, n_tokens,
             least(4.0, greatest(1.0,
               sqrt(CAST(max(n_tokens) OVER () AS DOUBLE) / n_tokens)))
               AS epochs
      FROM t
    ),
    u AS (
      SELECT d.doc_id, d.source,
             CAST(concat('0x', substr(md5('epoch:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) / 16777216.0 AS u
      FROM documents d
    ),
    c AS (
      SELECT u.source, e.n_docs, e.epochs,
             CAST(floor(e.epochs) AS BIGINT)
             + CASE WHEN u.u < e.epochs - floor(e.epochs) THEN 1 ELSE 0 END
               AS copies
      FROM u JOIN e ON u.source = e.source
    )
    SELECT source, n_docs,
           CAST(sum(copies) AS BIGINT) AS n_copies,
           round(epochs, 6) AS target_epochs,
           CAST(sum(copies) AS DOUBLE) / n_docs AS realized_epochs
    FROM c GROUP BY source, n_docs, epochs
    """,
    category="text",
)
def mix_epoch_upsample(spark, sf_dir):
    """Dataset-mixing UPSAMPLING: low-resource sources repeat for
    several epochs (sqrt inverse-token weighting, clipped to [1, 4] —
    the multi-epoch mixing used when a domain is too small for its
    target share). Integer copies come from floor(epochs); the
    fractional epoch is realized per document by a deterministic
    md5-uniform draw (salt 'epoch:', decorrelated from the sampling /
    split salts) — reproducible across runs, engines and partitions,
    no RNG state. The census per source verifies the plan; the same
    copies column drives an explode(sequence(1, copies)) to actually
    materialize the epochs. Stats and rates are source-dim sized and
    broadcast; the corpus is scanned once."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.sum(F.size(tokenize(F.col("text")))).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    allw = Window.partitionBy()
    epochs = F.least(
        F.lit(4.0),
        F.greatest(
            F.lit(1.0),
            F.sqrt(
                F.max("n_tokens").over(allw).cast("double") / F.col("n_tokens")
            ),
        ),
    )
    e = t.select("source", "n_docs", epochs.alias("epochs"))
    u = d.select(
        "doc_id",
        "source",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("epoch:"), F.col("doc_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(16777216.0)
        ).alias("u"),
    )
    copies = F.floor("epochs").cast("long") + F.when(
        F.col("u") < F.col("epochs") - F.floor("epochs"), 1
    ).otherwise(0)
    return (
        u.join(F.broadcast(e), "source")
        .select("source", "n_docs", "epochs", copies.alias("copies"))
        .groupBy("source", "n_docs", "epochs")
        .agg(F.sum("copies").cast("long").alias("n_copies"))
        .select(
            "source",
            "n_docs",
            "n_copies",
            F.round("epochs", 6).alias("target_epochs"),
            (F.col("n_copies").cast("double") / F.col("n_docs")).alias(
                "realized_epochs"
            ),
        )
    )


@register(
    "split_leakage_safe",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents
    ),
    sides AS (
      SELECT doc_id, fp,
             CASE WHEN CAST(concat('0x', substr(md5('split:' || fp), 1, 6))
                       AS BIGINT) / 16777216.0 < 0.8
                  THEN 'train' ELSE 'holdout' END AS side
      FROM fp
    )
    SELECT side,
           count(*) AS n_docs,
           count(DISTINCT fp) AS n_fps,
           count(*) - count(DISTINCT fp) AS n_dup_docs
    FROM sides GROUP BY side
    """,
    category="text",
)
def split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/holdout split: the side is a deterministic
    hash of the CONTENT fingerprint, not the doc id, so exact
    duplicates land on the same side by construction — the
    contamination class split_contamination measures cannot occur.
    (An id-hashed split scatters copies of one document across both
    sides; evaluating on the holdout then scores memorization.) The
    census per side counts docs, distinct fingerprints, and the
    duplicate docs that rode along with their fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""))
    side = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), fp)), 1, 6), 16, 10
        ).cast("long")
        / F.lit(16777216.0)
        < 0.8,
        "train",
    ).otherwise("holdout")
    return (
        d.select(fp.alias("fp"), side.alias("side"))
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_fps"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_docs"),
        )
    )


@register(
    "text_charclass_profile",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(sum(length(regexp_replace(props, '[^0-9]', '', 'g')) ) AS BIGINT)
             AS n_digit_chars,
           CAST(sum(length(regexp_replace(props, '[^a-z]', '', 'g')) ) AS BIGINT)
             AS n_alpha_chars,
           CAST(sum(length(props)
                    - length(regexp_replace(props, '[^0-9]', '', 'g'))
                    - length(regexp_replace(props, '[^a-z]', '', 'g'))) AS BIGINT)
             AS n_other_chars,
           CAST((2 * sum(length(regexp_replace(props, '[^0-9]', '', 'g'))) * 1000000
                 + sum(length(props))) // (2 * sum(length(props))) AS BIGINT)
             AS digit_ppm
    FROM events
    GROUP BY event_type
    """,
    category="text",
)
def text_charclass_profile(spark, sf_dir):
    """Character-class profile of a semi-structured payload column
    (events.props, a JSON blob): digit / alpha / other char counts per
    event type — the cheap structural signal a crawl pipeline uses to
    route payloads (numeric-heavy telemetry vs prose) before paying
    for a parse. Counts are exact integers; the digit share renders as
    ppm via pure-integer half-away division (functions/exact.py — no
    float ratio, no rounding divergence)."""
    from bigdata_financial_reporting_spark.functions.exact import (
        spark_half_div,
    )

    e = load_table(spark, sf_dir, "events")
    digits = F.length(F.regexp_replace("props", "[^0-9]", ""))
    alpha = F.length(F.regexp_replace("props", "[^a-z]", ""))
    total = F.length("props")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(digits).cast("long").alias("n_digit_chars"),
        F.sum(alpha).cast("long").alias("n_alpha_chars"),
        F.sum(total - digits - alpha).cast("long").alias("n_other_chars"),
        F.sum(total).cast("long").alias("__n_total"),
    )
    return agg.select(
        "event_type",
        "n_rows",
        "n_digit_chars",
        "n_alpha_chars",
        "n_other_chars",
        F.expr(spark_half_div("n_digit_chars * 1000000", "__n_total"))
        .cast("long")
        .alias("digit_ppm"),
    )


@register(
    "text_word_run_lengths",
    oracle=f"""
    WITH pos AS (
      -- parallel unnests zip positionally in DuckDB (no WITH
      -- ORDINALITY in this build)
      SELECT doc_id, unnest(tok) AS word,
             unnest(generate_series(1, len(tok))) AS i
      FROM (SELECT doc_id, {_DUCK_TOK} AS tok FROM documents) d
    ),
    runs AS (
      SELECT doc_id, word, i,
             CASE WHEN lag(word) OVER w IS DISTINCT FROM word
                  THEN 1 ELSE 0 END AS new_run
      FROM pos
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    grp AS (
      SELECT doc_id, word,
             sum(new_run) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    ),
    lens AS (
      SELECT doc_id, run_id, count(*) AS run_len
      FROM grp GROUP BY doc_id, run_id
    )
    SELECT doc_id,
           CAST(sum(run_len) AS BIGINT) AS n_words,
           CAST(max(run_len) AS BIGINT) AS max_run,
           CAST(count(*) FILTER (run_len >= 2) AS BIGINT) AS n_runs_ge2
    FROM lens GROUP BY doc_id
    """,
    category="text",
)
def text_word_run_lengths(spark, sf_dir):
    """Consecutive-word run lengths per document — the stutter signal
    ('the the the') that n-gram repetition ratios miss because they
    count global frequency, not adjacency. Classic gaps-and-islands:
    posexplode -> new-run flag (lag) -> running-sum run id -> run
    lengths -> per-doc max and count of runs >= 2. Windows partition
    by doc only (bounded by document length); all outputs are exact
    integers. A pretraining filter drops docs whose max_run exceeds a
    threshold."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("i", "word")
    )
    w = W.partitionBy("doc_id").orderBy("i")
    runs = pos.withColumn(
        "new_run",
        F.when(
            ~F.lag("word").over(w).eqNullSafe(F.col("word")), 1
        ).otherwise(0),
    )
    grp = runs.withColumn(
        "run_id",
        F.sum("new_run").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    lens = grp.groupBy("doc_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return lens.groupBy("doc_id").agg(
        F.sum("run_len").cast("long").alias("n_words"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum(F.when(F.col("run_len") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_runs_ge2"),
    )


@register(
    "quality_perplexity_bucket",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOK}) AS tok FROM documents
    ),
    v AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    c AS (SELECT sum(tf) AS total, count(*) AS vocab FROM v),
    scored AS (
      SELECT t.doc_id,
             CAST(round(round(avg(-ln((v.tf + 1)
                 / CAST(c.total + c.vocab AS DOUBLE))), 6) * 1000000)
               AS BIGINT) AS score_u
      FROM toks t JOIN v ON t.tok = v.tok CROSS JOIN c
      GROUP BY t.doc_id
    ),
    b AS (
      SELECT doc_id, score_u,
             ntile(10) OVER (ORDER BY score_u, doc_id) AS bucket
      FROM scored
    )
    SELECT bucket,
           count(*) AS n_docs,
           min(score_u) / 1000000.0 AS min_score,
           max(score_u) / 1000000.0 AS max_score,
           CAST({{mean}} AS DOUBLE) / 1000000.0 AS mean_score
    FROM b
    GROUP BY bucket
    """.format(mean=duck_half_div("sum(score_u)", "count(*)")),
    category="text",
)
def quality_perplexity_bucket(spark, sf_dir):
    """Perplexity-bucket census — the CCNet head/middle/tail split
    generalised to deciles: every document's unigram-LM fluency score
    (same add-one-smoothed model and 6dp rendering as
    text_unigram_logprob) ranks into ntile(10) buckets with doc_id as
    the tie-break, and each bucket reports its size and score band —
    the table a pretraining pipeline uses to choose which quality
    slice to keep or re-weight. Exactness: the score micro-quantizes
    to an integer BEFORE ranking and aggregation, so bucket boundaries
    and the bucket means (exact decimal sums rendered by integer
    half-away division) are bit-stable at any scale; only min/max/mean
    of exact integers leave the aggregation. The global ntile is one
    ordered window over |docs| score rows (id + int), orders of
    magnitude lighter than the corpus scan that produced them."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from bigdata_financial_reporting_spark.functions.exact import (
        spark_half_div,
    )
    from bigdata_financial_reporting_spark.operators.cache import track

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    v = track(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = v.agg(F.sum("tf").alias("total"), F.count(F.lit(1)).alias("vocab"))
    neg_logp = -F.log(
        (F.col("tf") + 1) / (F.col("total") + F.col("vocab")).cast("double")
    )
    scored = (
        toks.join(v, "tok")
        .crossJoin(F.broadcast(c))
        .groupBy("doc_id")
        .agg(
            (F.round(F.round(F.avg(neg_logp), 6) * 1000000))
            .cast("long")
            .alias("score_u")
        )
    )
    b = scored.withColumn(
        "bucket", F.ntile(10).over(Window.orderBy("score_u", "doc_id"))
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.min("score_u") / 1000000.0).alias("min_score"),
        (F.max("score_u") / 1000000.0).alias("max_score"),
        (
            F.expr(
                spark_half_div(
                    "sum(cast(score_u as decimal(38,0)))", "count(1)"
                )
            ).cast("double")
            / 1000000.0
        ).alias("mean_score"),
    )
