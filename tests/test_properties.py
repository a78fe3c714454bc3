"""Property-based spot checks (SURVEY.md §5.5): algebraic invariants
that must hold for ANY data, exercised with hypothesis-generated rows.

Each property round-trips through real Spark execution, so examples are
kept small and few — the goal is invariant coverage, not fuzz volume."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.operators.dedup import exact_dedup
from bigdata_financial_reporting_spark.operators.topk import top_k_per_group

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),      # key
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=0,
    max_size=30,
)


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, v=v, idx=i) for i, (k, v) in enumerate(rows)],
        "k int, v int, idx int",
    )


@SETTINGS
@given(rows=rows_strategy)
def test_filter_commutes_with_select(spark, rows):
    df = _df(spark, rows)
    a = df.filter(F.col("v") > 0).select("k", "v")
    b = df.select("k", "v").filter(F.col("v") > 0)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@SETTINGS
@given(rows=rows_strategy, rows2=rows_strategy)
def test_union_counts_add(spark, rows, rows2):
    d1, d2 = _df(spark, rows), _df(spark, rows2)
    assert d1.unionByName(d2).count() == d1.count() + d2.count()


@SETTINGS
@given(rows=rows_strategy)
def test_lag_of_lead_identity_on_interior_rows(spark, rows):
    """lag(lead(v)) == v wherever both are defined (interior rows)."""
    df = _df(spark, rows)
    w = Window.partitionBy("k").orderBy("idx")
    out = df.select(
        "v", F.lag(F.lead("v", 1).over(w), 1).over(w).alias("roundtrip")
    ).collect()
    for r in out:
        if r.roundtrip is not None:
            assert r.roundtrip == r.v


@SETTINGS
@given(rows=rows_strategy)
def test_exact_dedup_idempotent(spark, rows):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{v}") for i, (_, v) in enumerate(rows)],
        "doc_id int, text string",
    )
    once = exact_dedup(df, "text", "doc_id")
    twice = exact_dedup(once, "text", "doc_id")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@SETTINGS
@given(rows=rows_strategy, k=st.integers(min_value=1, max_value=4))
def test_topk_bounded_and_ordered(spark, rows, k):
    df = _df(spark, rows)
    out = top_k_per_group(df, ["k"], [F.col("v").desc(), F.col("idx").asc()], k)
    got = {}
    for r in out.collect():
        got.setdefault(r.k, []).append((r.v, r.idx))
    src = {}
    for key, v in rows:
        src.setdefault(key, 0)
    for key, vals in got.items():
        assert len(vals) <= k
        # returned rows are the true top-k by (v desc, idx asc)
        all_vals = sorted(
            ((v, i) for i, (kk, v) in enumerate(rows) if kk == key),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        assert sorted(vals, key=lambda t: (-t[0], t[1])) == all_vals


@SETTINGS
@given(rows=rows_strategy)
def test_global_lag_matches_naive_window(spark, rows):
    """The range-partitioned + boundary-stitched global lag must equal
    the naive single-partition Window.orderBy lag for ANY data, at any
    forced partition count (boundary rows land arbitrarily)."""
    from bigdata_financial_reporting_spark.operators.global_window import global_lag

    df = _df(spark, rows)
    naive_w = Window.orderBy("idx")
    naive = {
        r.idx: r.l
        for r in df.select("idx", F.lag("v").over(naive_w).alias("l")).collect()
    }
    for nparts in (1, 3, 7):
        got = {
            r["idx"]: r["__lag"]
            for r in global_lag(df, ["idx"], "v", num_partitions=nparts).collect()
        }
        assert got == naive, f"num_partitions={nparts}"


@SETTINGS
@given(rows=rows_strategy)
def test_global_row_number_matches_naive_window(spark, rows):
    """Both global_row_number strategies (range-partitioned and static
    hash-prefix buckets) must equal the naive single-partition
    row_number for ANY data. The md5 prefix bucket is an
    order-coarsening of the md5 order key, the bucketed path's
    contract."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_row_number,
    )

    df = _df(spark, rows).select(
        "idx", F.md5(F.col("idx").cast("string")).alias("h")
    )
    naive_w = Window.orderBy("h", "idx")
    naive = {
        r.idx: r.p
        for r in df.select(
            "idx", F.row_number().over(naive_w).cast("long").alias("p")
        ).collect()
    }
    for nparts in (1, 3, 7):
        got = {
            r["idx"]: r["pos"]
            for r in global_row_number(
                df, ["h", "idx"], num_partitions=nparts
            ).collect()
        }
        assert got == naive, f"num_partitions={nparts}"
    bucketed = {
        r["idx"]: r["pos"]
        for r in global_row_number(
            df, ["h", "idx"], bucket_col=F.substring("h", 1, 1)
        ).collect()
    }
    assert bucketed == naive


@SETTINGS
@given(rows=rows_strategy)
def test_groupby_sum_equals_global_sum(spark, rows):
    df = _df(spark, rows)
    per_group = df.groupBy("k").agg(F.sum("v").alias("s"))
    total_of_groups = per_group.agg(F.sum("s")).first()[0]
    total = df.agg(F.sum("v")).first()[0]
    assert total_of_groups == total


@SETTINGS
@given(rows=rows_strategy, rights=rows_strategy)
def test_asof_join_strategies_agree(spark, rows, rights):
    """The union+last_value scale path and the range-join+rank path of
    the as-of join must produce identical results for ANY data,
    including keys with no right-side rows and tied timestamps."""
    from pyspark.sql import Row

    from bigdata_financial_reporting_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(k=k, lts=v, lid=i) for i, (k, v) in enumerate(rows)],
        "k int, lts int, lid int",
    )
    right = spark.createDataFrame(
        [Row(k=k, rts=v, rid=i, payload=v * 10) for i, (k, v) in enumerate(rights)],
        "k int, rts int, rid int, payload int",
    )
    kwargs = dict(
        on="k", left_ts="lts", right_ts="rts",
        right_cols=["payload"], right_id="rid",
    )
    a = sorted(
        map(tuple, asof_join(left, right, strategy="union", **kwargs).collect())
    )
    b = sorted(
        map(tuple, asof_join(left, right, strategy="join", **kwargs).collect())
    )
    assert a == b


def test_asof_join_null_keys_match_nothing(spark):
    """Join semantics: a NULL key matches nothing. Round 1's union
    strategy grouped NULL keys in one window partition, letting a
    null-key left row inherit a null-key right row's payload — the two
    strategies must now agree: NULL payload for null-key left rows."""
    from pyspark.sql import Row

    from bigdata_financial_reporting_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(k=None, lts=5, lid=0), Row(k=1, lts=5, lid=1), Row(k=None, lts=9, lid=2)],
        "k int, lts int, lid int",
    )
    right = spark.createDataFrame(
        [
            Row(k=None, rts=1, rid=0, payload=111),
            Row(k=1, rts=2, rid=1, payload=222),
        ],
        "k int, rts int, rid int, payload int",
    )
    kwargs = dict(
        on="k", left_ts="lts", right_ts="rts",
        right_cols=["payload"], right_id="rid",
    )
    def rows(strategy):
        got = map(tuple, asof_join(left, right, strategy=strategy, **kwargs).collect())
        return sorted(got, key=lambda t: tuple((x is None, x) for x in t))

    union_rows, join_rows = rows("union"), rows("join")
    assert union_rows == join_rows
    by_lid = {r[2]: r[3] for r in union_rows}
    assert by_lid[0] is None and by_lid[2] is None, "null-key rows must not match"
    assert by_lid[1] == 222


vectors_strategy = st.lists(
    st.lists(
        st.integers(min_value=-3, max_value=3).map(float),  # incl. zero vectors
        min_size=4,
        max_size=4,
    ),
    min_size=0,
    max_size=12,
)


@SETTINGS
@given(vecs=vectors_strategy)
def test_lsh_blocked_pairs_equals_exact_for_any_vectors(spark, vecs):
    """The banded near-dup must equal the exact all-pairs form for ANY
    small vector set — including zero vectors (NULL cosine, dropped by
    both paths) and empty frames. Banding params are chosen so the
    theoretical per-pair miss probability at threshold 0.6 is ~1e-14:
    no flake risk from hypothesis drawing fresh data each run."""
    from pyspark.sql import Row

    from bigdata_financial_reporting_spark.operators.similarity import (
        lsh_blocked_pairs,
        pairwise_above_threshold,
    )

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    exact = sorted(
        map(tuple, pairwise_above_threshold(df, "vec_id", "embedding", 0.6).collect())
    )
    blocked = sorted(
        map(
            tuple,
            lsh_blocked_pairs(
                df, "vec_id", "embedding", 0.6, planes_per_band=2, n_bands=48
            ).collect(),
        )
    )
    assert blocked == exact
    # the arrow signature path (exact-integer matmul, its own plane
    # family) must produce the SAME pairs: output parity is with the
    # plane-agnostic exact form, for any vectors incl. zero/empty.
    arrow = sorted(
        map(
            tuple,
            lsh_blocked_pairs(
                df,
                "vec_id",
                "embedding",
                0.6,
                planes_per_band=2,
                n_bands=48,
                method="arrow",
            ).collect(),
        )
    )
    assert arrow == exact


# ---- codec parser robustness (pure functions — generous example counts) ----

from bigdata_financial_reporting_spark.operators.multimodal import (
    _parse_p6,
    _parse_riff_wave,
)

PURE_SETTINGS = settings(max_examples=200, deadline=None)


@PURE_SETTINGS
@given(st.binary(max_size=512))
def test_parse_p6_never_raises_on_arbitrary_bytes(b):
    """Malformed media must never kill a scan: the parser returns a
    parse or None, it never throws."""
    out = _parse_p6(b)
    if out is not None:
        w, h, maxval, off = out
        assert w >= 0 and h >= 0 and maxval >= 0
        assert 0 <= off <= len(b)


@PURE_SETTINGS
@given(st.binary(max_size=512))
def test_parse_riff_never_raises_on_arbitrary_bytes(b):
    out = _parse_riff_wave(b)
    if out is not None:
        (af, ch, rate, bits), data = out
        assert isinstance(data, bytes)
        assert af >= 0 and ch >= 0 and rate >= 0 and bits >= 0


@PURE_SETTINGS
@given(
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=64),
    st.binary(min_size=0, max_size=64 * 64 * 3),
    st.binary(max_size=16),
)
def test_parse_p6_roundtrip_and_truncation(w, h, pix_source, junk):
    """A well-formed header always parses to its exact fields and pixel
    offset; whether the pixel block is complete is the caller's check
    (decode_ppm flags short blocks as invalid)."""
    need = w * h * 3
    pix = (pix_source * (need // max(1, len(pix_source)) + 1))[:need] if pix_source else b"\x00" * need
    payload = f"P6\n{w} {h}\n255\n".encode() + pix + junk
    out = _parse_p6(payload)
    assert out is not None
    pw, ph, maxval, off = out
    assert (pw, ph, maxval) == (w, h, 255)
    assert payload[off : off + need] == pix


@PURE_SETTINGS
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=80,
    ),
)
def test_wav_synthesis_parses_back_exactly(doc_id, text):
    """wav_payload's container builder and _parse_riff_wave are exact
    inverses for any id/ASCII text: fmt fields and the PCM block
    roundtrip byte-exactly (the property the mm_decode_wav oracle
    depends on)."""
    import struct

    rate = 8000 + (doc_id % 4) * 4000
    ns = 64 + (doc_id % 97) * 3
    data = (text.encode("ascii") * (ns // len(text) + 1))[:ns]
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    out = _parse_riff_wave(payload)
    assert out is not None
    (af, ch, got_rate, bits), got_data = out
    assert (af, ch, got_rate, bits) == (1, 1, rate, 8)
    assert got_data == data


@SETTINGS
@given(
    pre=st.text(alphabet="abcdefgh", min_size=0, max_size=20),
    shared=st.text(alphabet="abcdefgh", min_size=8, max_size=24),
    post=st.text(alphabet="abcdefgh", min_size=0, max_size=20),
)
def test_winnowing_shared_substring_guarantee(spark, pre, shared, post):
    """Winnowing (k=5, w=4) guarantees: two documents sharing a
    substring of length >= w + k - 1 = 8 share at least one
    fingerprint — the SIGMOD'03 correctness property, for ANY
    surrounding text."""
    from pyspark.sql import Row

    from bigdata_financial_reporting_spark.operators.text import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [Row(id=1, t=pre + shared), Row(id=2, t=shared + post)],
        "id int, t string",
    )
    fps = {
        r["id"]: set(r["fps"])
        for r in winnow_fingerprints(df, "id", "t", k=5, w=4).collect()
    }
    assert fps[1] & fps[2], (pre, shared, post)


@SETTINGS
@given(
    pts=st.lists(st.integers(min_value=0, max_value=500), min_size=0, max_size=25),
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=500),   # start
            st.integers(min_value=0, max_value=120),     # length
        ),
        min_size=0,
        max_size=15,
    ),
    band=st.sampled_from([7, 60, 100]),
)
def test_banded_range_join_matches_naive(spark, pts, ivs, band):
    """The banded rewrite must equal the naive theta join for ANY
    points/intervals and any band width — including empty intervals,
    boundary-touching ends (exclusive), and intervals spanning many
    bands."""
    from pyspark.sql import Row

    from bigdata_financial_reporting_spark.operators.rangejoin import (
        banded_range_join,
    )

    p = spark.createDataFrame(
        [Row(pid=i, pt=v) for i, v in enumerate(pts)], "pid int, pt long"
    ).select("pid", F.timestamp_micros((F.col("pt") * 1_000_000)).alias("pt"))
    iv = spark.createDataFrame(
        [Row(iid=i, s=s, e=s + ln) for i, (s, ln) in enumerate(ivs)],
        "iid int, s long, e long",
    ).select(
        "iid",
        F.timestamp_micros(F.col("s") * 1_000_000).alias("s"),
        F.timestamp_micros(F.col("e") * 1_000_000).alias("e"),
    )
    naive = sorted(
        (r["pid"], r["iid"])
        for r in p.join(
            iv, (p.pt >= iv.s) & (p.pt < iv.e)
        ).select("pid", "iid").collect()
    )
    banded = sorted(
        (r["pid"], r["iid"])
        for r in banded_range_join(p, iv, "pt", "s", "e", band_seconds=band)
        .select("pid", "iid")
        .collect()
    )
    assert banded == naive


@SETTINGS
@given(
    lhs=st.lists(
        st.tuples(st.integers(min_value=-50, max_value=400),
                  st.integers(min_value=0, max_value=150)),
        min_size=0, max_size=12,
    ),
    rhs=st.lists(
        st.tuples(st.integers(min_value=-50, max_value=400),
                  st.integers(min_value=0, max_value=150)),
        min_size=0, max_size=12,
    ),
    band=st.sampled_from([13, 60, 90]),
)
def test_banded_interval_join_matches_naive(spark, lhs, rhs, band):
    """The first-common-bucket dedup must make the banded overlap join
    equal the naive theta overlap join — every pair exactly once — for
    ANY interval sets and band width."""
    from pyspark.sql import Row

    from bigdata_financial_reporting_spark.operators.rangejoin import (
        banded_interval_join,
    )

    def iv(rows, k, s, e):
        return spark.createDataFrame(
            [Row(**{k: i, "__s": a, "__e": a + ln}) for i, (a, ln) in enumerate(rows)],
            f"{k} int, __s long, __e long",
        ).select(
            k,
            F.timestamp_micros(F.col("__s") * 1_000_000).alias(s),
            F.timestamp_micros(F.col("__e") * 1_000_000).alias(e),
        )

    l = iv(lhs, "lid", "ls", "le")
    r = iv(rhs, "rid", "rs", "re")
    naive = sorted(
        (x["lid"], x["rid"])
        for x in l.join(r, (l.ls < r.re) & (r.rs < l.le)).select("lid", "rid").collect()
    )
    banded = sorted(
        (x["lid"], x["rid"])
        for x in banded_interval_join(l, r, "ls", "le", "rs", "re", band_seconds=band)
        .select("lid", "rid")
        .collect()
    )
    assert banded == naive


@SETTINGS
@given(rows=rows_strategy)
def test_windowed_ema_matches_naive_python_fold(spark, rows):
    """fin_ema_window's windowed dot product must equal the naive
    renormalised 20-tap EMA computed row-by-row in Python (same alpha,
    same truncation, same normalisation)."""
    if not rows:
        return
    from bigdata_financial_reporting_spark.queries.fin_timeseries import (
        _EMA20_D,
        _EMA20_W,
        _spark_ema_fold,
    )

    df = _df(spark, rows)
    w20 = (
        Window.partitionBy("k").orderBy("idx").rowsBetween(-19, Window.currentRow)
    )
    arr = F.reverse(F.collect_list(F.col("v").cast("double")).over(w20))
    ema = _spark_ema_fold(arr, 0.2, _EMA20_W, _EMA20_D)
    got = {
        (r.k, r.idx): r.ema
        for r in df.select("k", "idx", ema.alias("ema")).collect()
    }
    per_key: dict[int, list[tuple[int, int]]] = {}
    for i, (k, v) in enumerate(rows):
        per_key.setdefault(k, []).append((i, v))
    for k, items in per_key.items():
        vals = [float(v) for _, v in items]
        for pos, (i, _) in enumerate(items):
            window = vals[max(0, pos - 19) : pos + 1][::-1]  # newest first
            num_py = sum(x * 0.8**j for j, x in enumerate(window))
            exp = 0.2 * num_py / (1 - 0.8 ** len(window))
            assert abs(got[(k, i)] - exp) < 1e-9, (k, i, got[(k, i)], exp)


@SETTINGS
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_morton_interleave_is_bijective_and_order_preserving(spark, xs):
    """The Z-order key must be a bijection of (x, y) — distinct pairs
    get distinct keys, and the key decodes back to its inputs."""
    df = spark.createDataFrame(
        [Row(x=x, y=y) for x, y in xs], "x long, y long"
    )
    z = F.lit(0).cast("long")
    for b in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("x"), b).bitwiseAND(1).cast("long"), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("y"), b).bitwiseAND(1).cast("long"), 2 * b + 1)
        )
    out = df.select("x", "y", z.alias("z")).collect()
    for r in out:
        xd = sum(((r.z >> (2 * b)) & 1) << b for b in range(16))
        yd = sum(((r.z >> (2 * b + 1)) & 1) << b for b in range(16))
        assert (xd, yd) == (r.x, r.y)
    distinct_pairs = {(x, y) for x, y in xs}
    assert len({r.z for r in out}) == len(distinct_pairs)


@SETTINGS
@given(
    n_tokens=st.integers(min_value=0, max_value=200),
    size=st.integers(min_value=2, max_value=64),
)
def test_chunker_covers_every_token_exactly_where_expected(spark, n_tokens, size):
    """Sliding-window chunking with stride s < size must cover every
    token at least once, chunk 0 must start at token 0, and every
    chunk except the last must have exactly `size` tokens when the doc
    is long enough."""
    stride = max(1, (size * 3) // 4)
    toks = [f"t{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([Row(doc_id=0, tok=toks)], "doc_id long, tok array<string>")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("tok") - 1, F.lit(0)), F.lit(stride)
    )
    ex = df.select("doc_id", "tok", F.explode(starts).alias("start"))
    chunk = F.slice("tok", F.col("start") + 1, F.lit(size))
    rows = ex.select("start", chunk.alias("chunk")).collect()
    covered = set()
    for r in rows:
        for j, t in enumerate(r.chunk):
            assert t == f"t{r.start + j}"
            covered.add(r.start + j)
    assert covered == set(range(n_tokens))
    assert min(r.start for r in rows) == 0


def test_global_running_sum_matches_single_partition_window(spark):
    """The range-partitioned two-phase running sum must equal the
    naive single-partition prefix sum on an adversarial layout
    (shuffled input order, duplicate order keys resolved to the same
    TOTAL via grouping first, multiple value columns), and the final
    running value must equal the grand total."""
    import random

    from pyspark.sql import Row, Window

    from bigdata_financial_reporting_spark.operators.cache import (
        release_operator_caches,
    )
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_running_sum,
    )

    rng = random.Random(7)
    rows = [Row(k=i, a=float(rng.randint(-5, 9)), b=float(i % 3)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, a double, b double").repartition(8)
    got = {
        r["k"]: (r["run_a"], r["run_b"])
        for r in global_running_sum(df, ["k"], ["a", "b"], num_partitions=7).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["k"]: (r["ra"], r["rb"])
        for r in df.select(
            "k", F.sum("a").over(w).alias("ra"), F.sum("b").over(w).alias("rb")
        ).collect()
    }
    assert got == want
    total_a = sum(r.a for r in rows)
    assert abs(got[499][0] - total_a) < 1e-9
    release_operator_caches()


def _naive_global(df, order_cols):
    """The single-partition reference for the global-order operators:
    lag, row_number and running sum of ``v`` over ``order_cols``."""
    w = Window.orderBy(*order_cols)
    return {
        r["idx"]: (r["l"], r["p"], r["s"])
        for r in df.select(
            "idx",
            F.lag("v").over(w).alias("l"),
            F.row_number().over(w).cast("long").alias("p"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("s"),
        ).collect()
    }


def _global_ops(df, order_cols, num_partitions):
    """Each global-order operator over ``df``, as (name, index into a
    ``_naive_global`` tuple, output column, builder)."""
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_lag,
        global_row_number,
        global_running_sum,
    )

    return [
        ("global_lag", 0, "__lag",
         lambda: global_lag(df, order_cols, "v", num_partitions=num_partitions)),
        ("global_row_number", 1, "pos",
         lambda: global_row_number(df, order_cols, num_partitions=num_partitions)),
        ("global_running_sum", 2, "run_v",
         lambda: global_running_sum(df, order_cols, ["v"], num_partitions)),
    ]


def test_global_order_survives_cache_release(spark):
    """Fault injection: a global-order operator's result may not depend
    on cache residency. Every operator's frame is built, then every
    operator cache and the catalog cache are dropped after the build
    and again between two actions; both actions must equal the naive
    single-partition window. Covers global_row_number's split-point
    path AND its caller-supplied bucket path."""
    from bigdata_financial_reporting_spark.operators.cache import (
        release_operator_caches,
    )
    from bigdata_financial_reporting_spark.operators.global_window import (
        global_row_number,
    )

    n = 60_000
    df = spark.range(0, n, numPartitions=8).select(
        ((F.col("id") * 7919) % n).alias("idx"),
        ((F.col("id") * 31) % 201 - 100).alias("v"),
    )
    naive = _naive_global(df, ["idx"])
    ops = _global_ops(df, ["idx"], 7) + [
        ("global_row_number[bucket_col]", 1, "pos",
         lambda: global_row_number(
             df, ["idx"], bucket_col=F.floor(F.col("idx") / 5000)
         )),
    ]
    for name, i, out, build in ops:
        frame = build()
        for action in range(2):
            release_operator_caches()
            spark.catalog.clearCache()
            # every column: a narrower projection prunes each branch the
            # same way, and Spark then happens to reuse one exchange
            got = {r["idx"]: r[out] for r in frame.collect()}
            want = {k: v[i] for k, v in naive.items()}
            bad = sum(got.get(k) != v for k, v in want.items())
            assert len(got) == n and bad == 0, f"{name} action {action}: {bad} rows"


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=1)),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=30,
    ),
    nparts=st.sampled_from([7, 40]),
)
def test_global_order_with_empty_buckets_matches_naive_window(spark, rows, nparts):
    """Heavy ties (and NULLs, which sort first) in the first order
    column, and more buckets than distinct keys: split points repeat,
    so buckets come out empty. global_lag's predecessor must come from
    the nearest NON-empty earlier bucket, and the row-number and
    running-sum offsets must skip the empty ones."""
    df = spark.createDataFrame(
        [Row(k=k, v=v, idx=i) for i, (k, v) in enumerate(rows)],
        "k int, v int, idx int",
    )
    naive = _naive_global(df, ["k", "idx"])
    for name, i, out, build in _global_ops(df, ["k", "idx"], nparts):
        got = {r["idx"]: r[out] for r in build().collect()}
        assert got == {k: v[i] for k, v in naive.items()}, f"{name} P={nparts}"


@SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=4294967295),
        min_size=1,
        max_size=400,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=400), max_size=6),
)
def test_kmv_sketch_merge_is_partition_invariant(vals, cuts):
    """agg_kmv_distinct_sketch's mergeability claim (round-7 seam): the
    k smallest hash values of a union must equal the k smallest of the
    per-partition k-smallest partials, for ANY partitioning — the
    algebra that lets each executor keep a 64-value heap and ship 64
    rows/group. Pure-Python mirror of the sketch's merge (the Spark
    plan's WindowGroupLimit partial is the same algebra; the hostile-
    layout rerun in test_determinism.py covers the engine side)."""
    k = 64
    hashes = sorted(set(vals))
    want = hashes[:k]
    bounds = sorted({0, len(hashes), *[min(c, len(hashes)) for c in cuts]})
    parts = [
        hashes[a:b] for a, b in zip(bounds, bounds[1:]) if b > a
    ] or [hashes]
    merged = sorted({h for p in parts for h in sorted(p)[:k]})[:k]
    assert merged == want


def test_gopher_integer_flags_equal_float_definitions_on_hostile_corpus(
    spark, tmp_path
):
    """quality_gopher_rules encodes its thresholds as pure integer
    comparisons (chars >= 4*words, 2*distinct < words). Round-7 seam:
    those must equal the FLOAT-form Gopher definitions (mean word len
    in [4.0, 5.0], type/token ratio >= 0.5) on a hostile corpus —
    exact-boundary means, a 10k-char word, unicode-only text (the
    tokenizer strips non-[a-z0-9], so w=0 and the float form divides
    by zero), and an empty doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_financial_reporting_spark.queries import QUERIES

    docs = [
        " ".join(["aaaa"] * 60),                    # mean exactly 4.0
        " ".join(["bbbbb"] * 60),                   # mean exactly 5.0
        " ".join(["ccc"] * 60),                     # mean 3.0 (out, low side)
        " ".join(["dddddd"] * 60),                  # mean 6.0 (out, high side)
        " ".join(["aaaa", "bbbbb"] * 30),           # mean 4.5 (in band)
        ("w" * 10000 + " ") * 50,                   # 10k-char words
        "日本語 テキスト だけ の 文書 ですよ ここは",  # unicode-only -> w=0
        "",                                         # empty
        " ".join(["xxxx"] * 30 + ["yyyy"] * 30),    # low diversity, 2/60
        " ".join(f"t{i:03d}" for i in range(80)),   # all-distinct, 4-char
    ]
    tbl = pa.table(
        {
            "doc_id": list(range(len(docs))),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["prop"] * len(docs),
            "n_chars": [len(d) for d in docs],
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = QUERIES["quality_gopher_rules"].fn(spark, str(tmp_path)).collect()
    assert len(out) == len(docs)
    for r in out:
        w, dw, ch = r["n_words"], r["n_distinct"], r["n_word_chars"]
        if w == 0:
            # float form is undefined; integer form must still be total
            # and must never keep an empty doc
            assert r["flag_short"] and not r["keep"]
            continue
        mean = ch / w
        assert r["flag_wordlen_out"] == (not (4.0 <= mean <= 5.0)), (
            r["doc_id"], mean,
        )
        assert r["flag_low_diversity"] == (dw / w < 0.5), (r["doc_id"],)
        assert r["flag_short"] == (w < 50)
        assert r["keep"] == (
            w >= 50 and dw / w >= 0.5 and 4.0 <= mean <= 5.0
        )
