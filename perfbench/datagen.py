"""Seeded synthetic inputs for the benchmark.

Two kinds of input, both a pure function of ``(seed, scale)``:

- ``write_tables`` writes the ten fixture tables the registry keys read
  (``region`` .. ``embeddings``, one parquet file each): independent
  uniform TPC-H-ish columns, a time-ordered ``events`` stream, a
  30-word ``documents`` corpus with near- and exact duplicates, and
  unit-norm 64-d ``embeddings``. At ``scale`` 0.001, 0.01 and 0.1 the
  row counts and Parquet footer types equal those of the engine's
  sf0.001/sf0.01/sf0.1 test fixtures: microsecond timestamps,
  ``n_chars`` equal to the text length, ``part`` and ``supplier``
  scaling with ``scale``, ``documents`` and ``embeddings`` floored at
  500 rows. ``fixture_check.py`` compares them column by column.
- ``write_market_csv`` writes the report job's wide market-data CSV:
  one ``Date`` column plus one price column per asset, with zero prices
  and empty cells so both NULL-return paths of the report run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days_ts(rng, n: int, first: dt.datetime, last: dt.datetime) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from [first, last]."""
    span = (last - first).days
    days = rng.integers(0, span + 1, n)
    return pa.array(_us(first) + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(rng, scale: float) -> dict[str, pa.Table]:
    n_cust = max(150, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(200, round(200_000 * scale))
    n_ord = max(1_500, round(1_500_000 * scale))
    n_line = max(6_000, round(6_000_000 * scale))
    n_ev = max(1_000, round(1_000_000 * scale))
    n_users = max(15, round(15_000 * scale))
    n_docs = max(500, round(50_000 * scale))
    n_emb = max(500, round(20_000 * scale))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_ts(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _days_ts(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })

    # events: strictly increasing microsecond timestamps over ~30 days
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86_400 - 60) * 1e6
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + offs.astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: word soup; ~5% are an earlier doc plus " dup" and a few
    # are exact copies, so the dedup keys find real pairs
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 100, n_docs)]
    for i in rng.choice(np.arange(10, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(10, n_docs), max(1, n_docs // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * 64 + 1, 64), pa.int32()),
            pa.array(emb.ravel(), pa.float32()),
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    for name, table in _tables(rng, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def asset_names(n_assets: int) -> list[str]:
    """Reference-style asset columns; ``S&P500`` checks quoting."""
    return ["DOLAR", "S&P500"] + [f"ASSET_{i:02d}" for i in range(2, n_assets)]


def write_market_csv(path: str, seed: int, n_assets: int = 64, n_days: int = 2520) -> list[str]:
    """Write the report's wide CSV; returns its trading dates in order.

    Prices are seeded random walks with two decimals. About 1% of cells
    are zero and 1% empty; the report fills empties with 0, so both
    yield NULL returns on the following day.
    """
    rng = np.random.default_rng([seed, 2])
    days, d = [], dt.date(2010, 1, 4)
    while len(days) < n_days:
        if d.weekday() < 5:
            days.append(d.isoformat())
        d += dt.timedelta(days=1)
    steps = rng.normal(0.0003, 0.012, (n_days, n_assets))
    prices = np.round(rng.uniform(5, 500, n_assets) * np.exp(np.cumsum(steps, axis=0)), 2)
    cells = prices.astype(str).astype(object)
    mask = rng.random((n_days, n_assets))
    cells[mask < 0.01] = "0.0"
    cells[(mask >= 0.01) & (mask < 0.02)] = ""
    with open(path, "w") as fh:
        fh.write(",".join(["Date"] + asset_names(n_assets)) + "\n")
        for day, row in zip(days, cells):
            fh.write(day + "," + ",".join(row) + "\n")
    return days
