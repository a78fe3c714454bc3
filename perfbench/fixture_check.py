#!/usr/bin/env python3
"""Compare the benchmark's generated tables with a fixture directory.

Usage (from the repository root)::

    python3 perfbench/fixture_check.py <fixture_dir> --scale 0.01 [--seed 42]

It writes the tables ``datagen.write_tables`` makes for ``(seed, scale)``
under ``.perfbench/``, then prints for each table the row counts, whether
the Arrow schemas read from both Parquet footers are equal (this covers
timestamp units), and per column the distinct count, null count and
value range on both sides. It exits 1 when a row count or a schema
differs; value differences are printed for a reader to judge.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))


def describe(col: pa.ChunkedArray) -> str:
    if pa.types.is_list(col.type):
        col = pc.list_flatten(col)
    if pa.types.is_string(col.type):
        col = pc.utf8_length(col)  # range of string lengths
    lo, hi = pc.min_max(col).values()
    return f"ndv={pc.count_distinct(col).as_py()} nulls={col.null_count} [{lo}, {hi}]"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("fixture_dir")
    p.add_argument("--scale", type=float, required=True)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()
    out = os.path.join(os.path.dirname(HERE), ".perfbench", f"fixture-check-{os.getpid()}")
    bad = 0
    try:
        datagen.write_tables(out, args.seed, args.scale)
        for t in datagen.TABLES:
            want = pq.read_table(os.path.join(args.fixture_dir, f"{t}.parquet"))
            got = pq.read_table(os.path.join(out, f"{t}.parquet"))
            same = want.num_rows == got.num_rows and want.schema.equals(got.schema)
            bad += not same
            print(f"{'ok' if same else 'DIFF':<4} {t}: rows {want.num_rows} / {got.num_rows}")
            if not want.schema.equals(got.schema):
                print(f"  fixture schema: {want.schema}\n  generated schema: {got.schema}")
                continue
            for name in want.column_names:
                print(f"  {name:<16} fixture {describe(want[name])}")
                print(f"  {'':<16} generated {describe(got[name])}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
