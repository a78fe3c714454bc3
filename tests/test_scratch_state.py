"""One owner for scratch state (``operators/cache.py``): every per-call
scratch dir a query stages on local disk, and every drain's memory-sink
view, is released by ``release_operator_caches()``."""

from __future__ import annotations

import os
import tempfile

import pytest

from bigdata_financial_reporting_spark.operators import cache
from bigdata_financial_reporting_spark.operators.cache import (
    release_operator_caches,
    scratch_dir,
)
from bigdata_financial_reporting_spark.queries import QUERIES
from bigdata_financial_reporting_spark.streaming.runner import run_available_now

#: Every key that stages files on local disk, plus one ``events_stream``
#: key and the ``documents_stream`` key.
SCRATCH_KEYS = [
    "src_csv_roundtrip",
    "src_json_roundtrip",
    "src_parquet_partitioned_roundtrip",
    "src_single_csv_sink",
    "src_orc_roundtrip",
    "src_split_export_roundtrip",
    "src_xml_roundtrip",
    "src_compressed_roundtrip",
    "src_schema_evolution_merge",
    "src_bucketed_colocated_join",
    "src_text_lines_roundtrip",
    "src_csv_corrupt_handling",
    "src_file_metadata_column",
    "src_binaryfile_scan",
    "src_partition_pruning_scan",
    "ops_compact_roundtrip",
    "ops_upsert_roundtrip",
    "ops_incremental_rollup_refresh",
    "ops_time_travel_versions",
    "ops_delete_update_cow",
    "ops_snapshot_expiry",
    "ops_vacuum_orphan_files",
    "ops_clone_shallow",
    "stream_foreach_batch_sink",
    "stream_cdc_upsert_sink",
    "stream_tumbling_window",
    "stream_content_dedup",
]


def _bdfr(d: str) -> set[str]:
    return {n for n in os.listdir(d) if n.startswith("bdfr_")} if os.path.isdir(d) else set()


def test_release_leaves_no_scratch_state(spark, sf_dir, tmp_path, monkeypatch):
    """Each key runs to a collected result, then one release. The temp
    dir is private to the test, so no other process's entries count,
    and every ``mkdtemp`` is recorded, which also covers the streaming
    checkpoints on ``/dev/shm``."""
    release_operator_caches()
    made: list[str] = []
    real = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(real(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    shm_before = _bdfr("/dev/shm")
    for key in SCRATCH_KEYS:
        assert QUERIES[key].fn(spark, sf_dir).collect(), key
    assert len(made) >= len(SCRATCH_KEYS)
    release_operator_caches()
    assert _bdfr(str(tmp_path)) == set()
    assert not os.path.exists(os.path.join(str(tmp_path), "bdfr_scratch"))
    assert [d for d in made if os.path.exists(d)] == []
    assert _bdfr("/dev/shm") <= shm_before


@pytest.mark.parametrize(
    "key",
    ["src_bucketed_colocated_join", "ops_time_travel_versions", "stream_content_dedup"],
)
def test_rerun_after_release_gives_same_rows(spark, sf_dir, key):
    """A release between two runs must not leave a memo or a catalog
    table pointing at a removed dir."""
    first = sorted(map(tuple, QUERIES[key].fn(spark, sf_dir).collect()))
    release_operator_caches()
    second = sorted(map(tuple, QUERIES[key].fn(spark, sf_dir).collect()))
    release_operator_caches()
    assert first and first == second


def test_scratch_dir_is_removed_at_release_once(tmp_path):
    d = scratch_dir("bdfr_owner_", dir=str(tmp_path))
    assert os.path.isdir(d) and os.path.basename(d).startswith("bdfr_owner_")
    with open(os.path.join(d, "f"), "w") as fh:
        fh.write("x")
    assert d in cache._DIRS
    release_operator_caches()
    assert not os.path.exists(d) and d not in cache._DIRS
    release_operator_caches()  # a second release is a no-op
    assert not os.path.exists(d)


def test_release_drops_drain_views_and_frame_still_collects(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(7).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    out = run_available_now(stream.groupBy().count(), output_mode="complete")
    rows = out.collect()
    assert rows[0][0] == 7

    def drain_views():
        return [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")]

    assert drain_views()
    release_operator_caches()
    assert drain_views() == []
    assert out.collect() == rows
