"""Source/sink behaviour: scoped read confs, small-files compaction
and layout footers."""

from __future__ import annotations

import glob

from projet_etl_spark.sources.ingest import compact
from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_events_conf_scoped(spark, tmp_path):
    """events() must not leak nanosAsLong into the session: a normal
    TIMESTAMP(MICROS) parquet read AFTER events() keeps its
    TimestampType (under a leaked conf it would silently become
    long), while the events plan itself stays executable."""
    import datetime

    from pyspark.sql.types import LongType, TimestampType

    from projet_etl_spark.sources.tables import events

    key = "spark.sql.legacy.parquet.nanosAsLong"
    ev = events(spark, SF_SMALL)
    assert spark.conf.get(key) == "false", "conf leaked out of events()"
    assert ev.count() > 0  # plan valid after the restore
    assert isinstance(ev.schema["ts"].dataType, TimestampType)

    path = str(tmp_path / "micros_ts")
    spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 12, 0, 0),)], "t timestamp"
    ).write.parquet(path)
    t = spark.read.parquet(path).schema["t"].dataType
    assert isinstance(t, TimestampType) and not isinstance(t, LongType)


def test_compact_small_files(spark, tmp_path):
    src = _docs(spark).repartition(37)  # simulate a fragmented sink
    path = str(tmp_path / "fragmented")
    src.write.parquet(path)
    assert len(glob.glob(f"{path}/part-*")) == 37
    n_files = compact(spark, path, target_rows_per_file=10_000)
    assert n_files == 1
    assert len(glob.glob(f"{path}/part-*")) == 1
    assert spark.read.parquet(path).count() == 500


def test_compact_recovers_interrupted_swap(spark, tmp_path):
    import os

    path = str(tmp_path / "tbl")
    _docs(spark).repartition(5).write.parquet(path)
    # simulate a crash between the two publish renames: old data is
    # parked aside, the live directory is gone
    os.rename(path, path + "._precompact")
    assert not os.path.exists(path)
    n_files = compact(spark, path, target_rows_per_file=10_000)
    assert n_files == 1
    assert spark.read.parquet(path).count() == 500
    assert not os.path.exists(path + "._precompact")
    assert not os.path.exists(path + "._compacting")


def test_compact_clears_stale_aside_and_tmp(spark, tmp_path):
    import os

    path = str(tmp_path / "tbl2")
    _docs(spark).repartition(3).write.parquet(path)
    # stale leftovers from a swap whose cleanup died mid-way
    _docs(spark).limit(10).write.parquet(path + "._precompact")
    _docs(spark).limit(10).write.parquet(path + "._compacting")
    compact(spark, path, target_rows_per_file=10_000)
    assert spark.read.parquet(path).count() == 500
    assert not os.path.exists(path + "._precompact")
    assert not os.path.exists(path + "._compacting")


def test_two_vintage_layout_footers_actually_differ(spark):
    """The schema-evolution layout is only a test of mergeSchema if
    the vintages genuinely disagree: v1 footers must carry ONLY the
    early columns, v2 the full schema, and the merged read the union
    by NAME (legacy rows NULL in evolved columns)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from projet_etl_spark.sources.evolution import (
        V1_COLUMNS,
        ensure_two_vintage_documents,
        read_two_vintage_documents,
    )
    from tests.conftest import SF_SMALL

    root = ensure_two_vintage_documents(spark, SF_SMALL)
    v1_files = glob.glob(os.path.join(root, "vintage=v1", "*.parquet"))
    v2_files = glob.glob(os.path.join(root, "vintage=v2", "*.parquet"))
    assert v1_files and v2_files
    assert set(pq.read_schema(v1_files[0]).names) == set(V1_COLUMNS)
    assert set(pq.read_schema(v2_files[0]).names) == {
        "doc_id", "text", "lang", "source", "n_chars",
    }
    merged = read_two_vintage_documents(spark, root)
    assert set(merged.columns) == set(pq.read_schema(v2_files[0]).names)
    legacy = merged.filter("source IS NULL")
    assert legacy.count() == merged.filter("doc_id % 2 = 0").count() > 0
    # evolved columns are NULL on every legacy row, populated otherwise
    assert legacy.filter("n_chars IS NOT NULL").count() == 0
    assert merged.filter("doc_id % 2 = 1 AND source IS NULL").count() == 0


def test_ensure_staged_crashed_build_rebuilds(tmp_path):
    """The _SOURCE marker is stamped only AFTER build() returns: a
    crashed build leaves no marker, so the next call rebuilds from a
    wiped root instead of serving a half-written layout."""
    import os

    from projet_etl_spark.sources.staging import ensure_staged

    root_base = str(tmp_path / "staged")
    sf = str(tmp_path / "sf")
    os.makedirs(sf)

    def crashing(root):
        os.makedirs(os.path.join(root, "out"))
        with open(os.path.join(root, "out", "partial"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build crashed")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="build crashed"):
        ensure_staged(root_base, sf, "fp1", "out", crashing, version="t-v1")

    built = []

    def good(root):
        built.append(root)
        os.makedirs(os.path.join(root, "out"))
        with open(os.path.join(root, "out", "data"), "w") as fh:
            fh.write("whole")

    out = ensure_staged(root_base, sf, "fp1", "out", good, version="t-v1")
    assert built, "crashed build must not be mistaken for finished"
    assert os.path.exists(os.path.join(out, "data"))
    assert not os.path.exists(os.path.join(out, "partial"))  # wiped

    # marker hit: same fingerprint -> no rebuild
    built.clear()
    assert ensure_staged(root_base, sf, "fp1", "out", good, version="t-v1") == out
    assert not built

    # stale fingerprint -> rebuild
    ensure_staged(root_base, sf, "fp2", "out", good, version="t-v1")
    assert built

    # stale BUILDER VERSION, same fingerprint -> rebuild (r10 advisor
    # item: code/constant changes must invalidate the cache too)
    built.clear()
    ensure_staged(root_base, sf, "fp2", "out", good, version="t-v2")
    assert built
