"""Unit coverage for the SURVEY.md §2.10 quirk list and the text /
vector primitives, on tiny literal inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from projet_etl_spark.functions.dates import month_spine
from projet_etl_spark.functions.text import (
    H30_MOD,
    fingerprint,
    h30,
    shingles3,
    tokens,
)
from projet_etl_spark.operators.topk import q_top_magasins
from tests.conftest import SF_SMALL


def test_month_spine_dense(spark):
    rows = month_spine(spark, "1995-01-01", "2001-12-31").collect()
    keys = [r.mois_annee for r in rows]
    assert len(keys) == 84  # 7 years x 12, gap-free
    assert keys[0] == "1995-01" and keys[-1] == "2001-12"
    assert len(set(keys)) == 84


def test_topk_deterministic_ties(spark):
    # §2.10.8: identical order across repeated runs (tiebreak on magid)
    a = [r.magid for r in q_top_magasins(spark, SF_SMALL).collect()]
    b = [r.magid for r in q_top_magasins(spark, SF_SMALL).collect()]
    assert a == b


def test_topk_k1_single_element(spark):
    # §2.10.5: the reference's single-element IN-tuple syntax error
    # class is gone — k=1 semi-join works
    rows = q_top_magasins(spark, SF_SMALL, k=1).collect()
    assert len(rows) == 1


def test_shingles_short_doc(spark):
    df = spark.createDataFrame(
        [("a b",), ("a b c",), ("a b c d",), ("",)], ["text"]
    ).select(shingles3(tokens(F.col("text"))).alias("sh"))
    got = [r.sh for r in df.collect()]
    assert got[0] == []
    assert got[1] == ["a b c"]
    assert got[2] == ["a b c", "b c d"]
    assert got[3] == []


def test_h30_range_and_determinism(spark):
    df = spark.createDataFrame([("x",), ("y",), ("x",)], ["s"]).select(
        h30(F.col("s")).alias("h")
    )
    vals = [r.h for r in df.collect()]
    assert all(0 <= v < H30_MOD for v in vals)
    assert vals[0] == vals[2] != vals[1]


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("  hello world ",), ("helloworld",)], ["text"]
    ).select(fingerprint(F.col("text")).alias("fp"))
    fps = [r.fp for r in df.collect()]
    assert fps[0] == fps[1] != fps[2]
