"""The embedding data must sit far enough from the random-hyperplane
sign boundary that the numpy signature kernel (operators/dedup.py
``_rp_band_keys``) agrees with the DuckDB oracle structurally rather
than by luck."""

from __future__ import annotations

from pyspark.sql import functions as F

from projet_etl_spark.operators.dedup import rp_weight
from tests.conftest import SF_SMALL


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("v")
    )


def test_dots_clear_of_sign_boundary(spark):
    """min |hyperplane dot| over the corpus must dwarf any ~1 ulp
    summation-order difference between numpy and SQL — the condition
    under which the numpy signature kernel is safe at scale."""
    emb = _emb(spark)
    mins = []
    for h in range(4):  # a sample of hyperplanes is enough to pin scale
        w = F.array(*[F.lit(float(rp_weight(h, i))) for i in range(1, 65)])
        dot = F.aggregate(
            F.zip_with(F.col("v"), w, lambda x, wi: x.cast("double") * wi),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        mins.append(
            emb.select(F.min(F.abs(dot)).alias("m")).collect()[0].m
        )
    assert min(mins) > 1e-6
