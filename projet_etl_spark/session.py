"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every setting here is chosen
to also be the right default on a large multi-executor cluster:

- AQE on (coalesce post-shuffle partitions, skew-join splitting,
  runtime broadcast conversion) so plans re-optimize at 100 TB.
- UTC session timezone so timestamp->date casts and window bucketing
  are deterministic and match the (timezone-naive) DuckDB oracle.
- Arrow enabled for any pandas-UDF path (vectorized transfer).
- shuffle.partitions sized from the env; on a real cluster this
  should be ~2-3x total cores (AQE coalesces the excess).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Let AQE rewrite a sort-merge join to a shuffled-hash join when the
# RUNTIME-measured size of every build-side partition fits this
# threshold — removes both sort passes exactly when a per-partition
# hash table is safe, at any scale (the decision reads measured
# shuffle stats, never estimates; upstream default 0 leaves the
# optimization off). The estimate-based
# spark.sql.join.preferSortMergeJoin stays at its default (estimates
# go wrong after filters).
SHJ_LOCAL_MAP_THRESHOLD = "64m"


def get_spark(
    app_name: str = "projet-etl-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            SHJ_LOCAL_MAP_THRESHOLD,
        )
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine relies on to an
    externally-provided session (e.g. the verify driver's).

    UTC matters for correctness parity: the parquet timestamps are
    midnight instants, and a non-UTC session would shift
    ``to_date`` / ``date_trunc`` results relative to the
    timezone-naive oracle.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # same runtime-safe SMJ->SHJ conversion the engine's own session
    # uses, so an externally-provided session checks the
    # exact plans the bench times; runtime-settable AQE conf
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        SHJ_LOCAL_MAP_THRESHOLD,
    )
    return spark
