"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the configs below are the ones that also
matter on a real multi-executor cluster (AQE, skew-join handling, broadcast
threshold, Arrow for the few pandas-UDF operators). Nothing here is
local-mode-specific except the master URL, which callers override in
production.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "vivace-graph-v3-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, dynamic join selection.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width sized for the local harness; on a 1000-executor
        # cluster this is set to ~2-3x total cores by the deployment.
        .config("spark.sql.shuffle.partitions", cpus)
        # Arrow transfer for pandas UDFs (geohash/minhash/multimodal paths).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Dimension tables (region/nation/supplier) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow-built frames (util.local_frame, createDataFrame from
        # pyarrow or pandas) of up to 1 MB stay a LocalRelation, which
        # the driver reads without a job; bigger ones become an Arrow RDD
        # that tasks decode in parallel. Under Spark's 48 MB default a
        # 150k-row frame stayed local and one scan of it took ~2x as long.
        .config("spark.sql.execution.arrow.localRelationThreshold",
                str(1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
