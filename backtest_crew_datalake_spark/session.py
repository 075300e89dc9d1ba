"""SparkSession factory.

The session timezone is pinned to UTC — the reference's global contract is
"ts is UTC, bar_end" (ref src/datalake/config.py:13, docs/specs/schema_m1.parquet.json
``ts_semantics``), and every localization in the engine is explicit
(``from_utc_timestamp`` / ``to_utc_timestamp``).

Scale posture (100 TB / 1000 executors): AQE, its partition coalescing and
skew-join splitting are left at Spark's defaults (all on), so the cluster's
own conf governs them (docs/scale.md rule 9); shuffle partitions are sized
from the env for local runs but expected to be overridden by the cluster
conf; dynamic partition overwrite so upserts never rewrite unrelated
partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "backtest_crew_datalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Scan-split sizing. Spark's 128 MB default is tuned for many-file
        # cluster lakes; the local testdata layout is ONE file per table, so
        # a 100 MB fact table would scan as a single task and serialize the
        # whole pre-shuffle pipeline (measured: q_min_cost_supplier at the
        # 10x corpus ran its 6 M-row scan+partial-agg 1-way). 8 MB fans a
        # single-file scan out across the local cores (split granularity is
        # still the file's row groups) and is a no-op for files under 8 MB;
        # cluster deployments should override back up via the env.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
