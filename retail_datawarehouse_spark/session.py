"""SparkSession factory.

Local test mode runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM, but every
config here is chosen for the real target: a 1000-executor cluster
reading ~100 TB of Parquet.

Scale rationale per knob:

- ``spark.sql.adaptive.*`` — AQE re-plans at shuffle-materialization
  points: coalesces tiny post-shuffle partitions (small SF locally) and
  splits skewed ones (hot customer keys at 100 TB).
- ``spark.sql.shuffle.partitions`` — sized to cores locally; on a real
  cluster this is a starting point that AQE coalesce/split corrects.
- ``spark.sql.session.timeZone=UTC`` — deterministic date/time semantics
  and parity with the (UTC-naive) DuckDB correctness oracle.
- ``spark.sql.execution.arrow.pyspark.enabled`` — Arrow transfer for the
  few Pandas-UDF extension operators and fast ``toPandas`` in tests.
- ``spark.sql.autoBroadcastJoinThreshold`` left at default (10 MB): all
  reference dimensions are far below it, so every fact-dim join planned
  here is a broadcast-hash join with zero shuffle on the fact side.
- ``spark.sql.ansi.enabled=false`` — the reference's coerce-or-drop
  parse semantics (SURVEY.md P6): malformed dates become NULL, then a
  NOT NULL filter drops them; no exception path.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` — PySpark 4
  otherwise records the Python call site on every Column/DataFrame
  call, several extra py4j round trips each, which roughly doubles the
  py4j traffic of building a plan (measured, warm session: 1,935 → 986
  calls to plan one stored-index ADC+rerank query through a handle,
  1,921 → 1,008 to plan q51–q55 over the sf0.01 fixture). The
  trade-off: analysis errors no longer name the Python line that built
  the failing expression; the error class and the plan fragment are
  unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "retail-dw-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
        # Some fixture rounds store events.ts as TIMESTAMP(NANOS), which
        # Spark's reader rejects; sources.readers.load_table probes the
        # footer and reads ns files as long + µs conversion.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Smart keys are zero-padded STRINGS (SURVEY.md F1/F2); facts are
        # partitioned by month_key, and partition-value type inference
        # would read the directory value "011995" back as INT 11995 —
        # silently corrupting every key. Keep partition values as-written.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
