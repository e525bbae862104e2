"""SparkSession factory with scale-ready defaults.

Defaults encode SURVEY.md §4's physical-execution decisions:
  - AQE on (partition coalescing + skew-join handling) instead of the
    reference's per-job ``spark.sql.shuffle.partitions`` tuning
    (reference: spark_jobs/01_ingest.py:19, 02_clean_eda.py:15).
  - UTC session timezone — the reference is timezone-naive, which makes
    ``hour()``/``DATE()`` machine-dependent; pinning UTC makes results
    reproducible and oracle-comparable.
  - Arrow enabled for any pandas boundary (reference: streamlit_app/app5.py:131).
  - Explicit-schema reads everywhere (no inferSchema double-scan,
    reference anti-pattern at spark_jobs/01_ingest.py:27).
  - PySpark's DataFrame debugging off
    (``spark.python.sql.dataFrameDebugging.enabled=false``): building a
    query then skips the call-site capture PySpark 4 wraps around every
    ``F.*`` and ``Column`` call. Analysis errors still name the column.

On a real cluster the same factory applies: AQE sizes shuffle partitions from
runtime statistics, so the config survives a 1000-executor deployment without
retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "nyc_taxi_pyspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    In local mode the driver JVM is the whole cluster, so
    ``spark.driver.memory`` is the only memory knob that matters.
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting, join re-planning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static starting point ~ cores; AQE coalesces down from here.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Determinism / comparability.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # Arrow for the pandas/Pandas-UDF boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # columns carry NO parquet min/max statistics, which silently
        # disables file/row-group pruning on time predicates — the dominant
        # filter dimension of a 100 TB event table.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # No per-call DataFrame origin capture. PySpark 4 wraps every F.*
        # and Column call in pyspark.errors.utils._with_origin, which makes
        # ~7 py4j round trips, walks the Python stack and retries
        # `import IPython` per call; it only adds the Python call site to
        # error messages. Building the 109 headline queries (query
        # functions only, warm, sf0.01, local[4] on a 4-core host) took a
        # median 60.0 s per pass with it on and 26.0 s off, over 6
        # interleaved in-process pairs; off was faster in all 6. PySpark
        # reads this flag once per process, at the first wrapped call, so
        # it must be a builder setting: a later conf.set has no effect.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Quieter, faster local runs.
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
