"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); the configs are chosen so the
same plans scale to a real cluster: AQE on (runtime coalesce + skew-join
handling), Arrow on (fast pandas interchange for the few Pandas-UDF
operators), explicit shuffle partitioning (never the 200 default blindly),
UTC session timezone so timestamp semantics match the DuckDB oracle.

Call-site capture is off (``spark.python.sql.dataFrameDebugging.enabled``
is ``false``). PySpark wraps every Column operator and DataFrame method so
that it records the Python file and line in the JVM before the call and
clears it after: an active-session lookup, a conf read and two
``PySparkCurrentOrigin`` calls. One ``a | b`` over two Columns costs 11
Py4J round trips with capture on and 1 with it off. The ingest path
rebuilds its extract/clean/validate tree for every micro-batch, so that
bookkeeping dominated driver-side plan building. What is lost: an
``AnalysisException`` no longer names the Python file and line of the
offending expression. To get it back, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
PySpark reads the setting once per Python process, at the first Column
operation with an active session, so it must be set before then.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "petfinder_database_distributor_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale callers set this to O(2–3× total executor cores) or rely on AQE
    coalescing from a higher initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (Spark 4.1): lets the
        # snapshot source prune files from pushed predicates at plan time
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Testdata parquet carries TIMESTAMP(NANOS) (events.ts) which Spark
        # rejects by default; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # No Python call-site capture per Column/DataFrame call (see the
        # module docstring); extra_conf can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
