"""SparkSession factory tuned for the maintenance engine.

Local mode is the test stand-in for a multi-executor cluster; every
config here is one we would also set on a 1000-executor cluster
(AQE, shuffle partition sizing, Arrow transfers, UTC session tz).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "olake_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N → local[N]; "*" → local[*]; None → $SPARK_GRAFT_CPUS or *.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # OLAKE_SPARK_MASTER=spark://host:port runs against a standalone
    # cluster: `cores` becomes the app's total core cap (spark.cores.max)
    # spread over single-core executors — a true multi-executor layout.
    # Under spark-submit (gateway already launched) the submitted
    # --master wins: never override it here.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    standalone = os.environ.get("OLAKE_SPARK_MASTER")
    if shuffle_partitions is None:
        n = (os.cpu_count() or 8) if str(cores) == "*" else int(cores)
        shuffle_partitions = max(8, int(n))
    b = SparkSession.builder
    if not under_submit:
        b = b.master(standalone if standalone else f"local[{cores}]")
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary audio rows are ~10 KB; the 10k-row default Arrow batch
        # would pin ~100 MB per in-flight task — at 32 concurrent tasks
        # that overwhelms any executor. 2048 rows ≈ 20 MB per batch.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("OLAKE_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no \r progress frames on the console: a frame emitted just
        # before a result line leaves residue on it, and the driver
        # machine-parses bench's final stdout line (BENCH_r04 lesson)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if standalone and not under_submit:
        import sys

        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = (
            b.config("spark.cores.max", str(cores if str(cores) != "*" else os.cpu_count()))
            .config("spark.executor.cores", os.environ.get("OLAKE_EXECUTOR_CORES", "1"))
            .config("spark.executor.memory", os.environ.get("OLAKE_EXECUTOR_MEM", "6g"))
            .config("spark.executorEnv.PYTHONPATH", repo_root)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """A driver-built plan table (file→sequence maps, rewrite plans,
    bounds) as a ``LocalRelation``.

    ``createDataFrame(list_of_tuples)`` yields a Python-RDD scan whose
    size estimate is ``Long.MaxValue``, so Catalyst never broadcasts
    anything joined to it, and broadcasting it runs a job through a
    Python worker. An Arrow table instead becomes a ``LocalRelation``
    with exact stats, broadcast straight from the driver. Column types
    follow ``schema`` exactly (an ``int`` column stays ``int``).
    ``rows`` is a list of tuples, or a ``pyarrow.Table`` whose columns
    are already in ``schema``'s order (renamed and cast to it here).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows.rename_columns(schema.names).cast(arrow_schema), schema)
    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)
