"""SparkSession factory with the engine's tuned defaults.

Tuned for the sandbox (single 32-core JVM) but the settings are the
ones we would ship to a 1000-executor cluster: AQE on (runtime
coalesce + skew-join splitting), Arrow on for every pandas UDF
boundary, shuffle partitions sized to cores (cluster: 2-3x total
cores), small broadcast threshold left at default so dimension
tables broadcast.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A frame of driver-side rows, planned as a ``LocalTableScan``.

    ``spark.createDataFrame(<python list>, schema)`` plans a ``Scan
    ExistingRDD`` over a PythonRDD, so every job reading the frame runs
    Python worker tasks just to unpickle a handful of rows (collecting
    10 rows: 356–519 ms on a 4-core host). The same rows as an Arrow
    table are a ``LocalTableScan`` the JVM serves itself (25–47 ms).

    ``rows`` are tuples (or Rows) in ``schema`` order; ``schema`` is a
    StructType or a DDL string. Naive datetimes are local time, as in
    ``createDataFrame``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, af in zip(cols, schema.fields, arrow):
        if isinstance(field.dataType, TimestampType):
            values = [
                v.astimezone(timezone.utc) if isinstance(v, datetime) else v
                for v in values
            ]
        arrays.append(pa.array(values, type=af.type))
    table = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(table, schema)


def cpu_scaled(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition for a CPU-bound ``mapInPandas`` stage (signature
    building, media decode) so task count scales with BOTH the input
    and the cluster — never an absolute constant (a hardcoded
    ``repartition(8)`` funnels a 100 TB stage through 8 tasks).

    Target = max(input partitions, ``sc.defaultParallelism``): on a
    1000-executor cluster defaultParallelism is the total core count,
    and an input that is already wider than the cluster keeps its
    width. When the input is already wide enough and no balancing
    columns are requested, the frame is returned untouched (no
    shuffle at all).
    """
    sc = df.sparkSession.sparkContext
    n_in = df.rdd.getNumPartitions()
    target = max(n_in, sc.defaultParallelism)
    if cols:
        return df.repartition(target, *cols)
    if n_in >= target:
        return df
    return df.repartition(target)


def get_spark(
    app_name: str = "lucene-solr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
