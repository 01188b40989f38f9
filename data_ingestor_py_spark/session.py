"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every setting is chosen as it would be
on a 1000-executor cluster: AQE on (runtime re-planning + skew-join
mitigation), shuffle partitions sized to cores, Arrow enabled for the
pandas-UDF boundary, and broadcast threshold left to AQE.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "data-ingestor-py-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` uses ``local[*]``. ``shuffle_partitions`` defaults to
    2x cores locally; on a real cluster leave it to AQE coalescing.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep post-shuffle parallelism: default 64MB advisory coalesces a
        # CPU-bound sort/aggregate stage down to a handful of tasks
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """DataFrame over ``rows`` held in Python (tuples in the field order
    of the ``ddl`` schema), built through a ``pyarrow.Table`` so it plans
    as a ``LocalTableScan``: collecting it, or any projection Catalyst can
    fold over it, runs zero Spark jobs. ``createDataFrame(list, ddl)`` instead
    plans a Python-RDD scan that costs a job through Python workers even
    for one row. Use it for metadata-sized rows only: the rows are
    embedded in the query plan."""
    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
