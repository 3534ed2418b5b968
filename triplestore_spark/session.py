"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join on,
Arrow batching for the pandas-UDF codec paths) while remaining correct
on local[N]. Parallelism comes from SPARK_GRAFT_CPUS when set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# path -> (mtime, inferred StructType). METADATA-only memo:
# re-inferring a parquet schema costs a footer read + analysis
# (~70-100 ms per spark.read.parquet call, measured) and the engine
# re-reads the same immutable input tables on every query
# construction. Results are still computed from the parquet files on
# every action — only the schema is reused, and only while the path's
# mtime is unchanged, so an in-process rewrite re-infers.
_SCHEMA_CACHE: dict = {}


def read_parquet_table(spark: SparkSession, path: str):
    """spark.read.parquet with a per-path schema memo (see above)."""
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        # non-local / unstat-able path: no memo, plain read
        return spark.read.parquet(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (mtime, df.schema)
    return df


def local_frame(spark: SparkSession, rows, schema):
    """DataFrame over driver-resident rows, planned as a LocalRelation.

    `rows` are tuples (or Rows) in `schema` field order; `schema` is a
    StructType or a DDL string. The rows go to the JVM once as an Arrow
    table, so evaluating the frame runs no Python worker. A list handed
    to createDataFrame instead becomes a parallelized Python RDD, and
    every action over it starts one Python task per default-parallelism
    slot — for a one-row constant. This is the package's only
    createDataFrame call."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "triplestore-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # 8m advisory (vs 64m default): triple rows are wide strings;
        # on local[N] the default coalesces small-bench shuffles below
        # the core count. On a real cluster partition counts are large
        # either way — this only buys parallelism at the small end.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
