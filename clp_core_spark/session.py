"""SparkSession factory with scale-oriented defaults.

Single place for configs so tests, bench, and spark-submit entry points
share the same tuning:

* AQE on (runtime re-plan, skew-join splitting) — stands in for CLP's
  scheduler-level partition balancing
  (job_orchestration/scheduler/compress/partition.py:99-138).
* Arrow on — every CLP-specific kernel runs over Arrow batches: the one
  parse is an Arrow scalar UDF (encode_pipeline.parse_column), the
  decode kernels are pandas UDFs.
* Parquet zstd — mirrors CLP's zstd segment compression
  (components/core/src/clp/streaming_compression/zstd/).
* Parquet timestamps as INT64 microseconds, CLP's int64 message
  timestamp: Spark's legacy INT96 default takes 12 bytes a value and
  admits no delta coding. Spark timestamps are microseconds, so nothing
  is lost; a reader takes either encoding file by file.

:func:`local_table` is the one way product code turns driver-held rows
into a DataFrame, through :func:`arrow_table`, which also builds the
ingest ledger's commit rows; :func:`job_description` names the Spark
jobs a block of product code launches.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "clp-core-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # master="" => inherit spark.master from the launcher (spark-submit);
    # the cluster job entry (clp_core_spark.job) uses this so the same code
    # runs under local test sessions and multi-executor spark-submit.
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # 10MB (Spark's default) is conservative for executors sized in
        # GBs: it pushed the duplicate-span dup-hash set (~1.1M longs,
        # ~27MB hashed) into a sort-merge join that shuffled+sorted the
        # 56M-row probe side — 340s vs 194s once the set broadcasts
        # (BENCH round-5 curation notes). 64MB keeps slim hash-set/
        # dictionary relations broadcastable while AQE's runtime stats
        # still protect against genuinely large sides.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD", str(64 * 1024 * 1024)),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # FAIR lets concurrently-submitted jobs (epoch-scoped ingest /
        # per-archive search with max_concurrent > 1) share executors
        # instead of head-of-line blocking behind one epoch's stages;
        # SPARK_GRAFT_SCHEDULER=FIFO restores the default
        .config(
            "spark.scheduler.mode",
            os.environ.get("SPARK_GRAFT_SCHEDULER", "FAIR"),
        )
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(spark: SparkSession, data, schema: str | StructType) -> DataFrame:
    """A small driver-built table as an Arrow local relation: its plan is
    a ``LocalTableScan``, so reading it needs no Python worker and no
    Spark job of its own. (``createDataFrame`` of a Python list plans a
    ``Scan ExistingRDD`` instead: a Python-worker job every time it is
    read.) ``data`` is what :func:`arrow_table` takes."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(data, schema), schema)


def arrow_table(data, schema: StructType):
    """``data`` as a pyarrow Table of ``schema``: ``data`` is a pyarrow
    Table of ``schema``'s columns in its order, a pandas DataFrame holding
    ``schema``'s columns, or a list of rows: tuples in ``schema``'s column
    order, or dicts.

    Timestamp values must be timezone-aware: Arrow reads a naive
    datetime as a wall-clock time in the session zone, while ``collect``
    returns naive datetimes in the Python process's zone, so a collected
    timestamp passed back here unconverted would shift by the difference
    between the two. A pyarrow Table may instead carry a timestamp as
    int64 UTC microseconds, the ``unix_micros`` a collect takes out of
    Spark."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, pa.Table):
        return data.cast(arrow_schema)
    if isinstance(data, pd.DataFrame):
        return pa.Table.from_pandas(
            data[schema.names], schema=arrow_schema, preserve_index=False
        )
    rows = [r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in data]
    ts_cols = [f.name for f in schema.fields if isinstance(f.dataType, TimestampType)]
    if any(r[c] is not None and r[c].tzinfo is None for r in rows for c in ts_cols):
        raise ValueError("naive datetime in a timestamp column")
    return pa.Table.from_pylist(rows, schema=arrow_schema)


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Run the block's Spark jobs under the description ``text`` (what the
    UI and the status API show for them), then restore the thread's
    previous description."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
