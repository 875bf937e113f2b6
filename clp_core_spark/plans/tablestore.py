"""Table-format abstraction: Iceberg when its Spark runtime is on the
classpath, partitioned parquet otherwise — ONE writer/reader interface so
the pipeline code never branches on the format.

SURVEY §1.5 maps CLP's archive structures onto table-format concepts:

- archive            -> table partition (``epoch_part``)
- segment            -> data files inside a partition (clustered writes)
- segment index      -> column stats (Iceberg manifests / parquet footers)
- incremental ingest -> idempotent partition overwrite (Iceberg
  ``overwritePartitions`` snapshot / parquet dynamic partition overwrite)

The sandbox image has no Iceberg runtime jar, so the Iceberg branch is
exercised only when ``iceberg_available()`` (tests guard on it); the
parquet branch is the CI path. Both satisfy the same contract:
``overwrite_partitions`` is idempotent per partition value and
``read(partition_filter=...)`` prunes unselected partitions from the scan.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the footer key under which Spark's parquet writer keeps the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath AND a
    Spark catalog is configured for it."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:  # noqa: BLE001 — class not on classpath
        return False
    confs = spark.sparkContext.getConf().getAll()
    return any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in confs
    )


class TableStore:
    """Format-agnostic partitioned table writer/reader rooted at ``root``
    (parquet) or under ``catalog.namespace`` (Iceberg).

    mode: ``"auto"`` picks Iceberg when available, else parquet;
    ``"parquet"`` / ``"iceberg"`` force a branch (forcing iceberg without
    the runtime raises)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        mode: str = "auto",
        catalog: str = "spark_catalog",
        namespace: str = "clp",
    ):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.namespace = namespace
        if mode == "auto":
            self.format = "iceberg" if iceberg_available(spark) else "parquet"
        elif mode == "iceberg":
            if not iceberg_available(spark):
                raise RuntimeError("Iceberg runtime not on the classpath")
            self.format = "iceberg"
        else:
            self.format = "parquet"

    # -- naming --------------------------------------------------------------

    def table_path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def _qualified(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # -- write ---------------------------------------------------------------

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str],
        parquet_options: dict[str, str] | None = None,
    ) -> None:
        """Replace exactly the partitions present in ``df`` (idempotent
        under retries; other partitions untouched). Iceberg: one
        ``overwritePartitions`` snapshot commit. Parquet: dynamic
        partition overwrite, with ``parquet_options`` as writer options."""
        if self.format == "iceberg":
            name = self._qualified(table)
            if not self.spark.catalog.tableExists(name):
                (
                    df.writeTo(name)
                    .partitionedBy(*[F.col(c) for c in partition_cols])
                    .create()
                )
            else:
                df.writeTo(name).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .options(**(parquet_options or {}))
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(self.table_path(table))
        )

    # -- read ----------------------------------------------------------------

    def read(
        self,
        table: str,
        partition_filter: dict[str, list] | None = None,
    ) -> DataFrame | None:
        """Read the table; ``partition_filter={col: [values]}`` restricts
        the scan to those partitions. Iceberg prunes via manifests from
        the pushed ``IN`` predicate; parquet mode lists ONLY the selected
        first-level partition directories (structural pruning) when the
        filter's first key is the leading partition column, and pushes
        the rest as predicates. None when the table holds no data file
        yet (parquet) or does not exist (Iceberg): there is no schema to
        read it with."""
        if partition_filter and any(len(list(v)) == 0 for v in partition_filter.values()):
            # e.g. a time range overlapping no ledger epoch: zero selected
            # partitions must mean an EMPTY result, not a zero-path read
            # error — keep the table schema, let the optimizer collapse it
            df = self.read(table)
            return None if df is None else df.where(F.lit(False))
        if self.format == "iceberg":
            name = self._qualified(table)
            if not self.spark.catalog.tableExists(name):
                return None
            df = self.spark.read.table(name)
            for col, values in (partition_filter or {}).items():
                df = df.filter(F.col(col).isin(list(values)))
            return df
        base = self.table_path(table)
        first = self._first_data_file(table)
        if first is None:
            return None
        # the data columns Spark's writer keeps in every file's footer:
        # given to the reader, they spare it the job that infers the
        # schema (Spark still finds the partition columns from directory
        # names, without a job). Files of an older archive with extra
        # columns read as Spark's inference from one file would: a
        # column a file lacks reads as null.
        row_meta = pq.read_metadata(first).metadata[_SPARK_ROW_METADATA]
        reader = self.spark.read.schema(StructType.fromJson(json.loads(row_meta)))
        if not partition_filter:
            return reader.parquet(base)
        items = list(partition_filter.items())
        lead_col, lead_vals = items[0]
        df = reader.option("basePath", base).parquet(
            *[f"{base}/{lead_col}={v}" for v in lead_vals]
        )
        for col, values in items[1:]:
            df = df.filter(F.col(col).isin(list(values)))
        return df

    def _first_data_file(self, table: str) -> str | None:
        """The first data file of a parquet table, found on the driver
        (the store is local-fs, as the pipeline's ledger and dictionaries
        are). Hidden names (``_SUCCESS``, ``_temporary``, a dynamic
        overwrite's ``.spark-staging-*``) are skipped as Spark's file
        index skips them: a staged file may be half written."""
        for d, dirs, files in os.walk(self.table_path(table)):
            dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
            data = sorted(f for f in files if not f.startswith(("_", ".")))
            if data:
                return os.path.join(d, data[0])
        return None
