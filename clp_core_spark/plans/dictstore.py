"""Crash-safe persisted-dictionary store shared by the batch and
streaming pipelines.

The swap protocol keeps a readable dictionary on disk at every instant
(the reference's analog is the jobs-DB transactional dictionary commit;
a lost dictionary would silently re-assign dense IDs that collide with
IDs already written to earlier epochs' sinks):

1. write the new version to ``<name>_next``
2. move the current version aside to ``<name>_old``
3. move ``<name>_next`` into place
4. drop ``<name>_old``

A crash between any two steps leaves either ``<name>`` or ``<name>_old``
intact; :func:`load_dict` falls back to ``_old``, which is exactly the
state consistent with the last committed ledger row (the new version's
partition never committed its ledger entry, so it re-runs).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from clp_core_spark.operators import dictionaries

# the fixed schemas of the two archive dictionaries: a read that is given
# its schema runs no schema-inference job
SCHEMAS = {
    "logtype": "logtype string, logtype_id long",
    "var": "var_str string, var_id long",
}


def load_dict(spark: SparkSession, dicts_path: str, name: str) -> DataFrame | None:
    # the store is local-fs by contract (save_dict swaps with os.rename),
    # so probe existence first: resolving a missing path through
    # spark.read costs a full analysis pass and logs a WARN stack trace
    # (FileStreamSink.hasMetadata) on every first-epoch load
    reader = spark.read.schema(SCHEMAS[name]) if name in SCHEMAS else spark.read
    for suffix in ("", "_old"):
        path = f"{dicts_path}/{name}{suffix}"
        if not os.path.exists(path):
            continue
        try:
            return reader.parquet(path)
        except Exception:  # noqa: BLE001 — racing swap; try the fallback
            continue
    return None


def save_dict(dicts_path: str, name: str, df: DataFrame) -> int:
    """Swap ``df`` in as dictionary ``name``; return its entry count, read
    from the footers of the files just written (no Spark job). A
    dictionary held in driver memory is written as one file."""
    final = f"{dicts_path}/{name}"
    tmp = f"{final}_next"
    old = f"{final}_old"
    if dictionaries.has_driver_copy(df):
        df = df.coalesce(1)
    # df may read from `final` (incremental build); tmp is a different path
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(final):
        os.rename(final, old)
    os.rename(tmp, final)
    shutil.rmtree(old, ignore_errors=True)
    return sum(
        pq.read_metadata(f"{final}/{f}").num_rows
        for f in os.listdir(final)
        if f.startswith("part-")
    )
