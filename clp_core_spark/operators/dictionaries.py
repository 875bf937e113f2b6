"""Logtype / variable dictionary construction.

CLP's dictionaries assign sequential insertion-order IDs with exact-string
dedup (clp/VariableDictionaryWriter.cpp:7-37, clp/DictionaryWriter.hpp:105-106).
Insertion order is meaningless in a distributed engine, so we keep the two
properties the rest of the system relies on — *dense* IDs starting at 0 and
*deterministic* string->ID mapping for a given corpus — by ordering on
(hash bucket, value). Incremental builds (checkpoint resume) append new
entries at max_id+1, mirroring the writer's monotone ID counter.

ID assignment follows the driver-copy rule (:func:`driver_copy`): one
``limit(bound + 1)`` collect of the distinct (value, hash bucket) pairs is
both the size test and the data. Within the dictionary kind's bound the
IDs are assigned on the driver and the dictionary comes back as a local
relation that already holds its driver copy: no persist or count job
pins it, downstream broadcasts read it without recomputing anything, and
it is saved as one file. CLP keeps the logtype dictionary in memory for
the same reason (templates << data, Grep.cpp:477-495). Above
the bound the assignment is distributed, with no single-partition
window: per-bucket counts give bucket offsets on the driver (#buckets is
small) and a per-bucket window ranks values within their bucket. Both
paths order new values by (bucket, UTF-8 bytes), so they assign the same
IDs; the distributed one scales to variable dictionaries far larger than
driver memory.
"""

from __future__ import annotations

import threading

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from clp_core_spark.session import local_table

DEFAULT_ID_BUCKETS = 64


def _next_id(top) -> int:
    """The first ID after an existing dictionary's max ID ``top`` (None or
    NaN for an empty dictionary)."""
    return 0 if pd.isna(top) else int(top) + 1


def assign_dense_ids(
    values: DataFrame,
    value_col: str,
    id_col: str,
    existing: DataFrame | None = None,
    num_buckets: int = DEFAULT_ID_BUCKETS,
) -> DataFrame:
    """``DataFrame[value_col, id_col]``: deterministic dense IDs for the
    distinct non-null strings of ``value_col``. With ``existing`` (a
    dictionary with the same two columns) its entries keep their IDs and
    the values it lacks get IDs from its max ID + 1.

    New IDs follow (hash bucket, value) order — deterministic and dense
    but not globally lexicographic, which is all CLP's semantics require
    (IDs are opaque handles; only dedup + stability matter).
    """
    bucketed = (
        values.select(value_col)
        .where(F.col(value_col).isNotNull())
        .distinct()
        .withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(value_col)), F.lit(num_buckets)).cast("int")
        )
    )
    old = None  # the existing dictionary's driver copy, as a pandas frame
    if existing is not None:
        copy = driver_copy(existing)
        old = None if copy is None else copy.frame[[value_col, id_col]]
    if existing is None or old is not None:
        local = _assign_on_driver(bucketed, value_col, id_col, old)
        if local is not None:
            return local

    start = 0
    if existing is not None:
        bucketed = bucketed.join(existing.select(value_col), value_col, "left_anti")
        start = _next_id(
            old[id_col].max()
            if old is not None
            else existing.agg(F.max(id_col)).collect()[0][0]
        )
    counts = {
        r["_bucket"]: r["cnt"]
        for r in bucketed.groupBy("_bucket").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, start
    for b in range(num_buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    offset_map = F.create_map(
        *[x for b in range(num_buckets) for x in (F.lit(b), F.lit(offsets[b]))]
    )
    w = Window.partitionBy("_bucket").orderBy(value_col)
    ranked = (
        bucketed.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn(id_col, (offset_map[F.col("_bucket")] + F.col("_rn")).cast("long"))
        .select(value_col, id_col)
    )
    return ranked if existing is None else existing.unionByName(ranked)


def _assign_on_driver(
    bucketed: DataFrame, value_col: str, id_col: str, old: pd.DataFrame | None
) -> DataFrame | None:
    """The driver rule of :func:`assign_dense_ids`: the whole dictionary
    (``old`` entries plus the new values) as a local relation carrying its
    driver copy, or None when it would exceed its kind's bound."""
    bound = _driver_bound([id_col])
    pairs = bucketed.limit(bound + 1).toPandas()
    if len(pairs) > bound:
        return None
    if old is not None:
        pairs = pairs[~pairs[value_col].isin(old[value_col])]
        if len(old) + len(pairs) > bound:
            return None
    # the window's order: bucket, then Spark's binary string order
    new = sorted(zip(pairs["_bucket"], pairs[value_col]), key=lambda p: (p[0], p[1].encode()))
    start = 0 if old is None else _next_id(old[id_col].max())
    frame = pd.DataFrame(
        {
            value_col: pd.Series([v for _, v in new], dtype=object),
            id_col: pd.Series(range(start, start + len(new)), dtype="int64"),
        }
    )
    if old is not None:
        frame = pd.concat([old, frame], ignore_index=True)
    spark = bucketed.sparkSession
    out = local_table(spark, frame, f"{value_col} string, {id_col} long")
    out._clp_driver_copy = DriverCopy(spark, frame)
    return out


def build_logtype_dict(
    parsed: DataFrame,
    existing: DataFrame | None = None,
    logtype_col: str = "logtype",
) -> DataFrame:
    """``DataFrame[logtype: string, logtype_id: long]``.

    With ``existing`` (a prior epoch's dictionary), only unseen logtypes get
    new IDs at max_id+1 — deterministic across resumed runs (SURVEY §7
    "hard parts"; mirrors clp/VariableDictionaryWriter.cpp:16-23).
    """
    return assign_dense_ids(parsed, logtype_col, "logtype_id", existing=existing)


def build_var_dict_hash(
    parsed: DataFrame,
    existing: DataFrame | None = None,
    dict_strs_col: str = "dict_strs",
) -> DataFrame:
    """``DataFrame[var_str, var_id=xxhash64(var_str)]`` — the scale path:
    IDs are content hashes, so rows can compute their own IDs inline (no
    resolve join) and epochs merge by plain distinct-union. 64-bit
    collision odds at 10^9 entries ~ 3e-2; at CLP-typical dictionary
    sizes (millions) they are negligible, and a collision would surface
    in the decode-equality gate."""
    vals = (
        parsed.select(F.explode(dict_strs_col).alias("var_str"))
        .where(F.col("var_str").isNotNull())
        .distinct()
        .withColumn("var_id", F.xxhash64("var_str"))
    )
    if existing is None:
        return vals
    return existing.unionByName(
        vals.join(existing, "var_str", "left_anti")
    )


def build_var_dict(
    parsed: DataFrame,
    existing: DataFrame | None = None,
    dict_strs_col: str = "dict_strs",
) -> DataFrame:
    """``DataFrame[var_str: string, var_id: long]`` over all dictionary
    variables appearing in ``parsed[dict_strs_col]`` (array<string>)."""
    vals = parsed.select(F.explode(dict_strs_col).alias("var_str"))
    return assign_dense_ids(vals, "var_str", "var_id", existing=existing)


# Driver-copy bounds, one per dictionary kind (see driver_copy). A logtype
# dictionary within its bound is matched in memory at query compile (zero
# Spark jobs) and drives search's JVM template decode; logtype dicts are
# templates, tiny by CLP's core premise. A var dictionary within its bound
# is broadcast as a map into decode and dense-ID resolve, one pickle load
# per Python worker, which anti-scales with executor count for large
# dictionaries; beyond it both take the JVM explode -> join -> regroup.
LOGTYPE_DRIVER_MAX = 100_000
BROADCAST_VAR_DICT_MAX = 200_000
# Search's wildcard-verify residue follows the same rule: one
# ``limit(bound + 1)`` collect of the candidate rows is the size test and
# the data, and within the bound (with both dictionaries held) the rows
# are decoded and matched in driver memory, as CLP's search process does
# (Grep.cpp:935-951). Set from the driver-against-distributed verify
# measurement at 10^3, 10^4 and 10^5 residue rows (CHANGES.md).
VERIFY_DRIVER_MAX = 100_000


def _driver_bound(columns: list[str]) -> int:
    """The driver-copy bound of the dictionary kind with these columns."""
    return LOGTYPE_DRIVER_MAX if "logtype_id" in columns else BROADCAST_VAR_DICT_MAX


class DriverCopy:
    """A dictionary held in driver memory: its rows as a pandas ``frame``,
    and the ``{key: value}`` maps built from it on first use, one per
    lookup direction (decode reads id -> string, dense encode string ->
    id), each kept as a plain dict for the driver and broadcast once for
    the executors."""

    def __init__(self, spark, frame):
        self.frame = frame
        self._spark = spark
        self._maps: dict = {}
        self._broadcasts: dict = {}
        self._lock = threading.RLock()

    def lookup(self, key_col: str, value_col: str) -> dict:
        with self._lock:
            m = self._maps.get((key_col, value_col))
            if m is None:
                m = dict(zip(self.frame[key_col].tolist(), self.frame[value_col].tolist()))
                self._maps[(key_col, value_col)] = m
            return m

    def broadcast_map(self, key_col: str, value_col: str):
        with self._lock:
            bc = self._broadcasts.get((key_col, value_col))
            if bc is None:
                bc = self._spark.sparkContext.broadcast(self.lookup(key_col, value_col))
                self._broadcasts[(key_col, value_col)] = bc
            return bc


_COPY_LOCK = threading.Lock()


def driver_copy(dict_df: DataFrame) -> DriverCopy | None:
    """The dictionary's driver copy, or None when it holds more entries
    than its kind's bound (``LOGTYPE_DRIVER_MAX`` for a logtype dict,
    ``BROADCAST_VAR_DICT_MAX`` for a var dict). One
    ``limit(bound + 1)`` collect is both the size test and the copy, so
    no caller counts a dictionary to choose a path. The result is kept on
    the DataFrame object: CLP loads each archive dictionary into memory
    once and decodes every message from that copy (Grep.cpp:477-495),
    and a dictionary DataFrame is an immutable plan, so the copy cannot
    go stale. Racing first calls may each collect; all of them get the
    copy stored first."""
    copy = getattr(dict_df, "_clp_driver_copy", None)
    if copy is None:
        bound = _driver_bound(dict_df.columns)
        # through Arrow: no per-row Python objects for a 10^5-entry dict
        frame = dict_df.limit(bound + 1).toPandas()
        built = DriverCopy(dict_df.sparkSession, frame) if len(frame) <= bound else False
        with _COPY_LOCK:
            copy = getattr(dict_df, "_clp_driver_copy", None)
            if copy is None:
                dict_df._clp_driver_copy = copy = built
    return copy or None


def has_driver_copy(dict_df: DataFrame) -> bool:
    """Whether the dictionary already holds its driver copy (a driver-built
    dictionary always does), without collecting one."""
    return bool(getattr(dict_df, "_clp_driver_copy", None))
