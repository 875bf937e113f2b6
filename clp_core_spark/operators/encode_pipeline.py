"""Parse -> encode stage: text -> (logtype_id, encoded_vars[]).

Spark-first layout of CLP's ``Archive::write_msg`` path
(clp/streaming_archive/writer/Archive.cpp:299-316 +
clp/EncodedVariableInterpreter.cpp:206-225):

1. One Arrow scalar UDF over one batch kernel (:func:`parse_column` over
   tokenizer.tokenize_arrow_arrays) extracts the logtype template + typed
   variables per turn, under the heuristic or a user schema.
2. The logtype dictionary gets dense IDs on the driver from one bounded
   collect of its distinct templates (CLP's premise: templates << data;
   dictionaries.assign_dense_ids falls back to a distributed assignment
   above ``LOGTYPE_DRIVER_MAX``) and is broadcast back.
3. Dictionary variables get their IDs inline (``xxhash64``, the default)
   or, in dense mode, through the var dictionary.

Every var-dictionary lookup (dense resolve here, :func:`decode`) follows
one rule: a dictionary with a driver copy (dictionaries.driver_copy,
within ``BROADCAST_VAR_DICT_MAX`` entries) is broadcast as a map into the
Arrow batches; any other is looked up in the JVM by explode -> join ->
regroup.

The encoded row keeps CLP's exact representation: ``encoded_vars[i]`` is
the int value, the 64-bit float packing, or the var-dict ID, disambiguated
by the placeholder sequence in the logtype, which also fixes how many
variables the row has (CLP's message record: timestamp, logtype ID,
variables; clp/streaming_archive/reader/File.cpp:256-267).
"""
from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.pandas.functions import arrow_udf, pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from clp_core_spark.functions.tokenizer import PLACEHOLDER_DICT, VT_DICT
from clp_core_spark.operators import dictionaries

# The parse struct: tokenizer.PARSED_FIELDS as Spark types.
PARSED_SCHEMA_SLIM = StructType(
    [
        StructField("logtype", StringType()),
        StructField("var_types", ArrayType(IntegerType())),
        StructField("encoded", ArrayType(LongType())),
        StructField("dict_strs", ArrayType(StringType())),
    ]
)

# One scan of a logtype: an escape pair (group 1 empty) or an unescaped
# placeholder byte (group 1), as tokenizer._LOGTYPE_SEG_RE reads it.
_PLACEHOLDER_RE = r"\\[\x11\x12\x13\\]|([\x11\x12\x13])"

# The JVM lookup join broadcasts the dictionary side up to this many
# entries (~tens of MB serialized), so the exploded corpus-vars relation
# never shuffles for the join; only bigger dictionaries shuffle both sides.
BROADCAST_JOIN_DICT_MAX = 5_000_000


def parse_column(text: Column, schema_spec=None) -> Column:
    """The one parse function: an Arrow scalar UDF over the one kernel,
    tokenizer.tokenize_arrow_arrays, giving a :data:`PARSED_SCHEMA_SLIM`
    struct per text. ``schema_spec`` (a functions.schema_tokenizer.
    SchemaSpec) swaps in the user schema's delimiters and variable rules
    (CLP's schema-file path, clp/clp/FileCompressor.cpp:196-228).

    It is a column expression, so k of them in one projection run as one
    ArrowEvalPython node over one scan (the clp_s shape, one parse feeding
    every column writer)."""

    def _parse(texts: pa.Array) -> pa.Array:
        from clp_core_spark.functions.tokenizer import tokenize_arrow_arrays

        return tokenize_arrow_arrays(texts, schema_spec)

    return arrow_udf(_parse, PARSED_SCHEMA_SLIM)(text)


def parse(
    df: DataFrame,
    text_col: str = "text",
    slim: bool = True,
    schema_spec=None,
) -> DataFrame:
    """Append the parsed columns (logtype, var_types, encoded, dict_strs)
    to ``df``, from :func:`parse_column` over ``text_col``.

    ``slim`` is accepted and ignored: every parse returns these columns
    only. The keyword stays because perfbench/layers.py and bench.py
    still pass ``slim=True``."""
    parsed = df.withColumn("_p", parse_column(F.col(text_col), schema_spec))
    return parsed.select("*", "_p.*").drop("_p")


def _lookup_join(
    df: DataFrame,
    key_cols: list[str],
    var_dict: DataFrame,
    in_col: str,
    out_col: str,
    on: str,
) -> DataFrame:
    """Map every element of the array column ``in_col`` through
    ``var_dict`` in the JVM, into ``out_col`` (same order): explode with
    position, equi-join the dictionary on its column ``on``, regroup by
    row key ordered by position. Serves both directions: ids -> strings
    (decode, ``on="var_id"``) and strings -> ids (dense resolve,
    ``on="var_str"``). Up to ``BROADCAST_JOIN_DICT_MAX`` entries the
    dictionary side is broadcast, so only the regroup shuffles (on keys);
    the size is counted here, once the driver copy has overflowed."""
    value = "var_str" if on == "var_id" else "var_id"
    ex = df.select(*key_cols, F.posexplode(in_col).alias("_pos", on))
    dict_side = (
        F.broadcast(var_dict)
        if var_dict.count() <= BROADCAST_JOIN_DICT_MAX
        else var_dict
    )
    regrouped = ex.join(dict_side, on, "left").groupBy(*key_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", value))),
            lambda s: s[value],
        ).alias(out_col)
    )
    empty = F.array().cast(ArrayType(var_dict.schema[value].dataType))
    return df.join(regrouped, key_cols, "left").withColumn(
        out_col, F.coalesce(out_col, empty)
    )


def resolve_dict_ids(
    parsed: DataFrame,
    var_dict: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Replace each dict-var slot of ``encoded`` (which holds the row-local
    dict ordinal after parse) with the global var-dict ID.

    Returns ``parsed`` with ``encoded`` finalized and a ``dict_ids``
    array column (the row's var-dict IDs in order of appearance).
    """
    copy = dictionaries.driver_copy(var_dict)
    if copy is not None:
        # ship {var_str -> id} into the Arrow batches: one dict lookup
        # per variable over the flat list values, zero shuffle
        bc = copy.broadcast_map("var_str", "var_id")

        @arrow_udf(ArrayType(LongType()))
        def _lookup(dict_strs: pa.Array) -> pa.Array:
            get = bc.value.get
            ids = pa.array(
                [get(s) for s in dict_strs.values.to_pylist()], type=pa.int64()
            )
            return pa.ListArray.from_arrays(dict_strs.offsets, ids)
        resolved = parsed.withColumn("dict_ids", _lookup(F.col("dict_strs")))
    else:
        resolved = _lookup_join(
            parsed, key_cols, var_dict, "dict_strs", "dict_ids", on="var_str"
        )

    # Merge: dict slots in `encoded` hold the row-local ordinal; swap in the
    # global ID. zip_with stays entirely in the JVM.
    merged = resolved.withColumn(
        "encoded_vars",
        F.zip_with(
            "encoded",
            "var_types",
            lambda v, t: F.when(
                t == F.lit(VT_DICT), F.element_at("dict_ids", (v + 1).cast("int"))
            ).otherwise(v),
        ),
    )
    return merged.drop("encoded")


def encode(
    df: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    existing_logtype_dict: DataFrame | None = None,
    existing_var_dict: DataFrame | None = None,
    keep_text: bool = False,
    var_id_mode: str = "hash",
    schema_spec=None,
    pre_parsed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full parse->encode. Returns (encoded_df, logtype_dict, var_dict).

    ``pre_parsed``: a DataFrame that already carries the slim parse
    columns (logtype, var_types, encoded, dict_strs) skips the parse
    stage. Its caller owns its persist: IngestPipeline persists one
    ``parse(df)`` per partition, shares it across the
    sub-epochs and releases it. Without ``pre_parsed``, encode persists
    its own parse and never releases it; only one-shot callers (bench.py,
    scripts, the query entry points) take that path.
    A dictionary built distributed (above its driver-copy bound) comes
    back persisted (``is_cached``); the caller releases it too.

    ``encoded_df`` columns: key_cols + passthrough + logtype_id and
    encoded_vars (array<long>), CLP's message record. No per-row type or
    count column: the logtype's placeholders give both (:func:`decode`).

    var_id_mode:
    - ``"hash"`` (default, the 100 TB path): a dict var's ID is
      ``xxhash64(var_str)``, computed inline in the row — zero shuffle,
      zero broadcast, trivially stable across epochs/executors. The var
      dictionary table is still built (distinct var_str + id) for search
      probes and decode joins. CLP's IDs are opaque handles; only the
      deterministic 1:1 string<->ID mapping matters for semantics.
    - ``"dense"``: CLP-exact dense sequential IDs
      (clp/VariableDictionaryWriter.cpp:16-23 analog) via
      dictionaries.assign_dense_ids + broadcast-map/join resolve — the
      faithful-storage mode; costs a resolve join at scale.
    """
    if pre_parsed is not None:
        parsed = pre_parsed
    else:
        parsed = parse(df, text_col=text_col, schema_spec=schema_spec)
        if not keep_text:
            # the raw text is never read again (decode reconstructs it);
            # dropping it BEFORE the persist cuts the cached working set
            # (~25% for short log lines) and the attendant GC churn
            parsed = parsed.drop(text_col)
        # Parse once, feed the dict builds and the encode join.
        parsed = parsed.persist()

    logtype_dict = dictionaries.build_logtype_dict(parsed, existing_logtype_dict)
    # Within LOGTYPE_DRIVER_MAX (CLP's premise: templates << data) the
    # dictionary comes back built on the driver, a local relation that
    # every downstream broadcast reads without recomputing anything.
    # Only a distributed build is materialized here: it is broadcast at
    # least twice downstream (the encode join + any logtype-class
    # routing), and concurrent broadcast builds in one job each re-ran the
    # full distinct+rank subtree over the parsed corpus before a cache
    # had materialized. One count pins the cache first.
    if not dictionaries.has_driver_copy(logtype_dict):
        logtype_dict = logtype_dict.persist()
        logtype_dict.count()

    if var_id_mode == "hash":
        var_dict = dictionaries.build_var_dict_hash(parsed, existing_var_dict)
        with_ids = parsed.withColumn(
            "encoded_vars",
            F.zip_with(
                "encoded",
                "var_types",
                lambda v, t: F.when(
                    t == F.lit(VT_DICT),
                    F.xxhash64(F.element_at("dict_strs", (v + 1).cast("int"))),
                ).otherwise(v),
            ),
        ).drop("encoded")
    else:
        var_dict = dictionaries.build_var_dict(parsed, existing_var_dict)
        if not dictionaries.has_driver_copy(var_dict):
            var_dict = var_dict.persist()
        with_ids = resolve_dict_ids(parsed, var_dict, key_cols)

    encoded = with_ids.join(F.broadcast(logtype_dict), "logtype")

    drop_cols = ["logtype", "var_types", "dict_strs", "dict_ids"]
    if not keep_text:
        drop_cols.append(text_col)
    encoded = encoded.drop(*[c for c in drop_cols if c in with_ids.columns])
    return encoded, logtype_dict, var_dict


def _placeholders(logtype: str) -> Column:
    """The logtype's unescaped placeholder bytes in order: one per
    variable, its type (tokenizer.PLACEHOLDER_*)."""
    return F.filter(
        F.regexp_extract_all(F.col(logtype), F.lit(_PLACEHOLDER_RE), 1),
        lambda p: p != "",
    )


def _dict_var_ids(encoded_vars: str, placeholders: str) -> Column:
    """The row's var-dict IDs in order: the ``encoded_vars`` slots whose
    placeholder is the dictionary byte."""
    slots = F.zip_with(
        encoded_vars, placeholders, lambda v, p: F.when(p == PLACEHOLDER_DICT, v)
    )
    return F.filter(slots, lambda v: v.isNotNull())


def decode(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    key_cols: list[str],
    out_col: str = "decoded_text",
    slim_to_needed: bool = False,
) -> DataFrame:
    """Inverse of :func:`encode` — reconstruct the original message
    (clp/EncodedVariableInterpreter.cpp:298-367). Used by the roundtrip
    equality gate and the decompress-to-text sink. ``encoded`` needs
    ``logtype_id`` and ``encoded_vars`` only: each variable's type is its
    unescaped placeholder byte in the logtype, so rows of archives that
    still carry a ``var_types`` column decode the same.

    One rule picks the path: a var dictionary with a driver copy
    (dictionaries.driver_copy) decodes through its broadcast map, fused
    into the decode kernel — one Python stage, no dictionary strings
    crossing the Arrow boundary; any other resolves its IDs in the JVM
    (explode -> join -> regroup) before the kernel. The copy is kept on
    the var-dict DataFrame, so repeated decodes against it collect and
    broadcast once.

    ``slim_to_needed``: when the rows to decode are a SMALL residue of
    the corpus (search's wildcard-verify stage) but the dictionary has no
    driver copy, first semi-join the dictionary down to the var IDs those
    rows actually reference — the residue references few distinct vars,
    so the slimmed dictionary usually gets a copy and the map path
    instead of shipping the full dictionary. Leave False for full-corpus
    decodes, where "needed" IS the whole dictionary and the slimming pass
    would just add work."""
    # placeholder bytes scanned once per logtype, on the broadcast side
    logtypes = logtype_dict.withColumn("_placeholders", _placeholders("logtype"))
    df = encoded.join(F.broadcast(logtypes), "logtype_id")
    dict_ids = _dict_var_ids("encoded_vars", "_placeholders")

    copy = dictionaries.driver_copy(var_dict)
    if copy is None and slim_to_needed:
        needed = df.select(F.explode(dict_ids).alias("var_id")).distinct()
        var_dict = var_dict.join(F.broadcast(needed), "var_id", "leftsemi")
        copy = dictionaries.driver_copy(var_dict)
    if copy is not None:
        bc = copy.broadcast_map("var_id", "var_str")

        @pandas_udf(StringType())
        def _decode_map_udf(logtype: pd.Series, encoded_vars: pd.Series) -> pd.Series:
            from clp_core_spark.functions.tokenizer import decode_frame_with_map

            return decode_frame_with_map(logtype, encoded_vars, bc.value).astype(str)

        return df.withColumn(
            out_col, _decode_map_udf(F.col("logtype"), F.col("encoded_vars"))
        ).drop("_placeholders")

    df = _lookup_join(
        df.withColumn("_dict_ids", dict_ids).drop("_placeholders"), key_cols, var_dict,
        "_dict_ids", "dict_strs", on="var_id",
    )

    @pandas_udf(StringType())
    def _decode_udf(logtype: pd.Series, encoded_vars: pd.Series, dict_strs: pd.Series) -> pd.Series:
        from clp_core_spark.functions.tokenizer import decode_frame

        return decode_frame(logtype, encoded_vars, dict_strs).astype(str)

    return df.withColumn(
        out_col, _decode_udf(F.col("logtype"), F.col("encoded_vars"), F.col("dict_strs"))
    ).drop("_dict_ids", "dict_strs")
