"""Semi-structured (clp_s-lite) ingestion: JSON records -> typed columns,
schema IDs, and CLP-encoded string columns.

Reference semantics (clp_s/, "Merged Parse Tree"):

- Node types per leaf: JSON number -> Integer (integral) / Float; bool ->
  Boolean; string containing a space -> ClpString (CLP-tokenized), else
  VarString (whole-string dictionary); null -> NullValue; nested object
  -> Object with child nodes (clp_s/JsonParser.cpp:195-203,
  clp_s/SchemaTree.hpp:27-40).
- Each distinct set of leaf nodes present in a record is a *schema*,
  deduped to a schema ID (clp_s/SchemaMap.cpp:8-15); clp_s stores one
  typed table per schema (clp_s/ArchiveWriter.hpp:89,113,240).

Spark-first layout: one DataFrame with a nullable column per leaf path
(Parquet/Iceberg handles sparse nullable columns natively — the per-schema
tables of clp_s exist to avoid nulls in row-oriented C++ storage and are
unnecessary on a columnar engine), plus a ``schema_id`` column for
schema-set pruning (the clp_s SchemaMatch stage becomes a pushable
``schema_id IN (...)`` predicate).

Spark's own JSON schema inference (``spark.read.json`` / ``from_json``)
replaces the record-by-record MPT merge: both discover the union of typed
paths; Spark just does it as a distributed pre-pass.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructType,
)

from clp_core_spark.session import local_table

# clp_s NodeType names (clp_s/SchemaTree.hpp:27-40)
T_INTEGER = "Integer"
T_FLOAT = "Float"
T_BOOLEAN = "Boolean"
T_CLPSTRING = "ClpString"
T_VARSTRING = "VarString"
T_ARRAY = "UnstructuredArray"
T_SARRAY = "StructuredArray"
T_OBJECT = "Object"


def _read_json_strings(df: DataFrame, col_expr) -> DataFrame:
    """spark.read.json over a string column, JVM-side (Dataset[String]
    straight into the JSON reader — no Python-RDD round trip); falls back
    to the RDD path if the py4j surface is unavailable."""
    spark = df.sparkSession
    src = df.select(col_expr.alias("value"))
    try:
        jds = getattr(src._jdf, "as")(  # noqa: SLF001
            spark._jvm.org.apache.spark.sql.Encoders.STRING()  # noqa: SLF001
        )
        jres = spark._jsparkSession.read().json(jds)  # noqa: SLF001
        return DataFrame(jres, spark)
    except Exception:  # noqa: BLE001 — e.g. a connect-mode session
        return spark.read.json(src.rdd.map(lambda r: r[0]))


def infer_json_schema(
    df: DataFrame, json_col: str, sample_rows: int | None = 100_000
) -> StructType:
    """Distributed schema inference over the JSON column — the MPT merge
    (clp_s/JsonParser.cpp:150-218) as Spark's native JSON reader pass,
    entirely JVM-side (no Python workers in the inference path).

    Inference is bounded to ``sample_rows`` records (one limited pass);
    at 100 TB pass an explicit schema to encode_semistructured, or
    ``sample_rows=None`` to force a full scan."""
    src = df
    if sample_rows is not None:
        src = src.limit(sample_rows)
    return _read_json_strings(
        src, F.coalesce(F.col(json_col), F.lit("{}"))
    ).schema


def _leaf_paths(schema: StructType, prefix: str = "") -> list[tuple[str, object]]:
    out: list[tuple[str, object]] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, StructType):
            out.extend(_leaf_paths(f.dataType, prefix=f"{path}."))
        else:
            out.append((path, f.dataType))
    return out


def _node_type(spark_type, col_has_space) -> str:
    if isinstance(spark_type, LongType):
        return T_INTEGER
    if isinstance(spark_type, DoubleType):
        return T_FLOAT
    if isinstance(spark_type, BooleanType):
        return T_BOOLEAN
    if isinstance(spark_type, ArrayType):
        return T_ARRAY
    return T_CLPSTRING if col_has_space else T_VARSTRING


def encode_semistructured(
    df: DataFrame,
    json_col: str,
    key_cols: list[str],
    schema: StructType | None = None,
    structurize_arrays: bool = False,
    infer_sample_rows: int | None = 100_000,
    clp_string_cols: list[str] | None = None,
    owned_persists: list | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse ``json_col`` into typed leaf columns + a dense ``schema_id``.

    Returns ``(encoded, schema_tree, schema_map)``:

    - ``encoded``: key_cols + one column per leaf path (dots -> ``__``),
      string leaves kept as strings (CLP-encode ClpString columns further
      via encode_pipeline.encode if storage parity is wanted), plus
      ``schema_id``.
    - ``schema_tree``: (path, node_type, n_present) — the MPT leaves.
      String-leaf node type follows clp_s's per-value space rule
      (clp_s/JsonParser.cpp:195-203) promoted to the column level: a
      column is ClpString iff any value contains a space.
    - ``schema_map``: (schema_key, schema_id, n_records) — distinct
      present-leaf sets, dense IDs (clp_s/SchemaMap.cpp:8-15).

    ``structurize_arrays=True`` is the clp_s ``--structurize-arrays``
    analog (clp_s/SchemaTree.hpp:27-40 StructuredArray): leaves whose
    values are JSON objects or arrays-of-objects (Spark inference widens
    the mixed case to a JSON-text string) become ``array<struct>``
    columns — single objects wrapped as one-element arrays — so a dotted
    query like ``arr.b > 1000`` matches a record when ANY element
    matches, across both shapes (golden behavior:
    tests/test-clp_s-search.cpp:182, results {7, 8}).

    ``clp_string_cols``: flattened names of string leaves destined for
    CLP encoding (clps_search.encode_clpstring_columns). Their slim CLP
    tokenize runs IN THE SAME projection as the JSON flatten — one
    corpus scan and one ArrowEvalPython stage produce the typed leaves
    AND every ClpString column's (logtype, vars) parse, mirroring clp_s
    parsing each record once into all column writers
    (clp_s/JsonParser.cpp:125-232). The parse structs ride along as
    ``_p_<name>`` columns; encode_clpstring_columns detects and reuses
    them instead of re-scanning."""
    spark = df.sparkSession
    if schema is None:
        schema = infer_json_schema(df, json_col, sample_rows=infer_sample_rows)

    parsed = df.withColumn("_j", F.from_json(F.col(json_col), schema))
    leaves = _leaf_paths(schema)
    flat_cols = []
    for path, dtype in leaves:
        name = path.replace(".", "__")
        col = F.col(f"_j.{path}")
        if isinstance(dtype, ArrayType):
            col = F.to_json(col)  # array dict analog: arrays kept as JSON text
        flat_cols.append(col.alias(name))
    if clp_string_cols:
        from clp_core_spark.operators.encode_pipeline import parse_column

        by_name = {p.replace(".", "__"): (p, d) for p, d in leaves}
        for c in clp_string_cols:
            if c not in by_name or not isinstance(by_name[c][1], StringType):
                raise ValueError(f"clp_string_cols entry {c!r} is not a string leaf")
            src = F.coalesce(F.col(f"_j.{by_name[c][0]}"), F.lit(""))
            flat_cols.append(parse_column(src).alias(f"_p_{c}"))
    # one JSON parse, many consumers: the stats agg, structurize probes,
    # dense-ID bucket counts, schema map, and the returned table all read
    # this relation — without the persist each would re-run from_json over
    # the whole corpus (measured ~2x end-to-end on the clps bench query).
    # Ownership contract (same as encode_clpstring_columns): pass
    # ``owned_persists`` and the CALLER unpersists after materializing
    # its results; without it the cache lives for the session.
    flat = parsed.select(*key_cols, *flat_cols).persist()
    if owned_persists is not None:
        owned_persists.append(flat)

    # Column-level ClpString/VarString decision + presence counts + (in
    # structurize mode) container detection, one pass.
    aggs = []
    for path, dtype in leaves:
        name = path.replace(".", "__")
        aggs.append(F.count(F.col(name)).alias(f"n_{name}"))
        if isinstance(dtype, (StringType, ArrayType)):
            aggs.append(
                F.max(F.col(name).cast("string").contains(" ")).alias(f"sp_{name}")
            )
            # all non-null values are JSON containers ({...} or [...])?
            # (drives structurize-candidate detection AND UnstructuredArray
            # classification of inference-widened mixed container columns)
            aggs.append(
                F.max(
                    F.when(~F.col(name).cast("string").rlike(r"^[\[{]"), 1)
                    .otherwise(0)
                ).alias(f"nj_{name}")
            )
    stats = flat.agg(*aggs).collect()[0]

    # Structurize qualifying container columns: wrap single objects into
    # 1-element arrays, infer the element struct from a bounded sample,
    # re-parse as array<struct>.
    structurized: dict[str, StructType] = {}
    if structurize_arrays:
        for path, dtype in leaves:
            name = path.replace(".", "__")
            if not isinstance(dtype, (StringType, ArrayType)):
                continue
            if int(stats[f"n_{name}"]) == 0 or stats[f"nj_{name}"] != 0:
                continue
            wrapped = F.when(
                F.col(name).cast("string").startswith("["), F.col(name).cast("string")
            ).otherwise(F.concat(F.lit("["), F.col(name).cast("string"), F.lit("]")))
            sample = flat.select(wrapped.alias("w")).where(F.col("w").isNotNull())
            if infer_sample_rows is not None:
                sample = sample.limit(infer_sample_rows)
            # a JSON-lines read of '[{...},{...}]' yields one record per
            # element, so this infers the ELEMENT schema directly
            elem_schema = _read_json_strings(sample, F.col("w")).schema
            if not (isinstance(elem_schema, StructType) and elem_schema.fields):
                continue  # array of scalars: stays UnstructuredArray
            corrupt = spark.conf.get(
                "spark.sql.columnNameOfCorruptRecord", "_corrupt_record"
            )
            if all(f.name == corrupt for f in elem_schema.fields):
                # scalar arrays like [1, 2]: inference yields only the
                # corrupt-record column; re-parsing as array<struct> would
                # null every row — keep the leaf UnstructuredArray
                continue
            flat = flat.withColumn(
                name, F.from_json(wrapped, ArrayType(elem_schema))
            )
            structurized[name] = elem_schema

    tree_rows = []
    for path, dtype in leaves:
        name = path.replace(".", "__")
        if name in structurized:
            tree_rows.append((path, T_SARRAY, int(stats[f"n_{name}"])))
            continue
        if (
            isinstance(dtype, StringType)
            and int(stats[f"n_{name}"]) > 0
            and stats[f"nj_{name}"] == 0
        ):
            # inference widened mixed [..]/{..} shapes to a string column;
            # every value is a JSON container -> clp_s stores these in the
            # array dict (UnstructuredArray), searchable by element
            tree_rows.append((path, T_ARRAY, int(stats[f"n_{name}"])))
            continue
        has_space = (
            bool(stats[f"sp_{name}"])
            if isinstance(dtype, StringType)
            else False
        )
        tree_rows.append((path, _node_type(dtype, has_space), int(stats[f"n_{name}"])))
    if structurized:
        # child presence per structured-array element field (one agg pass)
        def _has_field(fname):
            return lambda e: e[fname].isNotNull()

        child_aggs = [
            F.sum(
                F.when(F.exists(F.col(name), _has_field(f.name)), 1).otherwise(0)
            ).alias(f"ch_{name}__{f.name}")
            for name, elem in structurized.items()
            for f in elem.fields
        ]
        child_stats = flat.agg(*child_aggs).collect()[0]
        for name, elem in structurized.items():
            for f in elem.fields:
                tree_rows.append(
                    (
                        f"{name.replace('__', '.')}.{f.name}",
                        _node_type(f.dataType, False),
                        int(child_stats[f"ch_{name}__{f.name}"] or 0),
                    )
                )
    schema_tree = local_table(
        spark, tree_rows, "path string, node_type string, n_present long"
    )

    # Schema ID: dense ID per distinct present-leaf set.
    present = F.concat_ws(
        ",",
        F.array_compact(
            F.array(
                *[
                    F.when(F.col(p.replace(".", "__")).isNotNull(), F.lit(p))
                    for p, _ in leaves
                ]
            )
        ),
    ).alias("schema_key")
    keyed = flat.withColumn("schema_key", present)

    from clp_core_spark.operators.dictionaries import assign_dense_ids

    schema_ids = assign_dense_ids(keyed, "schema_key", "schema_id")
    schema_map = (
        keyed.groupBy("schema_key")
        .agg(F.count("*").alias("n_records"))
        .join(F.broadcast(schema_ids), "schema_key")
        .select("schema_key", "schema_id", "n_records")
    )
    encoded = keyed.join(F.broadcast(schema_ids), "schema_key").drop("schema_key")
    return encoded, schema_tree, schema_map
