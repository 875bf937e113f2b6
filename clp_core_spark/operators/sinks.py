"""Reconstruction sinks: decompress-to-text and JSON re-serialization.

CLP analogs: FileDecompressor (clp/clp/FileDecompressor.cpp:1-77) writes
original log files back out; JsonConstructor (clp_s/JsonConstructor.cpp:
1-187) re-serializes records, optionally in original log order via the
log_event_idx metadata column.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from clp_core_spark.operators import encode_pipeline


def decompress_to_text(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    out_path: str,
    key_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    partitions: int | None = None,
) -> None:
    """Decode every row and write plain text lines in stable global order
    (``write_ordered_text``): the part files read back in filename order
    equal the original corpus under (conv_id, turn_idx) ordering, with no
    single-task bottleneck (FileDecompressor writes one file at a time; a
    distributed sink must not)."""
    key_cols = key_cols or ["conv_id", "turn_idx"]
    order_cols = order_cols or key_cols
    decoded = encode_pipeline.decode(encoded, logtype_dict, var_dict, key_cols)
    write_ordered_text(decoded, out_path, order_cols, partitions=partitions)


def write_ordered_text(
    decoded: DataFrame,
    out_path: str,
    order_cols: list[str],
    text_col: str = "decoded_text",
    partitions: int | None = None,
) -> None:
    """Range-partitioned parallel text write in stable global order
    (partition i < partition i+1, filenames follow partition order).
    ``partitions`` fixes the range count; without it AQE sizes the
    ranges and merges only adjacent ones, so the order holds."""
    n = [partitions] if partitions else []
    (
        decoded.repartitionByRange(*n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .select(F.col(text_col).alias("value"))
        .write.mode("overwrite")
        .text(out_path)
    )


def reconstruct_log_files(
    messages: DataFrame,
    text_col: str = "text",
    out_col: str = "content",
    max_file_bytes: int = 256 << 20,
) -> DataFrame:
    """(path, msg_idx, ts, pattern_id, <text_col>) -> (path, content):
    re-insert each message's formatted timestamp at its pattern's
    position (timestamps.insert_timestamp) and join the messages back in
    ingest order — the FileDecompressor path
    (clp/clp/FileDecompressor.cpp:1-77 + TimestampPattern::
    insert_formatted_timestamp). Byte-exact inverse of
    sources.raw_text.read_log_files for '\\n'-delimited content the
    pattern bank parses, EXCEPT that a single trailing newline is not
    restored (the source consumes it); '\\r' in CRLF input is preserved
    as message content, so CRLF files do reconstruct byte-equal.

    One file is one group (collect_list holds a file's messages in one
    executor's memory) — the file is the parallelism unit here exactly as
    in the source. Files whose reconstructed content would exceed
    ``max_file_bytes`` raise at runtime instead of OOMing an executor:
    write multi-GB files per-message via decompress_to_text."""
    from clp_core_spark.functions.timestamps import insert_timestamp

    line = insert_timestamp(
        F.col(text_col), F.col("ts"), F.col("pattern_id")
    )
    per = messages.select("path", "msg_idx", line.alias("_line"))
    content = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("msg_idx", "_line"))),
            lambda s: s["_line"],
        ),
        "\n",
    )
    guarded = F.when(
        F.sum(F.octet_length("_line")) <= F.lit(max_file_bytes), content
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("reconstruct_log_files: file "),
                F.col("path"),
                F.lit(f" exceeds max_file_bytes={max_file_bytes};"
                      " use decompress_to_text for multi-GB files"),
            )
        )
    )
    return per.groupBy("path").agg(guarded.alias(out_col))


def reconstruct_json(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    key_cols: list[str],
    ordered: bool = True,
) -> DataFrame:
    """One JSON string per row (key cols + decoded text), optionally in
    original ingest order — JsonConstructor's ordered-decompression mode
    (clp_s/JsonConstructor.cpp:60-180)."""
    decoded = encode_pipeline.decode(encoded, logtype_dict, var_dict, key_cols)
    cols = [*key_cols, F.col("decoded_text").alias("text")]
    out = decoded.select(F.to_json(F.struct(*cols)).alias("json"), *key_cols)
    if ordered:
        out = out.orderBy(*key_cols)
    return out.select("json")
