"""Structured Streaming over the ingest pipeline.

The reference's real-time path is the IR stream: logging libraries emit
events incrementally and archives are built from them later
(clp/ir/LogEventSerializer.cpp, clp/clp/FileCompressor.cpp:438-524), by
the same archive writer as a file compression. The Spark-native
equivalent is a file/Kafka stream of turns processed in micro-batches:

- ``route_stream``: foreachBatch commits each micro-batch as one epoch
  of an ``IngestPipeline`` archive (``IngestPipeline.commit_batch``), the
  batch ingest's own code: the three sinks, the dictionaries growing
  across batches (CLP's dictionaries are append-only across an
  archive's lifetime too) and a ledger row with the batch's per-pattern
  time spans, written as the batch's own commit file. The commit file
  makes a batch exactly-once: the stream checkpoint replays an
  uncommitted batch, and a batch whose commit file exists is skipped,
  without reading any other batch's (in a stream begun before commit
  files: whose row Spark's ledger files hold). The archive is
  searchable through ``IngestPipeline(spark, work_root)``.
- ``count_by_time_stream``: CLP's count-by-time bucketing
  (clp/clo/OutputHandler.hpp:269-271) as a watermarked tumbling window —
  late turns beyond the watermark are dropped, matching the reducer's
  upsert-then-finalize behavior.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from clp_core_spark.plans.pipeline import IngestPipeline


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of transcript turns (parquet directory that
    producers append files to)."""
    reader = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def count_by_time_stream(
    stream: DataFrame,
    bucket: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window count (append-mode safe)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), bucket).alias("bucket"))
        .agg(F.count("*").alias("count"))
        .select(
            F.col("bucket.start").alias("bucket_start"),
            F.col("bucket.end").alias("bucket_end"),
            "count",
        )
    )


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content digest (the same
    64-bit xxhash the batch exact_dedup groups on) was already seen,
    with per-digest state evicted once the event-time watermark passes
    it (``dropDuplicatesWithinWatermark``) — state size is bounded by
    the duplicate-arrival horizon, not the stream's lifetime, the only
    exact-dedup contract that survives an unbounded 10^12-turn stream.

    Semantics vs batch: the stream keeps the FIRST ARRIVAL per digest
    (batch exact_dedup keeps the min-id row — on a stream the first
    arrival is the only choice that needs no retraction), and two
    duplicates more than ``watermark`` apart in event time are NOT
    collapsed. At scale the periodic batch dedup over at-rest data is
    the completeness pass; the stream guards the ingest window."""
    return (
        stream.withColumn("digest", F.xxhash64(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )


SESSION_SCHEMA = (
    "conv_id string, session_start_ms long, session_end_ms long, n_turns long"
)
# ALL open sessions (not just the latest): bounded by the watermark
# horizon / gap ratio, since any session with last + gap below the
# watermark is emitted and dropped from state
_SESSION_STATE_SCHEMA = "starts array<long>, lasts array<long>, ns array<long>"


def sessionize_stream(
    stream: DataFrame,
    gap_ms: int = 300_000,
    watermark: str = "10 minutes",
    key_col: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator: per-conversation SESSIONIZATION with
    ``applyInPandasWithState`` — the Spark-native shape for operators the
    built-in windowed aggs can't express (a session has a data-dependent
    extent: it closes when the NEXT turn is more than ``gap_ms`` away).

    State per conversation = EVERY still-open session (parallel arrays
    of start/last/count), carried across micro-batches. Each batch
    builds gaps-and-islands over its own (sorted) turns, interval-merges
    them with the open set, then emits exactly the sessions the
    watermark has PROVEN closed: a session with
    ``last + gap_ms <= watermark`` can never be extended, because any
    row that would extend it has ``ts <= last + gap_ms <= watermark``
    and is dropped as late before reaching the operator. Everything
    else stays in state (bounded by watermark-horizon / gap), with an
    event-time timeout at the earliest provable close so idle keys
    flush without more data. This makes the operator EXACTLY equivalent
    to the batch gaps-and-islands oracle under ANY within-watermark
    disorder — late rows merge wherever they fall, pull session starts
    back, bridge two open sessions into one, or open earlier sessions;
    rows beyond the watermark are dropped (same lateness contract as
    count_by_time_stream).

    Output (append mode): one row per CLOSED session —
    (conv_id, session_start_ms, session_end_ms, n_turns)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def assemble(key, pdfs, state: GroupState):
        import pandas as pd

        cols = ["conv_id", "session_start_ms", "session_end_ms", "n_turns"]
        open_iv: list[tuple[int, int, int]] = (
            [tuple(int(x) for x in iv) for iv in zip(*state.get)]
            if state.exists
            else []
        )
        if not state.hasTimedOut:
            parts = [pdf for pdf in pdfs if len(pdf)]
            ts_sorted = (
                pd.concat(parts, ignore_index=True)["_ts_ms"]
                .sort_values()
                .astype("int64")
                .to_numpy()
                if parts
                else []
            )
            # gaps-and-islands over this batch's sorted rows
            for t in ts_sorted:
                t = int(t)
                if open_iv and t - open_iv[-1][1] <= gap_ms and t >= open_iv[-1][0]:
                    s, last, n = open_iv[-1]
                    open_iv[-1] = (s, max(last, t), n + 1)
                else:
                    open_iv.append((t, t, 1))
            # interval-merge batch islands with the carried open set
            open_iv.sort(key=lambda iv: iv[0])
            merged: list[tuple[int, int, int]] = []
            for s, last, n in open_iv:
                if merged and s - merged[-1][1] <= gap_ms:
                    ps, plast, pn = merged[-1]
                    merged[-1] = (ps, max(plast, last), pn + n)
                else:
                    merged.append((s, last, n))
            open_iv = merged
        wm = state.getCurrentWatermarkMs()
        # STRICT <: Spark drops late rows with ts < watermark, so a row
        # with ts == wm can still arrive — a session whose last+gap
        # equals wm could legally be extended by it and is NOT yet
        # provably closed (emitting it would split one oracle session
        # into two)
        closed = [iv for iv in open_iv if iv[1] + gap_ms < wm]
        still_open = [iv for iv in open_iv if iv[1] + gap_ms >= wm]
        if still_open:
            state.update((
                [iv[0] for iv in still_open],
                [iv[1] for iv in still_open],
                [iv[2] for iv in still_open],
            ))
            # alarm at the earliest provable close; must sit strictly
            # above the current watermark or Spark rejects it
            state.setTimeoutTimestamp(
                max(min(iv[1] + gap_ms for iv in still_open), wm + 1)
            )
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            [(key[0], s, last, n) for s, last, n in closed], columns=cols
        )

    return (
        stream.withColumn(
            "_ts_ms", F.unix_millis(F.col(ts_col).cast("timestamp"))
        )
        .withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            assemble,
            SESSION_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def route_stream(
    spark: SparkSession,
    stream: DataFrame,
    work_root: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the ingest stream: micro-batch N commits as epoch N of the
    archive under ``work_root``; the stream checkpoints under it too."""
    pipe = IngestPipeline(spark, work_root, table_mode="parquet")
    writer = (
        stream.writeStream.foreachBatch(pipe.commit_batch)
        .option("checkpointLocation", f"{work_root}/checkpoint")
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
