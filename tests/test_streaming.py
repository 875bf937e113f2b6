"""Structured Streaming: incremental encode+route over a file stream and
watermarked count-by-time."""

import pyspark.sql.functions as F
import pytest

from clp_core_spark.sources.transcripts import generate_transcripts
from clp_core_spark.streaming import stream_pipeline as sp


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    inp = str(root / "input")
    full = generate_transcripts(spark, num_turns=2000, seed=42).persist()
    # two producer "appends"
    a = full.filter(F.crc32("conv_id") % 2 == 0)
    b = full.filter(F.crc32("conv_id") % 2 == 1)
    a.coalesce(1).write.mode("append").parquet(inp)
    b.coalesce(1).write.mode("append").parquet(inp)
    return {"input": inp, "root": str(root), "full": full}


def test_stream_encode_route_matches_batch(spark, staged):
    stream = sp.read_transcript_stream(spark, staged["input"], max_files_per_trigger=1)
    q = sp.route_stream(spark, stream, f"{staged['root']}/work")
    q.awaitTermination(300)

    routed = spark.read.parquet(f"{staged['root']}/work/sinks/by_role")
    assert routed.count() == staged["full"].count()
    # dictionary IDs are unique + dense despite growing across batches
    lt = spark.read.parquet(f"{staged['root']}/work/dicts/logtype")
    ids = sorted(r["logtype_id"] for r in lt.collect())
    assert ids == list(range(len(ids)))

    # per-sink counts equal the batch pipeline's
    want = dict(
        map(tuple, staged["full"].groupBy("role").count().collect())
    )
    got = dict(map(tuple, routed.groupBy("role").count().collect()))
    assert got == want


def test_stream_crash_before_commit_resumes_to_the_same_archive(
    spark, staged, monkeypatch
):
    """A stream that fails after its first batch's sink writes and before
    that batch's ledger commit resumes, on the same work root and
    checkpoint, to the archive of an uncrashed run: row-identical sinks,
    one ledger row with its spans per batch, and a search through
    IngestPipeline equal to a naive scan of the input."""
    from clp_core_spark.functions.wildcard import wildcard_to_regex
    from clp_core_spark.operators import route
    from clp_core_spark.plans.pipeline import IngestPipeline

    def run(work):
        stream = sp.read_transcript_stream(
            spark, staged["input"], max_files_per_trigger=1
        )
        sp.route_stream(spark, stream, work).awaitTermination(300)

    clean, crashed = f"{staged['root']}/clean", f"{staged['root']}/crashed"
    run(clean)
    commit = IngestPipeline._append_ledger

    def boom(self, row):
        if row["partition_id"] == 0:
            raise RuntimeError("simulated crash before commit")
        return commit(self, row)

    monkeypatch.setattr(IngestPipeline, "_append_ledger", boom)
    with pytest.raises(Exception, match="simulated crash before commit"):
        run(crashed)
    monkeypatch.setattr(IngestPipeline, "_append_ledger", commit)
    pipe = IngestPipeline(spark, crashed)
    assert pipe.done_partitions() == set()
    run(crashed)

    n = staged["full"].count()
    for kind in route.SINK_KINDS:
        want = spark.read.parquet(f"{clean}/sinks/by_{kind}")
        got = spark.read.parquet(f"{crashed}/sinks/by_{kind}")
        assert want.count() == got.count() == n, kind
        assert got.exceptAll(want).count() == 0, kind
    assert sorted(r["partition_id"] for r in pipe.ledger().collect()) == [0, 1]
    assert {
        r["partition_id"]
        for r in pipe.ledger().select("partition_id", F.explode("spans")).collect()
    } == {0, 1}
    hits = {(r["conv_id"], r["turn_idx"]) for r in pipe.search("heartbeat").collect()}
    naive = {
        (r["conv_id"], r["turn_idx"])
        for r in staged["full"]
        .filter(F.col("text").rlike(wildcard_to_regex("*heartbeat*")))
        .collect()
    }
    assert hits == naive and hits


def test_count_by_time_stream(spark, staged):
    stream = sp.read_transcript_stream(spark, staged["input"])
    agg = sp.count_by_time_stream(stream, bucket="1 hour", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("cbt")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["bucket_start"]: r["count"]
        for r in spark.sql("SELECT * FROM cbt").collect()
    }
    want = {
        r["bucket_start"]: r["count"]
        for r in staged["full"]
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.count("*").alias("count"))
        .collect()
    }
    assert got == want


def test_sessionize_stream_matches_batch_islands(spark, tmp_path):
    """The applyInPandasWithState sessionizer must emit exactly the
    sessions a batch gaps-and-islands computation produces, with state
    carried across micro-batches (one file per trigger) and the final
    open sessions flushed by the event-time timeout once a
    watermark-advancing sentinel lands."""
    from pyspark.sql import Window

    inp = str(tmp_path / "sess_input")
    gap_ms = 60_000
    base = 1_700_000_000_000
    # conv A: two sessions split by a 5-min gap spanning files;
    # conv B: one session whose turns arrive across both files
    rows_f1 = [
        ("A", 0, base + 0), ("A", 1, base + 10_000), ("A", 2, base + 20_000),
        ("B", 0, base + 5_000),
    ]
    rows_f2 = [
        ("A", 3, base + 320_000), ("A", 4, base + 330_000),
        ("B", 1, base + 40_000), ("B", 2, base + 95_000),
    ]
    flush_ts = base + 10_000_000  # >> last + gap + watermark
    rows_f3 = [("__flush__", 0, flush_ts)]

    def _write(rows):
        spark.createDataFrame(
            [(c, i, t) for c, i, t in rows], "conv_id string, turn_idx int, _ms long"
        ).select(
            "conv_id", "turn_idx",
            F.lit("user").alias("role"), F.lit("x").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_millis(F.col("_ms")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(inp)

    for rows in (rows_f1, rows_f2, rows_f3):
        _write(rows)

    stream = sp.read_transcript_stream(spark, inp, max_files_per_trigger=1)
    sess = sp.sessionize_stream(stream, gap_ms=gap_ms, watermark="1 minute")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["conv_id"], r["session_start_ms"], r["session_end_ms"], r["n_turns"])
        for r in spark.sql(
            "SELECT * FROM sessions WHERE conv_id != '__flush__'"
        ).collect()
    }

    # batch oracle: gaps-and-islands over the same rows
    all_rows = [(c, i, t) for rows in (rows_f1, rows_f2) for c, i, t in rows]
    df = spark.createDataFrame(all_rows, "conv_id string, turn_idx int, ms long")
    w = Window.partitionBy("conv_id").orderBy("ms")
    boundary = (
        F.when(F.lag("ms").over(w).isNull(), 1)
        .when(F.col("ms") - F.lag("ms").over(w) > gap_ms, 1)
        .otherwise(0)
    )
    islands = df.withColumn("_b", boundary).withColumn(
        "_sess", F.sum("_b").over(w)
    )
    want = {
        (r["conv_id"], r["session_start_ms"], r["session_end_ms"], r["n_turns"])
        for r in islands.groupBy("conv_id", "_sess")
        .agg(
            F.min("ms").alias("session_start_ms"),
            F.max("ms").alias("session_end_ms"),
            F.count("*").alias("n_turns"),
        )
        .collect()
    }
    assert got == want

def test_sessionize_stream_late_rows_within_watermark(spark, tmp_path):
    """Out-of-order-within-watermark rows must merge where they FALL,
    not forward into the open session: a row within gap_ms BEFORE the
    open session's start pulls session_start_ms back (min), and rows
    more than gap_ms earlier form their own earlier session — the batch
    gaps-and-islands oracle disagreed with the r4 forward-merge on both
    cases."""
    from pyspark.sql import Window

    inp = str(tmp_path / "late_input")
    gap_ms = 60_000
    base = 1_700_000_000_000
    # file1 opens a session at +600s; file2 delivers LATE rows: two at
    # +0/+10s (>gap earlier: their own session) and one at +570s
    # (within gap before the open start: start must min to +570s)
    rows_f1 = [("C", 0, base + 600_000), ("C", 1, base + 610_000)]
    rows_f2 = [("C", 2, base + 0), ("C", 3, base + 10_000),
               ("C", 4, base + 570_000)]
    rows_f3 = [("__flush__", 0, base + 100_000_000)]

    def _write(rows):
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, _ms long"
        ).select(
            "conv_id", "turn_idx",
            F.lit("user").alias("role"), F.lit("x").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_millis(F.col("_ms")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(inp)

    for rows in (rows_f1, rows_f2, rows_f3):
        _write(rows)

    stream = sp.read_transcript_stream(spark, inp, max_files_per_trigger=1)
    # 1h watermark keeps the file2 rows inside the lateness contract
    sess = sp.sessionize_stream(stream, gap_ms=gap_ms, watermark="1 hour")
    q = (
        sess.writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["conv_id"], r["session_start_ms"], r["session_end_ms"], r["n_turns"])
        for r in spark.sql(
            "SELECT * FROM late_sessions WHERE conv_id != '__flush__'"
        ).collect()
    }
    # batch gaps-and-islands oracle over the same rows
    all_rows = [(c, i, t) for rows in (rows_f1, rows_f2) for c, i, t in rows]
    df = spark.createDataFrame(all_rows, "conv_id string, turn_idx int, ms long")
    w = Window.partitionBy("conv_id").orderBy("ms")
    boundary = (
        F.when(F.lag("ms").over(w).isNull(), 1)
        .when(F.col("ms") - F.lag("ms").over(w) > gap_ms, 1)
        .otherwise(0)
    )
    islands = df.withColumn("_b", boundary).withColumn(
        "_sess", F.sum("_b").over(w)
    )
    want = {
        (r["conv_id"], r["session_start_ms"], r["session_end_ms"], r["n_turns"])
        for r in islands.groupBy("conv_id", "_sess")
        .agg(
            F.min("ms").alias("session_start_ms"),
            F.max("ms").alias("session_end_ms"),
            F.count("*").alias("n_turns"),
        )
        .collect()
    }
    assert want == {("C", base, base + 10_000, 2),
                    ("C", base + 570_000, base + 610_000, 3)}
    assert got == want


def test_sessionize_stream_exact_cross_batch_late_merge(spark, tmp_path):
    """EXACT event-time sessionization: an earlier session stays OPEN in
    state until the watermark proves it closed, so a later batch's late
    row (still within the watermark) merges into it instead of the
    session having been emitted prematurely. file1 opens a session at
    +600s; file2 delivers a late row at +0s (its own earlier session);
    file3 delivers +30s, which must EXTEND that earlier session to
    (0, 30s) — designs that emit the earlier session as soon as it is
    seen produce two fragments instead."""
    import pyspark.sql.functions as F

    inp = str(tmp_path / "exact_input")
    gap_ms = 60_000
    base = 1_700_000_000_000
    files = [
        [("C", 0, base + 600_000), ("C", 1, base + 610_000)],
        [("C", 2, base + 0)],
        [("C", 3, base + 30_000)],
        [("__flush__", 0, base + 100_000_000)],
    ]
    for rows in files:
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, _ms long"
        ).select(
            "conv_id", "turn_idx",
            F.lit("user").alias("role"), F.lit("x").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_millis(F.col("_ms")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(inp)

    stream = sp.read_transcript_stream(spark, inp, max_files_per_trigger=1)
    sess = sp.sessionize_stream(stream, gap_ms=gap_ms, watermark="1 hour")
    q = (
        sess.writeStream.format("memory")
        .queryName("exact_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["conv_id"], r["session_start_ms"], r["session_end_ms"], r["n_turns"])
        for r in spark.sql(
            "SELECT * FROM exact_sessions WHERE conv_id != '__flush__'"
        ).collect()
    }
    assert got == {("C", base, base + 30_000, 2),
                   ("C", base + 600_000, base + 610_000, 2)}


def test_dedup_stream_drops_within_watermark_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving within the watermark
    horizon are dropped (first arrival survives); distinct texts all
    pass; the surviving digest set equals the batch exact-dedup digest
    set over the same input."""
    import datetime as dt

    inp = str(tmp_path / "in")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def t(sec):
        return base + dt.timedelta(seconds=sec)

    # batch 1: three distinct texts, one in-batch duplicate
    spark.createDataFrame(
        [
            ("c1", 0, "user", "alpha beta", "none", t(0)),
            ("c1", 1, "agent", "gamma delta", "none", t(10)),
            ("c2", 0, "user", "alpha beta", "none", t(20)),  # dup of row 1
            ("c2", 1, "agent", "epsilon", "none", t(30)),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(inp)
    # batch 2 (second file => second micro-batch): a cross-batch
    # duplicate within the watermark plus one new text
    spark.createDataFrame(
        [
            ("c3", 0, "user", "gamma delta", "none", t(40)),  # cross-batch dup
            ("c3", 1, "agent", "zeta", "none", t(50)),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(inp)

    stream = sp.read_transcript_stream(spark, inp, max_files_per_trigger=1)
    out = sp.dedup_stream(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM dedup_stream_t").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha beta", "epsilon", "gamma delta", "zeta"]
    # first arrival survives: alpha beta's survivor is the c1 row
    survivor = {r["text"]: (r["conv_id"], r["turn_idx"]) for r in rows}
    assert survivor["alpha beta"] == ("c1", 0)
    assert survivor["gamma delta"] == ("c1", 1)
    # digest set equals the batch exact-dedup digest set
    batch = spark.read.parquet(inp).select(
        F.xxhash64("text").alias("digest")
    ).distinct()
    assert {r["digest"] for r in rows} == {
        r["digest"] for r in batch.collect()
    }
