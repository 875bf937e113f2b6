"""Checkpoint/resume semantics of the ingest pipeline: partial runs
resume where they stopped, dictionaries stay consistent across epochs,
and re-runs are idempotent."""

import pyspark.sql.functions as F
import pytest

from clp_core_spark.plans.pipeline import IngestPipeline
from clp_core_spark.sources.transcripts import generate_transcripts


@pytest.fixture()
def work_root(tmp_path):
    return str(tmp_path / "work")


@pytest.fixture(scope="module")
def input_df(spark):
    return generate_transcripts(spark, num_turns=3000, seed=42).persist()


def test_partial_then_resume(spark, input_df, work_root):
    pipe = IngestPipeline(spark, work_root, num_partitions=4)
    pipe.run(input_df, partitions=[0, 1])
    assert pipe.done_partitions() == {0, 1}

    ledger = pipe.run(input_df)  # resume: only 2 and 3 run
    assert {r["partition_id"] for r in ledger.collect()} == {0, 1, 2, 3}
    assert sum(r["n_rows"] for r in ledger.collect()) == input_df.count()


def test_rerun_is_noop_and_idempotent(spark, input_df, work_root):
    pipe = IngestPipeline(spark, work_root, num_partitions=4)
    pipe.run(input_df)
    before = sorted(
        map(tuple, spark.read.parquet(f"{work_root}/sinks/by_role")
            .groupBy("role").count().collect())
    )
    ledger_rows = pipe.ledger().count()
    pipe.run(input_df)  # everything done -> no new ledger rows
    assert pipe.ledger().count() == ledger_rows
    after = sorted(
        map(tuple, spark.read.parquet(f"{work_root}/sinks/by_role")
            .groupBy("role").count().collect())
    )
    assert before == after


def test_dict_ids_consistent_across_epochs(spark, input_df, work_root):
    """An ID assigned in epoch 0 must survive later epochs unchanged, and
    all IDs stay dense and unique (mirrors CLP's monotone dict counters)."""
    pipe = IngestPipeline(spark, work_root, num_partitions=4)
    pipe.run(input_df, partitions=[0])
    first = {
        r["logtype"]: r["logtype_id"]
        for r in spark.read.parquet(f"{work_root}/dicts/logtype").collect()
    }
    pipe.run(input_df)
    final = {
        r["logtype"]: r["logtype_id"]
        for r in spark.read.parquet(f"{work_root}/dicts/logtype").collect()
    }
    for k, v in first.items():
        assert final[k] == v
    ids = sorted(final.values())
    assert ids == list(range(len(ids)))

    # var dict (hash mode): IDs are unique and deterministic per string
    rows = spark.read.parquet(f"{work_root}/dicts/var").collect()
    var_ids = [r["var_id"] for r in rows]
    assert len(set(var_ids)) == len(var_ids)
    import pyspark.sql.functions as F2

    check = (
        spark.read.parquet(f"{work_root}/dicts/var")
        .where(F2.xxhash64("var_str") != F2.col("var_id"))
        .count()
    )
    assert check == 0


def test_dict_budget_rollover(spark, input_df, work_root):
    """A low dictionary budget must split a partition into sub-epochs —
    CLP rolls a new archive when dictionaries exceed the target
    (clp/clp/compression.cpp:137-140) — with one ledger row per sub-epoch
    and decode equality across the boundary."""
    from clp_core_spark.operators import encode_pipeline

    pipe = IngestPipeline(spark, work_root, num_partitions=2, dict_budget=200)
    pipe.run(input_df)
    rows = pipe.ledger().collect()
    per_part: dict[int, list] = {}
    for r in rows:
        per_part.setdefault(r["partition_id"], []).append(r)
    assert any(len(v) > 1 for v in per_part.values()), "no split happened"
    for v in per_part.values():
        assert len(v) == v[0]["n_subs"]
        assert sorted(r["sub_epoch"] for r in v) == list(range(len(v)))
    assert sum(r["n_rows"] for r in rows) == input_df.count()
    assert pipe.done_partitions() == {0, 1}

    # decode equality across sub-epoch boundaries: IDs assigned in earlier
    # sub-epochs must decode rows written in later ones
    routed = spark.read.parquet(f"{work_root}/sinks/by_role")
    lt = spark.read.parquet(f"{work_root}/dicts/logtype")
    vd = spark.read.parquet(f"{work_root}/dicts/var")
    dec = encode_pipeline.decode(routed, lt, vd, ["conv_id", "turn_idx"])
    joined = dec.join(
        input_df.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    )
    assert joined.where(F.col("decoded_text") != F.col("text")).count() == 0


def test_ledger_time_pruned_search(spark, work_root):
    """pipeline.search must consult the ledger's input_min/max_ts and list
    only overlapping epoch directories (query_scheduler.py:369-397
    archive pruning), while returning exactly the rows a full scan with
    the same ts filter returns."""
    from datetime import timezone

    from clp_core_spark.functions.wildcard import wildcard_to_regex
    from clp_core_spark.sources.transcripts import generate_transcripts

    t = generate_transcripts(spark, num_turns=3000, seed=7)
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int")
    # shift bucket-1 conversations 10 years out: epoch time ranges disjoint
    shifted = t.withColumn(
        "ts",
        F.when(bucket == 1, F.col("ts") + F.expr("INTERVAL 3650 DAYS"))
        .otherwise(F.col("ts")),
    ).persist()
    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(shifted)

    p0 = [r for r in pipe.ledger().collect() if r["partition_id"] == 0][0]

    def ms(dt):
        return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)

    lo, hi = ms(p0["input_min_ts"]), ms(p0["input_max_ts"])
    assert pipe.epochs_for_range(lo, hi) == [0]
    assert pipe.epochs_for_range() == [0, 1]

    pruned = pipe.read_sink("role", epochs=[0])
    files = pruned.inputFiles()
    assert files and all("epoch_part=0" in f for f in files)

    got = {
        (r["conv_id"], r["turn_idx"])
        for r in pipe.search("heartbeat", ts_begin_ms=lo, ts_end_ms=hi).collect()
    }
    expected = {
        (r["conv_id"], r["turn_idx"])
        for r in shifted.filter(
            F.col("text").rlike(wildcard_to_regex("*heartbeat*"))
            & F.unix_millis("ts").between(lo, hi)
        ).select("conv_id", "turn_idx").collect()
    }
    assert got == expected and len(got) > 0
    shifted.unpersist()


def test_epoch_scoped_dicts_concurrent_ingest(spark, input_df, work_root):
    """dict_scope='epoch' gives each epoch partition its own
    self-contained dictionaries (CLP's per-archive logtype.dict/var.dict,
    clp/streaming_archive/Constants.hpp:7-15), so partitions are
    order-independent and can run CONCURRENTLY; search fans out per
    archive with its dictionaries and unions hits."""
    from clp_core_spark.functions.wildcard import wildcard_to_regex
    from clp_core_spark.operators import encode_pipeline

    pipe = IngestPipeline(
        spark, work_root, num_partitions=4, dict_scope="epoch", max_concurrent=4
    )
    pipe.run(input_df)
    assert pipe.done_partitions() == {0, 1, 2, 3}
    routed = spark.read.parquet(f"{work_root}/sinks/by_role")
    assert routed.count() == input_df.count()

    # per-epoch dictionaries exist and decode THEIR epoch's rows exactly
    for e in range(4):
        lt = spark.read.parquet(f"{work_root}/dicts/epoch_part={e}/logtype")
        vd = spark.read.parquet(f"{work_root}/dicts/epoch_part={e}/var")
        part = routed.filter(F.col("epoch_part") == e)
        dec = encode_pipeline.decode(part, lt, vd, ["conv_id", "turn_idx"])
        joined = dec.join(
            input_df.select("conv_id", "turn_idx", "text"),
            ["conv_id", "turn_idx"],
        )
        assert joined.where(F.col("decoded_text") != F.col("text")).count() == 0

    # per-archive search union equals the direct text scan
    got = {
        (r["conv_id"], r["turn_idx"])
        for r in pipe.search("heartbeat").collect()
    }
    expected = {
        (r["conv_id"], r["turn_idx"])
        for r in input_df.filter(
            F.col("text").rlike(wildcard_to_regex("*heartbeat*"))
        ).select("conv_id", "turn_idx").collect()
    }
    assert got == expected and len(got) > 0


def test_concurrent_requires_epoch_scope(spark, work_root):
    with pytest.raises(ValueError, match="dict_scope"):
        IngestPipeline(spark, work_root, max_concurrent=4)


def test_concurrent_crash_resume(spark, input_df, work_root, monkeypatch):
    """A partition failing mid-flight under concurrent ingest must not
    corrupt the others: committed partitions stay committed, the resume
    re-runs only the failed one, and routed rows are exactly-once."""
    orig = IngestPipeline._run_sub_epoch

    def boom(self, part_df, partition_id, sub_epoch, n_subs, is_parsed=False):
        if partition_id == 2:
            raise RuntimeError("simulated crash p2")
        return orig(self, part_df, partition_id, sub_epoch, n_subs,
                    is_parsed=is_parsed)

    monkeypatch.setattr(IngestPipeline, "_run_sub_epoch", boom)
    pipe = IngestPipeline(
        spark, work_root, num_partitions=4, dict_scope="epoch", max_concurrent=4
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(input_df)
    done_before = pipe.done_partitions()
    assert 2 not in done_before and done_before  # others committed

    monkeypatch.setattr(IngestPipeline, "_run_sub_epoch", orig)
    pipe2 = IngestPipeline(
        spark, work_root, num_partitions=4, dict_scope="epoch", max_concurrent=4
    )
    pipe2.run(input_df)
    assert pipe2.done_partitions() == {0, 1, 2, 3}
    routed = spark.read.parquet(f"{work_root}/sinks/by_role")
    assert routed.count() == input_df.count()
    assert (
        routed.select("conv_id", "turn_idx")
        .exceptAll(input_df.select("conv_id", "turn_idx"))
        .count()
        == 0
    )


@pytest.mark.parametrize("scope", ["global", "epoch"])
def test_pipeline_decompress_to_text(spark, input_df, work_root, tmp_path, scope):
    """`clp x` over the pipeline's own archive: the ordered text write
    must equal the original corpus under (conv_id, turn_idx) ordering —
    with global AND per-epoch dictionaries."""
    import glob

    pipe = IngestPipeline(
        spark, work_root, num_partitions=4, dict_scope=scope,
        max_concurrent=4 if scope == "epoch" else 1,
    )
    pipe.run(input_df)
    out = str(tmp_path / f"xtext_{scope}")
    pipe.decompress_to_text(out, partitions=8)

    back: list[str] = []
    for f in sorted(glob.glob(out + "/part-*")):
        with open(f) as fh:
            back.extend(fh.read().splitlines())
    want_rows = input_df.orderBy("conv_id", "turn_idx").select("text").collect()
    want = "\n".join(r["text"] for r in want_rows)
    assert "\n".join(back) == want


def test_per_pattern_ts_index_prunes_gaps(spark, work_root):
    """The timestamp index keeps min/max PER PATTERN (clp_s
    TimestampEntry.hpp:58-95): a query range falling in the gap between
    two patterns' spans is proven false and scans ZERO files, even though
    it overlaps the epoch's union [min, max] (which the coarse ledger
    span could not prune)."""
    from datetime import timezone

    from clp_core_spark.sources.transcripts import generate_transcripts

    def ms(dt):
        return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)

    t = generate_transcripts(spark, num_turns=2000, seed=11)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    src = t.withColumn(
        "pattern_id", F.when(half, F.lit(3)).otherwise(F.lit(7))
    ).withColumn(
        "ts",
        F.when(half, F.col("ts")).otherwise(
            F.col("ts") + F.expr("INTERVAL 3650 DAYS")
        ),
    )
    pipe = IngestPipeline(spark, work_root, num_partitions=1)
    pipe.run(src)

    idx = {
        r["pattern_id"]: (r["min_ts"], r["max_ts"])
        for r in pipe.ts_index().collect()
    }
    assert set(idx) == {3, 7}
    gap_lo = ms(idx[3][1]) + 10_000
    gap_hi = ms(idx[7][0]) - 10_000
    assert gap_lo < gap_hi, "fixture must leave a gap between pattern spans"

    # the epoch's UNION span overlaps the gap — coarse pruning would scan
    led = pipe.ledger().collect()[0]
    assert ms(led["input_min_ts"]) <= gap_lo <= ms(led["input_max_ts"])
    # ... but no individual pattern span does: zero epochs, zero files
    assert pipe.epochs_for_range(gap_lo, gap_hi) == []
    assert pipe.read_sink("role", epochs=[]).inputFiles() == []
    assert pipe.search(
        "heartbeat", ts_begin_ms=gap_lo, ts_end_ms=gap_hi
    ).count() == 0

    # a range covering only pattern 3 still selects the epoch
    assert pipe.epochs_for_range(ms(idx[3][0]), ms(idx[3][1])) == [0]


def test_crash_resume_pins_n_subs(spark, input_df, work_root, monkeypatch):
    """After a crash mid-partition, committed sub-epochs already grew the
    dictionaries, so recomputing n_subs from the (now smaller) dictionary
    delta would change the pmod row split and duplicate/drop rows. The
    resume must reuse the COMMITTED n_subs."""
    pipe = IngestPipeline(spark, work_root, num_partitions=2, dict_budget=200)
    orig = IngestPipeline._run_sub_epoch

    def boom(self, part_df, partition_id, sub_epoch, n_subs, is_parsed=False):
        if sub_epoch >= 1:
            raise RuntimeError("simulated crash")
        return orig(self, part_df, partition_id, sub_epoch, n_subs,
                    is_parsed=is_parsed)

    monkeypatch.setattr(IngestPipeline, "_run_sub_epoch", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(input_df, partitions=[0])
    committed = pipe.ledger().collect()
    assert len(committed) == 1 and committed[0]["sub_epoch"] == 0
    k = committed[0]["n_subs"]
    assert k > 1, "fixture must force a sub-epoch split"

    monkeypatch.setattr(IngestPipeline, "_run_sub_epoch", orig)
    pipe2 = IngestPipeline(spark, work_root, num_partitions=2, dict_budget=200)
    pipe2.run(input_df, partitions=[0])
    rows = [r for r in pipe2.ledger().collect() if r["partition_id"] == 0]
    assert {r["n_subs"] for r in rows} == {k}, "resume recomputed n_subs"
    assert sorted(r["sub_epoch"] for r in rows) == list(range(k))

    part0 = input_df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    routed = spark.read.parquet(f"{work_root}/sinks/by_role")
    assert routed.count() == part0.count(), "rows duplicated or dropped"
    assert (
        routed.select("conv_id", "turn_idx")
        .exceptAll(part0.select("conv_id", "turn_idx"))
        .count()
        == 0
    )


def test_search_over_non_overlapping_range_is_empty(spark, input_df, work_root):
    """A query time range overlapping no ledger epoch selects zero sink
    partitions and must return an EMPTY result, not crash on a zero-path
    read (tablestore empty partition_filter short-circuit)."""
    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df)
    far_future = 4102444800000  # 2100-01-01 in epoch ms
    assert pipe.epochs_for_range(far_future, far_future + 1000) == []
    out = pipe.search("heartbeat", ts_begin_ms=far_future,
                      ts_end_ms=far_future + 1000)
    assert out.count() == 0


def test_routed_rows_match_input(spark, input_df, work_root):
    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df)
    routed = spark.read.parquet(f"{work_root}/sinks/by_role")
    assert routed.count() == input_df.count()
    # stable (conv_id, turn_idx) pairs survive routing exactly once
    assert (
        routed.select("conv_id", "turn_idx").exceptAll(
            input_df.select("conv_id", "turn_idx")
        ).count()
        == 0
    )
    m = pipe.metrics()
    assert m["rows"] == input_df.count() and m["partitions_done"] == 2


def test_legacy_epochs_without_ts_index_stay_searchable(spark, input_df, work_root):
    """A work dir whose early epochs predate the per-pattern timestamp
    index (ledger rows only) must keep those epochs searchable via the
    coarse ledger span when NEWER epochs have index rows."""
    import shutil

    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df, partitions=[0])
    # simulate a pre-index work dir for partition 0
    shutil.rmtree(f"{work_root}/ts_index")
    pipe.run(input_df)  # partition 1 writes index rows; 0 has none

    idx = pipe.ts_index()
    assert idx is not None
    assert {r["partition_id"] for r in idx.collect()} == {1}
    # both epochs must still be selectable (0 via the ledger fallback)
    assert pipe.epochs_for_range() == [0, 1]
    assert pipe.search("heartbeat").count() > 0


def test_pipeline_count_by_time(spark, input_df, work_root):
    """clo --count-by-time over the archive: bucketed match counts equal
    the direct-scan bucketing of the same matches."""
    from clp_core_spark.functions.wildcard import wildcard_to_regex

    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df)
    got = {
        (r["bucket_ts"], r["count"])
        for r in pipe.count_by_time("heartbeat", bucket_ms=3_600_000).collect()
    }
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    want = {
        (r["b"], r["n"])
        for r in input_df.filter(
            F.col("text").rlike(wildcard_to_regex("*heartbeat*"))
        )
        .groupBy((ms - F.pmod(ms, F.lit(3_600_000))).alias("b"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and got


def test_open_archive_follows_commits_on_the_root(spark, input_df, work_root, tmp_path):
    """A pipeline opens the archive once per ledger version: a commit by
    another pipeline on the same root, or the root removed and
    re-ingested, drops what it opened instead of serving stale state."""
    import glob
    import shutil

    from clp_core_spark.functions.wildcard import wildcard_to_regex

    a = IngestPipeline(spark, work_root, num_partitions=2)
    a.run(input_df, partitions=[0])
    assert a.epochs_for_range() == [0]
    assert a.search("heartbeat").count() > 0

    IngestPipeline(spark, work_root, num_partitions=2).run(input_df, partitions=[1])
    assert a.epochs_for_range() == [0, 1]
    got = {(r["conv_id"], r["turn_idx"]) for r in a.search("heartbeat").collect()}
    assert got == {
        (r["conv_id"], r["turn_idx"])
        for r in input_df.filter(F.col("text").rlike(wildcard_to_regex("*heartbeat*")))
        .select("conv_id", "turn_idx").collect()
    }

    # a fresh job on the same root: removed, then ingested again
    a.read_sink("role")  # opens the sink a decompress reads
    shutil.rmtree(work_root)
    IngestPipeline(spark, work_root, num_partitions=2).run(input_df)
    out = str(tmp_path / "xtext")
    a.decompress_to_text(out, partitions=4)
    back: list[str] = []
    for f in sorted(glob.glob(out + "/part-*")):
        with open(f) as fh:
            back.extend(fh.read().splitlines())
    want = input_df.orderBy("conv_id", "turn_idx").select("text").collect()
    assert "\n".join(back) == "\n".join(r["text"] for r in want)


def test_search_on_unchanged_archive_reuses_the_open(spark, input_df, work_root):
    """Once a search has opened the archive, building the same search
    again reads no ledger, index, sink schema or dictionary: zero Spark
    jobs."""
    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    pipe.search("heartbeat")
    before = int(scheduler.nextJobId())
    pipe.search("heartbeat")
    assert int(scheduler.nextJobId()) == before


def test_open_state_one_object_per_key_under_threads(spark, work_root):
    """Epoch-scope search opens archives from driver threads: racing
    first uses of one key must all get the one object that was stored."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    pipe = IngestPipeline(spark, work_root, num_partitions=4, dict_scope="epoch")
    barrier = threading.Barrier(16, timeout=30)

    def build():
        time.sleep(0.01)  # a build launches Spark jobs: racers overlap
        return object()

    def use(i):
        barrier.wait()
        return i % 4, pipe._opened(("k", i % 4), build)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            got = list(pool.map(use, range(64), timeout=60))
    finally:
        sys.setswitchinterval(old)
    for k in range(4):
        assert len({id(v) for key, v in got if key == k}) == 1
