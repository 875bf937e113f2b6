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


def _spans(pipe: IngestPipeline):
    """The per-pattern spans of the ledger rows, one row each:
    (partition_id, sub_epoch, pattern_id, min_ts, max_ts)."""
    return pipe.ledger().select(
        "partition_id", "sub_epoch", F.explode("spans").alias("s")
    ).select("partition_id", "sub_epoch", "s.*")


def _make_legacy(spark, pipe: IngestPipeline, partition_id: int) -> None:
    """Rewrite a partition's ledger rows the way an older archive holds
    them: appended by Spark, with no spans or tags column."""
    import glob
    import os

    files = glob.glob(f"{pipe.ledger_path}/p{partition_id}-s*.parquet")
    old = spark.read.parquet(*files).drop("spans", "tags").localCheckpoint()
    for f in files:
        os.remove(f)
    old.write.mode("append").parquet(pipe.ledger_path)


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

    def boom(self, part_df, partition_id, sub_epoch, n_subs):
        if partition_id == 2:
            raise RuntimeError("simulated crash p2")
        return orig(self, part_df, partition_id, sub_epoch, n_subs)

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
        for r in _spans(pipe).collect()
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

    def boom(self, part_df, partition_id, sub_epoch, n_subs):
        if sub_epoch >= 1:
            raise RuntimeError("simulated crash")
        return orig(self, part_df, partition_id, sub_epoch, n_subs)

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
    """A work dir whose early epochs predate the per-pattern spans (ledger
    rows without them) must keep those epochs searchable via the coarse
    ledger span when NEWER epochs have spans."""
    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df, partitions=[0])
    _make_legacy(spark, pipe, 0)  # an older archive's row for partition 0
    pipe.run(input_df)  # partition 1 writes spans; 0 has none

    assert {r["partition_id"] for r in _spans(pipe).collect()} == {1}
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


def test_open_epoch_archive_follows_a_reingest_of_the_root(spark, work_root, tmp_path):
    """With epoch-scope dictionaries the version has no dictionary file
    names, and a re-ingest of the same partitions writes commit files of
    the same names: the version must still change, or the open state
    (ledger rows, sinks over deleted files, the old epochs' dictionaries)
    outlives the archive it was read from."""
    import glob
    import os
    import shutil

    from clp_core_spark.functions.wildcard import wildcard_to_regex

    first = generate_transcripts(spark, num_turns=600, seed=3)
    second = generate_transcripts(spark, num_turns=900, seed=11)
    a = IngestPipeline(spark, work_root, num_partitions=2, dict_scope="epoch")
    a.run(first)
    assert a.search("heartbeat").count() > 0
    a.read_sink("role")  # opens the sink a decompress reads

    shutil.rmtree(work_root)
    IngestPipeline(spark, work_root, num_partitions=2, dict_scope="epoch").run(second)
    assert sorted(os.listdir(a.ledger_path)) == ["p0-s0.parquet", "p1-s0.parquet"]
    assert sum(r["n_rows"] for r in a._ledger_rows()) == second.count()
    got = {(r["conv_id"], r["turn_idx"]) for r in a.search("heartbeat").collect()}
    assert got == {
        (r["conv_id"], r["turn_idx"])
        for r in second.filter(F.col("text").rlike(wildcard_to_regex("*heartbeat*")))
        .select("conv_id", "turn_idx").collect()
    }
    out = str(tmp_path / "xtext")
    a.decompress_to_text(out, partitions=2)
    back: list[str] = []
    for f in sorted(glob.glob(out + "/part-*")):
        with open(f) as fh:
            back.extend(fh.read().splitlines())
    want = second.orderBy("conv_id", "turn_idx").select("text").collect()
    assert "\n".join(back) == "\n".join(r["text"] for r in want)


def test_search_on_unchanged_archive_reuses_the_open(spark, input_df, work_root):
    """Once a search has opened the archive, building the same search
    again reads no ledger, index, sink schema or dictionary: no Spark job
    but the verify residue's one collect, which a search within the
    driver-verify bound runs when it is built."""
    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df)
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    pipe.search("heartbeat")
    before = int(scheduler.nextJobId())
    pipe.search("heartbeat")
    after = int(scheduler.nextJobId())
    store = sc._jsc.sc().statusStore()
    assert [store.job(j).description().get() for j in range(before, after)] == [
        "search:verify-residue"
    ]


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


def test_corrupt_ledger_raises_instead_of_reading_as_empty(spark, input_df, work_root):
    """Only a missing ledger means "nothing committed": a ledger that
    cannot be read must fail ledger() and search, not re-ingest every
    partition and answer every search with zero hits."""
    import os
    import shutil

    from pyspark.errors import AnalysisException

    pipe = IngestPipeline(spark, work_root, num_partitions=2)
    pipe.run(input_df)
    assert pipe.search("heartbeat").count() > 0
    shutil.rmtree(pipe.ledger_path)
    os.makedirs(pipe.ledger_path)
    with open(f"{pipe.ledger_path}/part-00000.parquet", "w") as f:
        f.write("not parquet")
    for call in (lambda: pipe.ledger().collect(), lambda: pipe.search("heartbeat")):
        with pytest.raises(Exception) as err:
            call()
        assert not isinstance(err.value, AnalysisException)


@pytest.fixture(scope="module")
def small_df(spark):
    df = generate_transcripts(spark, num_turns=2000, seed=42).persist()
    df.count()
    return df


def _sql_runs(spark) -> list:
    """The session's retained SQL executions (id, physical plan)."""
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        (runs.apply(i).executionId(), runs.apply(i).physicalPlanDescription())
        for i in range(runs.size())
    ]


def test_ingest_plans_no_python_rdd_scan(spark, small_df, work_root):
    """Every table a fresh tagged ingest builds on the driver (role/tool
    dims, logtype dictionary) is an Arrow local relation: none of its SQL executions plans a
    ``Scan ExistingRDD``, the Python-worker job a list-built DataFrame
    costs."""
    last = max((i for i, _ in _sql_runs(spark)), default=-1)
    IngestPipeline(spark, work_root, num_partitions=1, tags=["t"]).run(small_df)
    plans = [p for i, p in _sql_runs(spark) if i > last]
    assert plans
    assert [p for p in plans if "Scan ExistingRDD" in p] == []


def test_every_parse_is_the_one_arrow_udf(spark, work_root):
    """A heuristic encode, a schema encode and an ingest all parse through
    the one Arrow scalar UDF (encode_pipeline.parse_column): their
    executed plans show the parse as an ArrowEvalPython of ``_parse``,
    never a MapInArrow or a pandas parse UDF."""
    from clp_core_spark.functions.schema_tokenizer import SchemaSpec
    from clp_core_spark.operators import encode_pipeline

    df = generate_transcripts(spark, num_turns=400, seed=7)
    spec = SchemaSpec(delimiters=" =", rules=[("int", r"-{0,1}[0-9]+")])
    plans = []
    for kw in ({}, {"schema_spec": spec}):
        enc, _, _ = encode_pipeline.encode(df, key_cols=["conv_id", "turn_idx"], **kw)
        plan = enc._jdf.queryExecution().executedPlan().toString()
        stray = [
            ln for ln in plan.splitlines()
            if "_parse(" in ln and "ArrowEvalPython" not in ln
        ]
        assert stray == [], plan
        plans.append(plan)
    last = max((i for i, _ in _sql_runs(spark)), default=-1)
    IngestPipeline(spark, work_root, num_partitions=1).run(df)
    plans.append("\n".join(p for i, p in _sql_runs(spark) if i > last))
    for plan in plans:
        assert "ArrowEvalPython" in plan and "_parse(" in plan, plan
        for old in ("MapInArrow", "_parse_slim_udf", "_parse_udf", "_schema_udf"):
            assert old not in plan, plan


def test_driver_built_tables_are_local_relations(spark, small_df, work_root):
    from datetime import datetime, timezone

    from clp_core_spark.operators import dictionaries, encode_pipeline
    from clp_core_spark.session import local_table
    from clp_core_spark.sources import transcripts

    parsed = encode_pipeline.parse(small_df)
    lt = dictionaries.build_logtype_dict(parsed)
    tables = [
        transcripts.role_dim(spark),
        transcripts.tool_dim(spark),
        lt,
        dictionaries.build_logtype_dict(parsed, existing=lt),
        IngestPipeline(spark, work_root).ledger(),  # nothing committed yet
        local_table(
            spark, [(1, datetime(2020, 1, 1, tzinfo=timezone.utc))], "a int, t timestamp"
        ),
    ]
    for t in tables:
        plan = t._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
    assert dictionaries.has_driver_copy(lt)
    # a naive datetime would be read in the session zone: refused
    with pytest.raises(ValueError, match="naive"):
        local_table(spark, [(datetime(2020, 1, 1),)], "t timestamp")


def test_timestamps_round_trip_in_a_non_utc_process_zone(
    spark, small_df, work_root, monkeypatch
):
    """The ledger span and the per-pattern spans are built on the
    driver; they must hold the input's exact instants when the Python
    process runs in another zone than the session (UTC)."""
    import time

    monkeypatch.setenv("TZ", "IST-05:30")
    time.tzset()
    try:
        pipe = IngestPipeline(spark, work_root, num_partitions=2)
        pipe.run(small_df)
        part = F.pmod(F.xxhash64("conv_id"), F.lit(2)).alias("p")
        want = {
            tuple(r)
            for r in small_df.groupBy(part).agg(
                F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
            ).collect()
        }
        ledger = {
            tuple(r)
            for r in pipe.ledger().select(
                "partition_id",
                F.unix_micros("input_min_ts"),
                F.unix_micros("input_max_ts"),
            ).collect()
        }
        index = {
            tuple(r)
            for r in _spans(pipe).select(
                "partition_id", F.unix_micros("min_ts"), F.unix_micros("max_ts")
            ).collect()
        }
        assert ledger == want
        assert index == want
    finally:
        monkeypatch.undo()
        time.tzset()


def test_fresh_ingest_spark_jobs(spark, small_df, work_root):
    """A fresh single-epoch ingest of 2000 turns launches at most 21
    Spark jobs. With every driver-held table built from a Python list and
    the logtype dictionary ranked through a bucket-count collect and a
    window, the same ingest took 35 (39 as the session's first ingest);
    with the ledger and ts_index rows appended by Spark, 23."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(scheduler.nextJobId())
    IngestPipeline(spark, work_root, num_partitions=1).run(small_df)
    assert int(scheduler.nextJobId()) - before <= 21


def _spark_meta(pipe: IngestPipeline, with_spans: bool):
    """done_partitions, committed_sub_epochs and the epoch spans, computed
    with Spark reads of the ledger."""
    led = pipe.ledger()
    done = {
        r["partition_id"]
        for r in led.groupBy("partition_id")
        .agg(F.count("*").alias("n"), F.max("n_subs").alias("want"))
        .collect()
        if r["n"] >= r["want"]
    }
    rows = led.select("partition_id", "sub_epoch", "n_subs").collect()
    subs = {
        p: (
            {r["sub_epoch"] for r in rows if r["partition_id"] == p},
            max((r["n_subs"] for r in rows if r["partition_id"] == p), default=None),
        )
        for p in range(pipe.num_partitions + 1)
    }
    spans = [
        tuple(r)
        for r in led.select(
            "partition_id", "sub_epoch",
            F.unix_millis("input_min_ts"), F.unix_millis("input_max_ts"),
        ).collect()
    ]
    if with_spans:
        spans = [
            tuple(r)
            for r in _spans(pipe).select(
                "partition_id", "sub_epoch", F.unix_millis("min_ts"), F.unix_millis("max_ts")
            ).collect()
        ]
    spans = sorted(
        (p + s * pipe.num_partitions, mn, mx) for p, s, mn, mx in spans
    )
    return done, subs, spans


def test_archive_metadata_reads_on_the_driver(spark, small_df, work_root, monkeypatch):
    """done_partitions, committed_sub_epochs and the epoch spans read the
    ledger with pyarrow: no Spark job, and the same result as the Spark
    read, on a 3-epoch archive and on a legacy one whose Spark-written
    rows have no spans, in a process zone other than the session's (UTC)."""
    import os
    import time

    base = IngestPipeline(spark, work_root, num_partitions=3)
    base.run(small_df)
    # side files like Spark's own sit beside the data files
    for side in ("_SUCCESS", "._SUCCESS.crc"):
        with open(f"{work_root}/ledger/{side}", "w") as f:
            f.write("not parquet")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    monkeypatch.setenv("TZ", "IST-05:30")
    time.tzset()
    try:
        for legacy in (False, True):
            if legacy:
                for p in range(3):
                    _make_legacy(spark, base, p)
            pipe = IngestPipeline(spark, work_root, num_partitions=3)
            before = int(scheduler.nextJobId())
            got = (
                pipe.done_partitions(),
                {p: pipe.committed_sub_epochs(p) for p in range(4)},
                sorted(pipe._epoch_spans()),
            )
            assert int(scheduler.nextJobId()) == before
            want = _spark_meta(pipe, with_spans=not legacy)
            assert got == want
            assert got[0] == {0, 1, 2} and len(got[2]) == 3
    finally:
        monkeypatch.undo()
        time.tzset()


def test_one_commit_file_per_sub_epoch(spark, input_df, work_root):
    """A tagged, dict-budget-split ingest writes each committed sub-epoch's
    metadata, spans and tags included, as one ledger file and nothing
    else; a tagged search on the opened archive reads the tags from the
    ledger rows it already holds, so it launches no more Spark jobs than
    the same untagged search."""
    import os

    pipe = IngestPipeline(spark, work_root, num_partitions=2, dict_budget=200, tags=["t"])
    pipe.run(input_df)
    rows = pipe.ledger().collect()
    assert len(rows) > 2, "fixture must force a sub-epoch split"
    assert not os.path.exists(f"{work_root}/ts_index")
    assert not os.path.exists(f"{work_root}/tags")
    assert sorted(os.listdir(pipe.ledger_path)) == sorted(
        f"p{r['partition_id']}-s{r['sub_epoch']}.parquet" for r in rows
    )
    assert all(r["tags"] == ["t"] and r["spans"] for r in rows)

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    pipe.search("heartbeat").count()  # opens the archive

    def jobs(**kw):
        before = int(scheduler.nextJobId())
        n = pipe.search("heartbeat", **kw).count()
        return int(scheduler.nextJobId()) - before, n

    untagged, tagged = jobs(), jobs(tags=["t"])
    assert tagged == untagged and untagged[1] > 0


def test_commit_batch_reads_only_its_own_commit(spark, small_df, work_root, monkeypatch):
    """A stream batch's commit check looks for its own commit file and
    reads no other batch's: the check does not grow with the stream."""
    import pyarrow.parquet as pq

    batches = [
        small_df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == b) for b in range(3)
    ]
    pipe = IngestPipeline(spark, work_root, table_mode="parquet")
    for b in range(2):
        pipe.commit_batch(batches[b], b)
    read = []
    real = pq.read_table

    def spy(source, *a, **kw):
        if str(source).startswith(pipe.ledger_path):
            read.append(str(source))
        return real(source, *a, **kw)

    monkeypatch.setattr(pq, "read_table", spy)
    pipe.commit_batch(batches[2], 2)
    pipe.commit_batch(batches[1], 1)  # a replayed batch: skipped
    assert read == []
    monkeypatch.undo()
    assert pipe.done_partitions() == {0, 1, 2}
    assert sum(r["n_rows"] for r in pipe.ledger().collect()) == small_df.count()


def test_replay_of_an_older_stream_batch_is_skipped(spark, small_df, work_root, monkeypatch):
    """A stream begun before commit files holds its ledger rows in
    Spark-written part files: the checkpoint's replay of its last batch
    is skipped by that batch's row there, not run again into a second
    ledger row that metrics would count twice. The check reads those
    part files only, never a commit file."""
    import os

    import pyarrow.parquet as pq

    batches = [
        small_df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == b) for b in range(3)
    ]
    pipe = IngestPipeline(spark, work_root, table_mode="parquet")
    for b in range(2):
        pipe.commit_batch(batches[b], b)
    for b in range(2):
        _make_legacy(spark, pipe, b)
    legacy = sorted(n for n in os.listdir(pipe.ledger_path) if n.startswith("part-"))
    read = []
    real = pq.read_table

    def spy(source, *a, **kw):
        if str(source).startswith(pipe.ledger_path):
            read.append(os.path.basename(str(source)))
        return real(source, *a, **kw)

    resumed = IngestPipeline(spark, work_root, table_mode="parquet")
    monkeypatch.setattr(pq, "read_table", spy)
    resumed.commit_batch(batches[1], 1)  # the replay: skipped
    resumed.commit_batch(batches[2], 2)
    resumed.commit_batch(batches[2], 2)  # skipped by its commit file
    assert read == legacy * 3
    monkeypatch.undo()
    assert resumed.ledger().count() == 3
    assert resumed.done_partitions() == {0, 1, 2}
    assert resumed.metrics()["rows"] == small_df.count()
