"""The archive's sink format on the read side: the read schema comes
from a data file's footer (no inference job, half-written staged files
skipped), an archive of no rows reads as empty, and an archive whose older epochs hold the earlier sink
format (INT96 ``ts``, v1 pages, ``var_types`` and ``n_vars`` columns)
searches and decompresses as one written wholly in the current format."""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from clp_core_spark.operators import encode_pipeline, route
from clp_core_spark.plans.pipeline import IngestPipeline
from clp_core_spark.sources.transcripts import generate_transcripts

KEYS = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def input_df(spark):
    df = generate_transcripts(spark, num_turns=2000, seed=11).persist()
    df.count()
    yield df
    df.unpersist()


def _jobs(spark, fn) -> int:
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(scheduler.nextJobId())
    fn()
    return int(scheduler.nextJobId()) - before


def _text(out: str) -> str:
    return "".join(open(f).read() for f in sorted(glob.glob(f"{out}/part-*")))


def test_read_sink_of_an_opened_archive_runs_no_job(spark, input_df, tmp_path):
    root = str(tmp_path / "work")
    IngestPipeline(spark, root, num_partitions=2).run(input_df)
    pipe = IngestPipeline(spark, root, num_partitions=2)
    for kind in route.SINK_KINDS:
        assert _jobs(spark, lambda k=kind: pipe.read_sink(k)) == 0, kind
        assert _jobs(spark, lambda k=kind: pipe.read_sink(k, epochs=[])) == 0, kind
        df = pipe.read_sink(kind)
        assert df.schema["epoch_part"].dataType.simpleString() == "int"
        assert df.schema[kind].dataType.simpleString() == "string"
        assert df.count() == input_df.count()


def test_half_written_staged_files_are_not_read(spark, input_df, tmp_path):
    """A dynamic partition overwrite stages its files under hidden
    directories of the table (``.spark-staging-<job>``, ``_temporary``)
    until it commits. A staged file still being written, or left by a
    driver killed mid-write, has no footer: reads skip it, as Spark's
    file index does, while a stream keeps writing its next batch."""
    root = str(tmp_path / "work")
    IngestPipeline(spark, root, num_partitions=2).run(input_df)
    want = IngestPipeline(spark, root, num_partitions=2).search("heartbeat").count()
    assert want > 0
    pipe = IngestPipeline(spark, root, num_partitions=2)
    for kind in route.SINK_KINDS:
        for hidden in (".spark-staging-x", "_temporary/0"):
            staged = f"{pipe.store.table_path(f'by_{kind}')}/{hidden}/epoch_part=0/{kind}=user"
            os.makedirs(staged)
            with open(f"{staged}/part-0.parquet", "wb") as f:
                f.write(b"PAR1 not a footer")
    for kind in route.SINK_KINDS:
        assert pipe.read_sink(kind).count() == input_df.count()
    assert pipe.search("heartbeat").count() == want


def test_archive_of_no_rows_reads_as_empty(spark, input_df, tmp_path):
    """An ingest of no rows commits its ledger rows and writes no sink
    file; every read path still answers, with nothing."""
    pipe = IngestPipeline(spark, str(tmp_path / "work"), num_partitions=2)
    pipe.run(input_df.limit(0))
    assert pipe.metrics()["partitions_done"] == 2
    assert glob.glob(f"{pipe.sinks_root}/**/*.parquet", recursive=True) == []
    assert pipe.search("heartbeat").count() == 0
    assert pipe.count_by_time("heartbeat").collect() == []
    out = str(tmp_path / "text")
    pipe.decompress_to_text(out)
    assert _text(out) == ""


def _rewrite_in_earlier_format(spark, input_df, pipe: IngestPipeline, epoch: int) -> None:
    """Rewrite one epoch's sink files as archives written before held
    them: INT96 timestamps, v1 data pages (the writer's default), and
    the per-row ``var_types`` and ``n_vars`` columns, taken from a parse
    of the input text."""
    types = encode_pipeline.parse(input_df).select(*KEYS, "var_types")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        for kind in route.SINK_KINDS:
            path = f"{pipe.store.table_path(f'by_{kind}')}/epoch_part={epoch}"
            spark.read.parquet(path).join(types, KEYS).withColumn(
                "n_vars", F.size("var_types")
            ).write.partitionBy(kind).parquet(f"{path}.rewrite")
            shutil.rmtree(path)
            os.rename(f"{path}.rewrite", path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)


def _results(pipe: IngestPipeline, out: str, begin: int, end: int):
    hits = sorted(
        tuple(r) for r in pipe.search(
            "*", ts_begin_ms=begin, ts_end_ms=end, select_cols=["ts"]
        ).collect()
    )
    buckets = sorted(
        tuple(r) for r in pipe.count_by_time(
            "heartbeat", bucket_ms=600_000, ts_begin_ms=begin, ts_end_ms=end
        ).collect()
    )
    pipe.decompress_to_text(out)
    return hits, buckets, _text(out)


def test_archive_mixing_the_earlier_sink_format(spark, input_df, tmp_path):
    new = IngestPipeline(spark, str(tmp_path / "new"), num_partitions=2)
    new.run(input_df)
    mixed_root = str(tmp_path / "mixed")
    IngestPipeline(spark, mixed_root, num_partitions=2).run(input_df)
    _rewrite_in_earlier_format(spark, input_df, IngestPipeline(spark, mixed_root), 0)

    old_file = glob.glob(f"{mixed_root}/sinks/by_role/epoch_part=0/*/*.parquet")[0]
    leaves = pq.ParquetFile(old_file).schema
    types = {leaves.column(i).path: leaves.column(i).physical_type for i in range(len(leaves))}
    assert types["ts"] == "INT96" and "var_types.list.element" in types and "n_vars" in types

    ms = input_df.select(
        F.unix_millis(F.min("ts")).alias("a"), F.unix_millis(F.max("ts")).alias("b")
    ).first()
    # a range inside the input's span, cutting through both epochs
    begin, end = ms["a"] + (ms["b"] - ms["a"]) // 4, ms["b"] - (ms["b"] - ms["a"]) // 4
    mixed = IngestPipeline(spark, mixed_root, num_partitions=2)
    want = _results(new, str(tmp_path / "new_text"), begin, end)
    got = _results(mixed, str(tmp_path / "mixed_text"), begin, end)
    assert want[0] and want[1] and want[2]
    assert got == want
