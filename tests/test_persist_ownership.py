"""Every persist an ingest makes has one owner that releases it: after a
multi-epoch ``IngestPipeline.run``, a multi-batch ``route_stream`` or a
sub-epoch that fails mid-write, the session holds as many persistent
RDDs as before."""

import pyspark.sql.functions as F
import pytest

from clp_core_spark.operators import dictionaries, route
from clp_core_spark.plans.pipeline import IngestPipeline
from clp_core_spark.sources.transcripts import generate_transcripts
from clp_core_spark.streaming import stream_pipeline as sp


@pytest.fixture(scope="module")
def turns(spark):
    df = generate_transcripts(spark, num_turns=2000, seed=42).persist()
    df.count()
    return df


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _pools(spark) -> int:
    return spark.sparkContext._jsc.sc().getAllPools().size()


@pytest.mark.parametrize("var_id_mode", ["hash", "dense"])
def test_multi_epoch_ingest_releases_every_persist(
    spark, turns, tmp_path, monkeypatch, var_id_mode
):
    """Four epochs: the parse, the enriched rows and, in the dense case
    with both driver-copy bounds at 0, the distributed logtype and var
    dictionaries encode persists are all released."""
    if var_id_mode == "dense":
        monkeypatch.setattr(dictionaries, "LOGTYPE_DRIVER_MAX", 0)
        monkeypatch.setattr(dictionaries, "BROADCAST_VAR_DICT_MAX", 0)
    before = _persistent_rdds(spark)
    pipe = IngestPipeline(
        spark, str(tmp_path / "work"), num_partitions=4, var_id_mode=var_id_mode
    )
    pipe.run(turns)
    assert pipe.done_partitions() == {0, 1, 2, 3}
    assert _persistent_rdds(spark) == before


def test_multi_batch_stream_releases_every_persist(spark, turns, tmp_path):
    """Three micro-batches release every persist, and share one set of
    scheduler pools (an epoch pool and one per sink family) rather than
    adding pools per batch."""
    inp = str(tmp_path / "input")
    for k in range(3):
        turns.filter(F.crc32("conv_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    before = _persistent_rdds(spark)
    pools = _pools(spark)
    stream = sp.read_transcript_stream(spark, inp, max_files_per_trigger=1)
    sp.route_stream(spark, stream, str(tmp_path / "work")).awaitTermination(300)
    assert _persistent_rdds(spark) == before
    assert _pools(spark) - pools <= 1 + len(route.SINK_KINDS)
    assert IngestPipeline(spark, str(tmp_path / "work")).done_partitions() == {0, 1, 2}


def test_failed_sub_epoch_releases_its_persists(spark, turns, tmp_path, monkeypatch):
    """A sink write that raises propagates, commits no ledger row and
    leaves nothing pinned."""

    def boom(*args, **kwargs):
        raise RuntimeError("simulated sink failure")

    monkeypatch.setattr(route, "write_sinks", boom)
    before = _persistent_rdds(spark)
    pipe = IngestPipeline(spark, str(tmp_path / "work"), num_partitions=1)
    with pytest.raises(RuntimeError, match="simulated sink failure"):
        pipe.run(turns)
    assert pipe.ledger().count() == 0
    assert _persistent_rdds(spark) == before
