"""GLT-style logtype-ordered sink: correctness + file-skipping evidence."""

import os

import pyspark.sql.functions as F
import pytest

from clp_core_spark.operators import encode_pipeline, route


@pytest.fixture(autouse=True)
def _exact_range_boundaries(spark):
    """repartitionByRange picks boundaries from a 100-point-per-partition
    SAMPLE; on this small corpus the jitter occasionally splits a
    cluster across one extra file, flaking the <=N file-count
    assertions (observed once in a loaded full-suite run). A large
    sample makes boundaries effectively exact — the assertions then
    test the LAYOUT logic, not the sampler's variance."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "10000")
    yield
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def test_glt_roundtrip_and_pruning(spark, transcripts, tmp_path):
    enc, lt, vd = encode_pipeline.encode(
        transcripts, key_cols=["conv_id", "turn_idx"]
    )
    path = str(tmp_path / "glt")
    route.write_glt_layout(enc, path, partitions=8)

    back = spark.read.parquet(path)
    assert back.count() == enc.count()

    # pick one mid-frequency logtype and query it
    target = (
        enc.groupBy("logtype_id").count().orderBy("count").collect()[0]["logtype_id"]
    )
    expected = enc.filter(F.col("logtype_id") == target).count()
    got = back.filter(F.col("logtype_id") == target).count()
    assert got == expected

    # the filter must be pushed to the scan (min/max file skipping)
    plan = (
        back.filter(F.col("logtype_id") == target)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "logtype_id" in plan

    # files are logtype-ranged: each file's rows span a narrow ID range,
    # and the target ID appears in at most a couple of files
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) > 1
    with_file = back.withColumn("_f", F.input_file_name())
    n_files_hit = (
        with_file.filter(F.col("logtype_id") == target)
        .select("_f").distinct().count()
    )
    assert n_files_hit <= 2, f"logtype not clustered: {n_files_hit} files"


def test_glt_combine_threshold(spark, transcripts, tmp_path):
    """GLT's combined-table rule: logtypes below the row-share threshold
    pack into a shared cluster (glt/glt/CommandLineArguments.hpp:38,69,111)
    instead of fragmenting the range partitioner; hot logtypes keep
    dedicated file ranges."""
    enc, lt, vd = encode_pipeline.encode(
        transcripts, key_cols=["conv_id", "turn_idx"]
    )
    path = str(tmp_path / "glt_combined")
    route.write_glt_layout(enc, path, partitions=8, combine_threshold=0.05)

    back = spark.read.parquet(path)
    assert back.count() == enc.count()

    counts = enc.groupBy("logtype_id").count().collect()
    total = sum(r["count"] for r in counts)
    small_ids = [r["logtype_id"] for r in counts if r["count"] < total * 0.05]
    big_ids = [r["logtype_id"] for r in counts if r["count"] >= total * 0.05]
    assert small_ids and big_ids, "corpus must have both classes"

    with_file = back.withColumn("_f", F.input_file_name())
    # ALL small logtypes together share a couple of combined files
    n_small_files = (
        with_file.filter(F.col("logtype_id").isin(small_ids))
        .select("_f").distinct().count()
    )
    assert n_small_files <= 2, f"combined table fragmented: {n_small_files}"
    # a hot logtype still clusters into a narrow file range
    hot = max(counts, key=lambda r: r["count"])["logtype_id"]
    n_hot_files = (
        with_file.filter(F.col("logtype_id") == hot)
        .select("_f").distinct().count()
    )
    assert n_hot_files <= 3


def test_glt_row_group_sizing(spark, transcripts, tmp_path):
    """row_group_bytes bounds parquet row-group size so a hot logtype's
    few clustered files still admit many scan tasks (the Spark-native
    form of CLP's bounded segment sizing) — and each group stays
    logtype-narrow, so min/max skipping gets FINER, not coarser."""
    import pyarrow.parquet as pq

    enc, lt, vd = encode_pipeline.encode(
        transcripts, key_cols=["conv_id", "turn_idx"]
    )
    path = str(tmp_path / "glt_rg")
    # ~800 rows a group: row groups are cut by buffered bytes, so this
    # size follows the encoded row's
    route.write_glt_layout(enc, path, partitions=2,
                           row_group_bytes=48 * 1024)
    files = [f"{path}/{f}" for f in os.listdir(path) if f.endswith(".parquet")]
    metas = [pq.ParquetFile(f).metadata for f in files]
    assert sum(m.num_row_groups for m in metas) > len(files), (
        "row_group_bytes should yield multiple row groups per file"
    )
    assert spark.read.parquet(path).count() == enc.count()

    # per-group logtype_id ranges stay narrow: the sort puts each group
    # on a contiguous ID run, so group-level min/max stats can skip
    # groups inside a file, not just whole files
    lt_idx = [c.name for c in
              pq.ParquetFile(files[0]).schema_arrow].index("logtype_id")
    n_ids = enc.select("logtype_id").distinct().count()
    for m in metas:
        for g in range(m.num_row_groups):
            st = m.row_group(g).column(lt_idx).statistics
            assert st is not None and st.max - st.min <= max(1, n_ids // 2)


def test_glt_row_group_default_bounded(spark, tmp_path):
    """The MEASURED-better configuration is the default (round-5 verdict,
    Wrong #1): write_glt_layout with no row_group_bytes argument bounds
    parquet row groups at GLT_ROW_GROUP_BYTES, so a hot logtype's few
    clustered files admit multiple scan/skip units out of the box."""
    import inspect

    import pyarrow.parquet as pq

    assert (
        inspect.signature(route.write_glt_layout)
        .parameters["row_group_bytes"].default
        == route.GLT_ROW_GROUP_BYTES
        == 8 << 20
    )

    # one hot logtype, enough bytes that a single file's buffered
    # (dictionary-encoded) row-group estimate exceeds the default cap
    df = spark.range(2_000_000).select(
        F.col("id").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.concat(
            F.lit("evt heap used "), F.col("id").cast("string"),
            F.lit(" of "), (F.col("id") * 7919).cast("string"),
        ).alias("text"),
    )
    enc, lt, vd = encode_pipeline.encode(df, key_cols=["conv_id", "turn_idx"])
    path = str(tmp_path / "glt_default_rg")
    route.write_glt_layout(enc, path, partitions=1)
    files = [
        f"{path}/{f}" for f in os.listdir(path) if f.endswith(".parquet")
    ]
    metas = [pq.ParquetFile(f).metadata for f in files]
    assert sum(m.num_row_groups for m in metas) > len(files), (
        "default GLT write should split large files into several row groups"
    )
