"""The one sink writer (operators.route.write_sink): every sink file is
sorted by (conv_id, turn_idx) whatever the input order, each write plans
one exchange and one sort, a hot partition value still splits across
several write tasks, and the layout does not follow the session's
advisory partition size."""

import glob
import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from clp_core_spark.operators import route
from clp_core_spark.plans.pipeline import IngestPipeline
from clp_core_spark.plans.tablestore import TableStore
from tests.test_pipeline_resume import _sql_runs as _executions


@pytest.fixture(scope="module")
def shuffled_ingest(spark, transcripts, tmp_path_factory):
    """One ingest of the input in random row order: (work root, the
    physical plans of its SQL executions)."""
    root = str(tmp_path_factory.mktemp("shuffled") / "work")
    shuffled = transcripts.orderBy(F.rand(7)).localCheckpoint()
    last = max((i for i, _ in _executions(spark)), default=-1)
    IngestPipeline(spark, root, num_partitions=1).run(shuffled)
    return root, [p for i, p in _executions(spark) if i > last]


def test_sink_files_are_sorted_on_shuffled_input(shuffled_ingest):
    root, _ = shuffled_ingest
    for kind in route.SINK_KINDS:
        files = glob.glob(f"{root}/sinks/by_{kind}/**/*.parquet", recursive=True)
        assert files, kind
        unsorted = []
        for f in files:
            rows = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pylist()
            keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
            if keys != sorted(keys):
                unsorted.append(f)
        assert unsorted == [], (kind, len(unsorted), len(files))


def test_stream_sink_files_are_sorted_on_shuffled_input(spark, transcripts, tmp_path):
    """A stream commits each micro-batch as its own epoch
    (by_role/epoch_part=N); its sink files must be sorted all the same."""
    from clp_core_spark.streaming import stream_pipeline as sp

    inp = str(tmp_path / "input")
    shuffled = transcripts.limit(1000).orderBy(F.rand(3))
    for half in (0, 1):
        shuffled.filter(F.col("turn_idx") % 2 == half).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    stream = sp.read_transcript_stream(spark, inp, max_files_per_trigger=1)
    sp.route_stream(spark, stream, str(tmp_path / "work")).awaitTermination(300)
    files = glob.glob(f"{tmp_path}/work/sinks/by_role/*/*/*.parquet")
    assert len({os.path.dirname(os.path.dirname(f)) for f in files}) == 2  # batches
    for f in files:
        rows = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pylist()
        keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
        assert keys == sorted(keys), f


def _write_nodes(plan: str) -> list[tuple[str, str]]:
    """(node name, its Arguments line) for each node of the final plan
    above the scan of the persisted rows."""
    final = plan.split("== Final Plan ==", 1)[1].split("InMemoryTableScan", 1)[0]
    out = []
    for name, node_id in re.findall(r"(\w+) \((\d+)\)", final):
        args = re.search(rf"^\({node_id}\) .*?\n(?:.*\n)*?Arguments: (.*)$", plan, re.M)
        out.append((name, args.group(1) if args else ""))
    return out


def test_each_sink_write_plans_one_exchange_and_one_sort(shuffled_ingest):
    _, plans = shuffled_ingest
    for kind in route.SINK_KINDS:
        writes = [p for p in plans if f"/by_{kind}" in p and "WriteFiles" in p]
        assert len(writes) == 1, (kind, len(writes))
        nodes = _write_nodes(writes[0])
        exchanges = [a for n, a in nodes if n == "Exchange"]
        sorts = [a for n, a in nodes if n == "Sort"]
        assert len(exchanges) == 1, (kind, nodes)
        assert "REBALANCE_PARTITIONS_BY_COL" in exchanges[0]
        # no salt pmod(xxhash64(conv_id, turn_idx), n) anywhere in the plan
        assert not re.search(r"xxhash64\(conv_id#\d+, turn_idx", writes[0])
        assert len(sorts) == 1, (kind, nodes)
        keys = re.findall(r"(\w+)#\d+ ASC", sorts[0])
        assert keys == ["epoch_part", kind, "conv_id", "turn_idx"], sorts[0]


@pytest.fixture(scope="module")
def hot(spark):
    """40k rows, 90% of them under one partition value (role=user)."""
    return spark.range(40_000).select(
        F.concat(F.lit("c"), (F.col("id") % 500).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") % 10 == 0, "assistant").otherwise("user").alias("role"),
    ).repartition(16).localCheckpoint()


def _rows_per_task_and_files_per_value(root):
    per_task, files_per_value = Counter(), Counter()
    for f in glob.glob(f"{root}/by_role/*/*.parquet"):
        task = os.path.basename(f).split("-")[1]  # part-<task id>-...
        per_task[task] += pq.read_metadata(f).num_rows
        files_per_value[os.path.basename(os.path.dirname(f))] += 1
    return per_task, files_per_value


def test_hot_value_splits_across_tasks(spark, hot, tmp_path, monkeypatch):
    """With a small writer task size the rebalance splits the hot value
    across several tasks (files), and no task holds more than ~3x its
    fair share."""
    monkeypatch.setattr(route, "SINK_TASK_BYTES", 16 << 10)
    route.write_sink(hot, TableStore(spark, str(tmp_path), mode="parquet"), "role")
    per_task, files_per_value = _rows_per_task_and_files_per_value(tmp_path)
    assert sum(per_task.values()) == hot.count()
    assert files_per_value["role=user"] >= 4, files_per_value
    fair = hot.count() / len(per_task)
    assert max(per_task.values()) <= 3 * fair, per_task


def test_sink_layout_ignores_the_session_advisory_size(spark, hot, tmp_path):
    """A session that lowers spark.sql.adaptive.advisoryPartitionSizeInBytes
    for its own shuffles gets the same sink files: one per value here."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        route.write_sink(hot, TableStore(spark, str(tmp_path), mode="parquet"), "role")
    finally:
        spark.conf.set(key, old)
    _, files_per_value = _rows_per_task_and_files_per_value(tmp_path)
    assert files_per_value == {"role=user": 1, "role=assistant": 1}, files_per_value


def test_done_partitions_of_a_fresh_root_runs_no_query(spark, tmp_path):
    last = max((i for i, _ in _executions(spark)), default=-1)
    assert IngestPipeline(spark, str(tmp_path / "work")).done_partitions() == set()
    assert [i for i, _ in _executions(spark) if i > last] == []
