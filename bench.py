"""Benchmark harness (driver-run per round; also used for the two-level
scaling evidence in BENCH/BASELINE.md).

Headline metric: end-to-end parse -> encode -> route wall time over the
synthetic transcripts table (BASELINE.json north_star), measured from
parquet scan to per-sink counts + routed writes. Per-query timings cover
the dictionary-search and aggregate paths at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Usage:
  python bench.py                  # full bench at $SPARK_GRAFT_SF_DIR
  python bench.py --pipeline-only  # just the e2e pipeline (scaling runs)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

from clp_core_spark.operators import encode_pipeline, enrich, route  # noqa: E402
from clp_core_spark.session import get_spark  # noqa: E402
from clp_core_spark.sources import transcripts  # noqa: E402

WORK_ROOT = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/clp_bench")
# sf0.1 -> 4M turns: large enough that steady-state compute (not session
# fixed costs) dominates the measured window at local[32].
TURNS_PER_SF = 40_000_000


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _stage_transcripts(spark, sf: float) -> tuple[str, int]:
    """Generate the deterministic transcripts input once per sf and stage
    it as parquet — generation is NOT part of the measured pipeline.

    SPARK_GRAFT_BENCH_TURNS overrides the row count (the scaling runs use
    a corpus large enough that compute, not fixed overhead, dominates)."""
    num_turns = int(
        os.environ.get("SPARK_GRAFT_BENCH_TURNS", max(10_000, int(TURNS_PER_SF * sf)))
    )
    path = f"{WORK_ROOT}/transcripts_sf{sf}"
    marker = f"{path}/_STAGED_{num_turns}"
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        df = transcripts.generate_transcripts(spark, num_turns=num_turns, partitions=64)
        df.write.mode("overwrite").parquet(path)
        open(marker, "w").close()
    n = spark.read.parquet(path).count()
    return path, n


def warmup(spark) -> None:
    """Spawn the Python UDF workers, JIT/codegen, and Arrow paths before
    the measured window — steady-state throughput is the metric, and on a
    real cluster executors are long-lived across batches."""
    from clp_core_spark.operators import encode_pipeline

    df = transcripts.generate_transcripts(spark, num_turns=2_000, partitions=64)
    encode_pipeline.parse(df, slim=True).select(F.sum(F.size("var_types"))).collect()


def run_pipeline(spark, input_path: str, sinks_root: str) -> dict:
    """The measured job: scan -> parse/encode (vectorized UDF + dict
    builds + broadcast joins) -> enrich (broadcast dims) -> fan-out route
    (rebalanced writes, 3 sink families) -> per-sink counts."""
    t0 = time.time()
    df = spark.read.parquet(input_path)
    encoded, lt_dict, var_dict = encode_pipeline.encode(
        df,
        key_cols=["conv_id", "turn_idx"],
        var_id_mode=os.environ.get("SPARK_GRAFT_VAR_ID_MODE", "hash"),
    )
    enriched = enrich.enrich(
        encoded, transcripts.role_dim(spark), transcripts.tool_dim(spark)
    )
    enriched = route.with_logtype_class(
        enriched.join(F.broadcast(lt_dict), "logtype_id")
    ).drop("logtype")
    # One materialization feeds all three sink writes + the counts; the
    # counts job runs FIRST so the cache is built before the concurrent
    # sink writers fan out (they then read it instead of racing on it).
    enriched = enriched.persist()
    counts = route.sink_counts(enriched).collect()
    shutil.rmtree(sinks_root, ignore_errors=True)
    route.route(enriched, sinks_root, partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    # Dictionary construction is part of the mandated pipeline (groupBy
    # dedup over parsed variables) — materialize it inside the window.
    lt_n = lt_dict.count()
    var_n = var_dict.count()
    elapsed = time.time() - t0
    return {
        "elapsed_sec": elapsed,
        "n_sinks": len(counts),
        "lt_dict_size": lt_n,
        "var_dict_size": var_n,
    }


def timed_queries(spark, sf_dir: str) -> dict[str, float]:
    """Per-query search/analytics timings over PRE-BUILT archives:
    warm_archives materializes every encoded corpus first (untimed),
    mirroring clp's compress-then-search split — search benchmarks run
    against existing archives; ingest cost is the e2e pipeline metric
    above. (Through round 3 the first query of each family paid its
    corpus encode inside its timing; round-4 numbers measure the query
    itself.)"""
    import __spark_entry__ as entry

    entry.warm_archives(spark, sf_dir)
    picks = [
        "clp_roundtrip_text",  # carries the former events roundtrip leg
        "clp_search_token",
        "clp_search_int",
        "clp_search_midstar",
        "clp_search_broad_dictvar",
        "clp_logtype_counts",
        "clp_sink_counts_events",
        "curation_split_sample",
        "agg_topk_latest",
        "join_enrich_nation",
        "dedup_exact_docs",
        "dedup_minhash_lsh",
        "dedup_embedding_cosine",
        "sim_ivf_topk",
        "clp_search_regex",
        "clps_clpstring_search",
        "clps_multi_clpstring_search",
        "clps_bool_tree_search",
        "kql_wildcard_key",
        "clps_unstructured_array_search",
        "clp_schema_search",
        "clp_rawtext_roundtrip",
        # round-5: exact-substring dedup (Arrow window-hash kernel)
        "dedup_duplicate_spans",
        # round-5: PQ ADC top-k (code column + literal-LUT scoring)
        "sim_pq_topk",
    ]
    qs = entry.queries()
    out = {}
    for name in picks:
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()
        out[name] = round(time.time() - t0, 3)
        _ = n
    return out


def at_rest_bench(spark, input_path: str) -> dict:
    """At-rest archive search A/B over the staged transcripts corpus:
    GLT (logtype-clustered) vs unclustered parquet layout, caches
    dropped, dictionaries re-read from disk — the analog of GLT's
    faster-search-from-layout claim
    (docs/src/user-guide/core-unstructured/glt.md:6-7). Each query hits
    ONE of the corpus's logtype templates, so the clustered layout
    confines its rows to ~1/n_logtypes of the files and the pushed
    ``logtype_id IN (...)`` min/max-prunes the rest; the unclustered
    layout spreads every logtype over every file. Reports per-query
    wall times on both layouts, the ratio, and files-containing-hits
    (the layout/skipping evidence that survives scale-up even when
    small-corpus wall times are overhead-bound). Runs LAST — it clears
    the session cache. OS page cache cannot be dropped in-process, so
    'at rest' means no Spark-cached relations, not cold disk."""
    from clp_core_spark.operators import encode_pipeline, route
    from clp_core_spark.operators import search as search_op
    from clp_core_spark.plans import dictstore

    keys = ["conv_id", "turn_idx"]
    enc, lt, vd = encode_pipeline.encode(
        spark.read.parquet(input_path), key_cols=keys
    )
    root = f"{WORK_ROOT}/atrest"
    glt_path, flat_path = f"{root}/glt", f"{root}/flat"
    n_parts = 32
    # archive build (untimed — compression and search are separate verbs)
    route.write_glt_layout(enc, glt_path, partitions=n_parts,
                           order_cols=tuple(keys), combine_threshold=0.001)
    enc.repartition(n_parts, *[F.col(k) for k in keys]).write.mode(
        "overwrite"
    ).parquet(flat_path)
    dictstore.save_dict(root, "logtype", lt)
    dictstore.save_dict(root, "var", vd)

    spark.catalog.clearCache()  # drop every persisted corpus
    lt2 = dictstore.load_dict(spark, root, "logtype")
    vd2 = dictstore.load_dict(spark, root, "var")
    queries = {
        # each matches exactly one of the ~10 transcript templates
        "heap": "*Heap used*",
        "hex_token": "*session token*",
        "int_var": "*on node-7*",
    }
    # Compile ONCE per query (dictionary probes — identical work for
    # both layouts, and CLP also loads/probes dictionaries before the
    # archive scan); the timed window is the corpus scan+verify, the
    # part the layout actually changes. Best-of-2 per (layout, query)
    # squeezes out one-off footer reads / worker spawns.
    compiled = {
        qname: search_op.compile_query(q, lt2, vd2)
        for qname, q in queries.items()
    }
    out: dict = {}
    for layout, path in (("glt", glt_path), ("flat", flat_path)):
        # timed legs scan the BARE parquet relation: a projected
        # input_file_name() blocks parquet filter pushdown entirely
        # (the scan plans with DataFilters: [] under the
        # nondeterministic project), which would disable exactly the
        # logtype_id min/max pruning this A/B exists to measure
        df = spark.read.parquet(path)
        stats: dict = {"files_total": len(df.inputFiles())}
        for qname in queries:
            hits = search_op.search(
                df, lt2, vd2, compiled[qname], keys, select_cols=keys
            )
            best, n = None, 0
            for _ in range(2):
                t0 = time.time()
                n = hits.count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            stats[f"{qname}_sec"] = round(best, 3)
            stats[f"{qname}_hits"] = n
            # pruning evidence, untimed: re-plan with the file column
            # (pushdown lost here, but only hit-locations matter)
            with_f = spark.read.parquet(path).withColumn(
                "_f", F.input_file_name()
            )
            stats[f"{qname}_files_hit"] = (
                search_op.search(
                    with_f, lt2, vd2, compiled[qname], keys,
                    select_cols=["_f"],
                ).select("_f").distinct().count()
            )
        out[layout] = stats
    for qname in queries:
        g, f = out["glt"][f"{qname}_sec"], out["flat"][f"{qname}_sec"]
        out[f"{qname}_flat_over_glt"] = round(f / g, 2) if g > 0 else None
    return out


def _host_load() -> dict:
    """Contention evidence embedded in every BENCH_r*.json: r3/r4 driver
    numbers landed in contended windows only manual notes explained."""
    la1, la5, la15 = os.getloadavg()
    try:
        uptime = float(open("/proc/uptime").read().split()[0])
    except Exception:  # noqa: BLE001 — non-Linux
        uptime = None
    return {
        "loadavg_1m": round(la1, 2),
        "loadavg_5m": round(la5, 2),
        "loadavg_15m": round(la15, 2),
        "uptime_s": round(uptime, 0) if uptime is not None else None,
    }


def _cpu_calibration() -> float:
    """Single-core speed probe (ms): best-of-3 numpy sort of 4M floats —
    always single-threaded (no BLAS pool), deterministic input. Loadavg
    shows CONTENTION but not a slower host: across boots of this sandbox
    the same code at idle load has varied ~1.4x e2e, which only a
    same-work/same-thread probe can attribute. Compare this field across
    BENCH_r*.json before reading a throughput delta as a code change."""
    import numpy as _np

    data = _np.arange(4_000_000, dtype=_np.float64)
    rng = _np.random.RandomState(0)
    rng.shuffle(data)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        _np.sort(data, kind="quicksort")
        best = min(best, time.time() - t0)
    return round(best * 1000, 1)


def main() -> None:
    pipeline_only = "--pipeline-only" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_from_dir(sf_dir)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    # The staged corpus is tens of MB; at 100 TB the scan naturally yields
    # thousands of 128 MB splits, but here the default split/open-cost knobs
    # would collapse it into ~3 tasks and serialize the parse UDF. Scale the
    # file-split knobs down so the small corpus splits the way the big one
    # would (same #splits-per-core regime), keeping the two-level scaling
    # measurement honest.
    spark = get_spark(
        "clp-bench",
        shuffle_partitions=max(int(cpus), 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "400k",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
            # batch throughput beats G1's pause goals for this job shape
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    load_start = _host_load()

    input_path, n_turns = _stage_transcripts(spark, sf)
    warmup(spark)
    stats = run_pipeline(spark, input_path, f"{WORK_ROOT}/sinks_sf{sf}_c{cpus}")
    turns_per_sec = n_turns / stats["elapsed_sec"]

    queries = {} if pipeline_only else timed_queries(spark, sf_dir)
    # at-rest leg LAST: it clears the session cache the timed queries use
    at_rest = {} if pipeline_only else at_rest_bench(spark, input_path)

    result = {
        "metric": "e2e_parse_encode_route_sec",
        "value": round(stats["elapsed_sec"], 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "num_turns": n_turns,
        "turns_per_sec": round(turns_per_sec, 1),
        "cpus": int(cpus),
        "logtype_dict_size": stats["lt_dict_size"],
        "var_dict_size": stats["var_dict_size"],
        "at_rest": at_rest,
        "load_start": load_start,
        "load_end": _host_load(),
        "cpu_calib_sort_ms": _cpu_calibration(),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
