"""The traced run's layer walk (``--trace 1``).

The product path is replayed one layer at a time by calling each
layer's public functions in the order ``IngestPipeline`` calls them.
The benchmark's own spans wrap each call, and each layer's output is
materialized (persist + count) at the boundary, because Spark is lazy:
without it a layer's work would be billed to whichever later call
first forces it. Materializing costs extra work, which the run reports
as its tracing overhead against the same run's untraced product calls.
"""

from __future__ import annotations

import shutil
import statistics
from concurrent.futures import ThreadPoolExecutor

from perfbench.bench import (
    EPOCHS,
    KEYS,
    check_text,
    dir_bytes,
    ingest,
    timed_decompress,
    timed_request,
)
from perfbench.oracle import BUCKET_MS, NULL_KEY, SINK_KINDS

SALT_BUCKETS = 16  # IngestPipeline's default


def job_counter(spark):
    """Spark's next job id, so a span can count the jobs it launched.
    Read through the JVM scheduler (py4j hands its AtomicInteger over as
    a Python int); None when it is not reachable."""
    try:
        scheduler = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001
        int(scheduler.nextJobId())
    except Exception:  # noqa: BLE001 — internal API; counting is optional
        return None
    return lambda: int(scheduler.nextJobId())


def materialize(df):
    df = df.persist()
    return df, df.count()


def decode_uses_join(df) -> bool:
    """Whether a decode plan resolves dictionary variables with the
    explode -> join path rather than the broadcast-map kernel."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    return "posexplode" in plan


def _ingest_walk(spark, tracer, input_df, root):
    import pyspark.sql.functions as F

    from clp_core_spark.operators import dictionaries, encode_pipeline, enrich, route
    from clp_core_spark.plans import dictstore
    from clp_core_spark.plans.tablestore import TableStore
    from clp_core_spark.sources import transcripts

    shutil.rmtree(root, ignore_errors=True)
    dicts, sinks = f"{root}/dicts", root / "sinks"
    store = TableStore(spark, str(sinks))
    parallelism = spark.sparkContext.defaultParallelism
    out = {"rows": 0}
    with tracer.span("ingest.walk"):
        for p in range(EPOCHS):
            part = input_df.filter(
                F.pmod(F.xxhash64("conv_id"), F.lit(EPOCHS)).cast("int") == p
            )
            cached = []
            with tracer.span("ingest.epoch", epoch=p):
                with tracer.span("dictstore.load_existing"):
                    lt_old = dictstore.load_dict(spark, dicts, "logtype")
                    var_old = dictstore.load_dict(spark, dicts, "var")
                    if lt_old is not None:
                        lt_old, _ = materialize(lt_old)
                        var_old, _ = materialize(var_old)
                        cached += [lt_old, var_old]
                with tracer.span("encode_pipeline.parse") as s:
                    parsed, rows = materialize(
                        encode_pipeline.parse(part, slim=True).drop("text")
                    )
                    s["attrs"]["rows"] = rows
                out["rows"] += rows
                with tracer.span("dictionaries.build"):
                    lt, out["logtype_entries"] = materialize(
                        dictionaries.build_logtype_dict(parsed, lt_old)
                    )
                    vd, out["var_entries"] = materialize(
                        dictionaries.build_var_dict_hash(parsed, var_old)
                    )
                with tracer.span("encode_pipeline.encode"):
                    # the dictionaries just built are passed as existing, so
                    # encode adds no entries and this span is the ID encode
                    encoded, _, _ = encode_pipeline.encode(
                        part, key_cols=KEYS, existing_logtype_dict=lt,
                        existing_var_dict=vd, var_id_mode="hash",
                        pre_parsed=parsed,
                    )
                    encoded, _ = materialize(encoded)
                with tracer.span("enrich.enrich"):
                    enriched = enrich.enrich(
                        encoded, transcripts.role_dim(spark), transcripts.tool_dim(spark)
                    )
                    enriched = route.with_logtype_class(
                        enriched.join(F.broadcast(lt), "logtype_id")
                    ).drop("logtype").withColumn("epoch_part", F.lit(p))
                    enriched, _ = materialize(enriched)
                with tracer.span("route.route") as route_span:

                    def write(kind: str) -> None:
                        with tracer.span("route.write", parent=route_span, kind=kind):
                            spark.sparkContext.setLocalProperty(
                                "spark.scheduler.pool", f"epoch-{p}-sink-{kind}"
                            )
                            df = enriched.withColumn(
                                kind, F.coalesce(F.col(kind), F.lit(NULL_KEY))
                            )
                            store.overwrite_partitions(
                                route.salted(
                                    df, parallelism, kind, salt_buckets=SALT_BUCKETS
                                ).sortWithinPartitions(*KEYS),
                                f"by_{kind}", ["epoch_part", kind],
                            )

                    with ThreadPoolExecutor(len(SINK_KINDS)) as pool:
                        list(pool.map(write, SINK_KINDS))
                with tracer.span("dictstore.save"):
                    dictstore.save_dict(dicts, "logtype", lt)
                    dictstore.save_dict(dicts, "var", vd)
            for df in cached + [parsed, lt, vd, encoded, enriched]:
                df.unpersist()
    out["route_bytes"], out["route_files"] = dir_bytes(sinks)
    out["dict_bytes"], _ = dir_bytes(root / "dicts")
    return out


def _open_archive(spark, tracer, pipe):
    from clp_core_spark.plans import dictstore

    with tracer.span("dictstore.load"):
        lt, _ = materialize(dictstore.load_dict(spark, pipe.dicts_path, "logtype"))
        vd, _ = materialize(dictstore.load_dict(spark, pipe.dicts_path, "var"))
    return lt, vd


def _search_walk(spark, tracer, pipe, lt, vd, q, want, outcomes) -> dict:
    import pyspark.sql.functions as F

    from clp_core_spark.operators import aggregate, encode_pipeline
    from clp_core_spark.operators import search as search_op

    rec = {"shape": q.shape}
    with tracer.span("search.shape", shape=q.shape):
        with tracer.span("pipeline.epochs_for_range"):
            epochs = pipe.epochs_for_range(q.ts_begin_ms, q.ts_end_ms)
        rec["epochs_selected"] = len(epochs)
        with tracer.span("search.compile") as s:
            compiled = search_op.compile_query(q.text, lt, vd, ignore_case=q.ignore_case)
        rec["compile_jobs"] = s["attrs"].get("spark_jobs", 0)
        encoded = pipe.read_sink("role", epochs=epochs)
        with tracer.span("search.execute"):
            hits, rec["hits"] = materialize(search_op.search(
                encoded, lt, vd, compiled, KEYS,
                ts_begin_ms=q.ts_begin_ms, ts_end_ms=q.ts_end_ms,
                select_cols=["ts"] if q.by_time else None,
            ))
        got = rec["hits"]
        if q.by_time:
            with tracer.span("aggregate.count_by_time"):
                rows = aggregate.count_by_time(hits, bucket_ms=BUCKET_MS).collect()
            got = sorted((r["bucket_ts"], r["count"]) for r in rows)
        outcomes.check(f"layer walk {q.shape}", got == want, f"got {got!r:.200}")

        # logtype ids per subquery; large hit sets are lazy frames
        def ids(sub):
            if sub.logtype_df is None:
                return set(sub.logtype_ids)
            return {r[0] for r in sub.logtype_df.collect()}

        rec["subqueries"] = len(compiled.sub_queries)
        rec["candidate_logtypes"] = len(set().union(*map(ids, compiled.sub_queries)))
        verify_ids = set().union(
            *[ids(s) for s in compiled.sub_queries if s.wildcard_match_required]
        )
        rec["verify_candidate_rows"] = 0
        if verify_ids:
            cand = encoded.filter(F.col("logtype_id").isin(sorted(verify_ids)))
            epoch_ms = F.unix_millis(F.col("ts").cast("timestamp"))
            if q.ts_begin_ms is not None:
                cand = cand.filter(epoch_ms >= q.ts_begin_ms)
            if q.ts_end_ms is not None:
                cand = cand.filter(epoch_ms <= q.ts_end_ms)
            rec["verify_candidate_rows"] = cand.count()
            rec["verify_decode_join"] = decode_uses_join(
                encode_pipeline.decode(cand, lt, vd, KEYS, slim_to_needed=True)
            )
    hits.unpersist()
    return rec


def _decompress_walk(spark, tracer, pipe, out, want_text, outcomes) -> dict:
    from clp_core_spark.operators import encode_pipeline, sinks

    with tracer.span("decompress.walk"):
        lt, vd = _open_archive(spark, tracer, pipe)
        with tracer.span("encode_pipeline.decode"):
            decoded = encode_pipeline.decode(pipe.read_sink("role"), lt, vd, KEYS)
            uses_join = decode_uses_join(decoded)
            decoded, _ = materialize(decoded.select(*KEYS, "decoded_text"))
        with tracer.span("sinks.write_ordered_text"):
            sinks.write_ordered_text(decoded, str(out), KEYS, partitions=32)
    check_text(out, want_text, outcomes)
    for df in (decoded, lt, vd):
        df.unpersist()
    return {"decode_join": uses_join, "text_bytes": dir_bytes(out)[0]}


def walk(spark, cfg, tracer, pipe, input_df, mix, want, want_text, outcomes) -> dict:
    """Run every layer of the product path once and return the per-layer
    metrics. Each walk follows the same product call, so the two are
    equally warm and their ratio is the tracing overhead."""
    ing = _ingest_walk(spark, tracer, input_df, cfg.work / "walk_archive")
    with tracer.span("product.ingest_warm"):
        ingest(spark, input_df, cfg.work / "warm_archive")
    for q in mix:
        timed_request(tracer, pipe, q, want[q], outcomes)
    # a product search opens the archive itself; the walk opens it once
    # for the whole mix, inside its own span
    with tracer.span("search.walk"):
        lt, vd = _open_archive(spark, tracer, pipe)
        searches = [_search_walk(spark, tracer, pipe, lt, vd, q, want[q], outcomes)
                    for q in mix]
    lt.unpersist()
    vd.unpersist()
    timed_decompress(tracer, pipe, cfg.work / "text", want_text, outcomes)
    dec = _decompress_walk(
        spark, tracer, pipe, cfg.work / "walk_text", want_text, outcomes
    )

    spans = tracer.finished()

    def total(name):
        return sum(s["dur"] for s in spans if s["name"] == name)

    def mean(name):
        return statistics.mean(s["dur"] for s in spans if s["name"] == name)

    ledger_wall = sum(r["wall_sec"] for r in pipe.ledger().collect())
    verify = [r for r in searches if r["verify_candidate_rows"]]
    ranged = [r for r, q in zip(searches, mix) if q.ts_begin_ms is not None]
    parse_s = total("encode_pipeline.parse")
    return {
        "encode_pipeline.parse_s": parse_s,
        "encode_pipeline.parse_rows_per_s": ing["rows"] / parse_s,
        "dictionaries.build_s": total("dictionaries.build"),
        "dictionaries.logtype_entries": ing["logtype_entries"],
        "dictionaries.var_entries": ing["var_entries"],
        "encode_pipeline.encode_s": total("encode_pipeline.encode"),
        "enrich.enrich_s": total("enrich.enrich"),
        "route.route_s": total("route.route"),
        "route.bytes_written": ing["route_bytes"],
        "route.files_written": ing["route_files"],
        "dictstore.save_s": total("dictstore.save"),
        "dictstore.bytes_written": ing["dict_bytes"],
        "pipeline.epoch_wall_s": ledger_wall,
        "pipeline.outside_epochs_s": total("setup.ingest") - ledger_wall,
        "dictstore.load_s": statistics.median(
            s["dur"] for s in spans if s["name"] == "dictstore.load"
        ),
        "pipeline.epochs_for_range_s": mean("pipeline.epochs_for_range"),
        "pipeline.epochs_selected": ranged[0]["epochs_selected"],
        "pipeline.epochs_total": len(pipe.epochs_for_range()),
        "search.compile_s": mean("search.compile"),
        "search.compile_jobs": sum(r["compile_jobs"] for r in searches),
        "search.subqueries": sum(r["subqueries"] for r in searches),
        "search.candidate_logtypes": sum(r["candidate_logtypes"] for r in searches),
        "search.execute_s": mean("search.execute"),
        "search.hits": sum(r["hits"] for r in searches),
        "search.verify_candidate_rows": sum(r["verify_candidate_rows"] for r in verify),
        "search.hit_ratio": sum(r["hits"] for r in verify)
        / sum(r["verify_candidate_rows"] for r in verify),
        "search.verify_decode_join_path": int(any(r["verify_decode_join"] for r in verify)),
        "aggregate.count_by_time_s": total("aggregate.count_by_time"),
        "encode_pipeline.decode_s": total("encode_pipeline.decode"),
        "encode_pipeline.decode_join_path": int(dec["decode_join"]),
        "sinks.write_ordered_text_s": total("sinks.write_ordered_text"),
        "sinks.bytes_written": dec["text_bytes"],
        "trace.ingest_overhead_ratio": total("ingest.walk")
        / total("product.ingest_warm") - 1,
        "trace.search_overhead_ratio": total("search.walk")
        / total("product.request") - 1,
        "trace.decompress_overhead_ratio": total("decompress.walk")
        / total("product.decompress") - 1,
    }
