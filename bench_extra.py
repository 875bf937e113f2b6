"""Extra benchmarks / profiling for the optimization rounds (guide §1).

NOT part of the frozen bench contract — bench.py is the driver's metric.
This harness isolates, per declared query:
  * build_s  — driver-side DataFrame construction (query compile: dict
    probes, collects, LUT builds) which bench.py's timed window includes
  * exec_s   — the .count() over the built DataFrame (noop-style: count
    on the final df, matching bench.py's methodology)
and writes .explain("formatted") for each query to plans/r06/.

Usage:
  python bench_extra.py [--queries q1,q2] [--plans-dir plans/r06] \
      [--tag before] [--reps 3]
Writes JSON to BENCH/extra_<tag>.json and plans to
plans/r06/<query>_<tag>.txt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

from clp_core_spark.session import get_spark  # noqa: E402


def at_rest_registry(spark, sf_dir: str) -> dict:
    """The round-5 verdict's next-round item #1: time the FULL
    clp_search_* family against AT-REST archives (GLT-clustered vs flat
    parquet on disk, session cache cleared, dictionaries re-read from
    dictstore) rather than the cache-resident corpora the per-query
    bench uses. Covers every registry query that is a plain dictionary
    search over the events/floats corpora; per query: wall seconds on
    both layouts, hits, and distinct files containing hits (the
    layout-skipping evidence). bench.py stays frozen — this leg lives
    here and writes BENCH/at_rest_registry.json."""
    import __spark_entry__ as entry
    from clp_core_spark.operators import encode_pipeline, route
    from clp_core_spark.operators import search as search_op
    from clp_core_spark.plans import dictstore

    root = os.environ.get("SPARK_GRAFT_ATREST_DIR", "/tmp/clp_atrest_reg")
    out: dict = {"sf_dir": sf_dir, "corpora": {}}
    # (corpus, key, registry query name, pattern, kwargs)
    registry = [
        ("events", "clp_search_int", "*user=13 *", {}),
        ("events", "clp_search_midstar", "*sig*up*", {}),
        ("events", "clp_search_dictvar", "*v1234*", {}),
        ("events", "clp_search_broad_dictvar", "*v1*", {}),
        ("events", "clp_search_regex", "*evt sig?up *", {}),
        ("events", "clp_search_ignorecase", "*ERROR*", {"ignore_case": True}),
        ("events", "clp_search_qmark", "*user=1? *", {}),
        ("events", "clp_search_two_vars", "*user=13 props=* v1*", {}),
        ("events", "clp_search_time_range", "*user=13 *",
         {"ts_begin_ms": 1704844800000, "ts_end_ms": 1705449600000}),
        ("floats", "clp_search_float", "*q=3.5*", {}),
    ]
    n_parts = 32
    for corpus in ("events", "floats"):
        if corpus == "events":
            src = entry._event_lines(spark, sf_dir)
        else:
            src = entry._float_lines(spark, sf_dir)
        keys = ["event_id"]
        enc, lt, vd = encode_pipeline.encode(src, key_cols=keys)
        croot = f"{root}/{corpus}"
        glt_path, flat_path = f"{croot}/glt", f"{croot}/flat"
        route.write_glt_layout(
            enc, glt_path, partitions=n_parts, order_cols=tuple(keys),
            combine_threshold=0.001,
        )
        enc.repartition(n_parts, *[F.col(k) for k in keys]).write.mode(
            "overwrite"
        ).parquet(flat_path)
        dictstore.save_dict(croot, "logtype", lt)
        dictstore.save_dict(croot, "var", vd)

        spark.catalog.clearCache()
        lt2 = dictstore.load_dict(spark, croot, "logtype")
        vd2 = dictstore.load_dict(spark, croot, "var")
        stats: dict = {}
        for cname, qname, pattern, kw in registry:
            if cname != corpus:
                continue
            ic = kw.get("ignore_case", False)
            compiled = search_op.compile_query(
                pattern, lt2, vd2, ignore_case=ic
            )
            skw = {k: v for k, v in kw.items() if k != "ignore_case"}
            rec: dict = {}
            for layout, path in (("glt", glt_path), ("flat", flat_path)):
                df = spark.read.parquet(path)
                hits = search_op.search(df, lt2, vd2, compiled, keys, **skw)
                best, nh = None, 0
                for _ in range(2):
                    t0 = time.time()
                    nh = hits.count()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                rec[f"{layout}_sec"] = round(best, 3)
                rec[f"{layout}_hits"] = nh
                with_f = spark.read.parquet(path).withColumn(
                    "_f", F.input_file_name()
                )
                rec[f"{layout}_files_hit"] = (
                    search_op.search(
                        with_f, lt2, vd2, compiled, keys, select_cols=["_f"],
                        **skw,
                    ).select("_f").distinct().count()
                )
            g, f = rec["glt_sec"], rec["flat_sec"]
            rec["flat_over_glt"] = round(f / g, 2) if g > 0 else None
            stats[qname] = rec
            print(f"at_rest {qname}: glt {rec['glt_sec']}s"
                  f" ({rec['glt_files_hit']} files)"
                  f" flat {rec['flat_sec']}s ({rec['flat_files_hit']} files)",
                  flush=True)
        out["corpora"][corpus] = {"files_total": n_parts, "queries": stats}
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--plans-dir", default="plans/r06")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=lambda v: max(1, int(v)), default=3)
    ap.add_argument("--skip-plans", action="store_true")
    ap.add_argument("--at-rest-registry", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "clp-bench-extra",
        shuffle_partitions=max(int(cpus), 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "400k",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.at_rest_registry:
        res = at_rest_registry(spark, sf_dir)
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/at_rest_registry.json", "w") as f:
            json.dump(res, f, indent=1)
        print(json.dumps({"at_rest_registry": "BENCH/at_rest_registry.json"}))
        spark.stop()
        return

    import __spark_entry__ as entry

    t0 = time.time()
    entry.warm_archives(spark, sf_dir)
    warm_s = time.time() - t0

    qs = entry.queries()
    picks = [q for q in args.queries.split(",") if q] or list(qs)
    os.makedirs(args.plans_dir, exist_ok=True)

    out: dict = {"warm_archives_s": round(warm_s, 2), "queries": {}}
    for name in picks:
        spark.sparkContext.setJobDescription(f"{name} [{args.tag}]")
        samples = []
        df = None
        for _ in range(args.reps):
            tb = time.time()
            df = qs[name](spark, sf_dir)
            build_s = time.time() - tb
            te = time.time()
            n = df.count()
            exec_s = time.time() - te
            samples.append(
                {"build_s": round(build_s, 3), "exec_s": round(exec_s, 3)}
            )
        rec = {
            "n": n,
            "samples": samples,
            "build_min": min(s["build_s"] for s in samples),
            "exec_min": min(s["exec_s"] for s in samples),
            "total_min": min(
                s["build_s"] + s["exec_s"] for s in samples
            ),
        }
        out["queries"][name] = rec
        if not args.skip_plans:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as f:
                f.write(plan)
        print(
            f"{name}: build {rec['build_min']:.3f}s exec {rec['exec_min']:.3f}s"
            f" n={n}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    os.makedirs("BENCH", exist_ok=True)
    with open(f"BENCH/extra_{args.tag}.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "queries"}))
    spark.stop()


if __name__ == "__main__":
    main()
