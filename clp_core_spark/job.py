"""Cluster job entry point — the `spark-submit --py-files` surface.

CLP's production shape is a scheduler that dispatches one compression
task per archive partition to a worker fleet
(job_orchestration/executor/compress/compression_task.py:208-360). Here
the whole parse -> encode -> enrich -> route pipeline is ONE Spark
application: partition-level parallelism is Spark's task scheduling, and
the per-partition checkpoint ledger (plans/pipeline.py) gives the same
crash-resume unit CLP gets from its jobs DB.

Usage (cluster):

    python scripts/package_pyfiles.py                 # -> dist/clp_core_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/clp_core_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        $(python -c 'import clp_core_spark.job as j; print(j.__file__)') \
        --input /data/transcripts --work-root /data/clp_work \
        --num-partitions 256 --metrics-out metrics.json

Usage (local smoke / bench):

    python -m clp_core_spark.job --generate 10000 \
        --work-root /tmp/clp_job --master 'local[8]'

`--master` defaults to inheriting whatever the launcher set (spark-submit
--master); the SPARK_GRAFT_MASTER env or the flag override it for local
runs.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="clp_core_spark.job",
        description="Resumable CLP-semantics parse->encode->route pipeline",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="path of the transcripts table (parquet)")
    src.add_argument(
        "--generate",
        type=int,
        metavar="N_TURNS",
        help="synthesize a deterministic N-turn transcripts table instead",
    )
    src.add_argument(
        "--json-input",
        help="clp-s analog: parquet table holding a JSON string column;"
             " ingests it clp_s-style (typed leaves + schema IDs +"
             " CLP-encoded ClpString columns) and serves --kql searches",
    )
    p.add_argument("--json-col", default="js",
                   help="JSON column name for --json-input (default: js)")
    p.add_argument("--key-col", default=None,
                   help="unique record id column for --json-input"
                        " (default: the table's first column)")
    p.add_argument("--kql", default=None, metavar="QUERY",
                   help="KQL query to run over the --json-input archive"
                        " (clp-s s); dictionary searches on ClpString"
                        " columns, any AND/OR/NOT nesting")
    p.add_argument("--clp-string-cols", nargs="*", default=None,
                   help="flattened names of string leaves to CLP-encode"
                        " in the SAME pass as the JSON flatten; default:"
                        " auto-detect from the schema tree (second pass)")
    p.add_argument("--hits-out", default=None, metavar="DIR",
                   help="write --kql matching records to DIR as parquet")
    p.add_argument("--decode-strings", action="store_true",
                   help="re-attach decoded text for the CLP-encoded"
                        " string columns in --hits-out (clp_s marshals"
                        " whole records back in results)")
    p.add_argument("--project", default=None, metavar="PATHS",
                   help="comma-separated leaf paths to keep in"
                        " --hits-out (clp_s --projection); encoded"
                        " string leaves decode automatically")
    p.add_argument("--work-root", default=None, help="ledger/dicts/sinks root")
    p.add_argument("--num-partitions", type=int, default=16,
                   help="checkpoint partitions (pmod(xxhash64(conv_id), N))")
    p.add_argument("--partitions", type=int, nargs="*", default=None,
                   help="process only these partition ids (default: all pending)")
    p.add_argument("--metrics-out", default=None,
                   help="write aggregate throughput metrics JSON here")
    p.add_argument("--var-id-mode", choices=["hash", "dense"], default="hash",
                   help="dense = archival dictionary IDs (better at-rest"
                        " ratio); hash = shuffle-free routing fast path")
    p.add_argument("--write-glt", action="store_true",
                   help="also write a logtype-clustered archival copy")
    p.add_argument("--dict-budget", type=int, default=None,
                   help="max NEW dictionary entries per committed sub-epoch;"
                        " oversized partitions split (archive-rollover"
                        " analog)")
    p.add_argument("--table-mode", choices=["auto", "parquet", "iceberg"],
                   default="auto",
                   help="sink table format: Iceberg when its runtime is on"
                        " the classpath (auto/iceberg), parquet otherwise")
    p.add_argument("--dict-scope", choices=["global", "epoch"],
                   default="global",
                   help="epoch = per-archive dictionaries (CLP layout);"
                        " enables --max-concurrent > 1")
    p.add_argument("--max-concurrent", type=int, default=1,
                   help="partition jobs kept in flight at once (requires"
                        " --dict-scope epoch); keeps a large cluster busy"
                        " between epochs")
    p.add_argument("--master", default="",
                   help="Spark master override (default: inherit from launcher)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--search", default=None, metavar="WILDCARD",
                   help="after ingest, run a dictionary search over the"
                        " archive and print the match count (clp s)")
    p.add_argument("--ignore-case", action="store_true",
                   help="case-insensitive --search / --kql dictionary"
                        " comparisons (clp/clo --ignore-case)")
    p.add_argument("--tags", nargs="*", default=None, metavar="TAG",
                   help="stamp these tags on every epoch this run"
                        " commits (clp compress --tags)")
    p.add_argument("--search-tags", nargs="*", default=None, metavar="TAG",
                   help="restrict --search to epochs carrying ANY of"
                        " these tags (scheduler tag pruning)")
    p.add_argument("--decompress-to", default=None, metavar="DIR",
                   help="after ingest, reconstruct the original text into"
                        " DIR in stable order (clp x)")
    return p


def _run_json_job(spark, args) -> int:
    """The clp-s surface: ingest a JSON column clp_s-style and answer a
    KQL query dictionary-first (clp_s/clp_s.cpp compress/search verbs).
    With --clp-string-cols the CLP tokenize fuses into the flatten
    projection (one corpus scan); without it the ClpString set is
    auto-detected from the schema tree's space rule (a second pass)."""
    from clp_core_spark.operators import clps_search, semistructured

    df = spark.read.parquet(args.json_input)
    key = args.key_col or df.columns[0]
    # this process owns every corpus-sized cache the parse/encode takes:
    # a long-lived driver running many searches must not accumulate one
    # persisted relation per invocation
    owned: list = []
    enc, tree, smap = semistructured.encode_semistructured(
        df, args.json_col, key_cols=[key],
        clp_string_cols=args.clp_string_cols,
        owned_persists=owned,
    )
    if args.clp_string_cols is not None:
        clp_cols = list(args.clp_string_cols)
    else:
        clp_cols = [
            r["path"].replace(".", "__")
            for r in tree.collect()
            if r["node_type"] == semistructured.T_CLPSTRING
        ]
    enc2, dicts = clps_search.encode_clpstring_columns(
        enc, clp_cols, key_cols=[key], owned_persists=owned,
    )
    try:
        out = {
            "records": enc2.count(),
            "schemas": smap.count(),
            "clp_string_cols": clp_cols,
        }
        if args.kql:
            from clp_core_spark.operators.kql import unstructured_array_cols

            hits = clps_search.kql_filter_clps(
                enc2, args.kql, dicts, [key],
                array_cols=unstructured_array_cols(tree),
                ignore_case=args.ignore_case,
            )
            if args.hits_out:
                out_df = hits
                if args.project is not None:
                    # clp_s --projection (clp_s/search/Projection.cpp):
                    # results carry only the named leaves; encoded string
                    # leaves among them decode to their original values
                    wanted = [
                        p.strip().replace(".", "__")
                        for p in args.project.split(",")
                        if p.strip()
                    ]
                    for c in wanted:
                        if c in clp_cols:
                            out_df = clps_search.decode_clpstring_column(
                                out_df, c, dicts, [key]
                            )
                    out_df = out_df.select(key, *wanted)
                elif args.decode_strings:
                    for c in clp_cols:
                        out_df = clps_search.decode_clpstring_column(
                            out_df, c, dicts, [key]
                        )
                out_df.write.mode("overwrite").parquet(args.hits_out)
            out["kql"] = args.kql
            out["matches"] = hits.count()
    finally:
        # results are materialized (counts/parquet) — release the caches
        for p in owned:
            p.unpersist()
    print(json.dumps(out))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    if args.json_input is None and args.work_root is None:
        build_arg_parser().error("--work-root is required unless --json-input")

    from clp_core_spark.plans.pipeline import IngestPipeline
    from clp_core_spark.session import get_spark
    from clp_core_spark.sources import transcripts

    spark = get_spark(
        "clp-core-spark-job",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    try:
        if args.json_input is not None:
            return _run_json_job(spark, args)
        if args.generate is not None:
            input_df = transcripts.generate_transcripts(spark, num_turns=args.generate)
        else:
            input_df = spark.read.parquet(args.input)

        pipe = IngestPipeline(
            spark,
            args.work_root,
            num_partitions=args.num_partitions,
            var_id_mode=args.var_id_mode,
            write_glt=args.write_glt,
            dict_budget=args.dict_budget,
            table_mode=args.table_mode,
            dict_scope=args.dict_scope,
            max_concurrent=args.max_concurrent,
            tags=args.tags,
        )
        pipe.run(input_df, partitions=args.partitions)
        blob = pipe.emit_metrics(args.metrics_out)
        print(blob)
        if args.search is not None:
            print(json.dumps({
                "query": args.search,
                "matches": pipe.search(
                    args.search,
                    ignore_case=args.ignore_case,
                    tags=args.search_tags,
                ).count(),
            }))
        if args.decompress_to is not None:
            pipe.decompress_to_text(args.decompress_to)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
