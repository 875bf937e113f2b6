"""The spark-submit surface: clp_core_spark.job CLI + --py-files packaging.

North-rule requirement: the pipeline "runs via spark-submit --py-files on
multi-executor clusters". The sandbox has no cluster, so this exercises
(a) the job module end-to-end through its argparse entry (same code path
spark-submit drives), and (b) the packaging script producing the
--py-files artifact with a complete importable package.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_job_cli_end_to_end(tmp_path):
    work = str(tmp_path / "work")
    metrics = str(tmp_path / "metrics.json")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "-m", "clp_core_spark.job",
            "--generate", "3000",
            "--work-root", work,
            "--num-partitions", "4",
            "--master", "local[4]",
            "--shuffle-partitions", "8",
            "--metrics-out", metrics,
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    m = json.loads(open(metrics).read())
    assert m["partitions_done"] == 4
    # the generator targets ~N turns (conversation lengths vary)
    assert 0 < m["rows"] <= 3000
    assert m["turns_per_sec"] > 0
    # lineage ledger + dicts + all three sink families on disk
    assert os.path.isdir(f"{work}/ledger")
    assert os.path.isdir(f"{work}/dicts/logtype")
    for kind in ("role", "tool", "logtype_class"):
        assert os.path.isdir(f"{work}/sinks/by_{kind}")


def test_job_cli_resume_skips_done_partitions(tmp_path):
    work = str(tmp_path / "work")
    env = dict(os.environ, PYTHONPATH=REPO)
    args = [
        sys.executable, "-m", "clp_core_spark.job",
        "--generate", "2000", "--work-root", work,
        "--num-partitions", "4", "--master", "local[4]",
        "--shuffle-partitions", "8",
    ]
    first = subprocess.run(
        args + ["--partitions", "0", "1"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert first.returncode == 0, first.stderr[-3000:]
    m1 = json.loads(first.stdout.strip().splitlines()[-1])
    assert m1["partitions_done"] == 2

    second = subprocess.run(
        args, capture_output=True, text=True, env=env, timeout=600
    )
    assert second.returncode == 0, second.stderr[-3000:]
    m = json.loads(second.stdout.strip().splitlines()[-1])
    assert m["partitions_done"] == 4
    assert m["rows"] > m1["rows"]  # remaining partitions were processed


def test_pyfiles_zip_contains_full_package(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import package_pyfiles

    out = package_pyfiles.build(str(tmp_path / "clp_core_spark.zip"))
    names = set(zipfile.ZipFile(out).namelist())
    expected = {
        "clp_core_spark/__init__.py",
        "clp_core_spark/job.py",
        "clp_core_spark/session.py",
        "clp_core_spark/operators/encode_pipeline.py",
        "clp_core_spark/operators/search.py",
        "clp_core_spark/functions/tokenizer.py",
        "clp_core_spark/plans/pipeline.py",
    }
    assert expected <= names, expected - names
    # the zip alone must be importable (what --py-files ships)
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import clp_core_spark.job as j; "
        "p = j.build_arg_parser(); "
        "a = p.parse_args(['--generate','10','--work-root','/tmp/x']); "
        "print(a.num_partitions)"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, out],
        capture_output=True, text=True, timeout=60,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "16"
    shutil.rmtree(str(tmp_path / "work"), ignore_errors=True)


def test_job_cli_archival_mode(tmp_path):
    """--var-id-mode dense --write-glt: archival configuration produces
    the GLT copy and dense (small-int) dictionary IDs."""
    work = str(tmp_path / "work")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "-m", "clp_core_spark.job",
            "--generate", "2000", "--work-root", work,
            "--num-partitions", "2", "--master", "local[4]",
            "--shuffle-partitions", "8",
            "--var-id-mode", "dense", "--write-glt",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert os.path.isdir(f"{work}/glt/epoch_part=0")
    assert os.path.isdir(f"{work}/glt/epoch_part=1")
    # dense IDs are 0..n-1, not 64-bit hashes
    import duckdb

    mx, n = duckdb.sql(
        f"SELECT max(var_id), count(*) FROM '{work}/dicts/var/*.parquet'"
    ).fetchall()[0]
    assert mx == n - 1
    # GLT copy holds every routed row exactly once per epoch partition
    glt_n = duckdb.sql(
        f"SELECT count(*) FROM '{work}/glt/*/*.parquet'"
    ).fetchall()[0][0]
    ledger_rows = duckdb.sql(
        f"SELECT sum(n_rows) FROM '{work}/ledger/*.parquet'"
    ).fetchall()[0][0]
    assert glt_n == ledger_rows


def test_job_cli_json_mode(tmp_path, spark):
    """The clp-s verb pair through the CLI: --json-input ingests a JSON
    column clp_s-style (fused ClpString encode) and --kql answers a
    boolean-tree query dictionary-first; --hits-out lands the matches."""
    src = str(tmp_path / "json_src")
    rows = [
        (i, '{"msg": "req num %d done", "user": %d}' % (i, i)) for i in range(200)
    ]
    spark.createDataFrame(rows, "rid long, js string").write.parquet(src)

    hits_out = str(tmp_path / "hits")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "-m", "clp_core_spark.job",
            "--json-input", src,
            "--json-col", "js",
            "--key-col", "rid",
            "--clp-string-cols", "msg",
            "--kql", 'msg: "*num 12*" AND user > 5',
            "--hits-out", hits_out,
            "--master", "local[4]",
            "--shuffle-partitions", "8",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["records"] == 200
    assert out["clp_string_cols"] == ["msg"]
    expect = {i for i in range(200) if "num 12" in f"req num {i} done" and i > 5}
    assert out["matches"] == len(expect)
    got = {r["rid"] for r in spark.read.parquet(hits_out).select("rid").collect()}
    assert got == expect


def test_job_cli_projection_decodes_strings(tmp_path, spark):
    """--project keeps only the named leaves in --hits-out and decodes
    CLP-encoded string leaves among them (clp_s --projection)."""
    src = str(tmp_path / "proj_src")
    rows = [
        (i, '{"msg": "call id %d ok", "n": %d, "tag": "t%d"}' % (i, i, i))
        for i in range(40)
    ]
    spark.createDataFrame(rows, "rid long, js string").write.parquet(src)
    hits_out = str(tmp_path / "hits")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "-m", "clp_core_spark.job",
            "--json-input", src, "--key-col", "rid",
            "--clp-string-cols", "msg",
            "--kql", "n > 35",
            "--hits-out", hits_out, "--project", "msg,n",
            "--master", "local[4]", "--shuffle-partitions", "8",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    back = spark.read.parquet(hits_out)
    assert back.columns == ["rid", "msg", "n"]
    got = sorted((r["rid"], r["msg"], r["n"]) for r in back.collect())
    assert got == [(i, f"call id {i} ok", i) for i in range(36, 40)]


def test_job_cli_ignore_case(tmp_path, spark):
    """--ignore-case flows from the CLI through kql_filter_clps: mixed-
    case messages match a lowercase query only when the flag is set
    (clp/clo forward --ignore-case end-to-end, fs_search_task.py:92-161)."""
    src = str(tmp_path / "ic_src")
    rows = [(i, '{"msg": "Req Num %d Done"}' % i) for i in range(30)]
    spark.createDataFrame(rows, "rid long, js string").write.parquet(src)
    env = dict(os.environ, PYTHONPATH=REPO)
    base = [
        sys.executable, "-m", "clp_core_spark.job",
        "--json-input", src, "--key-col", "rid",
        "--clp-string-cols", "msg",
        "--kql", 'msg: "req num 1*"',
        "--master", "local[4]", "--shuffle-partitions", "8",
    ]
    sensitive = subprocess.run(
        base, capture_output=True, text=True, env=env, timeout=600
    )
    assert sensitive.returncode == 0, sensitive.stderr[-3000:]
    assert json.loads(sensitive.stdout.strip().splitlines()[-1])["matches"] == 0
    relaxed = subprocess.run(
        base + ["--ignore-case"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert relaxed.returncode == 0, relaxed.stderr[-3000:]
    expect = sum(1 for i in range(30)
                 if f"req num {i} done".startswith("req num 1"))
    assert json.loads(relaxed.stdout.strip().splitlines()[-1])["matches"] == expect


def test_job_cli_tags_prune_search(tmp_path, spark):
    """--tags stamps every committed epoch; --search-tags prunes to
    tagged epochs before dispatch (the reference scheduler's tag filter,
    query_scheduler.py:381-386). A non-matching tag finds nothing."""
    work = str(tmp_path / "work")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "-m", "clp_core_spark.job",
            "--generate", "2000", "--work-root", work,
            "--num-partitions", "2", "--master", "local[4]",
            "--shuffle-partitions", "8",
            "--tags", "prod", "us-east",
            "--search", "*", "--search-tags", "prod",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()
             if x.startswith("{")]
    search_out = [x for x in lines if "query" in x][-1]
    rows_total = [x for x in lines if "rows" in x][-1]["rows"]
    assert search_out["matches"] == rows_total  # '*' matches every turn

    # in-process: a tag never stamped matches nothing; a stamped one all
    from clp_core_spark.plans.pipeline import IngestPipeline

    pipe = IngestPipeline(spark, work, num_partitions=2)
    assert {tuple(r["tags"]) for r in pipe.ledger().collect()} == {("prod", "us-east")}
    assert pipe.search("*", tags=["staging"]).count() == 0
    assert pipe.search("*", tags=["us-east"]).count() == rows_total


def test_json_search_releases_caches(tmp_path, spark):
    """The CLI search path owns its corpus-sized persists and releases
    them after materializing results: repeated searches in one driver
    process must not grow the persisted-RDD set."""
    import clp_core_spark.job as job

    src = str(tmp_path / "cache_src")
    rows = [(i, '{"msg": "req num %d done"}' % i) for i in range(50)]
    spark.createDataFrame(rows, "rid long, js string").write.parquet(src)

    def n_persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    args = job.build_arg_parser().parse_args([
        "--json-input", src, "--key-col", "rid",
        "--clp-string-cols", "msg", "--kql", 'msg: "*num 4*"',
    ])
    job._run_json_job(spark, args)
    baseline = n_persisted()
    for _ in range(2):
        job._run_json_job(spark, args)
    assert n_persisted() <= baseline


def test_tagged_epochs_corrupt_table_propagates(tmp_path, spark):
    """A missing ledger means 'untagged archive set' (matches
    nothing), but a CORRUPT ledger file must raise — swallowing the read
    error would silently report 0 matches for a tagged search."""
    import pytest

    from clp_core_spark.plans.pipeline import IngestPipeline

    work = str(tmp_path / "wrk")
    pipe = IngestPipeline(spark, work, num_partitions=2)
    assert pipe.tagged_epochs(["prod"]) == set()  # no tags ever written

    os.makedirs(f"{work}/ledger", exist_ok=True)
    with open(f"{work}/ledger/p0-s0.parquet", "wb") as f:
        f.write(b"this is not a parquet file")
    # a corrupt footer surfaces as a read error, not as "no tags"
    with pytest.raises(Exception, match="FOOTER|footer|Parquet"):
        pipe.tagged_epochs(["prod"])
