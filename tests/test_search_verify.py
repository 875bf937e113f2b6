"""The residual verify in driver memory: a residue within
``dictionaries.VERIFY_DRIVER_MAX`` rows, with both dictionaries held, is
collected once and decoded and wildcard-matched on the driver. It must
return the distributed verify's hits (decode UDF + ``rlike``), start no
Python worker, and keep timestamps exact in any process zone; probes of a
held var dictionary launch no job."""

import time

import pyspark.sql.functions as F
import pytest

from clp_core_spark.functions.wildcard import wildcard_to_regex
from clp_core_spark.operators import aggregate, dictionaries, encode_pipeline, search
from clp_core_spark.plans.pipeline import IngestPipeline
from clp_core_spark.sources.transcripts import generate_transcripts

KEYS = ["conv_id", "turn_idx"]


def _keys(df):
    return {(r["conv_id"], r["turn_idx"]) for r in df.collect()}


@pytest.fixture(scope="module")
def source(spark):
    return generate_transcripts(spark, num_turns=2000, seed=5)


@pytest.fixture(scope="module")
def pipe(spark, source, tmp_path_factory):
    """A 2000-turn single-epoch archive (parquet sinks: no cached plan
    shows up in the executed plans)."""
    p = IngestPipeline(spark, str(tmp_path_factory.mktemp("verify") / "work"), num_partitions=1)
    p.run(source)
    return p


def _dict_prefix(source) -> str:
    """A dictionary-variable prefix query: a hex prefix with a letter and
    a digit is neither int nor float, so compiling it probes the var
    dictionary."""
    import re

    for r in source.where(F.col("text").startswith("session token ")).select("text").collect():
        prefix = re.search(r"parent ([0-9a-f]+)", r["text"]).group(1)[:4]
        if re.search("[a-f]", prefix) and re.search("[0-9]", prefix):
            return f"parent {prefix}*"
    raise AssertionError("no parent hex with a letter and a digit")


def _sql_plans(spark) -> dict:
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        runs.apply(i).executionId(): runs.apply(i).physicalPlanDescription()
        for i in range(runs.size())
    }


def _job_descriptions(spark, first: int, last: int) -> list:
    """The description of each job with id in [first, last), None when unset."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in range(first, last):
        d = store.job(j).description()
        out.append(d.get() if d.isDefined() else None)
    return out


def test_verify_within_bound_runs_no_python_udf(spark, pipe):
    """A verify search within the bound executes no ArrowEvalPython or
    BatchEvalPython node: the only job it runs over the archive is the
    residue collect."""
    query = "session token *a* refreshed"
    last = max(_sql_plans(spark), default=-1)
    n = pipe.search(query).count()
    plans = [p for i, p in _sql_plans(spark).items() if i > last]
    assert n > 0 and plans
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    # the distributed verify of the same residue does run the decode UDF
    with pytest.MonkeyPatch.context() as m:
        m.setattr(dictionaries, "VERIFY_DRIVER_MAX", 0)
        last = max(_sql_plans(spark))
        assert pipe.search(query).count() == n
        plans = [p for i, p in _sql_plans(spark).items() if i > last]
    assert any("ArrowEvalPython" in p for p in plans)


def test_held_var_dictionary_probes_launch_no_job(spark, source, pipe):
    """On an opened pipeline whose var dictionary holds its driver copy
    (a verify decode took it), a dictionary-prefix request compiles with
    no Spark job: the only job is its residue collect, described
    ``search:verify-residue``. A distributed probe is described
    ``search:probe``, and the thread's own description comes back."""
    sc = spark.sparkContext
    pipe.search("session token *a* refreshed").count()  # takes the copies
    assert dictionaries.has_driver_copy(pipe._dict("var"))
    query = _dict_prefix(source)
    scheduler = sc._jsc.sc().dagScheduler()
    sc.setJobDescription("caller")
    try:
        before = int(scheduler.nextJobId())
        hits = pipe.search(query)
        after = int(scheduler.nextJobId())
        assert _job_descriptions(spark, before, after) == ["search:verify-residue"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert hits.count() > 0

        fresh = pipe._dict("var").select("*")  # no copy: probes distributed
        before = int(scheduler.nextJobId())
        search.compile_query(query, pipe._dict("logtype"), fresh)
        after = int(scheduler.nextJobId())
        assert set(_job_descriptions(spark, before, after)) == {"search:probe"}
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_count_by_time_equal_on_both_paths_in_a_non_utc_zone(spark, pipe, monkeypatch):
    """Verify hits carry ``ts`` out of the driver path as unix_micros, so
    count_by_time buckets equal the distributed path's when the Python
    process runs in another zone than the session (UTC)."""
    query = "Retrying request id *"
    monkeypatch.setenv("TZ", "IST-05:30")
    time.tzset()
    try:
        def buckets():
            return [tuple(r) for r in pipe.count_by_time(query, bucket_ms=600_000).collect()]

        on_driver = buckets()
        monkeypatch.setattr(dictionaries, "VERIFY_DRIVER_MAX", 0)
        distributed = buckets()
        assert on_driver == distributed and sum(c for _, c in on_driver) > 0
        hits = pipe.search(query, select_cols=["ts"])
        assert aggregate.count_all(hits).collect()[0]["count"] == sum(
            c for _, c in on_driver
        )
    finally:
        monkeypatch.undo()
        time.tzset()


ADVERSARIAL_TEXTS = [
    "İstanbul id 42 ok",
    "istanbul id 42 ok",
    "STRASSE ß id 7",
    "strasse SS id 7",
    "ΟΔΥΣΣΕΥΣ says 12 times",
    "οδυσσευς says 12 times",
    "line one 5\nline two 6",
    "nul\x00byte 9 here",
    "back\\slash 3 C:\\dir\\x1",
    "ph \x11 \x12 \x13 bytes 4",
    "escaped \\\x11 then 8",
    "mixed Σ final 77 ΑΣ",
    "star * and ? marks 1",
    "emoji 😀 token a1b2",
    "",
]

ADVERSARIAL_QUERIES = [
    "*id 4*",                 # int var prefix: verify
    "*i?tanbul id *",         # '?' verify
    "*STRASSE ß id ?*",
    "*ss id ?*",
    "*odyss*",
    "*Σ*1?*",
    "*one ?\nline*",
    "*nul?byte 9*",
    "*\\\\slash ?*",
    "*\x11*4*",
    "*\\\\\x11 then ?*",
    "*final 7?*",
    "*star \\* and ? marks 1*",
    "*😀 token a1*",
    "?",
    "???????",
    "*STRASSE ? id ?*",       # '?' in a subquery with no variable
    "*star ? and \\? marks 1*",  # escaped '?' is a literal
]


@pytest.fixture(scope="module")
def adversarial(spark):
    rows = [(f"c{i:02d}", i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    df = df.withColumn("ts", F.timestamp_seconds(F.col("turn_idx") * 3600))
    encoded, lt, vd = encode_pipeline.encode(df, key_cols=KEYS, keep_text=True)
    # one partition each: fifteen rows need no parallel tasks
    return df.coalesce(1).localCheckpoint(), encoded.coalesce(1).localCheckpoint(), lt, vd


@pytest.mark.parametrize("ignore_case", [False, True])
def test_adversarial_text_driver_verify_equals_distributed(adversarial, monkeypatch, ignore_case):
    """Non-ASCII case folding, newlines, NUL, backslashes and placeholder
    bytes: the driver verify returns the distributed verify's hits, and
    both equal a naive rlike scan of the raw text."""
    df, encoded, lt, vd = adversarial
    for q in ADVERSARIAL_QUERIES:
        col, pat = F.col("text"), q
        if ignore_case:
            col, pat = F.lower(col), q.lower()
        want = _keys(df.filter(col.rlike(wildcard_to_regex(pat))))
        got = _keys(search.search_text(encoded, lt, vd, q, KEYS, ignore_case=ignore_case, wrap=False))
        with monkeypatch.context() as m:
            m.setattr(dictionaries, "VERIFY_DRIVER_MAX", 0)
            dist = _keys(search.search_text(
                encoded, lt, vd, q, KEYS, ignore_case=ignore_case, wrap=False
            ))
        assert got == dist == want, (q, ignore_case, got ^ want, dist ^ want)


def test_driver_copy_builds_one_lookup_map_under_threads():
    """Epoch-scope search verifies from driver threads: racing first
    lookups of a driver copy must all get the one map that was built."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    frame = pd.DataFrame({"var_id": range(20_000), "var_str": [f"v{i}" for i in range(20_000)]})
    copy = dictionaries.DriverCopy(None, frame)
    barrier = threading.Barrier(16, timeout=30)

    def use(_):
        barrier.wait()
        return copy.lookup("var_id", "var_str")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            got = list(pool.map(use, range(64), timeout=60))
    finally:
        sys.setswitchinterval(old)
    assert len({id(m) for m in got}) == 1
    assert got[0][19_999] == "v19999"
