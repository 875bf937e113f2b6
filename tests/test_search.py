"""Golden query corpus: search-without-decompression must return exactly
the rows a naive wildcard scan of the raw text returns (the reference's
own correctness claim; corpus style of tests/test-clp_s-search.cpp:169-193).
"""

import pyspark.sql.functions as F
import pytest

from clp_core_spark.functions.wildcard import wildcard_to_regex
from clp_core_spark.operators import encode_pipeline, search

KEYS = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def corpus(spark, transcripts):
    encoded, lt, vd = encode_pipeline.encode(transcripts, key_cols=KEYS, keep_text=True)
    encoded = encoded.persist()
    encoded.count()
    return transcripts, encoded, lt, vd


def naive(transcripts, query, ignore_case=False):
    pat = "*" + query + "*"
    col = F.col("text")
    if ignore_case:
        col, pat = F.lower(col), pat.lower()
    rows = transcripts.filter(col.rlike(wildcard_to_regex(pat))).select(*KEYS).collect()
    return {(r["conv_id"], r["turn_idx"]) for r in rows}


def run(corpus_tuple, query, ignore_case=False, **kw):
    transcripts, encoded, lt, vd = corpus_tuple
    got = search.search_text(encoded, lt, vd, query, KEYS, ignore_case=ignore_case, **kw)
    return {(r["conv_id"], r["turn_idx"]) for r in got.collect()}


GOLDEN_QUERIES = [
    "static heartbeat ok",            # pure-logtype constants
    "heartbeat",                      # single constant token
    "assigned to container_",         # constant + prefix of dict var
    "Task 17 assigned",               # int var + constants
    "node-9",                         # int var at token edge
    "job=alpha",                      # '='-preceded dict var
    "*Abc10*",                        # substring w/ wildcards (search corpus probe)
    "container_*",                    # suffix-greedy dict var
    "*beat ok",                       # prefix wildcard
    "session token *ab* refreshed",   # mid-token wildcard fallback path
    "0.5",                            # float-var-looking token
    "847.47s",                        # float + trailing alpha => dict var
    "no_such_token_xyz987654",        # WontMatch path
    "deadbeef*",                      # hex var prefix
    "value 007",                      # unrepresentable int => dict var
    "Msg ?: \"Abc*\"",                # '?' wildcard (verify keeps original)
    "*",                              # SupercedesAll
    "???",                            # '?'-only: subqueries collapse to '*' but verify keeps '???'
    "?" * 50,                         # longer than short texts => must exclude them
    # tokenization-boundary zoo (style of tests/test_search_queries/easy.txt)
    "12.12",                          # bare float token
    "-12.5",                          # negative float
    "+42",                            # '+'-prefixed: not int-encodable => dict
    "21cba4321",                      # digit-alpha-digit var
    "asd123asd",                      # alpha-digit-alpha var
    "asd=",                           # trailing '=' (empty var position)
    "123,21:21:21",                   # punctuation-separated int vars
    "0x3f",                           # 0x hex literal
    "deadbeef",                       # bare multi-hex var, no wildcard
    "level=INFO",                     # '='-preceded pure-alpha var
    "*=alpha*",                       # wildcard around '='-rule boundary
    "007*",                           # zero-padded prefix (dict, not int)
    "*-9 *",                          # wildcard adjoining negative-looking token
]


@pytest.mark.parametrize("query", GOLDEN_QUERIES)
def test_search_matches_naive_scan(corpus, query):
    expected = naive(corpus[0], query)
    got = run(corpus, query)
    assert got == expected, (
        f"query {query!r}: {len(got)} got vs {len(expected)} expected; "
        f"extra={list(got - expected)[:3]}, missing={list(expected - got)[:3]}"
    )


# Queries re-run with max_literal_ids=0: every non-empty dictionary probe
# becomes a DataFrame consumed via broadcast semi-join (the 100 TB path for
# broad wildcards), and must return exactly the literal-path results.
JOIN_PATH_QUERIES = [
    "heartbeat",                      # logtype semi-join, no vars
    "container_*",                    # large dict-var set -> membership join
    "Task 17 assigned",               # int var + logtype join
    "*beat ok",                       # prefix wildcard
    "job=alpha",                      # '='-rule dict var
    "session token *ab* refreshed",   # mid-star verify + join candidates
    "value 007",                      # exact dict var via values_df
    "no_such_token_xyz987654",        # WontMatch stays WontMatch
]


@pytest.mark.parametrize("query", JOIN_PATH_QUERIES)
def test_search_forced_join_path(corpus, query):
    expected = naive(corpus[0], query)
    got = run(corpus, query, max_literal_ids=0)
    assert got == expected, (
        f"join-path query {query!r}: {len(got)} got vs {len(expected)} expected"
    )


def test_verify_decode_join_path_equals_map_path(corpus, monkeypatch):
    """A var dict over the driver-copy bound (its verify residue's slimmed
    dictionary too) decodes the verify residue through the JVM join and
    returns exactly the map path's hits."""
    from clp_core_spark.operators import dictionaries

    transcripts, encoded, lt, vd = corpus
    query = "session token *ab* refreshed"  # mid-star: verified on decode
    expected = naive(transcripts, query)
    assert run(corpus, query) == expected
    monkeypatch.setattr(dictionaries, "BROADCAST_VAR_DICT_MAX", 0)
    got = search.search_text(encoded, lt, vd.select("*"), query, KEYS)
    assert "posexplode" in got._jdf.queryExecution().optimizedPlan().toString()
    assert {(r["conv_id"], r["turn_idx"]) for r in got.collect()} == expected


def test_forced_join_compile_uses_dataframes(corpus):
    _, encoded, lt, vd = corpus
    compiled = search.compile_query("container_1*", lt, vd, max_literal_ids=0)
    assert compiled.sub_queries, "expected at least one subquery"
    assert all(s.logtype_df is not None for s in compiled.sub_queries)
    dict_vars = [v for s in compiled.sub_queries for v in s.vars if v.is_dict]
    assert any(v.values_df is not None for v in dict_vars)


REGEX_QUERIES = [
    # (regex, equivalent wildcard under substring semantics)
    ("Task 1. assigned", "Task 1? assigned"),
    ("heartbeat", "heartbeat"),
    ("container_.*", "container_*"),
    ("session token .+ refreshed", "session token ?* refreshed"),
    ("job[=]alpha", "job=alpha"),
]


@pytest.mark.parametrize("regex,wild", REGEX_QUERIES)
def test_search_regex_front_end(corpus, regex, wild):
    """search_regex == translate-then-wildcard-search == naive scan
    (regex_translation_utils.cpp subset)."""
    transcripts, encoded, lt, vd = corpus
    got = {
        (r["conv_id"], r["turn_idx"])
        for r in search.search_regex(encoded, lt, vd, regex, KEYS).collect()
    }
    assert got == naive(transcripts, wild)


def test_search_regex_rejects_unsupported(corpus):
    _, encoded, lt, vd = corpus
    from clp_core_spark.functions.wildcard import RegexTranslationError

    with pytest.raises(RegexTranslationError):
        search.search_regex(encoded, lt, vd, "task (a|b)+", KEYS)


def test_search_ignore_case(corpus):
    expected = naive(corpus[0], "TASK * ASSIGNED", ignore_case=True)
    got = run(corpus, "TASK * ASSIGNED", ignore_case=True)
    assert got == expected and len(expected) > 0


def test_search_time_bounded(corpus):
    transcripts, encoded, lt, vd = corpus
    lo, hi = 1462693000000, 1462699000000
    expected = {
        (r["conv_id"], r["turn_idx"])
        for r in transcripts.filter(
            F.col("text").rlike(wildcard_to_regex("*heartbeat*"))
            & F.unix_millis("ts").between(lo, hi)
        ).select(*KEYS).collect()
    }
    got = run(corpus, "heartbeat", ts_begin_ms=lo, ts_end_ms=hi)
    assert got == expected and len(expected) > 0


def test_count_aggregations(corpus, spark):
    transcripts, encoded, lt, vd = corpus
    from clp_core_spark.operators import aggregate

    hits = search.search_text(encoded, lt, vd, "heartbeat", KEYS, select_cols=["ts"])
    n = aggregate.count_all(hits).collect()[0]["count"]
    assert n == len(naive(transcripts, "heartbeat"))

    buckets = aggregate.count_by_time(hits, 3_600_000).collect()
    assert sum(r["count"] for r in buckets) == n
    for r in buckets:
        assert r["bucket_ts"] % 3_600_000 == 0


def test_identical_subqueries_compile_once(corpus):
    """The ambiguous-token odometer interprets a metric query several
    ways that probe to the same logtype IDs and var values; the compiled
    query keeps one copy, and its hits still equal a naive scan."""
    import re

    transcripts, _, lt, vd = corpus
    text = (
        transcripts.filter(F.col("text").startswith("metric "))
        .select("text").orderBy(*KEYS).first()["text"]
    )
    m = re.search(r"= (\S+) \((\d+) samples\)", text)
    query = f"= {m.group(1)} ({m.group(2)} samples)"
    compiled = search.compile_query(query, lt, vd)
    keys = [s.literal_key() for s in compiled.sub_queries]
    assert len(keys) == len(set(keys)) == 1
    assert run(corpus, query) == naive(transcripts, query)


# The residual verify runs in driver memory within
# dictionaries.VERIFY_DRIVER_MAX residue rows and distributed above it: with
# the bound at 0 every verify takes the distributed path, and the hits must
# not change.
@pytest.mark.parametrize("query", GOLDEN_QUERIES)
def test_search_matches_naive_scan_distributed_verify(corpus, query, monkeypatch):
    from clp_core_spark.operators import dictionaries

    monkeypatch.setattr(dictionaries, "VERIFY_DRIVER_MAX", 0)
    assert run(corpus, query) == naive(corpus[0], query), query


@pytest.mark.parametrize("query", JOIN_PATH_QUERIES)
def test_search_forced_join_path_distributed_verify(corpus, query, monkeypatch):
    from clp_core_spark.operators import dictionaries

    monkeypatch.setattr(dictionaries, "VERIFY_DRIVER_MAX", 0)
    assert run(corpus, query, max_literal_ids=0) == naive(corpus[0], query), query
