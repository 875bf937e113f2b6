"""Wildcard column descriptors (clp_s SchemaMatch analog) and
unstructured-array value search (array.dict analog).

Reference semantics:
- a descriptor token that is exactly ``*`` matches any number of path
  nodes including zero (clp_s/search/SchemaMatch.cpp:128-199 edge case 1;
  DescriptorToken wildcard-iff-single-unescaped-star,
  clp_s/search/ColumnDescriptor.hpp:71-79);
- an unresolved descriptor expands to the OR over matching concrete
  leaves, empty -> EmptyExpr (SchemaMatch.cpp:70-97);
- values inside arrays clp_s did NOT structurize stay searchable
  (array.dict, clp_s/archive_constants.hpp:11-24); the golden
  ``arr.b > 1000 -> {7, 8}`` family holds with structurize on AND off
  (tests/test-clp_s-search.cpp:169-193, GENERATE(true, false)).
"""

import pytest

from clp_core_spark.operators import clps_search, kql, semistructured
from clp_core_spark.operators.kql import _descriptor_tokens, _match_tokens

# --- descriptor tokenization (pure python) ----------------------------------


def test_descriptor_tokens_wildcard_detection():
    assert _descriptor_tokens("a.b") == (("a", False), ("b", False))
    assert _descriptor_tokens("*") == (("*", True),)
    assert _descriptor_tokens("a.*.c") == (("a", False), ("*", True), ("c", False))
    # escaped star is the literal character, never a wildcard
    assert _descriptor_tokens(r"\*") == (("*", False),)
    assert _descriptor_tokens(r"a.\*.c") == (("a", False), ("*", False), ("c", False))
    # escaped dot does not split
    assert _descriptor_tokens(r"a\.b.c") == (("a.b", False), ("c", False))
    # consecutive wildcards collapse (simplify_descriptor_wildcards)
    assert _descriptor_tokens("*.*.b") == (("*", True), ("b", False))


def test_match_tokens_zero_or_more():
    t = _descriptor_tokens
    assert _match_tokens(t("*.b"), ("b",))  # wildcard matches ZERO nodes
    assert _match_tokens(t("*.b"), ("a", "x", "b"))
    assert not _match_tokens(t("*.b"), ("b", "c"))
    assert _match_tokens(t("a.*"), ("a",))  # trailing wildcard: zero nodes
    assert _match_tokens(t("a.*"), ("a", "b"))
    assert _match_tokens(t("a.*"), ("a", "b", "c"))
    assert _match_tokens(t("*"), ("anything",))
    assert _match_tokens(t("*"), ("a", "b"))
    assert not _match_tokens(t("a.*.c"), ("a", "x"))
    assert _match_tokens(t("a.*.c"), ("a", "c"))  # zero-node wildcard


# --- corpus ------------------------------------------------------------------

ROWS = [
    (0, '{"req": {"user": 5, "msg": "login ok"}, "resp": {"code": 200}, "tags": [1, 2]}'),
    (1, '{"req": {"user": 15, "msg": "login fail"}, "resp": {"code": 500}, "tags": [1500, 2]}'),
    (2, '{"req": {"user": 20, "msg": "logout"}, "resp": {"code": 404}, "arr": [{"b": 1200}, {"a": 1}]}'),
    (3, '{"req": {"user": 7, "msg": "ping"}, "resp": {"code": 200}, "arr": {"b": 900}}'),
]


@pytest.fixture(scope="module")
def nested(spark):
    df = spark.createDataFrame(ROWS, "id long, js string")
    enc, tree, _ = semistructured.encode_semistructured(df, "js", key_cols=["id"])
    enc = enc.persist()
    enc.count()
    return enc, tree


def _ids(enc, tree, q):
    acols = kql.unstructured_array_cols(tree)
    return sorted(
        r["id"] for r in kql.kql_filter(enc, q, array_cols=acols).select("id").collect()
    )


def test_wildcard_key_range(nested):
    enc, tree = nested
    assert _ids(enc, tree, "*.code > 300") == [1, 2]
    assert _ids(enc, tree, "resp.* >= 404") == [1, 2]


def test_wildcard_key_value(nested):
    enc, tree = nested
    assert _ids(enc, tree, "req.*: login*") == [0, 1]
    assert _ids(enc, tree, '*: "logout"') == [2]
    # numeric literal resolves only against numeric + string leaves
    assert _ids(enc, tree, "*.user: 15") == [1]


def test_wildcard_key_no_match_is_empty(nested):
    enc, tree = nested
    assert _ids(enc, tree, "*.nosuchleaf: 1") == []
    assert _ids(enc, tree, "nope.*.deeper > 5") == []


def test_literal_dotted_path_over_flattened_leaves(nested):
    enc, tree = nested
    assert _ids(enc, tree, "req.user > 10") == [1, 2]
    assert _ids(enc, tree, "resp.code: 200") == [0, 3]


def test_unstructured_array_scalar_values(nested):
    enc, tree = nested
    assert _ids(enc, tree, "tags > 1000") == [1]
    assert _ids(enc, tree, "tags: 1500") == [1]


def test_unstructured_array_subpath_both_shapes(nested):
    """arr holds [{..},{..}] on row 2 and a single {..} on row 3 — a
    dotted predicate must evaluate per element with object-wrapping,
    exactly like the golden arr.b family in NON-structurized mode."""
    enc, tree = nested
    assert dict(enc.dtypes)["arr"] == "string"  # stored as JSON text
    assert _ids(enc, tree, "arr.b > 1000") == [2]
    assert _ids(enc, tree, "arr.b > 100") == [2, 3]
    assert _ids(enc, tree, "*.b > 1000") == [2]


def test_mixed_container_column_classified_unstructured_array(nested):
    _, tree = nested
    types = {r["path"]: r["node_type"] for r in tree.collect()}
    assert types["arr"] == semistructured.T_ARRAY
    assert types["tags"] == semistructured.T_ARRAY


# --- golden corpus WITHOUT structurize (array.dict path) ---------------------

GOLDEN_RECORDS = [
    '{"idx": 0, "a": "clp string"}',
    '{"idx": 1, "msg": "Msg 1: \\"Abc123\\""}',
    '{"idx": 2, "msg": "Msg 2: \'Abc123\'"}',
    '{"idx": 3, "msg": "Msg 3: \\nAbc123"}',
    '{"idx": 4, "skip_msg": "Msg 4: \\\\Abc123"}',
    '{"idx": 5, "msg": "Msg 5: \\rAbc123"}',
    '{"idx": 6, "msg": "Msg 6: \\tAbc123"}',
    '{"idx": 7, "arr": [{"a": 999}, {"b": 1001}]}',
    '{"idx": 8, "arr": {"a": 999, "b": 1001}}',
]


@pytest.fixture(scope="module")
def golden_unstructurized(spark):
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(GOLDEN_RECORDS)], "rid long, js string"
    )
    enc, tree, _ = semistructured.encode_semistructured(
        df, "js", key_cols=["rid"], structurize_arrays=False
    )
    clp_cols = [
        r["path"]
        for r in tree.collect()
        if r["node_type"] == semistructured.T_CLPSTRING and "." not in r["path"]
    ]
    enc2, dicts = clps_search.encode_clpstring_columns(enc, clp_cols, key_cols=["rid"])
    enc2 = enc2.persist()
    enc2.count()
    return enc2, dicts, kql.unstructured_array_cols(tree)


def test_golden_array_search_without_structurize(golden_unstructurized):
    """tests/test-clp_s-search.cpp runs the same table with
    structurize_arrays=false; arr.b > 1000 must still be {7, 8}."""
    enc2, dicts, acols = golden_unstructurized
    got = clps_search.kql_filter_clps(
        enc2, "arr.b > 1000", dicts, ["rid"], array_cols=acols
    )
    assert {r["idx"] for r in got.select("idx").collect()} == {7, 8}


def test_wildcard_key_reaches_clpstring_dictionaries(golden_unstructurized):
    """`*: "*Abc123*"` must search the CLP-encoded msg/skip_msg columns
    dictionary-first AND the plain VarString column — the pure-wildcard
    descriptor covers every leaf."""
    enc2, dicts, acols = golden_unstructurized
    got = clps_search.kql_filter_clps(
        enc2, '*: "*Abc123*"', dicts, ["rid"], array_cols=acols
    )
    assert {r["idx"] for r in got.select("idx").collect()} == {1, 2, 3, 4, 5, 6}


def test_bare_value_searches_clpstring_columns(golden_unstructurized):
    enc2, dicts, acols = golden_unstructurized
    got = clps_search.kql_filter_clps(
        enc2, '"*Abc123*"', dicts, ["rid"], array_cols=acols
    )
    assert {r["idx"] for r in got.select("idx").collect()} == {1, 2, 3, 4, 5, 6}


def test_wildcard_key_descriptor_on_clp_column(golden_unstructurized):
    """`ms*`-style token-internal wildcards are NOT descriptors (token
    must be exactly `*`); `*sg` resolves nothing. But `*` does, and a
    `m*`-like two-token form `*.msg` hits the flattened msg leaf."""
    enc2, dicts, acols = golden_unstructurized
    got = clps_search.kql_filter_clps(
        enc2, '*.msg: "Msg 3: \\nAbc123"', dicts, ["rid"], array_cols=acols
    )
    assert {r["idx"] for r in got.select("idx").collect()} == {3}


# --- single-pass multi-column encode -----------------------------------------


def test_multi_column_encode_is_single_parse(spark):
    """Two ClpString columns must encode from ONE tokenize pass: all the
    per-column parse UDFs fuse into a single ArrowEvalPython stage (the
    clp_s one-parse-feeds-all-column-writers shape,
    clp_s/JsonParser.cpp:125-232)."""
    df = spark.createDataFrame(
        [(i, f"alpha msg {i}", f"beta note {i * 7}") for i in range(64)],
        "rid long, m1 string, m2 string",
    )
    enc2, dicts = clps_search.encode_clpstring_columns(
        df, ["m1", "m2"], key_cols=["rid"]
    )
    assert set(dicts) == {"m1", "m2"}
    # FUSION: every ArrowEvalPython node must evaluate BOTH columns' parse
    # UDFs in the same pass (one Arrow exchange per batch, k columns out);
    # a per-column-pass regression would show nodes with a single UDF.
    plan = enc2._jdf.queryExecution().executedPlan().toString()
    nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert nodes, plan
    assert all(
        "_parse(m1" in ln and "_parse(m2" in ln for ln in nodes
    ), plan
    # REUSE: the parse output is cached — downstream consumers read the
    # InMemoryRelation instead of re-running the parse per column
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan
    hits = clps_search.search_clpstring_column(
        enc2, "m2", dicts, "*note 21*", ["rid"]
    )
    assert sorted(r["rid"] for r in hits.select("rid").collect()) == [3, 30, 31]
