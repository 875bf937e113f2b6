"""User-schema parsing: functions/schema_tokenizer.py's SchemaSpec driving
the one parse kernel — the schema-file alternative delimiters and variable
rules (docs/src/user-guide/reference-unstructured-schema-file.md,
clp/clp/FileCompressor.cpp:196-228)."""

import pyspark.sql.functions as F

from clp_core_spark.functions.schema_tokenizer import SchemaSpec, parse_schema_file
from clp_core_spark.functions.tokenizer import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_FLOAT,
    VT_INT,
)
from clp_core_spark.operators import encode_pipeline
from tests.test_tokenizer import tok_one

SCHEMA_TEXT = """
// Delimiters
delimiters: ={}":,

// Keywords
timestamp:\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}
int:-{0,1}[0-9]+
float:-{0,1}[0-9]+\\.[0-9]+

// Custom variables
vid:v[0-9]+
hex:0x[0-9a-fA-F]+
"""


def _spec() -> SchemaSpec:
    return parse_schema_file(SCHEMA_TEXT)


def test_parse_schema_file():
    spec = _spec()
    assert set("={}\":,") <= set(spec.delimiters)
    assert [n for n, _ in spec.rules] == ["int", "float", "vid", "hex"]


def test_rule_classification_and_priority():
    spec = _spec()
    lt, vs, vt, enc = tok_one("evt user=13 q=4.5 id v77 0xff", spec)
    assert vs == ["13", "4.5", "v77", "0xff"]
    assert vt == [VT_INT, VT_FLOAT, VT_DICT, VT_DICT]
    assert enc[0] == 13
    # int rule (listed first) wins over later rules for pure digits
    lt2, vs2, vt2, _ = tok_one("x=99", spec)
    assert vs2 == ["99"] and vt2 == [VT_INT]


def test_unmatched_digit_token_is_static_text():
    """Differs from the heuristic tokenizer: a token with digits that
    matches NO schema rule stays static (schema-file semantics)."""
    spec = SchemaSpec(delimiters=" ", rules=[("vid", r"v[0-9]+")])
    lt, vs, vt, _ = tok_one("disk3 full v9", spec)
    assert vs == ["v9"]
    assert "disk3" in lt  # kept as constant
    assert lt == "disk3 full " + PLACEHOLDER_DICT


def test_placeholders_in_logtype():
    spec = _spec()
    lt, _, _, _ = tok_one("a=1 b=2.5 c=v3", spec)
    assert lt == (
        "a=" + PLACEHOLDER_INT + " b=" + PLACEHOLDER_FLOAT
        + " c=" + PLACEHOLDER_DICT
    )


def test_int_overflow_falls_back_to_dict():
    spec = _spec()
    _, vs, vt, _ = tok_one("n=99999999999999999999", spec)
    assert vs == ["99999999999999999999"] and vt == [VT_DICT]


def test_schema_encode_decode_roundtrip(spark, transcripts):
    spec = SchemaSpec(
        delimiters=" =/.:,[]()#",
        rules=[
            ("int", r"-{0,1}[0-9]+"),
            ("float", r"-{0,1}[0-9]+\.[0-9]+"),
            ("word", r"[A-Za-z0-9_\-]*[0-9][A-Za-z0-9_\-]*"),
        ],
    )
    sample = transcripts.limit(500)
    enc, lt, vd = encode_pipeline.encode(
        sample, key_cols=["conv_id", "turn_idx"], keep_text=True,
        schema_spec=spec,
    )
    dec = encode_pipeline.decode(enc, lt, vd, ["conv_id", "turn_idx"])
    bad = dec.where(~F.col("decoded_text").eqNullSafe(F.col("text"))).count()
    assert bad == 0


def test_schema_roundtrip_with_nul_bytes(spark):
    """NUL bytes must survive decode(encode(x)) byte-exactly — the batch
    sentinel collision falls back to a per-row scan instead of rewriting
    the input (the heuristic tokenizer already behaved this way)."""
    spec = SchemaSpec(delimiters=" =", rules=[("int", r"-{0,1}[0-9]+")])
    rows = [
        ("c0", 0, "plain line v=42"),
        ("c0", 1, "nul\x00inside v=7"),
        ("c1", 0, "\x00leading and trailing\x00"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    enc, lt, vd = encode_pipeline.encode(
        df, key_cols=["conv_id", "turn_idx"], keep_text=True, schema_spec=spec
    )
    dec = encode_pipeline.decode(enc, lt, vd, ["conv_id", "turn_idx"])
    bad = dec.where(~F.col("decoded_text").eqNullSafe(F.col("text"))).count()
    assert bad == 0


def test_nul_delimiter_keeps_rows_apart():
    """A schema that lists NUL as a delimiter: the batch scan's NUL row
    sentinel must not join a delimiter run, or segments cross rows (this
    raised IndexError in _group_join). Each row parses as it does alone,
    with or without a NUL in the batch's text."""
    import pyarrow as pa

    from clp_core_spark.functions.tokenizer import tokenize_arrow_arrays

    spec = SchemaSpec(delimiters="\x00 ", rules=[("int", "[0-9]+")])
    for texts in (["a 1", "b 22", "c"], ["a\x001", "b 22", "c"]):
        got = tokenize_arrow_arrays(pa.array(texts), spec).to_pylist()
        alone = [tokenize_arrow_arrays(pa.array([t]), spec).to_pylist()[0] for t in texts]
        assert got == alone
    assert got[0]["logtype"] == "a\x00" + PLACEHOLDER_INT and got[0]["encoded"] == [1]


def test_query_side_schema_lexer(spark):
    """Query tokenization must follow the CORPUS's schema (Grep.cpp:750-891
    log-surgeon path): with delimiters=' ' and a tag rule, 'error:13' is
    one dictionary variable; the heuristic lexer splits it at ':' into a
    constant + int and finds nothing."""
    from clp_core_spark.operators import search as search_op

    spec = SchemaSpec(
        delimiters=" ",
        rules=[
            ("int", r"-{0,1}[0-9]+"),
            ("tag", r"[a-z]+:[0-9]+"),
            ("vid", r"v[0-9]+"),
        ],
    )
    rows = [
        ("c0", 0, "job error:13 v1"),
        ("c0", 1, "job warn:13 v2"),
        ("c1", 0, "job error:7 v3"),
        ("c1", 1, "job error:13 v4"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    enc, lt, vd = encode_pipeline.encode(
        df, key_cols=["conv_id", "turn_idx"], schema_spec=spec
    )
    # 'error:13' must be ONE dict var
    assert vd.filter(F.col("var_str") == "error:13").count() == 1

    got = search_op.search_text(
        enc, lt, vd, "*error:13 *", ["conv_id", "turn_idx"], schema_spec=spec
    )
    keys = {(r["conv_id"], r["turn_idx"]) for r in got.collect()}
    assert keys == {("c0", 0), ("c1", 1)}

    # exact (wildcard-free) schema token: full-rule match => dict probe
    got2 = search_op.search_text(
        enc, lt, vd, "error:13", ["conv_id", "turn_idx"], schema_spec=spec
    )
    keys2 = {(r["conv_id"], r["turn_idx"]) for r in got2.collect()}
    assert keys2 == {("c0", 0), ("c1", 1)}

    # the heuristic tokenizer on the same encoded corpus finds nothing:
    # it splits at ':' (constant 'error:' + int 13) — no such logtype,
    # no standalone int var
    miss = search_op.search_text(
        enc, lt, vd, "*error:13 *", ["conv_id", "turn_idx"]
    )
    assert miss.count() == 0
