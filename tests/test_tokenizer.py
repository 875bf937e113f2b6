"""Unit tests for the vectorized tokenizer, porting the reference's literal
cases (components/core/tests/test-ir_parsing.cpp, test-EncodedVariableInterpreter.cpp).
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from clp_core_spark.functions import encoder, tokenizer
from clp_core_spark.functions.tokenizer import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_FLOAT,
    VT_INT,
)


def kernel_rows(texts, spec=None) -> dict[str, list]:
    """Run the one parse kernel (tokenizer.tokenize_arrow_arrays) and turn
    its Arrow arrays into per-row Python lists. ``var_strs`` (every
    variable in order of appearance) is not a parse column; it is read
    from the kernel's flat result."""
    out = tokenizer.tokenize_arrow_arrays(pa.array(texts, type=pa.string()), spec)
    rows = {f: out.field(f).to_pylist() for f in tokenizer.PARSED_FIELDS}
    rows["var_strs"] = [[] for _ in texts]
    flat = tokenizer._tokenize_flat(list(texts), spec)
    if flat is not None:
        _, var_rows, _, _, var_np, _ = flat
        for r, v in zip(var_rows.tolist(), var_np.tolist()):
            rows["var_strs"][r].append(v)
    return rows


def decode_rows(rows) -> list[str]:
    return list(tokenizer.decode_frame(
        pd.Series(rows["logtype"], dtype=object),
        pd.Series(rows["encoded"], dtype=object),
        pd.Series(rows["dict_strs"], dtype=object),
    ))


def tok_one(text, spec=None):
    r = {k: v[0] for k, v in kernel_rows([text], spec).items()}
    return r["logtype"], r["var_strs"], r["var_types"], r["encoded"]


def test_empty_and_non_variable_strings():
    # NOTE: "abc" is NOT here — all-hex-letter tokens of length >= 2 are
    # variables per the multi-digit-hex rule (parsing.hpp:36-49).
    for s in ["", "/", "xyz", "=", "xyz tuvw", " - . _ "]:
        logtype, vs, vt, enc = tok_one(s)
        assert vs == []
        assert logtype == s
        assert enc == []


def test_reference_var_bounds_case():
    # test-ir_parsing.cpp:50-66
    logtype, vs, vt, enc = tok_one("~=x!abc123;1.2%x:+394/-")
    assert vs == ["x", "abc123", "1.2", "+394"]
    assert vt == [VT_DICT, VT_DICT, VT_FLOAT, VT_DICT]
    assert logtype == "~=\x12!\x12;\x13%x:\x12/-"


def test_reference_hex_case():
    # test-ir_parsing.cpp:68-92: every token is a multi-digit hex value
    logtype, vs, vt, enc = tok_one(" ad ff 95 24 0d ff ")
    assert vs == ["ad", "ff", "95", "24", "0d", "ff"]
    assert vt == [VT_DICT, VT_DICT, VT_INT, VT_INT, VT_DICT, VT_DICT]
    assert logtype == " \x12 \x12 \x11 \x11 \x12 \x12 "
    assert enc[2] == 95 and enc[3] == 24


def test_placeholder_in_input_is_escaped():
    # test-ir_parsing.cpp:95-104 + parsing.inc escape path
    s = " text \x11 var123 "
    logtype, vs, vt, enc = tok_one(s)
    assert vs == ["var123"]
    assert logtype == " text \\\x11 \x12 "


def test_backslash_escaping_in_constants():
    logtype, vs, vt, enc = tok_one("path C:\\Users\\bob no digits")
    # 'C:\Users\bob' splits at ':' -> tokens 'C' and '\Users\bob' (no digit,
    # no '=' prefix, not hex) -> constants; backslashes escaped in logtype.
    assert vs == []
    assert logtype == "path C:\\\\Users\\\\bob no digits"


def test_backslash_var_kept_verbatim():
    # ':' is a delimiter -> "C" (preceded by '=', has alpha) and
    # "\Users\bob7" (contains digit) are separate variables.
    logtype, vs, vt, enc = tok_one("path=C:\\Users\\bob7 end")
    assert vs == ["C", "\\Users\\bob7"]
    assert vt == [VT_DICT, VT_DICT]
    assert logtype == "path=\x12:\x12 end"


def test_eq_preceded_rule():
    logtype, vs, vt, _ = tok_one("job=alpha user=bob status=ok")
    assert vs == ["alpha", "bob", "ok"]
    assert vt == [VT_DICT, VT_DICT, VT_DICT]
    # '=' must directly precede: a '= x' gap is not a var
    _, vs2, _, _ = tok_one("job= alpha")
    assert vs2 == []
    # '=' preceded token must contain alpha
    _, vs3, _, _ = tok_one("k=__ v=--")
    assert vs3 == []


def test_int_encoding_reference_cases():
    # test-EncodedVariableInterpreter.cpp int section
    yes = {"0": 0, "-1": -1, "1": 1,
           "9223372036854775807": 2**63 - 1, "-9223372036854775808": -(2**63)}
    s = pd.Series(list(yes.keys()))
    mask, vals = encoder.classify_encode_int(s)
    assert mask.all()
    assert list(vals) == list(yes.values())

    no = ["", "a", "-", "+", "--", "++", " 1", "- 1", "1 ", "01", "+1",
          "1u", "1L", "0.0", "-0", "9223372036854775808",
          "-9223372036854775809", "9999999999999999999999"]
    mask, _ = encoder.classify_encode_int(pd.Series(no))
    assert not mask.any()


def test_float_encoding_reference_cases_roundtrip():
    # test-EncodedVariableInterpreter.cpp float section: encode->decode is
    # digit-exact including padding
    yes = ["0.0", "-1.0", "1.0", ".1", "-00.00", "-999999999999999.9",
           "-.9999999999999999", ".9999999999999999", "00.5", "1.5", "-25.5196868642755"]
    s = pd.Series(yes)
    mask, enc = encoder.classify_encode_float(s)
    assert mask.all()
    dec = encoder.decode_float_batch(enc)
    assert list(dec) == yes

    no = ["", "a", "-", "+", "--", ".", "1.", " 1.0", "1.0 ", "+1.0",
          "1.0f", "1.0L", str(2**64 - 1), "1.2.3", "12345678901234567.8"]
    mask, _ = encoder.classify_encode_float(pd.Series(no))
    assert not mask.any()


def test_reference_encode_message():
    # test-EncodedVariableInterpreter.cpp "Test encoding and decoding":
    # message with small int, large int, double, weird double, dict var,
    # and literal escape/placeholder bytes.
    large_val = str(2**64 - 1) + "0"  # cVariableDictionaryIdMax * 10-ish: unrepresentable int
    msg = ("here is a string with a small int 4938 and a very large int "
           + large_val + " and a double -25.5196868642755 and a weird double "
           "-00.00 and a str with numbers python2.7.3 and an escape \\ and an "
           "int placeholder \x11 and a float placeholder \x13 and a "
           "dictionary placeholder \x12")
    logtype, vs, vt, enc = tok_one(msg)
    assert vs == ["4938", large_val, "-25.5196868642755", "-00.00", "python2.7.3"]
    assert vt == [VT_INT, VT_DICT, VT_FLOAT, VT_FLOAT, VT_DICT]
    assert enc[0] == 4938
    expected_logtype = ("here is a string with a small int \x11 and a very "
                        "large int \x12 and a double \x13 and a weird double "
                        "\x13 and a str with numbers \x12 and an escape \\\\ "
                        "and an int placeholder \\\x11 and a float placeholder "
                        "\\\x13 and a dictionary placeholder \\\x12")
    assert logtype == expected_logtype


def test_decode_roundtrip_batch():
    msgs = [
        "Task 17 assigned to container_4123 on node-9",
        "Heap used 1.9 GB out of 16.0 GB (11.875%)",
        "job=alpha user=bob42 status=failed",
        "session token abc12f refreshed, parent deadbeefcafe1234",
        "static heartbeat ok",
        "value 007 and +12 and 00.5 and 9999999999999999999999",
        "path C:\\Users\\ann8\\file_3.txt",
        "weird \x11 bytes \x13 and \\ slash \x12",
        "",
        "multi\nline 42\nmessage ff",
    ]
    assert decode_rows(kernel_rows(msgs)) == msgs


def test_decode_roundtrip_property():
    # Deterministic pseudo-random zoo over the token alphabet + delimiters.
    rng = np.random.RandomState(42)
    alphabet = list("abcXYZ0123456789.+-_\\ =:;/!\x11\x12\x13\t\n")
    msgs = ["".join(rng.choice(alphabet, size=rng.randint(0, 60))) for _ in range(500)]
    assert decode_rows(kernel_rows(msgs)) == msgs


def test_float_16_digit_boundary():
    ok16 = "1234567890123456."[:-1]  # 16 digits, no dot -> not float
    mask, _ = encoder.classify_encode_float(pd.Series([ok16]))
    assert not mask.any()
    ok = "123456789012345.6"  # 16 digits + dot
    mask, enc = encoder.classify_encode_float(pd.Series([ok]))
    assert mask.all()
    assert encoder.decode_float_batch(enc)[0] == ok
    too_many = "1234567890123456.7"  # 17 digits
    mask, _ = encoder.classify_encode_float(pd.Series([too_many]))
    assert not mask.any()


@pytest.mark.parametrize("texts", [[], [""], ["", None, ""]])
def test_all_empty_batch(texts):
    """A batch with no segments at all (empty or null texts) takes the
    kernel's no-segment branch and still returns one empty row per text,
    typed like a normal batch."""
    from clp_core_spark.functions.schema_tokenizer import SchemaSpec

    for spec in (None, SchemaSpec(delimiters=" =", rules=[("int", "[0-9]+")])):
        assert tokenizer._tokenize_flat(["" for _ in texts], spec) is None
        out = tokenizer.tokenize_arrow_arrays(pa.array(texts, type=pa.string()), spec)
        full = tokenizer.tokenize_arrow_arrays(pa.array(["a=1 b"]), spec)
        assert out.type == full.type
        assert out.field("logtype").to_pylist() == [""] * len(texts)
        for f in ("var_types", "encoded", "dict_strs"):
            assert out.field(f).to_pylist() == [[] for _ in texts]

