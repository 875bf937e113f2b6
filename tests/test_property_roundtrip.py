"""Property-based fuzzing of the core encode/decode invariant:
decode_frame(tokenize_arrow_arrays(x)) must equal x byte-for-byte for ARBITRARY
text — the reference's own end-to-end guarantee
(tests/test-clp_s-end_to_end.cpp), pushed through adversarial inputs
(unicode, NUL bytes, placeholder bytes, escape chars, wildcard chars,
numeric edge forms) at the pandas level, where hundreds of examples cost
no Spark jobs."""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from clp_core_spark.functions import encoder
from clp_core_spark.functions.encoder import decode_float_batch
from clp_core_spark.functions.tokenizer import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
)
from tests.test_tokenizer import decode_rows, kernel_rows

# text incl. the engine's own metacharacters and tricky classes
_special = st.sampled_from(
    [
        PLACEHOLDER_INT, PLACEHOLDER_DICT, PLACEHOLDER_FLOAT,
        "\\", "*", "?", "\x00", "=", "\n", "\t", " ",
        "0", "9", ".", "-", "+", "a", "Z", "é", "日",
    ]
)
_texts = st.lists(
    st.text(
        alphabet=st.one_of(
            st.characters(min_codepoint=1, max_codepoint=0x2FF), _special
        ),
        max_size=60,
    ),
    min_size=1,
    max_size=40,
)


def _roundtrip(texts: list[str]) -> list[str]:
    return decode_rows(kernel_rows(texts))


@settings(max_examples=200, deadline=None)
@given(_texts)
def test_tokenize_decode_roundtrip_is_identity(texts):
    assert _roundtrip(texts) == texts


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(2**70), max_value=2**70).map(str),
            st.from_regex(r"-?[0-9]{1,20}\.[0-9]{0,18}", fullmatch=True),
            st.from_regex(r"[0-9a-fA-F]{2,16}", fullmatch=True),
            st.from_regex(r"0{1,3}[0-9]{1,5}", fullmatch=True),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_numeric_token_roundtrip_preserves_formatting(tokens):
    """Zero-padded, overflowing, hex-looking and float-shaped tokens must
    all come back byte-exact — CLP's encode-or-dictionary split
    (EncodedVariableInterpreter.cpp:70-149) must never lose formatting."""
    texts = [" ".join(tokens)]
    assert _roundtrip(texts) == texts


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(2**70), max_value=2**70))
def test_int_encoding_is_bit_exact(v):
    """Encodable ints store their exact value; out-of-range /
    padded forms must NOT classify as int-encodable."""
    s = pd.Series([str(v)])
    from clp_core_spark.functions.encoder import classify_encode_int

    m, enc = classify_encode_int(s)
    if bool(m.iloc[0]):
        assert int(enc[0]) == v
    else:
        assert not (-(2**63) <= v <= 2**63 - 1)


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**15),
    st.integers(min_value=0, max_value=10**15),
    st.booleans(),
)
def test_float_encoding_is_bit_exact(ip, fp, neg):
    from clp_core_spark.functions.encoder import classify_encode_float

    raw = f"{'-' if neg else ''}{ip}.{fp}"
    s = pd.Series([raw])
    m, enc = classify_encode_float(s)
    if bool(m.iloc[0]):
        back = decode_float_batch(np.asarray([int(enc[0])], dtype=np.int64))[0]
        assert back == raw


# Numeric edge forms: leading zeros, signed zero, bare-dot floats, the
# 16/17-digit float bound, the int64 bounds and non-ASCII digits.
_NUMERIC_EDGES = [
    "", "0", "-0", "00", "007", "-007", ".5", "5.", "-.5", "-0.0", "00.5",
    "123456789012345.6", "1234567890123456.7", ".9999999999999999",
    "-.99999999999999999", "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809", "18446744073709551615",
    "99999999999999999999", "\u0663", "\u0661\u0662.\u0663", "\uff11\uff12",
    "1\u0663", "-\u0665", "1e5", "+1", "--1", "1.2.3",
]


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.sampled_from(_NUMERIC_EDGES),
            st.text(alphabet=st.sampled_from(list("0123456789-.+e\u0663\uff11")),
                    max_size=22),
            st.integers(min_value=-(2**65), max_value=2**65).map(str),
            st.from_regex(r"-?0{0,3}[0-9]{0,17}\.[0-9]{0,17}", fullmatch=True),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_arrow_and_pandas_classifiers_agree(tokens):
    """The parse kernel classifies with the Arrow encoders; query
    compilation (operators/search.py) classifies tokens with the pandas
    ones. Both must give the same masks and values, or a query token
    would encode differently from the same token in the corpus."""
    s = pd.Series(tokens, dtype=object)
    arr = pa.array(tokens, type=pa.string())
    for pd_fn, pa_fn in (
        (encoder.classify_encode_int, encoder.classify_encode_int_arrow),
        (encoder.classify_encode_float, encoder.classify_encode_float_arrow),
    ):
        m_pd, v_pd = pd_fn(s)
        m_pa, v_pa = pa_fn(arr)
        assert np.asarray(m_pd, dtype=bool).tolist() == m_pa.tolist()
        assert np.asarray(v_pd, dtype=np.int64).tolist() == v_pa.tolist()

