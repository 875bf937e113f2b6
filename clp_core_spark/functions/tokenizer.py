"""Vectorized CLP tokenizer / logtype builder (pyarrow + numpy, no per-row
Python in the parse path — one C-level regex pass + columnar classification).
One kernel, :func:`tokenize_arrow_arrays`, serves both CLP parse modes: the
heuristic below and a user schema file (schema_tokenizer.SchemaSpec).

Semantics re-implemented from the reference (y-scope/clp):

* Delimiters: every char EXCEPT ``+ - . 0-9 A-Z \\ _ a-z``
  (components/core/src/clp/ir/parsing.cpp:20-24).
* A token (maximal run of non-delimiters) is a *variable* iff it
  (a) contains a decimal digit, or (b) is directly preceded by ``=`` and
  contains an alphabetic char, or (c) could be a multi-digit hex value
  (components/core/src/clp/ir/parsing.cpp:43-94, parsing.hpp:36-49).
* The logtype is the message with each variable replaced by a placeholder
  byte — Integer=0x11, Dictionary=0x12, Float=0x13 — and every literal
  occurrence of a placeholder byte or backslash escaped with a backslash
  (components/core/src/clp/ir/types.hpp:11-16, ir/parsing.inc:12-33,
  clp/LogTypeDictionaryEntry.cpp:64-103).
* Variable classing (int / float / dictionary) follows
  clp/EncodedVariableInterpreter.cpp:31-149 (see encoder.py).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from clp_core_spark.functions import encoder

# Placeholder bytes (clp/ir/types.hpp:11-16).
PLACEHOLDER_INT = "\x11"
PLACEHOLDER_DICT = "\x12"
PLACEHOLDER_FLOAT = "\x13"
ESCAPE_CHAR = "\\"

# Variable type codes of the parse's `var_types` arrays (encode reads them
# to assign IDs; the stored row keeps the logtype's placeholder bytes only).
VT_INT = 0
VT_FLOAT = 1
VT_DICT = 2

# Token charset per is_delim (parsing.cpp:20-24): '+', '-'..'.', digits,
# upper, '\', '_', lower.  NOTE '-'..'.' is the ASCII range {'-', '.'}
# ('/' is NOT included: '-' is 0x2D, '.' is 0x2E, '/' is 0x2F).
_TOKEN_CLASS = r"+\-.0-9A-Za-z\\_"
# One alternation: a delimiter run OR a token run, delimiter group first.
# findall() walks the string once in C and returns every segment in order.
_SEGMENT_RE = re.compile(rf"(?P<d>[^{_TOKEN_CLASS}]+)|(?P<t>[{_TOKEN_CLASS}]+)")
# Batch variant: the whole Arrow batch is joined with NUL sentinels and
# scanned with ONE findall call; NUL is excluded from both classes so
# segments never cross row boundaries.
_SEGMENT_BATCH_RE = re.compile(
    rf"([^{_TOKEN_CLASS}\x00]+)|([{_TOKEN_CLASS}]+)"
)


def _group_join(row_pos: np.ndarray, segs, n: int) -> np.ndarray:
    """Per-row ''.join of segments (aligned with sorted row_pos)."""
    out = np.full(n, "", dtype=object)
    if len(segs):
        present, starts = np.unique(row_pos, return_index=True)
        bounds = np.append(starts[1:], len(segs))
        sl = segs.tolist() if hasattr(segs, "tolist") else list(segs)
        join = "".join
        for r, s, e in zip(present.tolist(), starts.tolist(), bounds.tolist()):
            out[r] = join(sl[s:e])
    return out


def _row_ordinals(row_pos: np.ndarray) -> np.ndarray:
    """0-based ordinal of each entry within its (sorted) row group."""
    if not len(row_pos):
        return np.zeros(0, dtype=np.int64)
    _, starts, counts = np.unique(row_pos, return_index=True, return_counts=True)
    return np.arange(len(row_pos), dtype=np.int64) - np.repeat(starts, counts)


def _segment_res(spec) -> tuple[re.Pattern, re.Pattern]:
    """The (per-row, batch) segment regexes: the heuristic delimiter set
    (parsing.cpp:20-24) or, with a schema, the schema's delimiters plus
    space, where every other char is token text. As in the heuristic
    pair, the batch regex leaves NUL out of both classes, even when the
    schema lists it as a delimiter: NUL is the batch's row sentinel, and
    a text holding NUL takes the per-row scan."""
    if spec is None:
        return _SEGMENT_RE, _SEGMENT_BATCH_RE
    dclass = spec.delim_class()
    batch_dclass = spec.delim_class(without="\x00")
    return (
        re.compile(rf"([{dclass}]+)|([^{dclass}]+)"),
        re.compile(rf"([{batch_dclass}]+)|([^{dclass}\x00]+)"),
    )


def _schema_vars(tok_only, spec):
    """Schema variable rule: a token is a variable iff some rule's regex
    matches the WHOLE token, and the rule listed first wins (one RE2 pass
    per rule). Returns (is_var per token, may_int, may_float per variable):
    only tokens of a rule named ``int`` / ``float`` may take that inline
    encoding; every other rule makes a dictionary variable."""
    import pyarrow.compute as pc

    rule_ix = np.full(len(tok_only), -1, dtype=np.int64)
    for i, (_name, pattern) in enumerate(spec.rules):
        m = np.asarray(
            pc.match_substring_regex(tok_only, f"^(?:{pattern})$")
        ).astype(bool)
        rule_ix[(rule_ix == -1) & m] = i
    is_var_tok = rule_ix >= 0
    names = np.array([name for name, _ in spec.rules], dtype=object)
    var_names = names[rule_ix[is_var_tok]]
    return is_var_tok, var_names == "int", var_names == "float"


def _classify_where(classify, var_arr, may) -> tuple[np.ndarray, np.ndarray]:
    """``classify`` (encoder.classify_encode_*_arrow) restricted to the
    variables ``may`` allows (None: all of them). Values stay aligned
    with the returned mask."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if may is None:
        return classify(var_arr)
    ok = np.zeros(len(may), dtype=bool)
    sub_ok, vals = classify(pc.filter(var_arr, pa.array(may)))
    ok[np.flatnonzero(may)] = sub_ok
    return ok, vals


def _tokenize_flat(tl: list[str], spec=None):
    """Core of the tokenizer over a batch of plain strings. Returns None
    when the batch produced no segments, else the FLAT result arrays
    ``(logtype, var_rows, var_types, encoded_vals, var_np, is_dict_v)``;
    per-row regrouping into ListArray offsets is left to the caller.

    ``spec`` (a schema_tokenizer.SchemaSpec) swaps what CLP's schema file
    swaps (clp/clp/FileCompressor.cpp:196-228): the delimiter set and the
    variable rule (:func:`_schema_vars` instead of the digit / ``=`` /
    hex heuristic). Everything else is shared: int/float encoding,
    dictionary ordinals, escaping, logtype assembly and the NUL fallback.

    Hot path: ONE C regex pass over the NUL-joined batch (findall), then
    pyarrow compute (RE2, C++) for every per-segment classification and
    the escape rewrite. No pandas str ops (they are per-element Python
    re calls), no pandas groupby."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(tl)
    row_re, batch_re = _segment_res(spec)
    if any("\x00" in t for t in tl):
        # NUL would collide with the batch sentinel: fall back to a
        # per-row scan (rare — NUL bytes in log text).
        seg_rows: list[int] = []
        d_list: list[str] = []
        t_list: list[str] = []
        for r, t in enumerate(tl):
            for d, tk in row_re.findall(t):
                seg_rows.append(r)
                d_list.append(d)
                t_list.append(tk)
        if not d_list:
            return None
        row_pos = np.asarray(seg_rows, dtype=np.int64)
    else:
        matches = batch_re.findall("\x00".join(tl))
        if not matches:
            return None
        d_list, t_list = zip(*matches)
        # Segments tile the sentinel-free concatenation, so cumulative
        # segment lengths against cumulative text lengths recover each
        # segment's row (all C-level).
        text_lens = np.fromiter(map(len, tl), dtype=np.int64, count=n)
        seg_lens = np.fromiter(map(len, d_list), dtype=np.int64, count=len(d_list))
        seg_lens += np.fromiter(map(len, t_list), dtype=np.int64, count=len(t_list))
        seg_start = np.cumsum(seg_lens) - seg_lens
        row_pos = np.searchsorted(np.cumsum(text_lens), seg_start, side="right")

    d_arr = pa.array(d_list, type=pa.string())
    t_arr = pa.array(t_list, type=pa.string())
    is_tok = np.asarray(pc.not_equal(t_arr, "")).astype(bool)
    tok_only = pc.filter(t_arr, pa.array(is_tok))

    if spec is None:
        # Char directly before a token is the last char of the preceding
        # delim segment (segments alternate and tile each row;
        # parsing.cpp:86 checks str[begin_pos-1]). A row's first segment
        # has no predecessor.
        d_ends_eq = np.asarray(pc.ends_with(d_arr, pattern="=")).astype(bool)
        prev_ends_eq = np.concatenate(([False], d_ends_eq[:-1]))
        same_row_as_prev = np.concatenate(([False], row_pos[1:] == row_pos[:-1]))
        preceded_by_eq_all = prev_ends_eq & same_row_as_prev

        # Variable decision (parsing.cpp:64-94, parsing.hpp:36-49).
        has_digit = np.asarray(pc.match_substring_regex(tok_only, "[0-9]")).astype(bool)
        has_alpha = np.asarray(pc.match_substring_regex(tok_only, "[A-Za-z]")).astype(bool)
        is_hex = np.asarray(
            pc.match_substring_regex(tok_only, "^[0-9a-fA-F]{2,}$")
        ).astype(bool)
        is_var_tok = has_digit | (preceded_by_eq_all[is_tok] & has_alpha) | is_hex
        may_int = may_float = None
    else:
        is_var_tok, may_int, may_float = _schema_vars(tok_only, spec)

    is_var = np.zeros(len(is_tok), dtype=bool)
    is_var[is_tok] = is_var_tok

    var_arr = pc.filter(tok_only, pa.array(is_var_tok))
    var_rows = row_pos[is_var]
    is_int_v, int_vals = _classify_where(
        encoder.classify_encode_int_arrow, var_arr, may_int
    )
    is_float_v, float_vals = _classify_where(
        encoder.classify_encode_float_arrow, var_arr, may_float
    )
    is_float_v &= ~is_int_v  # int is checked first (EncodedVariableInterpreter.cpp:439-446)

    var_types = np.full(len(var_rows), VT_DICT, dtype=np.int8)
    var_types[is_int_v] = VT_INT
    var_types[is_float_v] = VT_FLOAT

    encoded_vals = np.zeros(len(var_rows), dtype=np.int64)
    encoded_vals[is_int_v] = int_vals
    encoded_vals[is_float_v] = float_vals
    # Dict slots: ordinal of the dict var within its row.
    is_dict_v = var_types == VT_DICT
    if is_dict_v.any():
        encoded_vals[is_dict_v] = _row_ordinals(var_rows[is_dict_v])

    # --- logtype assembly: per segment emit escaped-constant or placeholder.
    # Escape pass runs over ALL segments in one C++ call; var slots are
    # overwritten with placeholders afterwards.
    merged = pc.binary_join_element_wise(d_arr, t_arr, "")
    escaped = pc.replace_substring_regex(
        merged, pattern=r"([\x11\x12\x13\\])", replacement=r"\\\1"
    )
    seg_out = escaped.to_numpy(zero_copy_only=False)
    ph_map = np.array(
        [PLACEHOLDER_INT, PLACEHOLDER_FLOAT, PLACEHOLDER_DICT], dtype=object
    )
    seg_out[is_var] = ph_map[var_types.astype(np.int64)]

    logtype = _group_join(row_pos, seg_out, n)
    var_np = var_arr.to_numpy(zero_copy_only=False)
    return logtype, var_rows, var_types, encoded_vals, var_np, is_dict_v


PARSED_FIELDS = ("logtype", "var_types", "encoded", "dict_strs")


def tokenize_arrow_arrays(texts, spec=None):
    """Tokenize + encode a pyarrow string array: the one parse kernel.
    ``spec`` (a schema_tokenizer.SchemaSpec) selects the schema-file
    delimiters and variable rules; None is CLP's heuristic.

    Returns a ``pa.StructArray`` with fields :data:`PARSED_FIELDS`:

    - ``logtype``: template string, placeholders embedded, constants escaped
    - ``var_types``: list<int32>, VT_INT / VT_FLOAT / VT_DICT per variable
    - ``encoded``: list<int64> — CLP encoded variable per position; int
      vars hold the value, float vars hold the 64-bit CLP float packing,
      dict vars hold the 0-based ordinal of that dict var *within the row*
      (replaced by the global dictionary ID after the dictionary join).
    - ``dict_strs``: list<string>, the dictionary-variable strings in order

    Non-string cells stringify; None and NaN become "". Per-row list
    columns are built with ``ListArray.from_arrays`` over the kernel's
    flat numpy outputs: offsets come from one bincount+cumsum per column,
    so no per-element Python lists are materialized and no pandas->Arrow
    reconversion walks them afterwards (that conversion cost more than
    the kernel itself at bench scale — ~205 CPU-s for an ~90 CPU-s
    kernel over 3.8M rows)."""
    import pyarrow as pa

    tl = [
        x if isinstance(x, str) else ("" if x is None or x != x else str(x))
        for x in texts.to_pylist()
    ]
    n = len(tl)
    flat = _tokenize_flat(tl, spec)
    if flat is None:  # no segments: every row is empty, with no variables
        flat = (
            np.full(n, "", dtype=object), np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.int8), np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=object), np.zeros(0, dtype=bool),
        )
    logtype, var_rows, var_types, encoded_vals, var_np, is_dict_v = flat

    def offs(rows: np.ndarray) -> pa.Array:
        counts = np.bincount(rows, minlength=n)
        out = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=out[1:])
        return pa.array(out.astype(np.int32))

    var_offs = offs(var_rows)
    return pa.StructArray.from_arrays(
        [
            pa.array(logtype, type=pa.string()),
            pa.ListArray.from_arrays(var_offs, pa.array(var_types.astype(np.int32))),
            pa.ListArray.from_arrays(var_offs, pa.array(encoded_vals)),
            pa.ListArray.from_arrays(
                offs(var_rows[is_dict_v]),
                pa.array(var_np[is_dict_v], type=pa.string()),
            ),
        ],
        names=PARSED_FIELDS,
    )

# --- decoding ---------------------------------------------------------------

# Logtype scanner: escaped pair | placeholder byte | constant run.
_LOGTYPE_SEG_RE = re.compile(r"(?P<e>\\[\x11\x12\x13\\])|(?P<p>[\x11\x12\x13])|(?P<c>[^\x11\x12\x13\\]+|\\)")


def _parse_logtype_template(lt: str) -> tuple[list[str], list[str]]:
    """Parse a logtype into (constants, placeholders): ``constants`` has
    len(placeholders)+1 entries (escapes already unescaped), the decoded
    message is constants[0] + val_0 + constants[1] + ... + constants[-1].
    The per-distinct-logtype cache mirrors CLP's LogTypeDictionaryEntry,
    which stores placeholder positions once per dictionary entry rather
    than re-scanning the template per message
    (clp/LogTypeDictionaryEntry.cpp:64-103)."""
    consts: list[str] = [""]
    phs: list[str] = []
    for e, p, c in _LOGTYPE_SEG_RE.findall(lt):
        if p:
            phs.append(p)
            consts.append("")
        elif e:
            consts[-1] += e[1]
        else:
            consts[-1] += c
    return consts, phs


_TEMPLATE_CACHE: dict[str, tuple[list[str], list[str]]] = {}


def _decode_rows(
    logtypes: pd.Series,
    encoded: pd.Series,
    dict_values,
) -> pd.Series:
    """Shared decode core, vectorized per DISTINCT logtype: rows are
    factorized on the template, the template is parsed once (constants +
    placeholder kinds), and each group's values substitute in columnar
    passes — int64->str casts, one decode_float_batch call per float
    slot, dict strings via ``dict_values(enc_lists, rows_idx, slot_ords)``
    (a callable so the caller chooses ordinal-indexed dict_strs lists or
    a global id->str mapping). Replaces the per-row ``str.extractall``
    walk (one Python regex call per row; measured 1.5s vs ~0.15s per
    100k rows on the bench corpus — the same per-row-regex ->
    per-template trade CLP makes by caching placeholder positions in the
    logtype entry)."""
    idx = logtypes.index
    lts = logtypes.fillna("").astype(str).reset_index(drop=True)
    enc = encoded.reset_index(drop=True)
    n = len(lts)
    out = np.empty(n, dtype=object)
    # NOT pd.factorize: pandas' object-string hashtable is NUL-truncating
    # (khash strcmp), so logtypes differing only past a \x00 byte would
    # share a template. Plain dict interning is NUL-safe.
    cmap: dict[str, int] = {}
    uniques: list[str] = []
    codes = np.empty(n, dtype=np.int64)
    for i, s in enumerate(lts.tolist()):
        c = cmap.get(s)
        if c is None:
            c = len(uniques)
            cmap[s] = c
            uniques.append(s)
        codes[i] = c
    enc_vals = enc.to_numpy()
    # group rows by template code via one stable argsort (O(n log n),
    # independent of the number of distinct templates)
    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    starts = np.searchsorted(sorted_codes, np.arange(len(uniques)))
    ends = np.append(starts[1:], n)

    for g, lt in enumerate(uniques):
        tpl = _TEMPLATE_CACHE.get(lt)
        if tpl is None:
            if len(_TEMPLATE_CACHE) > 1_000_000:
                _TEMPLATE_CACHE.clear()
            tpl = _parse_logtype_template(lt)
            _TEMPLATE_CACHE[lt] = tpl
        consts, phs = tpl
        rows = order[starts[g]:ends[g]]
        m = len(phs)
        if m == 0:
            out[rows] = consts[0]
            continue
        enc_lists = [
            e if e is not None and len(e) >= m else ([0] * m)
            for e in (enc_vals[r] for r in rows)
        ]
        # per-placeholder value columns (python lists of str)
        cols: list[list] = []
        dict_slot = 0
        for j, p in enumerate(phs):
            if p == PLACEHOLDER_INT:
                cols.append([str(e[j]) for e in enc_lists])
            elif p == PLACEHOLDER_FLOAT:
                arr = np.fromiter(
                    (e[j] for e in enc_lists), dtype=np.int64, count=len(rows)
                )
                cols.append(list(encoder.decode_float_batch(arr)))
            else:
                cols.append(dict_values(enc_lists, rows, j, dict_slot))
                dict_slot += 1
        # interleave constants and values: one small join per row
        buf: list = []
        slot_ix: list[int] = []
        for j in range(m):
            if consts[j]:
                buf.append(consts[j])
            slot_ix.append(len(buf))
            buf.append(None)
        if consts[m]:
            buf.append(consts[m])
        join = "".join
        if len(slot_ix) == 1 and len(buf) <= 3:
            pre = buf[0] if slot_ix[0] == 1 else ""
            post = buf[slot_ix[0] + 1] if slot_ix[0] + 1 < len(buf) else ""
            res = [pre + v + post for v in cols[0]]
        else:
            res = []
            for vals in zip(*cols):
                for s, v in zip(slot_ix, vals):
                    buf[s] = v
                res.append(join(buf))
        out[rows] = res
    return pd.Series(out, index=idx, dtype=object)


def decode_frame(
    logtypes: pd.Series,
    encoded: pd.Series,
    dict_strs: pd.Series,
) -> pd.Series:
    """Inverse of :func:`tokenize_arrow_arrays` — rebuild the original message.

    Mirrors clp/EncodedVariableInterpreter.cpp:298-367
    (decode_variables_into_message): walk the logtype, substitute each
    placeholder with the decoded variable, unescape escaped bytes.

    ``encoded`` holds per-row int64 lists (dict slots may carry either
    row ordinals or global dictionary IDs — they are ignored);
    ``dict_strs`` holds the row's dictionary-variable strings in order of
    appearance (i.e. dictionary IDs already resolved to strings by the
    caller via the var-dict join). The Nth dictionary placeholder in the
    logtype consumes ``dict_strs[N]``.
    """
    ds = dict_strs.reset_index(drop=True)
    ds_vals = ds.to_numpy()

    def dict_from_lists(enc_lists, rows, j, dict_slot):
        vals = []
        for r in rows:
            x = ds_vals[r]
            v = x[dict_slot] if x is not None and dict_slot < len(x) else None
            vals.append(v if v is not None else "")
        return vals

    return _decode_rows(logtypes, encoded, dict_from_lists)


def decode_frame_with_map(
    logtypes: pd.Series,
    encoded: pd.Series,
    mapping: dict,
) -> pd.Series:
    """Decode with dictionary-variable IDs resolved through an in-memory
    ``mapping`` (var_id -> var_str) instead of pre-resolved per-row
    string lists — the broadcast-dictionary fast path: the ID lookup
    happens inside the same kernel pass, so decode is ONE Python stage
    with no intermediate dict_strs array payload crossing the Arrow
    boundary."""

    def dict_from_map(enc_lists, rows, j, dict_slot):
        get = mapping.get
        return [get(e[j], "") or "" for e in enc_lists]

    return _decode_rows(logtypes, encoded, dict_from_map)
