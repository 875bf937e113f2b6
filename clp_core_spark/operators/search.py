"""Dictionary-encoded search — CLP's search-without-decompression
(clp/Grep.cpp:499-628, clp/Query.cpp) as a driver-side query compiler that
emits Spark predicates over the encoded table.

Pipeline per query:

1. Wrap in ``*...*``, clean up wildcards (string_utils.cpp:132-167).
2. Tokenize wildcard-aware (Grep::get_bounds_of_next_potential_var,
   Grep.cpp:630-748).
3. Enumerate every combination of ambiguous token types (odometer over
   possible types, Grep.cpp:557-615) -> one SubQuery each.
4. Per SubQuery: build a logtype *wildcard pattern* + query-variable
   constraints (generate_logtypes_and_vars_for_subquery, Grep.cpp:409-496;
   process_var_token, Grep.cpp:315-372), probe the broadcastable logtype /
   var dictionaries with the pattern (dictionary-first evaluation — empty
   candidate set prunes the subquery before any data scan), and emit:
   ``logtype_id IN (...) AND vars-ordered-subsequence(...)``.
5. Execute: OR of subquery predicates, logtype-ID pushdown first; rows
   matched only by verify-required subqueries are decoded and re-checked
   with the original wildcard pattern (Grep.cpp:935-951). Only the
   candidate scan runs on the cluster when that residue is small: it is
   collected once and verified in driver memory against the held
   dictionaries, as CLP's search process does; a large residue is
   decoded and matched where it lies.

The encoded-domain semantics (ordered, non-contiguous subsequence over
``encoded_vars``) mirror clp/Query.cpp:150-173; the subsequence automaton
is a JVM-side ``aggregate`` over the array — no Python in the row path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from clp_core_spark.functions import encoder
from clp_core_spark.functions.tokenizer import (
    ESCAPE_CHAR,
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
)
from clp_core_spark.functions.wildcard import (
    clean_up_wildcard_search_string,
    is_wildcard,
    regex_to_wildcard,
    wildcard_regex,
    wildcard_to_regex,
)
from clp_core_spark.operators import dictionaries
from clp_core_spark.session import job_description, local_table

_PLACEHOLDERS = (PLACEHOLDER_INT, PLACEHOLDER_DICT, PLACEHOLDER_FLOAT)
_TOKEN_CHARS = set("+-.0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ\\_abcdefghijklmnopqrstuvwxyz")

# QueryToken types (Grep.cpp:63-71)
T_WILDCARD = "wildcard"
T_LOGTYPE = "logtype"
T_DICT = "dict"
T_FLOAT = "float"
T_INT = "int"


def _is_delim(c: str) -> bool:
    return c not in _TOKEN_CHARS


def _is_decimal_digit(c: str) -> bool:
    return "0" <= c <= "9"


def _is_alphabet(c: str) -> bool:
    return ("a" <= c <= "z") or ("A" <= c <= "Z")


def _could_be_multi_digit_hex(s: str) -> bool:
    return len(s) >= 2 and all(
        ("a" <= c <= "f") or ("A" <= c <= "F") or ("0" <= c <= "9") for c in s
    )


def _int_encodable(s: str) -> bool:
    import pandas as pd

    m, _ = encoder.classify_encode_int(pd.Series([s]))
    return bool(m.iloc[0])


def _float_encodable(s: str) -> bool:
    import pandas as pd

    m, _ = encoder.classify_encode_float(pd.Series([s]))
    return bool(m.iloc[0])


def get_bounds_of_next_potential_var(value: str, begin_pos: int, end_pos: int):
    """Port of Grep.cpp:630-748 (heuristic path). Returns
    (found, begin_pos, end_pos, is_var)."""
    n = len(value)
    if end_pos >= n:
        return False, begin_pos, end_pos, False

    is_var = False
    contains_wildcard = False
    while (not is_var) and (not contains_wildcard) and begin_pos < n:
        begin_pos = end_pos
        # Find next wildcard or non-delimiter
        is_escaped = False
        while begin_pos < n:
            c = value[begin_pos]
            if is_escaped:
                is_escaped = False
                if not _is_delim(c):
                    begin_pos -= 1  # retain the escape character
                    break
            elif c == "\\":
                is_escaped = True
            else:
                if is_wildcard(c):
                    contains_wildcard = True
                    break
                if not _is_delim(c):
                    break
            begin_pos += 1

        contains_decimal_digit = False
        contains_alphabet = False
        is_escaped = False
        end_pos = begin_pos
        while end_pos < n:
            c = value[end_pos]
            if is_escaped:
                is_escaped = False
                if _is_delim(c):
                    end_pos -= 1  # retain the escape character
                    break
            elif c == "\\":
                is_escaped = True
            else:
                if is_wildcard(c):
                    contains_wildcard = True
                elif _is_delim(c):
                    break
            if _is_decimal_digit(c):
                contains_decimal_digit = True
            elif _is_alphabet(c):
                contains_alphabet = True
            end_pos += 1

        variable = value[begin_pos:end_pos]
        if contains_decimal_digit or _could_be_multi_digit_hex(variable):
            is_var = True
        elif begin_pos > 0 and value[begin_pos - 1] == "=" and contains_alphabet:
            # no wildcard between '=' and the first alphabet (Grep.cpp:718-740)
            is_escaped = False
            found_wildcard_before_alphabet = False
            for i in range(begin_pos, end_pos):
                c = value[i]
                if is_escaped:
                    is_escaped = False
                    if _is_alphabet(c):
                        break
                elif c == "\\":
                    is_escaped = True
                elif is_wildcard(c):
                    found_wildcard_before_alphabet = True
                    break
                elif _is_alphabet(c):
                    break
            if not found_wildcard_before_alphabet:
                is_var = True

    return (begin_pos != n), begin_pos, end_pos, is_var


def get_bounds_of_next_potential_var_schema(
    value: str, begin_pos: int, end_pos: int, schema_spec
):
    """Schema-file twin of get_bounds_of_next_potential_var — the
    reference's log-surgeon query path (Grep.cpp:750-891): token
    boundaries come from the SCHEMA's delimiter set, and a wildcard-free
    token is a variable iff some schema rule matches it in full (the
    forward-lexer scan). Wildcarded tokens: a ``text*`` token is a
    variable iff ``text`` is a prefix of the rule's language
    (scan_with_wildcard) — checked with the ``regex`` module's partial
    matching when available; without it (and for ``*text`` /
    mid-wildcard forms, where the reference uses a reversed DFA) the
    token stays AMBIGUOUS, which is semantically safe: the odometer
    enumerates both interpretations and empty dictionary probes prune
    the wrong one. Returns (found, begin_pos, end_pos, is_var)."""
    import re as _re

    delims = set(schema_spec.delimiters + " ")
    n = len(value)
    if end_pos >= n:
        return False, begin_pos, end_pos, False

    def _full(tok: str) -> bool:
        return any(
            _re.fullmatch(f"(?:{p})", tok) is not None
            for _name, p in schema_spec.rules
        )

    def _prefix_of_language(tok: str) -> bool | None:
        try:
            import regex as _rx  # optional; not in the base image
        except ImportError:
            return None
        for _name, p in schema_spec.rules:
            if _rx.fullmatch(f"(?:{p})", tok, partial=True) is not None:
                return True
        return False

    is_var = False
    contains_wildcard = False
    while not is_var and not contains_wildcard and begin_pos < n:
        begin_pos = end_pos
        is_escaped = False
        while begin_pos < n:
            c = value[begin_pos]
            if is_escaped:
                is_escaped = False
                if c not in delims:
                    begin_pos -= 1
                    break
            elif c == "\\":
                is_escaped = True
            else:
                if is_wildcard(c):
                    contains_wildcard = True
                    break
                if c not in delims:
                    break
            begin_pos += 1

        is_escaped = False
        end_pos = begin_pos
        while end_pos < n:
            c = value[end_pos]
            if is_escaped:
                is_escaped = False
                if c in delims:
                    end_pos -= 1
                    break
            elif c == "\\":
                is_escaped = True
            else:
                if is_wildcard(c):
                    contains_wildcard = True
                elif c in delims:
                    break
            end_pos += 1

        if end_pos > begin_pos:
            tok = value[begin_pos:end_pos]
            has_prefix_w = tok[0] in "*?"
            has_suffix_w = tok[-1] in "*?"
            mid = any(
                tok[i] in "*?" and tok[i - 1] != "\\"
                for i in range(1, len(tok) - 1)
            )
            if mid or (has_prefix_w and has_suffix_w) or has_prefix_w:
                pass  # ambiguous (reference: reversed-DFA cases)
            elif has_suffix_w:
                hit = _prefix_of_language(tok[:-1])
                if hit:
                    is_var = True
                # None (no regex module) or False: stays ambiguous/constant
                # exactly like the DO-NOTHING branch
            else:
                is_var = _full(tok)

    return begin_pos != n, begin_pos, end_pos, is_var


class QueryToken:
    """Port of the QueryToken classification (Grep.cpp:92-172)."""

    def __init__(self, query_string: str, begin_pos: int, end_pos: int, is_var: bool):
        self.begin_pos, self.end_pos = begin_pos, end_pos
        self.value = query_string[begin_pos:end_pos]
        self.cannot_convert_to_non_dict_var = False
        self.current_ix = 0
        v = self.value
        if v == "*":
            self.has_prefix_star, self.has_suffix_star, self.has_mid_star = True, False, False
            self.contains_wildcards = True
            self.possible_types = [T_WILDCARD]
        else:
            self.has_prefix_star = v[0] == "*"
            self.has_suffix_star = v[-1] == "*"
            self.has_mid_star = "*" in v[1:-1]
            self.contains_wildcards = (
                self.has_prefix_star or self.has_suffix_star or self.has_mid_star
            )
            if not is_var:
                if not self.contains_wildcards:
                    self.possible_types = [T_LOGTYPE]
                else:
                    self.possible_types = [T_LOGTYPE, T_INT, T_FLOAT, T_DICT]
            else:
                without = v[1:] if self.has_prefix_star else v
                without = without[:-1] if self.has_suffix_star else without
                if _int_encodable(without) or _float_encodable(without):
                    self.possible_types = [T_INT, T_FLOAT, T_DICT]
                else:
                    self.possible_types = [T_DICT]
                    self.cannot_convert_to_non_dict_var = True

    @property
    def type(self) -> str:
        return self.possible_types[self.current_ix]

    def is_ambiguous(self) -> bool:
        return len(self.possible_types) > 1

    def is_var_type(self) -> bool:
        return self.type in (T_INT, T_FLOAT, T_DICT)

    def advance(self) -> bool:
        if self.current_ix < len(self.possible_types) - 1:
            self.current_ix += 1
            return True
        self.current_ix = 0
        return False


# Above this many dictionary hits, a probe result stays a DataFrame and is
# consumed via broadcast semi-join instead of an inlined `isin` literal —
# a broad wildcard over a 10^6-entry dict must never serialize its ID set
# into the plan (or the driver). Mirrors CLP's dictionary-first evaluation
# (Grep.cpp:460-496) without the single-node assumption.
ISIN_MAX_IDS = 1000


@dataclass
class ProbeResult:
    """Outcome of one dictionary probe: either a small literal ID set
    (``ids``) or a lazy DataFrame of IDs (``df``) for semi-join use."""

    ids: list[int] | None
    df: DataFrame | None

    @property
    def empty(self) -> bool:
        return self.ids is not None and not self.ids


@dataclass
class QueryVarPlan:
    """QueryVar (clp/Query.cpp:29-66): precise encoded value or a set.
    Exactly one of ``values`` / ``values_df`` is set; ``values_df`` holds a
    single ``var_id`` column for large wildcard hit sets."""

    values: list[int] | None
    is_dict: bool
    values_df: DataFrame | None = None


@dataclass
class SubQueryPlan:
    logtype_ids: list[int] | None
    vars: list[QueryVarPlan] = field(default_factory=list)
    wildcard_match_required: bool = False
    logtype_df: DataFrame | None = None

    def is_literal(self) -> bool:
        return self.logtype_df is None and all(
            v.values_df is None for v in self.vars
        )

    def literal_key(self) -> tuple | None:
        """What a literal subquery matches, for dedup; None otherwise."""
        if not self.is_literal():
            return None
        return (
            frozenset(self.logtype_ids),
            tuple(frozenset(v.values) for v in self.vars),
            self.wildcard_match_required,
        )


@dataclass
class CompiledQuery:
    search_string: str  # processed (wrapped + cleaned), for residual verify
    ignore_case: bool
    matches_all: bool = False
    sub_queries: list[SubQueryPlan] = field(default_factory=list)

    @property
    def wont_match(self) -> bool:
        return not self.matches_all and not self.sub_queries


def _append_query_constant(constant: str, out: list[str]) -> None:
    """append_constant_to_logtype with the query escape handler
    (Grep.cpp:417-430 + ir/parsing.inc:12-33), building a logtype
    *wildcard pattern*."""
    for i, c in enumerate(constant):
        if c == ESCAPE_CHAR or c in _PLACEHOLDERS:
            if i + 1 < len(constant) and not is_wildcard(constant[i + 1]):
                out.append(ESCAPE_CHAR)
            elif c in _PLACEHOLDERS:
                out.append(ESCAPE_CHAR)
                out.append(ESCAPE_CHAR)
        out.append(c)


class DictProbes:
    """Wildcard/exact probes against the two dictionaries, memoized per
    (dictionary, pattern) — dictionary-first evaluation, Grep.cpp:460-496.

    One rule for both dictionaries: a dictionary held in driver memory is
    matched there with zero Spark jobs, as CLP holds both dictionaries in
    memory during query compilation (Grep.cpp:477-495). The logtype
    dictionary takes its driver copy on first use
    (dictionaries.driver_copy); a var dictionary is matched in memory
    only when it already holds its copy (a verify decode or a dense
    encode took it), since a probe never collects a possibly huge var
    dictionary. Any other probe is one bounded Spark job (``search:probe``)
    that collects at most ``max_literal_ids + 1`` IDs.

    Either way, small hit sets become literal ``isin`` predicates (the
    exact encoded automaton), and anything larger stays a lazy DataFrame
    that execution consumes via broadcast semi-join, so driver memory
    and plan size stay O(cutoff) regardless of dictionary size."""

    def __init__(self, logtype_dict: DataFrame, var_dict: DataFrame,
                 ignore_case: bool, max_literal_ids: int = ISIN_MAX_IDS):
        self.logtype_dict = logtype_dict
        self.var_dict = var_dict
        self.ignore_case = ignore_case
        self.max_literal_ids = max_literal_ids
        self._cache: dict = {}

    def _hits(self, df: DataFrame, value_col: str, id_col: str, pattern: str,
              exact: bool) -> DataFrame:
        """The probe as a lazy DataFrame of the matching IDs."""
        col = F.col(value_col)
        pat = pattern
        if self.ignore_case:
            col = F.lower(col)
            pat = pattern.lower()
        cond = (col == F.lit(pat)) if exact else col.rlike(wildcard_to_regex(pat))
        return df.filter(cond).select(id_col)

    def _probe(self, df: DataFrame, value_col: str, id_col: str, pattern: str,
               exact: bool) -> ProbeResult:
        key = (id_col, pattern, exact)
        if key in self._cache:
            return self._cache[key]
        held = df is self.logtype_dict or dictionaries.has_driver_copy(df)
        copy = dictionaries.driver_copy(df) if held else None
        hits = None  # built only when used: each build costs JVM round trips
        if copy is not None:
            lower = self.ignore_case
            pat = pattern.lower() if lower else pattern
            rx = None if exact else wildcard_regex(pattern, case_sensitive=not lower)
            ids = []
            for v, i in zip(copy.frame[value_col].tolist(), copy.frame[id_col].tolist()):
                if v is None:
                    continue
                v = v.lower() if lower else v
                if (v == pat) if exact else rx.match(v):
                    ids.append(i)
        else:
            hits = self._hits(df, value_col, id_col, pattern, exact)
            with job_description(df.sparkSession, "search:probe"):
                head = hits.limit(self.max_literal_ids + 1).collect()
            ids = [int(r[id_col]) for r in head]
        if len(ids) <= self.max_literal_ids:
            res = ProbeResult(ids=ids, df=None)
        else:
            if hits is None:
                hits = self._hits(df, value_col, id_col, pattern, exact)
            res = ProbeResult(ids=None, df=hits)
        self._cache[key] = res
        return res

    def logtypes(self, pattern: str) -> ProbeResult:
        return self._probe(self.logtype_dict, "logtype", "logtype_id", pattern, exact=False)

    def var_exact(self, value: str) -> ProbeResult:
        return self._probe(self.var_dict, "var_str", "var_id", value, exact=True)

    def var_wildcard(self, pattern: str) -> ProbeResult:
        return self._probe(self.var_dict, "var_str", "var_id", pattern, exact=False)


def _process_var_token(tok: QueryToken, probes: DictProbes, sub: SubQueryPlan,
                       lt: list[str]) -> bool:
    """process_var_token (Grep.cpp:315-372). Returns False => WontMatch."""
    # Precise-var fallback is still verified on the decoded message
    sub.wildcard_match_required = True

    if not tok.contains_wildcards:
        # encode_and_search_dictionary (EncodedVariableInterpreter.cpp:369-401)
        import pandas as pd

        m, v = encoder.classify_encode_int(pd.Series([tok.value]))
        if m.iloc[0]:
            lt.append(PLACEHOLDER_INT)
            sub.vars.append(QueryVarPlan([int(v[0])], is_dict=False))
            return True
        m, v = encoder.classify_encode_float(pd.Series([tok.value]))
        if m.iloc[0]:
            lt.append(PLACEHOLDER_FLOAT)
            sub.vars.append(QueryVarPlan([int(v[0])], is_dict=False))
            return True
        res = probes.var_exact(tok.value)
        if res.empty:
            return False
        lt.append(PLACEHOLDER_DICT)
        sub.vars.append(QueryVarPlan(res.ids, is_dict=True, values_df=res.df))
        return True

    if tok.has_prefix_star:
        lt.append("*")
    if tok.type == T_FLOAT:
        lt.append(PLACEHOLDER_FLOAT)
    elif tok.type == T_INT:
        lt.append(PLACEHOLDER_INT)
    else:
        lt.append(PLACEHOLDER_DICT)
        if tok.cannot_convert_to_non_dict_var:
            res = probes.var_wildcard(tok.value)
            if res.empty:
                return False
            sub.vars.append(QueryVarPlan(res.ids, is_dict=True, values_df=res.df))
    if tok.has_suffix_star:
        lt.append("*")
    return True


def _prefetch_var_probes(tokens: list[QueryToken], probes: DictProbes) -> None:
    """Warm the probe memo concurrently. Every var-dict probe the
    odometer can issue is known from the token list alone (one probe per
    dict-only token: exact for literal values, wildcard otherwise;
    mid-star tokens never probe), but the odometer discovers them one by
    one, serializing one bounded Spark job per probe. Running them as
    parallel driver-thread jobs makes compile wall time ~= the slowest
    single probe instead of the sum (CLP compiles against in-memory
    dictionaries, Grep.cpp:460-496 — this is the distributed-dictionary
    analog of that zero-latency access)."""
    keys: list[tuple[str, str]] = []
    for tok in tokens:
        if tok.has_mid_star or not tok.cannot_convert_to_non_dict_var:
            continue
        keys.append(("wild" if tok.contains_wildcards else "exact", tok.value))
    keys = list(dict.fromkeys(keys))
    if len(keys) < 2 or dictionaries.has_driver_copy(probes.var_dict):
        return  # nothing to overlap: in-memory probes launch no job
    from concurrent.futures import ThreadPoolExecutor

    def _one(k: tuple[str, str]) -> None:
        if k[0] == "exact":
            probes.var_exact(k[1])
        else:
            probes.var_wildcard(k[1])

    with ThreadPoolExecutor(min(len(keys), 8)) as pool:
        list(pool.map(_one, keys))


def compile_query(
    search_string: str,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    ignore_case: bool = False,
    max_literal_ids: int = ISIN_MAX_IDS,
    wrap: bool = True,
    schema_spec=None,
) -> CompiledQuery:
    """Grep::process_raw_query (Grep.cpp:499-628). ``wrap=True`` is clp's
    CLI substring-grep convention (query wrapped in ``*...*``);
    ``wrap=False`` matches the full message — clp_s KQL value semantics
    (clp_s/search/kql/kql.cpp unquote_literal, no implicit stars).

    ``schema_spec``: when the corpus was ingested with a schema file, the
    QUERY must be tokenized with the same schema (delimiters + rules), not
    the heuristic — the reference switches Grep to the log-surgeon lexer
    pair for this (Grep.cpp:750-891); a heuristic-tokenized query can
    split tokens the schema kept whole and miss every row."""
    if wrap:
        search_string = "*" + search_string + "*"
    processed = clean_up_wildcard_search_string(search_string)

    # '?' has no subquery support: an unescaped '?' reads as '*' for
    # generation (Grep.cpp:521-530), so every subquery of such a query is
    # verified against the original '?'; an escaped '\?' stays literal.
    for_subqueries = clean_up_wildcard_search_string(
        re.sub(r"(\\.)|\?", lambda m: m.group(1) or "*", processed)
    )
    verify_all = "?" in re.sub(r"\\.", "", processed)

    tokens: list[QueryToken] = []
    begin = end = 0
    while True:
        if schema_spec is not None:
            found, begin, end, is_var = get_bounds_of_next_potential_var_schema(
                for_subqueries, begin, end, schema_spec
            )
        else:
            found, begin, end, is_var = get_bounds_of_next_potential_var(
                for_subqueries, begin, end
            )
        if not found:
            break
        tokens.append(QueryToken(for_subqueries, begin, end, is_var))

    ambiguous = [t for t in tokens if not t.has_mid_star and t.is_ambiguous()]

    out = CompiledQuery(search_string=processed, ignore_case=ignore_case)
    probes = DictProbes(logtype_dict, var_dict, ignore_case, max_literal_ids)
    _prefetch_var_probes(tokens, probes)
    # the ambiguous-token odometer can interpret a query several ways that
    # probe to the same IDs; a literal subquery is kept once
    seen: set[tuple] = set()

    changed = True
    while changed:
        sub = SubQueryPlan(logtype_ids=[], wildcard_match_required=verify_all)
        lt: list[str] = []
        last_end = 0
        wont_match = False
        for tok in tokens:
            _append_query_constant(for_subqueries[last_end:tok.begin_pos], lt)
            last_end = tok.end_pos
            if tok.type == T_WILDCARD:
                lt.append("*")
            elif tok.has_mid_star:
                # fallback: decompress + wildcard match (Grep.cpp:443-456)
                sub.wildcard_match_required = True
                if not tok.is_var_type():
                    lt.append("*")
                else:
                    lt.append("*")
                    lt.append(PLACEHOLDER_DICT)
                    lt.append("*")
            elif not tok.is_var_type():
                _append_query_constant(tok.value, lt)
            elif not _process_var_token(tok, probes, sub, lt):
                wont_match = True
                break

        if not wont_match:
            _append_query_constant(for_subqueries[last_end:], lt)
            pattern = "".join(lt)
            if pattern == "*":
                out.matches_all = True
                out.sub_queries = []
                return out
            res = probes.logtypes(pattern)
            if not res.empty:
                sub.logtype_ids = res.ids
                sub.logtype_df = res.df
                key = sub.literal_key()
                if key is None or key not in seen:
                    out.sub_queries.append(sub)
                    seen.add(key)

        changed = False
        for tok in ambiguous:
            if tok.advance():
                changed = True
                break

    return out


# --- execution ---------------------------------------------------------------


# JVM template-decode bound: above this many templates the CASE chain
# stops paying for itself (codegen size); fall back to the Python kernel.
_JVM_DECODE_MAX_LOGTYPES = 64


def _decode_for_verify(
    df: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    key_cols: list[str],
    slim_to_needed: bool = False,
) -> DataFrame:
    """Attach ``decoded_text`` for the distributed wildcard verify, the
    path of a residue above ``VERIFY_DRIVER_MAX`` rows or of dictionaries
    without driver copies (a smaller residue is verified in driver memory,
    :func:`_verify_on_driver`). When every
    logtype's placeholders are INTEGER variables (no dictionary/float
    slots) and the logtype dict is driver-resident, the reconstruction
    is a pure-JVM CASE over per-template concat chains —
    ``Long.toString`` equals Python ``str(int)``, so the text is
    byte-identical to the kernel decode — and the verify scan stays in
    whole-stage codegen with no Python boundary (the clp_s-lite ClpString
    corpora are int-only; measured ~0.55s -> ~0.1s per full-corpus
    verify). Anything else falls back to encode_pipeline.decode."""
    from clp_core_spark.functions.tokenizer import (
        _parse_logtype_template,
        PLACEHOLDER_INT,
    )

    copy = dictionaries.driver_copy(logtype_dict)
    if copy is not None and 0 < len(copy.frame) <= _JVM_DECODE_MAX_LOGTYPES:
        templates = []
        int_only = True
        for lt, lid in zip(copy.frame["logtype"], copy.frame["logtype_id"]):
            consts, phs = _parse_logtype_template(lt)
            if any(p != PLACEHOLDER_INT for p in phs):
                int_only = False
                break
            templates.append((int(lid), consts, phs))
        if int_only:
            expr = None
            for lid, consts, phs in templates:
                parts = []
                for j in range(len(phs)):
                    if consts[j]:
                        parts.append(F.lit(consts[j]))
                    parts.append(
                        F.element_at("encoded_vars", j + 1).cast("string")
                    )
                if consts[len(phs)]:
                    parts.append(F.lit(consts[len(phs)]))
                if not parts:
                    parts = [F.lit("")]
                text = parts[0] if len(parts) == 1 else F.concat(*parts)
                cond = F.col("logtype_id") == F.lit(lid)
                expr = (
                    F.when(cond, text)
                    if expr is None
                    else expr.when(cond, text)
                )
            return df.withColumn("decoded_text", expr)
    from clp_core_spark.operators import encode_pipeline

    return encode_pipeline.decode(
        df, logtype_dict, var_dict, key_cols, slim_to_needed=slim_to_needed
    )


def _verify(
    residue: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    compiled: CompiledQuery,
    key_cols: list[str],
    out_cols: list[str],
    slim_to_needed: bool = False,
) -> DataFrame:
    """The ``out_cols`` of the ``residue`` rows whose decoded message
    matches the processed query string: the residual verify of
    Grep.cpp:935-951. A residue within ``VERIFY_DRIVER_MAX`` rows is
    verified in driver memory (:func:`_verify_on_driver`); a larger one,
    or one whose dictionaries are not both held, is decoded
    (:func:`_decode_for_verify`) and matched with ``rlike`` where it
    lies. ``slim_to_needed`` is passed on to the distributed decode."""
    hits = _verify_on_driver(residue, logtype_dict, var_dict, compiled, out_cols)
    if hits is not None:
        return hits
    decoded = _decode_for_verify(
        residue, logtype_dict, var_dict, key_cols, slim_to_needed=slim_to_needed
    )
    pat = compiled.search_string
    col = F.col("decoded_text")
    if compiled.ignore_case:
        col, pat = F.lower(col), pat.lower()
    return decoded.filter(col.rlike(wildcard_to_regex(pat))).select(*out_cols)


def _verify_on_driver(
    residue: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    compiled: CompiledQuery,
    out_cols: list[str],
) -> DataFrame | None:
    """The verify hits as a local relation, or None when either
    dictionary has no driver copy or the residue holds more than
    ``VERIFY_DRIVER_MAX`` rows.

    CLP decodes and wildcard-matches the candidate messages inside the
    search process, with both dictionaries in memory (Grep.cpp:477-495,
    :935-951). Here one Arrow collect of at most ``VERIFY_DRIVER_MAX + 1``
    rows (the out columns, ``logtype_id`` and ``encoded_vars``) is both
    the size test and the data; the rows decode through the same kernel
    as the distributed decode (tokenizer.decode_frame_with_map, over the
    id -> string maps of the driver copies) and match with the ``rlike``
    semantics (wildcard.wildcard_regex). No Python worker starts, so the
    residue pays no UDF stage. Timestamps leave Spark as ``unix_micros``,
    exact whatever the Python process's zone."""
    from pyspark.sql.types import TimestampType

    from clp_core_spark.functions.tokenizer import decode_frame_with_map

    lt_copy = dictionaries.driver_copy(logtype_dict)
    var_copy = lt_copy and dictionaries.driver_copy(var_dict)
    if not var_copy:
        return None
    bound = dictionaries.VERIFY_DRIVER_MAX
    schema = residue.select(*out_cols).schema
    cols = [
        F.unix_micros(f.name).alias(f.name) if isinstance(f.dataType, TimestampType)
        else F.col(f.name)
        for f in schema.fields
    ]
    with job_description(residue.sparkSession, "search:verify-residue"):
        table = (
            residue.select(*cols, F.col("logtype_id").alias("_lt"),
                           F.col("encoded_vars").alias("_ev"))
            .limit(bound + 1)
            .toArrow()
        )
    if table.num_rows > bound:
        return None
    lt_of = lt_copy.lookup("logtype_id", "logtype")
    # a logtype the dictionary lacks drops the row, as the decode's join does
    logtypes = pd.Series([lt_of.get(i) for i in table.column("_lt").to_pylist()], dtype=object)
    known = logtypes.notna().to_numpy()
    texts = decode_frame_with_map(
        logtypes[known], table.column("_ev").to_pandas()[known],
        var_copy.lookup("var_id", "var_str"),
    )
    lower = compiled.ignore_case
    rx = wildcard_regex(compiled.search_string, case_sensitive=not lower)
    known[known] = [rx.match(t.lower() if lower else t) is not None for t in texts]
    # the out columns by position: they may repeat a name
    hits = table.filter(pa.array(known)).select(range(len(cols)))
    return local_table(residue.sparkSession, hits, schema)


def _subseq_predicate(vars_plan: list[QueryVarPlan]) -> Column:
    """Ordered non-contiguous subsequence of query vars within
    ``encoded_vars`` (clp/Query.cpp:150-173) as a JVM-side aggregate:
    the accumulator is the number of query vars matched so far."""
    k = len(vars_plan)
    if k == 0:
        return F.lit(True)

    def step(acc: Column, x: Column) -> Column:
        expr = acc
        # built in reverse so earlier states take precedence in the chain
        for i in reversed(range(k)):
            qv = vars_plan[i]
            cond = x.isin(qv.values) if len(qv.values) > 1 else (x == F.lit(qv.values[0]))
            expr = F.when((acc == i) & cond, i + 1).otherwise(expr)
        return expr

    matched = F.aggregate("encoded_vars", F.lit(0), step)
    return (F.size("encoded_vars") >= k) & (matched == k)


def _subquery_predicate(sub: SubQueryPlan) -> Column:
    pred = F.col("logtype_id").isin(sub.logtype_ids)
    return pred & _subseq_predicate(sub.vars)


def _join_sub_candidates(df: DataFrame, sub: SubQueryPlan,
                         key_cols: list[str]) -> DataFrame:
    """Candidate rows for a subquery whose probe hit sets were too large to
    inline. Logtype membership is an exact broadcast semi-join on
    ``logtype_id``. Large var sets relax the ordered-subsequence automaton
    to per-set membership (explode -> broadcast semi-join on the var ID ->
    semi-join back on the row key) — recall-preserving, and any subquery
    with vars is wildcard-verify-required (Grep.cpp:935-951), so the decode
    verify restores exactness. Literal vars still run the exact automaton."""
    cand = df
    if sub.logtype_df is not None:
        cand = cand.join(F.broadcast(sub.logtype_df), "logtype_id", "leftsemi")
    else:
        cand = cand.filter(F.col("logtype_id").isin(sub.logtype_ids))

    literal_vars = [v for v in sub.vars if v.values_df is None]
    if literal_vars:
        cand = cand.filter(_subseq_predicate(literal_vars))

    for v in sub.vars:
        if v.values_df is None:
            continue
        ids = v.values_df.select(F.col("var_id").alias("_ev"))
        hit_keys = (
            cand.select(*key_cols, F.explode("encoded_vars").alias("_ev"))
            .join(F.broadcast(ids), "_ev", "leftsemi")
            .select(*key_cols)
        )
        cand = cand.join(hit_keys, key_cols, "leftsemi")
    return cand


def search(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    compiled: CompiledQuery,
    key_cols: list[str],
    ts_begin_ms: int | None = None,
    ts_end_ms: int | None = None,
    select_cols: list[str] | None = None,
) -> DataFrame:
    """Execute a compiled query over the encoded table. Returns matching
    rows (key_cols + select_cols).

    Direct subqueries stay lazy filters and semi-joins over ``encoded``.
    The verify-required rows (and a ``?``-only query's rows) are the
    residue: within ``dictionaries.VERIFY_DRIVER_MAX`` rows, and with both
    dictionaries held in driver memory, it is collected once (a
    ``search:verify-residue`` job) and verified on the driver, so the
    result holds those hits as a local relation and this call runs that
    job before it returns; otherwise the residue is decoded and matched
    with ``rlike`` in the returned plan (:func:`_verify`)."""
    select_cols = select_cols or []
    out_cols = key_cols + select_cols
    df = encoded
    # NTZ timestamps read from parquet are interpreted in the session TZ
    # (UTC per get_spark) by the cast.
    epoch = F.unix_millis(F.col("ts").cast("timestamp"))
    if ts_begin_ms is not None:
        df = df.filter(epoch >= ts_begin_ms)
    if ts_end_ms is not None:
        df = df.filter(epoch <= ts_end_ms)

    if compiled.matches_all:
        # SupercedesAll: no subqueries — but if the *original* pattern is
        # not literally match-all (e.g. '?'-only queries whose subquery
        # form collapsed to '*'), every row is still decoded and
        # wildcard-verified (Grep.cpp:936-951:
        # `!contains_sub_queries && !search_string_matches_all`).
        if compiled.search_string in ("", "*"):
            return df.select(*out_cols)
        return _verify(df, logtype_dict, var_dict, compiled, key_cols, out_cols)
    if compiled.wont_match:
        return df.select(*out_cols).limit(0)

    lit_direct = [s for s in compiled.sub_queries
                  if not s.wildcard_match_required and s.is_literal()]
    join_direct = [s for s in compiled.sub_queries
                   if not s.wildcard_match_required and not s.is_literal()]
    lit_verify = [s for s in compiled.sub_queries
                  if s.wildcard_match_required and s.is_literal()]
    join_verify = [s for s in compiled.sub_queries
                   if s.wildcard_match_required and not s.is_literal()]
    has_join_subs = bool(join_direct or join_verify)

    results = []
    pred_direct = None
    if lit_direct:
        pred_direct = F.lit(False)
        for s in lit_direct:
            pred_direct = pred_direct | _subquery_predicate(s)
        results.append(df.filter(pred_direct).select(*out_cols))
    for s in join_direct:
        results.append(_join_sub_candidates(df, s, key_cols).select(*out_cols))

    candidates = None
    if lit_verify:
        pred_v = F.lit(False)
        for s in lit_verify:
            pred_v = pred_v | _subquery_predicate(s)
        if pred_direct is not None:
            pred_v = pred_v & ~pred_direct
        candidates = df.filter(pred_v)
    for s in join_verify:
        c = _join_sub_candidates(df, s, key_cols)
        candidates = c if candidates is None else candidates.unionByName(c)

    if candidates is not None:
        if lit_verify and join_verify or len(join_verify) > 1:
            candidates = candidates.dropDuplicates(key_cols)
        results.append(
            _verify(candidates, logtype_dict, var_dict, compiled, key_cols,
                    out_cols, slim_to_needed=True)
        )

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    if has_join_subs and len(results) > 1:
        # join-path branches are not predicate-disjoint from the others
        out = out.dropDuplicates(key_cols)
    return out


def search_text(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    query: str,
    key_cols: list[str],
    ignore_case: bool = False,
    max_literal_ids: int = ISIN_MAX_IDS,
    wrap: bool = True,
    schema_spec=None,
    **kw,
) -> DataFrame:
    """Compile + execute in one call. Pass the ingest ``schema_spec`` for
    schema-file corpora so the query tokenizes with the same lexer."""
    compiled = compile_query(
        query, logtype_dict, var_dict, ignore_case=ignore_case,
        max_literal_ids=max_literal_ids, wrap=wrap, schema_spec=schema_spec,
    )
    return search(encoded, logtype_dict, var_dict, compiled, key_cols, **kw)


def search_regex(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    regex: str,
    key_cols: list[str],
    ignore_case: bool = False,
    **kw,
) -> DataFrame:
    """Regex front-end: translate the supported regex subset to a CLP
    wildcard query (clp/regex_utils/regex_translation_utils.cpp — .*/.+/.
    wildcards, escaped metachars, trivial charsets, ^/$ anchors with
    substring semantics otherwise) and run the dictionary search.
    Untranslatable patterns raise wildcard.RegexTranslationError — same
    contract as the reference."""
    w = regex_to_wildcard(
        regex,
        case_insensitive_wildcard=ignore_case,
        add_prefix_suffix_wildcards=True,
    )
    return search_text(
        encoded, logtype_dict, var_dict, w, key_cols,
        ignore_case=ignore_case, wrap=False, **kw,
    )
