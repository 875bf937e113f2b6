"""ClpString column search — clp_s's dictionary search over encoded JSON
string columns (the "mini-Grep").

clp_s stores string leaves that contain spaces as CLP-encoded columns with
per-column logtype/variable dictionaries, and answers KQL string
predicates on them dictionary-first, without decompressing the column
(clp_s/search/clp_search/Grep.cpp, Query.cpp, Output.cpp:20-189; golden
behavior tests/test-clp_s-search.cpp:169-193, e.g. ``msg: "*Abc123*"``).

Spark-first layout:

- :func:`encode_clpstring_columns` replaces each ClpString column with
  ``<col>__logtype_id / __encoded_vars / __var_types`` (parse once via
  encode_pipeline; raw strings dropped — storage parity with clp_s).
- :func:`search_clpstring_column` compiles a KQL string value with
  operators.search (``wrap=False``: clp_s matches the FULL value, no
  implicit stars — kql.cpp unquote_literal) and runs it on the renamed
  encoded columns; candidates flow through the same literal-isin /
  broadcast-semi-join machinery and the decode-verify residual stage.
- :func:`kql_filter_clps` routes KQL clauses: ``col: value`` over an
  encoded ClpString column becomes a dictionary search + key semi-join;
  all other clauses compile to Column predicates (operators.kql). Any
  AND/OR/NOT nesting is evaluated in ONE pass over ONE corpus scan: NOT
  pushes to the leaves (the De Morgan half of clp_s's OrOfAndForm pass,
  clp_s/search/OrOfAndForm.cpp:31-51), dictionary hit-sets become
  boolean marker columns, and the whole tree compiles to a single
  Column predicate — mirroring the reference's per-row one-pass tree
  evaluation (clp_s/search/Output.cpp:20-189) without OrOfAndForm's
  AND-over-OR distribution, which on Spark would multiply corpus scans.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from clp_core_spark.operators import encode_pipeline, search
from clp_core_spark.operators.kql import (
    KqlCompiler,
    Tok,
    _descriptor_tokens,
    _lex,
    _match_tokens,
    _unescape,
    unescape_kql_value,
)

# columns encode_clpstring_columns adds per ClpString column — hidden from
# wildcard-key resolution (they are storage internals, not user leaves)
_SYNTH_SUFFIXES = ("logtype_id", "encoded_vars", "var_types", "n_vars", "present")

def encode_clpstring_columns(
    df: DataFrame,
    cols: list[str],
    key_cols: list[str],
    owned_persists: list | None = None,
) -> tuple[DataFrame, dict[str, tuple[DataFrame, DataFrame]]]:
    """CLP-encode each ClpString column in place: the raw string column is
    replaced by ``<col>__logtype_id/__encoded_vars/__var_types/__n_vars``
    plus ``<col>__present`` (records missing the leaf keep their row —
    clp_s would place them in a different schema table; here absence is a
    presence flag, and searches only ever match present rows).
    Returns (encoded_df, {col: (logtype_dict, var_dict)}).

    SINGLE-PASS: all k columns are tokenized in ONE scan of the corpus —
    the per-column parse expressions (encode_pipeline.parse_column) sit
    in one projection, so Spark fuses them into a single ArrowEvalPython
    stage (each Arrow batch crosses the Python boundary once and feeds
    every column writer), mirroring clp_s parsing each record once into
    all column writers
    (clp_s/JsonParser.cpp:125-232, clp_s/ColumnWriter.hpp:104-163).
    Dictionary IDs are content hashes computed inline (zero resolve
    shuffle); logtype IDs attach via k broadcast joins on tiny dicts.

    The parsed relation is persisted (the dictionary builds and the
    encoded output all read it). Ownership contract: pass
    ``owned_persists`` (a list) and the persisted relation is appended to
    it — the CALLER unpersists after materializing its results (the
    returned DataFrames keep lineage on it, so it must outlive them).
    Without it, the cache lives for the session — fine for a process
    whose encoded relations are cached anyway, a leak in a long-lived
    service."""
    from clp_core_spark.functions.tokenizer import VT_DICT
    from clp_core_spark.operators import dictionaries

    out = df
    for c in cols:
        out = out.withColumn(f"{c}__present", F.col(c).isNotNull())
    # encode_semistructured(clp_string_cols=...) computes the parse
    # structs in ITS flatten projection (one corpus scan total) — reuse
    # them; no second UDF pass and no second corpus-sized persist (the
    # caller's relation already carries/caches them). A PARTIAL pre-parse
    # (some columns fused, others not) parses only the missing columns —
    # the existing _p_<c> structs are kept, never re-aliased.
    missing = [c for c in cols if f"_p_{c}" not in df.columns]
    if not missing:
        parsed = out
    else:
        for c in missing:
            # nulls become a real (empty) message so absent-leaf rows
            # keep a valid logtype and survive the dictionary join
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit("")))
        parsed = out.select(
            "*",
            *[
                encode_pipeline.parse_column(F.col(c)).alias(f"_p_{c}")
                for c in missing
            ],
        ).persist()
        if owned_persists is not None:
            owned_persists.append(parsed)

    dicts: dict[str, tuple[DataFrame, DataFrame]] = {}
    enc = parsed
    for c in cols:
        p = f"_p_{c}"
        sub = parsed.select(
            F.col(f"{p}.logtype").alias("logtype"),
            F.col(f"{p}.dict_strs").alias("dict_strs"),
        )
        lt = dictionaries.build_logtype_dict(sub)
        vd = dictionaries.build_var_dict_hash(sub)
        dicts[c] = (lt, vd)
        def _hash_swap(parsed_col):
            # bind via closure: zip_with requires an exactly-2-arg lambda
            def fn(v, t):
                return F.when(
                    t == F.lit(VT_DICT),
                    F.xxhash64(
                        F.element_at(
                            F.col(f"{parsed_col}.dict_strs"), (v + 1).cast("int")
                        )
                    ),
                ).otherwise(v)

            return fn

        enc = enc.withColumn(
            f"{c}__encoded_vars",
            F.zip_with(
                F.col(f"{p}.encoded"), F.col(f"{p}.var_types"), _hash_swap(p)
            ),
        ).withColumn(f"{c}__var_types", F.col(f"{p}.var_types")).withColumn(
            f"{c}__n_vars", F.size(F.col(f"{p}.var_types"))
        )
        lt_renamed = lt.select(
            F.col("logtype").alias(f"_lt_{c}"),
            F.col("logtype_id").alias(f"{c}__logtype_id"),
        )
        enc = enc.withColumn(f"_lt_{c}", F.col(f"{p}.logtype")).join(
            F.broadcast(lt_renamed), f"_lt_{c}"
        ).drop(f"_lt_{c}", c)
    return enc.drop(*[f"_p_{c}" for c in cols]), dicts


def decode_clpstring_column(
    encoded: DataFrame,
    col: str,
    dicts: dict[str, tuple[DataFrame, DataFrame]],
    key_cols: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Reconstruct a ClpString column's text from its encoded form
    (per-column logtype/var dictionaries + encoded vars) — the output
    side of clp_s search: results marshal whole records back, including
    the CLP-encoded string leaves (clp_s/search/Output.cpp:20-189).
    Absent-leaf rows (``<col>__present`` false) decode to NULL. Returns
    ``encoded`` with ``out_col`` (default: the original column name)
    attached."""
    lt, vd = dicts[col]
    view = encoded.select(
        *key_cols,
        F.col(f"{col}__logtype_id").alias("logtype_id"),
        F.col(f"{col}__encoded_vars").alias("encoded_vars"),
        F.col(f"{col}__var_types").alias("var_types"),
        F.col(f"{col}__present").alias("_pres"),
    )
    dec = encode_pipeline.decode(view, lt, vd, key_cols)
    out_col = out_col or col
    dec = dec.select(
        *key_cols,
        F.when(F.col("_pres"), F.col("decoded_text")).alias(out_col),
    )
    return encoded.join(dec, key_cols, "left")


def clpstring_hit_keys(
    encoded: DataFrame,
    col: str,
    dicts: dict[str, tuple[DataFrame, DataFrame]],
    query: str,
    key_cols: list[str],
    ignore_case: bool = False,
    wrap: bool = False,
) -> DataFrame:
    """Key rows of ``encoded`` whose ClpString column ``col`` matches the
    CLP wildcard ``query`` — the dictionary search itself, WITHOUT the
    join back onto the full table. kql_filter_clps consumes hit-KEY sets
    (markers / semi-joins), so returning keys directly saves one full
    corpus scan + semi-join per leaf (the round-6 stage audit counted
    ~18 serial cached-corpus passes for a two-leaf AND)."""
    lt, vd = dicts[col]
    view = encoded.filter(F.col(f"{col}__present")).select(
        *key_cols,
        F.col(f"{col}__logtype_id").alias("logtype_id"),
        F.col(f"{col}__encoded_vars").alias("encoded_vars"),
        F.col(f"{col}__var_types").alias("var_types"),
    )
    hits = search.search_text(
        view, lt, vd, query, key_cols, ignore_case=ignore_case, wrap=wrap
    )
    return hits.select(*key_cols)


def search_clpstring_column(
    encoded: DataFrame,
    col: str,
    dicts: dict[str, tuple[DataFrame, DataFrame]],
    query: str,
    key_cols: list[str],
    ignore_case: bool = False,
    wrap: bool = False,
) -> DataFrame:
    """Rows of ``encoded`` whose ClpString column ``col`` matches the CLP
    wildcard ``query`` (full-value match by default, clp_s semantics).
    Runs entirely on the encoded representation; the wildcard-verify
    residue decodes only candidate rows."""
    keys = clpstring_hit_keys(
        encoded, col, dicts, query, key_cols,
        ignore_case=ignore_case, wrap=wrap,
    )
    return encoded.join(keys, key_cols, "leftsemi")


# --- boolean tree -> negation normal form (OrOfAndForm's De Morgan half) -----


def _parse_bool_tree(kql: str):
    """Parse a KQL query into a boolean tree over primitive clauses:
    ``('and'|'or', [children])``, ``('not', child)``, or ``('leaf', text)``
    where ``text`` is the rebuilt text of ONE primitive expression
    (descriptor match/range, value list ``col: (...)``, or a bare
    value). AND/OR bind at EQUAL precedence, left-associative — the
    reference ANTLR grammar puts them in one alternative
    (clp_s/search/kql/Kql.g4).

    Nested-object subqueries ``col: {x: 1 AND y: 2}`` expand IN the tree
    to prefixed clauses ``(col.x: 1 AND col.y: 2)`` (clp_s NestedQuery,
    keys resolve under the ``col.`` prefix) — so their inner clauses
    participate in the OR-of-ANDs normalization and can target encoded
    ClpString columns; bare values inside braces prefix the implicit
    ``*`` descriptor too (``col.*: v`` — kql.cpp visitNestedQuery
    prepends the column to every descriptor), matching KqlCompiler."""
    toks = _lex(kql)
    pos = 0
    prefix: list[str] = []  # nested-object descriptor stack

    def peek():
        return toks[pos] if pos < len(toks) else None

    def is_kw(t, kw):
        return t is not None and t.kind == "lit" and t.text.lower() == kw

    def query():
        nonlocal pos
        node = unary()
        while True:
            t = peek()
            if is_kw(t, "and") or is_kw(t, "or"):
                pos += 1
                node = (t.text.lower(), [node, unary()])
            else:
                return node

    def unary():
        nonlocal pos
        t = peek()
        if t is None:
            raise ValueError("unexpected end of KQL")
        if is_kw(t, "not"):
            pos += 1
            return ("not", unary())
        if t.kind == "punct" and t.text == "(":
            pos += 1
            node = query()
            t = peek()
            if t is None or t.text != ")":
                raise ValueError("unbalanced ( in KQL")
            pos += 1
            return node
        return leaf()

    def balanced():
        """Consume a bracketed ``(...)`` span (a value list — part of ONE
        primitive clause, handled whole downstream); returns its closing
        token."""
        nonlocal pos
        depth = 0
        while True:
            t = peek()
            if t is None:
                raise ValueError("unbalanced bracket in KQL")
            pos += 1
            if t.kind == "punct" and t.text in "({":
                depth += 1
            elif t.kind == "punct" and t.text in ")}":
                depth -= 1
                if depth == 0:
                    return t

    def desc_text(tok: Tok) -> str:
        """Descriptor token as prefix-composable text: quoted segments
        unescape to plain text with dots/backslashes re-escaped so the
        rewritten clause re-lexes to the same descriptor tokens."""
        if tok.kind != "quoted":
            return tok.text
        plain = _unescape(tok.text)
        return plain.replace("\\", "\\\\").replace(".", "\\.")

    def leaf():
        nonlocal pos
        start_tok = peek()
        if start_tok.kind not in ("lit", "quoted"):
            raise ValueError(f"unexpected KQL token {start_tok.text!r}")
        pos += 1
        t = peek()
        if t is not None and t.kind == "range_op":
            op = t.text
            pos += 1
            val = peek()
            if val is None:
                raise ValueError("missing KQL range value")
            pos += 1
            desc = ".".join(prefix + [desc_text(start_tok)])
            return ("leaf", f"{desc} {op} {val.text}")
        if t is not None and t.kind == "punct" and t.text == ":":
            pos += 1
            t = peek()
            if t is None:
                raise ValueError("missing KQL value")
            if t.kind == "punct" and t.text == "{":
                # nested-object subquery: expand under the prefix
                pos += 1
                prefix.append(desc_text(start_tok))
                node = query()
                prefix.pop()
                t = peek()
                if t is None or t.text != "}":
                    raise ValueError("unbalanced { in KQL")
                pos += 1
                return node
            desc = ".".join(prefix + [desc_text(start_tok)])
            if t.kind == "punct" and t.text == "(":
                start = t.start
                end_tok = balanced()
                return ("leaf", f"{desc}: {kql[start : end_tok.end]}")
            pos += 1
            return ("leaf", f"{desc}: {t.text}")
        # bare value: default-column search. Inside a nested-object
        # subquery the implicit '*' descriptor is prefixed too (kql.cpp
        # visitNestedQuery prepends the column to EVERY descriptor,
        # including the wildcard one), so `col: {x: 1 AND "bar"}`
        # searches "bar" only under col.* — not the whole record.
        if prefix:
            return ("leaf", f"{'.'.join(prefix)}.*: {start_tok.text}")
        return ("leaf", start_tok.text)

    node = query()
    if pos != len(toks):
        raise ValueError(f"trailing KQL tokens: {toks[pos:]}")
    return node


def _to_nnf(node, neg: bool = False):
    """Push NOT to the leaves (De Morgan) — the first half of the
    reference's OrOfAndForm pass (clp_s/search/OrOfAndForm.cpp:31-51
    de_morgan). The second half (AND-over-OR distribution,
    :108-179 insert_all_combinations) is deliberately NOT performed:
    the reference distributes because its row evaluator walks flat
    AND-group lists, but Spark evaluates the whole tree as one Column
    in one pass, and distribution would duplicate leaves — turning a
    500-term OR into 500 groups with no scan to show for it. Returns a
    tree of ``('and'|'or', [children])`` and ``('leafn', negated,
    text)`` nodes — no interior NOT nodes remain."""
    kind = node[0]
    if kind == "leaf":
        return ("leafn", neg, node[1])
    if kind == "not":
        return _to_nnf(node[1], not neg)
    flipped = ("or" if kind == "and" else "and") if neg else kind
    return (flipped, [_to_nnf(c, neg) for c in node[1]])


def _nnf_leaves(node) -> list[tuple[bool, str]]:
    """All ``(negated, text)`` leaves of an NNF tree, in order."""
    if node[0] == "leafn":
        return [(node[1], node[2])]
    return [leaf for c in node[1] for leaf in _nnf_leaves(c)]


def _flat_descriptor(raw: str) -> str | None:
    """Wildcard-free descriptor -> the flattened column name its path
    addresses (``obj.msg`` -> ``obj__msg``, escaped dots stay literal);
    None when the descriptor has wildcard tokens."""
    tokens = _descriptor_tokens(raw)
    if any(w for _, w in tokens):
        return None
    return "__".join(t for t, _ in tokens)


def _clp_clause(toks: list[Tok], clp_cols) -> tuple[str, str] | None:
    """If the clause is exactly ``col : value`` with col ClpString-encoded
    (dotted descriptors address flattened nested leaves), return
    (col, kql-unescaped value) else None."""
    if (
        len(toks) == 3
        and toks[0].kind in ("lit", "quoted")
        and toks[1].kind == "punct"
        and toks[1].text == ":"
        and toks[2].kind in ("lit", "quoted")
    ):
        name = _flat_descriptor(toks[0].text)
        if name is not None and name in clp_cols:
            return name, unescape_kql_value(toks[2].text)
    return None


def _clp_value_list(
    toks: list[Tok], clp_cols
) -> tuple[str, str, list[str]] | None:
    """``col : (v1 v2 ...)`` / ``col : (and|or|not v1 v2 ...)`` with col
    ClpString-encoded (the Kql.g4 value-list form). Returns
    (col, mode, values) else None; mode defaults to 'or'
    (kql.cpp value-list semantics, mirrored from KqlCompiler._value_list)."""
    if not (
        len(toks) >= 4
        and toks[0].kind in ("lit", "quoted")
        and toks[1].kind == "punct" and toks[1].text == ":"
        and toks[2].kind == "punct" and toks[2].text == "("
        and toks[-1].kind == "punct" and toks[-1].text == ")"
    ):
        return None
    name = _flat_descriptor(toks[0].text)
    if name is None or name not in clp_cols:
        return None
    body = toks[3:-1]
    mode = "or"
    if body and body[0].kind == "lit" and body[0].text.lower() in ("and", "or", "not"):
        mode = body[0].text.lower()
        body = body[1:]
    if any(t.kind not in ("lit", "quoted") for t in body):
        return None  # nested structure: not a flat value list
    return name, mode, [unescape_kql_value(t.text) for t in body]


def _wildcard_clause(toks: list[Tok]) -> tuple[tuple, Tok] | None:
    """``desc : value`` with wildcard tokens in the descriptor, or a bare
    value (clp_s's default-column search IS the pure-wildcard descriptor,
    SchemaMatch::populate_column_mapping pure-wildcard branch). Returns
    (descriptor tokens, value token) else None."""
    if (
        len(toks) == 3
        and toks[0].kind in ("lit", "quoted")
        and toks[1].kind == "punct"
        and toks[1].text == ":"
        and toks[2].kind in ("lit", "quoted")
    ):
        tokens = _descriptor_tokens(toks[0].text)
        if any(w for _, w in tokens):
            return tokens, toks[2]
        return None
    if len(toks) == 1 and toks[0].kind in ("lit", "quoted"):
        return (("*", True),), toks[0]
    return None


def _plain_view(encoded: DataFrame, clp_cols) -> DataFrame:
    """``encoded`` without the per-ClpString storage columns and
    schema_id — the schema wildcard keys resolve against."""
    hidden = {f"{c}__{s}" for c in clp_cols for s in _SYNTH_SUFFIXES}
    hidden.add("schema_id")
    return encoded.drop(*[c for c in encoded.columns if c in hidden])


def kql_filter_clps(
    encoded: DataFrame,
    kql: str,
    dicts: dict[str, tuple[DataFrame, DataFrame]],
    key_cols: list[str],
    array_cols: set[str] | None = None,
    ignore_case: bool = False,
) -> DataFrame:
    """KQL over a clp_s-lite table whose ClpString columns are CLP-encoded.

    ANY AND/OR/NOT nesting is supported, and the whole tree executes in
    ONE pass over ONE scan of the corpus — the Spark analog of the
    reference evaluating the full boolean tree per row in a single pass
    (clp_s/search/Output.cpp:20-189). NOT pushes to the leaves (De
    Morgan, clp_s/search/OrOfAndForm.cpp:31-51); ``col: value`` clauses
    on encoded columns run as dictionary searches
    (search-without-decompression) whose hit-key sets are left-joined in
    as boolean marker columns; every other clause compiles to a Column
    predicate; the NNF tree then evaluates as a single Column ``filter``.
    A query with no dictionary leaf at all is one filter — no joins, no
    union, no dedup shuffle. Dictionary leaves that are top-level AND
    conjuncts skip the marker and run as cheaper semi-/anti-joins.
    Wildcard-key clauses (``a.*: v``, ``*: v``) and bare values resolve
    over plain leaves AND encoded ClpString columns, unioning hits
    (SchemaMatch descriptor expansion) — including under NOT, which
    ranges over rows where a descriptor-matched leaf is present (clp_s
    NOT ranges over records whose schema HAS the column,
    clp_s/search/SchemaMatch.cpp:70-174). Repeated leaves compile/search
    ONCE (shared hit-key relation). ``array_cols``: JSON-text
    unstructured-array columns (see KqlCompiler). ``ignore_case`` lowers
    the dictionary-search comparisons on ClpString columns — clp_s's
    --ignore-case (search(1) surface); plain Column predicates keep
    KQL's case-sensitive semantics."""
    nnf = _to_nnf(_parse_bool_tree(kql))
    plain = _plain_view(encoded, dicts)
    comp = KqlCompiler(plain, array_json_cols=array_cols)

    # Per-leaf plans, shared across the tree: the same clause appearing
    # several times gets ONE dictionary search / compiled predicate, and
    # the hit-key relation is reused (Spark's exchange reuse then shares
    # the physical scan between occurrences).
    plans: dict[str, tuple] = {}

    def plan(text: str) -> tuple:
        """-> ('pred', Column, None) | ('join', hit_keys_df, present_pred).
        ``present_pred`` marks rows whose schema HAS a descriptor-matched
        column — the range of NOT for dictionary-search clauses."""
        if text in plans:
            return plans[text]
        toks = _lex(text)
        hit = _clp_clause(toks, dicts)
        if hit is not None:
            col, value = hit
            keys = clpstring_hit_keys(
                encoded, col, dicts, value, key_cols, ignore_case=ignore_case
            )
            plans[text] = ("join", keys, F.col(f"{col}__present"))
            return plans[text]
        vl = _clp_value_list(toks, dicts)
        if vl is not None:
            col, mode, values = vl
            if not values:
                plans[text] = ("pred", F.lit(False), None)
                return plans[text]
            hit_dfs = [
                clpstring_hit_keys(
                    encoded, col, dicts, v, key_cols, ignore_case=ignore_case
                )
                for v in values
            ]
            keys = hit_dfs[0]
            if mode == "and":
                for h in hit_dfs[1:]:
                    keys = keys.join(h, key_cols, "leftsemi")
            else:
                for h in hit_dfs[1:]:
                    keys = keys.unionByName(h)
                keys = keys.dropDuplicates(key_cols)
            # 'not' lists negate the OR of their values (kql.cpp); the
            # group loop composes this with any clause-level NOT
            kind = "join_not" if mode == "not" else "join"
            plans[text] = (kind, keys, F.col(f"{col}__present"))
            return plans[text]
        wild = _wildcard_clause(toks)
        if wild is not None:
            tokens, val_tok = wild
            matched_clp = [
                c for c in dicts if _match_tokens(tokens, tuple(c.split("__")))
            ]
            if matched_clp:
                keys = encoded.filter(
                    comp.match_pred(tokens, val_tok)
                ).select(*key_cols)
                value = unescape_kql_value(val_tok.text)
                present = comp._pred_on_path(
                    tokens,
                    lambda c, lt=None: c.isNotNull(),
                    type_ok=comp._match_type_ok(val_tok),
                )
                for c in matched_clp:
                    keys = keys.unionByName(
                        clpstring_hit_keys(
                            encoded, c, dicts, value, key_cols,
                            ignore_case=ignore_case,
                        )
                    )
                    present = present | F.col(f"{c}__present")
                plans[text] = ("join", keys.dropDuplicates(key_cols), present)
                return plans[text]
        # fresh compiler per plain leaf: KqlCompiler.compile mutates
        # parser state (toks/pos), and leaves plan concurrently below
        plans[text] = (
            "pred",
            KqlCompiler(plain, array_json_cols=array_cols).compile(text),
            None,
        )
        return plans[text]

    # Plan every unique leaf CONCURRENTLY: each ClpString leaf's plan
    # compiles a dictionary search (driver probe jobs — the expensive
    # part), so total plan wall time ~= the slowest single leaf instead
    # of the sum.
    leaves = _nnf_leaves(nnf)
    unique_leaves = list(dict.fromkeys(t for _, t in leaves))
    if len(unique_leaves) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(len(unique_leaves), 8)) as pool:
            list(pool.map(plan, unique_leaves))

    # Top-level AND conjuncts that are single dictionary leaves run as
    # semi-/anti-joins (no marker column, no left join — the planner's
    # cheapest hit-set application); everything else evaluates inside
    # the one-scan Column predicate.
    # flatten nested ANDs: the left-associative parse yields
    # ('and', [('and', [a, b]), c]) for 'a AND b AND c', and without
    # flattening every dictionary leaf but the last would be classified
    # complex and pay a marker left-join instead of the semi-join
    def _flat_and(node):
        if node[0] == "and":
            flat: list = []
            for ch in node[1]:
                flat.extend(_flat_and(ch))
            return flat
        return [node]

    conjuncts = _flat_and(nnf)
    simple: list[tuple[bool, str]] = []
    complex_nodes: list = []
    for c in conjuncts:
        if c[0] == "leafn" and plan(c[2])[0] != "pred":
            simple.append((c[1], c[2]))
        else:
            complex_nodes.append(c)

    # Dictionary leaves inside the complex part become boolean marker
    # columns: left-join the (deduped) hit-key set with a TRUE flag, so
    # the tree can reference "row is in this hit set" as a Column.
    marker_of: dict[str, str] = {}
    out = encoded
    for negated, text in dict.fromkeys(
        leaf for n in complex_nodes for leaf in _nnf_leaves(n)
    ):
        kind, payload, _ = plan(text)
        if kind == "pred" or text in marker_of:
            continue
        m = f"_hit_{len(marker_of)}"
        while m in encoded.columns:  # avoid user-column collisions
            m = f"_{m}"
        marker_of[text] = m
        keys = payload.dropDuplicates(key_cols).withColumn(m, F.lit(True))
        out = out.join(keys, key_cols, "left")

    def leaf_col(negated: bool, text: str):
        kind, payload, present = plan(text)
        if kind == "pred":
            return ~payload if negated else payload
        flag = F.coalesce(F.col(marker_of[text]), F.lit(False))
        # a not-mode value list is itself a negation; clause-level NOT
        # composes with it. The negative side ranges over present rows.
        if negated != (kind == "join_not"):
            return present & ~flag
        return flag

    def eval_node(node):
        if node[0] == "leafn":
            return leaf_col(node[1], node[2])
        cols = [eval_node(c) for c in node[1]]
        acc = cols[0]
        for c in cols[1:]:
            acc = (acc & c) if node[0] == "and" else (acc | c)
        return acc

    if complex_nodes:
        pred = eval_node(complex_nodes[0])
        for n in complex_nodes[1:]:
            pred = pred & eval_node(n)
        out = out.filter(pred)
    if marker_of:
        out = out.drop(*marker_of.values())
    for negated, text in simple:
        kind, keys, present = plan(text)
        if negated != (kind == "join_not"):
            out = out.filter(present).join(keys, key_cols, "left_anti")
        else:
            out = out.join(keys, key_cols, "leftsemi")
    return out
