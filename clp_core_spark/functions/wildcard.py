"""CLP wildcard-string utilities.

Ports of clp/string_utils/string_utils.cpp:
``clean_up_wildcard_search_string`` (:132-167) and the semantics of
``wildcard_match_unsafe`` (:169-296) — re-expressed as translation to an
anchored regex, which is exactly equivalent to the reference's greedy
backtracking glob matcher ('*' = any run incl. newlines, '?' = any one
char, '\\' escapes).

The translation runs on the driver, once per query string. Matching
runs in two places with one semantics: ``rlike`` in the JVM over a large
table, and :func:`wildcard_regex` in the driver over rows that fit in
memory (dictionary probes against a held dictionary, and search's
wildcard-verify residue within its bound), with both sides lowered under
case-insensitive search, as the ``rlike`` path lowers them.
"""

from __future__ import annotations

import re

WILDCARDS = "?*"


def is_wildcard(c: str) -> bool:
    return c in WILDCARDS


def clean_up_wildcard_search_string(s: str) -> str:
    """Collapse '*' runs; drop escapes of non-wildcard/non-backslash chars
    (string_utils.cpp:132-167)."""
    out = []
    i, n = 0, len(s)
    is_escaped = False
    while i < n:
        c = s[i]
        if is_escaped:
            is_escaped = False
            if is_wildcard(c) or c == "\\":
                out.append("\\")
            out.append(c)
            i += 1
        elif c == "*":
            out.append(c)
            while i < n and s[i] == "*":
                i += 1
        else:
            if c == "\\":
                is_escaped = True
            else:
                out.append(c)
            i += 1
    return "".join(out)


def wildcard_to_regex(w: str, full: bool = True) -> str:
    """Translate a cleaned CLP wildcard string to a Java/Python-compatible
    regex. '*' -> '.*' (DOTALL), '?' -> '.', '\\x' -> literal x; all other
    chars are regex-escaped. Anchored with \\A..\\z when ``full``."""
    parts = []
    i, n = 0, len(w)
    while i < n:
        c = w[i]
        if c == "\\" and i + 1 < n:
            parts.append(re.escape(w[i + 1]))
            i += 2
        elif c == "*":
            parts.append(".*")
            i += 1
        elif c == "?":
            parts.append(".")
            i += 1
        else:
            parts.append(re.escape(c))
            i += 1
    body = "".join(parts)
    return rf"(?s)\A{body}\z" if full else f"(?s){body}"


# --- regex -> CLP wildcard translation ---------------------------------------
# Port of clp/regex_utils/regex_translation_utils.cpp (state machine) with
# the reference's exact supported subset and error taxonomy
# (tests/test-regex_utils.cpp is ported alongside).

_REGEX_ESCAPE_SEQ_META = set("*+?|^$.{}[]()<>-_/=!\\")
_REGEX_CHARSET_ESCAPE_META = set("^-]\\")
_WILDCARD_META = set("?*\\")

_NORMAL, _DOT, _ESCAPED, _CHARSET, _CHARSET_ESC, _END = range(6)


class RegexTranslationError(ValueError):
    """Raised for regex constructs the CLP wildcard language can't express
    (regex_utils/ErrorCode.hpp names in the message)."""


def _append_wc_literal(ch: str, out: list[str]) -> None:
    if ch in _WILDCARD_META:
        out.append("\\")
    out.append(ch)


def regex_to_wildcard(
    regex_str: str,
    case_insensitive_wildcard: bool = False,
    add_prefix_suffix_wildcards: bool = False,
) -> str:
    """Translate a (limited) regex into a CLP wildcard string:
    ``.*``->``*``, ``.+``->``?*``, ``.``->``?``, escaped metacharacters
    to literals, trivial charsets (``[x]``, ``[\\]]``; ``[aA]`` only under
    case-insensitive mode) to single chars; ``^``/``$`` anchors consume a
    prefix/suffix ``*`` when ``add_prefix_suffix_wildcards`` (substring
    mode). Anything else raises RegexTranslationError — exactly the
    reference's supported subset."""
    if not regex_str:
        return ""
    out: list[str] = []
    state = _NORMAL
    i, n = 0, len(regex_str)
    if regex_str[0] == "^":
        i = 1
    elif add_prefix_suffix_wildcards:
        out.append("*")
    charset_begin = -1

    while i < n:
        ch = regex_str[i]
        if state == _NORMAL:
            if ch == ".":
                state = _DOT
            elif ch == "\\":
                state = _ESCAPED
            elif ch == "[":
                charset_begin = i + 1
                state = _CHARSET
            elif ch == "$":
                state = _END
            elif ch == "*":
                raise RegexTranslationError("UntranslatableStar")
            elif ch == "+":
                raise RegexTranslationError("UntranslatablePlus")
            elif ch == "?":
                raise RegexTranslationError("UnsupportedQuestionMark")
            elif ch == "|":
                raise RegexTranslationError("UnsupportedPipe")
            elif ch == "^":
                raise RegexTranslationError("IllegalCaret")
            elif ch == ")":
                raise RegexTranslationError("UnmatchedParenthesis")
            else:
                out.append(ch)
        elif state == _DOT:
            if ch == "*":
                out.append("*")
            elif ch == "+":
                out.append("?")
                out.append("*")
            else:
                out.append("?")
                i -= 1  # re-handle this char in Normal state
            state = _NORMAL
        elif state == _ESCAPED:
            if ch not in _REGEX_ESCAPE_SEQ_META:
                raise RegexTranslationError("IllegalEscapeSequence")
            _append_wc_literal(ch, out)
            state = _NORMAL
        elif state == _CHARSET:
            if ch == "\\":
                state = _CHARSET_ESC
            elif ch == "]":
                ln = i - charset_begin
                if ln == 0 or ln > 2:
                    raise RegexTranslationError("UnsupportedCharsetPattern")
                c0 = regex_str[charset_begin]
                if ln == 1:
                    if c0 in ("^", "\\"):
                        raise RegexTranslationError("UnsupportedCharsetPattern")
                    parsed = c0
                else:
                    c1 = regex_str[charset_begin + 1]
                    if c0 == "\\" and c1 in _REGEX_CHARSET_ESCAPE_META:
                        parsed = c1
                    elif (
                        case_insensitive_wildcard
                        and c0 != c1
                        and c0.lower() == c1.lower()
                        and c0.isalpha()
                    ):
                        parsed = max(c0, c1)  # the lowercase twin
                    else:
                        raise RegexTranslationError("UnsupportedCharsetPattern")
                _append_wc_literal(parsed, out)
                charset_begin = -1
                state = _NORMAL
        elif state == _CHARSET_ESC:
            state = _CHARSET
        elif state == _END:
            if ch != "$":
                raise RegexTranslationError("IllegalDollarSign")
        i += 1

    if state == _DOT:
        out.append("?")
    elif state in (_CHARSET, _CHARSET_ESC):
        raise RegexTranslationError("IncompleteCharsetStructure")
    if state != _END and add_prefix_suffix_wildcards:
        out.append("*")
    return "".join(out)


def wildcard_regex(wild: str, case_sensitive: bool = True) -> re.Pattern:
    """The compiled Python matcher of a cleaned wildcard string: match a
    text with ``.match(text)``, lowering the text first when not
    ``case_sensitive`` (the pattern is lowered here)."""
    if not case_sensitive:
        wild = wild.lower()
    # the Java-regex end anchor (rlike consumer); Python spells it \Z
    return re.compile(wildcard_to_regex(wild)[:-2] + r"\Z")


def wildcard_match(tame: str, wild: str, case_sensitive: bool = True) -> bool:
    """Reference-equivalent matcher (via regex), for tests and driver-side
    matching of single strings."""
    if not case_sensitive:
        tame = tame.lower()
    return wildcard_regex(wild, case_sensitive).match(tame) is not None
