"""User schema file — CLP's schema-file / log-surgeon alternative to the
heuristic variable rules.

Reference semantics (docs/src/user-guide/reference-unstructured-schema-file.md,
consumed by clp/clp/run.cpp:60-64 and
clp/clp/FileCompressor.cpp:196-228 `parse_and_encode_with_library`):

- ``delimiters: <chars>`` — every listed char (plus space) is a
  delimiter; tokens are maximal runs of non-delimiters; consecutive
  delimiters are static text.
- ``name:regex`` lines define variable patterns; a token is a variable
  iff some rule's regex matches the WHOLE token; when several rules
  match, the rule listed first wins.
- ``int`` / ``float`` are keywords: tokens matching them get CLP's
  inline int / packed-float encodings; any other rule name makes the
  token a dictionary variable. (``timestamp`` is handled upstream by the
  message splitter — sources/raw_text.py — matching the reference, where
  timestamp patterns delimit messages and are never dictionary vars.)

A :class:`SchemaSpec` only swaps the delimiter set and the variable rule
of the one parse kernel (tokenizer.tokenize_arrow_arrays), as the schema
file does in the reference, so dictionaries/encode/search/decode all work
unchanged on schema-parsed corpora.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_ESCAPES = {"t": "\t", "r": "\r", "n": "\n", "\\": "\\", "v": "\v", "f": "\f"}


@dataclass
class SchemaSpec:
    """Parsed schema file: delimiter charset + ordered variable rules."""

    delimiters: str  # raw chars, space always included
    rules: list[tuple[str, str]] = field(default_factory=list)  # (name, regex)

    def delim_class(self, without: str = "") -> str:
        """The delimiters (plus space) as the body of a regex char class,
        leaving out the chars of ``without``."""
        chars = set(self.delimiters + " ") - set(without)
        return "".join(re.escape(c) for c in sorted(chars))


def parse_schema_file(text: str) -> SchemaSpec:
    """Parse the reference's schema-file syntax: ``delimiters:`` lines,
    ``name:regex`` rules in priority order, ``//`` comments."""
    delims: list[str] = []
    rules: list[tuple[str, str]] = []
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        name, _, pattern = line.partition(":")
        name, pattern = name.strip(), pattern.strip()
        if not _:
            continue
        if name == "delimiters":
            out, i = [], 0
            while i < len(pattern):
                c = pattern[i]
                if c == "\\" and i + 1 < len(pattern):
                    out.append(_ESCAPES.get(pattern[i + 1], pattern[i + 1]))
                    i += 2
                else:
                    out.append(c)
                    i += 1
            delims.extend(out)
        elif name == "timestamp":
            continue  # message-boundary keyword, handled by the splitter
        else:
            rules.append((name, pattern))
    if not delims:
        raise ValueError("schema file must specify at least one delimiter")
    return SchemaSpec(delimiters="".join(delims), rules=rules)
