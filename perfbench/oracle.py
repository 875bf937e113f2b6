"""Correctness oracles and the query mix, built from the generated input
alone.

The generated input arrives as an Arrow table, and every expected
result is computed from it here in plain Python: search hits by a raw-text scan
with this module's own wildcard-to-regex translation, sink contents from
the input columns, decompressed text from the input in (conv_id,
turn_idx) order. Nothing here imports the program under test.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa

SINK_KINDS = ("role", "tool", "logtype_class")
NULL_KEY = "__null__"
BUCKET_MS = 3_600_000


def wildcard_regex(query: str) -> re.Pattern:
    """CLP's substring search over a message: the query is implicitly
    wrapped in ``*...*``; ``*`` matches any run of characters (newlines
    too), ``?`` exactly one, and ``\\`` makes the next character
    literal."""
    parts, i = [], 0
    while i < len(query):
        c = query[i]
        if c == "\\" and i + 1 < len(query):
            parts.append(re.escape(query[i + 1]))
            i += 2
            continue
        parts.append(".*" if c == "*" else "." if c == "?" else re.escape(c))
        i += 1
    return re.compile(".*" + "".join(parts) + ".*", re.DOTALL)


@dataclass(frozen=True)
class Query:
    shape: str
    text: str
    ignore_case: bool = False
    ts_begin_ms: int | None = None
    ts_end_ms: int | None = None
    by_time: bool = False  # count_by_time instead of a hit count


class InputOracle:
    """The generated input held in driver memory, sorted by
    (conv_id, turn_idx)."""

    def __init__(self, t: pa.Table):
        col = t.column("ts")  # millisecond-precise by construction
        ts = col.cast(pa.timestamp("ms", tz=col.type.tz)).cast(pa.int64())
        rows = sorted(
            zip(
                t.column("conv_id").to_pylist(),
                t.column("turn_idx").to_pylist(),
                t.column("role").to_pylist(),
                t.column("tool").to_pylist(),
                t.column("text").to_pylist(),
                ts.to_pylist(),
            ),
            key=lambda r: (r[0], r[1]),
        )
        self.keys = [(r[0], r[1]) for r in rows]
        self.role = [r[2] for r in rows]
        self.tool = [r[3] for r in rows]
        self.text = [r[4] for r in rows]
        self.ts_ms = [r[5] for r in rows]
        self.text_bytes = sum(len(s.encode("utf-8")) for s in self.text)

    def __len__(self) -> int:
        return len(self.keys)

    # -- search --------------------------------------------------------------

    def _hits(self, q: Query) -> list[int]:
        pat = wildcard_regex(q.text.lower() if q.ignore_case else q.text)
        out = []
        for i, s in enumerate(self.text):
            ts = self.ts_ms[i]
            if q.ts_begin_ms is not None and ts < q.ts_begin_ms:
                continue
            if q.ts_end_ms is not None and ts > q.ts_end_ms:
                continue
            if pat.fullmatch(s.lower() if q.ignore_case else s):
                out.append(i)
        return out

    def expected(self, q: Query):
        """Hit count, or sorted (bucket_ms, count) pairs for count-by-time."""
        hits = self._hits(q)
        if not q.by_time:
            return len(hits)
        c = Counter(self.ts_ms[i] - self.ts_ms[i] % BUCKET_MS for i in hits)
        return sorted(c.items())

    # -- ingest --------------------------------------------------------------

    def sink_keys(self, kind: str) -> dict[tuple[str, int], str]:
        """(conv_id, turn_idx) -> the partition value each row must land in."""
        if kind == "role":
            vals = self.role
        elif kind == "tool":
            vals = [t if t is not None else NULL_KEY for t in self.tool]
        else:
            # the first alphabetic word of the message, lowercased; every
            # template in the generator starts with a constant word
            vals = []
            for s in self.text:
                m = re.search(r"[A-Za-z]+", s)
                vals.append(m.group(0).lower() if m else "other")
        return dict(zip(self.keys, vals))

    # -- decompress ----------------------------------------------------------

    def ordered_text(self) -> str:
        """One line per turn in (conv_id, turn_idx) order, as a text sink
        writes it: each value followed by a newline."""
        return "".join(s + "\n" for s in self.text)


def _pick(rng: random.Random, texts: list[str], pattern: str, ok=lambda m: True):
    rx = re.compile(pattern, re.DOTALL)
    matches = [m for m in map(rx.fullmatch, texts) if m and ok(m)]
    if not matches:
        raise ValueError(f"no input row matches {pattern!r}")
    return rng.choice(matches)


def query_mix(inp: InputOracle, seed: int) -> list[Query]:
    """One query per compile path, with variable values drawn from the
    input by ``seed`` (so each shape has hits except ``no_hit``)."""
    rng = random.Random(seed)
    texts = inp.text
    task = _pick(rng, texts, r"Task (\d+) assigned to container_(\d+) on node-(\d+)",
                 ok=lambda m: len(m.group(2)) >= 2)
    metric = _pick(rng, texts, r"metric (\w+) = (\S+) \((\d+) samples\) bucket 0x(\w+)")
    token = _pick(rng, texts, r"session token ([0-9a-f]+) refreshed, parent ([0-9a-f]+)",
                  ok=lambda m: re.search("[a-f]", m.group(1)) and re.search("[a-f]", m.group(2)[:4]))
    late = sorted(inp.ts_ms)[int(len(inp.ts_ms) * 0.9)]
    container = task.group(2)
    return [
        Query("constant", "static heartbeat ok"),
        # a float and an int variable, each encoded into its own slot
        Query("int_float", f"= {metric.group(2)} ({metric.group(3)} samples)"),
        # an exact dictionary variable, probed case-insensitively
        Query("dict_exact_ignore_case",
              f"SESSION TOKEN {token.group(1).upper()} REFRESHED", ignore_case=True),
        Query("dict_prefix", f"parent {token.group(2)[:4]}*"),
        Query("mid_star", f"container_{container[0]}*{container[-1]} on node"),
        Query("time_range_by_time", "Retrying request id *", ts_begin_ms=late,
              ts_end_ms=max(inp.ts_ms), by_time=True),
        Query("no_hit", "session token zz9x9x9x refreshed"),
    ]
