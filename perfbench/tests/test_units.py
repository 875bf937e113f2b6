"""Fast checks of the benchmark's own pieces: the wildcard-to-regex oracle
on the query mix, and span self time. No Spark session.

    python -m pytest perfbench/tests/test_units.py -q
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import pyarrow as pa
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.oracle import InputOracle, Query, query_mix, wildcard_regex  # noqa: E402
from perfbench.probe import Tracer  # noqa: E402

# messages shaped like the generator's templates (sources/transcripts.py),
# some twice with other values, so every shape of the mix has rows to draw from
TEXTS = [
    "Task 4217 assigned to container_3081 on node-12",
    "Task 99 assigned to container_17 on node-3",
    "Heap used 12.12 GB out of 401.07 GB (12.12%)",
    "Heap used 3.3 GB out of 7.50 GB (3.3%)",
    "job=alpha user=ok status=alpha",
    "job=sigma user=timeout status=sigma",
    "session token 1a2b3c4d refreshed, parent 0f0e0d0c0b0a0908",
    "session token 00c0ffee refreshed, parent a1b2c3d4e5f60718",
    "Retrying request id 513 after 2.05s: gamma at offset 77",
    "static heartbeat ok",
    "path C:\\Users\\delta\\file_9.txt",
    "value 007",
    'Msg 5: "Abc123"\nsecond line 88 ms',
    "metric omega = 1.23 (45 samples) bucket 0xdeadbeef",
    "Retrying request id 8 after 10.10s: beta at offset 6",  # the latest row
]


def _oracle() -> InputOracle:
    n = len(TEXTS)
    ts = pa.array([1_462_692_845_251 + 3_600_000 * i for i in range(n)], pa.int64())
    return InputOracle(pa.table({
        "conv_id": [f"conv-{i:08d}" for i in range(n)],
        "turn_idx": pa.array([0] * n, pa.int32()),
        "role": ["user"] * n,
        "tool": [None] * n,
        "text": TEXTS,
        "ts": ts.cast(pa.timestamp("ms", tz="UTC")),
    }))


@pytest.mark.parametrize("query,text,hit", [
    ("heartbeat", "static heartbeat ok", True),
    ("Task * assigned", "Task 1 assigned to x", True),
    ("Task ? assigned", "Task 12 assigned", False),
    ("second*88", 'Msg 5: "Abc"\nsecond line 88 ms', True),  # '*' crosses lines
    ("a\\*b", "xa*by", True),
    ("a\\*b", "xaZby", False),
    ("0x(de", "bucket 0x(dead", True),  # regex metacharacters are literal
])
def test_wildcard_regex_is_substring_glob(query, text, hit):
    assert bool(wildcard_regex(query).fullmatch(text)) is hit


def test_query_mix_agrees_with_reference_matcher():
    """Every query of the mix, scored by the oracle's regex, agrees with
    the program's port of CLP's glob matcher on every input message."""
    from clp_core_spark.functions.wildcard import wildcard_match

    inp = _oracle()
    mix = query_mix(inp, seed=7)
    assert len({q.shape for q in mix}) == len(mix) == 7
    for q in mix:
        text = q.text.lower() if q.ignore_case else q.text
        rx = wildcard_regex(text)
        for s in inp.text:
            s = s.lower() if q.ignore_case else s
            assert bool(rx.fullmatch(s)) == wildcard_match(s, f"*{text}*"), (q, s)
        hits = inp.expected(q)
        if q.shape == "no_hit":
            assert hits == 0
        else:
            assert hits, q


def test_tail_needs_ten_samples_beyond_it():
    from perfbench.bench import tail

    assert tail([1.0] * 10)["value_s"] is None
    got = tail([float(i) for i in range(1, 21)])
    assert got == {"value_s": 10.0, "percentile": 50.0, "n": 20}


def test_time_range_and_buckets():
    inp = _oracle()
    first, last = inp.ts_ms[8], inp.ts_ms[-1]  # the two "Retrying" rows
    q = Query("r", "Retrying request id *", ts_begin_ms=last, by_time=True)
    assert inp.expected(q) == [(last - last % 3_600_000, 1)]
    q = Query("r", "Retrying request id *", ts_end_ms=first)
    assert inp.expected(q) == 1


def test_sink_keys_follow_the_input():
    inp = _oracle()
    assert set(inp.sink_keys("tool").values()) == {"__null__"}
    classes = inp.sink_keys("logtype_class")
    assert classes[("conv-00000000", 0)] == "task"
    assert classes[("conv-00000004", 0)] == "job"


def test_self_time_subtracts_children():
    tracer = Tracer()
    with tracer.span("outer") as outer:
        time.sleep(0.02)
        with tracer.span("inner"):
            time.sleep(0.05)
        with tracer.span("side", parent=outer):
            time.sleep(0.01)
    spans = {s["name"]: s for s in tracer.finished()}
    assert spans["inner"]["parent"] == spans["outer"]["id"]
    assert spans["inner"]["op"] == spans["side"]["op"] == spans["outer"]["id"]
    covered = spans["inner"]["dur"] + spans["side"]["dur"]
    assert spans["outer"]["self"] == pytest.approx(spans["outer"]["dur"] - covered)
