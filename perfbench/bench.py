"""Product-path workloads: what a user of the pipeline runs, timed end to
end through ``IngestPipeline`` (the API ``clp_core_spark.job`` drives).

- ``job``: what ``job --generate ... --decompress-to ...`` does in a
  fresh session: ``IngestPipeline.run`` of the generated table into an
  empty work root, then ``decompress_to_text`` of that archive.
- ``search``: one closed-loop client issues the query mix (one request
  per compile path, see ``oracle.query_mix``) against an archive built
  during set-up.

Set-up starts the session and builds the input; on ``search`` it also
builds the archive, with the session's first (cold) ingest. A run then
makes rounds of its workload's requests: the first always, and another
only while it is expected to end within ``--seconds``. At the default
``--seconds`` every round takes longer than that, so a run makes one:
the cold ingest and decompress a ``job`` run pays, or the first request
of each kind against a fresh archive. The gated figures are medians per
request kind, so a longer ``--seconds`` adds warm rounds (compare runs at
equal ``--seconds`` only). ``--trace 1`` instead runs the layer walk of
:mod:`perfbench.layers` over the whole query mix and reports per-layer
metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.oracle import BUCKET_MS, SINK_KINDS, InputOracle, Query, query_mix
from perfbench.probe import RssSampler, Tracer, cpu_calibration_ms, host_stamp, steal_s

# One epoch partition: each epoch costs ~40 Spark jobs of fixed overhead,
# and a second one does not fit the run-time budget (see README.md)
EPOCHS = 1
# every call is dominated by per-job fixed cost, so a larger input adds
# little signal and a run must stay near a minute (see README.md)
DEFAULT_TURNS = 10_000
# idle time before the timed round, after garbage collection (see settle)
SETTLE_S = 2.0
KEYS = ["conv_id", "turn_idx"]


@dataclass
class Config:
    root: Path  # checkout root: the program is imported from here
    work: Path  # scratch space inside the checkout
    workload: str
    seed: int
    seconds: float
    trace: bool
    turns: int = DEFAULT_TURNS


@dataclass
class Outcomes:
    """Operations attempted and failed (an error or a wrong result)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}"[:500])

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — record it, measure the rest
            self.check(what, False, traceback.format_exc(limit=3))
            return None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path):
    from clp_core_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's scratch (and no perf-counter file) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def settle(spark) -> None:
    """Collect garbage in the JVM and in Python, then idle briefly, so the
    timed requests do not pay for the garbage and JIT compiles set-up left."""
    import gc

    spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    gc.collect()
    time.sleep(SETTLE_S)


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


# -- product operations ----------------------------------------------------------


def ingest(spark, input_df, root: Path):
    from clp_core_spark.plans.pipeline import IngestPipeline

    shutil.rmtree(root, ignore_errors=True)
    pipe = IngestPipeline(spark, str(root), num_partitions=EPOCHS)
    pipe.run(input_df)
    return pipe


def request(pipe, q: Query):
    """One client request: a hit count, or count-by-time buckets."""
    if q.by_time:
        rows = pipe.count_by_time(
            q.text, bucket_ms=BUCKET_MS, ts_begin_ms=q.ts_begin_ms,
            ts_end_ms=q.ts_end_ms, ignore_case=q.ignore_case,
        ).collect()
        return sorted((r["bucket_ts"], r["count"]) for r in rows)
    return pipe.search(
        q.text, ts_begin_ms=q.ts_begin_ms, ts_end_ms=q.ts_end_ms,
        ignore_case=q.ignore_case,
    ).count()


# -- output checks ---------------------------------------------------------------


def check_sinks(pipe, oracle: InputOracle, outcomes: Outcomes) -> None:
    """Every input row is routed exactly once into each sink family, under
    the partition value the input dictates: per sink and partition value,
    the row count, the distinct-key count and the sum of turn_idx match
    the input. One Spark job over the three sinks."""
    from functools import reduce

    import pyspark.sql.functions as F

    tagged = [
        pipe.read_sink(kind).select(
            F.lit(kind).alias("sink"), F.col(kind).alias("value"), *KEYS
        )
        for kind in SINK_KINDS
    ]
    got = {
        (r["sink"], r["value"]): (r["n"], r["keys"], r["turns"])
        for r in reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("sink", "value")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(*KEYS).alias("keys"),
            F.sum("turn_idx").alias("turns"),
        )
        .collect()
    }
    rows, turns = Counter(), Counter()
    for kind in SINK_KINDS:
        for (_, turn), value in oracle.sink_keys(kind).items():
            rows[kind, value] += 1
            turns[kind, value] += turn
    # input keys are unique, so distinct keys equal rows
    want = {k: (rows[k], rows[k], turns[k]) for k in rows}
    outcomes.check("sinks", got == want, f"got {got}, want {want}"[:400])


def check_text(out: Path, want: str, outcomes: Outcomes) -> None:
    got = "".join(p.read_text(encoding="utf-8") for p in sorted(out.glob("part-*")))
    outcomes.check("decompress", got == want, f"{len(got)} chars, want {len(want)}")


def timed_ingest(tracer, spark, input_df, root: Path, outcomes: Outcomes) -> float | None:
    """Ingest into a fresh root; the latency, or None if it raised."""
    shutil.rmtree(root, ignore_errors=True)
    with tracer.span("product.ingest") as s:
        pipe = outcomes.attempt("ingest", lambda: ingest(spark, input_df, root))
    return None if pipe is None else s["end"] - s["start"]


def timed_request(tracer, pipe, q: Query, want, outcomes: Outcomes) -> float | None:
    """Issue one checked request; its latency, or None if it raised."""
    with tracer.span("product.request", shape=q.shape) as s:
        got = outcomes.attempt(q.shape, lambda: request(pipe, q))
    if got is None:
        return None
    outcomes.check(q.shape, got == want, f"got {got!r:.200}")
    return s["end"] - s["start"]


def timed_decompress(tracer, pipe, out: Path, want: str, outcomes: Outcomes) -> float | None:
    """Decompress the whole archive to ``out`` and check the text."""
    shutil.rmtree(out, ignore_errors=True)
    with tracer.span("product.decompress") as s:
        done = outcomes.attempt("decompress", lambda: pipe.decompress_to_text(str(out)) or True)
    if not done:
        return None
    check_text(out, want, outcomes)
    return s["end"] - s["start"]


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    xs, n = sorted(latencies), len(latencies)
    if n < 11:
        return {"value_s": None, "percentile": None, "n": n}
    k = n - 11
    return {"value_s": xs[k], "percentile": round(100 * (k + 1) / n, 1), "n": n}


# -- the run ---------------------------------------------------------------------


def run(cfg: Config) -> tuple[dict, dict]:
    """Returns (metrics, record): plain metric values, and a fuller record
    with host state, outcomes, per-request figures and the spans."""
    record = {"workload": cfg.workload, "seed": cfg.seed, "turns": cfg.turns,
              "host": host_stamp(cfg.root, cfg.seed)}
    outcomes = Outcomes()
    with RssSampler() as rss:
        tracer = Tracer()
        spark = start_spark(cfg.work)
        session_s = time.perf_counter() - tracer.t0
        try:
            if cfg.trace:
                from perfbench.layers import job_counter

                tracer.job_counter = job_counter(spark)
            metrics = _measure(spark, cfg, session_s, tracer, outcomes, record)
        finally:
            stop_spark(spark)
    host = record["host"]
    host.update(loadavg_end=list(os.getloadavg()), cpu_calib_sort_ms_end=cpu_calibration_ms(),
                steal_s=steal_s() - host.pop("steal_s_start"))
    record["figures"].update(
        peak_rss_mb=rss.peak_bytes / 2**20,
        error_rate=outcomes.failed / max(outcomes.attempted, 1),
    )
    record.update(
        attempted=outcomes.attempted, failed=outcomes.failed,
        errors=outcomes.errors, spans=tracer.finished(),
    )
    return metrics, record


def _measure(spark, cfg, session_s, tracer, outcomes, record) -> dict:
    from clp_core_spark.plans.pipeline import IngestPipeline
    from clp_core_spark.sources.transcripts import generate_transcripts

    # the input is the generator's DataFrame, as `job --generate` passes it
    input_df = generate_transcripts(spark, num_turns=cfg.turns, seed=cfg.seed)
    # the archive search requests go to, and the traced walk's; its ingest
    # is the session's first, so it pays the JVM and worker warm-up
    archive = cfg.work / "archive"
    pipe, archive_build_s = None, None
    if cfg.trace or cfg.workload == "search":
        with tracer.span("setup.ingest") as s:
            pipe = ingest(spark, input_df, archive)
        archive_build_s = s["end"] - s["start"]

    # expected results come from the input alone, outside every timer
    with tracer.span("setup.collect_input"):
        table = input_df.toArrow()
    with tracer.span("setup.oracle"):
        oracle = InputOracle(table)
        mix = query_mix(oracle, cfg.seed)
        want = {q: oracle.expected(q) for q in mix}
        want_text = oracle.ordered_text()
    n = len(oracle)
    setup_s = time.perf_counter() - tracer.t0
    record.update(setup={"session_s": session_s, "archive_build_s": archive_build_s,
                         "setup_s": setup_s}, figures={})
    if cfg.trace:
        from perfbench.layers import walk

        return walk(spark, cfg, tracer, pipe, input_df, mix, want, want_text, outcomes)

    if cfg.workload == "job":
        # a handle on the root every round's ingest writes
        pipe = IngestPipeline(spark, str(archive), num_partitions=EPOCHS)
        kinds = {
            "ingest": lambda: timed_ingest(tracer, spark, input_df, archive, outcomes),
            "decompress": lambda: timed_decompress(
                tracer, pipe, cfg.work / "text", want_text, outcomes),
        }
    else:
        kinds = {q.shape: (lambda q=q: timed_request(tracer, pipe, q, want[q], outcomes))
                 for q in mix}

    settle(spark)
    # closed loop: whole rounds of the workload's requests, one after
    # another; a round after the first starts only if it should end
    # within --seconds, judged by the one before it
    latencies = {kind: [] for kind in kinds}
    rounds, t_timed = [], time.perf_counter()
    while not rounds or time.perf_counter() - t_timed + rounds[-1] <= cfg.seconds:
        t_round = time.perf_counter()
        for kind, issue in kinds.items():
            lat = issue()
            if lat is not None:
                latencies[kind].append(lat)
        rounds.append(time.perf_counter() - t_round)
    if cfg.workload == "job" and latencies["ingest"]:
        # every round writes the same archive; the last one is checked
        with tracer.span("check.sinks"):
            check_sinks(pipe, oracle, outcomes)
    medians = {k: statistics.median(xs) for k, xs in latencies.items() if xs}
    archive_bytes, _ = dir_bytes(archive)

    figures = record["figures"]
    figures.update(rounds_s=rounds, latencies_s=latencies, median_s=medians)
    if cfg.workload == "job":
        figures.update(ingest_turns_per_s=n / medians["ingest"],
                       decompress_turns_per_s=n / medians["decompress"])
    else:
        searches = [x for xs in latencies.values() for x in xs]
        figures.update(search_p50_s=statistics.median(searches), search_tail=tail(searches))
    return {
        "setup_s": setup_s,
        "round_s": sum(medians.values()),
        "archive_bytes_per_input_byte": archive_bytes / oracle.text_bytes,
    }
