"""Deterministic synthetic transcripts table (the pipeline's only input).

Schema per BASELINE.json input_hint:
``conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp``.

Everything is a pure function of (seed, conv index, turn index) — no RNG
state, no wall clock — so every run and every parallelism level produces
an identical table (mirrors the reference's golden corpora,
components/core/tests/test_log_files/log.txt and test_search.jsonl).

The text template bank exercises every tokenizer/encoder rule
(clp/ir/parsing.cpp:20-94, clp/EncodedVariableInterpreter.cpp:31-149):
int vars, 16-digit-bounded floats, '='-preceded dict vars, multi-digit
hex, unrepresentable ints (zero-padded / oversized), backslash paths,
constant-only logtypes, and multiline messages.

Generation is Spark-native (spark.range + JVM expressions, no Python in
the row path) so the bench input can be produced at any scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from clp_core_spark.session import local_table

BASE_EPOCH_MS = 1462692845251  # 2016-05-08T07:34:05.251Z (log.txt:1)

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = [
    "bash", "grep", "search", "browser", "editor", "python", "sql",
    "compiler", "linter", "profiler", "debugger", "scheduler", "uploader",
    "downloader", "indexer", "notebook",
]

N_TEMPLATES = 10


def _mix(col, salt: int):
    """Deterministic 63-bit mix of an int column with a salt."""
    return F.abs(F.xxhash64(col, F.lit(salt)))


def generate_transcripts(
    spark: SparkSession,
    num_turns: int = 10_000,
    seed: int = 42,
    num_convs: int | None = None,
    hot_convs: int = 3,
    hot_factor: int = 400,
    partitions: int | None = None,
) -> DataFrame:
    """Build the transcripts DataFrame with ~``num_turns`` rows.

    Conversation sizes are Zipf-ish skewed: ``hot_convs`` conversations get
    ``hot_factor``x the median turn count — exercising the sink
    writer's rebalance (CLP analog: oversized filename groups,
    job_orchestration/scheduler/compress/partition.py:99-138).
    """
    if num_convs is None:
        num_convs = max(8, num_turns // 20)
    # Median conv gets `base` turns; hot convs get base*hot_factor.
    base = max(2, num_turns // (num_convs + hot_convs * hot_factor))

    convs = spark.range(num_convs).withColumnRenamed("id", "conv_k")
    n_turns = (
        F.when(F.col("conv_k") < hot_convs, F.lit(base * hot_factor))
        .otherwise((_mix(F.col("conv_k"), seed) % (2 * base - 1) + 1).cast("int"))
    )
    df = convs.withColumn("n_turns", n_turns)
    if partitions:
        df = df.repartition(partitions, "conv_k")
    df = df.withColumn("turn_idx", F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)))
    df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).drop("n_turns")

    h = lambda salt: _mix(F.col("conv_k") * 1_000_003 + F.col("turn_idx"), seed * 31 + salt)  # noqa: E731

    # role: user/assistant/system/tool weighted 45/45/2/8
    rw = h(1) % 100
    role = (
        F.when(rw < 45, "user")
        .when(rw < 90, "assistant")
        .when(rw < 92, "system")
        .otherwise("tool")
    )
    # tool: null unless role == 'tool'; one unmatched probe value to test
    # the left-join null path (FIXTURES.md §2).
    tool_ix = h(2) % (len(TOOLS) + 1)
    tool_expr = F.when(
        role == "tool",
        F.when(tool_ix == len(TOOLS), F.lit("unknown_tool_probe")).otherwise(
            F.array(*[F.lit(t) for t in TOOLS])[tool_ix.cast("int")]
        ),
    )

    ts = F.timestamp_millis(
        F.lit(BASE_EPOCH_MS)
        + F.col("conv_k") * 90_000
        + F.col("turn_idx") * (h(3) % 89_999 + 1)
    )

    # --- text template bank -------------------------------------------------
    t = h(4) % N_TEMPLATES
    v1 = (h(5) % 100_000).cast("long")
    v2 = (h(6) % 10_000).cast("long")
    v3 = (h(7) % 64).cast("long")
    f1 = F.format_string("%d.%d", h(8) % 100, h(8) % 100)  # float var string
    f2 = F.format_string("%d.%02d", h(9) % 1000, h(9) % 100)
    word = F.array(*[F.lit(w) for w in
                     ["alpha", "beta", "gamma", "delta", "sigma", "omega"]])[
        (h(10) % 6).cast("int")
    ]
    status = F.array(*[F.lit(w) for w in ["ok", "failed", "retrying", "timeout"]])[
        (h(11) % 4).cast("int")
    ]
    hex8 = F.lower(F.lpad(F.hex(h(12) % F.lit(2**32)), 8, "0"))
    hex16 = F.lower(F.lpad(F.hex(h(13)), 16, "0"))
    zeropad = F.array(*[F.lit(w) for w in
                        ["007", "+12", "00.5", "9999999999999999999999"]])[
        (h(14) % 4).cast("int")
    ]

    text = (
        F.when(t == 0, F.format_string("Task %s assigned to container_%s on node-%s", v1, v2, v3))
        .when(t == 1, F.format_string("Heap used %s GB out of %s GB (%s%%)", f1, f2, f1))
        .when(t == 2, F.format_string("job=%s user=%s status=%s", word, status, word))
        .when(t == 3, F.format_string("session token %s refreshed, parent %s", hex8, hex16))
        .when(t == 4, F.format_string("Retrying request id %s after %ss: %s at offset %s",
                                      v1, f2, word, v2))
        .when(t == 5, F.lit("static heartbeat ok"))
        .when(t == 6, F.format_string("path C:\\Users\\%s\\file_%s.txt", word, v3))
        .when(t == 7, F.format_string("value %s", zeropad))
        .when(t == 8, F.format_string("Msg %s: \"Abc%s\"\nsecond line %s ms", v3, v2, v1))
        .otherwise(F.format_string("metric %s = %s (%s samples) bucket 0x%s", word, f2, v2, hex8))
    )

    return df.select(
        F.format_string("conv-%08d", F.col("conv_k")).alias("conv_id"),
        F.col("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool_expr.alias("tool"),
        ts.alias("ts"),
    )


def role_dim(spark: SparkSession) -> DataFrame:
    rows = [
        ("user", "human", True, 1),
        ("assistant", "model", False, 2),
        ("system", "control", False, 3),
        ("tool", "tool", False, 4),
    ]
    return local_table(spark, rows, "role string, role_class string, is_human boolean, priority int")


def tool_dim(spark: SparkSession) -> DataFrame:
    fam = {
        "bash": "shell", "grep": "shell", "search": "web", "browser": "web",
        "editor": "ide", "python": "runtime", "sql": "runtime",
        "compiler": "build", "linter": "build", "profiler": "observability",
        "debugger": "observability", "scheduler": "infra", "uploader": "infra",
        "downloader": "infra", "indexer": "infra", "notebook": "ide",
    }
    rows = [(t, fam[t], t not in ("browser", "uploader")) for t in TOOLS]
    return local_table(spark, rows, "tool string, tool_family string, is_sandboxed boolean")
