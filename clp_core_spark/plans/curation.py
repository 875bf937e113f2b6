"""End-to-end training-data curation plan: the pipeline a pretraining
data team actually runs, composed from this repo's curation-family
operators in the order that keeps every stage's input as small as the
previous stages can make it:

    quality gate (Gopher rules)          textstats.gopher_keep
 -> PII redaction                        textstats.redact_pii
 -> duplicate-span excision              dedup.duplicate_spans + remove_
 -> exact dedup (doc level)              dedup.exact_dedup
 -> near-dup dedup (MinHash-LSH ->       dedup.minhash_lsh_pairs +
    clusters -> canonical per cluster)   dedup.near_dup_clusters
 -> benchmark decontamination            dedup.decontaminate
 -> target-mixture domain reweighting    sampling.mixture_sample
 -> train/val/test split                 sampling.split_assign
 -> sequence packing (per split)         packing.pack_sequences
 -> deterministic epoch shuffle          sampling.deterministic_shuffle

Ordering rationale: the gate and redaction are pure Column projections
(cheapest first — they prune/clean before anything that shuffles); span
excision REWRITES text, so it must precede both dedup stages (a doc
whose boilerplate is stripped may become an exact duplicate of another);
dedup precedes decontamination and sampling so their work scales with
the kept set; the split comes after the mixture so target proportions
hold inside every split (hash buckets under distinct salts are
independent); packing runs per split — a training sequence must never
straddle splits — so sequence identity is the PAIR (split, seq_id).

Every stage decision derives from content hashes (sampling.py's md5
buckets, xxhash64 digests), so the whole pipeline is deterministic
across cluster sizes, partitionings, and re-runs — rerunning curation
on the same corpus reproduces the same training set byte-for-byte.

**Lineage**: like plans/pipeline.py's per-partition ledger, `curate`
returns a per-stage ledger (stage, rows_in, rows_out, wall_sec) when
``count_stages=True``: each enabled stage's output is persisted,
counted, and the previous stage's cache released — one extra count job
per stage, the price of an audited pipeline. With ``count_stages=False``
the stages compose into ONE lazy plan (rows_* are None) and nothing
materializes until the caller writes the result — the shape to use when
the pipeline feeds straight into a checkpointed table write at scale
(compose with plans/tablestore for stage-materialized resumability).
Exception: ``near_dup`` is iterative (label propagation runs jobs of
its own and localCheckpoints its label relation), so that one stage
always executes eagerly; with ``count_stages=False`` its un-persisted
input plan is recomputed per iteration input — audited mode persists
it, which is one more reason the default is True.

**Resumability** (``checkpoint_root=``): the expensive stages' DECISION
tables — span table, exact/near-dup keep-sets, contaminated ids,
mixture keep-set, pack routing — are slim id-keyed relations (~1% of
corpus bytes at 10^12 rows), so those are what checkpoint: decision
parquet first, completion-ledger row second (plans/pipeline.py's commit
order — a crash between the two leaves an unledgered write the re-run
overwrites). Cheap stages (gate/redact/split/shuffle: pure Column
projections) recompute for free; the composed corpus stays a lazy plan
over the input, never materialized per stage. A params fingerprint in
every ledger row refuses resuming under changed stage parameters.

Reference analog: none — clp is a log store; this plan is the
training-data surface the graft adds ON TOP of the CLP operators
(brief: curation operators are first-class alongside SURVEY §2).
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.errors import AnalysisException

from clp_core_spark.functions import textstats
from clp_core_spark.operators import dedup, packing, sampling
from clp_core_spark.session import local_table


@dataclass
class CurationResult:
    """`curate` output: the curated corpus plus the per-stage ledger."""

    df: DataFrame
    stages: list[dict] = field(default_factory=list)
    #: decision tables loaded from ``checkpoint_root`` instead of rebuilt
    resumed: list[str] = field(default_factory=list)

    def ledger(self) -> DataFrame:
        """The stage ledger as a DataFrame (mirrors pipeline.ledger())."""
        return local_table(
            self.df.sparkSession,
            [
                (
                    s["stage"],
                    s["rows_in"],
                    s["rows_out"],
                    float(s["wall_sec"]) if s["wall_sec"] is not None else None,
                )
                for s in self.stages
            ],
            "stage string, rows_in long, rows_out long, wall_sec double",
        )


_CKPT_LEDGER_SCHEMA = "stage string, rows long, wall_sec double, params_fp string"


def _params_fingerprint(params: Mapping[str, object]) -> str:
    """Stable fingerprint of every parameter that changes a stage
    DECISION (not the df itself — re-pointing a checkpoint root at a
    different corpus is the caller's contract to keep, exactly as with
    pipeline.py's work_root)."""
    blob = json.dumps(
        {k: (sorted(v.items()) if isinstance(v, Mapping) else v)
         for k, v in sorted(params.items())},
        sort_keys=True,
        default=str,
    )
    return hashlib.md5(blob.encode()).hexdigest()


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_gate: bool = True,
    redact: bool = False,
    excise_spans: bool = False,
    span_k: int = 8,
    exact: bool = True,
    near_dup: bool = True,
    minhash_threshold: float = 0.5,
    shingle_n: int = 3,
    benchmark: DataFrame | None = None,
    decontaminate_n: int = 13,
    mixture: Mapping[str, float] | None = None,
    domain_col: str | None = None,
    mixture_weight_col: str | None = None,
    splits: Mapping[str, float] | None = None,
    seq_len: int | None = None,
    shuffle: bool = False,
    salt: str = "curate",
    count_stages: bool = True,
    checkpoint_root: str | None = None,
    benchmark_fingerprint: str | None = None,
) -> CurationResult:
    """Run the curation pipeline over ``df`` (any table with a unique
    ``id_col`` and a ``text_col``). Stages toggle independently; the
    defaults run gate + exact + near-dup + split — the minimum honest
    pretraining prep. Off-by-default stages either rewrite text
    (``redact``, ``excise_spans``), need caller inputs (``benchmark``,
    ``mixture`` + ``domain_col``), or change the output shape
    (``seq_len`` adds (pack_group, seq_id, overlong) via one slim join;
    ``shuffle`` adds the global training-order sort).

    Returns :class:`CurationResult`; ``result.df`` keeps every input
    column (text rewritten IN PLACE by redact/excise so downstream
    stages and the caller see one text column), plus ``split`` and the
    packing columns when enabled. Sequence identity is (split, seq_id).
    """
    if mixture is not None and domain_col is None:
        raise ValueError("mixture weights require domain_col")
    if (
        checkpoint_root is not None
        and benchmark is not None
        and benchmark_fingerprint is None
    ):
        raise ValueError(
            "checkpointing with a benchmark requires benchmark_fingerprint"
            " (e.g. the benchmark table's path) — the stored"
            " contaminated_ids decision is only valid against the SAME"
            " benchmark, and the fingerprint is how a resume proves it"
        )
    if splits is None:
        splits = {"train": 0.98, "val": 0.01, "test": 0.01}

    # -- checkpointing: decisions, not data --------------------------------
    # At 10^12 rows, materializing the corpus after every stage costs ~10
    # corpus writes; the stage DECISIONS (keep-sets, span tables, pack
    # routing) are slim id-keyed relations, ~1% of the corpus bytes, and
    # every cheap stage (gate/redact/split/shuffle: pure Column
    # projections, no shuffle) recomputes for free. So resumability
    # checkpoints only the expensive shuffle/iterative stages' decision
    # tables; the composed corpus stays a lazy plan over the input. The
    # commit protocol mirrors plans/pipeline.py: decision parquet first,
    # completion-ledger row second — a crash between the two leaves an
    # unledgered write that the re-run simply overwrites. A params
    # fingerprint in every ledger row refuses resuming under changed
    # stage parameters (stale decisions are a silent-corruption bug, not
    # a recoverable state).
    resumed: list[str] = []
    ckpt_done: dict[str, bool] = {}
    params_fp: str | None = None
    ledger_path = f"{checkpoint_root}/ledger" if checkpoint_root else None
    if checkpoint_root is not None:
        spark = df.sparkSession
        params_fp = _params_fingerprint(
            {
                "quality_gate": quality_gate,
                "redact": redact,
                "excise_spans": excise_spans,
                "span_k": span_k,
                "exact": exact,
                "near_dup": near_dup,
                "minhash_threshold": minhash_threshold,
                "shingle_n": shingle_n,
                # the benchmark TABLE's identity matters for the stored
                # contaminated_ids decision — a bare has-it boolean would
                # let a resume under a different benchmark silently reuse
                # suite-A contamination flags against suite B. Callers
                # with a benchmark + checkpoint must say which one.
                "has_benchmark": benchmark is not None,
                "benchmark_fingerprint": benchmark_fingerprint,
                "decontaminate_n": decontaminate_n,
                "mixture": mixture,
                "domain_col": domain_col,
                "mixture_weight_col": mixture_weight_col,
                "splits": splits,
                "seq_len": seq_len,
                "salt": salt,
                "id_col": id_col,
                "text_col": text_col,
            }
        )
        try:
            for r in spark.read.parquet(ledger_path).collect():
                if r["params_fp"] != params_fp:
                    raise ValueError(
                        f"checkpoint at {checkpoint_root} was written under"
                        " different curation parameters (fingerprint"
                        f" {r['params_fp']} != {params_fp}); resuming would"
                        " apply stale decisions — use a fresh root"
                    )
                ckpt_done[r["stage"]] = True
        except AnalysisException:
            pass  # no ledger yet — fresh root

    def _decision(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Build (or load) one stage's slim decision table."""
        if checkpoint_root is None:
            return build()
        spark = df.sparkSession
        path = f"{checkpoint_root}/decisions/{name}"
        if ckpt_done.get(name):
            resumed.append(name)
            return spark.read.parquet(path)
        t0 = time.monotonic()
        out = build()
        out.write.mode("overwrite").parquet(path)
        out = spark.read.parquet(path)  # downstream reads the committed file
        local_table(
            spark,
            [(name, out.count(), round(time.monotonic() - t0, 3), params_fp)],
            _CKPT_LEDGER_SCHEMA,
        ).write.mode("append").parquet(ledger_path)
        ckpt_done[name] = True
        return out

    stages: list[dict] = []
    cur = df
    prev_cached: DataFrame | None = None
    rows_in: int | None = cur.count() if count_stages else None
    last_t = time.monotonic()

    def _stage(name: str, out: DataFrame) -> DataFrame:
        """Record one stage boundary; persist/count when auditing.

        wall_sec spans from the PREVIOUS stage commit to this one, so
        eager work done while building this stage (near-dup's
        localCheckpointed label propagation, checkpoint decision
        writes) is attributed to the stage that caused it — a timer
        around only the persist+count here measured 1.8s for a
        near-dup stage whose clustering had actually run for minutes."""
        nonlocal cur, prev_cached, rows_in, last_t
        rows_out: int | None = None
        if count_stages:
            out = out.persist()
            rows_out = out.count()
            if prev_cached is not None:
                prev_cached.unpersist()
            prev_cached = out
        stages.append(
            {
                "stage": name,
                "rows_in": rows_in,
                "rows_out": rows_out,
                "wall_sec": round(time.monotonic() - last_t, 3)
                if count_stages
                else None,
            }
        )
        last_t = time.monotonic()
        rows_in = rows_out
        cur = out
        return out

    if quality_gate:
        _stage("quality_gate", cur.filter(textstats.gopher_keep(F.col(text_col))))
    if redact:
        _stage(
            "redact_pii",
            cur.withColumn(text_col, textstats.redact_pii(F.col(text_col))),
        )
    if excise_spans:
        src = cur
        spans = _decision(
            "spans",
            lambda: dedup.duplicate_spans(
                src, text_col=text_col, id_col=id_col, k=span_k
            ),
        )
        rewritten = dedup.remove_duplicate_spans(
            cur, spans, text_col=text_col, id_col=id_col, out_col="_text_deduped"
        )
        _stage(
            "excise_spans",
            rewritten.withColumn(text_col, F.col("_text_deduped")).drop(
                "_text_deduped"
            ),
        )
    if exact:
        src = cur
        keep = _decision(
            "exact_keep",
            lambda: dedup.exact_dedup(src, text_col=text_col, id_col=id_col).select(
                id_col
            ),
        )
        _stage("exact_dedup", cur.join(keep, id_col, "left_semi"))
    if near_dup:
        src = cur

        def _near_dup_keep(src: DataFrame = src) -> DataFrame:
            pairs = dedup.minhash_lsh_pairs(
                src,
                id_col=id_col,
                text_col=text_col,
                shingle_n=shingle_n,
                threshold=minhash_threshold,
            )
            clusters = dedup.near_dup_clusters(src, pairs, id_col=id_col)
            return clusters.filter(F.col(id_col) == F.col("canonical_id")).select(
                id_col
            )

        canon = _decision("near_dup_keep", _near_dup_keep)
        _stage("near_dup", cur.join(canon, id_col, "left_semi"))
    if benchmark is not None:
        src = cur
        bad = _decision(
            "contaminated_ids",
            lambda: dedup.decontaminate(
                src,
                benchmark,
                text_col=text_col,
                id_col=id_col,
                n=decontaminate_n,
            )
            .filter(F.col("contaminated"))
            .select(id_col),
        )
        _stage("decontaminate", cur.join(bad, id_col, "left_anti"))
    if mixture is not None:
        src = cur
        keep_mix = _decision(
            "mixture_keep",
            lambda: sampling.mixture_sample(
                src,
                id_col,
                mixture,
                strata_col=domain_col,
                salt=f"{salt}-mix",
                weight_col=mixture_weight_col,
            ).select(id_col),
        )
        _stage("mixture", cur.join(keep_mix, id_col, "left_semi"))
    _stage(
        "split",
        sampling.split_assign(cur, id_col, weights=splits, salt=f"{salt}-split"),
    )
    if seq_len is not None:
        # pack each split separately (hash groups under per-split salts
        # are independent, and no sequence may mix splits); the packed
        # routing table is slim (id, n_tokens, pack_group, seq_id,
        # overlong) so the per-split union + join-back moves no text
        src = cur

        def _pack_routing(src: DataFrame = src) -> DataFrame:
            with_tokens = src.withColumn(
                "_n_tokens", textstats.token_count_ws(F.col(text_col))
            )
            packed_parts = [
                packing.pack_sequences(
                    with_tokens.filter(F.col("split") == F.lit(name)),
                    id_col,
                    "_n_tokens",
                    seq_len,
                    salt=f"{salt}-pack-{name}",
                )
                for name in splits
            ]
            packed = packed_parts[0]
            for p in packed_parts[1:]:
                packed = packed.unionByName(p)
            return packed.select(id_col, "pack_group", "seq_id", "overlong")

        routing = _decision("pack_routing", _pack_routing)
        _stage("pack", cur.join(routing, id_col, "left"))
    if shuffle:
        _stage(
            "shuffle",
            sampling.deterministic_shuffle(cur, id_col, salt=f"{salt}-shuffle"),
        )
    if count_stages and prev_cached is not None:
        # ownership: hand the caller an unpinned plan — the final count
        # already materialized everything the ledger needed, and a
        # long-lived session must not accumulate corpus-sized caches
        # (same contract as clps_search's owned_persists)
        prev_cached.unpersist()
    return CurationResult(df=cur, stages=stages, resumed=resumed)
