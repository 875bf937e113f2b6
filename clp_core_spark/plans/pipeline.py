"""Resumable ingest pipeline: per-partition checkpointing, lineage, and
throughput metrics.

CLP splits work into archives — one compression task per archive
partition, tracked in a jobs DB
(job_orchestration/executor/compress/compression_task.py:208-360,
scheduler/compress/partition.py:99-138). Here the unit of work is a
deterministic hash bucket of ``conv_id`` ("epoch partition"): every turn
of a conversation lands in exactly one partition, partitions are
processed independently, and a parquet *ledger* table records one row per
committed (sub-)epoch.

Resume semantics:
- a partition is re-processed iff its ledger row is missing (crash before
  commit) — sink writes use dynamic partition overwrite keyed by the
  epoch partition, so re-running a partition is idempotent;
- dictionaries grow incrementally: new logtypes/vars get IDs at max+1
  (dictionaries.build_*_dict(existing=...)), mirroring the monotone ID
  counters of clp/VariableDictionaryWriter.cpp:16-23. Dictionary state is
  persisted per epoch under {work_root}/dicts.

Lineage per (sub-)epoch: input row count, per-sink routed counts, dict
deltas, wall time, turns/sec, the per-pattern time spans and the tags —
CLP's archive metadata rows (clp/streaming_archive/MetadataDB.cpp) as a
queryable table.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timedelta, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from clp_core_spark.operators import encode_pipeline, enrich, route
from clp_core_spark.plans import dictstore
from clp_core_spark.plans.tablestore import TableStore
from clp_core_spark.session import arrow_table, local_table
from clp_core_spark.sources import transcripts

LEDGER_SCHEMA = (
    "partition_id int, sub_epoch int, n_subs int,"
    " n_rows long, n_routed long, lt_dict_size long,"
    " var_dict_size long, wall_sec double, turns_per_sec double,"
    " input_min_ts timestamp, input_max_ts timestamp, finished_at double,"
    " spans array<struct<pattern_id:int,min_ts:timestamp,max_ts:timestamp>>,"
    " tags array<string>"
)
_UNIX_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
# The columns every sink row has: the schema of a sink that has no data
# file, as after an ingest of no rows.
_BARE_SINK_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, logtype_id long,"
    " encoded_vars array<long>"
)


def _utc(micros: int | None) -> datetime | None:
    """An aggregated ``unix_micros`` as an exact UTC datetime, the form
    arrow_table takes timestamps in."""
    return None if micros is None else _UNIX_EPOCH + timedelta(microseconds=micros)


def _ms(ts: datetime | None) -> int | None:
    """A timestamp read from a ledger file as exact ms since the epoch,
    floored like ``unix_millis``. A naive one is a UTC instant: Spark
    wrote the ledger files of older archives with INT96 timestamps."""
    if ts is None:
        return None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return (ts - _UNIX_EPOCH) // timedelta(milliseconds=1)


def _read_meta(path: str, prefix: str = "") -> list[dict]:
    """The rows of the ledger files under ``path`` whose names start with
    ``prefix`` (none when it does not exist), as dicts keyed by column
    name, read with pyarrow on the driver: no Spark job runs (the store is
    local-fs, as for ``_version`` and dictstore). Files named ``_*`` or
    ``.*`` (``_SUCCESS``, checksums, a commit's temp file) are not data,
    as for Spark's reader. Timestamps, top-level and in ``spans``, come
    back as ms (``_ms``); ``spans`` and ``tags``, which the ledger files
    of older archives lack, read as None."""
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        return []
    rows: list[dict] = []
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")) or not name.startswith(prefix):
            continue
        t = pq.read_table(os.path.join(path, name), coerce_int96_timestamp_unit="us")
        for r in t.to_pylist():
            r["input_min_ts"] = _ms(r.get("input_min_ts"))
            r["input_max_ts"] = _ms(r.get("input_max_ts"))
            spans = r.get("spans")
            r["spans"] = None if spans is None else [
                dict(s, min_ts=_ms(s["min_ts"]), max_ts=_ms(s["max_ts"])) for s in spans
            ]
            r.setdefault("tags", None)
            rows.append(r)
    return rows


class IngestPipeline:
    """Ingest into, and search, one archive under ``work_root``.

    Archive open: the read paths (``epochs_for_range``, ``read_sink``,
    ``search``, ``count_by_time``, ``decompress_to_text``) open the
    archive once per pipeline object, as CLP opens an archive once per
    search session (its DictionaryReader keeps both dictionaries in
    memory, Grep.cpp:477-495). Each piece of open state is built on first
    use and kept: the ledger rows, the sink DataFrame per
    (kind, epochs) and the dictionary DataFrames. Because every request
    gets the same dictionary DataFrame objects, their driver copies
    (operators.dictionaries.driver_copy, kept on those objects) are
    collected and broadcast once and reused across requests.

    Version: the open state belongs to one archive version, the files
    under ``{work_root}/ledger`` by name, inode and mtime (a re-ingest
    writes commit files of the same names, but each is a new file). The
    ledger file is the commit point and comes after the dictionary
    swap and the sink writes, so an unchanged version means nothing has
    committed since the state was built; any other version (another
    pipeline committed an epoch, or the root was removed and re-ingested)
    drops all of it. Global dictionaries are swapped before the commit,
    so their files are part of the version too: an ingest that
    crashed after the swap must not leave an open dictionary pointing at
    deleted files. Ingest always reads the
    dictionaries it grows afresh.

    Commit record: each committed sub-epoch has one ledger row, its only
    metadata record (CLP keeps one metadata row per archive): the row
    counts, dictionary sizes and wall time, the epoch's overall time span,
    the per-pattern ``spans`` and the pipeline's ``tags``. The driver
    writes it with pyarrow as its own file,
    ``ledger/p{partition_id}-s{sub_epoch}.parquet``, through a temp file
    and a rename, so a commit is one file that exists or does not, and no
    two writers share a file: concurrent epochs need no lock. The rows
    are read on the driver (``_read_meta``) once per archive version;
    ``done_partitions``, the epoch spans, the tag filter and ``metrics``
    launch no Spark job.

    Jobs per epoch: a single-epoch ingest launches 21 Spark jobs
    (measured on a 2k-turn input, also when the session ingested the
    same input before, since no parse outlives its epoch): one
    aggregation over the parse (three jobs, the first read of the
    persisted parse) for the ledger row count and the per-pattern
    spans, the logtype dictionary's bounded collect, the broadcasts of
    the role/tool dimensions and the logtype dictionary, the count that
    pins the enriched rows, the three sink writes (route.write_sinks:
    AQE sizes their files, one per partition value on a 10k-turn epoch)
    and the two dictionary saves. Every table built on the driver is an
    Arrow local relation (session.local_table), so none of them starts a
    Python worker.

    Persists: each has one owner, which releases it in a ``finally``, so
    a failed epoch leaves nothing pinned either. ``_run_partition`` owns
    the partition's slim parse, the one tokenize pass that the dictionary
    delta and every sub-epoch read. ``_run_sub_epoch`` owns the enriched
    rows the sink writes read, and a dictionary ``encode`` built
    distributed and persisted (a logtype dictionary above
    ``LOGTYPE_DRIVER_MAX``, a dense var dictionary above
    ``BROADCAST_VAR_DICT_MAX``).

    Streams: a micro-batch commits as an epoch (``commit_batch``), so a
    streamed archive is read, searched and resumed like a batch one."""

    def __init__(
        self,
        spark: SparkSession,
        work_root: str,
        num_partitions: int = 16,
        var_id_mode: str = "hash",
        write_glt: bool = False,
        dict_budget: int | None = None,
        table_mode: str = "auto",
        dict_scope: str = "global",
        max_concurrent: int = 1,
        tags: list[str] | None = None,
    ):
        """``var_id_mode='dense'`` + ``write_glt=True`` is the archival
        configuration: dense dictionary IDs and a logtype-clustered copy
        compress ~1.4x better at rest than the hash/row-ordered routing
        format (measured in BENCH/BASELINE.md §Storage ratio).

        ``dict_budget`` caps NEW dictionary entries (logtypes + vars) per
        committed sub-epoch: a partition whose dictionary delta exceeds
        the budget is split into deterministic sub-epochs, each with its
        own ledger row and dictionary snapshot — the analog of CLP rolling
        a new archive when dictionaries exceed the target size
        (clp/clp/compression.cpp:137-140).

        ``table_mode``: sink tables write/read through
        plans.tablestore.TableStore — Iceberg when its runtime is on the
        classpath ("auto"/"iceberg"), partitioned parquet otherwise; the
        partition-overwrite and pruning contract is identical either way
        (SURVEY §1.5 archive->partition mapping).

        ``dict_scope``: ``"global"`` grows ONE dictionary pair across all
        epochs (epochs must run sequentially — IDs are assigned at
        max+1); ``"epoch"`` gives every epoch partition its OWN
        self-contained dictionaries, CLP's actual layout (each archive
        carries its logtype.dict/var.dict — clp/streaming_archive/
        Constants.hpp:7-15), making partitions fully independent:
        deterministic regardless of completion order, and eligible for
        ``max_concurrent`` > 1, where a driver thread pool keeps several
        partition jobs in flight at once so a large cluster is never
        idle between sequential epochs (the scheduler interleaves their
        stages). Search loads each selected epoch's dictionaries and
        unions per-epoch hits — exactly CLP dispatching one search task
        per archive (job_orchestration query_scheduler)."""
        if max_concurrent > 1 and dict_scope != "epoch":
            raise ValueError(
                "max_concurrent > 1 requires dict_scope='epoch' (global "
                "dictionaries impose a sequential epoch order)"
            )
        self.spark = spark
        self.work_root = work_root
        self.num_partitions = num_partitions
        self.var_id_mode = var_id_mode
        self.write_glt = write_glt
        self.dict_budget = dict_budget
        self.dict_scope = dict_scope
        self.max_concurrent = max_concurrent
        # user tags stamped on every epoch this pipeline commits — the
        # analog of `clp ... --tags` archive tagging; search prunes by
        # them BEFORE dispatch (scheduler/query/query_scheduler.py:381-386)
        self.tags = list(tags) if tags else []
        self.ledger_path = f"{work_root}/ledger"
        self.dicts_path = f"{work_root}/dicts"
        self.sinks_root = f"{work_root}/sinks"
        self.glt_root = f"{work_root}/glt"
        self.store = TableStore(spark, self.sinks_root, mode=table_mode)
        # archive-open state of one version (see the class docstring);
        # epoch-scope search fills it from driver threads
        self._open_lock = threading.Lock()
        self._open_version: tuple | None = None
        self._open: dict = {}

    # -- archive open --------------------------------------------------------

    def _version(self) -> tuple:
        """The archive version: (name, inode, mtime) of each data file of
        the ledger (and of the global dictionaries), listed without a
        Spark job."""
        dirs = [self.ledger_path]
        if self.dict_scope == "global":
            dirs += [f"{self.dicts_path}/logtype", f"{self.dicts_path}/var"]
        out = []
        for d in dirs:
            try:
                with os.scandir(d) as it:
                    out.append(tuple(sorted(
                        (f.name, f.inode(), f.stat().st_mtime_ns)
                        for f in it if not f.name.startswith(("_", "."))
                    )))
            except FileNotFoundError:  # nothing committed / mid-swap
                out.append(())
        return tuple(out)

    def _opened(self, key: tuple, build):
        """The open state under ``key`` for the current version, built by
        ``build()`` on first use. Builds run outside the lock (a build may
        launch Spark jobs); a concurrent duplicate build loses to the
        first one stored, so every caller sees one object per key."""
        version = self._version()
        with self._open_lock:
            if version != self._open_version:
                self._open_version, self._open = version, {}
            memo = self._open
            if key in memo:
                return memo[key]
        value = build()
        with self._open_lock:
            return memo.setdefault(key, value)

    def _dict(self, name: str, epoch_part: int | None = None) -> DataFrame | None:
        return self._opened(
            ("dict", name, epoch_part), lambda: self._load_dict(name, epoch_part)
        )

    # -- ledger ------------------------------------------------------------

    def ledger(self) -> DataFrame:
        # a missing ledger is "nothing committed", an empty local relation
        # that aggregates without a job (the store is local-fs, as for
        # dictstore and _version); a real read error (corrupt file)
        # propagates — taken as "nothing committed" it would re-ingest
        # every partition and turn every search into zero hits
        if not os.path.exists(self.ledger_path):
            return local_table(self.spark, [], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.ledger_path)

    def _ledger_rows(self) -> list[dict]:
        """The ledger rows (``_read_meta``), read once per archive version."""
        return self._opened(("ledger",), lambda: _read_meta(self.ledger_path))

    def done_partitions(self) -> set[int]:
        """Partitions whose EVERY sub-epoch committed: a partition split
        into n_subs sub-epochs is done iff all n_subs ledger rows exist."""
        n: dict[int, int] = {}
        want: dict[int, int] = {}
        for r in self._ledger_rows():
            p = r["partition_id"]
            n[p] = n.get(p, 0) + 1
            want[p] = max(want.get(p, 1), r["n_subs"] or 1)
        return {p for p in n if n[p] >= want[p]}

    def committed_sub_epochs(self, partition_id: int) -> tuple[set[int], int | None]:
        """(committed sub_epoch ids, the n_subs they were committed under).

        On crash-resume the row split MUST reuse the committed n_subs:
        committed sub-epochs already grew the dictionaries, so recomputing
        the dict delta yields a smaller n_subs and a *different*
        pmod(xxhash64, n_subs) split — rows would be duplicated into new
        epoch_parts or silently dropped."""
        rows = [r for r in self._ledger_rows() if r["partition_id"] == partition_id]
        subs = {r["sub_epoch"] for r in rows}
        return subs, (max(r["n_subs"] for r in rows) if rows else None)

    def _commit_file(self, partition_id: int, sub_epoch: int) -> str:
        return f"{self.ledger_path}/p{partition_id}-s{sub_epoch}.parquet"

    def _append_ledger(self, row: dict) -> None:
        """Commit a sub-epoch: write its ledger row as its own file. The
        row goes to a ``.``-prefixed temp file (which no reader lists)
        and is renamed into place, so a crash leaves no partial commit."""
        import pyarrow.parquet as pq

        path = self._commit_file(row["partition_id"], row["sub_epoch"])
        tmp = os.path.join(self.ledger_path, "." + os.path.basename(path))
        os.makedirs(self.ledger_path, exist_ok=True)
        table = arrow_table([row], StructType.fromDDL(LEDGER_SCHEMA))
        pq.write_table(table, tmp, store_schema=False)  # parquet types suffice
        os.replace(tmp, path)

    def tagged_epochs(self, tags: list[str]) -> set[int]:
        """Epoch ids carrying ANY of ``tags`` — the schedule-time tag
        filter (scheduler/query/query_scheduler.py:381-386 joins the
        requested tag ids against archive_tags before dispatch). An
        untagged epoch matches nothing, like an untagged archive set
        queried with --tags."""
        want = set(tags)
        return {
            r["partition_id"] + r["sub_epoch"] * self.num_partitions
            for r in self._ledger_rows()
            if want.intersection(r["tags"] or ())
        }

    # -- dictionaries ------------------------------------------------------

    def _load_dict(self, name: str, epoch_part: int | None = None) -> DataFrame | None:
        root = (
            f"{self.dicts_path}/epoch_part={epoch_part}"
            if epoch_part is not None
            else self.dicts_path
        )
        return dictstore.load_dict(self.spark, root, name)

    def _save_dict(self, name: str, df: DataFrame, epoch_part: int | None = None) -> int:
        root = (
            f"{self.dicts_path}/epoch_part={epoch_part}"
            if epoch_part is not None
            else self.dicts_path
        )
        return dictstore.save_dict(root, name, df)

    # -- the per-partition unit of work -------------------------------------

    def run(self, input_df: DataFrame, partitions: list[int] | None = None) -> DataFrame:
        """Process every not-yet-done partition of ``input_df``; return the
        ledger. Deterministic partitioning: pmod(xxhash64(conv_id), N).
        With ``max_concurrent`` > 1 (epoch-scoped dictionaries only),
        several partition jobs stay in flight at once — driver threads
        submit to the shared scheduler, which interleaves their stages so
        executors never idle between epochs."""
        part_col = F.pmod(F.xxhash64("conv_id"), F.lit(self.num_partitions)).cast("int")
        df = input_df.withColumn("_epoch_part", part_col)

        done = self.done_partitions()  # one ledger scan for the whole plan
        todo = [
            p
            for p in (partitions if partitions is not None else range(self.num_partitions))
            if p not in done
        ]
        if self.max_concurrent > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=self.max_concurrent) as pool:
                futures = [
                    pool.submit(
                        self._run_partition,
                        df.filter(F.col("_epoch_part") == p).drop("_epoch_part"),
                        p,
                    )
                    for p in todo
                ]
                for f in futures:
                    f.result()
        else:
            for p in todo:
                self._run_partition(
                    df.filter(F.col("_epoch_part") == p).drop("_epoch_part"), p
                )
        return self.ledger()

    def _dict_delta(self, parsed: DataFrame, lt_existing, var_existing) -> int:
        """NEW dictionary entries this partition would add (logtypes +
        vars) — the rollover trigger (clp/clp/compression.cpp:137-140
        checks dictionary size against the target archive size).
        ``parsed`` is the partition's (persisted) slim parse — the SAME
        relation the sub-epoch encodes read, so the corpus is tokenized
        once, not twice, on the dict-budget path."""
        new_lt = parsed.select("logtype").distinct()
        if lt_existing is not None:
            new_lt = new_lt.join(lt_existing, "logtype", "left_anti")
        new_var = (
            parsed.select(F.explode("dict_strs").alias("var_str"))
            .where(F.col("var_str").isNotNull())
            .distinct()
        )
        if var_existing is not None:
            new_var = new_var.join(var_existing, "var_str", "left_anti")
        return new_lt.count() + new_var.count()

    def commit_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Commit stream micro-batch ``batch_id`` as the epoch
        ``partition_id=batch_id, sub_epoch=0``, so its ``epoch_part`` is
        ``batch_id`` (the ``foreachBatch`` handler of
        streaming.stream_pipeline.route_stream, whose pipeline has no
        ``dict_budget``). A batch whose own commit file exists is skipped
        (in a stream begun before commit files, one whose row Spark's
        ``part-*`` ledger files hold: a fixed set, as no commit adds to
        them): the stream checkpoint replays its last batch when a crash
        fell between the ledger commit and the checkpoint's own. A batch
        that crashed before its ledger commit runs again over its
        idempotent sink overwrite."""
        legacy = _read_meta(self.ledger_path, "part-")
        done = os.path.exists(self._commit_file(batch_id, 0)) or any(
            (r["partition_id"], r["sub_epoch"]) == (batch_id, 0) for r in legacy
        )
        if done or batch_df.isEmpty():
            return
        self._run_partition(batch_df, batch_id)

    def _pool(self, partition_id: int) -> str:
        """The FAIR scheduler pool of an epoch's jobs. Fairness is BETWEEN
        pools (inside one pool the order is FIFO), so with
        ``max_concurrent`` > 1 each epoch's driver thread gets its own
        pool and concurrent epochs share executor slots instead of
        queueing behind the first-submitted epoch's stages. Epochs that
        run one at a time (every stream) share one pool: Spark never
        drops a pool, so a pool per micro-batch would grow its pool list
        for the life of the stream."""
        return f"epoch-{partition_id}" if self.max_concurrent > 1 else "epoch"

    def _run_partition(self, part_df: DataFrame, partition_id: int) -> None:
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", self._pool(partition_id)
        )
        # ONE tokenize pass per partition, pinned and released here: the
        # dictionary delta, every sub-epoch's encode and its row-count /
        # span aggregation read it. The raw text is never read again
        # (decode reconstructs it), so it leaves before the persist.
        parsed = encode_pipeline.parse(part_df).drop("text").persist()
        try:
            n_subs = 1
            done_subs: set[int] = set()
            if self.dict_budget is not None:
                done_subs, committed_n_subs = self.committed_sub_epochs(partition_id)
                if committed_n_subs is not None:
                    # resume: the split is pinned to the n_subs the committed
                    # sub-epochs used — never recompute from the (now-shrunken)
                    # dictionary delta (see committed_sub_epochs docstring)
                    n_subs = committed_n_subs
                else:
                    # epoch scope: archive-local dictionaries, nothing carries
                    lt_existing = var_existing = None
                    if self.dict_scope == "global":
                        lt_existing = self._load_dict("logtype")
                        var_existing = self._load_dict("var")
                    delta = self._dict_delta(parsed, lt_existing, var_existing)
                    n_subs = max(1, -(-delta // self.dict_budget))  # ceil
            for sub in range(n_subs):
                if sub in done_subs:
                    continue
                sub_df = parsed
                if n_subs > 1:
                    # deterministic row split: re-runs see identical sub-epochs
                    sub_df = parsed.filter(
                        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_subs)) == sub
                    )
                self._run_sub_epoch(sub_df, partition_id, sub, n_subs)
        finally:
            parsed.unpersist()

    def _run_sub_epoch(
        self, parsed: DataFrame, partition_id: int, sub_epoch: int, n_subs: int
    ) -> None:
        """Encode, enrich and write the rows of ``parsed`` (the slim parse
        ``_run_partition`` owns), save the dictionaries, then commit."""
        t0 = time.time()
        # sink partition value: unique per (partition, sub), stable across
        # resumes; plain partition_id when there is no split
        epoch_part = partition_id + sub_epoch * self.num_partitions
        if self.dict_scope == "epoch":
            lt_existing = var_existing = None
        else:
            lt_existing = self._load_dict("logtype")
            var_existing = self._load_dict("var")

        # per-pattern time spans (clp_s timestamp dictionary:
        # TimestampEntry.hpp:58-95 keeps min/max PER PATTERN; queries are
        # proven false pattern-by-pattern, EvaluateTimestampIndex.cpp).
        # Inputs without a pattern_id column index as one pattern (-1).
        # The same one aggregation gives the ledger's row count and span.
        # Timestamps leave Spark as unix_micros, so the driver-built row
        # carries them exactly whatever the Python process's time zone.
        pat_col = (
            F.col("pattern_id").cast("int")
            if "pattern_id" in parsed.columns
            else F.lit(-1)
        )
        pat_rows = (
            parsed.groupBy(pat_col.alias("pattern_id"))
            .agg(
                F.count("*").alias("n"),
                F.unix_micros(F.min("ts")).alias("mn"),
                F.unix_micros(F.max("ts")).alias("mx"),
            )
            .collect()
        )
        n_input = sum(r["n"] for r in pat_rows)
        mins = [r["mn"] for r in pat_rows if r["mn"] is not None]
        maxs = [r["mx"] for r in pat_rows if r["mx"] is not None]

        pinned: list[DataFrame] = []  # released last-first, on failure too
        try:
            encoded, lt_dict, var_dict = encode_pipeline.encode(
                parsed,
                key_cols=["conv_id", "turn_idx"],
                existing_logtype_dict=lt_existing,
                existing_var_dict=var_existing,
                var_id_mode=self.var_id_mode,
                pre_parsed=parsed,
            )
            # encode persists a dictionary it built distributed
            pinned += [d for d in (lt_dict, var_dict) if d.is_cached]
            enriched = enrich.enrich(
                encoded, transcripts.role_dim(self.spark), transcripts.tool_dim(self.spark)
            )
            enriched = route.with_logtype_class(
                enriched.join(F.broadcast(lt_dict), "logtype_id")
            ).drop("logtype")
            enriched = enriched.withColumn("epoch_part", F.lit(epoch_part)).persist()
            pinned.append(enriched)

            # materialize the persist ONCE before fanning out the writers so
            # the three jobs read the cache instead of racing to build it.
            # epoch_part scopes each overwrite to THIS sub-epoch, and is a
            # column of the persisted rows, not a literal (route.write_sink).
            n_rows = enriched.count()
            route.write_sinks(
                enriched, self.store, ["epoch_part"], pool=f"{self._pool(partition_id)}-sink"
            )
            if self.write_glt:
                # archival copy: logtype-clustered for min/max file skipping
                # + maximal ratio (GLT layout; BENCH/BASELINE.md)
                route.write_glt_layout(
                    enriched, f"{self.glt_root}/epoch_part={epoch_part}",
                    partitions=max(self.spark.sparkContext.defaultParallelism // 4, 1),
                    combine_threshold=0.001,  # GLT's 0.1% combined-table default
                )

            ep = epoch_part if self.dict_scope == "epoch" else None
            lt_n = self._save_dict("logtype", lt_dict, epoch_part=ep)
            var_n = self._save_dict("var", var_dict, epoch_part=ep)
        finally:
            for df in reversed(pinned):
                df.unpersist()

        wall = time.time() - t0
        self._append_ledger(
            {
                "partition_id": partition_id,
                "sub_epoch": sub_epoch,
                "n_subs": n_subs,
                "n_rows": n_input,
                "n_routed": n_rows * len(route.SINK_KINDS),
                "lt_dict_size": lt_n,
                "var_dict_size": var_n,
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(n_input / wall, 1) if wall > 0 else 0.0,
                "input_min_ts": _utc(min(mins, default=None)),
                "input_max_ts": _utc(max(maxs, default=None)),
                "finished_at": time.time(),
                "spans": [
                    {
                        "pattern_id": r["pattern_id"],
                        "min_ts": _utc(r["mn"]),
                        "max_ts": _utc(r["mx"]),
                    }
                    for r in pat_rows
                ],
                "tags": self.tags,
            }
        )

    # -- query-time pruning + search ----------------------------------------

    def epochs_for_range(
        self, ts_begin_ms: int | None = None, ts_end_ms: int | None = None
    ) -> list[int]:
        """Sink epoch_part values the query range cannot be proven false
        for. Per-PATTERN spans prove more ranges false than the epoch's
        overall [min, max]: a range falling in the gap between two
        patterns' spans skips the epoch even though it overlaps the union
        span — clp_s EvaluateTimestampIndex over the timestamp dictionary
        (clp_s/TimestampEntry.hpp:58-95). Falls back to the ledger's
        epoch-level span for epochs of older archives; CLP's scheduler
        analog: job_orchestration/.../query_scheduler.py:369-397."""
        out = []
        for ep, mn, mx in self._epoch_spans():
            # an epoch survives if ANY of its pattern spans overlaps
            if ts_end_ms is not None and mn is not None and mn > ts_end_ms:
                continue
            if ts_begin_ms is not None and mx is not None and mx < ts_begin_ms:
                continue
            out.append(ep)
        return sorted(set(out))

    def _epoch_spans(self) -> list[tuple[int, int | None, int | None]]:
        """(epoch_part, min ms, max ms) per timestamp pattern of every
        committed epoch — what ``epochs_for_range`` filters. A ledger row
        of an older archive has no ``spans``: its epoch keeps its coarse
        ledger span, so it does not vanish from search."""
        out = []
        for r in self._ledger_rows():
            ep = r["partition_id"] + r["sub_epoch"] * self.num_partitions
            if r["spans"] is None:
                out.append((ep, r["input_min_ts"], r["input_max_ts"]))
            else:
                out.extend((ep, s["min_ts"], s["max_ts"]) for s in r["spans"])
        return out

    def read_sink(
        self, kind: str = "role", epochs: list[int] | None = None
    ) -> DataFrame:
        """Read a sink table; with ``epochs``, only those epoch_part
        partitions are scanned (parquet: the directories are never even
        LISTED; Iceberg: manifest pruning) — unselected epochs are never
        dispatched, like the reference scheduler skipping archives. Part
        of the archive-open state: the same DataFrame until the version
        changes."""
        pf = {"epoch_part": epochs} if epochs is not None else None

        def build() -> DataFrame:
            df = self.store.read(f"by_{kind}", partition_filter=pf)
            if df is None:  # no data file, as after an ingest of no rows
                schema = f"{_BARE_SINK_SCHEMA}, epoch_part int, {kind} string"
                return local_table(self.spark, [], schema)
            return df

        return self._opened(
            ("sink", kind, None if epochs is None else tuple(epochs)), build
        )

    def search(
        self,
        query: str,
        ts_begin_ms: int | None = None,
        ts_end_ms: int | None = None,
        kind: str = "role",
        ignore_case: bool = False,
        tags: list[str] | None = None,
        **kw,
    ) -> DataFrame:
        """Dictionary search over the routed sinks with ledger-driven
        epoch pruning: the query's time range first selects epoch
        directories via the ledger, then the encoded-domain search (with
        the same ts predicate for row-level filtering) runs only there.
        ``tags`` further prunes to epochs stamped with ANY of the given
        tags at ingest time (the reference scheduler's tag filter,
        query_scheduler.py:381-386)."""
        from clp_core_spark.operators import search as search_op

        epochs = self.epochs_for_range(ts_begin_ms, ts_end_ms)
        if tags:
            tagged = self.tagged_epochs(tags)
            epochs = [e for e in epochs if e in tagged]
        # global scope: one unit over every selected epoch; epoch scope:
        # one per archive against ITS dictionaries (CLP's scheduler fans a
        # query out per archive), hits unioned without dedup since epochs
        # partition the rows; max_concurrent > 1 compiles them in threads,
        # so 1000 archives do not serialize 1000 dictionary-probe rounds.
        units = (
            [(None, epochs)] if self.dict_scope == "global" else [(e, [e]) for e in epochs]
        )

        def _one(unit: tuple) -> DataFrame | None:
            e, eps = unit
            if self.max_concurrent > 1:
                # a pool per archive probe thread (FAIR shares between
                # pools, not within one — see _run_partition)
                self.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", f"search-epoch-{e}"
                )
            lt, vd = self._dict("logtype", e), self._dict("var", e)
            if lt is None or vd is None:
                return None
            return search_op.search_text(
                self.read_sink(kind, epochs=eps), lt, vd, query,
                ["conv_id", "turn_idx"], ignore_case=ignore_case,
                ts_begin_ms=ts_begin_ms, ts_end_ms=ts_end_ms, **kw,
            )

        if self.max_concurrent > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(self.max_concurrent) as pool:
                outs = [d for d in pool.map(_one, units) if d is not None]
        else:
            outs = [d for d in map(_one, units) if d is not None]
        if not outs:
            return (
                self.read_sink(kind, epochs=[])
                .select("conv_id", "turn_idx")
                .where(F.lit(False))
            )
        df = outs[0]
        for o in outs[1:]:
            df = df.unionByName(o, allowMissingColumns=True)
        return df

    def count_by_time(
        self,
        query: str,
        bucket_ms: int = 3_600_000,
        ts_begin_ms: int | None = None,
        ts_end_ms: int | None = None,
        **kw,
    ) -> DataFrame:
        """clo's aggregating search (`--count-by-time N`,
        clp/clo/OutputHandler.hpp:255-286): the dictionary search feeds
        the bucketed count reducer in one plan."""
        from clp_core_spark.operators import aggregate

        hits = self.search(
            query, ts_begin_ms=ts_begin_ms, ts_end_ms=ts_end_ms,
            select_cols=["ts"], **kw,
        )
        return aggregate.count_by_time(hits, bucket_ms=bucket_ms)

    def decompress_to_text(
        self,
        out_path: str,
        kind: str = "role",
        partitions: int | None = None,
    ) -> None:
        """Reconstruct the original turn text from the routed archive in
        stable (conv_id, turn_idx) order — the `clp x` surface over the
        pipeline's own sinks (clp/clp/decompression.cpp). Epoch-scoped
        archives decode each epoch with ITS dictionaries and the ordered
        write interleaves them globally (range partitioning on the keys,
        not on epochs); global dictionaries decode the whole archive as
        its one epoch."""
        from clp_core_spark.operators import sinks as sink_ops

        keys = ["conv_id", "turn_idx"]
        # None: the global dictionary pair, over every epoch's rows
        units = self.epochs_for_range() if self.dict_scope == "epoch" else [None]
        parts = []
        for e in units:
            lt, vd = self._dict("logtype", e), self._dict("var", e)
            if lt is None or vd is None:
                continue
            parts.append(
                encode_pipeline.decode(
                    self.read_sink(kind, epochs=None if e is None else [e]),
                    lt, vd, keys,
                ).select(*keys, "decoded_text")
            )
        if not parts:
            raise ValueError("nothing ingested: no dictionaries found")
        dec = parts[0]
        for p in parts[1:]:
            dec = dec.unionByName(p)
        sink_ops.write_ordered_text(dec, out_path, keys, partitions=partitions)

    # -- metrics -------------------------------------------------------------

    def metrics(self) -> dict:
        rows = self._ledger_rows()
        total_rows = sum(r["n_rows"] for r in rows)
        total_wall = sum(r["wall_sec"] for r in rows)
        return {
            "partitions_done": len(rows),
            "rows": total_rows,
            "wall_sec": round(total_wall, 3),
            "turns_per_sec": round(total_rows / total_wall, 1) if total_wall else 0.0,
        }

    def emit_metrics(self, path: str | None = None) -> str:
        blob = json.dumps(self.metrics())
        if path:
            with open(path, "w") as f:
                f.write(blob + "\n")
        return blob
