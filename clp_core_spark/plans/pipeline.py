"""Resumable ingest pipeline: per-partition checkpointing, lineage, and
throughput metrics.

CLP splits work into archives — one compression task per archive
partition, tracked in a jobs DB
(job_orchestration/executor/compress/compression_task.py:208-360,
scheduler/compress/partition.py:99-138). Here the unit of work is a
deterministic hash bucket of ``conv_id`` ("epoch partition"): every turn
of a conversation lands in exactly one partition, partitions are
processed independently, and a parquet *ledger* table records one row per
completed partition.

Resume semantics:
- a partition is re-processed iff its ledger row is missing (crash before
  commit) — sink writes use dynamic partition overwrite keyed by the
  epoch partition, so re-running a partition is idempotent;
- dictionaries grow incrementally: new logtypes/vars get IDs at max+1
  (dictionaries.build_*_dict(existing=...)), mirroring the monotone ID
  counters of clp/VariableDictionaryWriter.cpp:16-23. Dictionary state is
  persisted per epoch under {work_root}/dicts.

Lineage per partition: input row count, per-sink routed counts, dict
deltas, wall time, turns/sec — CLP's archive metadata rows
(clp/streaming_archive/MetadataDB.cpp) as a queryable table.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException

from clp_core_spark.operators import dictionaries, encode_pipeline, enrich, route
from clp_core_spark.plans import dictstore
from clp_core_spark.plans.tablestore import TableStore
from clp_core_spark.sources import transcripts

LEDGER_SCHEMA = (
    "partition_id int, sub_epoch int, n_subs int,"
    " n_rows long, n_routed long, lt_dict_size long,"
    " var_dict_size long, wall_sec double, turns_per_sec double,"
    " input_min_ts timestamp, input_max_ts timestamp, finished_at double"
)


class IngestPipeline:
    """Ingest into, and search, one archive under ``work_root``.

    Archive open: the read paths (``epochs_for_range``, ``read_sink``,
    ``search``, ``count_by_time``, ``decompress_to_text``) open the
    archive once per pipeline object, as CLP opens an archive once per
    search session (its DictionaryReader keeps both dictionaries in
    memory, Grep.cpp:477-495). Each piece of open state is built on first
    use and kept: the committed epoch spans, the sink DataFrame per
    (kind, epochs), the dictionary DataFrames and the var-dict size.
    Because every request gets the same dictionary DataFrame objects,
    the driver copy of the logtype dict and the var-dict broadcast
    (cached on those objects by the search and decode operators) are
    reused across requests.

    Version: the open state belongs to one archive version, the sorted
    file names under ``{work_root}/ledger``, read without a Spark job.
    The ledger append is the commit point and comes after the dictionary
    swap, the ts_index append and the sink writes, so an unchanged
    version means nothing has committed since the state was built; any
    other version (another pipeline committed an epoch, or the root was
    removed and re-ingested) drops all of it. Global dictionaries are
    swapped before the commit, so their file names are part of the
    version too: an ingest that crashed after the swap must not leave an
    open dictionary pointing at deleted files. Ingest always reads the
    dictionaries it grows afresh."""

    def __init__(
        self,
        spark: SparkSession,
        work_root: str,
        num_partitions: int = 16,
        salt_buckets: int = 16,
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
        self.salt_buckets = salt_buckets
        self.var_id_mode = var_id_mode
        self.write_glt = write_glt
        self.dict_budget = dict_budget
        self.dict_scope = dict_scope
        self.max_concurrent = max_concurrent
        # user tags stamped on every epoch this pipeline commits — the
        # analog of `clp ... --tags` archive tagging; search prunes by
        # them BEFORE dispatch (scheduler/query/query_scheduler.py:381-386)
        self.tags = list(tags) if tags else []
        self._meta_lock = threading.Lock()  # serializes ledger/ts_index appends
        self.ledger_path = f"{work_root}/ledger"
        self.tags_path = f"{work_root}/tags"
        self.ts_index_path = f"{work_root}/ts_index"
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
        """The archive version: file names of the ledger (and of the
        global dictionaries), listed without a Spark job."""
        dirs = [self.ledger_path]
        if self.dict_scope == "global":
            dirs += [f"{self.dicts_path}/logtype", f"{self.dicts_path}/var"]
        out = []
        for d in dirs:
            try:
                out.append(tuple(sorted(os.listdir(d))))
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

    def _var_dict_count(self, epoch_part: int | None = None) -> int:
        return self._opened(
            ("var_count", epoch_part), lambda: self._dict("var", epoch_part).count()
        )

    # -- ledger ------------------------------------------------------------

    def ledger(self) -> DataFrame:
        try:
            return self.spark.read.parquet(self.ledger_path)
        except Exception:  # noqa: BLE001 — first run: empty ledger
            return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def done_partitions(self) -> set[int]:
        """Partitions whose EVERY sub-epoch committed: a partition split
        into n_subs sub-epochs is done iff all n_subs ledger rows exist."""
        rows = self.ledger().groupBy("partition_id").agg(
            F.count("*").alias("n"), F.max("n_subs").alias("want")
        ).collect()
        return {r["partition_id"] for r in rows if r["n"] >= r["want"]}

    def committed_sub_epochs(self, partition_id: int) -> tuple[set[int], int | None]:
        """(committed sub_epoch ids, the n_subs they were committed under).

        On crash-resume the row split MUST reuse the committed n_subs:
        committed sub-epochs already grew the dictionaries, so recomputing
        the dict delta yields a smaller n_subs and a *different*
        pmod(xxhash64, n_subs) split — rows would be duplicated into new
        epoch_parts or silently dropped."""
        rows = (
            self.ledger()
            .filter(F.col("partition_id") == partition_id)
            .select("sub_epoch", "n_subs")
            .collect()
        )
        subs = {r["sub_epoch"] for r in rows}
        return subs, (max(r["n_subs"] for r in rows) if rows else None)

    def _append_ledger(self, row: dict) -> None:
        with self._meta_lock:
            if self.tags:
                # one row per (epoch, tag) — CLP stamps tags into the
                # archive metadata at compression time (`--tags`,
                # clp_package tags table). Tags write BEFORE the ledger
                # row: a crash between the two leaves an orphan tag row
                # for an uncommitted epoch, which is harmless (search
                # intersects tagged_epochs with the ledger-committed
                # set, and the re-run re-appends the same rows —
                # tagged_epochs reads a distinct set). The opposite
                # order would commit a resumable epoch that permanently
                # LACKS its tags, silently excluding its data from
                # every tagged search.
                ep = row["partition_id"] + row["sub_epoch"] * self.num_partitions
                self.spark.createDataFrame(
                    [(ep, t) for t in self.tags], "epoch_part int, tag string"
                ).write.mode("append").parquet(self.tags_path)
            self.spark.createDataFrame(
                [row], LEDGER_SCHEMA
            ).write.mode("append").parquet(self.ledger_path)

    def tagged_epochs(self, tags: list[str]) -> set[int]:
        """Epoch ids carrying ANY of ``tags`` — the schedule-time tag
        filter (scheduler/query/query_scheduler.py:381-386 joins the
        requested tag ids against archive_tags before dispatch). A work
        dir with no tags file matches nothing, like an untagged archive
        set queried with --tags."""
        try:
            rows = (
                self.spark.read.parquet(self.tags_path)
                .filter(F.col("tag").isin(list(tags)))
                .select("epoch_part")
                .distinct()
                .collect()
            )
        except AnalysisException:  # no tags ever written (path missing);
            # real read errors (corrupt footer, permissions) propagate —
            # swallowing them would silently turn a tagged search into
            # zero results
            return set()
        return {r["epoch_part"] for r in rows}

    # -- dictionaries ------------------------------------------------------

    def _load_dict(self, name: str, epoch_part: int | None = None) -> DataFrame | None:
        root = (
            f"{self.dicts_path}/epoch_part={epoch_part}"
            if epoch_part is not None
            else self.dicts_path
        )
        return dictstore.load_dict(self.spark, root, name)

    def _save_dict(self, name: str, df: DataFrame, epoch_part: int | None = None) -> None:
        root = (
            f"{self.dicts_path}/epoch_part={epoch_part}"
            if epoch_part is not None
            else self.dicts_path
        )
        dictstore.save_dict(root, name, df)

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

    def _run_partition(self, part_df: DataFrame, partition_id: int) -> None:
        # Under FAIR scheduling, fairness is BETWEEN pools (inside one
        # pool the order is FIFO) — give each epoch's driver thread its
        # own pool so concurrent epochs actually share executor slots
        # instead of queueing behind the first-submitted epoch's stages.
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"epoch-{partition_id}"
        )
        n_subs = 1
        done_subs: set[int] = set()
        parsed = None
        if self.dict_budget is not None:
            done_subs, committed_n_subs = self.committed_sub_epochs(partition_id)
            # ONE tokenize pass per partition: the delta count and every
            # sub-epoch encode all read this persisted parse
            parsed = encode_pipeline.parse(part_df, slim=True).persist()
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
        try:
            for sub in range(n_subs):
                if sub in done_subs:
                    continue
                src = parsed if parsed is not None else part_df
                if n_subs == 1:
                    sub_df = src
                else:
                    # deterministic row split: re-runs see identical sub-epochs
                    sub_df = src.filter(
                        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_subs)) == sub
                    )
                self._run_sub_epoch(
                    sub_df, partition_id, sub, n_subs,
                    is_parsed=parsed is not None,
                )
        finally:
            if parsed is not None:
                parsed.unpersist()

    def _run_sub_epoch(
        self,
        part_df: DataFrame,
        partition_id: int,
        sub_epoch: int,
        n_subs: int,
        is_parsed: bool = False,
    ) -> None:
        t0 = time.time()
        # sink partition value: unique per (partition, sub), stable across
        # resumes; plain partition_id when there is no split
        epoch_part = partition_id + sub_epoch * self.num_partitions
        if self.dict_scope == "epoch":
            lt_existing = var_existing = None
        else:
            lt_existing = self._load_dict("logtype")
            var_existing = self._load_dict("var")

        encoded, lt_dict, var_dict = encode_pipeline.encode(
            part_df,
            key_cols=["conv_id", "turn_idx"],
            existing_logtype_dict=lt_existing,
            existing_var_dict=var_existing,
            var_id_mode=self.var_id_mode,
            pre_parsed=part_df if is_parsed else None,
        )
        enriched = enrich.enrich(
            encoded, transcripts.role_dim(self.spark), transcripts.tool_dim(self.spark)
        )
        enriched = route.with_logtype_class(
            enriched.join(F.broadcast(lt_dict), "logtype_id")
        ).drop("logtype")
        enriched = enriched.withColumn("epoch_part", F.lit(epoch_part)).persist()

        stats = part_df.agg(
            F.count("*").alias("n"), F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ).collect()[0]

        # per-pattern timestamp index (clp_s timestamp dictionary:
        # TimestampEntry.hpp:58-95 keeps min/max PER PATTERN; queries are
        # proven false pattern-by-pattern, EvaluateTimestampIndex.cpp).
        # Inputs without a pattern_id column index as one pattern (-1).
        pat_col = (
            F.col("pattern_id").cast("int")
            if "pattern_id" in part_df.columns
            else F.lit(-1)
        )
        pat_rows = (
            part_df.groupBy(pat_col.alias("pattern_id"))
            .agg(F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"))
            .collect()
        )
        with self._meta_lock:
            self.spark.createDataFrame(
                [
                    (partition_id, sub_epoch, r["pattern_id"], r["min_ts"], r["max_ts"])
                    for r in pat_rows
                ],
                "partition_id int, sub_epoch int, pattern_id int,"
                " min_ts timestamp, max_ts timestamp",
            ).write.mode("append").parquet(self.ts_index_path)

        def _write_sink(kind: str) -> None:
            # distinct pool per sink family: the three writes are
            # independent jobs over the persisted `enriched`, and
            # overlapping their shuffle/encode/commit phases halves the
            # route wall time (measured in operators.route.route)
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"epoch-{partition_id}-sink-{kind}"
            )
            out = enriched.withColumn(
                kind, F.coalesce(F.col(kind), F.lit("__null__"))
            )
            clustered = route.salted(
                out, self.spark.sparkContext.defaultParallelism, kind,
                salt_buckets=self.salt_buckets,
            ).sortWithinPartitions("conv_id", "turn_idx")
            # epoch_part first: overwriting THIS sub-epoch's output is
            # idempotent under retries and never touches other epochs
            # (Iceberg overwritePartitions / parquet dynamic overwrite).
            self.store.overwrite_partitions(
                clustered, f"by_{kind}", ["epoch_part", kind]
            )

        from concurrent.futures import ThreadPoolExecutor

        # materialize the persist ONCE before fanning out the writers so
        # the three jobs read the cache instead of racing to build it
        n_rows = enriched.count()
        with ThreadPoolExecutor(len(route.SINK_KINDS)) as sink_pool:
            list(sink_pool.map(_write_sink, route.SINK_KINDS))
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"epoch-{partition_id}"
        )
        n_routed = n_rows * len(route.SINK_KINDS)

        if self.write_glt:
            # archival copy: logtype-clustered for min/max file skipping
            # + maximal ratio (GLT layout; BENCH/BASELINE.md)
            route.write_glt_layout(
                enriched, f"{self.glt_root}/epoch_part={epoch_part}",
                partitions=max(self.spark.sparkContext.defaultParallelism // 4, 1),
                combine_threshold=0.001,  # GLT's 0.1% combined-table default
            )

        ep = epoch_part if self.dict_scope == "epoch" else None
        self._save_dict("logtype", lt_dict, epoch_part=ep)
        self._save_dict("var", var_dict, epoch_part=ep)
        lt_n = self._load_dict("logtype", epoch_part=ep).count()
        var_n = self._load_dict("var", epoch_part=ep).count()
        enriched.unpersist()

        wall = time.time() - t0
        self._append_ledger(
            {
                "partition_id": partition_id,
                "sub_epoch": sub_epoch,
                "n_subs": n_subs,
                "n_rows": stats["n"],
                "n_routed": n_routed,
                "lt_dict_size": lt_n,
                "var_dict_size": var_n,
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(stats["n"] / wall, 1) if wall > 0 else 0.0,
                "input_min_ts": stats["mn"],
                "input_max_ts": stats["mx"],
                "finished_at": time.time(),
            }
        )

    # -- query-time pruning + search ----------------------------------------

    def ts_index(self) -> DataFrame | None:
        """(partition_id, sub_epoch, pattern_id, min_ts, max_ts) — the
        timestamp dictionary (one span per pattern per epoch), None for
        work dirs written before the index existed."""
        try:
            return self.spark.read.parquet(self.ts_index_path)
        except Exception:  # noqa: BLE001 — legacy work dir / nothing ingested
            return None

    def epochs_for_range(
        self, ts_begin_ms: int | None = None, ts_end_ms: int | None = None
    ) -> list[int]:
        """Sink epoch_part values the query range cannot be proven false
        for. Per-PATTERN spans prove more ranges false than the epoch's
        overall [min, max]: a range falling in the gap between two
        patterns' spans skips the epoch even though it overlaps the union
        span — clp_s EvaluateTimestampIndex over the timestamp dictionary
        (clp_s/TimestampEntry.hpp:58-95). Falls back to the ledger's
        epoch-level span for legacy work dirs; CLP's scheduler analog:
        job_orchestration/.../query_scheduler.py:369-397."""
        out = []
        for ep, mn, mx in self._opened(("epoch_spans",), self._epoch_spans):
            # an epoch survives if ANY of its pattern spans overlaps
            if ts_end_ms is not None and mn is not None and mn > ts_end_ms:
                continue
            if ts_begin_ms is not None and mx is not None and mx < ts_begin_ms:
                continue
            out.append(ep)
        return sorted(set(out))

    def _epoch_spans(self) -> list[tuple[int, int | None, int | None]]:
        """(epoch_part, min ms, max ms) per timestamp pattern of every
        committed epoch — what ``epochs_for_range`` filters."""
        ledger_rows = self.ledger().select(
            "partition_id", "sub_epoch",
            F.unix_millis(F.col("input_min_ts").cast("timestamp")).alias("mn"),
            F.unix_millis(F.col("input_max_ts").cast("timestamp")).alias("mx"),
        ).collect()
        idx = self.ts_index()
        rows = ledger_rows
        if idx is not None:
            # only COMMITTED sub-epochs count: a crash between the index
            # append and the ledger commit leaves orphan index rows whose
            # sink directories don't exist (the re-run rewrites both)
            committed = {(r["partition_id"], r["sub_epoch"]) for r in ledger_rows}
            rows = [
                r
                for r in idx.select(
                    "partition_id", "sub_epoch",
                    F.unix_millis(F.col("min_ts")).alias("mn"),
                    F.unix_millis(F.col("max_ts")).alias("mx"),
                ).collect()
                if (r["partition_id"], r["sub_epoch"]) in committed
            ]
            # committed epochs WITHOUT index rows (work dirs written before
            # the per-pattern index existed, then resumed) must not vanish
            # from search: fall back to their coarse ledger span
            indexed = {(r["partition_id"], r["sub_epoch"]) for r in rows}
            rows.extend(
                r for r in ledger_rows
                if (r["partition_id"], r["sub_epoch"]) not in indexed
            )
        return [
            (r["partition_id"] + r["sub_epoch"] * self.num_partitions, r["mn"], r["mx"])
            for r in rows
        ]

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
        return self._opened(
            ("sink", kind, None if epochs is None else tuple(epochs)),
            lambda: self.store.read(f"by_{kind}", partition_filter=pf),
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
        if self.dict_scope == "epoch":
            # one search task per archive, each against ITS dictionaries
            # (CLP's query scheduler fans a query out per archive); the
            # per-epoch hit sets union — epochs partition the rows, so no
            # dedup is needed. Compilation does per-archive dictionary
            # probes (driver-coordinated jobs); with max_concurrent > 1
            # they run through a thread pool so a 1000-archive search
            # doesn't serialize 1000 probe rounds.
            def _one(e: int) -> DataFrame | None:
                # distinct pool per archive probe thread (FAIR shares
                # between pools, not within one — see _run_partition)
                self.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", f"search-epoch-{e}"
                )
                lt, vd = self._dict("logtype", e), self._dict("var", e)
                if lt is None or vd is None:
                    return None
                return search_op.search_text(
                    self.read_sink(kind, epochs=[e]), lt, vd, query,
                    ["conv_id", "turn_idx"], ignore_case=ignore_case,
                    ts_begin_ms=ts_begin_ms, ts_end_ms=ts_end_ms,
                    var_dict_count=self._var_dict_count(e), **kw,
                )

            if self.max_concurrent > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(self.max_concurrent) as pool:
                    outs = [d for d in pool.map(_one, epochs) if d is not None]
            else:
                outs = [d for d in map(_one, epochs) if d is not None]
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
        return search_op.search_text(
            self.read_sink(kind, epochs=epochs),
            self._dict("logtype"), self._dict("var"), query,
            ["conv_id", "turn_idx"], ignore_case=ignore_case,
            ts_begin_ms=ts_begin_ms, ts_end_ms=ts_end_ms,
            var_dict_count=self._var_dict_count(), **kw,
        )

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
        partitions: int = 32,
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
                    lt, vd, keys, var_dict_count=self._var_dict_count(e),
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
        rows = self.ledger().collect()
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
