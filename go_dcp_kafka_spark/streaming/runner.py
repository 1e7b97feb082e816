"""CdcPipeline — the connector re-imagined (SURVEY §3).

The reference's topology, per event: DCP listener -> normalize -> mapper ->
route -> batch -> Kafka write -> checkpoint commit
(/root/reference/connector.go:70-123, kafka/producer/producer_batch.go:107-144).

Ours, per micro-batch (foreachBatch):

    rollback truncation -> HWM dedup -> mapper (vectorized) -> validation
    -> LWW winners -> route -> salted MERGE into table(s)
    -> checkpoint upsert (dirty-only) -> lineage append

Commit ordering preserves the reference's invariant — durable sink write
STRICTLY BEFORE checkpoint commit (producer_batch.go:115 then :143) — and
upgrades its at-least-once to exactly-once: the table merge is epoch-
idempotent (re-delivered epochs skip), so replay after any crash converges
to the same final state.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import time
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_dcp_kafka_spark.operators.fold import (
    apply_rollbacks,
    extract_rollback_markers,
    hwm_filter,
    lww_winners,
)
from go_dcp_kafka_spark.schema import (
    CORRUPT_COL,
    KEY_COLS,
    OP_MUTATION,
    OP_ROLLBACK,
    PAYLOAD_COLS,
    REJECT_DECODE,
    REJECT_OVERSIZE,
    REJECT_ROUTING,
    REJECT_VALIDATION,
    TRANSCRIPT_SCHEMA,
)
from go_dcp_kafka_spark.sources.changelog import (
    read_change_log,
    read_change_log_json,
    stream_change_log,
    stream_change_log_json,
)
from go_dcp_kafka_spark.streaming.checkpoints import CheckpointStore
from go_dcp_kafka_spark.streaming.lineage import LineageLog
from go_dcp_kafka_spark.table.snapshot import SnapshotTable, _epoch_num, _parquet_footer_rows

DEFAULT_TARGET = "transcripts"

#: Dead-letter row shape (RejectionLog analog,
#: /root/reference/kafka/rejection_log_sink_response_handler.go:82-87)
REJECTION_SCHEMA = T.StructType(
    [
        T.StructField("target", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("error_class", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("commit_epoch_key", T.StringType()),
    ]
)


def _dlq_dir_name(epoch_key: str, stage: str) -> str:
    """Deterministic per-(epoch, stage) dir name; numeric epochs embed the
    zero-padded batch id so retention can prune by age."""
    stream, n = _epoch_num(epoch_key)
    base = f"{stream}-{n:012d}" if stream is not None else str(epoch_key)
    return re.sub(r"[^A-Za-z0-9_.-]", "_", base) + "-" + stage


class CdcPipeline:
    """One pipeline instance == one reference connector instance.

    ``mapper``: optional vectorized transform DataFrame -> DataFrame over the
    deduplicated micro-batch (the Mapper extension point, mapper.go:8). It may
    filter rows (discard), explode (1->N), rewrite payload, or add a
    ``target`` column (topic routing, connector.go:125-140). Envelope columns
    (partition_id, seqno, delivery_seq, op, conv_id, turn_idx) must survive.

    ``validate``: optional Column predicate; failing rows are dead-lettered
    to ``_rejections`` instead of merged (rejection_log_sink_response_handler).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        tables: dict[str, SnapshotTable] | None = None,
        mapper: Callable[[DataFrame], DataFrame] | None = None,
        validate=None,
        num_buckets: int = 16,
        run_id: str = "run",
        strict_routing: bool = False,
        merge_mode: str | None = None,
        compact_every: int | None = None,
        compact_delta_bytes: int | None = None,
        compact_bucket_bytes: int | None = None,
        dlq_retention_epochs: int | None = None,
        max_message_bytes: int | None = None,
        metrics=None,
        source_format: str = "parquet",
        sink_compression: str = "snappy",
        expire_every: int | None = None,
        keep_snapshots: int = 2,
        sort_within_buckets: bool = False,
    ) -> None:
        """``merge_mode``: 'cow' rewrites touched buckets per epoch (read-
        optimized); 'mor' appends versioned deltas per epoch (write-optimized
        — the 100 TB frequent-epoch path) with LWW resolution at read and
        compaction every ``compact_every`` epochs. ``compact_every=None``
        defaults to 64 when the effective merge mode is MOR — an unbounded
        delta list makes every read union one more scan per epoch forever;
        pass 0 to disable (manual ``compact()`` only).
        Default (None) = 'mor' for streaming epochs: per-epoch COW rewrite
        cost does not amortize at streaming's small-epoch cadence (it is the
        one component whose cost is independent of batch size), so MOR is
        the documented streaming default; pass 'cow' explicitly for
        read-optimized tables fed by large, infrequent batches.

        ``expire_every``: run ``expire_snapshots(keep_last=keep_snapshots)``
        on every table each N epochs — without it a long-running stream
        accumulates one snapshot manifest per epoch forever.

        ``compact_delta_bytes``: ALSO compact a table when its outstanding
        delta bytes (manifest metadata, zero IO) reach this threshold —
        the size-based trigger a production table wants: epoch count is a
        proxy, read amplification is actually ∝ delta BYTES, and epoch
        sizes vary. Either trigger firing compacts and resets both.

        ``compact_bucket_bytes``: per-BUCKET floor for SIZE-triggered
        compactions — rewrite only buckets whose outstanding delta bytes
        reach it (SnapshotTable.compact(min_bucket_bytes=...)). On a table
        where deltas concentrate in a few hot buckets, the rewrite covers
        the hot slice; cold buckets' deltas survive until they accumulate.
        The COUNT trigger (``compact_every``) always compacts fully — it is
        the bound on the read-side delta-list length — and a size trigger
        whose per-bucket floor folds nothing falls back to a full compact.

        ``dlq_retention_epochs``: prune ``_rejections`` epoch dirs more than
        N epochs behind the newest rejection epoch (checked on the
        ``expire_every`` cadence). None keeps all rejection rows — dirs
        exist only for epochs that actually rejected something, so growth is
        bounded by rejection frequency, not stream length; set a value when
        rejections are routine and downstream consumers drain them."""
        self.spark = spark
        self.base_dir = base_dir
        self.tables = tables or {
            DEFAULT_TARGET: SnapshotTable(
                spark, f"{base_dir}/{DEFAULT_TARGET}", KEY_COLS, num_buckets,
                schema=TRANSCRIPT_SCHEMA, compression=sink_compression,
                sort_within_buckets=sort_within_buckets,
            )
        }
        self.checkpoints = CheckpointStore(f"{base_dir}/_checkpoints")
        self.lineage = LineageLog(f"{base_dir}/_lineage")
        self.rejections_dir = f"{base_dir}/_rejections"
        self.mapper = mapper
        self.validate = validate
        self.run_id = run_id
        self.strict_routing = strict_routing
        if merge_mode not in ("cow", "mor", None):
            raise ValueError(f"merge_mode must be 'cow', 'mor', or None (auto), got {merge_mode!r}")
        self.merge_mode = merge_mode
        if compact_every is None and (merge_mode or "mor") == "mor":
            compact_every = 64  # bound the read-side delta list by default
        self.compact_every = compact_every or None
        self.compact_delta_bytes = compact_delta_bytes
        self.compact_bucket_bytes = compact_bucket_bytes
        self.dlq_retention_epochs = dlq_retention_epochs
        self.expire_every = expire_every
        self.keep_snapshots = keep_snapshots
        self._epochs_since_expire = 0
        #: cache the micro-batch across the epoch's passes (stats + merge).
        #: Default: JSON wire ONLY — every pass over the raw wire re-pays
        #: row-by-row parsing, so caching wins there. On the columnar
        #: (parquet) wire the vectorized re-scan is cheaper than the persist:
        #: an r4 A/B at local[32] measured COW-with-persist at 15.0-29.8 s
        #: vs 12.8-14.5 s without (the r3 default `merge_mode=='cow' =>
        #: cache` was the measured -45% streaming-COW regression in
        #: BENCH_r03 — the materialization pass plus first-use
        #: InMemoryRelation codegen cost more than the two extra scans it
        #: saved; see BENCH/BASELINE.md "r3 COW regression root-cause").
        self.cache_batch = source_format == "json"
        #: MessageTooLargeError analog (producer_batch.go:146-185): rows whose
        #: text exceeds this byte size dead-letter with error_class='oversize'
        #: instead of poisoning the merge.
        self.max_message_bytes = max_message_bytes
        #: optional MetricsRegistry (streaming.metrics) for live gauges
        self.metrics = metrics
        if source_format not in ("parquet", "json"):
            raise ValueError(f"source_format must be 'parquet' or 'json', got {source_format!r}")
        #: wire format of the change log ('json' = Kafka/Debezium-style lines)
        self.source_format = source_format
        #: PER-TABLE compaction cadence (ADVICE r3): a shared counter would
        #: compact N× too often with N routed tables — and always the same
        #: one, leaving the others' delta lists unbounded
        self._epochs_since_compact: dict[str, int] = {}
        #: per-epoch rejection counts by stage (reset at each epoch start;
        #: populated from written DLQ parquet footers — zero extra jobs)
        self._epoch_rejects: dict[str, int] = {}
        self.last_stats: dict = {}
        #: completionHandler analog (connector.go:309-312): called with the
        #: epoch stats dict after every durable commit
        self.on_epoch_complete = None

    # ------------------------------------------------------------------ batch
    def apply_batch(self, batch_df: DataFrame, epoch_id: int | str) -> None:
        """The foreachBatch body — one reference flush+commit cycle."""
        t0 = time.time()
        spark = batch_df.sparkSession
        epoch_key = f"{self.run_id}:{epoch_id}"
        self._epoch_rejects = {}
        if self.cache_batch:
            batch_df = batch_df.persist()
        try:
            # ---- decode dead-lettering (JSON wire): malformed lines carry
            # the raw text in CORRUPT_COL; they go to _rejections with
            # error_class='decode' and the epoch still commits -------------
            if CORRUPT_COL in batch_df.columns:
                # no isEmpty() pre-probe (r4 verdict item 4): the probe was a
                # full pass over the batch whenever no line was corrupt — the
                # common case. One unconditional write costs the same single
                # pass; _dlq_write removes the dir driver-side when the
                # footers say zero rows, so empty epochs leave no DLQ dirs
                self._dlq_write(
                    self._rejection_rows(
                        batch_df.filter(F.col(CORRUPT_COL).isNotNull()),
                        F.lit("malformed change event"),
                        F.lit(REJECT_DECODE),
                        F.col(CORRUPT_COL),  # the raw wire line
                        epoch_key,
                    ),
                    epoch_key,
                    "decode",
                )
                batch_df = batch_df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
            # ---- committed HWM state (driver-side map, <=1024 partitions) -
            hwm0 = self.checkpoints.hwm_map()

            def _hwm_df(mapping: dict[int, int]):
                return spark.createDataFrame(
                    [(int(p), int(v)) for p, v in mapping.items()] or [(-(2**31), -1)],
                    T.StructType(
                        [
                            T.StructField("partition_id", T.IntegerType()),
                            T.StructField("hwm_seqno", T.LongType()),
                        ]
                    ),
                )

            # ---- ONE pass over the batch: rollback-marker detection fused
            # with lineage stats (duplicates counted vs committed HWM) ------
            is_rb = F.col("op") == OP_ROLLBACK
            is_fresh = (~is_rb) & (F.col("seqno") > F.coalesce(F.col("hwm_seqno"), F.lit(-1)))
            annotated = batch_df.join(F.broadcast(_hwm_df(hwm0)), "partition_id", "left")
            stats_pd = (
                annotated.groupBy("partition_id")
                .agg(
                    F.sum(F.when(is_rb, 1).otherwise(0)).alias("n_rollbacks"),
                    F.min(F.when(is_rb, F.col("rollback_point"))).alias("rb_point"),
                    # full marker rows ride along in the SAME job (tiny —
                    # a handful per partition): the rollback path below
                    # never re-scans the batch to find them
                    F.collect_list(
                        F.when(
                            is_rb,
                            F.struct(
                                F.col("rollback_point").alias("rb_point"),
                                F.col("delivery_seq").alias("rb_delivery"),
                            ),
                        )
                    ).alias("rb_markers"),
                    F.sum(F.when(~is_rb & ~is_fresh, 1).otherwise(0)).alias("n_duplicates_dropped"),
                    F.min(F.when(is_fresh, F.col("seqno"))).alias("first_seqno"),
                    F.max(F.when(is_fresh, F.col("seqno"))).alias("last_seqno"),
                    F.sum(F.when(is_fresh & (F.col("op") == "mutation"), 1).otherwise(0)).alias("n_mutations"),
                    F.sum(F.when(is_fresh & (F.col("op") == "deletion"), 1).otherwise(0)).alias("n_deletions"),
                    F.sum(F.when(is_fresh & (F.col("op") == "expiration"), 1).otherwise(0)).alias("n_expirations"),
                )
                .toPandas()
            )

            t_stats_done = time.time()
            eff = dict(hwm0)
            marker_rows: list[tuple[int, int]] = []
            if int(stats_pd["n_rollbacks"].sum()) > 0:
                # ---- rollback truncation (T5): the rare, precise path -----
                # marker rows came back WITH the stats job (rb_markers) —
                # no second scan of the batch to extract them
                full_markers: list[tuple[int, int, int]] = []
                for _, srow in stats_pd.iterrows():
                    rb_ms = srow["rb_markers"]
                    for m in (rb_ms if rb_ms is not None else []):
                        full_markers.append(
                            (int(srow["partition_id"]), int(m["rb_point"]), int(m["rb_delivery"]))
                        )
                marker_rows = [(p, rbp) for p, rbp, _ in full_markers]
                for p, rbp in marker_rows:
                    eff[p] = min(eff.get(p, -1), rbp)
                markers = spark.createDataFrame(
                    full_markers,
                    T.StructType(
                        [
                            T.StructField("rb_partition_id", T.IntegerType()),
                            T.StructField("rb_point", T.LongType()),
                            T.StructField("rb_delivery", T.LongType()),
                        ]
                    ),
                )
                live = apply_rollbacks(batch_df, markers)
                # recompute stats for the affected partitions only
                mparts = sorted({p for p, _ in marker_rows})
                is_fresh2 = F.col("seqno") > F.coalesce(F.col("hwm_seqno"), F.lit(-1))
                redo = (
                    live.filter(F.col("partition_id").isin(mparts))
                    .join(F.broadcast(_hwm_df(eff)), "partition_id", "left")
                    .groupBy("partition_id")
                    .agg(
                        F.sum(F.when(~is_fresh2, 1).otherwise(0)).alias("n_duplicates_dropped"),
                        F.min(F.when(is_fresh2, F.col("seqno"))).alias("first_seqno"),
                        F.max(F.when(is_fresh2, F.col("seqno"))).alias("last_seqno"),
                        F.sum(F.when(is_fresh2 & (F.col("op") == "mutation"), 1).otherwise(0)).alias("n_mutations"),
                        F.sum(F.when(is_fresh2 & (F.col("op") == "deletion"), 1).otherwise(0)).alias("n_deletions"),
                        F.sum(F.when(is_fresh2 & (F.col("op") == "expiration"), 1).otherwise(0)).alias("n_expirations"),
                    )
                    .toPandas()
                )
                keep = stats_pd[~stats_pd["partition_id"].isin(mparts)]
                redo["n_rollbacks"] = 1
                rb_min: dict[int, int] = {}
                for p, rbp in marker_rows:
                    rb_min[p] = min(rb_min.get(p, rbp), rbp)
                redo["rb_point"] = redo["partition_id"].map(rb_min)
                stats_pd = pd.concat([keep, redo], ignore_index=True)
            else:
                live = batch_df.filter(F.col("op") != OP_ROLLBACK)

            stats_pd = stats_pd.drop(columns=["n_rollbacks", "rb_point", "rb_markers"], errors="ignore")
            hwm_df = _hwm_df(eff)
            fresh = hwm_filter(live, hwm_df)

            # ---- mapper surface (P1) + validation/dead-letter (S7) --------
            # one tagged pass for every per-row guard (validation precedence
            # over oversize), then ONE split — at most 2 extra jobs per epoch
            # however many guards are configured, not 2 per guard
            mapped = self.mapper(fresh) if self.mapper is not None else fresh
            guard = F.lit(None).cast("string")
            if self.max_message_bytes is not None:
                # whole-message size, like the reference (producer_batch.go:
                # 196-207 sizes the full Kafka message, not one field): the
                # serialized key+payload struct a sink would actually send
                msg_bytes = F.octet_length(
                    F.to_json(F.struct(*[F.col(c) for c in (*KEY_COLS, *PAYLOAD_COLS)]))
                )
                guard = F.when(msg_bytes > self.max_message_bytes, F.lit(REJECT_OVERSIZE)).otherwise(guard)
            if self.validate is not None:
                guard = F.when(
                    ~F.coalesce(self.validate, F.lit(False)), F.lit(REJECT_VALIDATION)
                ).otherwise(guard)
            if self.validate is not None or self.max_message_bytes is not None:
                tagged = mapped.withColumn("_err_class", guard)
                # unconditional write (no isEmpty probe — r4 verdict item 4):
                # a guarded epoch with zero rejections pays ONE pass (the
                # write, whose empty dir _dlq_write removes), not probe+write
                err_msg = F.when(
                    F.col("_err_class") == REJECT_OVERSIZE,
                    F.lit(f"message too large (> {self.max_message_bytes} bytes)"),
                ).otherwise(F.lit("validation failed"))
                self._dlq_write(
                    self._rejection_rows(
                        tagged.filter(F.col("_err_class").isNotNull()),
                        err_msg,
                        F.col("_err_class"),
                        F.to_json(F.struct(*[F.col(c) for c in PAYLOAD_COLS])),
                        epoch_key,
                    ),
                    epoch_key,
                    "guard",
                )
                mapped = tagged.filter(F.col("_err_class").isNull()).drop("_err_class")

            # ---- route (P4) + LWW + MERGE (S3) ----------------------------
            # upper bound on update keys (pre-LWW fresh count) — drives the
            # merge's broadcast decision without an extra counting job
            n_upper = int(
                stats_pd[["n_mutations", "n_deletions", "n_expirations"]].sum().sum()
            )
            t_merge = time.time()
            n_merged = self._merge_routed(mapped, epoch_key, n_upper)
            t_merge_done = time.time()
            if self.metrics is not None:
                from go_dcp_kafka_spark.streaming.metrics import BATCH_PRODUCE_LATENCY_MS

                self.metrics.set(BATCH_PRODUCE_LATENCY_MS, (time.time() - t_merge) * 1000.0)

            # ---- checkpoint commit, strictly after the durable merge ------
            if not self.checkpoints.is_committed(epoch_key):
                dirty = {
                    int(r.partition_id): int(r.last_seqno)
                    for r in stats_pd.itertuples()
                    if pd.notna(r.last_seqno)
                }
                for p, _ in marker_rows:
                    dirty.setdefault(int(p), eff[int(p)])
                if dirty:
                    dirty_pd = pd.DataFrame(
                        {"partition_id": list(dirty), "hwm_seqno": list(dirty.values())}
                    )
                    self.checkpoints.commit(dirty_pd, epoch_key)
                # ---- lineage (committed together with the checkpoint) -----
                lin = stats_pd.copy()
                lin["commit_epoch"] = int(epoch_id) if str(epoch_id).lstrip("-").isdigit() else -1
                lin["n_merged"] = n_merged
                lin["batch_latency_ms"] = int((time.time() - t0) * 1000)
                for c in ("n_mutations", "n_deletions", "n_expirations", "n_duplicates_dropped"):
                    lin[c] = lin[c].fillna(0).astype("int64")
                self.lineage.append(lin, epoch_key)
            # ---- snapshot retention (ADVICE r2): a per-epoch snapshot log
            # with no retention grows forever on a long-running stream ------
            if self.expire_every:
                self._epochs_since_expire += 1
                if self._epochs_since_expire >= self.expire_every:
                    for table in self.tables.values():
                        table.expire_snapshots(keep_last=self.keep_snapshots)
                    self._expire_rejections()
                    self._epochs_since_expire = 0
            if self.metrics is not None:
                # rejection pressure on the live dashboard (r5 verdict
                # item 7), not only in last_stats dicts
                from go_dcp_kafka_spark.streaming.metrics import (
                    REJECTED_ROWS,
                    REJECTED_ROWS_TOTAL,
                )

                n_rej = float(sum(self._epoch_rejects.values()))
                self.metrics.set(REJECTED_ROWS, n_rej)
                if n_rej:
                    self.metrics.inc(REJECTED_ROWS_TOTAL, n_rej)
            # per-phase latency breakdown (the reference's latency gauges,
            # collector.go:38-56, at phase granularity) — observability for
            # tuning per-epoch fixed cost
            now = time.time()
            self.last_stats = {
                "epoch": epoch_key,
                "n_merged": n_merged,
                "n_rejected": dict(self._epoch_rejects),
                "phase_ms": {
                    "stats": int((t_stats_done - t0) * 1000),
                    "mapper_guards": int((t_merge - t_stats_done) * 1000),
                    "merge": int((t_merge_done - t_merge) * 1000),
                    "checkpoint_lineage": int((now - t_merge_done) * 1000),
                    "total": int((now - t0) * 1000),
                },
            }
            if self.on_epoch_complete is not None:
                self.on_epoch_complete(self.last_stats)
        finally:
            if self.cache_batch:
                batch_df.unpersist()

    def _merge_routed(self, mapped: DataFrame, epoch_key: str, n_upper: int | None = None) -> int:
        """Split by routing target and MERGE each. Missing mapping: the
        reference panics (connector.go:132-138); we dead-letter (or raise
        with strict_routing=True)."""
        has_target = "target" in mapped.columns
        total = 0
        if has_target:
            mapped = mapped.withColumn("target", F.coalesce(F.col("target"), F.lit(DEFAULT_TARGET)))
            unknown = mapped.filter(~F.col("target").isin(list(self.tables)))
            if self.strict_routing and not unknown.isEmpty():
                raise ValueError("routing target with no configured table (reference panics here)")
            self._reject(unknown, "unknown routing target", epoch_key, REJECT_ROUTING)
        for name, table in self.tables.items():
            part = mapped.filter(F.col("target") == name).drop("target") if has_target else mapped
            # streaming default is MOR (see __init__ docstring): merge cost ∝
            # batch size, per-epoch COW rewrite amortizes only in batch mode
            mode = self.merge_mode or "mor"
            # COW consumes the winners TWICE (touched-bucket keys job + the
            # rewrite job) -> persist pays for itself; MOR consumes them in
            # exactly ONE job (union + delta write) -> caching would only add
            # a materialization pass
            winners = lww_winners(part)
            if mode != "mor":
                winners = winners.persist()
            try:
                upserts = winners.filter(F.col("op") == OP_MUTATION).select(*KEY_COLS, *PAYLOAD_COLS)
                deletes = winners.filter(F.col("op") != OP_MUTATION).select(*KEY_COLS)
                ek = epoch_key if len(self.tables) == 1 else f"{epoch_key}@{name}"
                merge_fn = table.merge_mor if mode == "mor" else table.merge
                res = merge_fn(upserts, deletes, epoch_id=ek, n_updates=n_upper)
                if not res.get("skipped"):
                    # merged-key count comes back from the merge itself (COW:
                    # fused into the touched-bucket job; MOR: parquet footer
                    # metadata) — no extra count job per epoch
                    n = res.get("n_upserts")
                    total += int(n) if n is not None else winners.count()
                if mode == "mor" and (self.compact_every or self.compact_delta_bytes):
                    n_since = self._epochs_since_compact.get(name, 0) + 1
                    due_count = bool(self.compact_every) and n_since >= self.compact_every
                    due_size = False
                    if not due_count and self.compact_delta_bytes:
                        # size-based trigger: manifest metadata only, no IO
                        due_size = table.delta_stats()["bytes"] >= self.compact_delta_bytes
                    if due_count:
                        # the COUNT trigger always compacts fully: it is the
                        # documented bound on the read-side delta-list length,
                        # which a per-bucket floor must not defeat
                        table.compact()
                        n_since = 0
                    elif due_size:
                        r = table.compact(min_bucket_bytes=self.compact_bucket_bytes)
                        if self.compact_bucket_bytes and not r.get("compacted"):
                            # total bytes crossed the threshold but no single
                            # bucket reached the floor (deltas spread thin):
                            # fall back to a full compact — otherwise the
                            # size trigger re-fires every epoch forever while
                            # the delta list grows unbounded (r5 review)
                            table.compact()
                            n_since = 0
                        elif not self.compact_bucket_bytes:
                            # no per-bucket floor: the size trigger compacted
                            # everything — same delta-list bound as the count
                            # trigger, so the counter restarts
                            n_since = 0
                        # else: PARTIAL (per-bucket) compact — the counter
                        # keeps running so the count trigger's FULL compact
                        # still bounds cold-bucket delta-list length even
                        # when the size trigger fires every epoch (r5 ADVICE)
                    self._epochs_since_compact[name] = n_since
            finally:
                if mode != "mor":
                    winners.unpersist()
        return total

    def _rejection_rows(self, df: DataFrame, error, error_class, value, epoch_key: str) -> DataFrame:
        """Project rows into the REJECTION_SCHEMA shape (shared by the
        decode / guard / routing dead-letter paths)."""
        return df.select(
            F.lit(DEFAULT_TARGET).alias("target"),
            F.col("conv_id"),
            F.col("turn_idx"),
            error.alias("error"),
            error_class.alias("error_class"),
            value.alias("value"),
            F.lit(str(epoch_key)).alias("commit_epoch_key"),
        )

    def _dlq_write(self, rows: DataFrame, epoch_key: str, stage: str) -> None:
        """EXACTLY-ONCE dead-lettering (r3 verdict item 2): each (epoch,
        stage) writes its own keyed dir with overwrite semantics. A crash
        after the DLQ write but before the checkpoint commit re-delivers the
        epoch, which REWRITES the same dir instead of appending duplicate
        rejection rows. (The reference's Kafka DLQ is at-least-once —
        rejection_log_sink_response_handler.go:36-76 — this engine's pitch
        is exactly-once state, DLQ included.)"""
        out = os.path.join(self.rejections_dir, _dlq_dir_name(epoch_key, stage))
        rows.write.mode("overwrite").parquet(out)
        # rejection-count gauge (the reference counts rejections per class,
        # metric/collector.go) from the written files' FOOTERS — driver-side
        # metadata, zero extra Spark jobs. Zero rows => remove the dir: the
        # callers write UNCONDITIONALLY (no isEmpty probe job), and this
        # keeps the invariant that DLQ dirs exist only for epochs that
        # actually rejected something (retention + read_rejections unchanged)
        n = _parquet_footer_rows(out)
        if n == 0:
            shutil.rmtree(out, ignore_errors=True)
            return
        self._epoch_rejects[stage] = self._epoch_rejects.get(stage, 0) + n

    def read_rejections(self) -> DataFrame:
        """The dead-letter table across all epochs and stages."""
        import os

        root = self.rejections_dir
        # recursive probe: finds rows at ANY depth, including flat files an
        # older append-mode DLQ wrote directly at the root (r4 review)
        if not os.path.isdir(root) or not glob.glob(
            os.path.join(root, "**", "*.parquet"), recursive=True
        ):
            return self.spark.createDataFrame([], REJECTION_SCHEMA)
        return self.spark.read.option("recursiveFileLookup", "true").parquet(root)

    def _expire_rejections(self) -> None:
        """Retention for the DLQ (runs on the ``expire_every`` cadence):
        drop per-epoch dirs more than ``dlq_retention_epochs`` behind the
        newest rejection epoch — the same unbounded-small-files disease
        ``expire_every`` cures for snapshot manifests."""
        if not self.dlq_retention_epochs or not os.path.isdir(self.rejections_dir):
            return
        # group by STREAM prefix before comparing: epoch numbering restarts
        # per run_id, so a restarted pipeline's fresh epoch-0 dirs must not
        # be pruned by a previous run's higher numbers (r4 review)
        by_stream: dict[str, list[tuple[int, str]]] = {}
        for d in os.listdir(self.rejections_dir):
            mm = re.match(r"(.+)-(\d{12})-[a-z]+$", d)
            if mm:
                by_stream.setdefault(mm.group(1), []).append((int(mm.group(2)), d))
        for entries in by_stream.values():
            newest = max(n for n, _ in entries)
            for n, d in entries:
                if n < newest - self.dlq_retention_epochs:
                    shutil.rmtree(os.path.join(self.rejections_dir, d), ignore_errors=True)

    def _reject(self, rows: DataFrame, error: str, epoch_key, error_class: str = REJECT_VALIDATION, stage: str = "route") -> None:
        # unconditional: _dlq_write prunes the dir if nothing was rejected
        self._dlq_write(
            self._rejection_rows(
                rows,
                F.lit(error),
                F.lit(error_class),
                F.to_json(F.struct(*[F.col(c) for c in PAYLOAD_COLS])),
                epoch_key,
            ),
            str(epoch_key),
            stage,
        )

    # --------------------------------------------------------------- running
    def run_stream(
        self,
        source_dir: str,
        checkpoint_location: str,
        max_files_per_trigger: int | None = 2,
        available_now: bool = True,
        max_bytes_per_trigger: int | None = None,
    ):
        """Tail the log until drained (availableNow), resumable from the
        Spark checkpoint — the reference's Start()/graceful-Close lifecycle
        (connector.go:50-64). Micro-batch admission: count knob
        (``max_files_per_trigger``) or size knob (``max_bytes_per_trigger``),
        the reference's double batch threshold (producer_batch.go:54-61)."""
        stream_fn = stream_change_log_json if self.source_format == "json" else stream_change_log
        stream = stream_fn(self.spark, source_dir, max_files_per_trigger, max_bytes_per_trigger)
        writer = (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_location)
            .queryName(f"cdc-{self.run_id}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        if available_now:
            q.awaitTermination()
        return q

    def run_batch_replay(self, source_dir: str, epoch_id: str = "batch-0") -> None:
        """Finite/backfill mode (dcp_event_handler.go:29-34): fold the whole
        log in one shot and overwrite the table — fastest cold-start path
        (one shuffle, no per-epoch overhead). Commits the checkpoint and
        the replay epoch's lineage rows, like ``apply_batch``."""
        t0 = time.time()
        read_fn = read_change_log_json if self.source_format == "json" else read_change_log
        events = read_fn(self.spark, source_dir)
        if CORRUPT_COL in events.columns:
            corrupt = events.filter(F.col(CORRUPT_COL).isNotNull())
            # decode dead-lettering, batch path (same keyed-overwrite DLQ
            # as apply_batch: a re-run replay rewrites, never duplicates).
            # No isEmpty() pre-probe: on the raw JSON wire a corrupt-
            # column-only query is disallowed (and the probe would be an
            # extra scan); _dlq_write removes the dir when nothing was
            # rejected.
            self._dlq_write(
                self._rejection_rows(
                    corrupt,
                    F.lit("malformed change event"),
                    F.lit(REJECT_DECODE),
                    F.col(CORRUPT_COL),
                    str(epoch_id),
                ),
                str(epoch_id),
                "decode",
            )
            events = events.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
        markers = extract_rollback_markers(events)
        live = apply_rollbacks(events, markers)
        winners = lww_winners(live)
        final = winners.filter(F.col("op") == OP_MUTATION).select(*KEY_COLS, *PAYLOAD_COLS)
        table = self.tables[DEFAULT_TARGET]
        # the fold output is hash-partitioned by key: bucket-aligned write
        res = table.overwrite(final, epoch_id=epoch_id, aligned=True)
        # checkpoint = max seqno per partition over ROLLBACK-SURVIVING events
        # only (truncate-then-advance, matching the sequential oracle). Using
        # the raw max would exceed the replayed branch's re-sequenced max and
        # make a resuming stream silently drop legitimate post-rollback
        # events with seqno in (new_branch_max, old_branch_max] as dupes.
        # The epoch's lineage stats ride the same aggregate: a replay has no
        # committed HWM to drop duplicates against, so every surviving event
        # counts under its op.
        op = F.col("op")
        stats_pd = (
            live.groupBy("partition_id")
            .agg(
                F.min("seqno").alias("first_seqno"),
                F.max("seqno").alias("last_seqno"),
                F.sum(F.when(op == "mutation", 1).otherwise(0)).alias("n_mutations"),
                F.sum(F.when(op == "deletion", 1).otherwise(0)).alias("n_deletions"),
                F.sum(F.when(op == "expiration", 1).otherwise(0)).alias("n_expirations"),
            )
            .toPandas()
        )
        epoch_key = f"{self.run_id}:{epoch_id}"
        hwm = stats_pd[["partition_id", "last_seqno"]].rename(columns={"last_seqno": "hwm_seqno"})
        self.checkpoints.commit(hwm, epoch_key)
        lin = stats_pd.copy()
        lin["n_duplicates_dropped"] = 0
        lin["commit_epoch"] = int(epoch_id) if str(epoch_id).lstrip("-").isdigit() else -1
        lin["n_merged"] = res["rows"]
        lin["batch_latency_ms"] = int((time.time() - t0) * 1000)
        for c in ("n_mutations", "n_deletions", "n_expirations"):
            lin[c] = lin[c].astype("int64")
        self.lineage.append(lin, epoch_key)

    def read_table(self, name: str = DEFAULT_TARGET) -> DataFrame:
        return self.tables[name].read()
