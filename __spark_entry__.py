"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (the
reference's dataflow operators re-expressed over the driver's testdata
tables) or a training-data-pipeline operator (dedup / similarity / text
analysis). Each has an exact DuckDB twin in ``oracle_sql()`` unless marked
rows-only (the full CDC fold, whose input is the engine's own synthetic
change log — not SQL-reachable).

Numeric parity rules used throughout (engine <-> oracle):
- money sums as integer cents (bit-exact, no float-sum order sensitivity)
- float similarity rounded to 6 dp, computed double-precision both sides
- hashes via md5-derived int64 (see go_dcp_kafka_spark/functions/hashing.py)
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_dcp_kafka_spark.functions.hashing import MINHASH_PRIME, perm_params  # noqa: E402

# ----------------------------------------------------------------- helpers
P = MINHASH_PRIME
PERMS = perm_params(16)  # deterministic (a, b) pairs shared with oracle SQL
NEAR_DUP_HASHES, NEAR_DUP_BANDS, NEAR_DUP_CAP = 16, 4, 64

_WS = r"[^\s]+"
_BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_PUNCT = r"[^\w\s]"
_STOP = ("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, rows_per_task: int = 64) -> DataFrame:
    """Fan a SMALL-bytes/heavy-CPU input (per-row md5/regex work) across
    cores. The testdata corpus is one small parquet file, so the scan
    otherwise packs into one task and the expensive projection runs on one
    core; the shuffle moved is a few MB of text. At real scale the input has
    thousands of splits and this is a no-op cost-wise (same knob as
    files.maxPartitionBytes tuning).

    Parallelism derives from the ACTUAL input row count (parquet footer
    metadata, driver-side — no Spark job), capped at defaultParallelism:
    r3 showed that unconditionally fanning a few-hundred-row input to 32
    partitions spawns 32 Python workers whose startup dominates the
    mapInPandas stage (media_features 0.93 s -> 2.52 s). Pass a larger
    ``rows_per_task`` for cheap-per-row Python kernels, smaller for heavy
    JVM projections."""
    sc = df.sparkSession.sparkContext
    n_rows = 0
    try:
        import pyarrow.parquet as pq

        for f in df.inputFiles():
            n_rows += pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
    except Exception:
        n_rows = 0
    if n_rows <= 0:
        return df.repartition(sc.defaultParallelism)
    return df.repartition(max(1, min(sc.defaultParallelism, n_rows // rows_per_task)))


def _cents(col):
    return F.round(col * 100).cast("long")


# r7: the r6 scenario result-cache (`_cached_result`/`_CACHED_SCENARIOS`)
# is REMOVED. It persisted maintained-scenario outputs across runs keyed on
# (sf_dir, hand-bumped version), so repeated bench/correctness invocations
# verified and timed a pre-built parquet instead of the maintenance path —
# result caching, not optimization. Every scenario query now replays its
# full build + CDC epoch + incremental maintenance on every invocation;
# the round-7 work makes THAT path fast instead.


# ============================================================ CDC operators
def q_cdc_lww_fold(spark, sf_dir):
    """A6: last-write-wins fold — latest state per key (checkpoint LWW load,
    kafka_metadata.go:48-129). r7: one ``max_by`` hash aggregate (map-side
    partial combine — the same shape as the flagship fold) instead of a
    row_number window, which materialized every event per key after the
    shuffle; max over struct(ts, event_id) is exactly the window's
    ORDER BY ts DESC, event_id DESC winner."""
    ev = _read(spark, sf_dir, "events")
    w = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                _cents(F.col("value")).alias("cents"),
            ),
            F.struct(F.col("ts"), F.col("event_id")),
        ).alias("w")
    )
    return w.select(
        "user_id",
        F.col("w.event_id").alias("last_event_id"),
        F.col("w.event_type").alias("last_type"),
        F.col("w.cents").alias("last_cents"),
    )


def q_cdc_hwm_dedup(spark, sf_dir):
    """T6: HWM anti-join dedup — drop events at-or-below the committed
    high-watermark (checkpoint = max event_id < 500 per user)."""
    ev = _read(spark, sf_dir, "events")
    hwm = (
        ev.filter(F.col("event_id") < 500)
        .groupBy("user_id")
        .agg(F.max("event_id").alias("hwm"))
    )
    return (
        ev.join(F.broadcast(hwm), "user_id", "left")
        .filter(F.col("event_id") > F.coalesce(F.col("hwm"), F.lit(-1)))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_fresh"), F.min("event_id").alias("first_fresh"))
    )


def q_cdc_count_by_op(spark, sf_dir):
    """S2: event-kind dispatch counts (the three-way type switch,
    connector.go:75-93) + metrics totals."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_cents(F.col("value"))).alias("total_cents"),
    )


def q_cdc_offsets(spark, sf_dir):
    """S5: per-partition offset discovery (GetEndOffsets, kafka/client.go:106-126)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("partition_id", (F.col("user_id") % 8).cast("long"))
        .groupBy("partition_id")
        .agg(
            F.min("event_id").alias("first_offset"),
            F.max("event_id").alias("last_offset"),
            F.count("*").alias("n_events"),
        )
    )


def q_cdc_route(spark, sf_dir):
    """P4: topic routing (getTopicName, connector.go:125-140) — computed
    target per event, counts per target."""
    ev = _read(spark, sf_dir, "events")
    route = (
        F.when(F.col("event_type").isin("login", "signup"), F.lit("auth_topic"))
        .when(F.col("event_type") == "purchase", F.lit("orders_topic"))
        .otherwise(F.lit("misc_topic"))
    )
    return ev.withColumn("target", route).groupBy("target").agg(F.count("*").alias("n"))


def q_cdc_explode(spark, sf_dir):
    """P1: 1->N mapper (Mapper returning multiple messages, mapper.go:8) —
    each event fans out to 2 routed copies."""
    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("copy_idx"),
        (_cents(F.col("value")) * F.col("copy_idx")).alias("scaled_cents"),
    )


def q_cdc_merge_upsert(spark, sf_dir):
    """S3/A3: MERGE upsert — target state at T merged with updates after T;
    final = LWW per key (the foreachBatch merge, SnapshotTable.merge)."""
    ev = _read(spark, sf_dir, "events")
    # split point as a broadcast scalar subquery — no driver round-trip
    split = ev.agg((F.max("event_id") / 2).cast("long").alias("t_split"))
    ev = ev.join(F.broadcast(split))
    target = (
        ev.filter(F.col("event_id") <= F.col("t_split"))
        .groupBy("user_id")
        .agg(F.max_by(_cents(F.col("value")), F.col("event_id")).alias("cents"),
             F.max("event_id").alias("version"))
    )
    updates = (
        ev.filter(F.col("event_id") > F.col("t_split"))
        .groupBy("user_id")
        .agg(F.max_by(_cents(F.col("value")), F.col("event_id")).alias("cents"),
             F.max("event_id").alias("version"))
    )
    kept = target.join(updates.select("user_id"), "user_id", "left_anti")
    return kept.unionByName(updates).select("user_id", "version", "cents")


def q_cdc_lineage(spark, sf_dir):
    """M5 lineage/metrics table: per partition — first/last seqno + event
    counts by kind (metric/collector.go:38-56 analog)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("partition_id", (F.col("user_id") % 8).cast("long"))
        .groupBy("partition_id")
        .agg(
            F.min("event_id").alias("first_seqno"),
            F.max("event_id").alias("last_seqno"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
            F.sum(F.when(~F.col("event_type").isin("purchase", "error"), 1).otherwise(0)).alias("n_other"),
        )
    )


def q_cdc_full_fold(spark, sf_dir):
    """The flagship — full CDC fold of the engine's own synthetic change log
    (duplicates + rollback + hot keys) into final transcript state. The log
    is materialized once as a deterministic parquet fixture, so the DuckDB
    twin folds the identical input (rollback anti-join + LWW window);
    tests/test_fold.py additionally pins it to the sequential oracle."""
    from go_dcp_kafka_spark.gen import materialize_flagship_log
    from go_dcp_kafka_spark.operators.fold import fold_change_events
    from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA

    path = materialize_flagship_log()
    events = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(path)
    return fold_change_events(events).orderBy("conv_id", "turn_idx")


def q_cdc_to_profile(spark, sf_dir):
    """END-TO-END integration: CDC fold -> training-data pipeline. The
    flagship change log is folded into final transcript state, each kept
    turn becomes a document (doc_id = md5-derived int64 of conv_id#turn),
    and the full text-analysis profile runs over the result — the 'LLM data
    pipeline over CDC-ingested transcripts' composition the engine exists
    for. One fold shuffle + one projection; no extra exchange."""
    from go_dcp_kafka_spark.functions.hashing import md5_hash60
    from go_dcp_kafka_spark.functions.textstats import text_profile
    from go_dcp_kafka_spark.gen import materialize_flagship_log
    from go_dcp_kafka_spark.operators.fold import fold_change_events
    from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA

    path = materialize_flagship_log()
    events = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(path)
    folded = fold_change_events(events)
    docs = folded.select(
        md5_hash60(F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))).alias("doc_id"),
        "text",
    )
    return text_profile(docs)


def _scratch_table_dir(fixture_path: str, name: str) -> str:
    """Per-process scratch dir (sibling of the .cache fixture) for queries
    that BUILD a SnapshotTable from a fixture: pid-suffixed so concurrent
    harness/bench runs cannot rmtree each other's half-built tables
    (r5 review), pre-cleaned for idempotent re-runs within the process, and
    registered for removal at exit so repeated runs don't leak (ADVICE r4)."""
    import atexit
    import shutil

    d = os.path.join(os.path.dirname(fixture_path), f"{name}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def q_cdc_type_widening(spark, sf_dir):
    """Schema evolution, TYPE dimension: replay a change log whose late file
    promotes x:int32->int64 (values past 2^31) and f:float32->float64
    through the actual SnapshotTable MOR path — the manifest schema widens
    (Iceberg int->long/float->double promotion) and narrow base files
    upcast at read. Oracle = DuckDB read_parquet(union_by_name), which
    performs the identical widening, + LWW by key."""
    from go_dcp_kafka_spark.gen import materialize_widening_log
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    path = materialize_widening_log()
    # rebuilt from scratch each call — the query times TABLE construction,
    # not a cached read
    t = SnapshotTable(spark, _scratch_table_dir(path, "widening_table"), ("k",), num_buckets=4)
    early = spark.read.parquet(f"{path}/part-0.parquet")
    late = spark.read.parquet(f"{path}/part-1.parquet")
    t.overwrite(early.select("k", "x", "f"), epoch_id="w0")
    t.merge_mor(late.select("k", "x", "f"), None, epoch_id="w1")
    return t.read().select(
        "k", F.col("x").cast("long").alias("x"), F.col("f").cast("double").alias("f")
    )


def q_cdc_read_changes(spark, sf_dir):
    """Incremental changelog read — the CDC-consumer poll ('what changed
    since the snapshot I processed'), the reference's consumers-read-only-
    the-appended-log semantics (/root/reference/kafka/client.go:220-233)
    against the keyed table: build the fixture table, apply ONE epoch of ops
    (value updates, NO-OP rewrites, inserts, deletes), and return
    read_changes between the two committed snapshots. Manifest-pruned (r5):
    only buckets whose dir refs/delta signatures differ are read and
    joined. No-op rewrites must report NOTHING (null-safe value diff).
    Oracle = DuckDB full-outer diff of the two folded states."""
    from go_dcp_kafka_spark.gen import materialize_changes_fixture
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    path = materialize_changes_fixture()
    t = SnapshotTable(spark, _scratch_table_dir(path, "changes_table"), ("k",), num_buckets=8)
    base = spark.read.parquet(f"{path}/part-0.parquet")
    ops = spark.read.parquet(f"{path}/part-1.parquet")
    t.overwrite(base, epoch_id="c0")
    v1 = t.version()
    t.merge_mor(
        ops.filter(F.col("op") == "mutation").select("k", "v", "n"),
        ops.filter(F.col("op") == "deletion").select("k"),
        epoch_id="c1",
    )
    # n as double on BOTH twins: deletes carry null, and a nullable BIGINT
    # degrades to float64 in the oracle's pandas frame (dtype-kind parity)
    return t.read_changes(v1).select("k", "v", F.col("n").cast("double").alias("n"), "_change")


def q_cdc_rename_column(spark, sf_dir):
    """Metadata-only column rename (r5): overwrite the fixture base, rename
    v->val WITHOUT rewriting data, then COW-merge one epoch of ops under the
    NEW name — the final read mixes pre-rename dirs (old physical name,
    aliased by era) with post-rename dirs. Oracle = the same LWW fold in
    SQL with the old name aliased."""
    from go_dcp_kafka_spark.gen import materialize_changes_fixture
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    path = materialize_changes_fixture()
    t = SnapshotTable(spark, _scratch_table_dir(path, "rename_table"), ("k",), num_buckets=8)
    base = spark.read.parquet(f"{path}/part-0.parquet")
    ops = spark.read.parquet(f"{path}/part-1.parquet")
    t.overwrite(base, epoch_id="r0")
    t.rename_column("v", "val")
    t.merge(
        ops.filter(F.col("op") == "mutation").select("k", F.col("v").alias("val"), "n"),
        ops.filter(F.col("op") == "deletion").select("k"),
        epoch_id="r1",
        n_updates=ops.count(),
    )
    return t.read().select("k", "val", "n")


def q_cdc_drop_column(spark, sf_dir):
    """Metadata-only column drop (r5): overwrite the fixture base, drop v
    WITHOUT rewriting data, merge one epoch of ops under the narrowed
    schema, then RE-ADD a fresh column named v for a disjoint key range —
    the final read must show null v for every pre-drop row (the sentinel
    rename-era entry prevents resurrecting dropped data from old files)
    and real values only for the re-added rows. Oracle = the same fold in
    SQL over the narrowed schema plus the re-added slice."""
    from go_dcp_kafka_spark.gen import materialize_changes_fixture
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    path = materialize_changes_fixture()
    t = SnapshotTable(spark, _scratch_table_dir(path, "drop_table"), ("k",), num_buckets=8)
    base = spark.read.parquet(f"{path}/part-0.parquet")
    ops = spark.read.parquet(f"{path}/part-1.parquet")
    t.overwrite(base.select("k", "v", "n"), epoch_id="d0")
    t.drop_column("v")
    t.merge(
        ops.filter(F.col("op") == "mutation").select("k", "n"),
        ops.filter(F.col("op") == "deletion").select("k"),
        epoch_id="d1",
        n_updates=ops.count(),
    )
    readd = spark.range(300, 310).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("n"),
        F.concat(F.lit("re"), F.col("id")).alias("v"),
    )
    t.merge(readd, None, epoch_id="d2", n_updates=10)
    return t.read().select("k", "n", "v")


def q_cdc_ivm_agg(spark, sf_dir):
    """Incremental view maintenance (operators/ivm.py): a downstream
    per-group aggregate (row count + SUM(n) + MIN/MAX(n), grouped by the
    payload's first character — updates MIGRATE rows between groups) is
    maintained from ``read_changes(include_old=True)`` before/after images
    instead of being recomputed: retract-from-old-group + apply-to-new-group
    contributions, ONE map-side-combined shuffle, one read and one rewrite
    of the touched view buckets — O(changed) end-to-end. MIN/MAX are maintained with the r6
    EXTREMA RESERVE (reserve_r=4: per-group arrays of the 4 extremal
    values, bootstrapped by bootstrap_agg): a retraction of the stored
    extremum consumes the reserve instead of triggering the group-filtered
    recompute scan, which fires only when R extremum-side deletions exhaust
    a reserve. The returned table was built INCREMENTALLY; the oracle
    recomputes the aggregate from scratch over the folded final state, so a
    hash match proves the maintenance arithmetic on both paths."""
    from go_dcp_kafka_spark.gen import materialize_changes_fixture
    from go_dcp_kafka_spark.operators.ivm import bootstrap_agg, maintain_agg
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    path = materialize_changes_fixture()
    base = spark.read.parquet(f"{path}/part-0.parquet").select(
        "k", F.substring("v", 1, 1).alias("g"), "v", "n"
    )
    ops = spark.read.parquet(f"{path}/part-1.parquet")
    t = SnapshotTable(spark, _scratch_table_dir(path, "ivm_base"), ("k",), num_buckets=8)
    t.overwrite(base, epoch_id="i0")
    a = SnapshotTable(spark, _scratch_table_dir(path, "ivm_agg"), ("g",), num_buckets=2)
    a.overwrite(
        bootstrap_agg(
            t.read(), ["g"], sum_cols=["n"], min_cols=["n"], max_cols=["n"], reserve_r=4
        ),
        epoch_id="a0",
    )
    v1 = t.version()
    t.merge_mor(
        ops.filter(F.col("op") == "mutation").select(
            "k", F.substring("v", 1, 1).alias("g"), "v", "n"
        ),
        ops.filter(F.col("op") == "deletion").select("k"),
        epoch_id="i1",
    )
    maintain_agg(
        t, a, v1, ["g"], ["n"], min_cols=["n"], max_cols=["n"], epoch_id="ivm1", reserve_r=4
    )
    return a.read().select(
        "g",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_n").cast("long").alias("sum_n"),
        F.col("min_n").cast("long").alias("min_n"),
        F.col("max_n").cast("long").alias("max_n"),
    )


def q_cdc_assemble_convs(spark, sf_dir):
    """Transcript payload -> training documents: fold the flagship change
    log, then assemble ONE document per conversation (turns in stable
    turn_idx order as 'role: text' lines). One fold shuffle + one
    conv-grouped shuffle with map-side combine; ordering is per-row
    array_sort bounded by conversation length, never a global sort. Output
    is scalar-only (length + md5-derived doc hash) per oracle-parity rules."""
    from go_dcp_kafka_spark.functions.hashing import md5_hash60
    from go_dcp_kafka_spark.functions.transcripts import assemble_conversations
    from go_dcp_kafka_spark.gen import materialize_flagship_log
    from go_dcp_kafka_spark.operators.fold import fold_change_events
    from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA

    events = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(materialize_flagship_log())
    docs = assemble_conversations(fold_change_events(events))
    return docs.select(
        "conv_id",
        "n_turns",
        F.length("doc_text").cast("long").alias("n_chars"),
        md5_hash60(F.col("doc_text")).alias("doc_hash"),
    )


def q_cdc_sft_pairs(spark, sf_dir):
    """Transcript payload -> SFT (prompt, response) pairs: user turns
    immediately followed by an assistant turn within the conversation.
    Key-partitioned lead() window over the folded table — one conv_id
    exchange, no global sort. Scalar-only output (lengths + pair hash)."""
    from go_dcp_kafka_spark.functions.hashing import md5_hash60
    from go_dcp_kafka_spark.functions.transcripts import sft_pairs
    from go_dcp_kafka_spark.gen import materialize_flagship_log
    from go_dcp_kafka_spark.operators.fold import fold_change_events
    from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA

    events = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(materialize_flagship_log())
    pairs = sft_pairs(fold_change_events(events))
    return pairs.select(
        "conv_id",
        "prompt_turn",
        "response_turn",
        F.length("prompt_text").cast("long").alias("n_prompt_chars"),
        F.length("response_text").cast("long").alias("n_response_chars"),
        md5_hash60(F.concat_ws("#>", F.col("prompt_text"), F.col("response_text"))).alias("pair_hash"),
    )


def q_cdc_schema_evolution(spark, sf_dir):
    """M4 headline: mid-stream schema evolution. The fixture log's early
    FILES physically lack the ``tool`` column; the source reads with the
    explicit CHANGE_EVENT_SCHEMA (nulls backfilled), the fold carries the
    evolved column through, and the final state mixes pre-evolution rows
    (tool=null) with post-evolution rows (tool set) — the oracle reads the
    same files with union_by_name."""
    from go_dcp_kafka_spark.gen import materialize_evolved_log
    from go_dcp_kafka_spark.operators.fold import fold_change_events
    from go_dcp_kafka_spark.schema import CHANGE_EVENT_SCHEMA

    path = materialize_evolved_log()
    events = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(path)
    return fold_change_events(events).orderBy("conv_id", "turn_idx")


def q_cdc_salted_rollup(spark, sf_dir):
    """Skew-proof per-key rollup via salt + two-phase aggregation
    (operators/salting.py) — the hot-conv_id strategy exercised as a query.
    Result is identical to a plain groupBy (the oracle)."""
    from go_dcp_kafka_spark.operators.salting import two_phase_agg

    ev = _read(spark, sf_dir, "events").withColumn("cents", _cents(F.col("value")))
    return two_phase_agg(
        ev,
        "user_id",
        {"n_events": ("event_id", "count"), "max_cents": ("cents", "max"), "total_cents": ("cents", "sum")},
        salt_key="event_id",
        buckets=8,
    )


# ===================================================== relational breadth
def q_sort_topk(spark, sf_dir):
    """Top-k sort (TakeOrderedAndProject — no global sort shuffle)."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", _cents(F.col("o_totalprice")).alias("price_cents"))
    )


def q_join_agg(spark, sf_dir):
    """Broadcast equi-join + aggregation: order counts and revenue by nation."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"), F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"))
    )


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary: scan + filter (pushed to parquet) +
    hash agg with map-side combine."""
    li = _read(spark, sf_dir, "lineitem")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(rev).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_topk_orders(spark, sf_dir):
    """TPC-H Q3-style: 3-way join, filtered segment, per-order revenue,
    top-10 (TakeOrderedAndProject; nation/customer side broadcast)."""
    c = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.col("o_orderkey"))
        .limit(10)
    )


def q_emb_knn_join(spark, sf_dir):
    """Batch kNN: top-5 corpus matches per query vector within shared
    sign-LSH buckets (broadcast queries + per-query window top-k)."""
    from go_dcp_kafka_spark.functions.similarity import pairwise_topk_join

    emb = _read(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return pairwise_topk_join(queries_df, _spread(emb), k=5)


# ======================================================== dedup / text ops
def q_doc_exact_dedup(spark, sf_dir):
    from go_dcp_kafka_spark.functions.dedup_text import exact_duplicates

    # min_copies=1: emit every keeper group so the oracle check is
    # non-trivial even on a corpus with no exact duplicates
    return exact_duplicates(_read(spark, sf_dir, "documents"), min_copies=1)


def q_doc_text_profile(spark, sf_dir):
    from go_dcp_kafka_spark.functions.textstats import text_profile

    return text_profile(_spread(_read(spark, sf_dir, "documents")))


def q_doc_minhash(spark, sf_dir):
    from go_dcp_kafka_spark.functions.dedup_text import minhash_signatures

    return minhash_signatures(_spread(_read(spark, sf_dir, "documents")), num_hashes=4)


def q_doc_simhash(spark, sf_dir):
    from go_dcp_kafka_spark.functions.dedup_text import simhash

    return simhash(_spread(_read(spark, sf_dir, "documents")), bits=16)


def q_doc_near_dup(spark, sf_dir):
    """MinHash-LSH candidates (16 hashes, 4 bands x 4 rows, bucket width
    capped at 64) verified by exact 3-gram Jaccard >= 0.8 — the full
    near-dup pipeline at its scale parameterization."""
    from go_dcp_kafka_spark.functions.dedup_text import (
        jaccard_verify_pairs,
        minhash_near_duplicates,
    )

    docs = _spread(_read(spark, sf_dir, "documents"))
    pairs = minhash_near_duplicates(
        docs,
        num_hashes=NEAR_DUP_HASHES,
        bands=NEAR_DUP_BANDS,
        max_bucket_width=NEAR_DUP_CAP,
    )
    return jaccard_verify_pairs(docs, pairs, threshold=0.8)


def q_doc_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components (min-id label propagation)
    over the jaccard-verified candidate pairs — what a dedup pipeline
    actually deletes (keep cluster_id, drop the rest). Oracle: recursive CTE
    transitive closure over the identical pair set."""
    from go_dcp_kafka_spark.functions.dedup_text import (
        duplicate_clusters,
        jaccard_verify_pairs,
        minhash_near_duplicates,
    )

    docs = _spread(_read(spark, sf_dir, "documents"))
    pairs = minhash_near_duplicates(
        docs, num_hashes=NEAR_DUP_HASHES, bands=NEAR_DUP_BANDS, max_bucket_width=NEAR_DUP_CAP
    )
    verified = jaccard_verify_pairs(docs, pairs, threshold=0.8).select("a_id", "b_id")
    return duplicate_clusters(verified)


def q_doc_minhash_index(spark, sf_dir):
    """CDC-maintained near-dup index (functions/dedup_index.py): the base
    corpus is materialized as a band_key-partitioned MinHash-LSH index,
    then ONE CDC epoch (updates/deletes/inserts through the keyed table's
    MOR merge) is applied INCREMENTALLY — ``read_changes(include_old=True)``
    feeds ``update_minhash``, which re-signs before-images to locate old
    rows exactly and dynamically overwrites only the affected band
    partitions (reference analog: consumers track the appended log, never
    re-read the corpus — /root/reference/kafka/client.go:220-233). Returns
    the final index rows; the oracle recomputes the index from the FINAL
    corpus state in SQL, so the value-hash match IS the
    incremental-equals-rebuild equivalence at driver level."""
    import tempfile

    from go_dcp_kafka_spark.functions.dedup_index import (
        materialize_minhash,
        update_minhash,
    )
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    anchor = os.path.join(tempfile.gettempdir(), "gdks_anchor")
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    t = SnapshotTable(
        spark, _scratch_table_dir(anchor, "mhidx_table"), ("doc_id",), num_buckets=8
    )
    t.overwrite(docs, epoch_id="m0")
    v1 = t.version()
    idx = _scratch_table_dir(anchor, "mhidx_index")
    # sidecar=False (r7): this query maintains the index through the
    # BEFORE-IMAGE path, so the doc->band_keys sidecar would never be read;
    # building and merging it was pure overhead (doc_minhash_sidecar is the
    # query that exercises the sidecar path end to end)
    materialize_minhash(
        t.read(),
        idx,
        num_hashes=NEAR_DUP_HASHES,
        bands=NEAR_DUP_BANDS,
        shingle_words=3,
        num_parts=32,
        sidecar=False,
    )
    # one CDC epoch over disjoint mod-13 slices: update / delete / insert
    ups = docs.filter(F.col("doc_id") % 13 == 3).select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated")).alias("text")
    )
    ins = docs.filter(F.col("doc_id") % 13 == 11).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    dels = docs.filter(F.col("doc_id") % 13 == 7).select("doc_id")
    upserts = ups.unionByName(ins)
    t.merge_mor(upserts, dels, epoch_id="m1")
    update_minhash(spark, idx, t.read_changes(v1, include_old=True))
    return spark.read.parquet(os.path.join(idx, "index")).select(
        "doc_id", "band_id", "band_key", F.col("part").cast("int").alias("part")
    )


def q_doc_minhash_sidecar(spark, sf_dir):
    """The r6 no-before-image maintenance path at driver level: the same
    CDC-maintained MinHash-LSH index as doc_minhash_index, but the epoch
    feed comes from ``read_changes`` WITHOUT ``include_old`` — the
    Debezium-style wire that carries no before-images. Old index rows are
    located via the doc→band_keys SIDECAR table's bucket-pruned point
    lookup (reference analog: checkpoint reload is a point lookup by vbID,
    kafka/metadata/kafka_metadata.go:48-129), so the epoch still rewrites
    only bands×changed partitions; the query REFUSES to return if the
    sidecar path was not the one taken. Oracle recomputes the index from
    the FINAL corpus in SQL, so the hash match IS incremental≡rebuild for
    the no-before-image wire."""
    import tempfile

    from go_dcp_kafka_spark.functions.dedup_index import (
        materialize_minhash,
        update_minhash,
    )
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    anchor = os.path.join(tempfile.gettempdir(), "gdks_anchor")
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    t = SnapshotTable(
        spark, _scratch_table_dir(anchor, "mhsc_table"), ("doc_id",), num_buckets=8
    )
    t.overwrite(docs, epoch_id="sc0")
    v1 = t.version()
    idx = _scratch_table_dir(anchor, "mhsc_index")
    materialize_minhash(
        t.read(),
        idx,
        num_hashes=NEAR_DUP_HASHES,
        bands=NEAR_DUP_BANDS,
        shingle_words=3,
        num_parts=32,
    )
    ups = docs.filter(F.col("doc_id") % 17 == 4).select(
        "doc_id", F.concat(F.col("text"), F.lit(" sc-upd")).alias("text")
    )
    ins = docs.filter(F.col("doc_id") % 17 == 9).select(
        (F.col("doc_id") + 40000000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
    )
    dels = docs.filter(F.col("doc_id") % 17 == 2).select("doc_id")
    upserts = ups.unionByName(ins)
    t.merge_mor(upserts, dels, epoch_id="sc1")
    res = update_minhash(spark, idx, t.read_changes(v1))  # NO include_old
    if res["old_location"] != "sidecar":
        raise RuntimeError(f"expected sidecar old-row location, got {res['old_location']}")
    return spark.read.parquet(os.path.join(idx, "index")).select(
        "doc_id", "band_id", "band_key", F.col("part").cast("int").alias("part")
    )


def q_doc_probe_verify(spark, sf_dir):
    """The per-epoch duplicate CHECK, O(changed) end to end
    (dedup_index.probe_and_verify): the corpus lives in a keyed
    SnapshotTable with a materialized band index; an epoch-shaped probe
    set (point-poll-sized: mod-61 slices; <=256 probes at sf0.1, inside the IN-pushdown caps — near-dup inserts with fresh
    ids, edited re-upserts of existing ids, and alien docs sharing
    nothing with the corpus) is answered by
    partition-pruned LSH candidate lookup → bucket-pruned ``read_keys``
    point fetch of ONLY the candidate texts → exact 3-gram Jaccard
    verification, with the epoch's text winning over the stored row for
    re-upserted ids. Neither the corpus nor the index is ever scanned in
    full (reference analog: a consumer checks incoming mutations against
    state without re-reading the topic — /root/reference/kafka/
    client.go:220-233). Oracle recomputes candidates + verification from
    scratch in SQL."""
    import tempfile

    from go_dcp_kafka_spark.functions.dedup_index import (
        materialize_minhash,
        probe_and_verify,
    )
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    anchor = os.path.join(tempfile.gettempdir(), "gdks_anchor")
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    t = SnapshotTable(
        spark, _scratch_table_dir(anchor, "pv_table"), ("doc_id",), num_buckets=8
    )
    t.overwrite(docs, epoch_id="pv0")
    idx = _scratch_table_dir(anchor, "pv_index")
    # sidecar=False (r7): probing never consults the doc->band_keys sidecar
    materialize_minhash(
        t.read(),
        idx,
        num_hashes=NEAR_DUP_HASHES,
        bands=NEAR_DUP_BANDS,
        shingle_words=3,
        num_parts=32,
        sidecar=False,
    )
    probe = (
        docs.filter(F.col("doc_id") % 61 == 5)
        .select(
            (F.col("doc_id") + 20000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" probe tail edit")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 61 == 2).select(
                "doc_id", F.concat(F.col("text"), F.lit(" edited v2")).alias("text")
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 61 == 9).select(
                (F.col("doc_id") + 30000000).alias("doc_id"),
                F.lit("zz yy xx ww vv uu tt ss rr qq pp oo").alias("text"),
            )
        )
    )
    return probe_and_verify(spark, idx, probe, t, threshold=0.5)


def q_doc_vocab_ivm(spark, sf_dir):
    """CDC-maintained vocabulary (functions/corpus.py maintain_vocab): the
    IVM contribution machinery (operators/ivm.py) composed through the
    tokenizer FLAT-MAP — a (word → document-frequency) view tracks the
    corpus table across a CDC epoch at O(changed docs × their tokens):
    before-images retract −1 per distinct token, after-images apply +1,
    net-zero words (an edit keeping the word) never reach the probe/merge,
    words whose df hits 0 are deleted. The oracle recomputes the vocabulary
    from the FINAL corpus state, so the hash match IS incremental≡rebuild
    at driver level."""
    import tempfile

    from go_dcp_kafka_spark.functions.corpus import maintain_vocab
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    anchor = os.path.join(tempfile.gettempdir(), "gdks_anchor")
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    t = SnapshotTable(
        spark, _scratch_table_dir(anchor, "vocab_docs"), ("doc_id",), num_buckets=8
    )
    t.overwrite(docs, epoch_id="vd0")
    vt = SnapshotTable(
        spark, _scratch_table_dir(anchor, "vocab_view"), ("word",), num_buckets=8
    )
    words = F.array_distinct(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[^\s]+"), 0)
    )
    vt.overwrite(
        t.read()
        .select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("df")),
        epoch_id="vv0",
    )
    v1 = t.version()
    ups = docs.filter(F.col("doc_id") % 13 == 3).select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated")).alias("text")
    )
    ins = docs.filter(F.col("doc_id") % 13 == 11).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    dels = docs.filter(F.col("doc_id") % 13 == 7).select("doc_id")
    upserts = ups.unionByName(ins)
    t.merge_mor(upserts, dels, epoch_id="vd1")
    maintain_vocab(vt, t, v1, epoch_id="vm1")
    return vt.read().select("word", F.col("df").cast("long").alias("df"))


def q_doc_dedup_ivm(spark, sf_dir):
    """CDC-maintained EXACT-dedup table (dedup_index.maintain_exact_dedup):
    md5(text) → (n_copies, keeper_id = MIN doc id) tracks the corpus at
    O(changed docs) — a text edit migrates its doc between hash groups,
    inserted copies raise n_copies, and deleting a group's keeper while a
    copy survives PROMOTES the next id from the r6 keeper RESERVE
    (reserve_r=4 via bootstrap_exact_dedup — the corpus scan fires only
    when R keeper-side deletions exhaust a group's reserve; the epoch below
    deletes every mod-13=2 doc while inserting a same-text copy at
    id+2·10^7, so those groups are REBORN onto the copy with zero scans).
    The oracle recomputes GROUP BY md5(text) over the FINAL corpus, so the
    hash match IS incremental≡rebuild at driver level."""
    import tempfile

    from go_dcp_kafka_spark.functions.dedup_index import (
        bootstrap_exact_dedup,
        maintain_exact_dedup,
    )
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    anchor = os.path.join(tempfile.gettempdir(), "gdks_anchor")
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    t = SnapshotTable(
        spark, _scratch_table_dir(anchor, "xdedup_docs"), ("doc_id",), num_buckets=8
    )
    t.overwrite(docs, epoch_id="x0")
    dt = SnapshotTable(
        spark, _scratch_table_dir(anchor, "xdedup_table"), ("h",), num_buckets=8
    )
    dt.overwrite(bootstrap_exact_dedup(t, reserve_r=4), epoch_id="xd0")
    v1 = t.version()
    ups = (
        docs.filter(F.col("doc_id") % 13 == 3)
        .select("doc_id", F.concat(F.col("text"), F.lit(" updated")).alias("text"))
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 11).select(
                (F.col("doc_id") + 10000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 2).select(
                (F.col("doc_id") + 20000000).alias("doc_id"), "text"
            )
        )
    )
    dels = docs.filter(F.col("doc_id") % 13 == 7).select("doc_id").unionByName(
        docs.filter(F.col("doc_id") % 13 == 2).select("doc_id")
    )
    t.merge_mor(ups, dels, epoch_id="x1")
    maintain_exact_dedup(dt, t, v1, epoch_id="xd1", reserve_r=4)
    return dt.read().select(
        "h",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("keeper_id").cast("long").alias("keeper_id"),
    )


def q_doc_vocab_topk(spark, sf_dir):
    """Vocabulary building: top-50 tokens by document frequency (one vote
    per doc per distinct token) — one shuffle + TakeOrderedAndProject."""
    from go_dcp_kafka_spark.functions.corpus import vocab_topk

    return vocab_topk(_spread(_read(spark, sf_dir, "documents")), k=50)


def q_doc_split_assign(spark, sf_dir):
    """Deterministic train/val/test split: hash-mod projection, reproducible
    and stable under corpus growth (no randomSplit sampling state)."""
    from go_dcp_kafka_spark.functions.corpus import split_assign

    return split_assign(_read(spark, sf_dir, "documents"))


def q_doc_contamination(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing >= 1 word-3-gram with
    the 'benchmark' docs (doc_id < 20) — broadcast benchmark shingle hashes,
    corpus never shuffled by the join."""
    from go_dcp_kafka_spark.functions.corpus import contamination_check

    docs = _spread(_read(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") < 20)
    return contamination_check(docs, bench, shingle_words=3)


def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition filters: duplicate word-2-gram fraction and
    top-2-gram fraction per doc — computed SHUFFLE-FREE via array_sort +
    run-length F.aggregate inside one projection (the oracle computes the
    same values relationally: explode + groupBy)."""
    from go_dcp_kafka_spark.functions.textstats import repetition_stats

    return repetition_stats(_spread(_read(spark, sf_dir, "documents")))


def q_doc_mixture_sample(spark, sf_dir):
    """Deterministic mixture sampling: per-source keep rates via a salted
    md5 hash of the doc id — pure projection, stable under corpus growth.
    Oracle recomputes the identical hash decision in DuckDB."""
    from go_dcp_kafka_spark.functions.corpus import mixture_sample

    docs = _read(spark, sf_dir, "documents")
    out = mixture_sample(
        docs, rates={"src0": 0.0, "src1": 0.25, "src2": 0.5}, default_rate=0.75
    )
    return out.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.min("doc_id").alias("first_doc")
    )


def q_doc_dedup_segments(spark, sf_dir):
    """Corpus-wide segment-level exact dedup (RefinedWeb-style boilerplate
    removal): 8-word segments, first global occurrence wins, docs
    reassembled from surviving segments. Scalar outputs (counts + rebuilt-
    text hash)."""
    from go_dcp_kafka_spark.functions.corpus import dedup_segments
    from go_dcp_kafka_spark.functions.hashing import md5_hash60

    out = dedup_segments(_spread(_read(spark, sf_dir, "documents")))
    return out.select(
        "doc_id", "n_segments", "n_kept", md5_hash60(F.col("clean_text")).alias("clean_hash")
    )


def q_doc_pii_mask(spark, sf_dir):
    """PII scrubbing: deterministic synthetic PII (an email, SSN, phone, and
    IPv4 derived from doc_id) appended to each doc, then masked by the fixed
    regexp chain — a pure JVM-side projection (whole-stage codegen), no
    shuffle, no UDF. The synthetic append makes the masking observable (the
    corpus itself carries no PII) while staying oracle-reproducible."""
    from go_dcp_kafka_spark.functions.corpus import pii_mask

    docs = _spread(_read(spark, sf_dir, "documents"))
    withpii = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 555-123-4567 host 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" id 123-45-6789"),
        ),
    )
    return pii_mask(withpii)


def q_doc_pack_sequences(spark, sf_dir):
    """Context-window packing (concat-then-split): global token offsets via
    the DISTRIBUTED prefix sum (range partition -> per-partition window ->
    broadcast partition bases) — never a single-partition Window.orderBy."""
    from go_dcp_kafka_spark.functions.corpus import pack_sequences

    return pack_sequences(_read(spark, sf_dir, "documents"), window_tokens=2048)


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (8h gap) + per-session rollup over the
    events table — windows partitioned by user_id (one hash shuffle), time
    math on floor-epoch-seconds for engine-portable boundaries."""
    from go_dcp_kafka_spark.operators.sessionize import session_stats

    return session_stats(_read(spark, sf_dir, "events"), gap_seconds=28800)


def q_events_windowed_rates(spark, sf_dir):
    """Event-time tumbling-window rates (1h windows per event_type) via the
    SAME operator the streaming path uses with a watermark — batch mode
    makes withWatermark a no-op, so the window aggregation itself is
    oracle-checkable (DuckDB time_bucket twin)."""
    from go_dcp_kafka_spark.streaming.windows import windowed_event_counts

    return windowed_event_counts(
        _read(spark, sf_dir, "events"),
        window_duration="1 hour",
        key_col="event_type",
    )


def q_doc_clean_corpus(spark, sf_dir):
    """END-TO-END corpus cleaning — the materialization a training pipeline
    actually ships: keep a doc iff (1) it is the keeper (min doc_id) of its
    exact-duplicate group, (2) it is the representative (min doc_id) of its
    near-dup cluster or in no cluster, and (3) quality >= 0.4. Composes
    exact dedup + LSH near-dup + connected components + quality scoring;
    each stage is the already-verified operator, chained with semi/anti
    joins (no collect, no recompute of the corpus per stage)."""
    from go_dcp_kafka_spark.functions.dedup_text import (
        duplicate_clusters,
        exact_duplicates,
        jaccard_verify_pairs,
        minhash_near_duplicates,
    )
    from go_dcp_kafka_spark.functions.textstats import text_profile

    docs = _spread(_read(spark, sf_dir, "documents"))
    keepers = exact_duplicates(docs, min_copies=1).select(
        F.col("keep_id").alias("doc_id")
    )
    pairs = minhash_near_duplicates(
        docs, num_hashes=NEAR_DUP_HASHES, bands=NEAR_DUP_BANDS, max_bucket_width=NEAR_DUP_CAP
    )
    verified = jaccard_verify_pairs(docs, pairs, threshold=0.8).select("a_id", "b_id")
    clusters = duplicate_clusters(verified)
    dup_losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    quality = text_profile(docs).select("doc_id", "quality")
    return (
        docs.join(keepers, "doc_id", "left_semi")
        .join(dup_losers, "doc_id", "left_anti")
        .join(quality, "doc_id")
        .filter(F.col("quality") >= 0.4)
        .select("doc_id", "quality")
    )


# ========================================================== embedding ops
def _qvec(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]


def q_emb_cosine_topk(spark, sf_dir):
    from go_dcp_kafka_spark.functions.similarity import cosine_topk

    return cosine_topk(_spread(_read(spark, sf_dir, "embeddings")), _qvec(spark, sf_dir), k=10)


def q_emb_ann_lsh(spark, sf_dir):
    from go_dcp_kafka_spark.functions.similarity import ann_lsh_topk

    return ann_lsh_topk(_spread(_read(spark, sf_dir, "embeddings")), _qvec(spark, sf_dir), k=10)


def q_emb_dup_clusters(spark, sf_dir):
    """Embedding duplicate CLUSTERS: sign-LSH cosine near-dup pairs ->
    connected components (min-label propagation) — the embedding-space twin
    of doc_dup_clusters, composing two already-verified operators. Oracle:
    the same pair SQL + a recursive-CTE transitive closure."""
    from go_dcp_kafka_spark.functions.dedup_text import (
        duplicate_clusters,
        embedding_near_duplicates,
    )

    emb = _read(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(emb, threshold=0.2).select(
        F.col("a_id"), F.col("b_id")
    )
    return duplicate_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id")
    )


def q_emb_ivf_topk(spark, sf_dir):
    """IVF-pruned ANN: centroid cells from the first 16 vectors, search only
    the query's cell (nprobe=1)."""
    from go_dcp_kafka_spark.functions.similarity import ivf_topk

    return ivf_topk(_spread(_read(spark, sf_dir, "embeddings")), _qvec(spark, sf_dir), k=10, n_centroids=16)


def q_emb_ivf_nprobe(spark, sf_dir):
    """IVF ANN at nprobe=4: scan the query's 4 nearest cells — the
    recall/cost knob a real deployment tunes (nprobe=K degenerates to the
    exact scan; see test_datapipe recall invariants)."""
    from go_dcp_kafka_spark.functions.similarity import ivf_topk

    return ivf_topk(
        _spread(_read(spark, sf_dir, "embeddings")), _qvec(spark, sf_dir),
        k=10, n_centroids=16, nprobe=4,
    )


def q_emb_ivf_mat(spark, sf_dir):
    """IVF search over the MATERIALIZED cell-partitioned table: probe-cell
    filter becomes a PartitionFilter — only nprobe of the cell directories
    are read (test_plans pins the pruning). Same trained centroids and
    rounding as emb_ivf_topk, so the same oracle verifies it."""
    from go_dcp_kafka_spark.functions.similarity import ivf_topk_materialized

    path = _ivf_table(spark, sf_dir)
    return ivf_topk_materialized(spark, path, _qvec(spark, sf_dir), k=10, nprobe=1)


def _ivf_table(spark, sf_dir, n_centroids: int = 16) -> str:
    """Materialize the IVF cell-partitioned twin of the embeddings table
    into a per-process scratch dir — REBUILT on every call (r7: no
    persisted artifacts keyed on the testdata across runs; the query's cost
    includes the build it claims). ``drift_baseline=False``: this query
    searches the index, it never runs maintain_ivf, so the per-cell drift
    baseline (an extra corpus pass — the r6 emb_ivf_mat/+21% regression)
    is skipped; maintenance callers keep the default."""
    import tempfile

    from go_dcp_kafka_spark.functions.similarity import materialize_ivf

    anchor = os.path.join(tempfile.gettempdir(), "gdks_anchor")
    path = _scratch_table_dir(anchor, f"ivf_mat_{n_centroids}")
    emb = _read(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    materialize_ivf(emb, cents, path, drift_baseline=False)
    return path


def q_emb_ivf_kmeans(spark, sf_dir):
    """IVF coarse-quantizer TRAINING (r3 verdict item 5): 2 Lloyd rounds of
    assign (shuffle-free broadcast argmax) + mean-update (posexplode/avg),
    then the trained-index summary per cell: member count, smallest member
    id, and the trained centroid's norm. Oracle = the same two rounds
    unrolled relationally (cross-join argmax + unnest/avg) in DuckDB."""
    from go_dcp_kafka_spark.functions.np_exact import with_ivf_cell_np
    from go_dcp_kafka_spark.functions.similarity import kmeans_train, norm_expr

    emb = _read(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=8, n_iter=2)
    assigned = with_ivf_cell_np(emb.select("vec_id", "embedding"), cents)
    stats = assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("vec_id").alias("min_vec_id"),
    )
    norms = cents.select(
        F.col("cid").alias("cell"), F.round(norm_expr(F.col("ce")), 6).alias("centroid_norm")
    )
    return stats.join(norms, "cell").select("cell", "n_members", "min_vec_id", "centroid_norm")


def q_media_features(spark, sf_dir):
    """Multimodal plumbing — binary media column (utf-8 bytes of document
    text) -> Arrow-batched mapInPandas feature extraction. The deterministic
    fake kernel (real codecs are not in this container) emits md5-derived
    scalar features, so a DuckDB twin reproduces every column from the
    source text."""
    from go_dcp_kafka_spark.functions.multimodal import extract_features_scalar, media_from_documents

    # _spread with a LARGE rows_per_task: the fake kernel is cheap-per-row
    # Python (md5), so a handful of Arrow batches beats one worker per core
    # (worker startup dominated the r3 bench at this row count)
    # 312 rows/task measured fastest cold at local[32]/sf0.1 (16 Arrow
    # batches; 1024 under-parallelizes the repartition write, 64 spawns a
    # worker per core for a few hundred rows)
    media = media_from_documents(_spread(_read(spark, sf_dir, "documents"), rows_per_task=312))
    return extract_features_scalar(media, use_fake=True).orderBy("media_id")


def q_media_frames(spark, sf_dir):
    """1 video row -> N sampled frames via mapInPandas; the query emits
    frame byte-lengths (JVM-side octet_length over the kernel output) so the
    oracle can recompute them from the text byte count."""
    from go_dcp_kafka_spark.functions.multimodal import media_from_documents, sample_frames

    # coalesce: frame fan-out (1->N binary rows) wants few large partitions —
    # spawning a Python worker per tiny partition dominates at this row count
    media = media_from_documents(_read(spark, sf_dir, "documents")).coalesce(4)
    return (
        sample_frames(media, use_fake=True)
        .select(
            "media_id",
            "frame_idx",
            F.octet_length("frame_bytes").cast("long").alias("n_frame_bytes"),
        )
        .orderBy("media_id", "frame_idx")
    )


def q_media_resize(spark, sf_dir):
    """Image resize plumbing (binary in -> smaller binary out, 1:1) — the
    query emits the scalar metadata (dims + output byte count) so the oracle
    recomputes it from the source text's byte length."""
    from go_dcp_kafka_spark.functions.multimodal import media_from_documents, resize_media

    media = media_from_documents(_read(spark, sf_dir, "documents")).coalesce(4)
    return resize_media(media, out_w=16, out_h=16, use_fake=True).select(
        "media_id", "out_w", "out_h", "n_bytes_out"
    )


def q_emb_near_dup(spark, sf_dir):
    from go_dcp_kafka_spark.functions.dedup_text import embedding_near_duplicates

    # low threshold: the synthetic embeddings have no true near-dups, and a
    # 0-row match would be trivially-passing evidence
    return embedding_near_duplicates(_spread(_read(spark, sf_dir, "embeddings")), threshold=0.2)


# ================================================================= contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC fold on a synthetic change log (sf0.001-scale)."""
    return q_cdc_full_fold(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_lww_fold": q_cdc_lww_fold,
        "cdc_hwm_dedup": q_cdc_hwm_dedup,
        "cdc_count_by_op": q_cdc_count_by_op,
        "cdc_offsets": q_cdc_offsets,
        "cdc_route": q_cdc_route,
        "cdc_explode": q_cdc_explode,
        "cdc_merge_upsert": q_cdc_merge_upsert,
        "cdc_lineage": q_cdc_lineage,
        "cdc_salted_rollup": q_cdc_salted_rollup,
        "cdc_schema_evolution": q_cdc_schema_evolution,
        "cdc_to_profile": q_cdc_to_profile,
        "cdc_full_fold": q_cdc_full_fold,
        "cdc_type_widening": q_cdc_type_widening,
        "cdc_read_changes": q_cdc_read_changes,
        "cdc_rename_column": q_cdc_rename_column,
        "cdc_drop_column": q_cdc_drop_column,
        "cdc_ivm_agg": q_cdc_ivm_agg,
        "cdc_assemble_convs": q_cdc_assemble_convs,
        "cdc_sft_pairs": q_cdc_sft_pairs,
        "sort_topk": q_sort_topk,
        "join_agg": q_join_agg,
        "tpch_pricing": q_tpch_pricing,
        "tpch_topk_orders": q_tpch_topk_orders,
        "emb_knn_join": q_emb_knn_join,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_text_profile": q_doc_text_profile,
        "doc_minhash": q_doc_minhash,
        "doc_simhash": q_doc_simhash,
        "doc_near_dup": q_doc_near_dup,
        "doc_dup_clusters": q_doc_dup_clusters,
        "doc_minhash_index": q_doc_minhash_index,
        "doc_minhash_sidecar": q_doc_minhash_sidecar,
        "doc_probe_verify": q_doc_probe_verify,
        "doc_vocab_topk": q_doc_vocab_topk,
        "doc_vocab_ivm": q_doc_vocab_ivm,
        "doc_dedup_ivm": q_doc_dedup_ivm,
        "doc_clean_corpus": q_doc_clean_corpus,
        "doc_split_assign": q_doc_split_assign,
        "doc_contamination": q_doc_contamination,
        "doc_repetition": q_doc_repetition,
        "doc_mixture_sample": q_doc_mixture_sample,
        "doc_dedup_segments": q_doc_dedup_segments,
        "doc_pii_mask": q_doc_pii_mask,
        "doc_pack_sequences": q_doc_pack_sequences,
        "events_sessionize": q_events_sessionize,
        "events_windowed_rates": q_events_windowed_rates,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_ann_lsh": q_emb_ann_lsh,
        "emb_near_dup": q_emb_near_dup,
        "emb_dup_clusters": q_emb_dup_clusters,
        "emb_ivf_topk": q_emb_ivf_topk,
        "emb_ivf_nprobe": q_emb_ivf_nprobe,
        "emb_ivf_mat": q_emb_ivf_mat,
        "emb_ivf_kmeans": q_emb_ivf_kmeans,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "media_resize": q_media_resize,
    }


# --------------------------------------------------------------- oracle SQL
_H60 = "CAST(CONCAT('0x', substring(md5({x}), 1, 15)) AS BIGINT)"
_H31 = f"({_H60} % {P})"


def _words(x: str) -> str:
    return f"regexp_extract_all(lower({x}), '[^\\s]+')"


def _pii_sql() -> str:
    """DuckDB twin of pii_mask over the same synthetic-PII input: the exact
    PII_PATTERNS chain, applied in order, each level counting on the input
    of that level (sequential fold semantics match the Spark expression)."""
    from go_dcp_kafka_spark.functions.corpus import PII_PATTERNS

    synth = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.com or 555-123-4567 host 10.0.0.' || "
        "CAST(doc_id % 256 AS VARCHAR) || ' id 123-45-6789'"
    )
    sql = f"SELECT doc_id, {synth} AS s, 0 AS n FROM documents"
    for _name, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        sql = (
            f"SELECT doc_id, regexp_replace(s, '{p}', '{repl}', 'g') AS s, "
            f"n + len(regexp_extract_all(s, '{p}')) AS n FROM ({sql})"
        )
    return f"SELECT doc_id, s AS masked, CAST(n AS BIGINT) AS n_pii FROM ({sql})"


def _shingles(x: str, k: int) -> str:
    w = _words(x)
    return (
        f"(CASE WHEN len({w}) >= {k} "
        f"THEN [array_to_string(({w})[i:i+{k - 1}], ' ') for i in range(1, len({w}) - {k - 2})] "
        f"ELSE [array_to_string({w}, ' ')] END)"
    )


def _minhash_sql(i: int) -> str:
    a, b = PERMS[i]
    hexpr = _H31.format(x="s")
    return f"list_min(list_transform(sh, s -> ({a} * {hexpr} + {b}) % {P}))"


_COS = (
    "round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6)"
)

_SIGN_BUCKET = (
    "(" + " + ".join(f"(CASE WHEN {{v}}[{j + 1}] > 0 THEN {2**j} ELSE 0 END)" for j in range(8)) + ")"
)


def _ivf_sql(nprobe: int, n_centroids: int = 16, k: int = 10) -> str:
    """DuckDB twin of similarity.ivf_topk at the given nprobe."""
    return f"""
        WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings WHERE vec_id < {n_centroids}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        s AS (SELECT e.vec_id, c.cid,
                     round(list_dot_product(ve, ce) /
                           (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(ce, ce))), 6) AS cos
              FROM e CROSS JOIN c),
        a AS (SELECT vec_id, cid AS cell FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) rn FROM s)
              WHERE rn = 1),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        probe AS (SELECT cid FROM c, q
                  ORDER BY round(list_dot_product(qe, ce) /
                           (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 6) DESC, cid
                  LIMIT {nprobe})
        SELECT e.vec_id,
               CAST(round(list_dot_product(ve, qe) /
                    (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qe, qe))), 6) AS DOUBLE) AS cosine
        FROM e JOIN a ON e.vec_id = a.vec_id CROSS JOIN q
        WHERE a.cell IN (SELECT cid FROM probe)
        ORDER BY cosine DESC, e.vec_id LIMIT {k}
    """


def _km_assign(cents: str, out: str) -> str:
    """One k-means assignment round as a CTE pair: argmax-cosine cell per
    vector (ties to smallest cid — the engine's fold visits cids in order
    and replaces only on strictly greater cosine)."""
    cos = (
        f"round(list_dot_product(ve, ce) / "
        f"(sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(ce, ce))), 6)"
    )
    return (
        f"{out} AS (SELECT vec_id, cid AS cell FROM "
        f"(SELECT e.vec_id, c.cid, "
        f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cid) AS rn "
        f"FROM e CROSS JOIN {cents} c) WHERE rn = 1)"
    )


def _km_update(assign: str, cents_in: str, out: str) -> str:
    """One k-means mean-update round: per-cell, per-position average of
    member vectors (rounded to 6 dp like the engine); empty cells keep the
    previous centroid."""
    return (
        f"{out}_u AS (SELECT cell, pos, round(avg(val), 6) AS m FROM "
        f"(SELECT a.cell, unnest(e.ve) AS val, generate_subscripts(e.ve, 1) AS pos "
        f"FROM {assign} a JOIN e USING (vec_id)) GROUP BY cell, pos), "
        f"{out}_l AS (SELECT cell AS cid, list(m ORDER BY pos) AS ce FROM {out}_u GROUP BY cell), "
        f"{out} AS (SELECT p.cid, COALESCE(l.ce, p.ce) AS ce "
        f"FROM {cents_in} p LEFT JOIN {out}_l l USING (cid))"
    )


def _ivf_kmeans_sql(k: int = 8) -> str:
    """DuckDB twin of q_emb_ivf_kmeans: 2 Lloyd rounds unrolled."""
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id < {k}),
        {_km_assign("c0", "a1")},
        {_km_update("a1", "c0", "c1")},
        {_km_assign("c1", "a2")},
        {_km_update("a2", "c1", "c2")},
        {_km_assign("c2", "a3")}
        SELECT c2.cid AS cell, CAST(count(*) AS BIGINT) AS n_members,
               min(a3.vec_id) AS min_vec_id,
               round(sqrt(list_dot_product(c2.ce, c2.ce)), 6) AS centroid_norm
        FROM a3 JOIN c2 ON a3.cell = c2.cid
        GROUP BY c2.cid, c2.ce
    """


def oracle_sql() -> dict[str, str]:
    from go_dcp_kafka_spark.gen import (
        materialize_changes_fixture,
        materialize_evolved_log,
        materialize_flagship_log,
        materialize_widening_log,
    )

    # materialize the fixtures NOW so the oracle can read them even if the
    # driver runs the SQL before (or without) the Spark query
    flagship_path = materialize_flagship_log()
    evolved_path = materialize_evolved_log()
    fingerprint_sh = _shingles("text", 8)
    prof_words = _words("text")
    stop_list = ", ".join(f"'{s}'" for s in _STOP)
    stopratio = (
        f"(CASE WHEN len({prof_words}) > 0 THEN "
        f"CAST(len(list_filter({prof_words}, w -> w IN ({stop_list}))) AS DOUBLE) / len({prof_words}) "
        f"ELSE 0.0 END)"
    )
    punctratio = (
        "(CASE WHEN length(text) > 0 THEN "
        "CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END)"
    )
    meanwl = (
        f"(CASE WHEN len({prof_words}) > 0 THEN "
        f"CAST(list_reduce(list_transform({prof_words}, w -> length(w)), (x, y) -> x + y) AS DOUBLE)"
        f" / len({prof_words}) ELSE 0.0 END)"
    )
    quality = (
        f"round(least(length(text) / 400.0, 1.0) * 0.3 + least({stopratio} * 5.0, 1.0) * 0.3 "
        f"+ greatest(1.0 - {punctratio} * 4.0, 0.0) * 0.2 "
        f"+ (CASE WHEN {meanwl} >= 3.0 AND {meanwl} <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)"
    )
    h31_s = _H31.format(x="s")
    h31_word = _H31.format(x="word")
    simhash_votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(16)
    )
    simhash_bits = " + ".join(f"(CASE WHEN v{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(16))
    sig_cols = ", ".join(f"{_minhash_sql(i)} AS mh_{i}" for i in range(4))
    sig_cols16 = ", ".join(f"{_minhash_sql(i)} AS mh_{i}" for i in range(NEAR_DUP_HASHES))
    nd_rows = NEAR_DUP_HASHES // NEAR_DUP_BANDS

    def band_key16(b: int) -> str:
        concat = ", '_', ".join(f"CAST(mh_{b * nd_rows + r} AS VARCHAR)" for r in range(nd_rows))
        return _H60.format(x=f"CONCAT({concat})")

    nd_buckets = "\n                UNION ALL\n                ".join(
        f"SELECT doc_id, {b} AS band_id, {band_key16(b)} AS band_key FROM sig"
        for b in range(NEAR_DUP_BANDS)
    )
    pbk_buckets = "\n                UNION ALL\n                ".join(
        f"SELECT doc_id, {b} AS band_id, {band_key16(b)} AS band_key FROM psig"
        for b in range(NEAR_DUP_BANDS)
    )
    jacc_sh = _shingles("text", 3)

    def _fold_sql(read_expr: str) -> str:
        return f"""
            WITH ev AS (SELECT * FROM {read_expr}),
            m AS (SELECT partition_id AS rb_partition_id, rollback_point AS rb_point,
                         delivery_seq AS rb_delivery
                  FROM ev WHERE op = 'rollback'),
            live AS (
                SELECT e.* FROM ev e
                WHERE e.op <> 'rollback'
                  AND NOT EXISTS (SELECT 1 FROM m
                                  WHERE m.rb_partition_id = e.partition_id
                                    AND e.seqno > m.rb_point
                                    AND e.delivery_seq < m.rb_delivery)),
            w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                               ORDER BY seqno DESC, delivery_seq DESC) AS rn
                  FROM live)
            SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, role, text, tool, ts
            FROM w WHERE rn = 1 AND op = 'mutation'
        """

    fold_sql = _fold_sql(f"read_parquet('{flagship_path}')")
    evolved_fold_sql = _fold_sql(f"read_parquet('{evolved_path}/*.parquet', union_by_name=true)")

    return {
        "cdc_lww_fold": """
            SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                   CAST(round(value * 100) AS BIGINT) AS last_cents
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "cdc_hwm_dedup": """
            WITH hwm AS (SELECT user_id, max(event_id) AS hwm FROM events WHERE event_id < 500 GROUP BY user_id)
            SELECT e.user_id, count(*) AS n_fresh, min(e.event_id) AS first_fresh
            FROM events e LEFT JOIN hwm h ON e.user_id = h.user_id
            WHERE e.event_id > coalesce(h.hwm, -1)
            GROUP BY e.user_id
        """,
        "cdc_count_by_op": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM events GROUP BY event_type
        """,
        "cdc_offsets": """
            SELECT user_id % 8 AS partition_id, min(event_id) AS first_offset,
                   max(event_id) AS last_offset, count(*) AS n_events
            FROM events GROUP BY user_id % 8
        """,
        "cdc_route": """
            SELECT CASE WHEN event_type IN ('login', 'signup') THEN 'auth_topic'
                        WHEN event_type = 'purchase' THEN 'orders_topic'
                        ELSE 'misc_topic' END AS target, count(*) AS n
            FROM events GROUP BY 1
        """,
        "cdc_explode": """
            SELECT event_id, copy_idx,
                   CAST(round(value * 100) AS BIGINT) * copy_idx AS scaled_cents
            FROM events, unnest([1, 2]) AS t(copy_idx)
            WHERE event_id < 1000
        """,
        "cdc_merge_upsert": """
            WITH t AS (SELECT CAST(max(event_id) / 2 AS BIGINT) v FROM events),
            target AS (
                SELECT user_id, max(event_id) AS version,
                       arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS cents
                FROM events WHERE event_id <= (SELECT v FROM t) GROUP BY user_id),
            updates AS (
                SELECT user_id, max(event_id) AS version,
                       arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS cents
                FROM events WHERE event_id > (SELECT v FROM t) GROUP BY user_id)
            SELECT user_id, version, cents FROM target WHERE user_id NOT IN (SELECT user_id FROM updates)
            UNION ALL SELECT user_id, version, cents FROM updates
        """,
        "cdc_lineage": """
            SELECT user_id % 8 AS partition_id,
                   min(event_id) AS first_seqno, max(event_id) AS last_seqno,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(sum(CASE WHEN event_type NOT IN ('purchase', 'error') THEN 1 ELSE 0 END) AS BIGINT) AS n_other
            FROM events GROUP BY user_id % 8
        """,
        "cdc_full_fold": fold_sql,
        "cdc_type_widening": f"""
            SELECT k, x, f FROM (
                SELECT *, row_number() OVER (PARTITION BY k ORDER BY seqno DESC) AS rn
                FROM read_parquet('{materialize_widening_log()}/*.parquet', union_by_name=true))
            WHERE rn = 1
        """,
        "cdc_read_changes": f"""
            WITH old AS (
                SELECT k, v, n FROM read_parquet('{materialize_changes_fixture()}/part-0.parquet')
            ),
            ops AS (
                SELECT k, op, v, n FROM read_parquet('{materialize_changes_fixture()}/part-1.parquet')
            ),
            new AS (
                SELECT o.k, o.v, o.n FROM old o WHERE o.k NOT IN (SELECT k FROM ops)
                UNION ALL
                SELECT k, v, n FROM ops WHERE op = 'mutation'
            ),
            diff AS (
                SELECT
                    COALESCE(n2.k, o.k) AS k,
                    n2.v AS v,
                    CAST(n2.n AS DOUBLE) AS n,
                    CASE WHEN o.k IS NULL THEN 'insert'
                         WHEN n2.k IS NULL THEN 'delete'
                         WHEN (o.v IS DISTINCT FROM n2.v) OR (o.n IS DISTINCT FROM n2.n) THEN 'update'
                    END AS _change
                FROM old o FULL OUTER JOIN new n2 ON o.k = n2.k
            )
            SELECT k, v, n, _change FROM diff WHERE _change IS NOT NULL
        """,
        "cdc_drop_column": f"""
            WITH old AS (
                SELECT k, n FROM read_parquet('{materialize_changes_fixture()}/part-0.parquet')
            ),
            ops AS (
                SELECT k, op, n FROM read_parquet('{materialize_changes_fixture()}/part-1.parquet')
            ),
            folded AS (
                SELECT o.k, o.n FROM old o WHERE o.k NOT IN (SELECT k FROM ops)
                UNION ALL
                SELECT k, n FROM ops WHERE op = 'mutation'
            )
            SELECT k, n, CAST(NULL AS VARCHAR) AS v FROM folded
            UNION ALL
            SELECT k, k * 2 AS n, 're' || CAST(k AS VARCHAR) AS v
            FROM range(300, 310) AS t(k)
        """,
        "cdc_ivm_agg": f"""
            WITH old AS (
                SELECT k, v, n FROM read_parquet('{materialize_changes_fixture()}/part-0.parquet')
            ),
            ops AS (
                SELECT k, op, v, n FROM read_parquet('{materialize_changes_fixture()}/part-1.parquet')
            ),
            new AS (
                SELECT o.k, o.v, o.n FROM old o WHERE o.k NOT IN (SELECT k FROM ops)
                UNION ALL
                SELECT k, v, n FROM ops WHERE op = 'mutation'
            )
            SELECT substring(v, 1, 1) AS g,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(n) AS BIGINT) AS sum_n,
                   CAST(min(n) AS BIGINT) AS min_n,
                   CAST(max(n) AS BIGINT) AS max_n
            FROM new GROUP BY 1
        """,
        "cdc_rename_column": f"""
            WITH old AS (
                SELECT k, v AS val, n FROM read_parquet('{materialize_changes_fixture()}/part-0.parquet')
            ),
            ops AS (
                SELECT k, op, v AS val, n FROM read_parquet('{materialize_changes_fixture()}/part-1.parquet')
            )
            SELECT o.k, o.val, o.n FROM old o WHERE o.k NOT IN (SELECT k FROM ops)
            UNION ALL
            SELECT k, val, n FROM ops WHERE op = 'mutation'
        """,
        "cdc_assemble_convs": f"""
            WITH f AS ({fold_sql}),
            a AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
                         string_agg(role || ': ' || COALESCE(text, ''), chr(10) ORDER BY turn_idx) AS doc_text
                  FROM f GROUP BY conv_id)
            SELECT conv_id, n_turns,
                   CAST(length(doc_text) AS BIGINT) AS n_chars,
                   {_H60.format(x="doc_text")} AS doc_hash
            FROM a
        """,
        "cdc_sft_pairs": f"""
            WITH f AS ({fold_sql}),
            l AS (SELECT conv_id, turn_idx AS prompt_turn, role,
                         COALESCE(text, '') AS prompt_text,
                         lead(turn_idx) OVER w AS response_turn,
                         lead(role) OVER w AS next_role,
                         COALESCE(lead(text) OVER w, '') AS response_text
                  FROM f WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
            SELECT conv_id, prompt_turn, response_turn,
                   CAST(length(prompt_text) AS BIGINT) AS n_prompt_chars,
                   CAST(length(response_text) AS BIGINT) AS n_response_chars,
                   {_H60.format(x="prompt_text || '#>' || response_text")} AS pair_hash
            FROM l WHERE role = 'user' AND next_role = 'assistant'
        """,
        "cdc_schema_evolution": evolved_fold_sql,
        "cdc_to_profile": f"""
            WITH f AS ({fold_sql}),
            documents_cdc AS (
                SELECT {_H60.format(x="CONCAT(conv_id, '#', CAST(turn_idx AS VARCHAR))")} AS doc_id,
                       text
                FROM f)
            SELECT doc_id,
                   len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens_ws,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
                   CAST(round({stopratio}, 6) AS DOUBLE) AS stopword_ratio,
                   CAST(round({punctratio}, 6) AS DOUBLE) AS punct_ratio,
                   CAST({quality} AS DOUBLE) AS quality,
                   CASE WHEN {stopratio} >= 0.08 THEN 'en' ELSE 'other' END AS lang_pred,
                   list_min(list_transform({fingerprint_sh}, s -> {h31_s})) AS fingerprint
            FROM documents_cdc
        """,
        "sort_topk": """
            SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """,
        "join_agg": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "cdc_salted_rollup": """
            SELECT user_id, count(event_id) AS n_events,
                   max(CAST(round(value * 100) AS BIGINT)) AS max_cents,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM events GROUP BY user_id
        """,
        "tpch_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
                   count(*) AS n_items
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_topk_orders": """
            SELECT o_orderkey,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue_cents DESC, o_orderkey LIMIT 10
        """,
        "emb_knn_join": f"""
            WITH b AS (SELECT vec_id, embedding, {_SIGN_BUCKET.format(v="embedding")} AS bucket
                       FROM embeddings),
            q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM b WHERE vec_id < 20),
            j AS (SELECT q.q_id, c.vec_id,
                         CAST(round(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
                              (sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))) *
                               sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6)
                              AS DOUBLE) AS cosine
                  FROM b c JOIN q ON c.bucket = q.bucket),
            r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
                  FROM j)
            SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS keep_id
            FROM documents GROUP BY md5(text) HAVING count(*) >= 1
        """,
        "doc_text_profile": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens_ws,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
                   CAST(round({stopratio}, 6) AS DOUBLE) AS stopword_ratio,
                   CAST(round({punctratio}, 6) AS DOUBLE) AS punct_ratio,
                   CAST({quality} AS DOUBLE) AS quality,
                   CASE WHEN {stopratio} >= 0.08 THEN 'en' ELSE 'other' END AS lang_pred,
                   list_min(list_transform({fingerprint_sh}, s -> {h31_s})) AS fingerprint
            FROM documents
        """,
        "doc_minhash": f"""
            WITH s AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM documents)
            SELECT doc_id, {sig_cols} FROM s
        """,
        "doc_simhash": f"""
            WITH w AS (SELECT doc_id, unnest({_words("text")}) AS word FROM documents),
            h AS (SELECT doc_id, {h31_word} AS h FROM w),
            v AS (SELECT doc_id, {simhash_votes} FROM h GROUP BY doc_id)
            SELECT doc_id, CAST({simhash_bits} AS BIGINT) AS simhash FROM v
        """,
        "doc_near_dup": f"""
            WITH s AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM documents),
            sig AS (SELECT doc_id, {sig_cols16} FROM s),
            bk AS (
                {nd_buckets}),
            keep AS (SELECT band_id, band_key FROM bk
                     GROUP BY band_id, band_key HAVING count(*) <= {NEAR_DUP_CAP}),
            bk2 AS (SELECT bk.* FROM bk JOIN keep USING (band_id, band_key)),
            pairs AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM bk2 a JOIN bk2 b ON a.band_id = b.band_id AND a.band_key = b.band_key
                WHERE a.doc_id < b.doc_id),
            sd AS (SELECT doc_id, list_distinct({jacc_sh}) AS sh FROM documents)
            SELECT p.a_id, p.b_id,
                   CAST(round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                        len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS DOUBLE) AS jaccard
            FROM pairs p JOIN sd sa ON p.a_id = sa.doc_id JOIN sd sb ON p.b_id = sb.doc_id
            WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.8
        """,
        "doc_dup_clusters": f"""
            WITH RECURSIVE s AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM documents),
            sig AS (SELECT doc_id, {sig_cols16} FROM s),
            bk AS (
                {nd_buckets}),
            keep AS (SELECT band_id, band_key FROM bk
                     GROUP BY band_id, band_key HAVING count(*) <= {NEAR_DUP_CAP}),
            bk2 AS (SELECT bk.* FROM bk JOIN keep USING (band_id, band_key)),
            pairs AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM bk2 a JOIN bk2 b ON a.band_id = b.band_id AND a.band_key = b.band_key
                WHERE a.doc_id < b.doc_id),
            sd AS (SELECT doc_id, list_distinct({jacc_sh}) AS sh FROM documents),
            verified AS (
                SELECT p.a_id, p.b_id
                FROM pairs p JOIN sd sa ON p.a_id = sa.doc_id JOIN sd sb ON p.b_id = sb.doc_id
                WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                      len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.8),
            edges AS (SELECT a_id AS u, b_id AS v FROM verified
                      UNION SELECT b_id, a_id FROM verified),
            reach(u, r) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
            SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
        """,
        "doc_minhash_index": f"""
            WITH final AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 3 THEN text || ' updated' ELSE text END AS text
                FROM documents WHERE doc_id % 13 <> 7
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, 'new ' || text AS text
                FROM documents WHERE doc_id % 13 = 11
            ),
            s AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM final),
            sig AS (SELECT doc_id, {sig_cols16} FROM s),
            bk AS (
                {nd_buckets})
            SELECT doc_id, band_id, band_key, CAST(band_key % 32 AS INTEGER) AS part
            FROM bk
        """,
        "doc_minhash_sidecar": f"""
            WITH final AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 17 = 4 THEN text || ' sc-upd' ELSE text END AS text
                FROM documents WHERE doc_id % 17 <> 2
                UNION ALL
                SELECT doc_id + 40000000 AS doc_id, 'fresh ' || text AS text
                FROM documents WHERE doc_id % 17 = 9
            ),
            s AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM final),
            sig AS (SELECT doc_id, {sig_cols16} FROM s),
            bk AS (
                {nd_buckets})
            SELECT doc_id, band_id, band_key, CAST(band_key % 32 AS INTEGER) AS part
            FROM bk
        """,
        "doc_probe_verify": f"""
            WITH probes AS (
                SELECT doc_id + 20000000 AS doc_id, text || ' probe tail edit' AS text
                FROM documents WHERE doc_id % 61 = 5
                UNION ALL
                SELECT doc_id, text || ' edited v2' AS text
                FROM documents WHERE doc_id % 61 = 2
                UNION ALL
                SELECT doc_id + 30000000 AS doc_id,
                       'zz yy xx ww vv uu tt ss rr qq pp oo' AS text
                FROM documents WHERE doc_id % 61 = 9
            ),
            cs AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM documents),
            sig AS (SELECT doc_id, {sig_cols16} FROM cs),
            cbk AS (
                {nd_buckets}),
            ps AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM probes),
            psig AS (SELECT doc_id, {sig_cols16} FROM ps),
            pbk AS (
                {pbk_buckets}),
            cand AS (
                SELECT DISTINCT p.doc_id AS a_id, c.doc_id AS b_id
                FROM pbk p JOIN cbk c
                  ON p.band_id = c.band_id AND p.band_key = c.band_key
                WHERE c.doc_id <> p.doc_id),
            vt AS (
                SELECT * FROM probes
                UNION ALL
                SELECT d.doc_id, d.text FROM documents d
                WHERE d.doc_id NOT IN (SELECT doc_id FROM probes)),
            sd AS (SELECT doc_id, list_distinct({jacc_sh}) AS sh FROM vt)
            SELECT c.a_id, c.b_id,
                   CAST(round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                        len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS DOUBLE) AS jaccard
            FROM cand c JOIN sd sa ON c.a_id = sa.doc_id JOIN sd sb ON c.b_id = sb.doc_id
            WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.5
        """,
        "emb_ivf_mat": _ivf_sql(nprobe=1),
        "doc_clean_corpus": f"""
            WITH RECURSIVE s AS (SELECT doc_id, {_shingles("text", 3)} AS sh FROM documents),
            sig AS (SELECT doc_id, {sig_cols16} FROM s),
            bk AS (
                {nd_buckets}),
            keep AS (SELECT band_id, band_key FROM bk
                     GROUP BY band_id, band_key HAVING count(*) <= {NEAR_DUP_CAP}),
            bk2 AS (SELECT bk.* FROM bk JOIN keep USING (band_id, band_key)),
            pairs AS (
                SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM bk2 a JOIN bk2 b ON a.band_id = b.band_id AND a.band_key = b.band_key
                WHERE a.doc_id < b.doc_id),
            sd AS (SELECT doc_id, list_distinct({jacc_sh}) AS sh FROM documents),
            verified AS (
                SELECT p.a_id, p.b_id
                FROM pairs p JOIN sd sa ON p.a_id = sa.doc_id JOIN sd sb ON p.b_id = sb.doc_id
                WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                      len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.8),
            edges AS (SELECT a_id AS u, b_id AS v FROM verified
                      UNION SELECT b_id, a_id FROM verified),
            reach(u, r) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
            clusters AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
            losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id),
            keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            q AS (SELECT doc_id, CAST({quality} AS DOUBLE) AS quality FROM documents)
            SELECT d.doc_id, q.quality
            FROM documents d
            JOIN keepers k ON d.doc_id = k.doc_id
            LEFT JOIN losers l ON d.doc_id = l.doc_id
            JOIN q ON d.doc_id = q.doc_id
            WHERE l.doc_id IS NULL AND q.quality >= 0.4
        """,
        "doc_dedup_ivm": """
            WITH final AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 3 THEN text || ' updated' ELSE text END AS text
                FROM documents WHERE doc_id % 13 NOT IN (7, 2)
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text
                FROM documents WHERE doc_id % 13 = 11
                UNION ALL
                SELECT doc_id + 20000000 AS doc_id, text
                FROM documents WHERE doc_id % 13 = 2
            )
            SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies,
                   min(doc_id) AS keeper_id
            FROM final GROUP BY md5(text)
        """,
        "doc_vocab_ivm": f"""
            WITH final AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 3 THEN text || ' updated' ELSE text END AS text
                FROM documents WHERE doc_id % 13 <> 7
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, 'new ' || text AS text
                FROM documents WHERE doc_id % 13 = 11
            )
            SELECT word, CAST(count(*) AS BIGINT) AS df
            FROM (SELECT doc_id, unnest(list_distinct({_words("text")})) AS word FROM final)
            GROUP BY word
        """,
        "doc_vocab_topk": f"""
            SELECT word, count(*) AS df
            FROM (SELECT doc_id, unnest(list_distinct({_words("text")})) AS word FROM documents)
            GROUP BY word ORDER BY df DESC, word LIMIT 50
        """,
        "doc_split_assign": f"""
            SELECT doc_id,
                   CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         {_H60.format(x="CONCAT('split-v1', '#', CAST(doc_id AS VARCHAR))")} % 100 AS h
                  FROM documents)
        """,
        "doc_contamination": f"""
            WITH b AS (
                SELECT DISTINCT {_H60.format(x="s")} AS sh_h
                FROM (SELECT unnest(list_distinct({_shingles("text", 3)})) AS s
                      FROM documents WHERE doc_id < 20)),
            c AS (
                SELECT doc_id, {_H60.format(x="s")} AS sh_h
                FROM (SELECT doc_id, unnest(list_distinct({_shingles("text", 3)})) AS s
                      FROM documents WHERE doc_id >= 20))
            SELECT doc_id, count(*) AS n_hits FROM c JOIN b USING (sh_h) GROUP BY doc_id
        """,
        "doc_repetition": f"""
            WITH g AS (
                SELECT doc_id, unnest({_shingles("text", 2)}) AS gram FROM documents),
            c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2),
            a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
                         CAST(count(*) AS BIGINT) AS dist, max(n) AS top
                  FROM c GROUP BY 1)
            -- LEFT JOIN from documents: a doc shorter than the gram width
            -- yields no unnest rows but must stay in the output with both
            -- fractions DEFINED as 0.0 (engine twin does the same)
            SELECT d.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
                   CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
                        ELSE round((a.n_grams - a.dist) / CAST(a.n_grams AS DOUBLE), 6)
                   END AS dup_gram_frac,
                   CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
                        ELSE round(a.top / CAST(a.n_grams AS DOUBLE), 6)
                   END AS top_gram_frac
            FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
        """,
        "doc_mixture_sample": f"""
            WITH h AS (
                SELECT doc_id, source,
                       {_H60.format(x="CONCAT('mix-v1', '#', CAST(doc_id AS VARCHAR))")} % 1000000 AS hh,
                       CASE source WHEN 'src0' THEN 0.0 WHEN 'src1' THEN 0.25
                                   WHEN 'src2' THEN 0.5 ELSE 0.75 END AS rate
                FROM documents)
            SELECT source, count(*) AS n_kept, min(doc_id) AS first_doc
            FROM h WHERE hh < CAST(rate * 1000000 AS BIGINT) GROUP BY source
        """,
        "doc_dedup_segments": f"""
            WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[^\\s]+') AS ws FROM documents),
            s0 AS (SELECT doc_id,
                          [array_to_string(ws[i*8+1 : i*8+8], ' ')
                           for i in range(0, CAST(ceil(len(ws) / 8.0) AS INT))] AS segs
                   FROM w),
            s AS (SELECT doc_id, unnest(segs) AS seg,
                         generate_subscripts(segs, 1) - 1 AS pos
                  FROM s0),
            k AS (SELECT doc_id, pos, seg FROM
                    (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM s)
                  WHERE rn = 1),
            r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                         string_agg(seg, ' ' ORDER BY pos) AS clean_text
                  FROM k GROUP BY doc_id)
            SELECT w.doc_id,
                   CAST(ceil(len(w.ws) / 8.0) AS BIGINT) AS n_segments,
                   COALESCE(r.n_kept, 0) AS n_kept,
                   {_H60.format(x="COALESCE(r.clean_text, '')")} AS clean_hash
            FROM w LEFT JOIN r USING (doc_id)
        """,
        "doc_pii_mask": _pii_sql(),
        "doc_pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '[^\\s]+')) AS BIGINT) AS n_tokens
                FROM documents),
            o AS (
                SELECT doc_id, n_tokens,
                       CAST(COALESCE(SUM(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS global_off
                FROM t)
            SELECT doc_id, n_tokens, global_off,
                   CAST(global_off // 2048 AS BIGINT) AS window_id,
                   CAST(global_off % 2048 AS BIGINT) AS offset_in_window
            FROM o
        """,
        "events_sessionize": """
            WITH e AS (
                SELECT user_id, event_id, ts,
                       CAST(floor(epoch(ts)) AS BIGINT) AS sec
                FROM events),
            s AS (
                SELECT user_id, event_id, ts, sec,
                       CASE WHEN lag(sec) OVER w IS NULL THEN 0
                            WHEN sec - lag(sec) OVER w > 28800 THEN 1 ELSE 0 END AS is_new
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            x AS (
                SELECT user_id, sec,
                       CAST(SUM(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
                FROM s)
            SELECT user_id, session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec
            FROM x GROUP BY user_id, session_idx
        """,
        "events_windowed_rates": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2, 3
        """,
        "emb_cosine_topk": f"""
            SELECT e.vec_id, CAST({_COS} AS DOUBLE) AS cosine
            FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            ORDER BY cosine DESC, e.vec_id LIMIT 10
        """,
        "emb_ann_lsh": f"""
            WITH q AS (SELECT embedding, {_SIGN_BUCKET.format(v="embedding")} AS bucket
                       FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, CAST({_COS} AS DOUBLE) AS cosine
            FROM embeddings e, q
            WHERE {_SIGN_BUCKET.format(v="e.embedding")} = q.bucket
            ORDER BY cosine DESC, e.vec_id LIMIT 10
        """,
        "emb_ivf_topk": _ivf_sql(nprobe=1),
        "emb_ivf_nprobe": _ivf_sql(nprobe=4),
        "emb_ivf_kmeans": _ivf_kmeans_sql(),
        "media_features": f"""
            SELECT doc_id AS media_id,
                   ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   {", ".join(
                       f"round(CAST(CONCAT('0x', substr(md5(text), {2 * j + 1}, 2)) AS INTEGER) / 255.0, 6) AS f{j}"
                       for j in range(8)
                   )}
            FROM documents
        """,
        "media_frames": """
            WITH v AS (SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS nb
                       FROM documents WHERE doc_id % 3 = 2),
            f AS (SELECT media_id, nb, unnest(range(least(4, greatest(1, nb // 256)))) AS fi FROM v)
            SELECT media_id, CAST(fi AS INTEGER) AS frame_idx,
                   CAST(least(256, nb - fi * 256) AS BIGINT) AS n_frame_bytes
            FROM f
        """,
        "media_resize": """
            SELECT doc_id AS media_id, CAST(16 AS INTEGER) AS out_w, CAST(16 AS INTEGER) AS out_h,
                   CAST(least(strlen(text), 256) AS BIGINT) AS n_bytes_out
            FROM documents WHERE doc_id % 3 = 0
        """,
        "emb_dup_clusters": f"""
            WITH RECURSIVE b AS (SELECT vec_id, embedding, {_SIGN_BUCKET.format(v="embedding")} AS bucket
                       FROM embeddings),
            verified AS (
                SELECT a.vec_id AS a_id, e.vec_id AS b_id
                FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id < e.vec_id
                WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
                      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) >= 0.2),
            edges AS (SELECT a_id AS u, b_id AS v FROM verified
                      UNION SELECT b_id, a_id FROM verified),
            reach(u, r) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
            SELECT u AS vec_id, min(r) AS cluster_id FROM reach GROUP BY u
        """,
        "emb_near_dup": f"""
            WITH b AS (SELECT vec_id, embedding, {_SIGN_BUCKET.format(v="embedding")} AS bucket
                       FROM embeddings)
            SELECT a.vec_id AS a_id, e.vec_id AS b_id,
                   CAST(round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
                        (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                         sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6)
                        AS DOUBLE) AS cosine
            FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id < e.vec_id
            WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
                  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) >= 0.2
        """,
    }
