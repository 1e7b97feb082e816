"""Regenerate PLANS.md — physical plans of the core operators.

Run: python tools/dump_plans.py
(The capture logic lives here so the artifact is reproducible.)
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from go_dcp_kafka_spark.functions.normalize import normalize_text_col  # noqa: E402
from go_dcp_kafka_spark.gen import GenConfig, generate_change_events, write_change_log  # noqa: E402
from go_dcp_kafka_spark.operators.fold import fold_change_events, hwm_filter  # noqa: E402
from go_dcp_kafka_spark.session import get_spark  # noqa: E402
from go_dcp_kafka_spark.sources.changelog import read_change_log  # noqa: E402


def main() -> None:
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    res = generate_change_events(GenConfig(seed=1, n_convs=60, n_partitions=8))
    d = tempfile.mkdtemp()
    write_change_log(res.events, d, n_files=2, evolution_boundary=res.meta["evolution_boundary"])
    ev = read_change_log(spark, d)

    sections = []

    def cap(title, df, note):
        plan = df._jdf.queryExecution().executedPlan().toString()
        sections.append(f"## {title}\n\n{note}\n\n```\n{plan[:3000]}\n```\n")

    cap(
        "Full-log CDC fold (rollback invalidation + LWW winners + normalize)",
        fold_change_events(ev, normalize_text=normalize_text_col("text")),
        "ONE hash exchange total (the LWW groupBy with map-side partial max_by); "
        "rollback markers enter via BroadcastNestedLoopJoin (tiny control set, "
        "non-equi condition); normalization is a post-agg projection inside the "
        "same whole-stage-codegen span.",
    )
    hwm = spark.createDataFrame([(0, 10)], "partition_id int, hwm_seqno long")
    cap(
        "HWM duplicate filter",
        hwm_filter(ev.filter(F.col("op") != "rollback"), hwm),
        "BroadcastHashJoin against the <=1024-row checkpoint state - the event "
        "stream itself is never shuffled for dedup.",
    )
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cap(
        "Pushdown + pruning (representative scan)",
        li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity"),
        "PushedFilters reach the parquet scan; ReadSchema carries only the projected columns.",
    )
    import __spark_entry__ as e

    cap(
        "Embedding cosine top-k",
        e.queries()["emb_cosine_topk"](spark, "/root/testdata/sf0.001"),
        "TakeOrderedAndProject: per-partition heap + driver merge, no global sort shuffle.",
    )

    from go_dcp_kafka_spark.functions.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cap(
        "IVF cell assignment (shuffle-free argmax)",
        ivf_assign(emb, cents),
        "The corpus scan flows through ONE BroadcastNestedLoopJoin against a "
        "single packed centroid-array row, then a per-row F.aggregate argmax "
        "projection — no Window, no hashpartitioning Exchange, no N×K "
        "materialization (the round-1 crossJoin+row_number would shuffle "
        "~10^15 rows at 10^10 vectors). The only exchanges sit on the K-row "
        "centroid side (SinglePartition + Broadcast).",
    )

    from go_dcp_kafka_spark.functions.similarity import (
        ivf_topk_materialized,
        materialize_ivf,
    )

    ivf_dir = os.path.join(tempfile.mkdtemp(), "ivf")
    materialize_ivf(emb, cents, ivf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cap(
        "IVF search over the materialized cell-partitioned table (file pruning)",
        ivf_topk_materialized(spark, ivf_dir, qv, k=5, nprobe=2),
        "The probe filter is a PartitionFilter on the scan (DataFilters: []): "
        "Spark lists only the nprobe probed cell directories and never opens "
        "the rest — executed-scan metrics in test_plans show 2 of 8 cells "
        "read. This is the storage-pruning property inline ivf_topk cannot "
        "have, and the reason the corpus is materialized partitionBy(cell).",
    )

    from go_dcp_kafka_spark.functions.corpus import pack_sequences, pii_mask
    from go_dcp_kafka_spark.operators.sessionize import session_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap(
        "PII masking (pure projection)",
        pii_mask(docs),
        "The whole regexp_count/regexp_replace chain is a single Project "
        "inside one WholeStageCodegen span over the scan — zero exchanges, "
        "zero Python. At 100 TB this is scan-bound.",
    )
    cap(
        "Sequence packing (distributed exclusive prefix-sum)",
        pack_sequences(docs, window_tokens=2048, num_parts=4),
        "Global token offsets WITHOUT a single-partition global window: the "
        "range exchange is materialized by localCheckpoint (Scan ExistingRDD "
        "here); the data-scale Window is PARTITIONED by _pid (parallel); the "
        "only SinglePartition exchange carries the P-row partition-bases "
        "frame, which broadcast-joins back. Per-row work is O(1).",
    )
    cap(
        "Sessionization + per-session rollup",
        session_stats(
            spark.read.parquet("/root/testdata/sf0.001/events.parquet"),
            gap_seconds=28800,
        ),
        "One hash exchange on user_id feeds the lag/cumsum windows; the "
        "per-session groupBy partial-aggregates map-side on the same key "
        "prefix. No global sort, no driver state.",
    )

    # ---- r4: bucket-local MOR read + point lookup + transcript exports ----
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    tdir = os.path.join(tempfile.mkdtemp(), "t")
    t = SnapshotTable(spark, tdir, ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")
    t.merge_mor(spark.createDataFrame([(7, "new")], ["k", "v"]), None, epoch_id="d1", n_updates=1)
    cap(
        "MOR read with outstanding deltas (bucket-local LWW resolution)",
        t.read(),
        "Union of two branches: the LWW SortAggregate+Exchange covers ONLY "
        "the delta-touched bucket's scan unioned with the delta scan "
        "(executed metrics in test_plans: 56 records shuffled of 401), and "
        "the untouched base buckets pass through as a bare scan with NO "
        "exchange. Between compactions a 100-TB read pays a shuffle "
        "proportional to the touched slice, not the table.",
    )
    cap(
        "Point lookup via read_keys (probe-bucket pruning)",
        t.read_keys(spark.createDataFrame([(7,), (123,)], ["k"])),
        "Only the probed keys' bucket dirs appear in the scan (2 of 8 files "
        "read, pinned by executed metrics in test_plans); the final "
        "left_semi against the probe keys is a BroadcastHashJoin — the "
        "reference's O(1)-by-key document fetch, table-side.",
    )

    from go_dcp_kafka_spark.functions.transcripts import assemble_conversations, sft_pairs

    folded = fold_change_events(ev)
    cap(
        "Conversation assembly (one training document per conv)",
        assemble_conversations(folded),
        "The fold's key exchange feeds a conv_id-grouped ObjectHashAggregate "
        "(collect_list partial-aggregates map-side); turn ordering is a "
        "per-row array_sort bounded by conversation length — no global "
        "orderBy anywhere.",
    )
    cap(
        "SFT (prompt, response) pair extraction",
        sft_pairs(folded),
        "One hash exchange on conv_id feeds the lead() window; the "
        "filter is a projection on top. No global sort, no driver state.",
    )

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    td = tempfile.mkdtemp()
    tbl = SnapshotTable(spark, os.path.join(td, "t"), ("k",), num_buckets=8)
    tbl.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="p0"
    )
    v1 = tbl.version()
    tbl.merge(spark.createDataFrame([(7, "new7")], ["k", "v"]), None, epoch_id="p1", n_updates=1)
    cap(
        "Manifest-pruned incremental read_changes (one-bucket change)",
        tbl.read_changes(v1),
        "The two snapshots' manifests are diffed DRIVER-side (per-bucket dir "
        "refs + delta signatures) before any scan: only the one changed "
        "bucket's file appears on each side of the full-outer diff join — a "
        "CDC consumer's poll costs O(changed), never a double full-table "
        "scan (r5 verdict item 1).",
    )

    tbl.merge_mor(
        spark.createDataFrame([(9, "d9")], ["k", "v"]), None, epoch_id="p2", n_updates=1
    )
    cap(
        "Appended-delta read_changes fast path (the per-epoch consumer poll)",
        tbl.read_changes(tbl.version() - 1),
        "Only MOR deltas landed since from_version, so the change set is "
        "computed from the DELTA FILES alone (LWW winners across appended "
        "epochs); old values are probed bucket-pruned with a broadcast "
        "semi-join + point-poll IN pushdown — O(delta) + matching row "
        "groups, no bucket-state resolve on either side (r5).",
    )

    from go_dcp_kafka_spark.operators.ivm import agg_deltas

    cap(
        "IVM group-delta aggregation (before/after retraction)",
        agg_deltas(tbl.read_changes(v1, include_old=True), ["v"], ["k"], minmax_cols=["k"]),
        "Each change explodes into at most two contribution rows (retract "
        "from the before-image's group, apply to the after group), then ONE "
        "HashAggregate pair (partial map-side + final) on the group key — a "
        "Zipf-hot group's ±1/±value contributions combine locally; never a "
        "per-group window sort. MIN/MAX maintenance rides the SAME pair "
        "(four extra null-skipping min/max expressions per column, no "
        "second shuffle); its bounded recompute scan appears only on epochs "
        "that retract a stored extremum without re-establishing it. "
        "Downstream, apply_agg_deltas folds the deltas into the aggregate "
        "table with one read and one rewrite of the touched view buckets "
        "(rewrite_buckets): O(changed) view maintenance.",
    )

    cap(
        "IVM reserve-mode delta aggregation (r6: two-level salted, R-bounded buffers)",
        agg_deltas(
            tbl.read_changes(v1, include_old=True),
            ["v"],
            ["k"],
            reserve_r=4,
            reserve_min_cols=["k"],
        ),
        "Reserve mode swaps the MIN/MAX scalars for R-bounded extrema "
        "arrays: TWO combinable HashAggregate pairs — a spark_partition_id-"
        "salted pre-level caps every collect buffer at R elements, the "
        "final merge flattens ≤ splits×R per group — so a Zipf-hot group's "
        "epoch never builds an unbounded collect_list buffer. Downstream "
        "the reserve CONSUMES extremum retractions (array aggregate + "
        "positional splice per changed group, driver-free) and the bounded "
        "recompute scan fires only when R extremum-side deletions exhaust "
        "a group's reserve.",
    )

    from go_dcp_kafka_spark.functions.dedup_index import (
        materialize_minhash,
        probe_near_dups,
    )

    corpus = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.format_string("w%d", (F.col("id") * 7 + j) % 50) for j in range(30)]
        ).alias("text"),
    )
    mh_dir = os.path.join(tempfile.mkdtemp(), "mh")
    materialize_minhash(corpus, mh_dir, num_parts=16)
    cap(
        "Near-dup probe over the materialized MinHash-LSH index (partition pruning)",
        probe_near_dups(spark, mh_dir, corpus.filter(F.col("doc_id") == 10)),
        "The probe docs' band keys become a PartitionFilter `part IN (...)` "
        "on the index scan — Spark lists only bands×probes of the num_parts "
        "directories (executed metrics in test_dedup_index: ≤4 of 16) — plus "
        "a `band_key IN` PushedFilter that row-group-stats-skips inside each "
        "listed partition (files are (band_key, doc_id)-sorted at write). "
        "The per-epoch 'did this CDC poll introduce duplicates?' check is "
        "O(changed), never an index scan.",
    )

    from go_dcp_kafka_spark.functions.dedup_index import probe_and_verify

    pv_t = SnapshotTable(
        spark, os.path.join(tempfile.mkdtemp(), "pv_t"), ("doc_id",), num_buckets=8
    )
    pv_t.overwrite(corpus, epoch_id="p0")
    probe = corpus.filter(F.col("doc_id") == 10).select(
        (F.col("doc_id") + 1000).alias("doc_id"), F.concat("text", F.lit(" x")).alias("text")
    )
    cap(
        "probe_and_verify: candidates → bucket-pruned text fetch → exact jaccard",
        probe_and_verify(spark, mh_dir, probe, pv_t, threshold=0.5),
        "The complete O(changed) epoch dup check: the partition-pruned "
        "candidate set (previous section, materialized poll-sized via "
        "localCheckpoint — the `Scan ExistingRDD` leaves below) drives a "
        "read_keys point fetch (only the matched docs' bucket dirs are "
        "listed, key IN PushedFilter — executed file-count metrics pinned "
        "in test_plans/test_dedup_index; the fetch sits behind the "
        "checkpointed shingle frame here), and the exact-jaccard verify is "
        "two BroadcastHashJoins because every side is poll-sized. Neither "
        "the corpus nor the index is ever scanned in full.",
    )

    from go_dcp_kafka_spark.functions.corpus import vocab_deltas

    pv_v = pv_t.version()
    pv_t.merge_mor(
        corpus.filter(F.col("doc_id") == 5).select(
            "doc_id", F.concat("text", F.lit(" extra")).alias("text")
        ),
        None,
        epoch_id="p1",
        n_updates=1,
    )
    cap(
        "Vocabulary maintenance deltas (IVM through the tokenizer flat-map)",
        vocab_deltas(pv_t.read_changes(pv_v, include_old=True)),
        "After-images explode to +1 per distinct token, before-images to "
        "−1, then the SAME partial+final HashAggregate pair as the group-"
        "delta plan above — a stopword's ±1s combine map-side. The trailing "
        "Filter drops net-zero words (an edit keeping a word), so "
        "apply_agg_deltas' bucket rewrite never touches their groups: the "
        "common small-edit epoch maintains a 10^8-word vocabulary by "
        "touching a handful of word rows.",
    )

    out = (
        "# PLANS — physical plans of the core operators (captured from .explain)\n\n"
        "Regenerate: `python tools/dump_plans.py` (this file).\n\n" + "\n".join(sections)
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out)
    print("PLANS.md written")


if __name__ == "__main__":
    main()
