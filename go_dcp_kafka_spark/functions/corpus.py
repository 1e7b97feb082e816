"""Corpus-level operators for training-data pipelines: vocabulary building,
deterministic dataset splits, benchmark decontamination, PII scrubbing, and
context-window sequence packing.

Each is Spark-first and scale-shaped:

- vocab:          explode distinct tokens per doc -> ONE groupBy shuffle with
                  map-side combine -> TakeOrderedAndProject (no global sort)
- split_assign:   pure projection (hash mod buckets) — reproducible
                  train/val/test membership with NO sampling state, stable
                  under corpus growth (a doc's split never changes)
- contamination:  benchmark n-gram set is SMALL -> broadcast hash join
                  against the exploded corpus shingles; the corpus is never
                  shuffled, the benchmark never collected per-row
- pii_mask:       pure projection — a fixed chain of JVM-side regexp_replace
                  (whole-stage codegen), zero shuffles, zero Python
- pack_sequences: distributed exclusive prefix-sum (range partition ->
                  per-partition window -> broadcast of P partition bases) —
                  the single-partition Window.orderBy trap is exactly what
                  this avoids at 10^10 docs
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from go_dcp_kafka_spark.functions.dedup_text import _word_shingles
from go_dcp_kafka_spark.functions.hashing import md5_hash60
from go_dcp_kafka_spark.functions.textstats import WS_TOKEN_RE, token_count_ws


def vocab_topk(docs: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Top-k tokens by DOCUMENT frequency (each doc votes once per distinct
    token — the vocabulary/BPE-seed statistic, robust to one doc repeating a
    word 10^6 times). One shuffle (partial counts map-side), then a
    driver-side top-k merge. Ties break lexicographically for determinism."""
    words = F.array_distinct(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WS_TOKEN_RE), 0)
    )
    return (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.col("word"))
        .limit(k)
    )


def vocab_deltas(
    changes: DataFrame,
    text_col: str = "text",
    before_col: str = "_before",
    change_col: str = "_change",
) -> DataFrame:
    """Per-word DOCUMENT-frequency deltas from a before/after change feed
    (``read_changes(..., include_old=True)``) — the IVM contribution step
    (operators/ivm.py) composed through the tokenizer flat-map: every
    after-image applies +1 per distinct token, every before-image retracts
    −1 per distinct token (same tokenization as :func:`vocab_topk`, so the
    maintained view and the from-scratch statistic agree exactly).

    One map-side-combinable shuffle on ``word`` — a Zipf-hot stopword's
    ±1s combine locally instead of routing every contribution row to one
    task. Words whose net delta is 0 (a doc edit that KEEPS the word —
    the overwhelmingly common case for small edits) are dropped here, so
    the downstream probe/merge never touches their groups."""

    def words(c):
        return F.array_distinct(F.regexp_extract_all(F.lower(c), F.lit(WS_TOKEN_RE), 0))

    after = changes.filter(F.col(change_col) != "delete").select(
        F.explode(words(F.col(text_col))).alias("word"), F.lit(1).alias("_c")
    )
    before = changes.filter(F.col(before_col).isNotNull()).select(
        F.explode(words(F.col(before_col)[text_col])).alias("word"),
        F.lit(-1).alias("_c"),
    )
    return (
        after.unionByName(before)
        .groupBy("word")
        .agg(F.sum("_c").cast("long").alias("_d_count"))
        .filter(F.col("_d_count") != 0)
    )


def maintain_vocab(
    vocab_table,
    base_table,
    from_version: int,
    text_col: str = "text",
    count_col: str = "df",
    epoch_id: str | None = None,
) -> dict:
    """One maintenance cycle for a CDC-tracked vocabulary table (keyed by
    ``word``, carrying ``count_col`` = document frequency): everything that
    happened to ``base_table`` since ``from_version`` folds into the view
    at O(changed docs × their tokens) — changelog read (manifest-pruned)
    → :func:`vocab_deltas` → one read and one rewrite of the touched
    vocabulary buckets (words reaching df=0 are deleted, new words
    appear). The single-maintainer contract of ``maintain_agg`` applies.
    Reference analog:
    consumers apply only the appended log segment, never re-reading the
    topic (/root/reference/kafka/client.go:220-233) — this is that cost
    model for a derived vocabulary."""
    from go_dcp_kafka_spark.operators.ivm import apply_agg_deltas

    ch = base_table.read_changes(from_version=from_version, include_old=True)
    return apply_agg_deltas(
        vocab_table,
        vocab_deltas(ch, text_col=text_col),
        count_col=count_col,
        epoch_id=epoch_id if epoch_id is not None else f"vocab-{base_table.version()}",
    )


def split_assign(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment: split = f(md5(salt#id)).
    A pure projection — no sampling state, no shuffle; membership is
    reproducible across runs/clusters and STABLE under corpus growth (new
    docs never move old docs between splits, unlike fraction-based
    `randomSplit`). ``salt`` versions the split so a pipeline can cut a
    fresh one without touching the old."""
    h = F.pmod(md5_hash60(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))), F.lit(100))
    split = (
        F.when(h < train_pct, F.lit("train"))
        .when(h < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(F.col(id_col), split.alias("split"))


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    shingle_words: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= 1 ``shingle_words``-
    gram with ANY benchmark doc (the n-gram-overlap test training pipelines
    run before a release). Returns (doc_id, n_hits = distinct contaminated
    shingles) for contaminated non-benchmark docs.

    Scale shape: the benchmark side is small by definition -> its distinct
    shingle hashes broadcast; the corpus explodes shingles ONCE and
    broadcast-joins — the corpus is never shuffled by the join (only the
    final per-doc count aggregates, map-side combined)."""
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(_word_shingles(text_col, shingle_words))).alias("sh")
        )
        .select(md5_hash60(F.col("sh")).alias("sh_h"))
        .distinct()
    )
    bench_ids = benchmark.select(F.col(id_col)).distinct()
    # r7: the corpus-side shingle hashing runs in the Arrow kernel
    # (np_exact.shingle_hashes_np, pinned bit-equal to the JVM explode +
    # md5_hash60 chain) — it was the dominant cost of the check; the
    # broadcast join + per-doc count stay JVM-side
    from go_dcp_kafka_spark.functions.np_exact import shingle_hashes_np

    corpus_sh = shingle_hashes_np(
        docs.join(F.broadcast(bench_ids), id_col, "left_anti"),
        text_col,
        shingle_words,
        id_col=id_col,
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


#: (name, pattern, replacement) applied IN ORDER — each pattern counts and
#: masks the output of the previous one, so the fold is well-defined and
#: reproducible in any regex engine that finds leftmost non-overlapping
#: matches (Java here, RE2 in the DuckDB oracle). Patterns stay inside the
#: dialect intersection: \b, \d, bounded repetition, char classes.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def pii_mask(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing (emails, SSNs, phone numbers, IPv4s) — the redaction
    pass every LLM training pipeline runs before tokenization. Returns
    (id, masked, n_pii) where ``n_pii`` counts masked spans.

    Scale shape: a pure projection — a fixed regexp_count/regexp_replace
    chain evaluated JVM-side inside whole-stage codegen. No shuffle, no UDF,
    no Python: at 100 TB this is scan-bound, exactly like textstats."""
    masked = F.col(text_col)
    n_pii = F.lit(0)
    for _name, pat, repl in PII_PATTERNS:
        n_pii = n_pii + F.regexp_count(masked, F.lit(pat))
        masked = F.regexp_replace(masked, pat, repl)
    return docs.select(
        F.col(id_col), masked.alias("masked"), n_pii.cast("long").alias("n_pii")
    )


def pack_sequences(
    docs: DataFrame,
    window_tokens: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_parts: int | None = None,
) -> DataFrame:
    """Context-window sequence packing, concat-then-split flavor: documents
    are laid end-to-end in ``id_col`` order and cut into fixed
    ``window_tokens`` windows — each doc gets its global token offset, the
    window it starts in, and its offset inside that window (what a
    pretraining loader needs to pack batches without padding).

    The global offset is an EXCLUSIVE PREFIX SUM over a total order — naively
    ``Window.orderBy(id)`` which Spark executes on a SINGLE partition (the
    classic scale trap). Instead, the distributed prefix-sum:

    1. ``repartitionByRange(id)`` — partitions are contiguous id ranges, so
       partition order == global order;
    2. per-partition exclusive cumsum (Window PARTITIONED by pid — parallel);
    3. per-partition totals (P rows) get their own exclusive cumsum on the
       driver-scale frame, then broadcast-join back as each partition's base.

    Per-row work is O(1), the only wide op is the range partition, and the
    P-row totals frame is the sole driver-scale state — holds at 10^10 docs.
    ``localCheckpoint`` pins one materialization so steps 2 and 3 see
    identical partitioning."""
    p = num_parts or docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(
        F.col(id_col), token_count_ws(F.col(text_col)).cast("long").alias("n_tokens")
    )
    ranged = (
        base.repartitionByRange(p, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local = Window.partitionBy("_pid").orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    local = ranged.withColumn(
        "_loc", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    # P rows total: the single-partition window here is driver-scale by
    # construction (one row per partition), never data-scale
    w_tot = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        ranged.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("_t"))
        .withColumn("_base", F.coalesce(F.sum("_t").over(w_tot), F.lit(0)))
        .select("_pid", "_base")
    )
    return (
        local.join(F.broadcast(bases), "_pid")
        .withColumn("global_off", F.col("_loc") + F.col("_base"))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("global_off"),
            # integer-exact: DIV avoids double rounding at 10^15+ offsets
            F.expr(f"global_off DIV {int(window_tokens)}").alias("window_id"),
            (F.col("global_off") % window_tokens).alias("offset_in_window"),
        )
    )


def dedup_segments(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
) -> DataFrame:
    """Corpus-wide SEGMENT-level exact dedup (the RefinedWeb/CCNet-style
    intra-document content dedup): split each doc into non-overlapping
    ``seg_words``-word segments, keep only each segment's FIRST global
    occurrence (ordered by doc_id then position), and reassemble every doc
    from its surviving segments — boilerplate repeated across documents
    (headers, footers, navigation) disappears from all but the first doc.

    Scale shape: one MAP-SIDE-COMBINABLE shuffle keyed by the segment —
    first occurrence is ``groupBy(seg).agg(min(struct(doc_id, pos)))``, so
    a Zipf-hot boilerplate segment ("subscribe to our newsletter" repeated
    billions of times) is reduced to one candidate per input partition
    BEFORE the exchange; a ``row_number`` window here would instead route
    every occurrence of the hot segment into a single task (r4 verdict
    item: skew-unsafe). Plus one doc-keyed shuffle to reassemble
    (collect_list partial-aggregates map-side; ordering is a per-row
    array_sort bounded by doc length). No collects, no per-row Python.

    Returns (doc_id, n_segments, n_kept, clean_text) — docs whose every
    segment was seen earlier come back with clean_text = ''.
    """
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WS_TOKEN_RE), 0)
    n = F.size(words)
    n_segs = F.ceil(n.cast("double") / seg_words).cast("int")
    segs = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i * seg_words + 1, seg_words)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(F.col(id_col), F.posexplode(segs).alias("pos", "seg"))
    # struct comparison is lexicographic by field order, so min(struct(id,
    # pos)) IS "first by (doc_id, pos)" — identical semantics to the former
    # row_number window, but with partial aggregation on the hot keys
    kept = (
        exploded.groupBy("seg")
        .agg(F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("w"))
        .select(F.col("w.i").alias(id_col), F.col("w.p").alias("pos"), "seg")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))), lambda s: s["seg"]
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = docs.select(F.col(id_col), n_segs.cast("long").alias("n_segments"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "mix-v1",
) -> DataFrame:
    """Deterministic training-MIXTURE sampling: keep each doc with its
    source's configured rate, decided by a salted hash of the doc id — the
    standard way a pretraining pipeline reweights sources (e.g. downsample
    crawl, keep all curated text).

    Pure projection (zero shuffle, zero RNG): doc kept iff
    ``md5_hash60(salt#doc_id) % 10^6 < rate * 10^6``. Deterministic under
    corpus growth (a doc's fate never changes as others arrive — same
    stability contract as split_assign) and re-weightable by changing only
    ``salt``/``rates``. Rates are exact at the hash-measure level, not a
    per-batch quota."""
    from pyspark.sql import functions as F

    h = md5_hash60(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))) % 1_000_000
    rate = F.lit(float(default_rate))
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate)
    return docs.filter(h < (rate * 1_000_000).cast("long"))
