"""Merge-on-read mode: identical external semantics to copy-on-write."""

import pytest

from go_dcp_kafka_spark.gen import fold_oracle
from go_dcp_kafka_spark.streaming.runner import CdcPipeline
from tests.conftest import assert_frames_equal


def test_mor_streaming_matches_oracle(spark, gen_result, log_info, tmp_path):
    pipe = CdcPipeline(spark, str(tmp_path / "t"), run_id="mor", merge_mode="mor")
    pipe.run_stream(log_info["dir"], str(tmp_path / "ck"), max_files_per_trigger=2)
    tbl = pipe.tables["transcripts"]
    assert tbl._load_manifest()["deltas"], "MOR run produced no deltas"
    assert_frames_equal(pipe.read_table().toPandas(), fold_oracle(gen_result.events))


def test_mor_compaction_preserves_state(spark, gen_result, log_info, tmp_path):
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), run_id="morc", merge_mode="mor", compact_every=2
    )
    pipe.run_stream(log_info["dir"], str(tmp_path / "ck"), max_files_per_trigger=2)
    tbl = pipe.tables["transcripts"]
    # 4 epochs, compact every 2 -> no outstanding deltas at the end
    assert tbl._load_manifest()["deltas"] == []
    assert_frames_equal(pipe.read_table().toPandas(), fold_oracle(gen_result.events))
    # explicit final compact is a no-op
    assert tbl.compact() == {"compacted": False}


def test_cow_over_mor_deltas_autocompacts(spark, gen_result, log_info, tmp_path):
    """Switching merge modes mid-table must not resurrect overwritten rows."""
    from pyspark.sql import functions as F

    pipe = CdcPipeline(spark, str(tmp_path / "t"), run_id="mix", merge_mode="mor")
    pipe.run_stream(log_info["dir"], str(tmp_path / "ck"), max_files_per_trigger=4)
    tbl = pipe.tables["transcripts"]
    assert tbl._load_manifest()["deltas"]
    before = pipe.read_table().toPandas()
    # a COW merge on top of outstanding deltas: upsert one row
    one = pipe.read_table().limit(1).withColumn("text", F.lit("cow-upsert"))
    tbl.merge(one, None, epoch_id="mix-extra", n_updates=1)
    assert tbl._load_manifest()["deltas"] == []  # auto-compacted
    after = pipe.read_table().toPandas()
    assert len(after) == len(before)
    assert (after["text"] == "cow-upsert").sum() == 1


def test_invalid_merge_mode_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        CdcPipeline(spark, str(tmp_path / "t"), merge_mode="magic")


def test_mor_crash_between_delta_and_checkpoint(spark, gen_result, log_info, tmp_path, monkeypatch):
    """Exactly-once under MOR: crash after the delta append commits but
    before the HWM checkpoint; restart re-delivers the epoch; the delta
    append is skipped by epoch-id and state converges."""
    from go_dcp_kafka_spark.streaming.checkpoints import CheckpointStore

    crashed = {"done": False}
    orig = CheckpointStore.commit

    def exploding(self, dirty, epoch_id):
        if not crashed["done"] and str(epoch_id).endswith(":1"):
            crashed["done"] = True
            raise RuntimeError("injected crash after MOR delta, before checkpoint")
        return orig(self, dirty, epoch_id)

    monkeypatch.setattr(CheckpointStore, "commit", exploding)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), run_id="morx", merge_mode="mor")
    with pytest.raises(Exception):
        pipe.run_stream(log_info["dir"], str(tmp_path / "ck"), max_files_per_trigger=2)
    assert crashed["done"]

    pipe2 = CdcPipeline(spark, str(tmp_path / "t"), run_id="morx", merge_mode="mor")
    pipe2.run_stream(log_info["dir"], str(tmp_path / "ck"), max_files_per_trigger=2)
    assert_frames_equal(pipe2.read_table().toPandas(), fold_oracle(gen_result.events))


def test_mor_read_passthrough_handles_schema_evolution(spark, tmp_path):
    """A delta that adds a column must not break the untouched-bucket
    passthrough: old-bucket rows read back with the evolved column null."""
    from pyspark.sql import functions as F

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["k", "v"]), epoch_id="b0")
    evolved = spark.createDataFrame([(3, "new3", "extra")], ["k", "v", "w"])
    t.merge_mor(evolved, None, epoch_id="d1", n_updates=1)
    got = {r["k"]: (r["v"], r["w"]) for r in t.read().collect()}
    assert len(got) == 100
    assert got[3] == ("new3", "extra")
    assert got[4] == ("v4", None)  # untouched bucket, evolved column backfilled
    # and a fresh handle (no ctor schema) reads the same
    t2 = SnapshotTable(spark, str(tmp_path / "t"), ("k",))
    assert {r["k"]: (r["v"], r["w"]) for r in t2.read().collect()} == got


def test_compact_is_bucket_local(spark, tmp_path):
    """Compaction rewrites ONLY delta-touched buckets; untouched bucket
    entries keep pointing at their pre-compaction dirs (cost ∝ touched
    slice, not table)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")
    before = dict(t._load_manifest()["buckets"])
    t.merge_mor(spark.createDataFrame([(7, "new")], ["k", "v"]), None, epoch_id="d1", n_updates=1)
    res = t.compact()
    assert res["compacted"] and len(res["touched_buckets"]) < 8
    after = t._load_manifest()
    assert after["deltas"] == []
    untouched = [b for b in before if int(b) not in set(res["touched_buckets"])]
    assert untouched and all(after["buckets"][b] == before[b] for b in untouched)
    assert all(after["buckets"][str(b)] != before.get(str(b)) for b in res["touched_buckets"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 400 and got[7] == "new" and got[11] == "v11"
    # GC keeps mixed-version references alive
    t.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert {r["k"]: r["v"] for r in t.read().collect()} == got


def test_compact_delta_bytes_trigger(spark, gen_result, log_info, tmp_path):
    """Size-based compaction: with a tiny byte threshold every epoch's delta
    trips the trigger even though compact_every is far away; delta_stats()
    reports manifest-recorded rows/bytes."""
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), run_id="morb", merge_mode="mor",
        compact_every=10_000, compact_delta_bytes=1,
    )
    pipe.run_stream(log_info["dir"], str(tmp_path / "ck"), max_files_per_trigger=2)
    tbl = pipe.tables["transcripts"]
    stats = tbl.delta_stats()
    assert stats["n_deltas"] == 0, f"byte trigger never fired: {stats}"
    assert_frames_equal(pipe.read_table().toPandas(), fold_oracle(gen_result.events))
    # and with a huge threshold, deltas accumulate (bytes visible in stats)
    pipe2 = CdcPipeline(
        spark, str(tmp_path / "t2"), run_id="morb2", merge_mode="mor",
        compact_every=10_000, compact_delta_bytes=1 << 40,
    )
    pipe2.run_stream(log_info["dir"], str(tmp_path / "ck2"), max_files_per_trigger=2)
    s2 = pipe2.tables["transcripts"].delta_stats()
    assert s2["n_deltas"] > 0 and s2["bytes"] > 0 and s2["rows"] > 0


def test_type_widening_int_to_long(spark, tmp_path):
    """Iceberg-style type promotion: a delta carrying x as LONG widens the
    recorded schema; base files written at INT upcast on read; values past
    2^31 survive; compaction and changelog reads keep the wide type."""
    from pyspark.sql import types as T

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    base = spark.createDataFrame(
        [(i, i, float(i)) for i in range(40)],
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("x", T.IntegerType()),
            T.StructField("f", T.FloatType()),
        ]),
    )
    t.overwrite(base, epoch_id="b0")
    v0 = t.version()
    wide = spark.createDataFrame(
        [(1, 5_000_000_000, 2.5)],
        T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("f", T.DoubleType()),
        ]),
    )
    t.merge_mor(wide, None, epoch_id="d1", n_updates=1)
    out = t.read()
    types = dict(out.dtypes)
    assert types["x"] == "bigint" and types["f"] == "double", types
    got = {r["k"]: r["x"] for r in out.collect()}
    assert got[1] == 5_000_000_000 and got[2] == 2 and len(got) == 40
    # fresh handle (no ctor schema) sees the widened schema too
    t2 = SnapshotTable(spark, str(tmp_path / "t"), ("k",))
    assert dict(t2.read().dtypes)["x"] == "bigint"
    t.compact()
    assert dict(t.read().dtypes)["x"] == "bigint"
    assert {r["k"]: r["x"] for r in t.read().collect()} == got
    # changelog between the narrow and wide snapshots aligns types
    ch = {r["k"]: (r["x"], r["_change"]) for r in t.read_changes(from_version=v0).collect()}
    assert ch == {1: (5_000_000_000, "update")}


def test_delta_reads_use_manifest_schema(spark, tmp_path):
    """Delta files are read under the manifest schema (plus ``_op``), not
    by a footer-merging ``mergeSchema`` pass: assembling a read plan runs
    no Spark job, and deltas written before an added column, before a type
    widening and before a rename all read back right through ``read``,
    ``read_keys``, both ``read_changes`` paths and time travel."""
    from pyspark.sql import types as T

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable
    from tests.conftest import count_jobs

    def frame(rows, **cols):
        return spark.createDataFrame(rows, T.StructType([T.StructField(c, t) for c, t in cols.items()]))

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(frame([(i, f"v{i}", i) for i in range(20)], k=T.LongType(), v=T.StringType(), x=T.IntegerType()),
                epoch_id="b0")
    v0 = t.version()
    # written before the column add and the widening: x INT, no w
    t.merge_mor(frame([(3, "n3", 30)], k=T.LongType(), v=T.StringType(), x=T.IntegerType()), None, epoch_id="d1")
    v1 = t.version()
    t.merge_mor(
        frame([(4, "n4", 5_000_000_000, "extra")], k=T.LongType(), v=T.StringType(), x=T.LongType(), w=T.StringType()),
        None, epoch_id="d2",
    )
    out, jobs = count_jobs(spark, t.read)
    assert jobs == 0, f"building the read plan ran {jobs} Spark jobs"
    assert dict(out.dtypes)["x"] == "bigint"
    want = {3: ("n3", 30, None), 4: ("n4", 5_000_000_000, "extra"), 5: ("v5", 5, None)}
    got = {r["k"]: (r["v"], r["x"], r["w"]) for r in out.collect()}
    assert len(got) == 20 and {k: got[k] for k in want} == want
    keys = spark.createDataFrame([(3,), (4,), (5,)], "k long")
    assert {r["k"]: (r["v"], r["x"], r["w"]) for r in t.read_keys(keys).collect()} == want
    # appended-delta path (both deltas, then only the second)
    ch = {r["k"]: (r["_change"], r["x"], r["_before"]["x"]) for r in t.read_changes(v0, include_old=True).collect()}
    assert ch == {3: ("update", 30, 3), 4: ("update", 5_000_000_000, 4)}
    ch = {r["k"]: (r["_change"], r["_before"]["x"]) for r in t.read_changes(v1, include_old=True).collect()}
    assert ch == {4: ("update", 4)}
    # a delta written before a rename: fold, rename, then a new-name delta
    t.compact()
    t.rename_column("v", "val")
    t.merge_mor(frame([(5, "n5", 55, None)], k=T.LongType(), val=T.StringType(), x=T.LongType(), w=T.StringType()),
                None, epoch_id="d3")
    assert {r["k"]: r["v"] for r in t.read(version=v1).collect()}[3] == "n3"  # pre-rename delta, old name
    ch = {r["k"]: (r["_change"], r["val"]) for r in t.read_changes(v1).collect()}
    assert ch == {4: ("update", "n4"), 5: ("update", "n5")}
    got = {r["k"]: (r["val"], r["x"], r["w"]) for r in t.read().collect()}
    assert got[3] == ("n3", 30, None) and got[5] == ("n5", 55, None) and got[6] == ("v6", 6, None)


def test_legacy_string_delta_entries_resolve_in_append_order(spark, tmp_path):
    """Pre-dict manifest format (plain dir strings, no LWW version): list
    position stands in for the version — the latest delta must WIN, not
    silently lose to the base via a null max_by ordinal."""
    import json
    import os

    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=4)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(20)], ["k", "v"]), epoch_id="b0")
    t.merge_mor(spark.createDataFrame([(3, "n3")], ["k", "v"]), None, epoch_id="d1", n_updates=1)
    t.merge_mor(spark.createDataFrame([(3, "n3b"), (4, "n4")], ["k", "v"]), None, epoch_id="d2", n_updates=2)
    m = t._load_manifest()
    m["deltas"] = [e["dir"] for e in m["deltas"]]  # simulate the legacy format
    vf = t._vfile(m["version"])
    os.remove(vf)
    with open(vf, "w") as f:
        json.dump(m, f)
    with open(t._manifest_path(), "w") as f:
        json.dump(m, f)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[3] == "n3b" and got[4] == "n4" and len(got) == 20


def test_partial_compaction_per_bucket_threshold(spark, tmp_path):
    """compact(min_bucket_bytes=...) rewrites ONLY buckets whose outstanding
    delta bytes reach the floor; cold buckets' deltas survive (excluded
    per-entry, dirs immutable), reads stay exact, delta_stats drops, and a
    later full compact clears the rest (r4 verdict item 5)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable, _bucket_expr

    t = SnapshotTable(spark, str(tmp_path / "t"), ("k",), num_buckets=8)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(400)], ["k", "v"]), epoch_id="b0")

    # find keys for two distinct buckets: a HOT one (many delta rows) and a
    # COLD one (one row)
    from pyspark.sql import functions as F
    probe = spark.createDataFrame([(i,) for i in range(400)], ["k"]).withColumn(
        "_b", _bucket_expr(("k",), 8)
    )
    by_b = {r["_b"]: r["k"] for r in probe.collect()}
    hot_b, cold_b = sorted(by_b)[:2]
    hot_keys = [r["k"] for r in probe.filter(F.col("_b") == hot_b).collect()]
    cold_key = by_b[cold_b]

    t.merge_mor(
        spark.createDataFrame([(k, f"hot{k}" * 50) for k in hot_keys], ["k", "v"]),
        None, epoch_id="d1", n_updates=len(hot_keys),
    )
    t.merge_mor(
        spark.createDataFrame([(cold_key, "cold")], ["k", "v"]),
        None, epoch_id="d2", n_updates=1,
    )
    before = t.delta_stats()
    assert before["n_deltas"] == 2 and before["bytes"] > 0

    # threshold between the cold bucket's bytes and the hot bucket's
    res = t.compact(min_bucket_bytes=before["bytes"] // 2)
    assert res["compacted"] and res["touched_buckets"] == [hot_b]
    got = {r["k"]: r["v"] for r in t.read().collect()}
    for k in hot_keys:
        assert got[k] == f"hot{k}" * 50
    assert got[cold_key] == "cold" and len(got) == 400

    after = t.delta_stats()
    assert 0 < after["bytes"] < before["bytes"]
    # surviving entries exclude the compacted hot bucket
    m = t._load_manifest()
    assert any(e.get("exclude") for e in m["deltas"] if isinstance(e, dict)) or all(
        hot_b not in bd for _, bd in t._delta_entries(m)
    )
    # old snapshot still sees the un-excluded view (time travel intact)
    v_pre = res["version"] - 1
    old = {r["k"]: r["v"] for r in t.read(version=v_pre).collect()}
    assert old == got

    # below-threshold call is a no-op; full compact clears the remainder
    assert t.compact(min_bucket_bytes=10**12) == {"compacted": False}
    res2 = t.compact()
    assert res2["compacted"] and t.delta_stats()["n_deltas"] == 0
    assert {r["k"]: r["v"] for r in t.read().collect()} == got


def test_size_trigger_falls_back_to_full_compact(spark, tmp_path):
    """With compact_delta_bytes set and an unreachable per-bucket floor, the
    size trigger must fall back to a FULL compact instead of no-op'ing every
    epoch while the delta list grows unbounded (r5 review)."""
    import os
    import tempfile

    from go_dcp_kafka_spark.gen import GenConfig, generate_change_events, write_change_log
    from go_dcp_kafka_spark.streaming.runner import CdcPipeline

    res = generate_change_events(GenConfig(seed=5, n_convs=80, n_partitions=8))
    log = tempfile.mkdtemp()
    write_change_log(res.events, log, n_files=6, evolution_boundary=res.meta["evolution_boundary"])
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), run_id="fb", merge_mode="mor",
        compact_every=0, compact_delta_bytes=1, compact_bucket_bytes=10**15,
    )
    pipe.run_stream(log, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    # every epoch crossed the total-bytes threshold; the unreachable floor
    # must not have left the deltas outstanding
    assert pipe.tables["transcripts"].delta_stats()["n_deltas"] <= 1


def test_partial_compact_does_not_defer_full_compact(spark, gen_result, log_info, tmp_path, monkeypatch):
    """r5 ADVICE: a size-triggered PARTIAL (per-bucket-floor) compact must
    NOT reset the count trigger's epoch counter — otherwise a size trigger
    that fires every epoch defers the full compact forever and cold-bucket
    delta entries accumulate unbounded. With compact_every=2 and a
    size trigger tripping each epoch, every second compact must be FULL
    (no min_bucket_bytes)."""
    from go_dcp_kafka_spark.table.snapshot import SnapshotTable

    calls = []

    def spy(self, min_bucket_bytes=None):
        calls.append(min_bucket_bytes)
        # fake a successful partial compact (some bucket qualified) so the
        # partial path is taken and real deltas keep accumulating — the
        # size trigger then re-fires every epoch, the ADVICE scenario
        return {"compacted": [0]}

    monkeypatch.setattr(SnapshotTable, "compact", spy)
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), run_id="morpartial", merge_mode="mor",
        compact_every=2, compact_delta_bytes=1, compact_bucket_bytes=64,
    )
    pipe.run_stream(log_info["dir"], str(tmp_path / "ck"), max_files_per_trigger=2)
    assert len(calls) >= 3, f"need multiple epochs, got {calls}"
    # count trigger fires on schedule: the 2nd compact is FULL, and partial
    # compacts in between never push it out
    assert calls[0] == 64 and calls[1] is None, calls
    assert any(c is None for c in calls[1:]), calls
    assert_frames_equal(pipe.read_table().toPandas(), fold_oracle(gen_result.events))
