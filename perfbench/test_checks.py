"""Tests of the benchmark's own checks and oracles (no Spark needed).

    python3 -m pytest perfbench/test_checks.py -q

Each check must fail on one altered table row, one watermark off by one
and one view group's count off by one; the two oracles must agree with
each other on a generated log.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.compute as pc  # noqa: E402
import pytest  # noqa: E402

import oracles  # noqa: E402
from gen import LogShape, generate, write_epochs  # noqa: E402

SHAPE = LogShape(n_convs=300, n_hot=2, hot_turns=60, n_epochs=6, n_partitions=8,
                 n_dup_replays=3, dup_len=20, rollback_at=0.3, rollback_cut=0.5)


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    events, meta = generate(5, SHAPE)
    d = str(tmp_path_factory.mktemp("log"))
    paths = write_epochs(events, d, meta["evolution_epoch"])
    sim = oracles.simulate(events)
    fold = oracles.duckdb_fold(paths, d)
    return events, meta, paths, sim, fold


def test_generator_is_deterministic_and_adversarial(log):
    events, meta, paths, _, _ = log
    again, meta2 = generate(5, SHAPE)
    assert again.equals(events) and meta2 == meta
    assert not generate(6, SHAPE)[0].equals(events)
    ops = events.column("op").to_pylist()
    assert ops.count("rollback") == 1
    assert any(t.startswith("rb/") for t in events.column("text").drop_null().to_pylist())
    dup = events.group_by(["partition_id", "seqno"]).aggregate([("delivery_seq", "count")])
    assert pc.max(dup.column("delivery_seq_count")).as_py() > 1  # rebalance replays
    import pyarrow.parquet as pq

    assert "tool" not in pq.read_schema(paths[0]).names
    assert "tool" in pq.read_schema(paths[-1]).names


def test_oracles_agree(log):
    _, _, _, sim, fold = log
    assert oracles.check_rows("sim vs fold", sim.state, oracles.rows_of(fold)) == []
    assert len(fold) > 100
    assert sum(r.counts["n_duplicates_dropped"] for r in sim.epochs) > 0
    assert oracles.view_of(sim.state) == oracles.view_of(fold)


def test_fold_of_a_prefix_before_the_schema_change(log, tmp_path):
    events, meta, paths, _, _ = log
    first = events.filter(pc.equal(events.column("epoch"), 0))
    assert meta["evolution_epoch"] > 0
    assert oracles.rows_of(oracles.duckdb_fold(paths[:1], str(tmp_path))) == oracles.simulate(first).state


def test_changes_match_state_diffs(log):
    events, _, _, sim, _ = log
    states = [{}]
    for e in range(SHAPE.n_epochs):
        upto = events.filter(pc.less_equal(events.column("epoch"), e))
        states.append(oracles.simulate(upto).state)
    for e, res in enumerate(sim.epochs):
        assert res.changes == oracles.diff_counts(states[e], states[e + 1])
    # a poll that spans several epochs is checked against kept snapshots
    snap = oracles.simulate(events, snapshots={1, 4})
    assert snap.epochs[1].state == states[2] and snap.epochs[4].state == states[5]
    assert snap.epochs[0].state is None


def test_table_check_catches_one_altered_row(log):
    *_, fold = log
    assert oracles.check_table("final table", fold.copy(), fold) == []
    i = len(fold) // 2
    key = (fold.at[i, "conv_id"], int(fold.at[i, "turn_idx"]))
    for col, value in [("text", fold.at[i, "text"] + "x"), ("ts", fold.at[i, "ts"] + 1), ("tool", "tool-x")]:
        altered = fold.copy()
        altered.at[i, col] = value
        errs = oracles.check_table("final table", altered, fold)
        assert errs and str(key) in errs[0]
    missing = fold.drop(index=i).reset_index(drop=True)
    assert oracles.check_table("final table", missing, fold) == [f"final table: missing row {key}"]


def test_hwm_check_catches_one_watermark_off_by_one(log):
    _, _, _, sim, _ = log
    assert oracles.check_hwm(dict(sim.hwm), sim.hwm) == []
    p = sorted(sim.hwm)[0]
    for delta in (-1, 1):
        off = dict(sim.hwm)
        off[p] += delta
        assert oracles.check_hwm(off, sim.hwm)


def test_view_check_catches_one_group_count_off_by_one(log):
    *_, fold = log
    view = oracles.view_of(fold)
    assert oracles.check_view(dict(view), view) == []
    g = sorted(view)[0]
    n, s = view[g]
    off = dict(view)
    off[g] = (n + 1, s)
    assert oracles.check_view(off, view)


def test_count_check_catches_one_lineage_count_off_by_one(log):
    _, _, _, sim, _ = log
    want = sim.epochs[0].counts
    off = dict(want)
    off["n_mutations"] -= 1
    assert oracles.check_counts("lineage", dict(want), want) == []
    assert oracles.check_counts("lineage", off, want)
