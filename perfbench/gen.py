"""Seeded change-log generator for the benchmark.

The benchmark owns its inputs: the engine sees only the parquet files this
module writes, so a change to the engine's own fixture generator can change
neither a workload nor its answer key.

A log is one parquet file per epoch, in delivery order. It carries:

- rebalance replays: a contiguous run of one partition's recent events is
  delivered a second time a little later (some copies land in the same
  epoch as the original, some in a later one);
- one rollback: a victim partition's history is truncated at
  ``rollback_point`` and a diverged branch (text tagged ``rb/``) is
  re-delivered with fresh seqnos after the control record;
- a schema change: files before ``evolution_epoch`` have no ``tool`` column;
- hot conversations: a few conv_ids carry hundreds of turns.

Everything is derived from the seed with numpy; no wall clock is read.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TS_BASE = np.datetime64("2024-01-01T00:00:00", "us")
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
WORDS = np.array(
    "alpha bravo delta echo gamma kilo lima merge nova omega pivot quota relay sigma tango vector".split(),
    dtype=object,
)


@dataclass(frozen=True)
class LogShape:
    n_convs: int
    n_hot: int
    hot_turns: int
    n_epochs: int
    max_turns: int = 6
    n_partitions: int = 16
    n_dup_replays: int = 4
    dup_len: int = 60
    p_extra_rev: float = 0.3
    p_delete: float = 0.06
    p_expire: float = 0.03
    p_remutate: float = 0.4
    rollback_at: float = 0.6  # victim rolls back to where the log stood at this share ...
    rollback_cut: float = 0.8  # ... once this share of the log is delivered
    evolution_at: float = 0.5  # share of the epochs that precede the tool column


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a seed-free, platform-stable integer hash."""
    x = x.astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def generate(seed: int, shape: LogShape) -> tuple[pa.Table, dict]:
    """Return (events, meta). ``events`` is in delivery order with an
    ``epoch`` column; ``meta`` records the rollback, replays and boundary."""
    rng = np.random.default_rng(seed)
    s = shape

    # keys: (conv, turn); a few hot conversations carry hot_turns turns
    turns = rng.integers(1, s.max_turns + 1, s.n_convs)
    hot = rng.choice(s.n_convs, size=s.n_hot, replace=False)
    turns[hot] = s.hot_turns
    conv_k = np.repeat(np.arange(s.n_convs), turns)
    turn_k = np.arange(len(conv_k)) - np.repeat(np.cumsum(turns) - turns, turns)
    n_keys = len(conv_k)

    # per-key script: 1-3 revisions, then maybe a deletion (maybe re-mutated)
    # or an expiration
    n_revs = 1 + (rng.random(n_keys) < s.p_extra_rev) + (rng.random(n_keys) < s.p_extra_rev / 3)
    u = rng.random(n_keys)
    has_del = u < s.p_delete
    has_exp = (u >= s.p_delete) & (u < s.p_delete + s.p_expire)
    has_remut = has_del & (rng.random(n_keys) < s.p_remutate)
    per_key = n_revs + has_del + has_exp + has_remut
    key_e = np.repeat(np.arange(n_keys), per_key)
    ordinal = np.arange(len(key_e)) - np.repeat(np.cumsum(per_key) - per_key, per_key)
    nrev_e = n_revs[key_e]
    op = np.full(len(key_e), "mutation", dtype=object)
    tomb = ordinal == nrev_e
    op[tomb & has_del[key_e]] = "deletion"
    op[tomb & has_exp[key_e]] = "expiration"
    rev = (ordinal + 1).astype(np.int64)

    conv_e, turn_e = conv_k[key_e], turn_k[key_e]
    part = (_mix(conv_e * 1_000_003 + turn_e * 7919 + 17) % np.uint64(s.n_partitions)).astype(np.int32)

    # logical time: random, ascending within a key's script
    raw = rng.random(len(key_e))
    ltime = np.empty_like(raw)
    ltime[np.lexsort((ordinal, key_e))] = raw[np.lexsort((raw, key_e))]
    order = np.argsort(ltime, kind="stable")
    conv_e, turn_e, part, op, rev, ltime = (a[order] for a in (conv_e, turn_e, part, op, rev, ltime))
    n = len(order)
    # per-partition seqno = arrival rank within the partition
    seqno = np.empty(n, dtype=np.int64)
    by_p = np.lexsort((np.arange(n), part))
    seqno[by_p] = np.arange(n) - np.searchsorted(part[by_p], part[by_p]) + 1

    ev = pd.DataFrame(
        {"partition_id": part, "seqno": seqno, "op": op, "conv": conv_e,
         "turn_idx": turn_e.astype(np.int64), "rev_no": rev, "ltime": ltime,
         "pos": np.arange(n, dtype=np.float64), "orig_pos": np.arange(n, dtype=np.float64),
         "diverged": False}
    )

    # rollback: once rollback_cut of the log is delivered the victim rolls
    # back to where it stood at rollback_at and re-delivers the rolled-back
    # keys as a diverged branch; its later events continue on the new
    # branch. Both points are shares of the whole log, so the rollback lands
    # in the same epoch for every seed.
    parts = np.unique(part)
    victim = int(rng.choice(parts))
    vic = ev.index[ev["partition_id"] == victim].to_numpy()
    rb_i = max(int(np.searchsorted(vic, s.rollback_at * n)), 1)
    cut_i = int(np.searchsorted(vic, s.rollback_cut * n))
    rb_point = int(ev.at[vic[rb_i - 1], "seqno"])
    d_pos = float(ev.at[vic[cut_i - 1], "pos"])
    old_branch = ev.loc[vic[rb_i:cut_i]]
    nb = old_branch.groupby(["conv", "turn_idx"], sort=False).tail(1).sort_values("seqno").copy()
    nb["seqno"] = rb_point + 1 + np.arange(len(nb), dtype=np.int64)
    ev.loc[vic[cut_i:], "seqno"] = rb_point + len(nb) + 1 + np.arange(len(vic) - cut_i, dtype=np.int64)
    nb["rev_no"] += 1000
    nb["diverged"] = True
    nb["pos"] = d_pos + 0.5 + (1 + np.arange(len(nb))) * 1e-7
    nb["orig_pos"] = nb["pos"]
    marker = pd.DataFrame(
        {"partition_id": [victim], "seqno": [rb_point], "op": ["rollback"], "conv": [-1],
         "turn_idx": [-1], "rev_no": [0], "ltime": [0.0], "pos": [d_pos + 0.5],
         "orig_pos": [d_pos + 0.5], "diverged": [False]}
    )

    # rebalance replays: a partition's last dup_len events before a point
    # are delivered again shortly after it
    epoch_len = n / s.n_epochs
    pool = [int(p) for p in parts if p != victim]
    dup_parts = [int(p) for p in rng.choice(pool, size=s.n_dup_replays, replace=False)]
    replays = []
    for q in dup_parts:
        x = float(rng.uniform(0.15 * n, 0.95 * n))
        src = ev[(ev["partition_id"] == q) & (ev["pos"] < x)].tail(s.dup_len).copy()
        at = x + float(rng.uniform(0, epoch_len))
        src["pos"] = at + (1 + np.arange(len(src))) * 1e-7
        replays.append(src)

    st = pd.concat([ev, marker, nb, *replays], ignore_index=True).sort_values("pos", kind="stable")
    st = st.reset_index(drop=True)
    m = len(st)
    epoch = np.minimum((np.arange(m) * s.n_epochs) // m, s.n_epochs - 1).astype(np.int32)
    evolution_epoch = int(s.n_epochs * s.evolution_at)
    # the tool column exists from the evolution epoch on; a replayed event
    # carries its original payload, so key presence on the first delivery
    boundary_pos = st["pos"].to_numpy()[int(np.searchsorted(epoch, evolution_epoch))]
    tool_live = st["orig_pos"].to_numpy() >= boundary_pos

    conv = st["conv"].to_numpy().astype(np.int64)
    turn = st["turn_idx"].to_numpy().astype(np.int64)
    rv = st["rev_no"].to_numpy().astype(np.int64)
    op_s = st["op"].to_numpy().astype(str)
    is_mut = op_s == "mutation"
    is_ctl = op_s == "rollback"
    h = _mix(conv.astype(np.uint64) * np.uint64(2654435761) + turn.astype(np.uint64) * np.uint64(40503) + rv.astype(np.uint64))
    w1 = pa.array(WORDS).take(pa.array((h % np.uint64(len(WORDS))).astype(np.int64)))
    w2 = pa.array(WORDS).take(pa.array(((h >> np.uint64(16)) % np.uint64(len(WORDS))).astype(np.int64)))
    role_i = (_mix(conv.astype(np.uint64) * np.uint64(31) + turn.astype(np.uint64)) % np.uint64(4)).astype(np.int64)
    role = pa.array(ROLES).take(pa.array(role_i))
    s_conv, s_turn = pc.cast(pa.array(conv), pa.string()), pc.cast(pa.array(turn), pa.string())
    tag = pc.if_else(pa.array(st["diverged"].to_numpy()), "rb/c", "c")
    text = pc.binary_join_element_wise(
        tag, s_conv, " t", s_turn, " r", pc.cast(pa.array(rv), pa.string()), " ", w1, " ", w2, ""
    )
    tool = pc.binary_join_element_wise("tool-", pc.cast(pa.array(turn % 7), pa.string()), "")
    has_tool = is_mut & tool_live & (role_i == 2)
    null_s = pa.nulls(m, pa.string())
    mut = pa.array(is_mut)
    ctl = pa.array(is_ctl)

    out = pa.table(
        {
            "partition_id": pa.array(st["partition_id"].to_numpy().astype(np.int32)),
            "seqno": pa.array(st["seqno"].to_numpy().astype(np.int64)),
            "delivery_seq": pa.array(np.arange(m, dtype=np.int64)),
            "op": pa.array(op_s),
            "conv_id": pc.if_else(ctl, null_s, pc.binary_join_element_wise("conv-", s_conv, "")),
            "turn_idx": pa.array(turn.astype(np.int32), mask=is_ctl),
            "rev_no": pa.array(rv),
            "event_time": pa.array(TS_BASE + (np.arange(m) * 1000).astype("timedelta64[us]")),
            "role": pc.if_else(mut, role, null_s),
            "text": pc.if_else(mut, text, null_s),
            "tool": pc.if_else(pa.array(has_tool), tool, null_s),
            "ts": pa.array(TS_BASE + (st["ltime"].to_numpy() * 86_400_000_000).astype("timedelta64[us]")),
            "rollback_point": pa.array(np.full(m, rb_point, dtype=np.int64), mask=~is_ctl),
            "epoch": pa.array(epoch),
        }
    )
    meta = {
        "seed": seed, "shape": asdict(shape), "n_events": m, "n_keys": n_keys,
        "rollback_partition": victim, "rollback_point": rb_point,
        "rollback_epoch": int(epoch[int(np.flatnonzero(is_ctl)[0])]),
        "dup_partitions": dup_parts, "evolution_epoch": evolution_epoch,
        "hot_convs": [f"conv-{int(c)}" for c in sorted(hot)],
    }
    return out, meta


def write_epochs(events: pa.Table, out_dir: str, evolution_epoch: int) -> list[str]:
    """One parquet file per epoch. Files before ``evolution_epoch`` omit the
    ``tool`` column; modification times follow epoch order so a file-stream
    source admits them in delivery order."""
    os.makedirs(out_dir, exist_ok=True)
    epoch = events.column("epoch").to_numpy()
    bounds = np.searchsorted(epoch, np.arange(int(epoch[-1]) + 2))
    body = events.drop_columns(["epoch"])
    paths = []
    for e in range(len(bounds) - 1):
        chunk = body.slice(bounds[e], bounds[e + 1] - bounds[e])
        if e < evolution_epoch:
            if chunk.column("tool").null_count != chunk.num_rows:
                raise ValueError(f"epoch {e} precedes the schema change but carries tool values")
            chunk = chunk.drop_columns(["tool"])
        p = os.path.join(out_dir, f"epoch-{e:05d}.parquet")
        pq.write_table(chunk, p)
        t = 1_700_000_000 + e * 10
        os.utime(p, (t, t))
        paths.append(p)
    return paths
