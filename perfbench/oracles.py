"""Answer keys computed apart from the engine, and the checks against them.

Two oracles, neither of which imports the engine:

- ``duckdb_fold``: one SQL statement over the parquet log. Drop the events
  a rollback invalidated (same partition, seqno past the rollback point,
  delivered before the control record), then keep the last write per key
  by (seqno, delivery_seq); a key whose last write is a deletion or an
  expiration is absent.
- ``simulate``: a sequential, epoch-by-epoch replay of high-watermark
  dedup. Each epoch is deduplicated against the watermarks committed at
  its start, its per-partition op counts are the lineage rows the engine
  must write, and its last-write-wins result is applied to a key -> row
  dict, so the state after every epoch is known.

Rows are compared as tuples ``(conv_id, turn_idx, role, text, tool, ts_us)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
KEY = ("conv_id", "turn_idx")
OP_COUNTS = ("n_mutations", "n_deletions", "n_expirations", "n_duplicates_dropped")

FOLD_SQL = """
WITH ev AS (
    SELECT * FROM read_parquet(?, union_by_name = true)
), rb AS (
    SELECT partition_id AS p, rollback_point AS rbp, delivery_seq AS d
    FROM ev WHERE op = 'rollback'
), live AS (
    SELECT * FROM ev e
    WHERE e.op <> 'rollback'
      AND NOT EXISTS (SELECT 1 FROM rb
                      WHERE rb.p = e.partition_id AND e.seqno > rb.rbp AND e.delivery_seq < rb.d)
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY seqno DESC, delivery_seq DESC) AS rn
    FROM live
)
SELECT conv_id, turn_idx, role, text, {tool}, epoch_us(ts) AS ts
FROM ranked WHERE rn = 1 AND op = 'mutation'
"""


def _none(v):
    return None if v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v)) else v


def frame_of(df: pd.DataFrame) -> pd.DataFrame:
    """A table as a frame in one canonical form: COLS, nulls as None,
    ``ts`` as integer microseconds, sorted by key. Two tables hold the same
    rows exactly when their frames are ``equals``."""
    ts = df["ts"]
    if np.issubdtype(ts.dtype, np.datetime64):
        ts = ts.astype("datetime64[us]").astype(np.int64)
    out = pd.DataFrame({"conv_id": df["conv_id"].astype(object), "turn_idx": df["turn_idx"].astype(np.int64)})
    for c in ("role", "text", "tool"):
        out[c] = df[c].astype(object).where(df[c].notna(), None)
    out["ts"] = ts.astype(np.int64)
    return out.sort_values(list(KEY), kind="stable").reset_index(drop=True)


def rows_of(df: pd.DataFrame) -> dict:
    """key -> row tuple, from a frame with COLS (``ts`` as datetime or as
    integer microseconds)."""
    ts = df["ts"]
    if np.issubdtype(ts.dtype, np.datetime64):
        ts = ts.astype("datetime64[us]").astype(np.int64)
    out = {}
    for c, t, r, x, tl, s in zip(df["conv_id"], df["turn_idx"], df["role"], df["text"], df["tool"], ts):
        out[(c, int(t))] = (c, int(t), _none(r), _none(x), _none(tl), int(s))
    return out


def rows_for(frame: pd.DataFrame, keys: list) -> dict:
    """The rows of ``frame`` whose key is in ``keys``."""
    want = pd.DataFrame(keys, columns=list(KEY)).astype({"turn_idx": np.int64})
    return rows_of(frame.merge(want, on=list(KEY)))


def duckdb_fold(paths: list[str], temp_dir: str) -> pd.DataFrame:
    """The final table the log folds to, as a ``frame_of`` frame."""
    # a log that stops before the schema change has no tool column at all
    has_tool = any("tool" in pq.read_schema(p).names for p in paths)
    sql = FOLD_SQL.format(tool="tool" if has_tool else "NULL::VARCHAR AS tool")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute("SET threads = 1")
        return frame_of(con.execute(sql, [list(paths)]).df())
    finally:
        con.close()


@dataclass
class EpochResult:
    counts: dict  # op-count totals of the epoch's lineage rows
    changes: dict  # {'insert','update','delete'} -> n, vs. the previous epoch
    lookups: dict = field(default_factory=dict)  # key -> row, for the epoch's probe keys
    state: dict | None = None  # key -> row after the epoch, if asked for


@dataclass
class Simulation:
    epochs: list
    hwm: dict
    state: dict


def simulate(events: pa.Table, probes: dict | None = None, keep_state: bool = True,
             snapshots: set | None = None) -> Simulation:
    """Replay ``events`` epoch by epoch. ``probes``: epoch -> list of keys
    whose rows (as of the end of that epoch) are recorded; ``snapshots``:
    epochs after which a copy of the whole state is kept."""
    probes = probes or {}
    snapshots = snapshots or set()
    cols = ["epoch", "partition_id", "seqno", "delivery_seq", "op", "conv_id", "turn_idx",
            "role", "text", "tool", "ts", "rollback_point"]
    df = events.select(cols).to_pandas()
    df["ts"] = df["ts"].astype("datetime64[us]").astype(np.int64)
    hwm: dict[int, int] = {}
    state: dict = {}
    out = []
    for e, b in df.groupby("epoch", sort=True):
        is_rb = (b["op"] == "rollback").to_numpy()
        eff = dict(hwm)
        markers = list(zip(b.loc[is_rb, "partition_id"], b.loc[is_rb, "rollback_point"], b.loc[is_rb, "delivery_seq"]))
        for p, rbp, _ in markers:
            eff[int(p)] = min(eff.get(int(p), -1), int(rbp))
        live = ~is_rb
        pid = b["partition_id"].to_numpy()
        seq = b["seqno"].to_numpy()
        dlv = b["delivery_seq"].to_numpy()
        for p, rbp, d in markers:
            live &= ~((pid == p) & (seq > rbp) & (dlv < d))
        floor = np.array([eff.get(int(p), -1) for p in pid], dtype=np.int64)
        fresh = live & (seq > floor)
        op = b["op"].to_numpy()
        counts = {
            "n_mutations": int((fresh & (op == "mutation")).sum()),
            "n_deletions": int((fresh & (op == "deletion")).sum()),
            "n_expirations": int((fresh & (op == "expiration")).sum()),
            "n_duplicates_dropped": int((live & ~fresh).sum()),
        }
        new_hwm = dict(hwm)
        if fresh.any():
            last = pd.Series(seq[fresh]).groupby(pid[fresh]).max()
            new_hwm.update({int(p): int(v) for p, v in last.items()})
        for p, _, _ in markers:
            if not (fresh & (pid == p)).any():
                new_hwm[int(p)] = eff[int(p)]
        hwm = new_hwm

        changes = {"insert": 0, "update": 0, "delete": 0}
        if keep_state:
            f = b[fresh].sort_values(["seqno", "delivery_seq"])
            win = f.groupby(["conv_id", "turn_idx"], sort=False).tail(1)
            for c, t, o, r, x, tl, s in zip(win["conv_id"], win["turn_idx"], win["op"], win["role"],
                                             win["text"], win["tool"], win["ts"]):
                k = (c, int(t))
                old = state.get(k)
                if o == "mutation":
                    row = (c, int(t), _none(r), _none(x), _none(tl), int(s))
                    if old is None:
                        changes["insert"] += 1
                    elif old != row:
                        changes["update"] += 1
                    state[k] = row
                elif old is not None:
                    changes["delete"] += 1
                    del state[k]
        res = EpochResult(counts=counts, changes=changes, state=dict(state) if int(e) in snapshots else None)
        for k in probes.get(int(e), []):
            if k in state:
                res.lookups[k] = state[k]
        out.append(res)
    return Simulation(epochs=out, hwm=hwm, state=state)


def diff_counts(old: dict, new: dict) -> dict:
    """insert / update / delete counts between two states, the way a
    changelog read reports them (an unchanged row is no change)."""
    return {
        "insert": len(new.keys() - old.keys()),
        "delete": len(old.keys() - new.keys()),
        "update": sum(1 for k in new.keys() & old.keys() if new[k] != old[k]),
    }


def view_of(state) -> dict:
    """role -> (n_rows, sum_turn_idx): the maintained view's answer key,
    from a key -> row dict or a ``frame_of`` frame."""
    if isinstance(state, pd.DataFrame):
        g = state.groupby("role")["turn_idx"].agg(["count", "sum"])
        return {r: (int(n), int(t)) for r, (n, t) in g.iterrows()}
    out: dict = {}
    for _, t, r, *_ in state.values():
        n, s = out.get(r, (0, 0))
        out[r] = (n + 1, s + t)
    return out


# ---------------------------------------------------------------- checks
# Each returns a list of human-readable mismatches; empty means equal.


def check_rows(what: str, actual: dict, expected: dict, limit: int = 3) -> list[str]:
    errs = []
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    diff = [k for k in expected.keys() & actual.keys() if actual[k] != expected[k]]
    for k in sorted(missing)[:limit]:
        errs.append(f"{what}: missing row {k}")
    for k in sorted(extra)[:limit]:
        errs.append(f"{what}: unexpected row {k}")
    for k in sorted(diff)[:limit]:
        errs.append(f"{what}: row {k} is {actual[k]}, expected {expected[k]}")
    if len(missing) + len(extra) + len(diff) > limit and errs:
        errs.append(f"{what}: {len(missing)} missing, {len(extra)} unexpected, {len(diff)} differing rows")
    return errs


def check_table(what: str, actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Two ``frame_of`` frames; row by row only when they differ."""
    if actual.equals(expected):
        return []
    return check_rows(what, rows_of(actual), rows_of(expected)) or [f"{what}: frames differ"]


def check_hwm(actual: dict, expected: dict) -> list[str]:
    keys = sorted(set(actual) | set(expected))
    return [
        f"checkpoint HWM of partition {p} is {actual.get(p)}, expected {expected.get(p)}"
        for p in keys
        if actual.get(p) != expected.get(p)
    ]


def check_counts(what: str, actual: dict, expected: dict) -> list[str]:
    keys = sorted(set(actual) | set(expected))
    return [
        f"{what}: {k} is {actual.get(k, 0)}, expected {expected.get(k, 0)}"
        for k in keys
        if actual.get(k, 0) != expected.get(k, 0)
    ]


def check_view(actual: dict, expected: dict) -> list[str]:
    return check_counts("view", actual, expected)
