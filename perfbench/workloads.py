"""The workloads and the measurements taken on them.

Every run: start a Spark session, generate the inputs from the seed, warm
up on a throwaway table (together, ``setup_s``), then run a fixed number of
whole rounds (``measure.ROUNDS_PER_30S`` per 30 s of ``--seconds``). After the
timed rounds every output is checked against the oracles (``oracles.py``),
which never import the engine.

The engine is driven only through ``CdcPipeline.apply_batch`` /
``run_batch_replay``, ``SnapshotTable.read_changes`` / ``read_keys``,
``operators.ivm.maintain_agg`` (plus ``bootstrap_agg`` to seed the view),
and the reads the checks need.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

import numpy as np

import oracles
from gen import LogShape, generate, write_epochs
from spans import Tracer

SLOTS = 2  # local task slots; fewer than the 4 cores of the reference host
BUCKETS = 8
LOOKUP_KEYS = 64
VIEW_GROUP = ["role"]
VIEW_SUM = ["turn_idx"]
VIEW_REBUILDS = 2  # backfill: view rebuilds after each replay


@dataclass(frozen=True)
class Spec:
    shape: LogShape
    warm: LogShape
    lookups: int  # read_keys batches after each tail epoch, after each backfill replay
    compact_every: int | None = None
    epochs_per_round: int = 1  # tail: epochs applied before the consumer polls


SPECS = {
    # ~2k-event epochs. Epoch 2 carries the rollback, the schema change
    # (the tool column appears) and the first compaction; epoch 5 compacts
    # again. The warm log has all three in epoch 2 too, and one plain
    # epoch after them.
    "tail_mor_serve": Spec(
        LogShape(n_convs=4000, n_hot=4, hot_turns=200, n_epochs=14, rollback_at=0.1,
                 rollback_cut=0.18, evolution_at=0.15),
        LogShape(n_convs=800, n_hot=2, hot_turns=40, n_epochs=4, rollback_at=0.4, rollback_cut=0.6,
                 evolution_at=0.5),
        lookups=1,
        compact_every=3,
        epochs_per_round=2,
    ),
    "backfill": Spec(
        LogShape(n_convs=55_000, n_hot=8, hot_turns=1000, n_epochs=8, n_dup_replays=8, dup_len=300),
        LogShape(n_convs=2000, n_hot=2, hot_turns=100, n_epochs=2),
        lookups=2,
    ),
}


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


@dataclass
class Inputs:
    events: object  # pyarrow.Table with an ``epoch`` column
    log_dir: str
    paths: list
    probes: dict  # probe set -> list of (conv_id, turn_idx)
    probe_dfs: dict = field(default_factory=dict)  # probe set -> Spark DataFrame, made on first use


@dataclass
class RoundOut:
    """What one round did and produced."""

    events: int = 0
    ingest_s: float = 0.0
    epoch_s: list = field(default_factory=list)
    view_s: list = field(default_factory=list)
    lookup_s: list = field(default_factory=list)
    polls: list = field(default_factory=list)  # (first epoch, last epoch, {change: n})
    lookups: list = field(default_factory=list)  # (probe set, rows)
    attempted: int = 0


@dataclass
class Storage:
    """Table files at a fixed point of the workload: the end of the first
    compaction period of the tail, the end of each backfill round."""

    events: int  # change events delivered up to that point
    bytes_written: int  # every file under the table directory
    files_written: int
    live_bytes: int  # the files a full read of the table scans
    rows: int


@dataclass
class Final:
    """The state a run (tail) or a round (backfill) left behind."""

    table: object  # pandas frame in ``oracles.frame_of`` form
    view: dict
    hwm: dict
    lineage: dict  # epoch -> op-count sums


def _probe_keys(rng, recent, all_keys, hot_keys) -> list:
    """Lookup keys: half written in the probed epoch, a quarter from hot
    conversations, a quarter from anywhere in the log (some not yet
    written, so absent)."""
    def pick(pool, k):
        return [pool[i] for i in rng.choice(len(pool), size=min(k, len(pool)), replace=False)]

    keys = pick(recent, LOOKUP_KEYS // 2) + pick(hot_keys, LOOKUP_KEYS // 4) + pick(all_keys, LOOKUP_KEYS // 4)
    return list(dict.fromkeys(keys))


def make_inputs(shape: LogShape, seed: int, log_dir: str, n_probe_sets: int, sets_per_epoch: int) -> Inputs:
    """The log and ``n_probe_sets`` lookup key sets; set ``i`` draws its
    recently written keys from epoch ``i // sets_per_epoch``. Needs no
    Spark session."""
    events, meta = generate(seed, shape)
    paths = write_epochs(events, log_dir, meta["evolution_epoch"])
    ks = events.select(["epoch", "op", "conv_id", "turn_idx"]).to_pandas()
    ks = ks[ks["op"] != "rollback"].astype({"turn_idx": int})
    all_keys = sorted(set(zip(ks["conv_id"], ks["turn_idx"])))
    hot = set(meta["hot_convs"])
    hot_keys = [k for k in all_keys if k[0] in hot]
    by_epoch = {int(e): sorted(set(zip(g["conv_id"], g["turn_idx"]))) for e, g in ks.groupby("epoch")}
    rng = np.random.default_rng(seed + 7919)
    probes = {
        i: _probe_keys(rng, by_epoch[(i // sets_per_epoch) % len(by_epoch)], all_keys, hot_keys)
        for i in range(n_probe_sets)
    }
    return Inputs(events, log_dir, paths, probes)


def make_logs(name: str, seed: int, work: str) -> tuple[Inputs, Inputs]:
    """(the workload's inputs, the warm-up's inputs), generated from the
    seed into ``work``."""
    spec, cls = SPECS[name], WORKLOADS[name]
    return (
        make_inputs(spec.shape, seed, os.path.join(work, "log"), *cls.probe_sets(spec, spec.shape)),
        make_inputs(spec.warm, seed + 1, os.path.join(work, "warm-log"), *cls.probe_sets(spec, spec.warm)),
    )


def _local(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


def _frame(rows):
    import pandas as pd

    df = pd.DataFrame([r.asDict() for r in rows], columns=list(oracles.COLS))
    return df.astype({"ts": "datetime64[us]"}) if df.empty else df


class Workload:
    def __init__(self, spark, spec: Spec, tracer: Tracer, work: str) -> None:
        self.spark = spark
        self.spec = spec
        self.tr = tracer
        self.work = work

    def setup_inputs(self, inputs: tuple[Inputs, Inputs]) -> None:
        """Take the inputs ``make_logs`` made."""
        self.inp, self.warm_inp = inputs

    @staticmethod
    def probe_sets(spec: Spec, shape: LogShape) -> tuple[int, int]:
        """(number of lookup key sets, sets per epoch): the backfill runs
        the same sets after every replay."""
        return spec.lookups, 1

    # ------------------------------------------------------------ helpers
    def _pipeline(self, base: str, mode: str | None, compact_every: int | None = None):
        from go_dcp_kafka_spark.streaming.runner import CdcPipeline
        from go_dcp_kafka_spark.table.snapshot import SnapshotTable

        pipe = CdcPipeline(
            self.spark, base, num_buckets=BUCKETS, run_id="bench", merge_mode=mode,
            compact_every=compact_every,
        )
        table = pipe.tables["transcripts"]
        view = SnapshotTable(self.spark, os.path.join(base, "view"), tuple(VIEW_GROUP), num_buckets=2)
        if self.tr.traced:
            self._trace_layers(pipe, table)
        return pipe, table, view

    def _trace_layers(self, pipe, table) -> None:
        tr = self.tr
        tr.wrap(table, "merge_mor", "table.merge_mor")
        tr.wrap(table, "overwrite", "table.overwrite")
        tr.wrap(pipe.checkpoints, "commit", "checkpoints.commit")
        tr.wrap(pipe.checkpoints, "hwm_map", "checkpoints.hwm_map")
        tr.wrap(pipe.lineage, "append", "lineage.append")
        compact = table.compact

        def measured_compact(*a, **k):
            before = dir_bytes(table.path)[0]
            with tr.span("table.compact") as rec:
                out = compact(*a, **k)
            rec["bytes_rewritten"] = dir_bytes(table.path)[0] - before
            return out

        table.compact = measured_compact

    def _lookup(self, out: RoundOut, table, inp: Inputs, i: int) -> None:
        # a key set becomes a DataFrame outside the span, and only if used
        if i not in inp.probe_dfs:
            inp.probe_dfs[i] = self.spark.createDataFrame(
                [(c, int(t)) for c, t in inp.probes[i]], "conv_id string, turn_idx int"
            )
        stats: dict = {}
        with self.tr.span("table.read_keys") as rec:
            rows = table.read_keys(inp.probe_dfs[i], stats_out=stats).collect()
        rec["probed_buckets"] = stats.get("probed_buckets", 0)
        out.lookup_s.append(rec["end"] - rec["start"])
        out.lookups.append((i, oracles.rows_of(_frame(rows))))
        out.attempted += 1

    def _storage(self, table, events: int) -> Storage:
        written, files = dir_bytes(table.path)
        t = table.read()
        live = sum(os.path.getsize(_local(f)) for f in t.inputFiles())
        return Storage(events, written, files, live, t.count())

    def _final(self, pipe, view) -> Final:
        """Read back the state left behind (untimed)."""
        lin = pipe.lineage.read()
        lineage = {}
        if len(lin):
            sums = lin.groupby("commit_epoch")[list(oracles.OP_COUNTS)].sum()
            lineage = {int(e): {c: int(v) for c, v in row.items()} for e, row in sums.iterrows()}
        return Final(
            table=oracles.frame_of(pipe.read_table().toPandas()),
            view={r["role"]: (int(r["n_rows"]), int(r["sum_turn_idx"])) for r in view.read().collect()},
            hwm={int(p): int(v) for p, v in pipe.checkpoints.hwm_map().items()},
            lineage=lineage,
        )


class TailMorServe(Workload):
    """One MOR tail through ``apply_batch``. A round is ``epochs_per_round``
    epochs, each followed by a lookup batch; after them a consumer polls
    the round's changes and refreshes the per-role view with
    ``maintain_agg``. Epoch 0 and the view's bootstrap from it are the
    consumer's starting point and belong to set-up, so that every timed
    round does the same things to a table that already exists."""

    @staticmethod
    def probe_sets(spec: Spec, shape: LogShape) -> tuple[int, int]:
        # the batches after an epoch take their recently written keys from it
        n = spec.lookups
        return shape.n_epochs * n, n

    def warm_up(self) -> None:
        # one round whose second epoch compacts, rolls back and changes the
        # schema, then a plain epoch: no timed epoch, including the one
        # after those events, runs its plans for the first time in the JVM
        self._start(self.warm_inp, os.path.join(self.work, "warm"))
        self.timed_round()
        self._epoch(RoundOut())

    def start(self) -> None:
        self._start(self.inp, os.path.join(self.work, "tail"))

    def _start(self, inp: Inputs, base: str) -> None:
        from go_dcp_kafka_spark.operators.ivm import bootstrap_agg

        self.cur = inp
        self.pipe, self.table, self.view = self._pipeline(base, "mor", self.spec.compact_every)
        self.next_epoch = 0
        self.deltas_max = 0
        self.events_in = 0
        self.storage: list[Storage] = []
        # the consumer starts from the first committed epoch
        self._epoch(RoundOut())
        self.prev_v = self.table.version()
        self.view.overwrite(bootstrap_agg(self.table.read(), VIEW_GROUP, VIEW_SUM), epoch_id="view-boot")

    def exhausted(self) -> bool:
        return self.next_epoch + self.spec.epochs_per_round > len(self.cur.paths)

    def _epoch(self, out: RoundOut) -> None:
        from go_dcp_kafka_spark.sources.changelog import read_change_log

        tr, e = self.tr, self.next_epoch
        n = int((self.cur.events.column("epoch").to_numpy() == e).sum())
        tr.epoch = e
        with tr.span("runner.apply_batch") as rec:
            self.pipe.apply_batch(read_change_log(self.spark, self.cur.paths[e]), e)
        tr.epoch = None
        out.epoch_s.append(rec["end"] - rec["start"])
        out.ingest_s += rec["end"] - rec["start"]
        out.events += n
        out.attempted += 1
        if tr.traced:
            self.deltas_max = max(self.deltas_max, self.table.delta_stats()["n_deltas"])
        self.next_epoch += 1
        self.events_in += n
        if self.next_epoch == self.spec.compact_every:
            # storage is sampled at the same epoch in every run, so it does
            # not depend on how many epochs the run reached
            self.storage.append(self._storage(self.table, self.events_in))

    def timed_round(self) -> RoundOut:
        from go_dcp_kafka_spark.operators.ivm import maintain_agg

        tr, table, view = self.tr, self.table, self.view
        out = RoundOut()
        first = self.next_epoch
        n = self.spec.lookups
        for _ in range(self.spec.epochs_per_round):
            self._epoch(out)
            # lookups after every epoch: over a run they see each number of
            # outstanding deltas (0, 1, 2 with compact_every=3) equally often
            e = self.next_epoch - 1
            tr.epoch = e
            for i in range(e * n, (e + 1) * n):
                self._lookup(out, table, self.cur, i)
            tr.epoch = None
        v = table.version()
        tr.epoch = e
        with tr.span("consumer.view_refresh") as rec:
            with tr.span("table.read_changes") as poll:
                ch = table.read_changes(from_version=self.prev_v, include_old=True)
                counts = {r["_change"]: int(r["count"]) for r in ch.groupBy("_change").count().collect()}
                poll["rows"] = sum(counts.values())
            with tr.span("ivm.maintain_agg"):
                maintain_agg(table, view, self.prev_v, VIEW_GROUP, VIEW_SUM, epoch_id=f"view-{e}")
        out.view_s.append(rec["end"] - rec["start"])
        out.polls.append((first, e, counts))
        out.attempted += 1
        tr.epoch = None
        self.prev_v = v
        return out

    def finish(self) -> list[Final]:
        return [self._final(self.pipe, self.view)]


class Backfill(Workload):
    """A round is one ``run_batch_replay`` of the whole log into a fresh
    table; the consumer then rebuilds the per-role view from the new table
    ``VIEW_REBUILDS`` times (an overwrite leaves no earlier version to diff
    against) and runs a few lookup batches."""

    def warm_up(self) -> None:
        # one small and one full-size replay: the first full-size replay in
        # a fresh JVM is still compiling and runs about twice as long
        self._round(self.warm_inp, os.path.join(self.work, "warm-small"))
        self._round(self.inp, os.path.join(self.work, "warm"))

    def start(self) -> None:
        self.n_round = 0
        self.finals: list[Final] = []
        self.storage: list[Storage] = []

    def exhausted(self) -> bool:
        return False

    def timed_round(self) -> RoundOut:
        self.n_round += 1
        return self._round(self.inp, os.path.join(self.work, f"round-{self.n_round}"), keep=True)

    def _round(self, inp: Inputs, base: str, keep: bool = False) -> RoundOut:
        from go_dcp_kafka_spark.operators.ivm import bootstrap_agg

        tr = self.tr
        out = RoundOut(events=inp.events.num_rows)
        pipe, table, view = self._pipeline(base, None)
        with tr.span("runner.run_batch_replay") as rec:
            pipe.run_batch_replay(inp.log_dir)
        out.epoch_s.append(rec["end"] - rec["start"])
        out.ingest_s = rec["end"] - rec["start"]
        out.attempted += 1
        # more than one rebuild of the same view: one ~0.4 s rebuild per
        # round is too few samples for a steady median
        for k in range(VIEW_REBUILDS):
            with tr.span("consumer.view_refresh") as rec:
                view.overwrite(bootstrap_agg(table.read(), VIEW_GROUP, VIEW_SUM), epoch_id=f"view-boot-{k}")
            out.view_s.append(rec["end"] - rec["start"])
            out.attempted += 1
        for i in sorted(inp.probes):
            self._lookup(out, table, inp, i)
        if keep:
            self.storage.append(self._storage(table, out.events))
            self.finals.append(self._final(pipe, view))
        return out

    def finish(self) -> list[Final]:
        return self.finals


WORKLOADS = {"tail_mor_serve": TailMorServe, "backfill": Backfill}
