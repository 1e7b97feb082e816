"""One benchmark run: set-up, timed rounds, checks, metrics."""

from __future__ import annotations

import os
import sys
import time

import oracles
from spans import Tracer
from workloads import SLOTS, SPECS, WORKLOADS, make_logs, median

__all__ = ["SLOTS", "make_logs", "run"]

#: whole rounds per 30 s of ``--seconds``. On the reference host (4 cores,
#: 2 task slots) a tail round (two epochs, a poll and view refresh, two
#: lookup batches) takes 8-12 s and a backfill round 5-7 s, after a set-up
#: of 28-40 s, depending on how busy the shared machine is. Three rounds of
#: each keep a run near 70 s (tail) and 50 s (backfill), so that a full
#: check of both workloads (4 + 22 x 2 runs) stays inside the time it may
#: take with some margin for a busier machine.
ROUNDS_PER_30S = {"tail_mor_serve": 3, "backfill": 3}

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "epoch_s_p50": "s",
    "view_refresh_s_p50": "s",
    "lookup_s_p50": "s",
    "bytes_written_per_event": "B/event",
    "table_bytes_per_row": "B/row",
}

# per-layer metric -> (span name, statistic, unit): the median over every
# span of that name in the timed rounds (0 when the workload never calls
# that layer)
LAYER_SPANS = {
    "runner.apply_batch.self_s": ("runner.apply_batch", "self_s", "s"),
    "runner.apply_batch.jobs": ("runner.apply_batch", "jobs", "count"),
    "runner.apply_batch.stages": ("runner.apply_batch", "stages", "count"),
    "runner.apply_batch.tasks": ("runner.apply_batch", "tasks", "count"),
    "table.merge_mor.s": ("table.merge_mor", "s", "s"),
    "table.merge_mor.jobs": ("table.merge_mor", "jobs", "count"),
    "table.compact.s": ("table.compact", "s", "s"),
    "table.read_changes.s": ("table.read_changes", "s", "s"),
    "table.read_changes.rows": ("table.read_changes", "rows", "rows"),
    "ivm.maintain_agg.s": ("ivm.maintain_agg", "s", "s"),
    "ivm.maintain_agg.jobs": ("ivm.maintain_agg", "jobs", "count"),
    "table.read_keys.s": ("table.read_keys", "s", "s"),
    "table.read_keys.jobs": ("table.read_keys", "jobs", "count"),
    "table.read_keys.probed_buckets": ("table.read_keys", "probed_buckets", "count"),
    "checkpoints.commit.s": ("checkpoints.commit", "s", "s"),
    "checkpoints.hwm_map.s": ("checkpoints.hwm_map", "s", "s"),
    "lineage.append.s": ("lineage.append", "s", "s"),
    "runner.run_batch_replay.s": ("runner.run_batch_replay", "s", "s"),
    "runner.run_batch_replay.jobs": ("runner.run_batch_replay", "jobs", "count"),
    "table.overwrite.s": ("table.overwrite", "s", "s"),
    "table.overwrite.jobs": ("table.overwrite", "jobs", "count"),
    "table.overwrite.tasks": ("table.overwrite", "tasks", "count"),
}
# per-layer metrics taken once per run
RUN_UNITS = {
    "table.compact.calls": "count",
    "table.compact.bytes_rewritten": "B",
    "table.deltas_outstanding_max": "count",
    "table.bytes_written": "B",
    "table.files_written": "count",
    "setup.spark_start_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
}


def _span_stat(tr: Tracer, idx: int, stat: str) -> float:
    rec = tr.spans[idx]
    if stat == "s":
        return rec["end"] - rec["start"]
    if stat == "self_s":
        return tr.self_s(idx)
    return float(rec.get(stat, 0))


def per_layer(tr: Tracer, wl, setup: dict) -> dict:
    out = {}
    for metric, (name, stat, unit) in LAYER_SPANS.items():
        vals = [_span_stat(tr, i, stat) for i, r in enumerate(tr.spans) if r["name"] == name]
        out[metric] = median(vals)
    compacts = tr.of("table.compact")
    out["table.compact.calls"] = len(compacts)
    out["table.compact.bytes_rewritten"] = sum(r["bytes_rewritten"] for r in compacts)
    out["table.deltas_outstanding_max"] = getattr(wl, "deltas_max", 0)
    out["table.bytes_written"] = median([st.bytes_written for st in wl.storage])
    out["table.files_written"] = median([st.files_written for st in wl.storage])
    out.update(setup)
    units = {k: u for k, (_, _, u) in LAYER_SPANS.items()} | RUN_UNITS
    return {k: (float(v), units[k]) for k, v in out.items()}


def end_to_end(name: str, rounds: list, storage: list, setup_s: float) -> dict:
    epochs = [s for r in rounds for s in r.epoch_s]
    if name == "backfill":
        events = rounds[0].events
        eps = events / median(epochs)
    else:
        events = sum(r.events for r in rounds)
        eps = events / sum(r.ingest_s for r in rounds)
    vals = {
        "setup_s": setup_s,
        "events_per_s": eps,
        "epoch_s_p50": median(epochs),
        "view_refresh_s_p50": median([s for r in rounds for s in r.view_s]),
        "lookup_s_p50": median([s for r in rounds for s in r.lookup_s]),
        "bytes_written_per_event": median([st.bytes_written / st.events for st in storage]),
        "table_bytes_per_row": median([st.live_bytes / st.rows for st in storage]),
    }
    return {k: (v, E2E_UNITS[k]) for k, v in vals.items()}


def check(name: str, wl, rounds: list, finals: list, work: str) -> list[str]:
    """Every output of the timed rounds against the oracles."""
    import pyarrow as pa
    import pyarrow.compute as pc

    inp = wl.inp
    if name == "backfill":
        # the replay is one epoch: dedup and rollback apply to the whole log
        events = inp.events.set_column(
            inp.events.schema.get_field_index("epoch"), "epoch", pa.array([0] * inp.events.num_rows, pa.int32())
        )
        paths = inp.paths
        sim = oracles.simulate(events, keep_state=False)
    else:
        # the tail ran epochs 0 .. next_epoch-1 (epoch 0 in set-up)
        done = wl.next_epoch
        events = inp.events.filter(pc.less(inp.events.column("epoch"), done))
        paths = inp.paths[:done]
        n = wl.spec.lookups
        sim = oracles.simulate(events, probes={
            e: [k for i in range(e * n, (e + 1) * n) for k in inp.probes[i]] for e in range(done)
        }, snapshots={e for r in rounds for a, b, _ in r.polls for e in (a - 1, b)})
    fold = oracles.duckdb_fold(paths, os.path.join(work, "tmp"))
    errs = []
    if name != "backfill":
        errs += oracles.check_rows("oracles disagree (simulation vs fold)", sim.state, oracles.rows_of(fold))
    view_key = oracles.view_of(fold)
    for n, f in enumerate(finals, 1):
        pre = f"round {n}: " if name == "backfill" else ""
        errs += [pre + e for e in oracles.check_table("final table", f.table, fold)]
        errs += [pre + e for e in oracles.check_hwm(f.hwm, sim.hwm)]
        errs += [pre + e for e in oracles.check_view(f.view, view_key)]
        if name != "backfill":
            for e, res in enumerate(sim.epochs):
                errs += oracles.check_counts(f"lineage epoch {e}", f.lineage.get(e, {}), res.counts)
    for r in rounds:
        for a, b, counts in r.polls:
            want = oracles.diff_counts(sim.epochs[a - 1].state, sim.epochs[b].state)
            errs += oracles.check_counts(f"poll of epochs {a}-{b}", counts, want)
        for i, rows in r.lookups:
            if name == "backfill":
                want = oracles.rows_for(fold, inp.probes[i])
            else:
                got = sim.epochs[i // wl.spec.lookups].lookups
                want = {k: got[k] for k in inp.probes[i] if k in got}
            errs += oracles.check_rows(f"lookup batch {i}", rows, want)
    return errs


def run(spark, args, work: str, t_start: float, t_spark: float, inputs):
    """``inputs``: what ``make_logs`` generated while Spark started, which
    ended at ``t_spark``."""
    name = args.workload
    tr = Tracer(spark.sparkContext, bool(args.trace))
    wl = WORKLOADS[name](spark, SPECS[name], tr, work)
    wl.setup_inputs(inputs)
    t_gen = time.perf_counter()
    wl.warm_up()
    wl.start()
    t_warm = time.perf_counter()
    setup = {
        "setup.spark_start_s": t_spark - t_start,
        "setup.generate_s": t_gen - t_spark,
        "setup.warmup_s": t_warm - t_gen,
    }
    tr.spans.clear()  # set-up spans are not measurements

    rounds = []
    t0 = time.perf_counter()
    # a fixed number of whole rounds per --seconds, so that two commits (or a
    # fast and a slow run) measure the same work
    for _ in range(max(1, round(args.seconds * ROUNDS_PER_30S[name] / 30))):
        if wl.exhausted():
            break
        rounds.append(wl.timed_round())
    measured_s = time.perf_counter() - t0
    finals = wl.finish()

    t_check = time.perf_counter()
    errs = check(name, wl, rounds, finals, work)
    t_check = time.perf_counter() - t_check
    for e in errs[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    e2e = end_to_end(name, rounds, wl.storage, t_warm - t_start)
    trace_doc = None
    metrics = e2e
    if args.trace:
        tr.resolve_jobs()
        metrics = per_layer(tr, wl, setup)
        trace_doc = {
            "workload": name, "seed": args.seed, "rounds": len(rounds), "measured_s": measured_s,
            "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
            "per_layer": {k: v for k, (v, _) in metrics.items()},
            "epoch_jobs": [r.get("jobs") for r in tr.of("runner.apply_batch")],
            "spans": tr.export(),
        }
    result = {
        "correct": not errs,
        "attempted": sum(r.attempted for r in rounds),
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(
        f"{name}: {len(rounds)} round(s) in {measured_s:.1f} s, setup {t_warm - t_start:.1f} s, "
        f"{len(errs)} check failure(s) in {t_check:.1f} s; epoch s {[round(s, 2) for r in rounds for s in r.epoch_s]}, "
        f"view s {[round(s, 2) for r in rounds for s in r.view_s]}, "
        f"lookup s {[round(s, 2) for r in rounds for s in r.lookup_s]}",
        file=sys.stderr,
    )
    return result, trace_doc
