"""Changelog-driven downstream aggregate view — the consumer end of the T5
CDC story: a derived per-group aggregate maintained from a
ParquetMergeTarget's changelog rows ALONE, never re-reading (or even being
able to read) the source table.

The input is the changelog stream each ``merge_with(changelog_keys=...)``
commit emits (ingest's inventory merges emit one under
``BlockIngest(maintain_stats=True)``; the CLI ``follow`` command subscribes
to it), and the derived table is versioned/replay-guarded exactly like any
other merge target. Plain row counts of a merge target need no view: its
parquet footers already carry them (``ParquetMergeTarget.fast_count``).

Maintenance algebra: every changelog row expands to weighted contributions
— ``insert → +after``, ``delete → -before``, ``update → -before +after``
(the before image ships in the changelog's ``__before`` struct) — and the
view folds ``sum(w)`` / ``sum(w·x)`` per group. Counts that cancel to zero
drop the group row, so the maintained view equals the batch recompute
``GROUP BY`` over the source AT EVERY VERSION (tests/test_cdc_view.py
property-checks this under interleaved inserts/updates/deletes).

Scale shape: one fold costs O(changelog batch) + one merge on the group
key — never a source-table scan. Sum columns must be exact types (integer
/ decimal): float sums would drift between the incremental and batch forms
under reordering, the same rule plans/registry.py applies to oracles.

Counts and sums are maintainable from deltas ALONE (group-commutative
under retraction). Min/max are monotone under inserts but NOT under
retraction: deleting the current MAX of a group cannot be folded without
re-reading the group's surviving rows. ``min_cols``/``max_cols`` therefore
get the standard IVM treatment — inserts fold incrementally
(least/greatest against the stored extremum), and a delete/update whose
BEFORE image touches the stored extremum triggers a BOUNDED re-derivation
of exactly the affected groups from the source snapshot PINNED at that
changelog's version (a keyed lookup — broadcast of the risky group keys
against one pruned read — never a full recompute; the reference's
first_block/last_block bookkeeping,
migrations/1590689602-gateway_inventory.sql:28-31, maintained honestly
under deletes). Folds whose changelog retracts no extremum never read the
source at all (tests/test_cdc_view.py counts the reads).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from .merge import ParquetMergeTarget, merge_accumulate


class MissingChangelogError(ValueError):
    """A changelog segment needed by fold() does not exist (merge ran
    without changelog_keys, or vacuum dropped it). ValueError subclass so
    existing callers' handlers keep working; catch_up() catches exactly
    this — never the configuration ValueErrors (_delta_partial's sum-col
    validation), which a snapshot re-seed would silently paper over."""


def _nn(c: str) -> str:
    """Per-sum-column NON-NULL counter name: ``sum(w·x)`` alone cannot
    distinguish 'sum is 0' from 'every surviving value is NULL' once
    retractions cancel the non-null contributions — SQL's SUM over an
    all-null group is NULL, so the state tracks ``sum(w · [x IS NOT
    NULL])`` beside each sum and the read maps count-0 back to NULL."""
    return f"__nn_{c}"


def nn_partial_aggs(sum_cols: Sequence[str], w_col: str) -> "list":
    """The non-null-counter aggregation expressions for a ±weighted
    partial — single-sourced for _delta_partial and
    ivm.IncrementalJoinAggregate.catch_up."""
    return [
        F.sum(F.when(col(c).isNotNull(), col(w_col)).otherwise(F.lit(0)))
        .cast("long")
        .alias(_nn(c))
        for c in sum_cols
    ]


def nn_read_cols(t: DataFrame, sum_cols: Sequence[str]) -> "list":
    """Read-side sum projections: a sum whose non-null counter cancelled
    to zero reads NULL (the GROUP BY recompute semantics of SUM over an
    all-null group); pre-upgrade states without the counter pass the sum
    through unchanged."""
    return [
        F.when(F.coalesce(col(_nn(c)), F.lit(0)) == 0, F.lit(None))
        .otherwise(col(c))
        .alias(c)
        if _nn(c) in t.columns
        else col(c)
        for c in sum_cols
    ]


def _with_nn_backfill(tgt: DataFrame | None, sum_cols: Sequence[str]) -> DataFrame | None:
    """Upgrade a PRE-COUNTER state table in place: missing ``__nn_<c>``
    columns backfill with ``__n`` — the old scheme's implicit assumption
    (every row non-null), so legacy groups keep their old read semantics
    and only post-upgrade retractions can map them to NULL. Without this,
    the first fold after an upgrade dies in unionByName on the missing
    counter columns."""
    if tgt is None:
        return None
    for c in sum_cols:
        if _nn(c) not in tgt.columns:
            tgt = tgt.withColumn(_nn(c), col("__n"))
    return tgt


def weighted_group_fold(group_keys: Sequence[str], sum_cols: Sequence[str]):
    """target ⊕ weighted-partial fold shared by every maintained aggregate
    built on ±weighted contributions (this module's CDC views and
    ivm.IncrementalJoinAggregate): accumulate ``__n``/sums/non-null
    counters per group, drop groups whose membership cancelled to zero."""

    def fold(tgt: DataFrame | None, upd: DataFrame) -> DataFrame:
        merged = merge_accumulate(
            _with_nn_backfill(tgt, sum_cols),
            upd,
            keys=list(group_keys),
            sum_cols=["__n", *sum_cols, *[_nn(c) for c in sum_cols]],
        )
        return merged.filter(col("__n") != 0)

    return fold


def read_weighted_agg(
    t: DataFrame | None, group_keys: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame | None:
    """(group_keys..., n_rows, sum_cols...) projection of a weighted-agg
    state table (the ``__n`` bookkeeping column renamed for consumers;
    NULL-mapping per nn_read_cols)."""
    if t is None:
        return None
    return t.select(
        *group_keys, col("__n").alias("n_rows"), *nn_read_cols(t, sum_cols)
    )


class ChangelogAggregateView:
    """Maintained ``GROUP BY group_keys: count(*), sum(sum_cols...),
    min(min_cols...), max(max_cols...)`` over a changelog-emitting merge
    target. Counts/sums fold from CDC rows alone; extrema fold
    incrementally under inserts and re-derive ONLY the retraction-hit
    groups from the pinned source snapshot (module docstring)."""

    def __init__(
        self,
        path: str,
        group_keys: Sequence[str],
        sum_cols: Sequence[str] = (),
        min_cols: Sequence[str] = (),
        max_cols: Sequence[str] = (),
    ):
        self.target = ParquetMergeTarget(path)
        self.group_keys = list(group_keys)
        self.sum_cols = list(sum_cols)
        self.min_cols = list(min_cols)
        self.max_cols = list(max_cols)

    def folded_version(self) -> int:
        """Last source version folded into the view (0 = nothing yet)."""
        return max(0, self.target.watermark())

    @property
    def _ext_cols(self) -> "list[str]":
        """Distinct columns carrying an extremum (a column may be in both
        min_cols and max_cols)."""
        return list(dict.fromkeys(self.min_cols + self.max_cols))

    def _delta_partial(self, log: DataFrame) -> DataFrame:
        """Changelog rows → one weighted partial row per touched group.

        Beside the count/sum deltas, extremum columns get per-group INSERT
        candidates (``__ins(min|max)_<c>`` — the monotone fold side) and
        RETRACTED boundaries (``__ret(min|max)_<c>`` — what the risky-group
        detection compares against the stored extremum)."""
        # Update retractions read values from the __before image, and
        # merge KEYS are never in it (they sit at top level and cannot
        # change in an update) — so a maintained column that is also a
        # merge key cannot be maintained. Fail with the real reason
        # instead of an unresolved-column analysis error in the select.
        val_cols = list(dict.fromkeys(self.sum_cols + self._ext_cols))
        bad = [c for c in val_cols if c not in self._before_fields(log)]
        if bad:
            raise ValueError(
                f"maintained columns {bad} are changelog merge keys (absent "
                "from the __before image) — a merge key identifies rows and "
                "cannot be a maintained aggregate column; aggregate a data "
                "column instead"
            )
        after = log.filter(col("__op").isin("insert", "update")).select(
            *[col(k) for k in self.group_keys],
            F.lit(1).cast("long").alias("__w"),
            *[col(c) for c in val_cols],
        )
        # delete rows carry the before image flattened; update rows carry
        # the AFTER image flattened and the before image in __before.
        minus_del = log.filter(col("__op") == "delete").select(
            *[col(k) for k in self.group_keys],
            F.lit(-1).cast("long").alias("__w"),
            *[col(c) for c in val_cols],
        )
        # group keys that are data columns come from the before image;
        # merge keys sit at top level and cannot change in an update.
        bf = self._before_fields(log)
        minus_upd = log.filter(col("__op") == "update").select(
            *[(col(f"__before.{k}") if k in bf else col(k)).alias(k) for k in self.group_keys],
            F.lit(-1).cast("long").alias("__w"),
            *[col(f"__before.{c}").alias(c) for c in val_cols],
        )
        rows = after.unionByName(minus_del).unionByName(minus_upd)
        aggs = [F.sum("__w").cast("long").alias("__n")] + [
            F.sum(col(c) * col("__w")).alias(c) for c in self.sum_cols
        ] + nn_partial_aggs(self.sum_cols, "__w")
        for c in self.min_cols:
            aggs.append(F.min(F.when(col("__w") == 1, col(c))).alias(f"__insmin_{c}"))
            aggs.append(F.min(F.when(col("__w") == -1, col(c))).alias(f"__retmin_{c}"))
        for c in self.max_cols:
            aggs.append(F.max(F.when(col("__w") == 1, col(c))).alias(f"__insmax_{c}"))
            aggs.append(F.max(F.when(col("__w") == -1, col(c))).alias(f"__retmax_{c}"))
        return rows.groupBy(*self.group_keys).agg(*aggs)

    def _before_fields(self, log: DataFrame) -> set:
        (f,) = [f for f in log.schema.fields if f.name == "__before"]
        return {sf.name for sf in f.dataType.fields}

    def _with_rederive(
        self, spark: SparkSession, source: ParquetMergeTarget, version: int, partial: DataFrame
    ) -> DataFrame:
        """Attach authoritative ``__authmin_/__authmax_`` columns for the
        RETRACTION-HIT groups only: a group is risky when a retracted
        value reaches its stored extremum (ret ≤ stored min / ret ≥ stored
        max — the retraction may have removed the extremum row, which no
        delta can repair). Risky groups re-derive from the source snapshot
        PINNED at this changelog's version via one broadcast-keyed lookup;
        a fold with no extremum retraction performs ZERO source reads.

        Re-derived rows also carry ``__has_auth = true`` — the fold keys
        the override on the FLAG, never on the value, because a re-derived
        extremum can legitimately be NULL (the group's surviving rows are
        all null): coalescing on the value would silently fall back to the
        stale stored extremum."""
        auth_aggs = [F.max(F.lit(True)).alias("__has_auth")] + [
            F.min(col(c)).alias(f"__authmin_{c}") for c in self.min_cols
        ] + [F.max(col(c)).alias(f"__authmax_{c}") for c in self.max_cols]
        null_auth = (
            [F.lit(False).alias("__has_auth")]
            + [F.lit(None).alias(f"__authmin_{c}") for c in self.min_cols]
            + [F.lit(None).alias(f"__authmax_{c}") for c in self.max_cols]
        )
        # any retraction at all — for groups with NO stored state yet
        # (first fold, or a coalesced range that creates-and-churns a
        # group), the insert candidates may include retracted values, so
        # any retraction forces the re-derive
        any_ret = F.lit(False)
        for c in self.min_cols:
            any_ret = any_ret | col(f"__retmin_{c}").isNotNull()
        for c in self.max_cols:
            any_ret = any_ret | col(f"__retmax_{c}").isNotNull()
        state = self.target.read(spark)
        if state is None:
            risky = partial.filter(any_ret)
        else:
            # stored groups: risky when a retracted value reaches the
            # stored extremum. A NULL stored extremum (all-null group)
            # cannot satisfy the comparison, but ANY non-null retraction
            # against it must still re-derive: in a coalesced range the
            # retracted value was inserted in-range and the naive
            # least/greatest would fold it in. Groups ABSENT from state
            # fall back to the any-retraction rule.
            risk = F.lit(False)
            for c in self.min_cols:
                risk = risk | F.when(
                    col(f"__min_{c}").isNull(), col(f"__retmin_{c}").isNotNull()
                ).otherwise(col(f"__retmin_{c}") <= col(f"__min_{c}"))
            for c in self.max_cols:
                risk = risk | F.when(
                    col(f"__max_{c}").isNull(), col(f"__retmax_{c}").isNotNull()
                ).otherwise(col(f"__retmax_{c}") >= col(f"__max_{c}"))
            state_ext = state.select(
                *self.group_keys,
                F.lit(True).alias("__has_state"),
                *[col(f"__min_{c}") for c in self.min_cols],
                *[col(f"__max_{c}") for c in self.max_cols],
            )
            risky = partial.join(state_ext, self.group_keys, "left").filter(
                F.when(col("__has_state").isNotNull(), risk).otherwise(any_ret)
            )
        # bounded: one row per retraction-hit group
        risky_keys = risky.select(*self.group_keys).localCheckpoint()
        if not risky_keys.take(1):
            return partial.select("*", *null_auth)
        try:
            src = source.read(spark, version=version)
        except FileNotFoundError as e:
            # the pinned snapshot was vacuumed out from under a lagging
            # follower — same healable condition as a missing changelog
            raise MissingChangelogError(
                f"source version {version} needed for extremum re-derivation "
                f"is not retained ({e}); re-seed via catch_up()"
            ) from e
        rederived = (
            src.join(F.broadcast(risky_keys), self.group_keys)
            .groupBy(*self.group_keys)
            .agg(*auth_aggs)
        )
        out = partial.join(rederived, self.group_keys, "left")
        return out.withColumn("__has_auth", F.coalesce(col("__has_auth"), F.lit(False)))

    def seed(
        self, spark: SparkSession, snapshot: DataFrame | None, watermark: int
    ) -> None:
        """One-time (re)initialization from a SOURCE SNAPSHOT instead of
        CDC: for when the changelog segments covering
        (folded_version, watermark] do not exist — the source merged
        versions before changelog_keys was enabled, or vacuum() dropped
        segments past the view's lag. Replaces the whole view state with
        the snapshot's aggregate, watermarked at the snapshot's version,
        so the next fold() resumes CDC-only from ``watermark + 1``. Costs
        one source scan — the price of not having the changelogs — which
        is exactly what it replaces (a wedged ValueError loop)."""
        if snapshot is None:
            raise ValueError(
                "nothing to seed from: the source has no published state"
            )
        agg = snapshot.groupBy(*self.group_keys).agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            *[F.sum(col(c)).alias(c) for c in self.sum_cols],
            *[F.count(col(c)).cast("long").alias(_nn(c)) for c in self.sum_cols],
            *[F.min(col(c)).alias(f"__min_{c}") for c in self.min_cols],
            *[F.max(col(c)).alias(f"__max_{c}") for c in self.max_cols],
        )
        self.target.merge_with(spark, agg, lambda _t, u: u, watermark=watermark)

    def catch_up(self, spark: SparkSession, source: ParquetMergeTarget) -> DataFrame | None:
        """fold(), but self-healing: if the next needed changelog segment
        is missing (CDC enabled mid-life, or vacuumed past our lag),
        re-seed from the source's current snapshot instead of wedging the
        caller with a ValueError."""
        cur = source.current_version()
        try:
            return self.fold(spark, source, upto=cur)
        except MissingChangelogError:
            # a segment ANYWHERE in (folded_version, cur] is missing — not
            # just the first one (e.g. one interleaved merge ran without
            # changelog_keys, or vacuum raced us mid-fold). Re-seed from a
            # snapshot PINNED to the captured version: a live writer can
            # publish between the capture and the read, and an unpinned
            # read would aggregate the newer state while the watermark
            # says `cur` — the next fold would then re-apply that
            # version's changelog and double-count it. Any versions fold()
            # already committed before hitting the gap are harmlessly
            # superseded by the seed (it replaces the whole view state).
            self.seed(spark, source.read(spark, cur), watermark=cur)
            return self.read(spark)

    def fold(
        self,
        spark: SparkSession,
        source: ParquetMergeTarget,
        upto: int | None = None,
        coalesce_versions: bool = False,
    ) -> DataFrame | None:
        """Fold every unseen changelog version (folded_version, upto] into
        the view — by default one versioned commit per source version,
        watermarked by it, so replays and crash-recovery re-folds are
        no-ops and the view can always catch back up to the source by
        calling fold() again.

        ``coalesce_versions``: fold the WHOLE unseen range in ONE state
        commit (union of the range's changelogs → one partial → one
        merge, watermarked at ``upto``). Count/sum contributions are
        linear, so the unioned fold is exactly the sequential fold.
        Extremum retraction risk is still tested against the STORED
        (range-start) extremum — sufficient: if the value binding
        least(stored, range-inserts) was retracted anywhere in the range,
        that retraction is ≤ the stored extremum and trips the test; an
        intra-range non-binding retraction may trigger a spurious rescan,
        never a wrong answer (the rescan re-derives from the snapshot
        pinned at ``upto``, which is exact). Use for followers that fell
        many versions behind: one commit instead of N (a crash mid-fold
        replays the whole range — same contract, coarser grain)."""
        upto = source.current_version() if upto is None else int(upto)
        versions = list(range(self.folded_version() + 1, upto + 1))
        if not versions:
            return self.read(spark)
        logs = []
        for v in versions:
            log = source.read_changelog(spark, v)
            if log is None:
                raise MissingChangelogError(
                    f"source version {v} has no changelog segment — the view "
                    "cannot be maintained from CDC alone (was the merge run "
                    "without changelog_keys, or the segment vacuumed?)"
                )
            logs.append(log)
        out = None
        if coalesce_versions:
            log = logs[0]
            for nxt in logs[1:]:
                log = log.unionByName(nxt)
            partial = self._delta_partial(log)
            if self.min_cols or self.max_cols:
                partial = self._with_rederive(spark, source, upto, partial)
                fold_fn = self._extremum_fold()
            else:
                fold_fn = weighted_group_fold(self.group_keys, self.sum_cols)
            out = self.target.merge_with(spark, partial, fold_fn, watermark=upto)
        else:
            for v, log in zip(versions, logs):
                partial = self._delta_partial(log)
                if self.min_cols or self.max_cols:
                    partial = self._with_rederive(spark, source, v, partial)
                    fold_fn = self._extremum_fold()
                else:
                    fold_fn = weighted_group_fold(self.group_keys, self.sum_cols)
                out = self.target.merge_with(spark, partial, fold_fn, watermark=v)
        return out if out is not None else self.read(spark)

    def _extremum_fold(self):
        """target ⊕ partial fold when extrema are maintained: counts/sums
        accumulate; min/max fold monotonically against the stored value
        through the INSERT candidates, except for retraction-hit groups,
        whose authoritative re-derived values (``__authmin_/__authmax_``)
        override. Key-grain full-outer join — one shuffle on the group
        key, the same cost shape as the counts-only merge_accumulate."""
        keys = self.group_keys
        add_cols = list(self.sum_cols) + [_nn(c) for c in self.sum_cols]

        def fold(tgt: DataFrame | None, upd: DataFrame) -> DataFrame:
            # the override keys on __has_auth, NOT on the auth value: a
            # re-derived extremum over surviving all-null rows is
            # legitimately NULL, and value-coalescing would resurrect the
            # stale stored/insert extremum
            if tgt is None:
                out = upd.select(
                    *keys,
                    col("__n"),
                    *[col(c) for c in add_cols],
                    *[
                        F.when(col("__has_auth"), col(f"__authmin_{c}"))
                        .otherwise(col(f"__insmin_{c}"))
                        .alias(f"__min_{c}")
                        for c in self.min_cols
                    ],
                    *[
                        F.when(col("__has_auth"), col(f"__authmax_{c}"))
                        .otherwise(col(f"__insmax_{c}"))
                        .alias(f"__max_{c}")
                        for c in self.max_cols
                    ],
                )
                return out.filter(col("__n") != 0)
            tgt = _with_nn_backfill(tgt, self.sum_cols)
            t = tgt.select(
                *keys,
                col("__n").alias("__t_n"),
                *[col(c).alias(f"__t_{c}") for c in add_cols],
                *[col(f"__min_{c}").alias(f"__tmin_{c}") for c in self.min_cols],
                *[col(f"__max_{c}").alias(f"__tmax_{c}") for c in self.max_cols],
            )
            j = t.join(upd, keys, "full_outer")
            sums = []
            for c in add_cols:
                # SUM-over-all-null groups stay NULL (the GROUP BY
                # recompute contract); otherwise nulls count as 0
                sums.append(
                    F.when(
                        col(f"__t_{c}").isNull() & col(c).isNull(), F.lit(None)
                    )
                    .otherwise(
                        F.coalesce(col(f"__t_{c}"), F.lit(0))
                        + F.coalesce(col(c), F.lit(0))
                    )
                    .alias(c)
                )
            mins = [
                F.when(col("__has_auth"), col(f"__authmin_{c}"))
                .otherwise(F.least(col(f"__tmin_{c}"), col(f"__insmin_{c}")))
                .alias(f"__min_{c}")
                for c in self.min_cols
            ]
            maxs = [
                F.when(col("__has_auth"), col(f"__authmax_{c}"))
                .otherwise(F.greatest(col(f"__tmax_{c}"), col(f"__insmax_{c}")))
                .alias(f"__max_{c}")
                for c in self.max_cols
            ]
            out = j.select(
                *keys,
                (
                    F.coalesce(col("__t_n"), F.lit(0))
                    + F.coalesce(col("__n"), F.lit(0))
                ).alias("__n"),
                *sums,
                *mins,
                *maxs,
            )
            return out.filter(col("__n") != 0)

        return fold

    def read(self, spark: SparkSession) -> DataFrame | None:
        """(group_keys..., n_rows, sum_cols..., min_<c>..., max_<c>...) —
        the maintained aggregate."""
        t = self.target.read(spark)
        if t is None:
            return None
        return t.select(
            *self.group_keys,
            col("__n").alias("n_rows"),
            *nn_read_cols(t, self.sum_cols),
            *[col(f"__min_{c}").alias(f"min_{c}") for c in self.min_cols],
            *[col(f"__max_{c}").alias(f"max_{c}") for c in self.max_cols],
        )

    def read_derived(self, spark: SparkSession) -> DataFrame | None:
        """read() plus the derived READ-SIDE metrics: ``avg_<c> = c /
        n_rows`` for every sum column. Ratios of maintained aggregates are
        computed at read time, never maintained as state — an average is
        not group-commutative under retraction, but its numerator and
        denominator both are, so the view stays counts+sums (the module
        contract) and any derived ratio is exact by construction. Rates
        follow the same recipe: maintain ``sum(indicator)`` or a
        window-keyed count as a sum column and divide at read time."""
        t = self.read(spark)
        if t is None:
            return None
        for c in self.sum_cols:
            t = t.withColumn(f"avg_{c}", col(c).cast("double") / col("n_rows"))
        return t


def follow(
    view: "ChangelogAggregateView",
    spark: SparkSession,
    source: ParquetMergeTarget,
    poll_interval_s: float = 1.0,
    max_idle_polls: int = 3,
) -> int:
    """The T6 periodic-tick form of consumption: poll the source's
    published version and fold anything new, until the source stays quiet
    for ``max_idle_polls`` consecutive polls. Returns the number of
    versions folded. Crash-safe for free — every fold is watermarked, so
    a restarted follower resumes from ``folded_version()``; in production
    the loop body runs under any scheduler (cron, Trigger.ProcessingTime)
    exactly like streaming/jobs.py's micro-jobs."""
    import time

    folded = 0
    idle = 0
    while idle < max_idle_polls:
        if source.current_version() > view.folded_version():
            # count from the view's own watermark, not the pre-fold gap:
            # fold() catches up to the source's CURRENT version at fold
            # time, so a writer advancing between the poll and the fold
            # would otherwise be folded-but-uncounted. catch_up, not bare
            # fold: a vacuum outrunning a lagging follower mid-run
            # re-seeds from a pinned snapshot instead of killing the
            # loop with a missing-changelog ValueError.
            before = view.folded_version()
            view.catch_up(spark, source)
            folded += view.folded_version() - before
            idle = 0
        else:
            idle += 1
            time.sleep(poll_interval_s)
    return folded


def changelog_group_counts(
    spark: SparkSession,
    source: ParquetMergeTarget,
    view_path: str,
    group_keys: Sequence[str],
    sum_cols: Sequence[str] = (),
) -> DataFrame | None:
    """One-call convenience: catch a view up to the source and read it."""
    view = ChangelogAggregateView(view_path, group_keys, sum_cols)
    view.fold(spark, source)
    return view.read(spark)
