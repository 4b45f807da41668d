"""Join operators beyond plain equi-joins (SURVEY.md §2.3 J3-J4).

The reference's only join is a positional gather
(``/root/reference/model/search/vector.py:183``); these are the general
forms a pipeline needs, each built so the physical plan scales:

- ``band_join``: equi-key join + residual range predicate → hash join with
  the band as a post-filter (never a nested-loop cross product).
- ``asof_join``: merge_asof semantics via the union+window trick — ONE shuffle
  by key, no row explosion. The naive alternative (range join then pick
  max-time row) multiplies every left row by all earlier right rows before
  discarding — quadratic in the worst case and a skew bomb at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def band_join(
    left: DataFrame,
    right: DataFrame,
    equi: Column,
    band: Column,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a residual band predicate. Catalyst plans the equi part
    as a hash/sort-merge join and applies the band as a join filter."""
    return left.join(right, equi & band, how)


def minute_bucket_fn(width_min: int):
    """Monotone bucket function over timestamps at ``width_min``-minute
    grain, NTZ-safe (pure calendar arithmetic — no session-timezone unix
    conversion). ``width_min`` must divide 1440 so day boundaries are also
    bucket boundaries."""
    if 1440 % width_min:
        raise ValueError(f"width_min must divide 1440, got {width_min}")
    per_day = 1440 // width_min

    def fn(t: Column) -> Column:
        return F.unix_date(F.to_date(t)) * per_day + F.floor(
            (F.hour(t) * 60 + F.minute(t)) / width_min
        )

    return fn


def band_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on,
    left_time: str,
    right_time: str,
    band_lo,
    band_hi,
    bucket_fn,
) -> DataFrame:
    """Skew-safe equi + time-band join: ``left`` rows match ``right`` rows
    sharing the equi key(s) ``on`` with ``band_lo(lt) <= rt <= band_hi(lt)``
    (both bounds inclusive; ``band_lo``/``band_hi`` map the left time column
    to the window bounds).

    :func:`band_join` hash-joins on the equi key and applies the band as a
    join residual — which means a hot key enumerates |left_k| × |right_k|
    pairs BEFORE the filter: quadratic in the hot key's size, exactly the
    blowup the skew probe measures. This variant manufactures a second join
    key from time: each right row gets its bucket, each left row EXPLODES
    into the buckets its window covers (sequence — cost = window width /
    bucket width + 1, so pick the bucket ≈ the window width for a 2× left
    multiplier), and the join runs on (key, bucket) with the exact band as
    the residual. Every matching pair meets exactly once — in the right
    row's single bucket — so no dedup pass. A hot key's work drops from
    |L_k|×|R_k| to Σ_b |L_k,b|×|R_k,b|, bounded by per-bucket density, and
    its rows spread across as many tasks as it spans buckets.

    ``bucket_fn`` must be monotone non-decreasing in time (same contract as
    :func:`asof_join_bucketed`; :func:`minute_bucket_fn` builds one).
    Right columns must not collide with left's outside the equi key(s)."""
    keys = [on] if isinstance(on, str) else list(on)
    lb = (
        left.withColumn("_lo", band_lo(F.col(left_time)))
        .withColumn("_hi", band_hi(F.col(left_time)))
        .withColumn(
            "_bb",
            F.explode(
                F.sequence(
                    bucket_fn(F.col("_lo")).cast("bigint"),
                    bucket_fn(F.col("_hi")).cast("bigint"),
                )
            ),
        )
    )
    rb = right.withColumn("_bb", bucket_fn(F.col(right_time)).cast("bigint"))
    cond = (F.col(right_time) >= F.col("_lo")) & (
        F.col(right_time) <= F.col("_hi")
    )
    return lb.join(rb, keys + ["_bb"]).filter(cond).drop("_bb", "_lo", "_hi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_time <= left_time`` (``backward``; equal times match) or the
    earliest right row with ``right_time >= left_time`` (``forward``),
    per key ``on``.

    Implementation: tag both sides, union by (key, time), then
    ``last(value, ignorenulls=True)`` over a running window — ascending
    time for backward, DESCENDING time for forward (the same running frame
    mirrored by sort order, keeping WindowExec's O(n) incremental path in
    both directions) — the standard distributed merge-asof. Cost: one
    shuffle on the key, one sort within partitions; output rows = |left|. Right rows are deduplicated to one per
    (key, time) with a deterministic tie-break so results are stable (the
    reference's tie behavior is engine-accidental, SURVEY.md §5.2.4).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    fwd = direction == "forward"

    # Deduplicate right to one row per (key, time): keep the row that sorts
    # last by the value columns (deterministic).
    wdedup = Window.partitionBy(on, right_time).orderBy(
        *[F.desc(c) for c in right_values]
    )
    right_clean = (
        right.select(on, right_time, *right_values)
        .withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    left_cols = [c for c in left.columns]
    r_side = right_clean.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(1 if fwd else 0).alias("_side"),  # right sorts on the inclusive
        # side of left at equal time: BEFORE left for backward, AFTER for
        # forward — ties (equal timestamps) match in both directions
        *[F.col(c).alias(f"_rv_{c}") for c in right_values],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_lv_{c}") for c in left_cols],
    )
    l_side = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(0 if fwd else 1).alias("_side"),
        *[
            F.lit(None).cast(right_clean.schema[c].dataType).alias(f"_rv_{c}")
            for c in right_values
        ],
        *[F.col(c).alias(f"_lv_{c}") for c in left_cols],
    )

    # Both directions use the RUNNING frame (unboundedPreceding → current),
    # which Spark's WindowExec evaluates incrementally in O(n) per partition.
    # The mirror-image frame (current → unboundedFollowing) rescans the tail
    # for every row — O(n²) per partition, measured 99× slower at 50k rows
    # and 581× at 100k in one partition — so "forward" is expressed as
    # backward over DESCENDING (time, side): the prefix of a left row in
    # that order is exactly the rows with t > lt plus equal-time right rows
    # (right sorts first at equal time via _side), and last(ignorenulls)
    # picks the one nearest in time, i.e. the earliest right row ≥ lt.
    if fwd:
        base = Window.partitionBy("_k").orderBy(F.desc("_t"), F.desc("_side"))
    else:
        base = Window.partitionBy("_k").orderBy("_t", "_side")
    w = base.rowsBetween(Window.unboundedPreceding, 0)
    fill = F.last
    unioned = r_side.unionByName(l_side)
    filled = unioned.select(
        "_k",
        "_t",
        "_side",
        *[F.col(f"_lv_{c}") for c in left_cols],
        *[
            fill(f"_rv_{c}", ignorenulls=True).over(w).alias(f"_match_{c}")
            for c in right_values
        ],
    )
    return filled.filter(F.col("_side") == (0 if fwd else 1)).select(
        *[F.col(f"_lv_{c}").alias(c) for c in left_cols],
        *[F.col(f"_match_{c}").alias(f"asof_{c}") for c in right_values],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    bucket_fn,
    direction: str = "backward",
) -> DataFrame:
    """Skew-safe as-of join (backward or forward): hot keys no longer
    serialize their whole history through one task.

    :func:`asof_join` windows ``partitionBy(key)`` — one user_id holding 50%
    of 100 TB funnels 50 TB through a single task's sort. This variant salts
    the window with a TIME BUCKET (``bucket_fn`` maps a time column to a
    bigint bucket id and MUST be monotone non-decreasing in time, e.g.
    day/hour truncation):

    1. local as-of within each (key, bucket) — the big union+window now
       partitions on (key, bucket), so a hot key splits across
       #buckets tasks and per-task volume is bounded by bucket width;
    2. per-(key, bucket) LAST right row → a spine table of one row per
       distinct (key, bucket) — tiny relative to the data;
    3. running ``last(ignorenulls)`` over the spine per key, shifted one
       bucket back (frame ``(-∞, -1)``) → the carry-in: the latest right row
       from any strictly earlier bucket;
    4. left rows whose local fill is null take the carry-in (join on
       (key, bucket) — co-partitioned with step 1's shuffle).

    ``direction='forward'`` mirrors every step: local fill is ``first`` over
    the following frame, the spine keeps each bucket's EARLIEST right row,
    and the carry comes from strictly LATER buckets (frame ``(+1, ∞)``).

    Exactly :func:`asof_join`'s semantics per direction (ties at equal time
    match; right deduplicated per (key, time) the same way) — asserted by
    ``tests/test_scale.py`` on a synthetic distribution whose hottest key
    owns half the table, hypothesis-tested vs pandas merge_asof across
    random bucket widths, and driver-checked against DuckDB's native ASOF
    JOIN by the ``join_asof_bucketed_click_before_error`` registry entry."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    fwd = direction == "forward"
    wdedup = Window.partitionBy(on, right_time).orderBy(
        *[F.desc(c) for c in right_values]
    )
    right_clean = (
        right.select(on, right_time, *right_values)
        .withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    left_cols = list(left.columns)
    r_side = right_clean.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        bucket_fn(F.col(right_time)).cast("bigint").alias("_b"),
        F.lit(1 if fwd else 0).alias("_side"),  # right on the inclusive side
        # of left at equal time: BEFORE left (backward) / AFTER (forward)
        *[F.col(c).alias(f"_rv_{c}") for c in right_values],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"_lv_{c}")
            for c in left_cols
        ],
    )
    l_side = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        bucket_fn(F.col(left_time)).cast("bigint").alias("_b"),
        F.lit(0 if fwd else 1).alias("_side"),
        *[
            F.lit(None).cast(right_clean.schema[c].dataType).alias(f"_rv_{c}")
            for c in right_values
        ],
        *[F.col(c).alias(f"_lv_{c}") for c in left_cols],
    )
    unioned = r_side.unionByName(l_side)

    # (1) local as-of: the ONLY full-data window, partitioned on (key, bucket).
    # Forward runs over DESCENDING (time, side) so both directions use the
    # incremental O(n) running frame — the (current → unboundedFollowing)
    # frame is O(n²) per partition (see asof_join), which is exactly the
    # hot-task blowup this bucketed variant exists to avoid.
    if fwd:
        base = Window.partitionBy("_k", "_b").orderBy(
            F.desc("_t"), F.desc("_side")
        )
    else:
        base = Window.partitionBy("_k", "_b").orderBy("_t", "_side")
    wloc = base.rowsBetween(Window.unboundedPreceding, 0)
    fill = F.last
    r_marker = F.when(F.col("_side") == (1 if fwd else 0), F.col("_t"))
    filled = unioned.select(
        "_k",
        "_b",
        "_side",
        *[F.col(f"_lv_{c}") for c in left_cols],
        *[
            fill(f"_rv_{c}", ignorenulls=True).over(wloc).alias(f"_loc_{c}")
            for c in right_values
        ],
        # non-null marker of the local match so "no right row on my side IN
        # THIS BUCKET" is distinguishable from a null right value
        fill(r_marker, ignorenulls=True).over(wloc).alias("_loc_t"),
    ).filter(F.col("_side") == (0 if fwd else 1))

    # (2) spine: one row per distinct (key, bucket) seen on either side,
    #     annotated with that bucket's boundary right row (if any):
    #     last for backward carry, first for forward carry — one aggregate
    #     over the union, where only right rows carry an ordering time
    #     (min_by/max_by skip NULL orderings)
    bt_agg = F.min if fwd else F.max
    bv_agg = F.min_by if fwd else F.max_by
    spine = unioned.groupBy("_k", "_b").agg(
        bt_agg(r_marker).alias("_bt"),
        *[
            bv_agg(f"_rv_{c}", r_marker).alias(f"_bv_{c}")  # (key,time) unique
            for c in right_values
        ],
    )

    # (3) carry-in per (key, bucket): boundary right row of any EARLIER
    #     (backward) / LATER (forward) bucket — a window over the tiny
    #     spine, never the data
    # (_k, _b) is unique in the spine, so descending bucket order + the
    # exclusive running frame is the exact mirror of "first among strictly
    # later buckets" — again avoiding the quadratic tail-rescan frame even
    # though the spine is small (one row per (key, bucket)).
    if fwd:
        wspine = Window.partitionBy("_k").orderBy(F.desc("_b"))
    else:
        wspine = Window.partitionBy("_k").orderBy("_b")
    wcarry = wspine.rowsBetween(Window.unboundedPreceding, -1)
    cfill = F.last
    carry = spine.select(
        "_k",
        "_b",
        cfill("_bt", ignorenulls=True).over(wcarry).alias("_ct"),
        *[
            cfill(f"_bv_{c}", ignorenulls=True).over(wcarry).alias(f"_cv_{c}")
            for c in right_values
        ],
    )

    # (4) local match wins when present, else the carried-in boundary row
    out = filled.join(carry, ["_k", "_b"], "left")
    use_local = F.col("_loc_t").isNotNull()
    return out.select(
        *[F.col(f"_lv_{c}").alias(c) for c in left_cols],
        *[
            F.when(use_local, F.col(f"_loc_{c}"))
            .otherwise(F.col(f"_cv_{c}"))
            .alias(f"asof_{c}")
            for c in right_values
        ],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
) -> DataFrame:
    """Nearest as-of join: for each left row, the right row minimizing
    |right_time − left_time| per key — backward wins ties (pandas
    ``merge_asof(direction='nearest')`` semantics). Output = left columns +
    matched right values + ``matched_time``.

    One shuffle, two in-partition sorts: both directional candidates come
    from a single union + one window PARTITIONING (ascending and descending
    orderings over the same key — two WindowExecs, no second exchange):
    running ``last(ignorenulls)`` over ascending time fills the
    latest-before candidate, the same running frame over descending time
    fills the earliest-after, and a scalar comparison picks the nearer. Equal-time
    right rows match the backward leg (they sort before the left row), so
    Δt=0 — which always wins — is never missed. Right rows are deduplicated
    to one per (key, time) exactly as :func:`asof_join`."""
    wdedup = Window.partitionBy(on, right_time).orderBy(
        *[F.desc(c) for c in right_values]
    )
    right_clean = (
        right.select(on, right_time, *right_values)
        .withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    left_cols = list(left.columns)
    r_side = right_clean.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),  # right before left at equal time: backward
        # leg sees Δt=0 ties, forward leg doesn't need them
        F.col(right_time).alias("_rt"),
        *[F.col(c).alias(f"_rv_{c}") for c in right_values],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_lv_{c}") for c in left_cols],
    )
    l_side = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right_clean.schema[right_time].dataType).alias("_rt"),
        *[
            F.lit(None).cast(right_clean.schema[c].dataType).alias(f"_rv_{c}")
            for c in right_values
        ],
        *[F.col(c).alias(f"_lv_{c}") for c in left_cols],
    )
    # Both legs use the incremental O(n) running frame; the forward leg runs
    # over DESCENDING (time, side) rather than the (current →
    # unboundedFollowing) frame, which is O(n²) per partition (tail rescan
    # per row — see asof_join). Two orderings over the SAME partition key =
    # two WindowExecs separated by an in-partition re-sort, still one
    # shuffle; at equal time the right row (side 0) sorts after the left row
    # (side 1) descending, so the forward leg keeps its strictly-later
    # semantics and Δt=0 ties stay with the backward leg, which wins anyway.
    base = Window.partitionBy("_k").orderBy("_t", "_side")
    wb = base.rowsBetween(Window.unboundedPreceding, 0)
    wf = (
        Window.partitionBy("_k")
        .orderBy(F.desc("_t"), F.desc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = r_side.unionByName(l_side).select(
        "_k",
        "_t",
        "_side",
        *[F.col(f"_lv_{c}") for c in left_cols],
        F.last("_rt", ignorenulls=True).over(wb).alias("_bt"),
        F.last("_rt", ignorenulls=True).over(wf).alias("_ft"),
        *[
            F.last(f"_rv_{c}", ignorenulls=True).over(wb).alias(f"_b_{c}")
            for c in right_values
        ],
        *[
            F.last(f"_rv_{c}", ignorenulls=True).over(wf).alias(f"_f_{c}")
            for c in right_values
        ],
    )
    # subtraction not cast: timestamp − timestamp is a comparable day-time
    # interval, and plain numbers subtract too — one expression for both
    back_d = F.col("_t") - F.col("_bt")
    fwd_d = F.col("_ft") - F.col("_t")
    use_back = F.col("_ft").isNull() | (F.col("_bt").isNotNull() & (back_d <= fwd_d))
    return filled.filter(F.col("_side") == 1).select(
        *[F.col(f"_lv_{c}").alias(c) for c in left_cols],
        *[
            F.when(use_back, F.col(f"_b_{c}")).otherwise(F.col(f"_f_{c}")).alias(
                f"{c}_nearest"
            )
            for c in right_values
        ],
        F.when(use_back, F.col("_bt")).otherwise(F.col("_ft")).alias("matched_time"),
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_time: str,
    right_start: str,
    right_end: str,
    bucket_fn,
    how: str = "inner",
) -> DataFrame:
    """Scalable point-in-interval range join WITHOUT an equi key.

    A bare ``l.t BETWEEN r.start AND r.end`` join has no equi condition, so
    Catalyst plans BroadcastNestedLoopJoin — fine when one side broadcasts,
    quadratic disaster when both sides are big. This manufactures the equi
    key: ``bucket_fn`` (monotone, same as :func:`asof_join_bucketed`) maps
    times to coarse buckets; each right interval is EXPLODED into every
    bucket it covers (sequence(start_bucket, end_bucket) — cost = interval
    length / bucket width), the join runs as a hash join on the bucket, and
    the exact BETWEEN predicate filters residually. Each (point, interval)
    match meets in exactly ONE bucket — the point's — so no dedup pass is
    needed. Pick the bucket width ≥ typical interval length so the explode
    multiplier stays ~2×.

    ``how='left'`` keeps unmatched left rows (interval columns NULL) via an
    anti-join complement on the same bucketed plan — still no nested loop.
    """
    lb = left.withColumn("_b", bucket_fn(F.col(left_time)).cast("bigint"))
    rb = right.withColumn(
        "_b",
        F.explode(
            F.sequence(
                bucket_fn(F.col(right_start)).cast("bigint"),
                bucket_fn(F.col(right_end)).cast("bigint"),
            )
        ),
    )
    cond = (F.col(left_time) >= F.col(right_start)) & (
        F.col(left_time) <= F.col(right_end)
    )
    matched = lb.join(rb, "_b").filter(cond).drop("_b")
    if how == "inner":
        return matched
    if how != "left":
        raise ValueError(f"how must be inner|left, got {how!r}")
    right_cols = [c for c in right.columns]
    unmatched = lb.join(
        rb.select("_b", right_start, right_end), ["_b"], "left"
    ).groupBy(*[F.col(c) for c in left.columns], "_b").agg(
        F.max(cond.cast("int")).alias("_hit")
    ).filter(
        (F.col("_hit").isNull()) | (F.col("_hit") == 0)
    ).select(
        *left.columns,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_cols],
    )
    return matched.select(*left.columns, *right_cols).unionByName(unmatched)
