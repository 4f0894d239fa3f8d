"""Relational core: joins, argmax/top-k-per-group, nested aggregation
(reference: J1-J9, A1-A8, SURVEY.md §2.4-2.5).

Scale posture: joins carry no broadcast hints. The planner's
autoBroadcastJoinThreshold and AQE pick broadcast or shuffle per join
from the sizes they see, so the reference's 52-622-row dims broadcast
and a dim_person-scale dim or a 100x-grown input shuffles (SURVEY.md
§4). `maybe_broadcast` is only for eagerly checkpointed frames, whose
size neither can see; callers checkpoint a driver-built or exploded
build side (robots rules, the fuzzy dim's key neighborhood) so that it
can be sized. This module holds the one size reader (`plan_size`,
shared by the hints, the plan linter and the quality gates) and the
one ceiling (`broadcast_ceiling`, the session's threshold).

The argmax is a single window pass instead of the reference's
two-aggregation + self-join formulation (`etl.py:181-204`), halving
the shuffles. The join formulation is kept as `argmax_join`
because its semantics differ (it preserves ties) and it serves as a
test oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Estimates at/above this are sentinel-propagated garbage, not real
#: sizes (Spark's "no stats" Long.MaxValue leaks through operators as
#: slightly-smaller huge numbers). 1 EiB: no real broadcast side.
_SENTINEL_FLOOR = 1 << 60

#: Logical leaves that are driver-local by construction; their unknown
#: size means "a few in-memory rows", not an unstatted external table.
#: LogicalRDD is included because python createDataFrame frames arrive
#: RDD-backed.
_LOCAL_LEAF_NODES = frozenset(
    {"LocalRelation", "OneRowRelation", "Range", "LogicalRDD"}
)


def broadcast_ceiling(spark) -> int:
    """The session's spark.sql.autoBroadcastJoinThreshold in bytes,
    read live. It is the one broadcast ceiling: `maybe_broadcast`, the
    plan linter's ``oversized-broadcast-hint`` rule and
    `similarity.contamination_screen` use the number the planner
    applies to every other join. 0 or less means "never hint"."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def plan_size(df: DataFrame, plan=None) -> tuple[int | None, str | None]:
    """The size in bytes of ``plan`` (default: ``df``'s optimized
    plan), or why it is unknown: ``(bytes, None)`` or ``(None, why)``.

    A plan that is one held LogicalRDD leaf (a ``localCheckpoint``ed
    or persisted RDD) is sized from the block manager: the checkpoint
    keeps its pre-checkpoint estimate, so a probe frame whose estimate
    rode through a crossJoin reads as 35.9 GB although its blocks
    total 3,944 bytes. Any other plan is sized by the optimizer
    estimate when it is below `_SENTINEL_FLOOR`. Otherwise ``why`` is
    "local" when every leaf is in `_LOCAL_LEAF_NODES` (a few in-memory
    rows with no stats), "external" when a leaf reads an unstatted
    outside source, and "unreadable" when a reflection call failed.
    Each caller decides what an unknown size means for it.
    """
    try:
        if plan is None:
            plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        if leaves.size() == 1 and leaves.apply(0).nodeName() == "LogicalRDD":
            rdd_id = leaves.apply(0).rdd().id()
            infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
            for i in range(len(infos)):
                if infos[i].id() == rdd_id:
                    return int(infos[i].memSize()) + int(infos[i].diskSize()), None
        est = plan.stats().sizeInBytes()
        # py4j maps scala BigInt to int when it fits
        est = est if isinstance(est, int) else int(est.toString())
        if est < _SENTINEL_FLOOR:
            return est, None
        for i in range(leaves.size()):
            if leaves.apply(i).nodeName() not in _LOCAL_LEAF_NODES:
                return None, "external"
        return None, "local"
    except Exception:
        return None, "unreadable"


def maybe_broadcast(
    df: DataFrame, max_bytes: int | None = None
) -> DataFrame:
    """Broadcast hint for an eagerly checkpointed frame: ``F.broadcast``
    when `plan_size` reads ``df`` at most ``max_bytes`` (default: the
    session's `broadcast_ceiling`), else ``df`` unchanged.

    Everywhere else the planner's autoBroadcastJoinThreshold and AQE
    choose the join strategy from the sizes they see. A checkpoint
    hides its size from both: the LogicalRDD keeps the pre-checkpoint
    estimate, which through an explode or a self-join reads as GBs for
    a few KB of rows, so the build side would be picked from a wrong
    number; a frame built on the driver, or exploded, has no usable
    estimate at all, so callers checkpoint it first. An unknown size,
    or a ceiling of 0 or less, leaves ``df`` unhinted.
    """
    if max_bytes is None:
        max_bytes = broadcast_ceiling(df.sparkSession)
    size, _ = plan_size(df)
    if size is None or max_bytes <= 0 or size > max_bytes:
        return df
    return F.broadcast(df)


def star_left_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[Column] | Sequence[str] | Column]],
    select: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Chain left joins fact <- dim_1 <- ... <- dim_n, preserving every
    fact row (reference fact build, `etl.py:285-293`: "Each entry ...
    should be preserved").

    The planner and AQE choose each dim's join strategy: the
    reference's real dims (52-622 rows, `etl.py:221-269`) fall under
    the broadcast threshold, while a fact-sized dim like dim_person
    (5.4M rows, 1:1 with the fact, `etl.py:242-249`) is shuffle-joined.
    """
    out = fact
    for dim, on in dims:
        out = out.join(dim, on=on, how="left")
    if select is not None:
        out = out.select(*select)
    return out


def top_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    n: int = 1,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-n rows per group via one window pass (idiomatic replacement
    for the reference's count->max->self-join argmax, SURVEY.md §4).

    ``order_by`` must be a total order (include a unique tiebreaker) for
    deterministic output.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    ranked = df.withColumn(rank_col, F.row_number().over(w))
    out = ranked.filter(F.col(rank_col) <= n)
    return out if keep_rank else out.drop(rank_col)


def argmax_join(
    df: DataFrame,
    group_by: Sequence[str],
    count_col: str,
    count_name: str = "num",
) -> DataFrame:
    """The reference's argmax formulation (`etl.py:181-204`): count per
    (group, value), max per group, self-join on count == max.

    Unlike `top_per_group` this PRESERVES TIES (all values sharing the
    max count survive) — exactly the reference's join semantics.
    """
    keys = list(group_by)
    counted = df.groupBy(*keys, count_col).agg(F.count(count_col).alias(count_name))
    maxed = counted.groupBy(*keys).agg(F.max(count_name).alias("__max_num"))
    maxed = maxed.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys], F.col("__max_num")
    )
    # NO broadcast hint on `maxed`: it holds one row per group, and
    # group cardinality is unbounded (e.g. per-customer argmax at 100x
    # scale is tens of millions of rows). Both sides already hash on
    # the group keys, so the join reuses `counted`'s partitioning; AQE
    # downgrades to broadcast-hash by itself when the side is small.
    joined = counted.join(
        maxed,
        on=[F.col(k) == F.col(f"__k_{k}") for k in keys]
        + [F.col(count_name) == F.col("__max_num")],
        how="inner",
    )
    return joined.select(*keys, count_col, count_name)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side and
    replicate the (smaller) right side across ``salts`` buckets, so one
    hot key spreads over ``salts`` tasks instead of one straggler.

    The salt is the left row's position (monotonically_increasing_id
    mod salts) — round-robin within each input partition, so even
    fully-identical duplicate rows of one hot key spread across all
    buckets (a value-derived hash would send them to a single salt).
    Deterministic for a fixed input layout.

    When to use — measured, not assumed (BASELINE.md, salted-join
    probe): for a single-hot-key SMJ,
    AQE's skew-join split subdivides the skewed partition by
    map-output ranges and BEATS salting (5.4 s vs 14.4 s on a 20M-row
    50%-hot probe; the x``salts`` right-side replication costs more
    than the straggler it removes). Reach for explicit salting only
    where AQE's split cannot run: stream-stream joins, skew-split
    disabled environments, or when the downstream stage must inherit
    the spread partitioning. Result equivalence with the plain join
    is hash-graded end-to-end by `salted_join_q`.

    Replicating the right side across salts is only sound when
    unmatched RIGHT rows are never emitted, so ``how`` is restricted
    to inner/left flavors (a right/full outer join would emit each
    unmatched right row ``salts`` times).
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; {how!r} would "
            "duplicate unmatched right rows across salt buckets"
        )
    salt_col = F.pmod(F.monotonically_increasing_id(), F.lit(salts))
    lt = left.withColumn("__salt", salt_col.cast("int"))
    rt = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = lt.join(rt, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    right_payload: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    right.ts <= left.ts (``backward``) or the earliest right row with
    right.ts >= left.ts (``forward``) sharing the key — an operator
    Spark lacks natively, composed scalably from union + window:

    tag both sides, union, sort within key by (ts, tag) so a right row
    at the same ts precedes the left row, then carry the last non-null
    right payload forward with `last(..., ignorenulls=True)`. For
    ``forward`` only the sort flips to ts DESC: walking from the
    largest ts down, the last right row seen is the smallest right.ts
    that is still >= left.ts. One shuffle on the key either way, no
    per-row subquery, no range explosion — survives any data size that
    sorts within key partitions.

    Left rows with no prior (next, for ``forward``) right row keep
    nulls (left-join semantics). Right payload columns are emitted as
    ``asof_<name>``. Equal timestamps match in both directions.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = list(key_cols)
    lt = left.withColumn("__tag", F.lit(1))
    for p in right_payload:
        lt = lt.withColumn(f"asof_{p}", F.lit(None).cast(dict(right.dtypes)[p]))
    rt = right.select(
        *keys,
        F.col(ts_col),
        F.lit(0).alias("__tag"),
        *[F.col(p).alias(f"asof_{p}") for p in right_payload],
    )
    lt_cols = [c for c in lt.columns if c not in {f"asof_{p}" for p in right_payload}]
    merged = lt.select(
        *[F.col(c) for c in lt_cols], *[F.col(f"asof_{p}") for p in right_payload]
    ).unionByName(rt, allowMissingColumns=True)

    ts_order = F.col(ts_col).asc() if direction == "backward" else F.col(ts_col).desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        *[c for c in merged.columns if not c.startswith("asof_")],
        *[
            F.last(F.col(f"asof_{p}"), ignorenulls=True).over(w).alias(f"asof_{p}")
            for p in right_payload
        ],
    )
    return carried.filter(F.col("__tag") == 1).drop("__tag")


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Interval join: left rows whose ``point_col`` falls inside a right
    row's [start_col, end_col] with matching keys — an operator Spark
    only plans as a broadcast-nested-loop / full theta join natively.

    Bucket-and-prune formulation: each right interval explodes to the
    fixed-width buckets it overlaps, each left point maps to exactly
    one bucket, and the match becomes an EQUI-join on (keys, bucket)
    plus an exact containment filter. Shuffle volume is
    O(points + intervals * spans) instead of O(points x intervals);
    pick ``bucket_width`` near the typical interval length so spans
    stay small. Intervals and points use integral units (epoch-us,
    days — caller chooses).

    Output: all left columns + all right columns (names must not
    collide; alias beforehand). Inner-join semantics.
    """
    keys = list(key_cols)
    span = F.sequence(
        F.floor(F.col(start_col) / bucket_width),
        F.floor(F.col(end_col) / bucket_width),
    )
    rt = right.withColumn("__bucket", F.explode(span))
    lt = left.withColumn(
        "__bucket", F.floor(F.col(point_col) / bucket_width)
    )
    out = lt.join(rt, on=keys + ["__bucket"]).filter(
        (F.col(point_col) >= F.col(start_col))
        & (F.col(point_col) <= F.col(end_col))
    )
    # a point matches an interval in exactly one bucket (its own), so
    # no dedup pass is needed
    return out.drop("__bucket")


def avg_of_avgs(
    df: DataFrame,
    inner_group: Sequence[str],
    outer_group: Sequence[str],
    value_col: str,
    out_name: str = "avg_of_avg",
) -> DataFrame:
    """Two-level nested aggregation (reference A3/A4, `etl.py:190-215`):
    avg per inner group, then avg of those per outer group. Deliberately
    NOT a weighted mean — replicates the reference as written
    (SURVEY.md §7 trap (e))."""
    inner = df.groupBy(*inner_group).agg(F.avg(value_col).alias("__inner_avg"))
    return inner.groupBy(*outer_group).agg(F.avg("__inner_avg").alias(out_name))


_STEP_TRUNC = {
    "1 hour": "hour",
    "1 day": "day",
    "1 week": "week",
    "1 minute": "minute",
}


def resample_time_series(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    step: str,
    aggs: dict[str, Column],
    fill: dict[str, object] | None = None,
) -> DataFrame:
    """Regularize an event stream into a dense fixed-step grid per key:
    aggregate events into buckets, then LEFT-join them onto the full
    bucket range so silent periods appear as explicit rows (null or
    `fill`ed) — the gap-filling step before any rolling-window or
    forecasting pass, where a missing bucket must mean zero, not
    absent.

    The bucket spine is generated per key from its own [min, max] span
    (sequence + explode — no driver-side date math, no cross join
    against a global calendar: a key active for one day materializes
    one day of buckets, not the corpus's full history). Two shuffles:
    the bucket aggregation and the spine join, both on (key, bucket).

    `step` is one of "1 minute" / "1 hour" / "1 day" / "1 week" —
    steps that date_trunc can bucket directly (an arbitrary "N units"
    step needs epoch-division bucketing, which would silently disagree
    with the spine for multi-unit steps, so it is rejected rather than
    approximated); `aggs` maps output column -> aggregate expression
    over the events of one bucket.
    """
    if step not in _STEP_TRUNC:
        raise ValueError(
            f"step must be one of {sorted(_STEP_TRUNC)}, got {step!r}"
        )
    bucket = F.date_trunc(_STEP_TRUNC[step], F.col(ts_col))
    keys = [F.col(k) for k in key_cols]
    per_bucket = (
        df.withColumn("__bucket", bucket)
        .groupBy(*keys, F.col("__bucket"))
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )
    spans = df.withColumn("__bucket", bucket).groupBy(*keys).agg(
        F.min("__bucket").alias("__lo"), F.max("__bucket").alias("__hi")
    )
    spine = spans.select(
        *keys,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step}"))
        ).alias("__bucket"),
    )
    out = spine.join(per_bucket, on=[*key_cols, "__bucket"], how="left")
    if fill:
        out = out.fillna(fill)
    return out.withColumnRenamed("__bucket", "bucket_start")

