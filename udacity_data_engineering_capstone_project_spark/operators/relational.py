"""Relational core: joins, argmax/top-k-per-group, nested aggregation
(reference: J1-J9, A1-A8, SURVEY.md §2.4-2.5).

Scale posture: dim joins take a SIZE-GATED broadcast hint
(`maybe_broadcast` — the reference's 52-622-row dims are hinted, a
dim_person-scale dim or a 100x-grown input falls back to shuffle/AQE,
SURVEY.md §4); the argmax is a single window pass instead of the
reference's two-aggregation + self-join formulation (`etl.py:181-204`),
halving the shuffles. The join formulation is kept as `argmax_join`
because its semantics differ (it preserves ties) and it serves as a
test oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Ceiling for a *forced* broadcast hint. Matches the order of magnitude
# of spark.sql.autoBroadcastJoinThreshold's intent (fit comfortably in
# every executor), not its conservative 10 MB default: a hint skips the
# optimizer's own stats check, so the gate lives here instead.
DEFAULT_BROADCAST_MAX_BYTES = 64 * 1024 * 1024

#: Estimates at/above this are sentinel-propagated garbage, not real
#: sizes (Spark's "no stats" Long.MaxValue leaks through operators as
#: slightly-smaller huge numbers). 1 EiB: no real broadcast side.
_SENTINEL_FLOOR = 1 << 60

#: Logical leaves that are driver-local by construction; their unknown
#: size means "a few in-memory rows", not an unstatted external table.
#: LogicalRDD is included (matching quality._LOCAL_LEAF_NODES): python
#: createDataFrame frames arrive RDD-backed, and they are the
#: rules/model-frame case this resolution exists for. The residual
#: risk — a huge localCheckpoint'd frame also reads as LogicalRDD —
#: is bounded by the caller: checkpointed frames in this engine are
#: pair/model outputs, and a caller who hands a checkpointed fact
#: table to a dim-join helper had a forced broadcast before this gate
#: existed.
_LOCAL_LEAF_NODES = frozenset(
    {"LocalRelation", "OneRowRelation", "Range", "LogicalRDD"}
)


def materialized_size_bytes(df: DataFrame) -> int | None:
    """The ACTUAL storage size of a materialized (localCheckpoint'ed /
    persisted) frame, read from the block manager — or None when the
    plan is not a single persisted-RDD leaf.

    Why this exists: `localCheckpoint(eager=True)` replaces the plan
    with a LogicalRDD but CARRIES THE PRE-CHECKPOINT STATS ESTIMATE
    through — a probe frame whose un-materialized estimate rode
    through a crossJoin still "estimates" tens of GB after the
    checkpoint even though its blocks total a few KB (review-confirmed
    live: 35.9 GB estimate vs 3 944 actual bytes). The block manager
    knows the truth, so size gates should prefer it.
    """
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        if leaves.size() != 1 or leaves.apply(0).nodeName() != "LogicalRDD":
            return None
        return _rdd_leaf_storage_bytes(df, leaves.apply(0))
    except Exception:
        return None


#: Row ceiling for the bounded smallness probe of sentinel-stats
#: frames with un-persisted LogicalRDD leaves. Model/rules frames are
#: thousands of rows; anything past this is not a hint candidate.
_LOCAL_PROBE_MAX_ROWS = 1 << 18


#: First-stage sample size for the smallness probe: enough rows to
#: estimate per-row density, small enough that even KB-wide text rows
#: cost only a few MB of driver memory.
_LOCAL_PROBE_SAMPLE_ROWS = 4096


def _probe_frame_is_small(df: DataFrame, max_bytes: int) -> bool:
    """Cheap residual guard (r8, review finding) for a frame whose only
    size signal is 'all leaves are driver-local': accept the hint only
    when the frame ends within the row cap AND its pickled bytes fit
    half the budget (pickle over-counts per-row Row overhead, so the
    bound errs conservative).

    Two-stage (r9, review finding): a single take(row_cap+1) fully
    collected up to 262k rows to the driver JUST to decline a wide
    frame — 200k rows of KB-sized text spiked driver memory 2-3x the
    frame size on the decline path. Stage 1 samples a few thousand
    rows to estimate per-row density; stage 2 takes only as many rows
    as could POSSIBLY fit the budget at that density (never more than
    the row cap) — a frame that ends within that limit is measured
    exactly (so mid-sized frames that fit keep their hint — the first
    r9 cut extrapolated to the CAP and wrongly declined every
     4k-262k-row frame wider than ~128 B/row), while a frame that
    overflows it declines having materialized at most ~budget/2 of
    row data. Density drift past the sample can only cause a
    conservative decline, never an over-budget accept: acceptance is
    always decided by pickling the FULL take.
    """
    try:
        import pickle

        cap = _LOCAL_PROBE_MAX_ROWS
        sample_n = min(_LOCAL_PROBE_SAMPLE_ROWS, cap)
        rows = df.take(sample_n + 1)
        if len(rows) <= sample_n:
            return len(pickle.dumps(rows)) <= max_bytes // 2
        if sample_n == cap:
            return False  # already past the row cap
        sample_bytes = len(pickle.dumps(rows[:sample_n]))
        per_row = max(sample_bytes / sample_n, 1.0)
        fits = int((max_bytes // 2) / per_row)
        limit = min(cap, fits)
        if limit <= sample_n:
            return False  # even the sample exceeds the budget's rows
        rows = df.take(limit + 1)
        if len(rows) > limit:
            return False  # over the cap, or over budget at density
        return len(pickle.dumps(rows)) <= max_bytes // 2
    except Exception:
        return False


def _rdd_leaf_storage_bytes(df: DataFrame, leaf) -> int | None:
    """Block-manager storage size for one LogicalRDD leaf, or None when
    its blocks are not held (un-persisted / evicted — size unknowable)."""
    try:
        rdd_id = leaf.rdd().id()
        infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
        for i in range(len(infos)):
            if infos[i].id() == rdd_id:
                return int(infos[i].memSize()) + int(infos[i].diskSize())
    except Exception:
        return None
    return None


def maybe_broadcast(
    df: DataFrame, max_bytes: int | None = None
) -> DataFrame:
    """Size-gated broadcast hint: apply ``F.broadcast`` only when the
    optimizer's own size estimate for ``df``'s plan is at most
    ``max_bytes``.

    A bare ``F.broadcast(...)`` is a scale landmine: it overrides every
    stats check, so a table that is broadcast-sized at test SF (e.g.
    customer = 1/10 of lineitem) becomes a multi-GB forced broadcast
    into every executor at 100x. This helper keeps the hint's benefit
    (no shuffle of the big side, no reliance on runtime AQE conversion)
    while bounding it with the same statistics Catalyst uses for
    auto-broadcast: `LogicalPlan.stats.sizeInBytes`, which is file-size
    based for parquet scans (cheap, driver-side, no job) and propagates
    through filters/projections.

    When the estimate is unavailable (e.g. Spark Connect, where the
    plan is remote) or too large, the input is returned UNHINTED — the
    safe default, since AQE still converts to broadcast-hash at runtime
    from the actual shuffle sizes when the side turns out small.

    Sentinel handling: Spark reports "no stats" as Long.MaxValue, and
    python-side LocalRelations carry that sentinel — worse, operators
    ABOVE one propagate it as a garbage near-MaxValue "estimate" (a
    groupBy over a createDataFrame frame reads as ~5 EB). Any estimate
    above `_SENTINEL_FLOOR` (1 EiB — nothing real broadcasts at that
    scale) is therefore resolved by the plan's LEAVES: all-local
    leaves mean driver-memory-sized data (hint it — that is exactly
    the rules/model-frame case), while any external leaf means the
    size is genuinely unknowable (stay unhinted). LogicalRDD leaves
    additionally require block-manager-held blocks whose total fits
    the budget (r8): an un-persisted createDataFrame or an evicted
    checkpoint is NOT provably small just because it is driver-local.
    """
    if max_bytes is None:
        # read the module constant at CALL time so a deployment (or a
        # plan test simulating 100x inputs) can retune one global
        max_bytes = DEFAULT_BROADCAST_MAX_BYTES
    # builder-annotated size (r8): a frame constructed FROM a driver
    # list knows its own payload bytes at build time — builders stash
    # `_sg_local_bytes` (and propagate it through shrinking reshapes)
    # so the gate needs zero JVM calls and, crucially, zero probe JOBS
    # (the un-persisted-LogicalRDD probe below cost robots_filter_q
    # ~0.4 s/invocation before this fast path). The annotation counts
    # PAYLOAD bytes, not serialized JVM size (UTF8String + unsafe-row
    # struct overhead) — so the hint only triggers below a QUARTER of
    # the budget (review finding r8: a near-gate annotation could
    # force a multiple-of-annotated broadcast); clearly-over-budget
    # declines outright, and the ambiguous middle falls through to the
    # stats/block-manager/probe path.
    known = getattr(df, "_sg_local_bytes", None)
    if known is not None:
        if known <= max_bytes // 4:
            return F.broadcast(df)
        if known > max_bytes:
            return df
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        est = plan.stats().sizeInBytes()
        # py4j maps scala BigInt to int when it fits; stringify otherwise
        est = est if isinstance(est, int) else int(est.toString())
        if est > max_bytes:
            # an over-budget estimate on a MATERIALIZED frame is often
            # inherited garbage (localCheckpoint carries the
            # pre-checkpoint stats through) — the block manager has
            # the real number; gate on that when available
            actual = materialized_size_bytes(df)
            if actual is not None:
                return F.broadcast(df) if actual <= max_bytes else df
        if est >= _SENTINEL_FLOOR:
            leaves = plan.collectLeaves()
            known_bytes, unheld_rdd = 0, False
            for i in range(leaves.size()):
                name = leaves.apply(i).nodeName()
                if name not in _LOCAL_LEAF_NODES:
                    return df  # unstatted external source: assume huge
                if name == "LogicalRDD":
                    # a LogicalRDD leaf is only PROVABLY small when the
                    # block manager holds its blocks (r8, review
                    # finding): a large un-persisted frame or an
                    # EVICTED checkpoint also reads as "local leaves".
                    # Note Spark 4's Arrow createDataFrame path makes
                    # every model/rules frame a LogicalRDD, so these
                    # cannot simply stay unhinted — they get the
                    # bounded probe below instead.
                    size = _rdd_leaf_storage_bytes(df, leaves.apply(i))
                    if size is None:
                        unheld_rdd = True
                    else:
                        known_bytes += size
            if known_bytes > max_bytes:
                return df
            if unheld_rdd:
                # memoize (budget, verdict) ON the frame object so
                # repeated gate checks of the same DataFrame within one
                # plan build don't re-run the take()+pickle job — keyed
                # by max_bytes (r9, review finding: a verdict cached
                # under the default budget must not survive a runtime
                # retune of DEFAULT_BROADCAST_MAX_BYTES, e.g. a 100x
                # simulation shrinking the budget)
                cached = getattr(df, "_sg_probe_ok", None)
                if isinstance(cached, tuple) and cached[0] == max_bytes:
                    ok = cached[1]
                else:
                    ok = _probe_frame_is_small(df, max_bytes)
                    try:
                        df._sg_probe_ok = (max_bytes, ok)
                    except Exception:
                        pass
                if not ok:
                    return df
            return F.broadcast(df)  # fully driver-local: sentinel lies
    except Exception:
        return df
    return F.broadcast(df) if est <= max_bytes else df


def star_left_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[Column] | Sequence[str] | Column]],
    select: Sequence[Column | str] | None = None,
    broadcast_max_bytes: int | None = -1,
) -> DataFrame:
    """Chain left joins fact <- dim_1 <- ... <- dim_n, preserving every
    fact row (reference fact build, `etl.py:285-293`: "Each entry ...
    should be preserved").

    Each dim is broadcast-hinted PER DIM via `maybe_broadcast`: the
    reference's real dims (52-622 rows, `etl.py:221-269`) always get
    the hint, while a fact-sized dim like dim_person (5.4M rows, 1:1
    with the fact, `etl.py:242-249`) exceeds the gate and joins via
    shuffle/AQE instead — at 100x an unconditional hint there would
    force a 540M-row broadcast. ``broadcast_max_bytes=None`` disables
    hinting entirely; the default (-1) uses the module-level
    ``DEFAULT_BROADCAST_MAX_BYTES`` read at call time.
    """
    out = fact
    for dim, on in dims:
        if broadcast_max_bytes is None:
            d = dim
        elif broadcast_max_bytes == -1:
            d = maybe_broadcast(dim)
        else:
            d = maybe_broadcast(dim, broadcast_max_bytes)
        out = out.join(d, on=on, how="left")
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

