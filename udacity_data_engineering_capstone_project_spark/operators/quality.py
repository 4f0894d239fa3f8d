"""Data-quality checks (reference: Q1-Q3, SURVEY.md §2.10).

Covers `recordCount`/`checkNumberOfRows` (`etl.py:74-86`) and the
distinct-cardinality check (`etl.py:353-360`), plus the schema assertion
the reference's write-up wished for (Capstone_Project.ipynb cell 44).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class QualityError(ValueError):
    """Raised when a data-quality expectation fails (reference raises
    bare ValueError, `etl.py:86`)."""


def expect_row_count(df: DataFrame, expected: int, name: str = "dataframe") -> int:
    """Assert the frame's row count. A frame written by
    `sources.sinks.write_parquet` carries that write's committed row
    count (``df._sg_written["rows"]``, from the write's own SQL metrics);
    the check compares against it, so it gates on what was written and
    runs no job. Any other frame is counted (``df.count()``)."""
    written = getattr(df, "_sg_written", None)
    actual = written["rows"] if written else df.count()
    if actual != expected:
        raise QualityError(
            f"{name}: expected {expected} rows, found {actual}"
        )
    return actual


def expect_distinct_count(
    df: DataFrame, column: str, expected: int, name: str = "dataframe"
) -> int:
    actual = df.select(F.countDistinct(F.col(column)).alias("n")).collect()[0]["n"]
    if actual != expected:
        raise QualityError(
            f"{name}.{column}: expected {expected} distinct values, found {actual}"
        )
    return actual


def expect_schema(df: DataFrame, expected_fields: Sequence[tuple[str, str]], name: str = "dataframe") -> None:
    """Assert (column, spark-type-simpleString) pairs, order-sensitive."""
    actual = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    if list(expected_fields) != actual:
        raise QualityError(f"{name}: schema mismatch\n expected={list(expected_fields)}\n actual={actual}")


def expect_unique_key(
    df: DataFrame, key_cols: Sequence[str], name: str = "dataframe"
) -> None:
    """Assert (composite) key uniqueness — the primary-key constraint
    the reference's star schema assumes but never checks."""
    dup = (
        df.groupBy(*[F.col(c) for c in key_cols])
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise QualityError(
            f"{name}: duplicate key {dict((c, dup[0][c]) for c in key_cols)}"
        )


def profile_columns(
    df: DataFrame,
    columns: Sequence[str],
    percentiles: Sequence[float] = (),
    approximate: bool | None = None,
) -> DataFrame:
    """Column profile, one row per column: (column_name, n_rows,
    n_nulls, n_distinct, min_value, max_value [, p<q> ...]) — min/max
    rendered as strings so heterogeneous columns stack; percentile
    columns (rounded r6) are computed for numeric columns and null for
    the rest.

    ONE aggregation pass over the input no matter how many columns are
    profiled (every per-column metric is an aggregate of the same scan;
    profiling k columns with k scans would read 100 TB k times), then a
    `stack` unpivot of the single metrics row into per-column rows.

    ``approximate`` selects the percentile path: exact interpolated
    percentiles buffer every value of a group (fine for the
    oracle-checked sf paths, a wall for a 100 TB column) while the
    mergeable `approx_percentile` sketch is map-side bounded. The
    default (None) auto-switches on the optimizer's size estimate —
    the same ``APPROX_DRIFT_MIN_BYTES`` gate `winsorize` and
    `numeric_drift` use — so the scale path can never value-buffer by
    default while every test/oracle dataset stays exact. (Sketch
    results are engine-specific, so the graded query pins
    approximate=False.)

    The profiling sweep a data-quality gate runs before trusting a new
    drop of 100 TB input.
    """
    from pyspark.sql.types import NumericType

    if approximate is None:
        approximate = _estimated_size_exceeds(df, APPROX_DRIFT_MIN_BYTES)

    # spread a narrow input before the agg: countDistinct expansion
    # and (exact-path) percentile buffering do their partial work
    # per-partition, so a single-split input pins the whole profile
    # to one task (r12; the _ensure_parallelism idiom from the
    # textstats/dedup tiers — a no-op at real scale where inputs
    # arrive already split, and aggregation output is
    # partitioning-independent so round-robin is safe)
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)

    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
    }
    # numeric-derived names: p05/p50/p99 etc. String munging produced
    # invalid identifiers for q=1.0 ('p1.0') and collapsed distinct
    # quantiles ambiguously (0.125 -> 'p125' like 0.125/0.0125), which
    # broke the stack() expression / mislabeled columns.
    for q in percentiles:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"percentile {q} outside (0, 1]")
    pct_names = [
        f"p{int(round(q * 100)):02d}"
        if abs(q * 100 - round(q * 100)) < 1e-9
        else f"p{str(round(q * 10000) / 100).replace('.', '_')}"
        for q in percentiles
    ]
    if len(set(pct_names)) != len(pct_names):
        raise ValueError(f"percentiles {percentiles} produce colliding names")

    aggs = []
    for c in columns:
        aggs.append(F.count(F.lit(1)).alias(f"__{c}__n_rows"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__{c}__n_nulls")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__{c}__n_distinct"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__{c}__min"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__{c}__max"))
        for q, name in zip(percentiles, pct_names):
            if c in numeric:
                if approximate:
                    expr = F.approx_percentile(
                        F.col(c), F.lit(q), F.lit(10_000)
                    ).cast("double")
                else:
                    expr = F.percentile(F.col(c), F.lit(q))
                aggs.append(F.round(expr, 6).alias(f"__{c}__{name}"))
            else:
                aggs.append(
                    F.lit(None).cast("double").alias(f"__{c}__{name}")
                )
    one_row = df.agg(*aggs)

    metric_cols = ["n_rows", "n_nulls", "n_distinct", "min_value", "max_value", *pct_names]
    groups = ", ".join(
        f"'{c}', `__{c}__n_rows`, `__{c}__n_nulls`, `__{c}__n_distinct`, "
        f"`__{c}__min`, `__{c}__max`"
        + "".join(f", `__{c}__{name}`" for name in pct_names)
        for c in columns
    )
    return one_row.select(
        F.expr(
            f"stack({len(columns)}, {groups}) AS "
            f"(column_name, {', '.join(metric_cols)})"
        )
    )


def expect_non_null(df: DataFrame, columns: Sequence[str], name: str = "dataframe") -> None:
    """Assert no nulls in the given columns — one aggregate pass."""
    aggs = [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(c) for c in columns
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {c: row[c] for c in columns if row[c]}
    if bad:
        raise QualityError(f"{name}: null values found: {bad}")


def expect_accepted_values(
    df: DataFrame,
    column: str,
    values: Sequence,
    name: str = "dataframe",
) -> None:
    """Assert every non-null value of ``column`` is in ``values`` (the
    dbt accepted_values test): one filtered count; the first few
    offending values are named in the error. NULLs pass — gate them
    with ``non_null`` explicitly."""
    bad = (
        df.filter(
            F.col(column).isNotNull() & ~F.col(column).isin(list(values))
        )
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col(column))
        .limit(5)
        .collect()
    )
    if bad:
        found = {r[column]: r["n"] for r in bad}
        raise QualityError(
            f"{name}.{column}: values outside the accepted set: {found}"
        )


def expect_foreign_key(
    df: DataFrame,
    column: str,
    ref: DataFrame,
    ref_column: str,
    name: str = "dataframe",
) -> None:
    """Assert referential integrity: every non-null ``column`` value
    exists in ``ref[ref_column]`` (the dbt relationships test). One
    left-anti join — the reference side is dimension-sized in the
    star-schema use and broadcasts on its own; NULL foreign keys pass
    (gate with ``non_null`` if they shouldn't exist)."""
    orphans = (
        df.filter(F.col(column).isNotNull())
        .join(
            ref.select(F.col(ref_column).alias("__ref")).distinct(),
            on=F.col(column) == F.col("__ref"),
            how="left_anti",
        )
    )
    n_bad = orphans.count()
    if n_bad:
        sample = [
            r[column]
            for r in orphans.select(column).distinct().orderBy(column).limit(5).collect()
        ]
        raise QualityError(
            f"{name}.{column}: {n_bad} rows reference keys absent from "
            f"the target (e.g. {sample})"
        )


def diagnose_skew(
    df: DataFrame, key_cols: Sequence[str], top: int = 10
) -> DataFrame:
    """Heavy-hitter report for a prospective shuffle key: the `top`
    most frequent key values with their absolute counts and share of
    all rows — the first thing to look at before a groupBy/join on 100
    TB ("is this key saltable-uniform or does one value own 40% of the
    table?").

    Thin compatibility wrapper over `key_skew_report` (the superset:
    adds the max/mean skew ratio and the salt/watch/ok operating
    rule); kept for the simpler (keys..., n_rows, row_share) shape.
    """
    return key_skew_report(df, key_cols, top_n=top).select(
        *key_cols, "n_rows", F.col("share").alias("row_share")
    )


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Privacy gate: quasi-identifier combinations shared by FEWER than
    ``k`` rows — the groups whose members a release would re-identify.
    An empty result certifies k-anonymity over ``quasi_cols``; the
    rows name exactly which combinations to generalize or suppress
    before release (the complement of the PII-redaction pass, which
    scrubs direct identifiers: `textstats.redact_pii`).

    One partial-aggregated shuffle on the quasi-identifier; output
    (quasi_cols..., n_rows) sorted nowhere (caller orders).
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") < k)
    )


def category_drift(
    base: DataFrame,
    new: DataFrame,
    col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Population-stability report between two snapshots of a
    categorical column — the drift monitor a corpus pipeline runs
    when a new crawl/batch arrives ("did the language/source mix
    shift?"). Per category: share in each snapshot and its PSI term
    (share_new - share_base) * ln(share_new / share_base); the summed
    PSI reads < 0.1 as stable, 0.1-0.25 as moderate drift, > 0.25 as
    action-needed (the conventional banking thresholds).

    Categories absent from one side take share ``eps`` so the log is
    defined (their PSI term is then large — absence IS drift). Each
    side is one partial-aggregated count pass; totals ride 1-row
    broadcasts; the category join is a tiny null-safe outer join (a
    NULL category is a real population segment — both sides' NULL rows
    must pair up, not each score the other side as absent).

    Output: (category, share_base r6, share_new r6, psi r6).
    """
    def shares(df: DataFrame, name: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("category")).agg(
            F.count(F.lit(1)).alias("__n")
        )
        total = df.agg(F.count(F.lit(1)).alias("__t"))
        return counts.crossJoin(F.broadcast(total)).select(
            "category", (F.col("__n") / F.col("__t")).alias(name)
        )

    b = shares(base, "__sb").withColumnRenamed("category", "__cb")
    n = shares(new, "__sn").withColumnRenamed("category", "__cn")
    p = F.coalesce(F.col("__sn"), F.lit(eps))
    q = F.coalesce(F.col("__sb"), F.lit(eps))
    return (
        b.join(n, on=F.col("__cb").eqNullSafe(F.col("__cn")), how="full_outer")
        .select(
            F.coalesce(F.col("__cb"), F.col("__cn")).alias("category"),
            F.round(F.coalesce(F.col("__sb"), F.lit(eps)), 6).alias("share_base"),
            F.round(F.coalesce(F.col("__sn"), F.lit(eps)), 6).alias("share_new"),
            F.round((p - q) * F.log(p / q), 6).alias("psi"),
        )
    )


# Auto-switch point for the exact-vs-sketch percentile paths
# (numeric_drift bin edges, winsorize cut points): above this
# optimizer-estimated input size, quantiles come from the mergeable
# approx_percentile sketch instead of exact interpolated percentiles
# (which buffer every value of the column in the aggregation state —
# fine at test scale, a memory wall at 100 TB). 1 GiB keeps every
# test/oracle dataset on the exact, DuckDB-comparable path.
APPROX_DRIFT_MIN_BYTES = 1 << 30


# Leaf node names whose Long.MaxValue size estimate means "tiny local
# data with no stats", not "unbounded external source": python-side
# createDataFrame relations and literal one-row plans.
# Shared with operators.relational / plans.lint (one definition of
# "driver-local leaf" + the garbage-estimate floor — the r7 review
# flagged per-module copies as a drift risk).
from udacity_data_engineering_capstone_project_spark.operators.relational import (
    _LOCAL_LEAF_NODES,
    _SENTINEL_FLOOR,
)


def _estimated_size_exceeds(df: DataFrame, threshold: int) -> bool:
    """True if the optimizer's size estimate for ``df`` exceeds
    ``threshold`` bytes — the exact-vs-sketch gate.

    Spark reports "no stats" as Long.MaxValue rather than an error,
    and the sentinel is AMBIGUOUS: a python-side LocalRelation (a few
    hundred test rows) and a JDBC/DSv2 relation with
    defaultSizeInBytes (possibly multi-TB) both report it. Resolve by
    the plan's leaves: if every leaf is a known local/in-memory node,
    treat unknown as small (exact path — deterministic, oracle-
    comparable); if any leaf is an external source, treat unknown as
    huge (sketch path — an unstatted external relation must never be
    value-buffered in one aggregation state). On reflection failure,
    stay exact: file scans — the genuinely huge common case — always
    have working estimates, so the failure mode is a derived local
    frame."""
    try:
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        est = est if isinstance(est, int) else int(est.toString())
        # Anything at/above the shared floor is the no-stats sentinel
        # OR its propagated leak (operators above a LocalRelation
        # "estimate" slightly-smaller huge numbers — r7 unification;
        # the old exact-MaxValue test missed the leak and sent
        # garbage-estimated local frames down the sketch path)
        if est < _SENTINEL_FLOOR:  # real estimate
            return est > threshold
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).nodeName() not in _LOCAL_LEAF_NODES:
                return True  # unstatted EXTERNAL source: assume huge
        return False  # unstatted but fully local: assume small
    except Exception:
        return False


def drift_bin_edges(
    base: DataFrame, col: str, bins: int, approximate: bool
) -> DataFrame:
    """1-row frame of the ``bins - 1`` interpolated (or sketched)
    quantile edges of ``col``, rounded to 6 decimals pre-assignment so
    boundary bin membership is engine-deterministic. Exposed separately
    so plan tests can pin that the scale path aggregates a mergeable
    sketch, not an exact value buffer."""
    qs = [i / bins for i in range(1, bins)]

    def edge_expr(q: float, i: int):
        if approximate:
            e = F.approx_percentile(F.col(col), F.lit(q), F.lit(10_000)).cast(
                "double"
            )
        else:
            e = F.percentile(F.col(col), F.lit(q))
        return F.round(e, 6).alias(f"e{i}")

    # spread a narrow baseline before the agg (see profile_columns):
    # each edge expression buffers/sketches per-partition first
    target = base.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target)
    return base.agg(*[edge_expr(q, i) for i, q in enumerate(qs)])


def numeric_drift(
    base: DataFrame,
    new: DataFrame,
    col: str,
    bins: int = 10,
    eps: float = 1e-6,
    approximate: bool | None = None,
) -> DataFrame:
    """PSI drift of a numeric column between snapshots: the baseline's
    interpolated quantiles cut ``bins`` equal-population bins (so every
    base share is ~1/bins by construction), both snapshots are counted
    into those FIXED edges, and each bin gets its PSI term — the
    numeric twin of `category_drift`, same thresholds.

    The bin edges are ``bins - 1`` driver-side scalars (one percentile
    aggregate over the baseline), rounded to 6 decimals so boundary
    assignment is engine-deterministic; bin id = number of edges
    strictly below the value. Each side then pays one
    partial-aggregated count pass. ``approximate`` selects the edge
    path: exact interpolated percentiles buffer every value of the
    baseline in the aggregation state — fine up to memory scale, and
    oracle-comparable — while True swaps in the mergeable
    Greenwald-Khanna `approx_percentile` sketch, the 100 TB path;
    drift verdicts are insensitive to edge wobble well below a bin
    width (same trade as `profile_columns`). The default (None)
    auto-switches: baselines whose optimizer size estimate exceeds
    ``APPROX_DRIFT_MIN_BYTES`` (or whose size is unknowable) take the
    sketch path, so the at-scale default can never buffer a 100 TB
    column on one aggregation state.

    Output: (bin, share_base r6, share_new r6, psi r6), bins present
    in either snapshot.
    """
    if approximate is None:
        approximate = _estimated_size_exceeds(base, APPROX_DRIFT_MIN_BYTES)
    qs = [i / bins for i in range(1, bins)]
    edges_row = drift_bin_edges(base, col, bins, approximate).collect()[0]
    edges = [edges_row[f"e{i}"] for i in range(len(qs))]

    def shares(df: DataFrame, name: str) -> DataFrame:
        bin_expr = sum(
            (F.col(col) > F.lit(e)).cast("long") for e in edges
        ).alias("bin")
        counts = (
            df.filter(F.col(col).isNotNull())
            .select(bin_expr)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        total = df.filter(F.col(col).isNotNull()).agg(
            F.count(F.lit(1)).alias("__t")
        )
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("__n") / F.col("__t")).alias(name)
        )

    b = shares(base, "__sb")
    n = shares(new, "__sn")
    p = F.coalesce(F.col("__sn"), F.lit(eps))
    q = F.coalesce(F.col("__sb"), F.lit(eps))
    return (
        b.join(n, on="bin", how="full_outer")
        .select(
            "bin",
            F.round(F.coalesce(F.col("__sb"), F.lit(eps)), 6).alias("share_base"),
            F.round(F.coalesce(F.col("__sn"), F.lit(eps)), 6).alias("share_new"),
            F.round((p - q) * F.log(p / q), 6).alias("psi"),
        )
    )


def _exact_percentile_bounds(
    df: DataFrame, columns: Sequence[str], qs: tuple
) -> dict:
    """Exact interpolated percentiles as TAIL ORDER STATISTICS (r14,
    guide §5): Spark's `percentile` aggregate buffers EVERY value of a
    column in one final aggregation state and sorts it single-threaded
    — the stage the r9 note measured as "the whole cost", and a
    corpus-sized-state hazard besides. Winsorize's quantiles are tail
    quantiles, so each cut is an order statistic within
    K = n * min(q, 1-q) + 2 of one end: `orderBy(...).limit(K)` plans
    TakeOrderedAndProject — a per-partition bounded top-K heap merged
    on the driver, no full sort, no corpus-sized aggregation state.
    One count aggregate serves every column; one top-K job per
    (column, tail). The interpolation is Spark Percentile's own
    formula — `(higher - pos) * lower_val + (pos - lower) *
    higher_val` over `pos = q * (n - 1)` — so results are
    bit-identical to `F.percentile` (pinned by
    test_winsorize_exact_bounds_bitwise_match_percentile). Driver
    traffic is bounded by K, which the exact path's upstream size gate
    (APPROX_DRIFT_MIN_BYTES) keeps small; above the gate winsorize
    uses the mergeable sketch instead.

    Returns {column: [q_0 value, q_1 value, ...] | None} (None = the
    column is all-NULL), matching the percentile-array contract.
    """
    counts_row = df.agg(
        *[F.count(F.col(c).cast("double")).alias(c) for c in columns]
    ).first()
    out: dict = {}
    for c in columns:
        n = counts_row[c]
        if n == 0:
            out[c] = None  # all-NULL column
            continue
        vals = []
        col = F.col(c).cast("double")
        base = df.select(col.alias("__v")).filter(F.col("__v").isNotNull())
        for q in qs:
            pos = float(q) * float(n - 1)
            lo_idx, hi_idx = math.floor(pos), math.ceil(pos)
            if pos <= (n - 1) / 2.0:
                # rank from the bottom: ascending top-K
                k = hi_idx + 1
                rows = base.orderBy(F.col("__v").asc()).limit(k).collect()
                ordered = sorted(r["__v"] for r in rows)
                lo_v, hi_v = ordered[lo_idx], ordered[hi_idx]
            else:
                # rank from the top: descending top-K
                k = n - lo_idx
                rows = base.orderBy(F.col("__v").desc()).limit(k).collect()
                ordered = sorted((r["__v"] for r in rows), reverse=True)
                lo_v, hi_v = ordered[n - 1 - lo_idx], ordered[n - 1 - hi_idx]
            if hi_idx == lo_idx:
                vals.append(lo_v)
            else:
                # Spark Percentile.getPercentile's interpolation, kept
                # verbatim for bit-equality
                vals.append((hi_idx - pos) * lo_v + (pos - lo_idx) * hi_v)
        out[c] = vals
    return out


def winsorize(
    df: DataFrame,
    columns: Sequence[str],
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    approximate: bool | None = None,
    accuracy: int = 10_000,
    suffix: str = "",
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Clip numeric columns to their [lower_q, upper_q] quantiles —
    the standard outlier guard before scaling/training (a corrupted
    length field or a pathological score can't dominate a batch).

    ONE aggregation computes both cut points for every column (a
    single scan, map-side partial, 2*len(columns) scalars to the
    driver — never the data), then the clip is a pure projection.
    ``approximate`` selects the cut-point path: False = exact
    interpolated percentiles (bit-comparable to SQL
    ``percentile_cont``, but the aggregation state buffers every value
    of each column); True = the mergeable Greenwald-Khanna
    `approx_percentile` sketch, the 100 TB path (cut-point wobble is
    bounded by 1/``accuracy`` of rank — invisible next to the 1%/99%
    tails being clipped). The default (None) auto-switches on the
    optimizer's size estimate, same gate as `numeric_drift`
    (``APPROX_DRIFT_MIN_BYTES``): exact below it and whenever the size
    is unknowable, sketch above — so the at-scale default can never
    buffer a 100 TB column on one aggregation state. NULLs pass
    through unclipped.

    ``suffix`` writes clipped values to ``<col><suffix>`` instead of
    overwriting. Output otherwise matches the input row-for-row.

    ``group_cols`` computes PER-GROUP cuts (per-language length caps,
    per-source score caps): one grouped aggregation + one join on the
    group key — the bounds side is group-count-sized, so the optimizer
    broadcasts it. Without groups the cuts are two driver scalars per
    column and the clip stays a pure projection (zero Exchange).
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    if not 0 <= lower_q < upper_q <= 1:
        raise ValueError(
            f"need 0 <= lower_q < upper_q <= 1, got {lower_q}, {upper_q}"
        )
    if approximate is None:
        approximate = _estimated_size_exceeds(df, APPROX_DRIFT_MIN_BYTES)

    # BOTH cut points of a column from ONE percentile expression
    # (array of percentages): the exact path buffers each column's
    # values once instead of twice — measured 2.94 -> 1.55 s on the
    # 600k-row bench agg (r9; the buffer+sort inside the aggregation
    # state is the whole cost, and it was paid per expression)
    def _pcts(c: str):
        col = F.col(c).cast("double")
        qs = F.array(F.lit(lower_q), F.lit(upper_q))
        if approximate:
            return F.approx_percentile(col, qs, F.lit(accuracy))
        return F.percentile(col, qs)

    def _split_bounds(frame: DataFrame) -> DataFrame:
        return frame.select(
            "*",
            *[
                e
                for c in columns
                for e in (
                    F.element_at(f"__qs_{c}", 1).alias(f"__lo_{c}"),
                    F.element_at(f"__qs_{c}", 2).alias(f"__hi_{c}"),
                )
            ],
        ).drop(*[f"__qs_{c}" for c in columns])

    if group_cols:
        gcols = list(group_cols)
        bounds = _split_bounds(
            df.groupBy(*gcols).agg(
                *[_pcts(c).alias(f"__qs_{c}") for c in columns]
            )
        )
        # null-safe join: rows with a NULL group key form a real group
        # and must receive ITS bounds, not silently skip clipping
        bounds = bounds.withColumnsRenamed({g: f"__bg_{g}" for g in gcols})
        cond = [F.col(g).eqNullSafe(F.col(f"__bg_{g}")) for g in gcols]
        out = df.join(bounds, on=cond, how="left").drop(
            *[f"__bg_{g}" for g in gcols]
        )
        for c in columns:
            lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
            clipped = F.when(
                lo.isNull() | hi.isNull(), F.col(c).cast("double")
            ).otherwise(
                F.least(F.greatest(F.col(c).cast("double"), lo), hi)
            )
            out = out.withColumn(
                c + suffix, F.when(F.col(c).isNotNull(), clipped)
            )
        return out.drop(
            *[f"__lo_{c}" for c in columns], *[f"__hi_{c}" for c in columns]
        )

    if approximate:
        # spread the aggregation branch only (see profile_columns):
        # sketch partial work is per-partition, and a single-split
        # input pins it to one task; the clip projection below still
        # runs over the ORIGINAL df, so output partitioning and row
        # order are untouched. Only the value columns ride the spread
        # (guide §2.3).
        agg_src = df.select(*columns)
        target = df.sparkSession.sparkContext.defaultParallelism
        if agg_src.rdd.getNumPartitions() < target:
            agg_src = agg_src.repartition(target)
        bounds_row = agg_src.agg(
            *[_pcts(c).alias(f"__qs_{c}") for c in columns]
        ).first()
        bounds = {c: bounds_row[f"__qs_{c}"] for c in columns}
    else:
        # the exact path is per-partition bounded-heap top-K: no
        # spread needed (the heap does no per-row work worth
        # parallelising, and a repartition would be re-paid by every
        # order-statistic job since exchange reuse is per-job)
        bounds = _exact_percentile_bounds(
            df.select(*columns), columns, (lower_q, upper_q)
        )
    out = df
    for c in columns:
        qs = bounds[c]
        lo, hi = (qs[0], qs[1]) if qs is not None else (None, None)
        if lo is None or hi is None:  # all-null column: nothing to clip
            continue
        clipped = F.least(F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi))
        out = out.withColumn(
            c + suffix, F.when(F.col(c).isNotNull(), clipped)
        )
    return out


def schema_drift(old_df: DataFrame, new_df: DataFrame) -> DataFrame:
    """Column-level schema diff between two table versions — the first
    check any versioned-lake ingestion runs before touching data
    (a silently-widened or dropped column breaks every downstream
    reader). Pure metadata: no job is launched.

    Output: (column, status added|removed|type_changed|unchanged,
    old_type, new_type) — simpleString type names, nullability
    ignored (Spark readers vary it freely).
    """
    old_t = {f.name: f.dataType.simpleString() for f in old_df.schema.fields}
    new_t = {f.name: f.dataType.simpleString() for f in new_df.schema.fields}
    rows = []
    for name in sorted(set(old_t) | set(new_t)):
        o, n = old_t.get(name), new_t.get(name)
        status = (
            "added" if o is None
            else "removed" if n is None
            else "unchanged" if o == n
            else "type_changed"
        )
        rows.append((name, status, o, n))
    return old_df.sparkSession.createDataFrame(
        rows, "column string, status string, old_type string, new_type string"
    )


def run_expectations(
    df: DataFrame,
    checks: Sequence[tuple],
    name: str = "dataframe",
    fail_fast: bool = False,
):
    """Run a declarative battery of quality checks and return a report
    instead of dying on the first failure — the gate shape a pipeline
    wants between stages ("validate everything, THEN decide").

    ``checks`` is a list of ``(kind, *args)`` tuples over the
    ``expect_*`` functions in this module:

    - ``("row_count", expected)``
    - ``("min_row_count", minimum)``
    - ``("distinct_count", column, expected)``
    - ``("non_null", [columns...])``
    - ``("unique_key", [key_cols...])``
    - ``("schema", [(col, type), ...])``
    - ``("accepted_values", column, [values...])``
    - ``("foreign_key", column, ref_df, ref_column)``

    Returns ``(passed: bool, report)`` where report rows are
    ``(check, passed, detail)`` — detail carries the QualityError
    message on failure. ``fail_fast=True`` re-raises the first
    failure instead (the strict mode the individual expect_*
    functions give you anyway).
    """
    rows = []
    ok = True
    for spec in checks:
        kind, *args = spec
        label = f"{kind}({', '.join(map(repr, args))})"
        try:
            if kind == "row_count":
                expect_row_count(df, args[0], name)
            elif kind == "min_row_count":
                n = df.count()
                if n < args[0]:
                    raise QualityError(f"{name}: expected >= {args[0]} rows, found {n}")
            elif kind == "distinct_count":
                expect_distinct_count(df, args[0], args[1], name)
            elif kind == "non_null":
                expect_non_null(df, args[0], name)
            elif kind == "unique_key":
                expect_unique_key(df, args[0], name)
            elif kind == "schema":
                expect_schema(df, args[0], name)
            elif kind == "accepted_values":
                expect_accepted_values(df, args[0], args[1], name)
            elif kind == "foreign_key":
                expect_foreign_key(df, args[0], args[1], args[2], name)
            else:
                raise ValueError(f"unknown check kind: {kind!r}")
            rows.append((label, True, None))
        except QualityError as e:
            ok = False
            rows.append((label, False, str(e)))
            if fail_fast:
                raise
    report = df.sparkSession.createDataFrame(
        rows, "check string, passed boolean, detail string"
    )
    return ok, report


def rolling_zscore(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    value_col: str,
    lookback: int = 24,
    min_history: int = 8,
    threshold: float = 3.0,
) -> DataFrame:
    """Trailing-window z-score per series — the volume-anomaly monitor
    a pipeline runs over its own intake (an hourly ingest count that
    jumps 5 sigma means a crawler loop or an upstream outage, and both
    poison downstream training mixes if they sail through).

    For each row, the baseline is the previous ``lookback`` OBSERVED
    periods of its series (``ROWS BETWEEN lookback PRECEDING AND 1
    PRECEDING`` — never the current row, so a spike cannot mask
    itself). Rows with fewer than ``min_history`` trailing points or
    zero variance get NULL z (not 0: "unknown", not "normal").

    Cross-engine determinism by construction: the window aggregates
    are SUM/COUNT over the raw values and their squares — for integer
    series (counts) these are EXACT integers in any engine, and mean/
    variance/z are then derived through one fixed expression tree of
    IEEE double ops (+ a correctly-rounded sqrt), so the same inputs
    give bit-identical z everywhere — no engine-internal Welford /
    two-pass variance divergence, which is why this does NOT use the
    built-in stddev window function.

    One window pass, shuffles once on the series key; state per task
    is the ``lookback`` frame. Output: input columns +
    ``(trail_n, trail_mean, z, is_anomaly)``.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*[F.col(c) for c in partition_cols])
        .orderBy(F.col(order_col))
        .rowsBetween(-lookback, -1)
    )
    v = F.col(value_col).cast("double")
    s1 = F.sum(v).over(w)
    s2 = F.sum(v * v).over(w)
    cnt = F.count(v).over(w)
    mean = s1 / cnt
    # sample variance from exact sums: (ss - n*mean^2) / (n-1)
    var = (s2 - s1 * s1 / cnt) / (cnt - F.lit(1))
    z = F.when(
        (cnt >= F.lit(min_history)) & (var > F.lit(0.0)),
        (v - mean) / F.sqrt(var),
    )
    return (
        df.withColumn("trail_n", cnt)
        .withColumn("trail_mean", F.when(cnt > 0, mean))
        .withColumn("z", z)
        .withColumn(
            "is_anomaly",
            F.when(z.isNotNull(), F.abs(z) >= F.lit(threshold)),
        )
    )


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 20,
    salt_share: float = 0.05,
) -> DataFrame:
    """Hot-key diagnostic for a planned join/aggregation key: the
    top-``top_n`` heaviest key values with their row share and the
    key's overall skew ratio (max/mean group size) — the number that
    predicts whether one reducer eats the stage. Run this BEFORE the
    100 TB join; pair with `salted_join` when it comes back hot.

    ``suggestion`` encodes the operating rule this repo's probes
    settled on: a key value holding >= ``salt_share`` of all rows
    wants salting (one task's share no longer amortizes across the
    cluster no matter how many executors); anything above 4x the mean
    group size is worth watching under AQE skew-join; the rest are
    fine.

    Physical shape: one partial-aggregated groupBy on the key, a
    1-row global aggregate broadcast back, top-k via orderBy+limit
    (TakeOrderedAndProject — never a full sort). Driver traffic is
    ``top_n`` rows.

    Output: key cols + (n_rows, share, skew_ratio, suggestion),
    heaviest first; share/skew_ratio rounded to 6dp.
    """
    counts = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.avg("n_rows").alias("__mean"),
    )
    share = F.col("n_rows") / F.col("__total")
    ratio = F.col("n_rows") / F.col("__mean")
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "n_rows",
            F.round(share, 6).alias("share"),
            F.round(ratio, 6).alias("skew_ratio"),
            F.when(share >= F.lit(salt_share), F.lit("salt"))
            .when(ratio > F.lit(4.0), F.lit("watch"))
            .otherwise(F.lit("ok"))
            .alias("suggestion"),
        )
        .orderBy(F.col("n_rows").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(top_n)
    )


def quantile_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    group_cols: Sequence[str] | None = None,
    approximate: bool | None = None,
    accuracy: int = 10_000,
    out_col: str = "bin",
) -> DataFrame:
    """Equal-frequency (equi-depth) binning: assign each row the
    0-based quantile bin of ``value_col`` — the curriculum/strata
    primitive (quality deciles for ordered training mixes, length
    strata for balanced eval slices). Heavy ties collapse bins (a
    value mass sitting on a cut leaves the upper bin thin or empty) —
    inherent to equi-depth binning, not a defect.

    The cut points (``n_bins - 1`` interior quantiles) come from ONE
    aggregation; assignment is then a pure projection counting cuts
    strictly below the value (``size(filter(cuts, c -> c < v))``) —
    no per-bin join, no window, no global sort (the ntile() spelling
    of this is a one-task wall at scale). NULL values get a NULL bin.

    ``approximate`` follows `winsorize`'s contract: exact interpolated
    percentiles (cross-engine comparable) below the optimizer-size
    gate or when False; the mergeable `approx_percentile` sketch above
    it or when True (bin-edge wobble bounded by 1/``accuracy`` of
    rank; sketch cuts are engine-specific, so graded queries pin
    approximate=False).

    ``group_cols`` computes per-group cuts (per-language deciles):
    one grouped aggregation + a group-count-sized broadcast join.
    Without groups the cuts frame is ONE row.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    if approximate is None:
        approximate = _estimated_size_exceeds(df, APPROX_DRIFT_MIN_BYTES)
    qs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    v = F.col(value_col)
    cut_agg = (
        F.approx_percentile(v, qs, F.lit(accuracy))
        if approximate
        else F.percentile(v, qs)
    ).alias("__cuts")
    if group_cols:
        cuts = df.groupBy(*[F.col(c) for c in group_cols]).agg(cut_agg)
        work = df.join(F.broadcast(cuts), on=list(group_cols), how="left")
    else:
        work = df.crossJoin(F.broadcast(df.agg(cut_agg)))
    bin_expr = F.when(
        v.isNotNull() & F.col("__cuts").isNotNull(),
        F.size(F.filter(F.col("__cuts"), lambda c: c < v)),
    )
    return work.withColumn(out_col, bin_expr).drop("__cuts")


def annotate_filter_cascade(
    df: DataFrame,
    rules: Sequence[tuple[str, "F.Column"]],
    verdict_col: str = "verdict",
) -> DataFrame:
    """Tag every row with the FIRST quality rule it fails, or ``'kept'``.

    ``rules`` is an ordered list of ``(name, keep_predicate)`` pairs —
    the C4/Gopher-style filter battery shape, where a document is
    rejected by exactly one (the first) failing rule so rejection
    counts attribute cleanly and sum to ``total - kept``. A NULL
    predicate counts as a failure (a document whose signal cannot be
    computed is not silently kept).

    The whole cascade is ONE ``CASE WHEN`` chain in a single codegen
    projection: no shuffle, no second scan, and later (possibly
    expensive) rule expressions are lazily skipped for rows an earlier
    rule already rejected — exactly how you want a 100 TB corpus
    screen to run.
    """
    if not rules:
        return df.withColumn(verdict_col, F.lit("kept"))
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    if "kept" in set(names):
        raise ValueError("'kept' is the reserved pass verdict")
    expr = None
    for name, pred in rules:
        fail = ~F.coalesce(pred.cast("boolean"), F.lit(False))
        expr = F.when(fail, F.lit(name)) if expr is None else expr.when(fail, F.lit(name))
    return df.withColumn(verdict_col, expr.otherwise(F.lit("kept")))


def apply_filter_cascade(
    df: DataFrame,
    rules: Sequence[tuple[str, "F.Column"]],
    verdict_col: str = "verdict",
) -> tuple[DataFrame, DataFrame]:
    """Run the cascade and return ``(kept, audit)``.

    ``kept`` is the surviving frame (verdict column dropped — same
    schema as the input); ``audit`` is one row per rule plus the
    ``'kept'`` row: ``(rule, rule_index, rows)``, where ``rule_index``
    preserves cascade order (kept = index ``len(rules)``) and rows of
    rules that rejected nothing still appear (count 0) so a
    mis-configured no-op rule is visible. Audit is a partial-agg
    group-by over the annotated frame — one job, group count sized by
    the number of rules, never by the corpus.
    """
    ann = annotate_filter_cascade(df, rules, verdict_col=verdict_col)
    kept = ann.filter(F.col(verdict_col) == "kept").drop(verdict_col)
    order = {name: i for i, (name, _) in enumerate(rules)}
    order["kept"] = len(rules)
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(name, idx) for name, idx in order.items()], "rule string, rule_index int"
    )
    counts = ann.groupBy(F.col(verdict_col).alias("rule")).agg(
        F.count(F.lit(1)).alias("rows")
    )
    audit = (
        spine.join(counts, on="rule", how="left")
        .select(
            "rule",
            "rule_index",
            F.coalesce(F.col("rows"), F.lit(0)).cast("bigint").alias("rows"),
        )
        .orderBy("rule_index")
    )
    return kept, audit
