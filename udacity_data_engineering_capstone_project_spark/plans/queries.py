"""Query registry: every operator from SURVEY.md §2 (+ north-star
extensions) as a named (spark_fn, oracle_sql) pair.

Contract (driver, `__spark_entry__.py`): the Spark callable takes
(spark, sf_dir) and returns a DataFrame; the oracle is ANSI SQL DuckDB
runs over the same parquet tables. Column names AND values must match
(order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded (r2/r6) on both sides — Spark and DuckDB
  both round ties away from zero, and rounding absorbs the last-ulp
  nondeterminism of distributed float summation;
- integer-typed derivations are cast to BIGINT on both sides;
- window functions use total orders (unique tiebreakers).

Queries whose value is NOT SQL-expressible (LSH banding with engine
hashes, streaming state) carry ``oracle=None`` -> driver records a
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from udacity_data_engineering_capstone_project_spark.plans._qcore import (
    REGISTRY,
    UNREGISTERED,
)

# Tier modules register their specs at import time; IMPORT ORDER IS
# REGISTRATION ORDER (the driver grades the first 50 registered, and
# the _FRONT reorder below only moves the flagship block). Import any
# other name from the tier module that defines it; this module keeps
# only the names the driver (`pricing_summary`) and bench.py's
# bench-only rows read through it.
from udacity_data_engineering_capstone_project_spark.plans import (  # noqa: F401
    queries_relational,
    queries_events,
    queries_dedup,
    queries_text,
    queries_corpus,
    queries_ml,
    queries_signals,
    queries_quality,
    queries_crawl,
)
from udacity_data_engineering_capstone_project_spark.plans.queries_dedup import (  # noqa: F401
    minhash_screen_bench,
)
from udacity_data_engineering_capstone_project_spark.plans.queries_relational import (  # noqa: F401
    pricing_summary,
)
from udacity_data_engineering_capstone_project_spark.plans.queries_signals import (  # noqa: F401
    heavy_hitters_bench,
)

# ------------------------------------------------------------------
# Driver grading window: the driver records a CORRECTNESS row for the
# FIRST 50 registered queries only. Keep the registry <= 50 total and
# front the extension tier (text/multimodal/SQL-entry/streaming-dedup)
# so a future addition can never push an entry outside the window.
# ------------------------------------------------------------------
_FRONT = [
    # Names must be CURRENTLY REGISTERED to have any effect (the
    # filter below skips rotated-out names silently) — keep this list
    # in sync with the rotation: it protects exactly the flagships
    # that must never fall outside the 50-row driver window if the
    # registry ever grows past 50 (r10 refresh; the pre-rotation list
    # carried six now-unregistered names, making their "protection"
    # vacuous — review finding).
    "pricing_summary",  # flagship — entry() runs it
    "sql_entrypoint",
    "streaming_dedup",
]
_stale_front = [n for n in _FRONT if n not in REGISTRY]
assert not _stale_front, (
    f"_FRONT names not registered (rotate the list too): {_stale_front}"
)
_ordered = {n: REGISTRY[n] for n in _FRONT}
_ordered.update({n: s for n, s in REGISTRY.items() if n not in _ordered})
# reorder IN PLACE: plans._qcore.REGISTRY and this module's REGISTRY
# must stay the SAME object, or a direct _qcore import (the natural
# import for a tier module) would see a divergent, un-fronted dict
REGISTRY.clear()
REGISTRY.update(_ordered)
assert len(REGISTRY) <= 50, (
    f"registry holds {len(REGISTRY)} queries; the driver verifies only "
    "the first 50 — consolidate before registering more"
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}
