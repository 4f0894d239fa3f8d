"""Star-schema builder (reference: `etl.py:221-293`, SURVEY.md §7.5).

Generic dimension extraction. The reference hand-writes five
`create_dim_*` functions; here they are one parameterized operator.
The reference's six-join fact build is
`operators.relational.star_left_join`.

Scale posture: dimensions are distinct-projections (one shuffle each,
tiny outputs); the planner and AQE broadcast them into the fact build
while they stay under the session's broadcast threshold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.functions.keys import add_surrogate_key


def build_dimension(
    df: DataFrame,
    columns: Sequence[str | tuple[str, str]],
    key_name: str,
    key_order: Sequence[str] | None = None,
) -> DataFrame:
    """Extract a dimension: project (+rename), distinct, surrogate key.

    Reference pattern `etl.py:221-269` (select -> distinct ->
    monotonically_increasing_id); the key here is a `row_number` over
    ``key_order`` (default: the dimension's columns), so results
    hash-match across runs (SURVEY.md §4 item 3).
    ``columns`` entries are names or (source, alias) pairs.
    """
    cols: list[Column] = [
        F.col(c[0]).alias(c[1]) if isinstance(c, tuple) else F.col(c) for c in columns
    ]
    out = df.select(*cols).distinct()
    order = list(key_order) if key_order else [c[1] if isinstance(c, tuple) else c for c in columns]
    return add_surrogate_key(out, key_name, mode="row_number", order_by=order)

