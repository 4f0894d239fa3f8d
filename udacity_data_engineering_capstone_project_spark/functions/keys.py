"""Surrogate-key generation (reference: F8, SURVEY.md §2.3, §4 item 3).

The reference uses `monotonically_increasing_id` everywhere
(`etl.py:114,217,230,240,249,259,269`) — partition-encoded,
non-contiguous, and **non-deterministic across runs/partitionings**:
every action that recomputes the lineage may number the rows
differently, so two tables written from it need not join. Every key
here is a pure function of the data instead:

- ``row_number``: contiguous ids over an explicit order. A global
  row_number over one window is a single-partition sort — fine for
  dimension tables (small), wrong for fact-scale tables.
- ``hash``: xxhash64 of the natural key — shuffle-free, scales to any
  size; collisions ~ birthday bound on 64 bits. The fact-scale key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def add_surrogate_key(
    df: DataFrame,
    key_name: str,
    mode: str = "hash",
    order_by: Sequence[str] | None = None,
    natural_key: Sequence[str] | None = None,
) -> DataFrame:
    if mode == "row_number":
        cols = list(order_by or df.columns)
        w = Window.orderBy(*[F.col(c) for c in cols])
        return df.withColumn(key_name, F.row_number().over(w).cast("long"))
    if mode == "hash":
        cols = list(natural_key or df.columns)
        return df.withColumn(key_name, F.xxhash64(*[F.col(c) for c in cols]))
    raise ValueError(f"unknown surrogate key mode: {mode!r}")
