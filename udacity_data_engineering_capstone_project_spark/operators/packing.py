"""Sequence packing (north-star extension: training batch construction).

Packing concatenates short sequences into fixed-size context windows so
a training run wastes no pad tokens. Exact global bin packing is
NP-hard and inherently sequential — the distributed shape is:

1. scatter items into independent buckets by a deterministic hash of
   the item id (buckets ~ parallelism; each bucket packs alone);
2. inside each bucket, greedy first-fit-decreasing over Arrow batches
   (`applyInPandas` — justified Python: a sequential recurrence);
3. pack ids are (bucket, local) pairs, so they are globally unique
   without any cross-bucket coordination.

First-fit-decreasing wastes at most ~22% vs optimal in the worst case
and is near-optimal on natural length distributions; each bucket's
packing is deterministic (sort by length desc, id asc), so the whole
assignment is reproducible run-to-run regardless of cluster layout.

In-bucket cost: the textbook FFD scan is O(items x open packs) — at
~8 items/pack that is quadratic in the bucket size and croaks past
~1e5 items (measured; BASELINE.md, sequence-packing probe). Large buckets
therefore run first-fit over a MAX SEGMENT TREE of pack capacities
(descend left-first toward the smallest index whose subtree max >=
item size): O(items log packs), identical assignment (the tree
returns the same "first pack that fits" the scan does; equality is
test-pinned on randomized inputs). Bucket COUNT auto-scales with the
item count when `buckets=None`, so per-task memory stays bounded at
any corpus size.
"""

from __future__ import annotations

import math
import threading

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

#: (id, len) slices persisted by auto-sized pack_sequences calls, so a
#: long-lived session can release them once its pack actions have
#: materialized (ADVICE r10: without a handle, repeated auto-sized
#: calls accumulate MEMORY_AND_DISK entries until LRU pressure).
#: Strong refs by design — entries are 2-column plans, the list is
#: bounded by the number of auto-sized calls since the last release.
#: Guarded by _SLICES_LOCK: a threaded driver may run pack_sequences
#: and release_pack_caches concurrently (ADVICE r11), and list.pop
#: racing list.append is how a slice leaks or double-releases.
_PERSISTED_SLICES: list[DataFrame] = []
_SLICES_LOCK = threading.Lock()


def release_pack_caches() -> int:
    """Unpersist every (id, len) slice a `buckets=None` pack_sequences
    call has pinned since the last release. Call AFTER the pack
    output has been materialized (written / collected) — a pack plan
    that has not run yet will recompute its upstream lineage once.
    NOTE: this releases the slices pinned by ALL in-flight packs in
    the process, not just the caller's — in a threaded driver, only
    release once every thread's pack output has materialized (an
    early release is correctness-safe but forces a full lineage
    recompute of the unmaterialized pack's source slice).
    Returns the number of slices released. Blocking=False: eviction
    proceeds asynchronously executor-side."""
    n = 0
    with _SLICES_LOCK:
        drained, _PERSISTED_SLICES[:] = _PERSISTED_SLICES[:], []
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # session already stopped — the cache died with it
            pass
    return n


#: Above this many items in one bucket, first-fit uses the segment
#: tree (below it the plain scan is faster — no tree maintenance).
_TREE_MIN_ITEMS = 4096

#: Target items per bucket when `buckets=None`: large enough to pack
#: well (fragmentation is per-bucket), small enough that one
#: applyInPandas group stays comfortably in executor memory.
_AUTO_BUCKET_ITEMS = 200_000


class _FirstFitTree:
    """Max segment tree over pack remaining-capacities supporting
    first_fit(take) = smallest pack index with capacity >= take in
    O(log n) — plain Python lists beat numpy here (scalar ops, no
    vectorization to exploit)."""

    __slots__ = ("size", "tree", "n_packs")

    def __init__(self) -> None:
        self.size = 1024
        self.tree = [-1] * (2 * self.size)
        self.n_packs = 0

    def _set(self, i: int, val: int) -> None:
        t = self.tree
        j = i + self.size
        t[j] = val
        j >>= 1
        while j:
            left, right = t[2 * j], t[2 * j + 1]
            t[j] = left if left >= right else right
            j >>= 1

    def first_fit(self, take: int) -> int:
        """Smallest pack index whose capacity >= take, or -1."""
        t = self.tree
        if t[1] < take:
            return -1
        j = 1
        size = self.size
        while j < size:
            j2 = 2 * j
            j = j2 if t[j2] >= take else j2 + 1
        return j - size

    def append(self, cap: int) -> int:
        if self.n_packs == self.size:
            old = self.tree[self.size : self.size + self.n_packs]
            self.size *= 2
            self.tree = [-1] * (2 * self.size)
            self.tree[self.size : self.size + len(old)] = old
            for j in range(self.size - 1, 0, -1):
                left, right = self.tree[2 * j], self.tree[2 * j + 1]
                self.tree[j] = left if left >= right else right
        i = self.n_packs
        self.n_packs += 1
        self._set(i, cap)
        return i


def _ffd_scan(ids, lens, budget: int):
    """Textbook first-fit-decreasing: linear scan of open packs.
    O(items x packs); the reference implementation for the tree.
    take clamps to [0, budget]: a negative length would INCREASE a
    pack's capacity in the scan and match the tree's -1 empty-slot
    sentinel (IndexError) — clamping keeps the two paths identical on
    any input (r9 review finding)."""
    packs: list[int] = []  # remaining capacity per local pack
    rows = []
    for rid, ln in zip(ids, lens):
        take = min(max(int(ln), 0), budget)
        for i, cap in enumerate(packs):
            if cap >= take:
                rows.append((int(rid), i, budget - cap))
                packs[i] = cap - take
                break
        else:
            packs.append(budget - take)
            rows.append((int(rid), len(packs) - 1, 0))
    return rows


def _ffd_tree(ids, lens, budget: int):
    """Segment-tree first-fit-decreasing: O(items log packs),
    assignment identical to `_ffd_scan` (first-fit returns the same
    smallest fitting index)."""
    tree = _FirstFitTree()
    caps: list[int] = []
    rows = []
    for rid, ln in zip(ids, lens):
        take = min(max(int(ln), 0), budget)
        i = tree.first_fit(take)
        if i >= 0:
            cap = caps[i]
            rows.append((int(rid), i, budget - cap))
            cap -= take
            caps[i] = cap
            tree._set(i, cap)
        else:
            rows.append((int(rid), len(caps), 0))
            tree.append(budget - take)
            caps.append(budget - take)
    return rows


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    buckets: int | None = None,
    portable_bucket: bool = False,
) -> DataFrame:
    """Assign every item to a pack such that each pack's total
    `len_col` <= budget. Items longer than the budget get a singleton
    pack (truncation is the caller's policy, not the packer's).

    Output: (id, pack_id, pack_offset) — pack_id globally unique,
    pack_offset = the item's starting token position inside its pack
    (items within a pack are laid out in assignment order).

    `buckets=None` auto-sizes the scatter width from one count():
    max(64, ceil(n / 200k)) — per-task memory stays bounded while
    small inputs keep the historical 64-bucket layout. The (id, len)
    slice is persisted around that count so a lazy upstream plan is
    evaluated ONCE, not once for the count and again for the pack.
    The slice stays cached (MEMORY_AND_DISK, LRU-evicted under
    pressure) for the returned plan's lifetime — it cannot be
    unpersisted here without the pack action recomputing the
    lineage; long-lived sessions call `release_pack_caches()` after
    materializing the pack output (ADVICE r10). Pass an explicit
    `buckets` for a pinned, count-free, persist-free layout.

    `portable_bucket=True` swaps the xxhash64 bucket hash for the
    60-bit md5-prefix family (`conv(substr(md5(id), 1, 15), 16, 10)`)
    that DuckDB reproduces bit-for-bit (`CAST('0x' || substr(md5(..),
    1, 15) AS BIGINT)`), the same portability seam simhash uses — it
    lets an external engine recompute the EXACT pack assignment
    (bucket scatter + per-bucket first-fit-decreasing is fully
    deterministic given the bucket hash). xxhash64 stays the
    production default: one fused JVM codegen call vs md5's digest +
    string slice.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    source = df.select(id_col, len_col)
    if buckets is None:
        # Auto-sizing pays one count() over the upstream plan; persist
        # the 2-column slice so the pack reuses the materialized rows
        # instead of recomputing the whole lineage (ADVICE r9). The
        # slice is tracked in _PERSISTED_SLICES so long-lived sessions
        # can release the cache entries once the pack action has
        # materialized (`release_pack_caches()`, ADVICE r10) — it
        # cannot be unpersisted HERE without the pack action
        # recomputing the lineage.
        source = source.persist()
        with _SLICES_LOCK:
            _PERSISTED_SLICES.append(source)
        n = source.count()
        buckets = max(64, math.ceil(n / _AUTO_BUCKET_ITEMS))

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("pack_id", LongType()),
            StructField("pack_offset", LongType()),
        ]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([len_col, id_col], ascending=[False, True])
        bucket = int(pdf["__bucket"].iloc[0])
        ffd = _ffd_tree if len(pdf) >= _TREE_MIN_ITEMS else _ffd_scan
        rows = ffd(pdf[id_col], pdf[len_col], budget)
        return pd.DataFrame(
            [
                (rid, bucket * 1_000_000_000 + local, off)
                for rid, local, off in rows
            ],
            columns=[id_col, "pack_id", "pack_offset"],
        )

    if portable_bucket:
        bucket_expr = F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(buckets),
        )
    else:
        bucket_expr = F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets))
    with_bucket = source.withColumn("__bucket", bucket_expr)
    return with_bucket.groupBy("__bucket").applyInPandas(_pack, out_schema)
