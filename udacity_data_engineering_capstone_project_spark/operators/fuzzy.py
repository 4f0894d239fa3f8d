"""Edit-distance fuzzy matching over SHORT strings (entity-resolution
tier — north-star extension, same family as the MinHash/SimHash
near-dup operators in `operators.dedup`).

Links records whose key strings (names, titles, product labels,
addresses) are within a small Levenshtein distance, WITHOUT the n^2
cross join: the blocking key is the SymSpell deletion neighborhood
(Garbe's symmetric-delete idea, also the core of spelling-correction
indexes) — every string emits the set of strings reachable by
deleting at most k characters, and

    ed(s, t) <= k  =>  D_k(s) intersects D_k(t)

(an optimal alignment has <= k edit operations; removing from ``s``
the characters consumed by its substitutions/deletions and from ``t``
those consumed by substitutions/insertions leaves the SAME common
subsequence, each side after <= k deletions). So an equi-join on a
shared deletion variant has EXACT recall for Levenshtein <= k, and an
explicit `levenshtein` verify keeps precision exact. Variants ride as
xxhash64 LONGS, not strings — a hash collision can only ADD a
candidate pair (the verify rejects it), never lose one, and the
shuffle stays 8 bytes/key.

Scale shape: a string of length L emits O(L^k) variant keys (L=30,
k=2 -> ~466), so this operator is for SHORT key strings — exactly the
entity-resolution regime. The candidate join shuffles (key_hash, id)
pairs only; texts join back by id for the bounded verify. For long
text near-dup use the MinHash tier instead; both appear side by side
in `operators.dedup`'s strategy table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.relational import (
    maybe_broadcast,
)
from udacity_data_engineering_capstone_project_spark.operators.textstats import (
    _ensure_parallelism,
)


def _delete_one(arr_sql: str) -> str:
    """SQL fragment: all single-character deletions of every string in
    the array expression ``arr_sql`` (codegen-only: sequence +
    substring concat, no UDF). Deleting from an empty string yields
    the empty string (harmless duplicate, removed by array_distinct).
    """
    return (
        f"array_distinct(flatten(transform({arr_sql}, t -> "
        "transform(sequence(1, greatest(length(t), 1)), i -> "
        "concat(substring(t, 1, i - 1), substring(t, i + 1, length(t)))"
        "))))"
    )


def deletion_key_hashes(text_col: str, max_distance: int) -> F.Column:
    """Array of xxhash64 keys for the <=``max_distance`` deletion
    neighborhood of ``text_col`` (the string itself included) — the
    exact-recall blocking keys for `fuzzy_pairs`. One whole-stage-
    codegen projection; no Python, no join."""
    if max_distance not in (1, 2):
        raise ValueError(
            f"max_distance must be 1 or 2 (keys grow O(L^k)), got {max_distance}"
        )
    level0 = f"array({text_col})"
    level1 = _delete_one(level0)
    variants = f"array_union({level0}, {level1})"
    if max_distance == 2:
        level2 = _delete_one(level1)
        variants = f"array_union({variants}, {level2})"
    # NULL text -> NULL key array (explode then emits nothing).
    # Without this guard xxhash64(NULL) evaluates to the seed, so ALL
    # null-text rows would share one blocking key and the candidate
    # self-join would go quadratic in the null count (r9 self-review)
    return F.when(
        F.expr(text_col).isNotNull(),
        F.expr(f"transform({variants}, v -> xxhash64(v))"),
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
) -> DataFrame:
    """All pairs of rows whose ``text_col`` values are within
    Levenshtein distance ``max_distance`` — exact precision AND exact
    recall, never a cross join.

    Three phases, mirroring the LSH operators' candidate/verify
    shape:
    1. block: each row emits its deletion-neighborhood key hashes
       (`deletion_key_hashes`, one codegen projection);
    2. candidates: self-equi-join on the key hash with ``id_a <
       id_b`` — by the SymSpell pigeonhole every true pair shares a
       key, so recall is exact; duplicates from multi-key agreement
       collapse with one dropDuplicates on the id pair;
    3. verify: join the two texts back by id (candidate-count-sized,
       never corpus x corpus) and keep pairs with
       ``levenshtein(a, b, threshold) <= max_distance`` — Spark's
       thresholded Levenshtein early-exits past the bound, so the
       verify cost is O(k * len) per candidate, not O(len^2).

    Output: (id_a, id_b, distance long), id_a < id_b.

    NULL texts never pair AND never cost: their variant array is NULL
    (`deletion_key_hashes` guards the hash), so they emit zero
    blocking keys — a corpus that is 50% NULL keys shuffles only its
    non-null half, instead of funneling every NULL row into one
    quadratic bucket.

    EAGER at construction (like `minhash_verified_pairs`): the
    deletion-neighborhood explode is the expensive stage (O(L^k)
    string builds per row) and feeds BOTH sides of the candidate
    self-join, so it is spread to full parallelism and
    localCheckpoint'ed ONCE — without the barrier the self-join
    recomputes it twice (measured 3.8 s -> 1.3 s at sf0.1;
    BASELINE.md r9 continuation).

    Checkpoint durability (ADVICE r9, refined r10): ``localCheckpoint``
    stores blocks on executors only — on a cluster, losing an executor
    after construction makes the checkpointed keys unrecoverable
    (downstream actions FAIL instead of recomputing). On a NON-local
    master with a reliable checkpoint dir configured
    (``sc.setCheckpointDir``), the keys use ``.checkpoint()`` instead,
    which survives executor loss. On local[n] masters localCheckpoint
    is always used (no executor to lose; the FS round-trip would be
    pure cost even when a checkpoint dir happens to be set for other
    reasons). Cleanup caveat: Spark deletes reliable checkpoint files
    only when ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    (default false) — a long-running cluster job calling fuzzy_pairs
    per batch should set that flag to avoid unbounded checkpoint-dir
    growth.
    """
    if max_distance not in (1, 2):
        raise ValueError(
            f"max_distance must be 1 or 2 (keys grow O(L^k)), got {max_distance}"
        )
    keys = (
        _ensure_parallelism(df, id_col).select(
            F.col(id_col).alias("__id"),
            deletion_key_hashes(text_col, max_distance).alias("__ks"),
        )
        .select("__id", F.explode("__ks").alias("__k"))
    )
    sc = df.sparkSession.sparkContext
    # "local"/"local[...]" = single JVM, no executor to lose ->
    # localCheckpoint is safe and an FS round-trip is pure cost.
    # Anything else — including local-cluster[...], which DOES run
    # separate executor JVMs whose localCheckpoint blocks can be
    # lost (ADVICE r10) — takes the reliable .checkpoint() path
    # when a checkpoint dir is configured.
    single_jvm = sc.master == "local" or sc.master.startswith("local[")
    if sc.getCheckpointDir() is not None and not single_jvm:
        keys = keys.checkpoint(eager=True)
    else:
        keys = keys.localCheckpoint(eager=True)
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.__k") == F.col("b.__k"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    texts = df.select(F.col(id_col).alias("__tid"), F.col(text_col).alias("__t"))
    ta = texts.select(
        F.col("__tid").alias("id_a"), F.col("__t").alias("__ta")
    )
    tb = texts.select(
        F.col("__tid").alias("id_b"), F.col("__t").alias("__tb")
    )
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"), max_distance)
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        # cheap exact prefilter implied by the distance bound
        .filter(
            F.abs(F.length("__ta") - F.length("__tb")) <= max_distance
        )
        .select(
            "id_a",
            "id_b",
            dist.cast("long").alias("distance"),
        )
        .filter((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
    )


def fuzzy_join_reference(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: DataFrame,
    dim_id_col: str,
    dim_text_col: str,
    max_distance: int = 1,
    best_only: bool = True,
    keep_unmatched: bool = False,
) -> DataFrame:
    """Match a DIRTY string column against a CLEAN reference dimension
    within Levenshtein ``max_distance`` — the classic entity-resolution
    shape (free-text airline/port/country fields vs a curated dim, cf.
    reference etl.py:261-269's airline/port lookups, which assume exact
    codes; this is the fuzzy upgrade). VERDICT r9 #3.

    Unlike `fuzzy_pairs` (corpus x corpus self-join) the dimension is
    small, so the plan is SHUFFLE-FREE on the big side:

    1. the dim's deletion neighborhood (`deletion_key_hashes`) is
       exploded to (key_hash, dim_id, dim_text), checkpointed eagerly
       and broadcast — size-gated via `maybe_broadcast` on the
       block manager's size of the EXPLODED rows. The optimizer
       cannot size it: Spark does not scale a Generate's estimate by
       its O(L^k) fan-out (measured 14x rows at k=1 and 93x at k=2 on
       customer names), and a driver-local dim has no estimate at
       all. Over the gate it degrades to a plain shuffle join, still
       exact.
    2. the dirty side explodes its own neighborhood IN THE SAME STAGE
       as the scan (explode -> broadcast-hash-join pipelines; zero
       shuffle of corpus rows, zero data sent for rows that match no
       dim variant).
    3. verify inline with thresholded `levenshtein` (early-exits past
       the bound), then collapse multi-key agreement per (row, dim)
       pair.

    By the SymSpell pigeonhole (module docstring) recall is exact for
    ed <= max_distance; the verify keeps precision exact. NULL dirty
    or dim texts emit no keys (never pair, never cost).

    Output: ``best_only=True`` (default) -> one row per matched input
    row: (id_col, dim_id_col, distance) with the minimum distance,
    ties broken by smallest dim id — resolved by ONE partial-
    aggregatable groupBy (min over a (distance, dim_id) struct is
    lexicographic), not a window, so the only shuffle in the whole
    plan is candidate-sized. ``best_only=False`` -> all matches
    within the bound.

    ``keep_unmatched=False`` (default): unmatched input rows are
    absent — the inner-join form. ``keep_unmatched=True``: LEFT-join
    semantics (VERDICT r10 #5) — every input row appears at least
    once; rows with no dim match within the bound carry NULL
    ``dim_id_col`` and NULL ``distance`` (the null-distance marker
    entity-resolution pipelines key their review queues on). Scale
    shape: the closing left join shuffles the match table (at most
    match-sized triples) against the input's id spine — O(corpus
    ids), never O(corpus x dim); when the match table is
    broadcast-sized AQE picks the broadcast strategy and the corpus
    side stays shuffle-free end to end.
    """
    if max_distance not in (1, 2):
        raise ValueError(
            f"max_distance must be 1 or 2 (keys grow O(L^k)), got {max_distance}"
        )
    if id_col == dim_id_col or "distance" in (id_col, dim_id_col):
        raise ValueError(
            f"output columns would collide: id_col={id_col!r}, "
            f"dim_id_col={dim_id_col!r}, plus the reserved 'distance' — "
            "alias one side before joining"
        )
    dim_keys = dim.select(
        F.col(dim_id_col).alias("__did"),
        F.col(dim_text_col).alias("__dt"),
        deletion_key_hashes(dim_text_col, max_distance).alias("__ks"),
    ).select("__did", "__dt", F.explode("__ks").alias("__k"))
    dim_keys = maybe_broadcast(dim_keys.localCheckpoint(eager=True))
    # spread a narrow corpus before the deletion-key explode and the
    # broadcast-join probe (r12 single-split lesson): both are
    # CPU-bound per row, and a one-split input would run them on one
    # core. No-op at real scale (gated on partition count), and the
    # "corpus never shuffles" scale claim is untouched there.
    dirty_keys = _ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")),
        "__id",
    ).select(
        "__id",
        "__t",
        F.explode(deletion_key_hashes("__t", max_distance)).alias("__k"),
    )
    dist = F.levenshtein(F.col("__t"), F.col("__dt"), max_distance)
    cand = (
        dirty_keys.join(dim_keys, "__k")
        # cheap exact prefilter implied by the distance bound
        .filter(F.abs(F.length("__t") - F.length("__dt")) <= max_distance)
        .select("__id", "__did", dist.cast("long").alias("distance"))
        .filter((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
    )
    if best_only:
        matched = cand.groupBy("__id").agg(
            F.min(F.struct("distance", "__did")).alias("__best")
        ).select(
            F.col("__id").alias(id_col),
            F.col("__best.__did").alias(dim_id_col),
            F.col("__best.distance").alias("distance"),
        )
    else:
        matched = cand.dropDuplicates(["__id", "__did"]).select(
            F.col("__id").alias(id_col),
            F.col("__did").alias(dim_id_col),
            "distance",
        )
    if not keep_unmatched:
        return matched
    # LEFT form: join the matches back onto the input's id spine so
    # unmatched rows survive with NULL dim id / NULL distance. The
    # spine is ids only (one column) — the caller's payload columns
    # never enter this join.
    spine = df.select(F.col(id_col))
    return spine.join(matched, id_col, "left")
