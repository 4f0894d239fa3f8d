"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k as the exact baseline; IVF (inverted-file)
partitioned search as the scale path: assign vectors to their nearest
centroid once (a narrow broadcast pass), then search only the probed
cells — turning a full O(n*q) scan into O(n/k * q * probes).

All arithmetic is JVM-side: arrays cast to double, dot products via
`zip_with` + `aggregate` (sequential fold, deterministic and
oracle-reproducible). No Python UDFs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, computed in
    float64: dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return _dot(ad, bd) / (F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd)))


def _with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """Precompute sqrt(dot(v, v)) once per row. Every pairwise stage
    uses dot(a,b)/(norm_a*norm_b): computing the norms on the sides
    BEFORE the pair join drops 2/3 of the array arithmetic (a naive
    per-pair cosine re-folds both self-dots for every candidate).
    Arithmetic is identical (sqrt then multiply), so scores stay
    bit-equal to `cosine`."""
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn(out, F.sqrt(_dot(v, v)))


def _pair_cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return _dot(a.cast("array<double>"), b.cast("array<double>")) / (norm_a * norm_b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Physical shape: broadcast the (small) query set against the corpus —
    a map-side nested loop with no corpus shuffle; the only shuffle is
    the per-query top-k window, partitioned by query id.

    Output: (query_id, neighbor_id, rank, cos_sim r6); self-matches
    excluded; ties broken by neighbor id.
    """
    q = _with_norm(
        queries.select(F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec")),
        "__qvec",
        "__qn",
    )
    c = _with_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "__cvec",
        "__cn",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn(
            "cos_sim",
            F.round(
                _pair_cosine(
                    F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", "cos_sim")
    )


_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (splitmix64) — plane-matrix PRNG with
    no RNG state to ship and no engine-hash dependence."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 8,
    dim: int = 64,
    num_tables: int = 1,
    table: int = 0,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) LSH bucket(s) per vector.

    The plane matrix is CONSTANT: components are splitmix64-derived
    values in [-1, 1), computed once on the driver and embedded as
    array literals, so each row pays exactly num_tables*num_planes
    zip_with dot products. (The previous formulation derived every
    component with a per-row xxhash64 lambda — 1024 extra hash
    evaluations per row, measured 43 s at sf0.1 through the
    self-join.)

    A pair agrees on one table's bucket iff all ``num_planes`` plane
    signs match — probability (1 - angle/pi)^num_planes — so
    ``num_planes`` sets PRECISION (candidate volume) and
    ``num_tables`` independent tables set RECALL:
    1 - (1 - p^k)^L. With num_tables=1 the output is a single
    ``bucket`` column (usable as a write-partition key); otherwise a
    ``buckets`` array of (table, bucket) structs for explode+join.
    """

    # The plane dots are one dense matrix product: rows x (L*k planes).
    # Expressing it with SQL higher-order functions evaluates a lambda
    # per element (L*k*dim interpreted ops per row — measured seconds
    # per invocation at 2 000 rows), so this is the textbook case for
    # an Arrow-vectorized pandas UDF: numpy does the (batch, dim) @
    # (dim, L*k) product in one BLAS call.
    #
    # Since r11 the sign bits and bucket PACKING also happen in the
    # same numpy batch (they used to be a JVM-side codegen case
    # chain): when a caller explodes the buckets array, Catalyst's
    # InferFiltersFromGenerate adds a `size(child) > 0` filter whose
    # pushdown SUBSTITUTES the generator child's defining expression —
    # with JVM-side packing that duplicated the entire case chain AND
    # the Arrow UDF into a second ArrowEvalPython (the whole bucket
    # stage evaluated twice; measured in the r11 contamination probe).
    # With the UDF returning the packed longs, the only thing the
    # inferred filter can duplicate is the cheap struct-wrapping
    # transform over the UDF's output attribute — the UDF itself
    # evaluates once. Sign convention: `~(dots < 0)` so NaN dots count
    # as >= 0, matching both Spark's and DuckDB's NaN-is-largest
    # comparison semantics (a plain numpy `>= 0` would diverge).
    from pyspark.sql.functions import pandas_udf

    first = table * num_planes if num_tables == 1 else 0
    total = num_planes if num_tables == 1 else num_tables * num_planes
    n_tables_eff = 1 if num_tables == 1 else num_tables
    planes = np.array(
        [
            [
                _splitmix64((first + r) * dim + j) / float(1 << 63) - 1.0
                for j in range(dim)
            ]
            for r in range(total)
        ]
    ).T  # (dim, total)
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def _packed(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            # np.vstack([]) raises on the zero-row Arrow batches an
            # empty partition produces (ADVICE r11) — mirror the
            # len(pdf) == 0 guard in the contamination matmul scorer
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = ~((mat @ planes) < 0.0)  # NaN counts as >= 0 (see above)
        bits = signs.reshape(len(mat), n_tables_eff, num_planes)
        packed = (bits * weights).sum(axis=2, dtype=np.int64)
        return pd.Series(list(packed))

    with_pk = df.withColumn("__pk", _packed(F.col(vec_col)))
    if num_tables == 1:
        return with_pk.withColumn(
            "bucket", F.element_at("__pk", 1)
        ).drop("__pk")
    return with_pk.withColumn(
        "buckets",
        F.expr("transform(__pk, (b, i) -> named_struct('t', i, 'b', b))"),
    ).drop("__pk")


def auto_num_planes(n: int, target_bucket: int = 20) -> int:
    """Plane count that holds expected RANDOM bucket occupancy
    (n / 2^k per table) at roughly ``target_bucket`` rows as the
    corpus grows: ``8 + ceil(log2(n / (250 * target_bucket)))``,
    floored at 8 and capped at 30 (the packed bucket is a long; 2^30
    buckets already exceeds any realistic row count per partition).
    The default target (20 rows/bucket; 8 planes = 256 buckets/table
    up to ~5k vectors) matches the r4 probe's operating point; every
    corpus doubling past it needs one more plane or per-bucket
    quadratic join work grows linearly until the max_bucket_size cap
    starts truncating recall instead (measured in the 100x probe,
    BASELINE.md r4). Lower ``target_bucket`` for more planes (fewer
    random collisions, lower candidate recall), raise it for the
    opposite trade."""
    import math

    if target_bucket <= 0:
        raise ValueError(f"target_bucket must be > 0, got {target_bucket}")
    pivot = 250.0 * target_bucket
    if n <= pivot:
        return 8
    return min(30, 8 + math.ceil(math.log2(n / pivot)))


def auto_lsh_family(
    threshold: float,
    target_recall: float = 0.95,
    max_tables: int = 64,
    n_small_side: int = 1024,
) -> tuple[int, int]:
    """Pick a sign-LSH family (num_planes, num_tables) from the
    similarity THRESHOLD so low-threshold screens widen instead of
    silently missing (r12; the fixed 8x8 default caught 112/291 exact
    flags at the 0.3 band — recall at the boundary is
    1-(1-p^k)^L with p = 1 - arccos(t)/pi, only 12% for 8x8 at 0.3).

    Selection = datasketch-style threshold optimization with an
    explicit cost model: for each k in 1..24 take the minimal L with
    boundary recall >= ``target_recall`` (the FN constraint), then
    among feasible (k, L) minimize

        L * (1 + n_small_side / 2^k)

    — per big-side row, L is the explode/plane/join-probe cost and
    L * n_small_side / 2^k the expected RANDOM-collision verifies
    (per-table collision probability for near-orthogonal pairs is
    2^-k). ``n_small_side`` is the benchmark/query-set row count when
    the caller knows it (`contamination_screen` passes its gate
    count); the default prices a typical eval suite. Pure
    collision-mass minimization (no L term) over-widens k to ~20
    planes x 58 tables at t=0.8 — 754 plane dots per row to shave
    already-negligible verify work. Infeasible thresholds (even
    L=max_tables can't reach the target at any k) fall back to the
    recall-maximizing (k, L=max_tables) — by then you want IVF, not
    LSH (see `lsh_near_dup_pairs` notes).

    Cost curve at the defaults (generated by this function;
    BASELINE.md r12 carries the bound-vs-measured recall table):

        threshold   p      (k, L)   boundary recall
          0.9     0.856   (11, 15)       0.951
          0.8     0.795   (11, 36)       0.951
          0.7     0.747   (10, 54)       0.950
          0.5     0.667   ( 7, 50)       0.951
          0.3     0.597   ( 5, 38)       0.950

    Recall rises with the actual similarity (p is increasing in cos),
    so the boundary bound is the worst case over the flagged set.
    """
    import math

    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [-1, 1], got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}"
        )
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    best: tuple[float, int, int] | None = None  # (cost, L, k)
    for k in range(1, 25):
        pk = p**k
        if pk >= 1.0:  # threshold 1.0: any single table is exact
            return k, 1
        if pk <= 0.0:  # threshold -1.0: p == 0, no family has recall;
            continue  # fall through to the infeasible fallback
        L = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pk))
        if L > max_tables:
            continue
        cand = (L * (1.0 + n_small_side / float(1 << k)), L, k)
        if best is None or cand < best:
            best = cand
    if best is None:  # infeasible: maximize recall at the table cap
        k = max(
            range(1, 25),
            key=lambda kk: 1.0 - (1.0 - p**kk) ** max_tables,
        )
        return k, max_tables
    return best[2], best[1]


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_planes: int | None = None,
    dim: int = 64,
    num_tables: int = 8,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Embedding near-dup pairs at scale: multi-table hyperplane-LSH
    bucket join -> exact cosine verification. Candidates are the union
    of per-table bucket collisions (equi-join on (table, bucket) after
    exploding each vector's L buckets), replacing the all-pairs cross
    join; recall = 1 - (1 - p^num_planes)^num_tables where
    p = 1 - angle/pi. ``num_planes=None`` (the default) autosizes from
    the corpus row count via `auto_num_planes` — one scalar count()
    against the input, then 8 + log2(n/5000) planes so random-collision
    bucket occupancy (and with it per-bucket quadratic join work) stays
    constant as the corpus grows; pass an explicit value to pin
    candidate volume (and avoid the count) instead. num_tables sets the
    recall target at the similarity band you care about; sign-LSH is
    effective for genuinely-similar pairs — hunting low-similarity
    neighbors (cos < ~0.5) at high recall is IVF's job, not LSH's.

    ``max_bucket_size`` drops buckets larger than the cap before the
    self-join: an oversized bucket means the hash failed to
    discriminate there (ambient correlation), and its quadratic
    pair-blowup lands on a single join task (measured: one hot bucket
    made the candidate stage 14 s for 77k pairs at sf0.1). The cap
    bounds per-bucket work; a pair sharing ONLY degenerate buckets is
    the candidate loss, and any pair also colliding in a discriminating
    table is kept. None disables.

    The candidate join carries ids only (vectors re-attach by id
    afterwards — L struct entries per row would multiply the shuffled
    payload by the vector width); pair-dedup across tables happens
    before verification so each pair's cosine is computed once.
    """
    # localCheckpoint (NOT persist): the self-join and the bucket-size
    # prefilter consume the bucket projection three times — the
    # checkpoint computes the pandas-UDF plane matmul once and serves
    # every consumer from materialized blocks. Unlike the earlier bare
    # .persist() (whose shadowed handle pinned the frame for the
    # session lifetime), checkpoint blocks are freed by the
    # ContextCleaner as soon as the result plan is dropped. Measured
    # at sf0.1: 1.53 s vs 1.92 s for persist + eager candidate
    # checkpoint, identical pairs.
    if num_planes is None:
        num_planes = auto_num_planes(df.count())
    b = hyperplane_lsh_buckets(
        df, id_col, vec_col, num_planes, dim, num_tables=num_tables
    ).select(
        F.col(id_col), F.explode(F.col("buckets")).alias("bk")
    ).select(id_col, "bk.t", "bk.b").localCheckpoint(eager=True)
    if max_bucket_size is not None:
        sizes = b.groupBy("t", "b").agg(F.count(F.lit(1)).alias("__bn"))
        b = b.join(
            sizes.filter(F.col("__bn") <= max_bucket_size), on=["t", "b"]
        ).drop("__bn")
    l, r = b.alias("l"), b.alias("r")
    pair_ids = (
        l.join(
            r,
            on=[
                F.col("l.t") == F.col("r.t"),
                F.col("l.b") == F.col("r.b"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    slim = _with_norm(df.select(F.col(id_col), F.col(vec_col)), vec_col, "__n")
    va = slim.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__n").alias("__na")
    )
    vb = slim.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb")
    )
    simv = _pair_cosine(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb"))
    return (
        pair_ids.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(simv, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_id: str = "cell",
    nprobe: int = 1,
) -> DataFrame:
    """IVF cell assignment: the ``nprobe`` nearest centroids by cosine
    for every vector (nprobe=1 for corpus placement; >1 for query-side
    multi-probe, which recovers recall lost at cell boundaries).

    Centroids are broadcast (they are tiny by construction). The
    nprobe=1 corpus-placement path uses a ``min_by`` aggregation —
    partial-aggregatable (map-side combine, no sort), so the n*k
    scored rows never shuffle; only one best-cell row per vector does.
    The nprobe>1 path (query side, small by construction) ranks with a
    row_number window. Both tie-break deterministically on the rounded
    similarity, then the smaller centroid id.

    Output has one row per (vector, probed cell).
    """
    cents = _with_norm(
        centroids.select(
            F.col(id_col).alias(centroid_id), F.col(vec_col).alias("__centvec")
        ),
        "__centvec",
        "__centnorm",
    )
    scored = (
        _with_norm(vectors, vec_col, "__vnorm")
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "__csim",
            F.round(
                _pair_cosine(
                    F.col(vec_col), F.col("__centvec"),
                    F.col("__vnorm"), F.col("__centnorm"),
                ),
                6,
            ),
        )
    )
    if nprobe == 1:
        payload = F.struct(
            *[F.col(c) for c in vectors.columns if c != id_col],
            F.col(centroid_id),
        )
        # min of (-csim, cell) == max csim, then min cell — works for
        # any orderable centroid-id type (no negation of the id needed)
        order_key = F.struct((-F.col("__csim")).alias("__ncsim"), F.col(centroid_id))
        best = scored.groupBy(id_col).agg(F.min_by(payload, order_key).alias("__best"))
        return best.select(F.col(id_col), F.col("__best.*"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__csim").desc(), F.col(centroid_id).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .drop("__rn", "__csim", "__centvec", "__vnorm", "__centnorm")
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    quantize: bool = False,
    pq_codebooks: DataFrame | None = None,
) -> None:
    """Materialize the IVF index: corpus vectors written as parquet
    partitioned by their cell id under ``{path}/cells``, and the
    quantizer centroids alongside under ``{path}/_centroids`` — the
    index is self-contained, so search and incremental adds can't
    silently run with a MISMATCHED quantizer (assignments would be
    inconsistent and recall would quietly collapse). A query then
    reads only its probed cells' files — partition pruning does the
    candidate selection, so search cost is O(cell size), independent
    of corpus size.

    ``quantize=True`` stores int8-quantized vectors (per-vector
    symmetric scale — `quantize_embeddings_int8`) instead of the
    full-precision column: ~4x smaller cells (the dominant byte cost
    of a 100 TB vector corpus, and proportionally less IO per probed
    cell). The layout is self-describing (cells carry ``__q8`` instead
    of ``vec_col``), so `search_ivf_index` dequantizes transparently;
    pair it with ``rerank_with`` there to restore exact ordering for
    the top candidates.

    ``pq_codebooks`` (a `train_pq_codebooks` frame) stores PQ CODES
    instead of vectors — the IVFPQ layout (Jegou et al. 2011): cells
    carry (id, pq_codes) only (m small ints per vector, e.g. 64x
    smaller than float64), the codebooks persist beside the quantizer
    under ``{path}/_pq_codebooks``, and search scores probed cells
    with ADC distance tables. Mutually exclusive with ``quantize``.
    Always pair searches with ``rerank_with`` when exact top-k order
    matters."""
    if quantize and pq_codebooks is not None:
        raise ValueError("quantize=True and pq_codebooks are mutually exclusive")
    centroids.select(F.col(id_col), F.col(vec_col)).write.mode(
        "overwrite"
    ).parquet(f"{path}/_centroids")
    assigned = assign_cells(corpus, centroids, id_col, vec_col)
    if quantize:
        assigned = quantize_embeddings_int8(assigned, vec_col, "__q8").drop(vec_col)
    if pq_codebooks is not None:
        pq_codebooks.select("sub", "cell", "codevec").write.mode(
            "overwrite"
        ).parquet(f"{path}/_pq_codebooks")
        assigned = pq_encode(assigned, pq_codebooks, vec_col).drop(vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")


def add_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
) -> None:
    """Incrementally add a batch of vectors to a materialized IVF
    index: assign against the index's OWN persisted centroids and
    append into the per-cell partition layout. No rebuild, no rescan
    of existing cells — the daily-ingest path for a corpus-scale ANN
    index (cell balance degrades as the distribution drifts; retrain
    and rewrite when recall probes say so). Appends match the index's
    existing storage format: a quantized index quantizes the batch, an
    IVFPQ index encodes it with the persisted codebooks."""
    cents = spark.read.parquet(f"{path}/_centroids")
    assigned = assign_cells(new_vectors, cents, id_col, vec_col)
    layout = _ivf_cells_layout(spark, path)
    if layout == "q8":
        assigned = quantize_embeddings_int8(assigned, vec_col, "__q8").drop(vec_col)
    elif layout == "pq":
        cb = spark.read.parquet(f"{path}/_pq_codebooks")
        assigned = pq_encode(assigned, cb, vec_col).drop(vec_col)
    assigned.write.mode("append").partitionBy("cell").parquet(f"{path}/cells")


def _fs_path(spark, p: str):
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(p)
    return path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), path


def _read_ivf_delta(spark, path: str, before: int | None = None):
    """Read the streaming delta area of an IVF index (None if absent):
    per-batch ``{path}/delta/batch=<id>`` trees in the index's own
    storage format. ``before`` keeps only batches < it (exclusive) —
    the crash-replay guard."""
    fs, root = _fs_path(spark, f"{path}/delta")
    if not fs.exists(root):
        return None
    try:
        delta = spark.read.parquet(f"{path}/delta")
    except AnalysisException as ex:
        # every committed batch admitted zero rows: the batch=<id> dirs
        # exist (overwrite semantics require writing them even when
        # empty, or a replayed empty recomputation would leave stale
        # rows) but hold no parquet footers, so schema inference fails
        # — an empty delta, not corruption
        if "UNABLE_TO_INFER_SCHEMA" in str(ex):
            return None
        raise
    if before is not None:
        delta = delta.filter(F.col("batch") < before)
    return delta.drop("batch")


def add_to_ivf_delta(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    batch_id: int,
) -> None:
    """Append a batch of vectors into the index's DELTA area instead of
    its base cells: assignment and storage format match the base
    (`add_to_ivf_index`), but rows land under
    ``{path}/delta/batch=<batch_id>`` with overwrite semantics — so a
    replayed streaming batch rewrites its own directory instead of
    duplicating rows, which plain ``mode(append)`` into the base cells
    cannot promise. Search picks deltas up via
    ``search_ivf_index(include_delta=True)``; fold them into a fresh
    base periodically with `compact_ivf_index` (per-batch directories
    accumulate file-listing cost, not correctness debt)."""
    cents = spark.read.parquet(f"{path}/_centroids")
    assigned = assign_cells(new_vectors, cents, id_col, vec_col)
    layout = _ivf_cells_layout(spark, path)
    if layout == "q8":
        assigned = quantize_embeddings_int8(assigned, vec_col, "__q8").drop(vec_col)
    elif layout == "pq":
        cb = spark.read.parquet(f"{path}/_pq_codebooks")
        assigned = pq_encode(assigned, cb, vec_col).drop(vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/delta/batch={batch_id}"
    )


def compact_ivf_index(spark, path: str, out_path: str) -> None:
    """Fold an index's streaming delta into a fresh self-contained
    index at ``out_path``: base cells + all delta batches rewritten as
    one per-cell partition layout, quantizer (and PQ codebooks) copied
    forward. Writes a NEW path rather than mutating in place — an
    in-place base append + delta delete has a crash window that
    double-counts rows; pointer-swap to the compacted path instead
    (and only then retire the old one)."""
    cells = spark.read.parquet(f"{path}/cells")
    delta = _read_ivf_delta(spark, path)
    if delta is not None:
        cells = cells.unionByName(delta.select(cells.columns))
    spark.read.parquet(f"{path}/_centroids").write.mode("overwrite").parquet(
        f"{out_path}/_centroids"
    )
    fs, cb_path = _fs_path(spark, f"{path}/_pq_codebooks")
    if fs.exists(cb_path):
        spark.read.parquet(f"{path}/_pq_codebooks").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/_pq_codebooks")
    cells.write.mode("overwrite").partitionBy("cell").parquet(f"{out_path}/cells")


def stream_screen_against_ivf(
    spark,
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    nprobe: int = 1,
    admit: str = "novel",
) -> int:
    """Streaming semantic screen — the embedding twin of
    `stream_dedup_against_index`, the continuous-ingest shape for
    semantic dedup / decontamination: each micro-batch of (id, vector)
    rows (1) searches its nearest indexed neighbor (base cells + every
    delta admitted by EARLIER batches), (2) writes verdicts to
    ``{out_path}/batch=<id>`` — (id, neighbor_id, cos_sim,
    is_near_dup) with cos_sim >= ``threshold`` flagging a near-dup —
    and (3) with ``admit='novel'`` (default) adds the batch's novel
    vectors to the index's delta area so the NEXT batch screens
    against them; ``admit='none'`` is pure audit mode.

    Crash safety mirrors the dedup twin: the checkpoint commits only
    after foreachBatch returns, verdicts and delta both overwrite
    their own ``batch=<id>`` directory, and screening passes
    ``delta_before=batch_id`` so a replayed batch never screens
    against its own half-committed delta (it would flag its rows as
    dups of themselves, then overwrite the delta empty — losing them
    for good). The admit step re-reads the COMMITTED verdict parquet,
    so verdict and admission can't diverge on retry.

    Works on full-precision and int8 indexes (both score ``cos_sim``,
    int8 with ~0.4%-of-max|x| quantization error — set ``threshold``
    with that margin in mind). An IVFPQ index is rejected: ADC
    distance has no fixed cosine-threshold semantics and reranking
    needs the full corpus. Vectors never shuffle beyond the probed
    cells' join; per-batch state is the batch itself. Returns batches
    processed this run."""
    if admit not in ("novel", "none"):
        raise ValueError(f"admit must be 'novel' or 'none', got {admit!r}")
    if _ivf_cells_layout(spark, index_path) == "pq":
        raise ValueError(
            "stream_screen_against_ivf needs cos_sim scores; an IVFPQ "
            "index scores ADC distance — use a full or int8 index"
        )
    counter = {"batches": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        top1 = search_ivf_index(
            spark, index_path, batch_df, None, id_col, vec_col,
            k=1, nprobe=nprobe, include_delta=True, delta_before=batch_id,
        )
        verdicts = (
            batch_df.select(id_col, vec_col)
            .join(
                top1.withColumnRenamed("query_id", id_col).drop("rank"),
                on=id_col,
                how="left",
            )
            .select(
                id_col,
                vec_col,
                "neighbor_id",
                "cos_sim",
                F.coalesce(
                    F.col("cos_sim") >= F.lit(threshold), F.lit(False)
                ).alias("is_near_dup"),
            )
        )
        vdir = f"{out_path}/batch={batch_id}"
        verdicts.write.mode("overwrite").parquet(vdir)
        if admit == "novel":
            committed = spark.read.parquet(vdir)
            novel = committed.filter(~F.col("is_near_dup")).select(id_col, vec_col)
            add_to_ivf_delta(spark, index_path, novel, id_col, vec_col, batch_id)
        counter["batches"] += 1

    q = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    ).trigger(availableNow=True).start()
    q.awaitTermination()
    return counter["batches"]


def _ivf_cells_layout(spark, path: str) -> str:
    """Detect the index storage format ("full" | "q8" | "pq") from ONE
    leaf file's footer. Opening the whole `{path}/cells` dataset just
    for its schema would build a file index over every partition on
    each incremental append — a full recursive listing of a
    corpus-scale index on an object store, exactly the rescan the
    append path exists to avoid. `listFiles` is a lazy remote
    iterator, so this touches the first page of one cell directory
    only."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{path}/cells")
    fs = root.getFileSystem(conf)
    files = fs.listFiles(root, True)
    while files.hasNext():
        f = files.next().getPath()
        if f.getName().endswith(".parquet"):
            names = spark.read.parquet(f.toString()).schema.names
            if "__q8" in names:
                return "q8"
            if "pq_codes" in names:
                return "pq"
            return "full"
    return "full"


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id: str = "query_id",
    nprobe: int = 1,
    rerank_with: DataFrame | None = None,
    rerank_factor: int = 4,
    include_delta: bool = False,
    delta_before: int | None = None,
) -> DataFrame:
    """Search a materialized IVF index. The join on ``cell`` against the
    partitioned parquet prunes to the probed cells' files only.
    ``centroids=None`` reads the quantizer persisted with the index
    (the safe default — a caller-supplied frame must be the one the
    index was built with).

    An int8 index (``write_ivf_index(quantize=True)``) is detected
    from the cell schema and dequantized on read — scores then carry
    the ~0.4%-of-max|x| per-component quantization error. Pass the
    full-precision corpus as ``rerank_with`` (id_col, vec_col; the
    source-of-truth table the index was built from) to restore exact
    ordering: the quantized scores select ``rerank_factor * k``
    candidates per query, only those ids join back to the full
    vectors (k*factor rows per query, not a corpus scan), and the
    final top-k is ranked on exact cosine.

    An IVFPQ index (``write_ivf_index(pq_codebooks=...)``) is likewise
    detected from the cell schema: probed cells are scored with ADC
    distance tables (ascending squared L2 — on an L2-normalized corpus
    that IS descending cosine order) and the score column is
    ``adc_dist`` instead of ``cos_sim``; ``rerank_with`` restores
    exact cosine (recommended — PQ is the coarsest storage tier).

    ``include_delta=True`` additionally searches vectors admitted into
    the index's streaming delta area (`add_to_ivf_delta` /
    `stream_screen_against_ivf`) — per-batch directories under
    ``{path}/delta`` sharing the base storage format.
    ``delta_before=N`` bounds the read to batches < N (the streaming
    replay guard: a batch must never screen against its own
    half-committed delta)."""
    if centroids is None:
        centroids = spark.read.parquet(f"{path}/_centroids")
    cells = spark.read.parquet(f"{path}/cells")
    if include_delta:
        delta = _read_ivf_delta(spark, path, delta_before)
        if delta is not None:
            cells = cells.unionByName(delta.select(cells.columns))
    if "__q8" in cells.columns:
        q8 = F.col("__q8")
        cells = cells.withColumn(
            vec_col,
            F.transform(q8["q"], lambda x: x.cast("double") * q8["scale"]),
        ).drop("__q8")
    query_cells = assign_cells(queries, centroids, id_col, vec_col, nprobe=nprobe)
    if "pq_codes" in cells.columns:
        _, _, table = _collect_codebooks(
            spark.read.parquet(f"{path}/_pq_codebooks")
        )
        # the ADC scan needs only (query_id, cell, distance table) —
        # query vectors/norms broadcast only when the rerank consumes
        # them, and they ride the skinny candidate list, not the scan
        q = query_cells.select(
            F.col(id_col).alias(query_id),
            F.col("cell"),
            _adc_dtable(table, vec_col).alias("__dt"),
        )
        scored = (
            cells.filter(F.col("pq_codes").isNotNull())  # NULLS sort first
            .join(F.broadcast(q), on="cell")
            .filter(F.col(id_col) != F.col(query_id))
            .withColumn("adc_dist", _adc_score(F.col("__dt"), F.col("pq_codes")))
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("adc_dist").asc(), F.col(id_col).asc()
        )
        if rerank_with is None:
            return (
                scored.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= k)
                .select(
                    query_id,
                    F.col(id_col).alias("neighbor_id"),
                    "rank",
                    "adc_dist",
                )
            )
        qn = _with_norm(
            queries.select(
                F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec")
            ),
            "__qvec",
            "__qn",
        )
        shortlist = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k * rerank_factor)
            .select(query_id, F.col(id_col).alias("neighbor_id"))
            .join(F.broadcast(qn), query_id)
        )
        return _rerank_exact(shortlist, rerank_with, id_col, vec_col, query_id, k)
    index = _with_norm(cells, vec_col, "__cn")
    q = _with_norm(
        query_cells.select(
            F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec"), F.col("cell")
        ),
        "__qvec",
        "__qn",
    )
    scored = (
        index.join(F.broadcast(q), on="cell")
        .filter(F.col(id_col) != F.col(query_id))
        .withColumn(
            "cos_sim",
            F.round(
                _pair_cosine(
                    F.col("__qvec"), F.col(vec_col), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    if rerank_with is None:
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col(id_col).alias("neighbor_id"), "rank", "cos_sim")
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k * rerank_factor)
        .select(query_id, F.col(id_col).alias("neighbor_id"), "__qvec", "__qn")
    )
    return _rerank_exact(shortlist, rerank_with, id_col, vec_col, query_id, k)


def _rerank_exact(
    shortlist: DataFrame,
    rerank_with: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: str,
    k: int,
) -> DataFrame:
    """Shared refinement tail: join the per-query shortlist (carrying
    ``__qvec``/``__qn``) back to the full-precision vectors — a
    candidate-sized join, never a corpus scan — and rank on exact
    cosine."""
    exact = _with_norm(
        rerank_with.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ev")
        ),
        "__ev",
        "__en",
    )
    rescored = shortlist.join(exact, "neighbor_id").withColumn(
        "cos_sim",
        F.round(
            _pair_cosine(F.col("__qvec"), F.col("__ev"), F.col("__qn"), F.col("__en")),
            6,
        ),
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", "cos_sim")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id: str = "query_id",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: search the query's ``nprobe`` nearest IVF
    cells. Recall < 1.0 near cell boundaries at nprobe=1; each extra
    probe unions one more cell's candidates. At 100 TB the corpus-side
    assignment is done once offline and written partitioned by cell, so
    a query touches only its probed cells' files (partition pruning).
    """
    corpus_cells = assign_cells(corpus, centroids, id_col, vec_col)
    query_cells = assign_cells(queries, centroids, id_col, vec_col, nprobe=nprobe)
    # Materialize the probe assignment (queries x nprobe rows — small
    # by the ANN-batch contract) before hinting: the optimizer's
    # estimate for the un-materialized frame rides through
    # assign_cells' crossJoin and reads as tens of GB for a handful of
    # queries, so a bare F.broadcast here was an UNSIZED hint (caught
    # by the oversized-broadcast-hint lint rule, r7). The checkpoint
    # keeps that estimate, so neither the planner nor AQE can size the
    # frame; maybe_broadcast reads its size from the block manager, and
    # an actually-huge query batch stays unhinted (a shuffle join)
    # instead of a forced executor-resident copy.
    q = _with_norm(
        query_cells.select(
            F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec"), F.col("cell")
        ),
        "__qvec",
        "__qn",
    ).localCheckpoint(eager=True)
    c = _with_norm(
        corpus_cells.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"), F.col("cell")
        ),
        "__cvec",
        "__cn",
    )
    from udacity_data_engineering_capstone_project_spark.operators.relational import maybe_broadcast

    scored = (
        c.join(maybe_broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn(
            "cos_sim",
            F.round(
                _pair_cosine(
                    F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", "cos_sim")
    )


def train_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 5,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — trains the
    IVF coarse quantizer instead of requiring hand-picked centroids.

    Scale shape per iteration (everything partial-aggregatable):
      1. assign: nearest centroid per vector via the broadcast min_by
         path of `assign_cells` (no shuffle of scored rows);
      2. update: new centroid = elementwise mean of its members —
         posexplode to (cell, pos, value) rows, avg with map-side
         combine (the shuffle carries only k*dim partial sums per
         input partition, NOT n*dim rows), re-assemble with sort_array.

    Init is a deterministic pseudo-random sample: the k vectors with
    the smallest xxhash64(id) (stable across runs and partitionings).
    A centroid whose cell empties keeps its previous position. The k-row
    centroid frame is localCheckpoint'ed each round: it truncates the
    iterative lineage AND keeps the next broadcast from recomputing the
    whole history. Output: (cell bigint 0..k-1, `vec_col`).
    """
    if k <= 0 or iters < 0:
        raise ValueError(f"need k > 0, iters >= 0, got {k}, {iters}")
    hash_order = [F.xxhash64(F.col(id_col).cast("string")), F.col(id_col)]
    # orderBy.limit compiles to TakeOrderedAndProject — a distributed
    # partial top-k, NOT a global sort; the numbering window then runs
    # over the k seed rows only.
    seeds = df.select(F.col(id_col), F.col(vec_col)).orderBy(*hash_order).limit(k)
    cents = (
        seeds.withColumn("__rk", F.row_number().over(Window.orderBy(*hash_order)))
        .select((F.col("__rk") - 1).cast("long").alias("cell"), F.col(vec_col))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = assign_cells(
            df.select(id_col, vec_col),
            cents.withColumnRenamed("cell", id_col),
            id_col,
            vec_col,
        )
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("__p", "__v"))
            .groupBy("cell", "__p")
            .agg(F.avg("__v").alias("__m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__p"), F.col("__m")))
                ).alias("__pm")
            )
            .select(
                "cell",
                F.transform(F.col("__pm"), lambda s: s["__m"]).alias(vec_col),
            )
        )
        # empty cells keep their previous centroid
        cents = (
            cents.select("cell", F.col(vec_col).alias("__prev"))
            .join(means, on="cell", how="left")
            .select(
                "cell", F.coalesce(F.col(vec_col), F.col("__prev")).alias(vec_col)
            )
            .localCheckpoint(eager=True)
        )
    return cents


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str, out_col: str = "qvec"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: 4x smaller
    embedding storage (the dominant byte cost of a 100 TB vector
    corpus) with cosine ordering approximately preserved.

    Each vector stores (int8[dim], scale) with scale = max|x|/127;
    dequantized value = q * scale. Symmetric-per-vector keeps the
    dot-product algebra simple (q_a . q_b * scale_a * scale_b) and
    needs no corpus-level calibration pass. Pure higher-order
    expressions — no Python, no shuffle.
    """
    v = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    ) / F.lit(127.0)
    return df.withColumn(
        out_col,
        F.struct(
            F.transform(
                v, lambda x: F.round(x / scale).cast("tinyint")
            ).alias("q"),
            scale.cast("double").alias("scale"),
        ),
    )


def dequantize_embeddings_int8(
    df: DataFrame, qvec_col: str, out_col: str
) -> DataFrame:
    """Inverse of `quantize_embeddings_int8` (lossy: ~0.4% of max|x|
    per component)."""
    q = F.col(qvec_col)
    return df.withColumn(
        out_col,
        F.transform(q["q"], lambda x: x.cast("double") * q["scale"]),
    )


def normalize_embeddings(
    df: DataFrame,
    vec_col: str,
    dim: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Truncate-and-renormalize an embedding column — the
    matryoshka-representation preparation step (serve a cheaper prefix
    of a long embedding) and the general L2-normalization every cosine
    consumer wants done ONCE upstream instead of per-query.

    Pure JVM expressions (slice + aggregate + transform) — no Python,
    no shuffle, whole-stage codegen over any corpus size. All-zero
    vectors stay all-zero (no division by zero). ``dim=None`` skips
    truncation; output replaces ``vec_col`` unless ``out_col`` given.
    """
    v = F.col(vec_col)
    if dim is not None:
        v = F.slice(v, 1, dim)
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    normed = F.when(norm > 0, F.transform(v, lambda x: x / norm)).otherwise(v)
    return df.withColumn(out_col or vec_col, normed)


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space with the k-means quantizer, then mark
    every vector that has a LOWER-id within-cluster neighbor at
    cosine >= ``threshold`` as a duplicate of its lowest-id such
    neighbor. Near-duplicate *meanings* (paraphrases, template
    rewrites, translations under a multilingual encoder) collapse even
    when their surface text shares no n-grams — the tier above
    MinHash/SimHash in a curation stack.

    The pairwise work is confined within clusters — the paper's own
    cost model: k controls the quadratic blowup (size k so expected
    cell size is ~corpus/k; the IVF sizing rule applies). Cells join
    on the cell id only; vectors re-attach by id, so the self-join
    shuffles (cell, id) pairs, not vector payloads. Cross-cluster
    near-dups are the accepted recall loss (SemDeDup's design trade;
    raise k-means quality or run twice with jittered seeds to
    tighten).

    Output: (id, dup_of, cos_sim) — one row per DUPLICATE vector
    (survivors absent), dup_of = its lowest-id qualifying neighbor,
    cos_sim = that pair's exact cosine, rounded to 6 dp.

    ``centroids`` accepts either `train_centroids` output
    (cell, vec_col) or any frame keyed by ``id_col``.
    """
    if "cell" in centroids.columns and id_col not in centroids.columns:
        centroids = centroids.withColumnRenamed("cell", id_col)
    cells = assign_cells(df, centroids, id_col, vec_col)
    slim = cells.select(F.col(id_col), F.col("cell"))
    l, r = slim.alias("l"), slim.alias("r")
    pair_ids = l.join(
        r,
        on=[
            F.col("l.cell") == F.col("r.cell"),
            F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
        ],
    ).select(
        F.col(f"l.{id_col}").alias("__keep"),
        F.col(f"r.{id_col}").alias("__dup"),
    )
    vn = _with_norm(df.select(F.col(id_col), F.col(vec_col)), vec_col, "__n")
    va = vn.select(
        F.col(id_col).alias("__keep"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = vn.select(
        F.col(id_col).alias("__dup"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    scored = (
        pair_ids.join(va, "__keep")
        .join(vb, "__dup")
        .withColumn(
            "__cos",
            F.round(
                _pair_cosine(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ),
        )
        .filter(F.col("__cos") >= threshold)
    )
    return (
        scored.groupBy("__dup")
        .agg(
            F.min("__keep").alias("dup_of"),
            F.min_by("__cos", F.col("__keep")).alias("cos_sim"),
        )
        .select(F.col("__dup").alias(id_col), "dup_of", "cos_sim")
    )


def _contamination_matmul(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    bench_id_col: str,
    threshold: float,
) -> DataFrame:
    """Replicated-benchmark brute force for `contamination_screen`:
    collect the (small, gate-checked) benchmark to one normalized
    float64 matrix, ship it to every task, and score each corpus
    Arrow batch with a single BLAS matmul. Exact recall; the only
    Python crossing is the corpus itself, once."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, corpus.schema[id_col].dataType),
            StructField(bench_id_col, benchmark.schema[bench_id_col].dataType),
            StructField("cos_sim", DoubleType()),
        ]
    )
    rows = (
        benchmark.select(
            F.col(bench_id_col).alias("__bid"), F.col(vec_col).alias("__v")
        )
        # NULL-id benchmark rows are dropped too: an unidentifiable
        # eval row can't anchor a best-match output (and None would
        # crash the tie-break sort below)
        .filter(F.col("__v").isNotNull() & F.col("__bid").isNotNull())
        .collect()
    )
    # ascending bench ids so np.argmax's first-hit IS the smallest-id
    # tie-break on rounded scores
    rows.sort(key=lambda r: r["__bid"])
    spark = corpus.sparkSession
    if not rows:
        return spark.createDataFrame([], out_schema)
    bids = [r["__bid"] for r in rows]
    B = np.array([r["__v"] for r in rows], dtype=np.float64)  # (m, dim)
    bnorm = np.linalg.norm(B, axis=1)
    keep = bnorm > 0.0  # zero-norm benchmark vectors never match
    bids = np.asarray(bids)[keep]
    if bids.size == 0:
        return spark.createDataFrame([], out_schema)
    BnT = (B[keep] / bnorm[keep][:, None]).T  # (dim, m), normalized
    bc = spark.sparkContext.broadcast((bids, BnT))
    thr = float(threshold)

    def score(batches):
        b_ids, b_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.linalg.norm(V, axis=1)
            nz = vn > 0.0
            vn[~nz] = 1.0  # placeholder; masked out below
            S = np.round((V / vn[:, None]) @ b_mat, 6)  # (batch, m)
            j = np.argmax(S, axis=1)  # first max = smallest bench id
            best = S[np.arange(len(S)), j]
            mask = (best >= thr) & nz
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values[mask],
                    bench_id_col: b_ids[j[mask]],
                    "cos_sim": best[mask],
                }
            )

    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(score, out_schema)
    )


def contamination_screen(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    bench_id_col: str,
    threshold: float = 0.8,
    num_planes: int | None = None,
    dim: int = 64,
    num_tables: int | None = None,
    method: str = "auto",
    target_recall: float = 0.95,
    max_bench_bucket: int | float | None = 4.0,
) -> DataFrame:
    """Cross-corpus SEMANTIC decontamination screen (r11): flag every
    corpus vector whose cosine similarity to ANY benchmark/eval vector
    reaches ``threshold`` — the embedding-space sibling of the n-gram
    `contamination_check` in `operators.textstats` (paraphrased or
    translated eval leakage shares no n-grams; an embedding screen
    still catches it). Training-data hygiene per GPT-3 appx C /
    PaLM-style decontamination, upgraded from surface overlap to
    meaning overlap.

    Two physical strategies, both shuffle-free on the corpus;
    ``method="auto"`` picks by the benchmark's matrix footprint:

    **matmul** (the default when the benchmark matrix fits the
    session's broadcast ceiling, `relational.broadcast_ceiling` —
    eval suites are 1e3-1e5 rows, so almost always): the benchmark collapses to ONE normalized numpy matrix
    shipped to every task; a single `mapInPandas` pass scores each
    Arrow batch of corpus vectors against ALL benchmark vectors with
    one BLAS matmul and emits each row's best match above the
    threshold. EXACT recall (it IS the brute force, vectorized),
    zero joins, zero shuffle, one corpus scan. This is the plan you
    want at 100 TB for any broadcastable benchmark: the r11 scale
    probe measured the LSH+pair-verify alternative at 1.3 ms/row at
    x100 (Arrow-transferring ~31M candidate vector PAIRS into
    Python) vs one matrix product per batch here.

    **lsh** (the fallback past the ceiling): the benchmark's
    multi-table hyperplane buckets (`hyperplane_lsh_buckets`, the
    splitmix64 plane family) explode and are broadcast by
    `maybe_broadcast` when their size times the num_tables explode
    fan-out (which the estimate leaves out) fits the ceiling; the
    corpus explodes its buckets in the scan stage,
    broadcast-joins on (table, bucket), verifies exact cosine with a
    vectorized Arrow kernel, and one partial-aggregatable min-struct
    groupBy keeps the best match (the only shuffle, match-sized).
    Candidate recall is the LSH bound 1-(1-p^num_planes)^num_tables,
    p = 1 - angle/pi; verified pairs are exact. Leaving
    ``num_planes``/``num_tables`` at None (the r12 default) sizes the
    family from the THRESHOLD via `auto_lsh_family` so a
    low-threshold screen widens instead of silently missing (the old
    fixed 8x8 family's boundary recall at threshold 0.3 was ~12%;
    the auto family holds ``target_recall`` at the boundary — see
    the cost curve in `auto_lsh_family`). For benchmarks too big
    even for this (the bucket table over the gate), prefer
    `search_ivf_index` with the benchmark as the query set.

    ``max_bench_bucket`` is the LSH path's skew guard (r12): the r11
    x10/x100 probe measured ~10x candidate inflation over the uniform
    estimate because bucket-occupancy skew ALIGNS across the two
    sides (same data distribution), and the fallback engages exactly
    when the benchmark is huge. A (table, bucket) whose BENCHMARK
    occupancy exceeds the cap is dropped before the join — an
    oversized bucket means the hash failed to discriminate there
    (ambient correlation), and capping the small side bounds the
    corpus x benchmark product term: candidates <= cap x num_tables
    per corpus row, linear in the corpus again (the dedup tier's
    `max_bucket_size` rationale, re-derived for the bipartite join).
    A float is an occupancy FACTOR: cap = max(32, ceil(factor x
    n_bench / 2^num_planes)), i.e. "x4 the uniform expectation" by
    default, so the cap self-scales with the benchmark and never
    binds on well-spread data. An int pins the cap absolutely; None
    disables. A genuinely-contaminated row dropped from a degenerate
    bucket is still caught by any discriminating table it shares
    with its match (multi-table redundancy is the recall floor the
    probe measures: planted recall stayed 1.0 at x1/x10/x100).

    Both paths round cosine to 6 dp BEFORE the threshold and
    tie-break equal scores to the smallest benchmark id, so their
    flagged sets agree wherever LSH recall is 1 and an external
    engine (the DuckDB twins in plans/queries_corpus.py) reproduces
    either exactly. Vectors containing NaN components (NaN norm) and
    zero-norm vectors never flag and never cost on EITHER path
    (ADVICE r11: the matmul path always masked them; the LSH path now
    filters them explicitly instead of letting Spark's NaN-is-largest
    comparison semantics flag them with a NaN score).

    Output: (id_col, bench_id_col, cos_sim) — one row per
    CONTAMINATED corpus vector; clean rows absent (decontaminate with
    a left_anti join on the ids). NULL or zero-norm vectors on either
    side never flag and never cost.
    """
    from udacity_data_engineering_capstone_project_spark.operators.relational import (
        broadcast_ceiling,
        maybe_broadcast,
    )

    if method not in ("auto", "matmul", "lsh"):
        raise ValueError(f"method must be auto|matmul|lsh, got {method!r}")
    if id_col == bench_id_col or "cos_sim" in (id_col, bench_id_col):
        raise ValueError(
            f"output columns would collide: id_col={id_col!r}, "
            f"bench_id_col={bench_id_col!r}, plus the reserved 'cos_sim' — "
            "alias one side before screening"
        )
    ceiling = broadcast_ceiling(benchmark.sparkSession)
    n_bench = None
    if method == "auto":
        # one benchmark-sized agg prices the matrix: row count x the
        # ACTUAL vector width (max over rows — `dim` is LSH-family
        # tuning, not a trusted width; a 768-dim caller who leaves
        # dim=64 would otherwise underprice the broadcast 12x,
        # ADVICE r11) x float64 x2 slack. Eval suites are small; only
        # a benchmark too big to replicate falls through to LSH.
        n_bench, width = benchmark.select(
            F.count(F.lit(1)), F.max(F.size(F.col(vec_col)))
        ).first()
        width = width if width and width > 0 else dim
        method = "matmul" if n_bench * width * 8 * 2 <= ceiling else "lsh"
    if method == "matmul":
        return _contamination_matmul(
            corpus, benchmark, id_col, vec_col, bench_id_col, threshold
        )
    if num_planes is None or num_tables is None:
        if n_bench is None:
            n_bench = benchmark.count()
        auto_k, auto_l = auto_lsh_family(
            threshold, target_recall=target_recall, n_small_side=n_bench
        )
        num_planes = num_planes if num_planes is not None else auto_k
        num_tables = num_tables if num_tables is not None else auto_l
    # NULL vectors never flag and never cost (the fuzzy-tier NULL
    # discipline): the bucket UDF would otherwise choke on None rows.
    # NULL benchmark ids are dropped with the same rationale as the
    # matmul path (ADVICE r11): an unidentifiable eval row can't
    # anchor a best-match output, and keeping them only here would
    # make method='auto' output depend on which path the gate picked.
    # The norm filter drops NaN-component and zero-norm vectors the
    # way the matmul path's keep-mask does — WITHOUT it, Spark's
    # NaN-is-largest comparison would flag a zero-norm corpus vector
    # with cos_sim NaN (0/0) whenever one shares a bucket with a
    # degenerate benchmark row (note ~isnan, not norm > 0 alone:
    # NaN > 0 is TRUE under the same semantics).
    _norm_ok = lambda c: ~F.isnan(F.col(c)) & (F.col(c) > 0.0)  # noqa: E731
    bench = hyperplane_lsh_buckets(
        _with_norm(
            benchmark.select(
                F.col(bench_id_col).alias("__bid"), F.col(vec_col)
            ).filter(
                F.col(vec_col).isNotNull() & F.col(bench_id_col).isNotNull()
            ),
            vec_col,
            "__bnorm",
        ).filter(_norm_ok("__bnorm")),
        "__bid",
        vec_col,
        num_planes=num_planes,
        dim=dim,
        num_tables=num_tables,
    ).select(
        "__bid",
        F.col(vec_col).alias("__bvec"),
        "__bnorm",
        F.explode("buckets").alias("__tb"),
    )
    if max_bench_bucket is not None:
        # skew guard (r12, see docstring): drop (table, bucket) cells
        # whose BENCHMARK occupancy exceeds the cap before the join.
        # The histogram agg runs over the (small, broadcast-gated)
        # benchmark side only — the corpus is never aggregated — and
        # localCheckpoint materializes the bucket UDF once for the
        # histogram + the capped join input (the dedup-tier pattern).
        if isinstance(max_bench_bucket, bool) or max_bench_bucket <= 0:
            raise ValueError(
                f"max_bench_bucket must be a positive int (absolute cap), "
                f"positive float (occupancy factor) or None, got "
                f"{max_bench_bucket!r}"
            )
        if isinstance(max_bench_bucket, int):
            cap = max_bench_bucket
        else:
            if n_bench is None:
                n_bench = benchmark.count()
            cap = max(
                32,
                math.ceil(
                    max_bench_bucket * n_bench / float(1 << num_planes)
                ),
            )
        bench = bench.localCheckpoint(eager=True)
        sizes = bench.groupBy("__tb").agg(F.count(F.lit(1)).alias("__bn"))
        bench = bench.join(
            sizes.filter(F.col("__bn") <= cap), on="__tb"
        ).drop("__bn")
    # pin the benchmark as the build side: without the hint the
    # planner broadcasts the corpus vectors instead. Spark does not
    # scale a Generate's estimate by its fan-out, and each benchmark
    # row explodes into num_tables bucket rows that each carry the
    # full vector, so the ceiling is divided by num_tables.
    bench = maybe_broadcast(bench, max_bytes=ceiling // max(num_tables, 1))
    corp = hyperplane_lsh_buckets(
        _with_norm(
            corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col)).filter(
                F.col(vec_col).isNotNull()
            ),
            vec_col,
            "__cnorm",
        ).filter(_norm_ok("__cnorm")),
        "__cid",
        vec_col,
        num_planes=num_planes,
        dim=dim,
        num_tables=num_tables,
    ).select(
        "__cid",
        F.col(vec_col).alias("__cvec"),
        "__cnorm",
        F.explode("buckets").alias("__tb"),
    )
    # Arrow-vectorized verify. Honest record (r11, BASELINE.md): a
    # 1M-pair microbench puts this einsum kernel (~1.2 s/M pairs)
    # within noise of the interpreted `_pair_cosine` fold (~0.9 s/M)
    # at dim 64 — the kernel is kept because this is the one verify
    # site whose candidate volume is UNBOUNDED (corpus x benchmark
    # through skew-correlated buckets measured at ~10x the uniform
    # estimate), and batch-matrix work is the shape that survives a
    # wider dim or a hotter bucket. The actual scale fix is the
    # matmul path above. round(6) absorbs the summation-order
    # difference vs the fold exactly as it does for DuckDB's
    # list_dot_product in the oracle.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.vstack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.vstack([np.asarray(x, dtype=np.float64) for x in b])
        return pd.Series(np.einsum("ij,ij->i", A, B))

    cos = F.round(
        _pair_dot(F.col("__cvec"), F.col("__bvec"))
        / (F.col("__cnorm") * F.col("__bnorm")),
        6,
    )
    cand = (
        corp.join(bench, on="__tb")
        .select("__cid", "__bid", cos.alias("__cos"))
        .filter(F.col("__cos") >= threshold)
    )
    # min over (-cos, bench_id) = max cosine, ties to smallest id —
    # one partial-aggregatable struct agg, no window
    return (
        cand.groupBy("__cid")
        .agg(F.min(F.struct((-F.col("__cos")).alias("n"), F.col("__bid"))).alias("__b"))
        .select(
            F.col("__cid").alias(id_col),
            F.col("__b.__bid").alias(bench_id_col),
            (-F.col("__b.n")).alias("cos_sim"),
        )
    )


# =========================================================================
# Product quantization (Jegou, Douze, Schmid 2011, "Product Quantization
# for Nearest Neighbor Search"). Extension tier: the reference engine
# (etl.py) has no vector search at all; this is the 100 TB memory story
# beyond per-vector int8 — m log2(k)-bit codes per vector (m=8, k=16:
# 4 BYTES for a 64-dim float vector, 64x smaller) with asymmetric
# distance computation (ADC) so queries score codes without ever
# reconstructing the corpus.
# =========================================================================


def train_pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
) -> DataFrame:
    """Train product-quantization codebooks: split the vector space into
    ``m`` contiguous subspaces and run Lloyd's k-means (``k`` centroids)
    in each — ALL subspaces jointly per iteration, so the training cost
    is ``iters`` jobs regardless of ``m``.

    Scale shape per iteration (mirrors `train_centroids`, which trains
    the IVF coarse quantizer — PQ is its fine-grained sibling):
      1. assign: each (vector, subspace) row joins the broadcast
         (m*k)-row codebook on ``sub`` and keeps its nearest centroid
         via a ``min_by`` partial aggregation — the n*m scored rows
         combine map-side; no shuffle of scored candidates.
      2. update: centroid = elementwise mean of members, via posexplode
         to (sub, cell, pos, value) and an avg with map-side combine —
         the shuffle carries m*k*subdim partial sums per partition.

    Init is deterministic: the k corpus rows with the smallest
    xxhash64(id) seed cell j of EVERY subspace with their j-th
    subvector (stable across runs/partitionings). Empty cells keep
    their previous centroid. Distances are squared L2 (the PQ paper's
    metric); L2-normalize vectors upstream (`normalize_embeddings`)
    to rank by cosine, since ||a-b||^2 = 2 - 2*cos on unit vectors.

    Output: (sub int, cell int, codevec array<double> of dim/m),
    m*k rows — driver-safe to collect anywhere. NULL vectors are
    dropped from training (they would otherwise seed NULL centroids or
    poison the dim sniff; `pq_encode` maps them to NULL codes).
    """
    if m <= 0 or k <= 0 or iters < 0:
        raise ValueError(f"need m > 0, k > 0, iters >= 0, got {m}, {k}, {iters}")
    df = df.filter(F.col(vec_col).isNotNull())
    dim = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim is None:
        raise ValueError(
            "cannot train PQ codebooks on an empty corpus (no non-null vectors)"
        )
    dim = dim["d"]
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m} subspaces")
    sd = dim // m
    subs = F.sequence(F.lit(0), F.lit(m - 1))
    # (id, sub, subvec) rows: one slice per subspace, vectors cast to
    # double once so training and encoding arithmetic agree bit-for-bit.
    def _exploded(frame: DataFrame) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        return frame.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    subs,
                    lambda j: F.struct(
                        j.cast("int").alias("sub"),
                        F.slice(v, j * sd + 1, sd).alias("__sv"),
                    ),
                )
            ).alias("__e"),
        ).select(id_col, "__e.sub", "__e.__sv")

    hash_order = [F.xxhash64(F.col(id_col).cast("string")), F.col(id_col)]
    # TakeOrderedAndProject: distributed partial top-k, not a global sort.
    seeds = df.select(F.col(id_col), F.col(vec_col)).orderBy(*hash_order).limit(k)
    cents = (
        _exploded(
            seeds.withColumn(
                "__cell", F.row_number().over(Window.orderBy(*hash_order)) - 1
            ).select(F.col("__cell").alias(id_col), vec_col)
        )
        .select(
            "sub",
            F.col(id_col).cast("int").alias("cell"),
            F.col("__sv").alias("codevec"),
        )
        .localCheckpoint(eager=True)
    )
    slim = df.select(F.col(id_col), F.col(vec_col))
    v = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        # assignment IS encoding against the current codebook — reuse
        # the map-only numpy kernel (identical floor(d*1e9)-quantized
        # distances); no join, no m*k-fanout of scored rows. The
        # per-iteration codebook collect is model-sized (m*k rows).
        enc = pq_encode(slim, cents, vec_col, out_col="__codes")
        means = (
            enc.select(v.alias("__v"), F.posexplode("__codes").alias("sub", "cell"))
            .select(
                "sub",
                "cell",
                F.posexplode(
                    F.slice(F.col("__v"), F.col("sub") * sd + 1, F.lit(sd))
                ).alias("__p", "__sv"),
            )
            .groupBy("sub", "cell", "__p")
            .agg(F.avg("__sv").alias("__m"))
            .groupBy("sub", "cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__p"), F.col("__m")))
                ).alias("__pm")
            )
            .select(
                "sub",
                "cell",
                F.transform(F.col("__pm"), lambda s: s["__m"]).alias("codevec"),
            )
        )
        cents = (
            cents.select("sub", "cell", F.col("codevec").alias("__prev"))
            .join(means, on=["sub", "cell"], how="left")
            .select(
                "sub",
                "cell",
                F.coalesce(F.col("codevec"), F.col("__prev")).alias("codevec"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def _collect_codebooks(codebooks: DataFrame) -> tuple[int, int, list[list[list[float]]]]:
    """Collect the (m*k)-row codebook frame to nested driver lists —
    model-sized by construction (m*k*subdim doubles, e.g. 8 KiB for
    m=8, k=16, dim=64), the same driver-traffic class as a broadcast
    hint. Returns (m, k, table[sub][cell] = codevec)."""
    rows = codebooks.select("sub", "cell", "codevec").collect()
    if not rows:
        raise ValueError("empty PQ codebook frame")
    m = max(r["sub"] for r in rows) + 1
    k = max(r["cell"] for r in rows) + 1
    table: list[list[list[float] | None]] = [[None] * k for _ in range(m)]
    for r in rows:
        table[r["sub"]][r["cell"]] = [float(x) for x in r["codevec"]]
    for s in range(m):
        for c in range(k):
            if table[s][c] is None:
                raise ValueError(f"codebook missing (sub={s}, cell={c})")
    return m, k, table  # type: ignore[return-value]


def _lit_matrix(rows: list[list[float]]) -> Column:
    """k x subdim codebook literal as ONE parsed SQL expression —
    building it from nested F.array(F.lit(...)) Column trees costs a
    py4j round-trip per element (the round-2 LSH plan-construction
    lesson). repr() round-trips float64 exactly; the D suffix keeps
    Spark from parsing decimals."""
    body = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def _adc_dtable(table: list[list[list[float]]], vec_col: str) -> Column:
    """Per-row ADC distance table: m arrays of k squared-L2 distances
    from the row's subvectors to every codebook centroid. Computed as
    expressions on the (small) query side only."""
    m = len(table)
    sd = len(table[0][0])
    qv = F.col(vec_col).cast("array<double>")

    # NB: the subspace slice must be computed OUTSIDE the transform
    # lambda — a two-arg lambda there would be treated as
    # (element, index) by Spark's higher-order-function binding.
    def _qdists(j: int) -> Column:
        sub = F.slice(qv, j * sd + 1, sd)
        return F.transform(
            _lit_matrix(table[j]),
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )

    return F.array(*[_qdists(j) for j in range(m)])


def _adc_score(dtable_col: Column, codes_col: Column) -> Column:
    """Approximate squared L2 distance of one (query, code) pair: m
    table lookups + m adds, rounded to 6 dp for deterministic
    ordering."""
    return F.round(
        F.aggregate(
            F.zip_with(dtable_col, codes_col, lambda t, c: F.element_at(t, c + 1)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
        6,
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode each vector as its array of nearest-subspace-centroid ids
    (``m`` ints in [0, k)) — the PQ code. SHUFFLE-FREE: one map-only
    pass that preserves every other column.

    One Arrow-batched numpy kernel: the m*k*subdim distance tensor per
    batch in C loops. The SQL higher-order-function form evaluates an
    interpreted lambda per element (m*k*subdim ops PER ROW — same
    pathology the hyperplane-LSH plane dots hit,
    `hyperplane_lsh_buckets`), so numpy is the 100 TB path. The kernel
    accumulates over subdim sequentially in float64, then quantizes as
    ``floor(dist * 1e9)`` before the argmin (one IEEE multiply + floor,
    no decimal rounding mode: np.round is half-to-even while F.round
    is half-up). Ties take the lowest cell (numpy argmin returns the
    first match). Training calls this same kernel, so codes always
    reproduce the final training assignment (pinned by test). NULL
    vectors encode to NULL.
    """
    from pyspark.sql.functions import pandas_udf

    m, k, table = _collect_codebooks(codebooks)
    sd = len(table[0][0])
    cb = np.asarray(table, dtype=np.float64)  # (m, k, sd)

    @pandas_udf("array<int>")
    def _codes(vecs: pd.Series) -> pd.Series:
        ok = vecs.notna()
        if not ok.any():
            return pd.Series([None] * len(vecs))
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])
        x = mat.reshape(len(mat), m, sd)
        acc = np.zeros((len(mat), m, k), dtype=np.float64)
        for t in range(sd):
            d = x[:, :, None, t] - cb[None, :, :, t]
            acc += d * d
        codes = np.floor(acc * 1e9).argmin(axis=2).astype(np.int32)
        res: list = [None] * len(vecs)
        j = 0
        for i, flag in enumerate(ok.to_numpy()):
            if flag:
                res[i] = codes[j]
                j += 1
        return pd.Series(res)

    return df.withColumn(out_col, _codes(F.col(vec_col)))


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id: str = "query_id",
    codes_col: str = "pq_codes",
    rerank_with: DataFrame | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query precomputes
    an m*k table of squared L2 distances from its subvectors to every
    codebook centroid, and a corpus row's approximate distance is just
    m table lookups + m adds (`zip_with(dtable, codes)` + fold) — the
    ADC trick that makes PQ search memory- and compute-cheap at corpus
    scale. No corpus vector is ever touched.

    Physical shape mirrors `brute_force_topk`: queries (small side,
    with their distance tables attached as expression-computed columns)
    broadcast against the codes; the only shuffle is the per-query
    top-k window. Ties break by neighbor id.

    ``rerank_with``: optionally re-score the top ``k * rerank_factor``
    ADC candidates with EXACT cosine against a full-precision vector
    frame (id_col, vec_col) — candidate-sized join, restoring exact
    ordering among the survivors (the IVF+PQ refinement step).

    Corpus rows with NULL codes (NULL vectors encode to NULL) are not
    searchable and are excluded — a NULL adc_dist would otherwise sort
    NULLS FIRST and displace every real neighbor.

    Output: (query_id, neighbor_id, rank, adc_dist), or
    (query_id, neighbor_id, rank, cos_sim) when reranked.
    """
    m, kc, table = _collect_codebooks(codebooks)
    sd = len(table[0][0])
    dtable = _adc_dtable(table, vec_col)
    # mirror the corpus-side NULL-codes guard on the query side: a NULL
    # (or wrong-length) query vector yields an all-NULL distance table,
    # every adc_dist NULL, and NULLS FIRST would emit k arbitrary
    # id-ordered "neighbors" instead of no rows for that query.
    q = (
        queries.filter(
            F.col(vec_col).isNotNull() & (F.size(vec_col) == m * sd)
        )
        .select(F.col(id_col).alias(query_id), F.col(vec_col), dtable.alias("__dt"))
        .drop(vec_col)
    )
    scored = (
        corpus_codes.select(F.col(id_col).alias("neighbor_id"), F.col(codes_col))
        .filter(F.col(codes_col).isNotNull())
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn("adc_dist", _adc_score(F.col("__dt"), F.col(codes_col)))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    take = k if rerank_with is None else k * rerank_factor
    cands = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= take)
        .select(query_id, "neighbor_id", "rank", "adc_dist")
    )
    if rerank_with is None:
        return cands
    # attach the query vectors to the (skinny) candidate list only —
    # the scored/window shuffle never carries vector payloads
    qn = _with_norm(
        queries.select(F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec")),
        "__qvec",
        "__qn",
    )
    shortlist = cands.select(query_id, "neighbor_id").join(F.broadcast(qn), query_id)
    return _rerank_exact(shortlist, rerank_with, id_col, vec_col, query_id, k)


# ---------------------------------------------------------------------------
# Distributed PCA / whitening


def train_pca(
    df: DataFrame,
    vec_col: str,
    n_components: int,
    whiten: bool = False,
):
    """PCA over an embedding column, the 100 TB way: the executors
    accumulate ONE (d x d) partial second-moment matrix + sum vector
    per Arrow batch (a model-sized row each — for d=64 that's 32 KB,
    regardless of how many vectors the batch holds), the driver sums
    the partials and eigendecomposes the d x d covariance (d is the
    embedding dim — always driver-sized). The raw vectors are read in
    one scan and never shuffled at all.

    Uses: dimensionality reduction before ANN (smaller index, faster
    ADC), whitening for cosine-calibration, variance diagnostics.

    ``whiten`` folds 1/sqrt(eigenvalue) into the returned basis so
    `apply_pca` yields unit-variance components with no extra state.
    Eigenvector SIGN is fixed deterministically (largest-|coordinate|
    positive) so retrains on reordered data agree up to float noise.

    Returns ``(components, mean)``: components is a list of
    ``n_components`` rows (basis list[d], eigenvalue) sorted by
    descending eigenvalue; mean is the d-vector. Both are plain Python
    (model-sized) — feed them straight to `apply_pca`, or persist as a
    one-row parquet next to the index they serve.
    """
    d_row = df.select(F.size(F.col(vec_col)).alias("d")).filter(
        F.col("d").isNotNull()
    ).first()
    if d_row is None:
        raise ValueError("cannot train PCA on an empty/all-null corpus")
    d = d_row["d"]
    if not 1 <= n_components <= d:
        raise ValueError(f"n_components must be in [1, {d}], got {n_components}")

    def _partials(batches):
        for pdf in batches:
            vecs = pdf["v"].tolist()
            if not vecs:
                continue
            V = np.asarray(vecs, dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(V)],
                    "s": [V.sum(axis=0).tolist()],
                    "g": [(V.T @ V).ravel().tolist()],
                }
            )

    # ragged rows (wrong-length vectors) would turn the batch into an
    # object array and crash the Gram kernel — drop them here, the same
    # contract the ANN tier uses
    parts = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == d))
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .mapInPandas(_partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError(f"need >= 2 vectors to estimate covariance, got {n}")
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in parts:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = []
    for idx in order:
        vec = evecs[:, idx]
        if vec[np.argmax(np.abs(vec))] < 0:  # deterministic sign
            vec = -vec
        ev = float(max(evals[idx], 0.0))
        if whiten:
            vec = vec / np.sqrt(ev + 1e-12)
        comps.append({"basis": vec.tolist(), "eigenvalue": ev})
    return comps, mean.tolist()


def apply_pca(
    df: DataFrame,
    vec_col: str,
    components,
    mean,
    out_col: str = "pca",
) -> DataFrame:
    """Project the embedding column onto a trained PCA basis:
    out[i] = basis_i . (v - mean). Pure expression — the basis and
    mean are literal arrays (one parsed SQL string, the py4j
    plan-size lesson), the projection is transform+aggregate inside
    whole-stage codegen, no Python and no shuffle. NULL vectors
    project to NULL."""
    basis = _lit_matrix([c["basis"] for c in components])
    mean_lit = F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in mean) + ")"
    )
    v = F.col(vec_col).cast("array<double>")
    centered = F.zip_with(v, mean_lit, lambda a, b: a - b)
    proj = F.transform(
        basis,
        lambda row: F.aggregate(
            F.zip_with(row, centered, lambda b, x: b * x),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ),
    )
    return df.withColumn(
        out_col, F.when(F.col(vec_col).isNotNull(), proj)
    )


def diverse_topk(
    corpus: DataFrame,
    query_vec,
    id_col: str,
    vec_col: str,
    k: int = 10,
    lam: float = 0.7,
    pool: int = 200,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) top-k:
    greedily pick documents that are relevant to the query BUT
    dissimilar to what's already picked —
    ``score = lam * cos(query, d) - (1 - lam) * max cos(selected, d)``.
    The retrieval twin of semantic dedup: a plain top-k returns one
    cluster's near-duplicates k times; MMR spends the budget across
    clusters.

    Scale shape: one distributed pass prunes the corpus to the
    ``pool`` most query-relevant candidates (TakeOrderedAndProject —
    no global sort), then the greedy loop runs k rounds over the
    POOL on the driver with numpy (pool x dim floats — model-sized;
    the greedy recurrence is inherently sequential, so doing it
    driver-side on the pruned pool is the honest plan at any corpus
    size). Deterministic: ties break on id.

    Output: (rank long, id, mmr_score double r6) — rank 1..k in
    selection order.
    """
    import numpy as np

    if not 0 <= lam <= 1:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k <= 0 or pool < k:
        raise ValueError(f"need 0 < k <= pool, got k={k}, pool={pool}")
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn == 0:
        raise ValueError("query vector has zero norm")

    qlit = F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in q) + ")"
    )
    sim = cosine(F.col(vec_col).cast("array<double>"), qlit)
    # result schema follows the corpus id type (string/uuid ids are the
    # norm in crawl corpora); ragged vectors are dropped up front — a
    # wrong-length embedding in the pool would crash the numpy kernel
    id_type = dict(corpus.dtypes)[id_col]
    out_schema = f"rank long, {id_col} {id_type}, mmr_score double"
    cand = (
        corpus.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == len(q))
        )
        .select(F.col(id_col), F.col(vec_col), F.round(sim, 9).alias("__rel"))
        .orderBy(F.col("__rel").desc(), F.col(id_col).asc())
        .limit(pool)
        .collect()
    )
    if not cand:
        return corpus.sparkSession.createDataFrame([], out_schema)
    ids = [r[id_col] for r in cand]
    rel = np.array([r["__rel"] for r in cand])
    V = np.asarray([r[vec_col] for r in cand], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    U = V / norms[:, None]

    selected: list[int] = []
    max_sel_sim = np.full(len(ids), -np.inf)
    picked = np.zeros(len(ids), dtype=bool)
    out_rows = []
    for rank in range(1, min(k, len(ids)) + 1):
        if selected:
            score = lam * rel - (1 - lam) * max_sel_sim
        else:
            score = lam * rel
        score = np.where(picked, -np.inf, score)
        # ties break on smallest id: stable argmax over (score, -id)
        best = min(
            (i for i in range(len(ids)) if not picked[i]),
            key=lambda i: (-score[i], ids[i]),
        )
        picked[best] = True
        selected.append(best)
        out_rows.append((rank, ids[best], round(float(score[best]), 6)))
        sims = U @ U[best]
        max_sel_sim = np.maximum(max_sel_sim, sims)
    return corpus.sparkSession.createDataFrame(out_rows, out_schema)


def embedding_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-dimension centroid drift between two embedding corpora —
    the model-ops check before mixing corpus versions or swapping an
    encoder: if version B's centroid moved, every cosine threshold
    tuned on A (near-dup cutoffs, IVF cell boundaries, semantic-screen
    thresholds) silently means something else on B.

    One posexplode + per-dimension average per side (partial-agg
    shuffles carry dim-count keys, never vectors), full-outer joined
    on dimension so mismatched dimensionalities surface as NULL means
    instead of being silently dropped. Output: (dim, mean_a, mean_b,
    abs_shift) rounded to ``round_dp``, one row per dimension —
    centroid cosine or L2 shift are one aggregation over this frame.
    """

    def centroid(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.posexplode(F.col(vec_col)).alias("dim", "__v"))
            .groupBy("dim")
            .agg(F.avg("__v").alias(out))
        )
    a = centroid(df_a, "__ma")
    b = centroid(df_b, "__mb")
    return (
        a.join(b, on="dim", how="full_outer")
        .select(
            "dim",
            F.round("__ma", round_dp).alias("mean_a"),
            F.round("__mb", round_dp).alias("mean_b"),
            F.round(F.abs(F.col("__ma") - F.col("__mb")), round_dp).alias(
                "abs_shift"
            ),
        )
    )
