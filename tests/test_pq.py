"""Product-quantization tier: training determinism, shuffle-free
encoding, ADC correctness vs a pure-numpy reference, and recall vs the
exact brute-force baseline (reference repo has no vector search — this
is extension tier; paper: Jegou et al. 2011)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.similarity import (
    brute_force_topk,
    normalize_embeddings,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)

SF = "/root/testdata/sf0.01"
# 16 subspaces x 32 centroids = 8-byte codes for 64-dim vectors (64x
# smaller than float64); measured on this corpus: ADC recall@10 0.47,
# rerank 0.87 vs exact brute force.
M, K = 16, 32


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    return normalize_embeddings(df, "embedding").localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def codebooks(spark, emb):
    return train_pq_codebooks(emb, "vec_id", "embedding", m=M, k=K, iters=4)


@pytest.fixture(scope="module")
def codes(emb, codebooks):
    return pq_encode(emb, codebooks, "embedding").localCheckpoint(eager=True)


def test_codebook_shape_and_determinism(spark, emb, codebooks):
    rows = codebooks.collect()
    assert len(rows) == M * K
    dims = {len(r["codevec"]) for r in rows}
    assert dims == {64 // M}
    again = train_pq_codebooks(emb, "vec_id", "embedding", m=M, k=K, iters=4)
    a = sorted((r["sub"], r["cell"], tuple(round(x, 9) for x in r["codevec"]))
               for r in codebooks.collect())
    b = sorted((r["sub"], r["cell"], tuple(round(x, 9) for x in r["codevec"]))
               for r in again.collect())
    assert a == b


def test_encode_codes_shape_and_plan(emb, codebooks):
    enc = pq_encode(emb, codebooks, "embedding")
    rows = enc.select("vec_id", "pq_codes").collect()
    assert all(len(r["pq_codes"]) == M for r in rows)
    assert all(0 <= c < K for r in rows for c in r["pq_codes"])
    # encoding must be map-only: no Exchange in the plan
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # every original column survives
    assert set(emb.columns) <= set(enc.columns)


def test_encode_matches_numpy_argmin(emb, codebooks, codes):
    tab = {(r["sub"], r["cell"]): np.array(r["codevec"]) for r in codebooks.collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    got = {r["vec_id"]: list(r["pq_codes"]) for r in codes.collect()}
    sd = 64 // M
    for vid, v in vecs.items():
        want = []
        for j in range(M):
            sub = v[j * sd:(j + 1) * sd]
            d = np.array([
                round(float(((sub - tab[(j, c)]) ** 2).sum()), 9) for c in range(K)
            ])
            want.append(int(np.argmin(d)))  # argmin takes first tie = lowest cell
        assert got[vid] == want, vid


def test_adc_distance_matches_numpy(spark, emb, codebooks, codes):
    queries = emb.orderBy("vec_id").limit(3)
    out = pq_topk(codes, queries, codebooks, "vec_id", "embedding", k=500).collect()
    tab = {(r["sub"], r["cell"]): np.array(r["codevec"]) for r in codebooks.collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    cods = {r["vec_id"]: list(r["pq_codes"]) for r in codes.collect()}
    sd = 64 // M
    for r in out:
        q = vecs[r["query_id"]]
        # sequential float64 fold in subspace order = Spark's aggregate
        acc = 0.0
        for j, c in enumerate(cods[r["neighbor_id"]]):
            sub = q[j * sd:(j + 1) * sd]
            acc += float(((sub - tab[(j, c)]) ** 2).sum())
        assert abs(r["adc_dist"] - round(acc, 6)) <= 1e-6, (r, acc)


def test_pq_recall_vs_brute_force(emb, codebooks, codes):
    queries = emb.orderBy("vec_id").limit(20)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=10)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = pq_topk(codes, queries, codebooks, "vec_id", "embedding", k=10)
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = np.mean([len(truth[q] & got.get(q, set())) / 10 for q in truth])
    assert recall >= 0.40, recall  # 8-byte codes on 64-dim vectors

    rer = pq_topk(
        codes, queries, codebooks, "vec_id", "embedding", k=10,
        rerank_with=emb, rerank_factor=4,
    )
    gotr = {}
    for r in rer.collect():
        gotr.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall_r = np.mean([len(truth[q] & gotr.get(q, set())) / 10 for q in truth])
    assert recall_r >= recall, (recall_r, recall)
    assert recall_r >= 0.75, recall_r


def test_rerank_cos_is_exact(emb, codebooks, codes):
    """Reranked cos_sim must bit-equal the brute-force cosine for the
    same (query, neighbor) pair."""
    queries = emb.orderBy("vec_id").limit(5)
    exact = {(r["query_id"], r["neighbor_id"]): r["cos_sim"]
             for r in brute_force_topk(emb, queries, "vec_id", "embedding", k=50).collect()}
    rer = pq_topk(codes, queries, codebooks, "vec_id", "embedding", k=10,
                  rerank_with=emb, rerank_factor=4).collect()
    checked = 0
    for r in rer:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["cos_sim"] == exact[key], key
            checked += 1
    assert checked > 0


def test_train_validates(spark, emb):
    with pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(emb, "vec_id", "embedding", m=7, k=4, iters=1)
    with pytest.raises(ValueError, match="need m"):
        train_pq_codebooks(emb, "vec_id", "embedding", m=0, k=4)
    empty = emb.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        train_pq_codebooks(empty, "vec_id", "embedding", m=8, k=4, iters=1)


def test_encode_methods_agree(emb, codebooks, codes):
    """The numpy kernel's codes equal a plain-Python reference built
    the way the kernel defines a code: squared distance per subspace
    summed in subdim order, then floor(d*1e9), then the first argmin
    (the lowest cell on a tie)."""
    tab = {(r["sub"], r["cell"]): r["codevec"] for r in codebooks.collect()}
    sd = 64 // M
    got = {r["vec_id"]: list(r["pq_codes"]) for r in codes.collect()}
    for r in emb.collect():
        v = [float(x) for x in r["embedding"]]
        want = []
        for j in range(M):
            sub = v[j * sd:(j + 1) * sd]
            q = []
            for c in range(K):
                d = 0.0
                for x, y in zip(sub, tab[(j, c)]):
                    d += (x - y) * (x - y)
                q.append(math.floor(d * 1e9))
            want.append(q.index(min(q)))
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_encode_null_vectors_both_methods(spark, codebooks):
    df = spark.createDataFrame(
        [(1, [float(i % 7) for i in range(64)]), (2, None)],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r["vec_id"]: r["pq_codes"]
            for r in pq_encode(df, codebooks, "embedding").collect()}
    assert rows[2] is None
    assert len(rows[1]) == M and all(c is not None for c in rows[1])


def test_pq_topk_null_query_excluded(spark, codebooks, codes):
    """A query with a NULL (or wrong-length) vector must emit NO rows —
    not k arbitrary id-ordered 'neighbors' via all-NULL adc_dist."""
    queries = spark.createDataFrame(
        [
            (900001, [float(i % 7) / 7.0 for i in range(64)]),
            (900002, None),
            (900003, [1.0, 2.0]),  # wrong length
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = pq_topk(codes, queries, codebooks, "vec_id", "embedding", k=5)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q.get(900001, [])) == 5
    assert 900002 not in by_q and 900003 not in by_q


def test_ivfpq_index_roundtrip(spark, emb, codebooks, tmp_path):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        add_to_ivf_index,
        search_ivf_index,
        train_centroids,
        write_ivf_index,
    )

    path = str(tmp_path / "ivfpq")
    cents = train_centroids(emb, "vec_id", "embedding", k=8, iters=3)
    cents = cents.withColumnRenamed("cell", "vec_id")
    write_ivf_index(emb, cents, path, "vec_id", "embedding",
                    pq_codebooks=codebooks)

    # cells carry codes only — no vector column anywhere in the layout
    cells = spark.read.parquet(f"{path}/cells")
    assert "pq_codes" in cells.columns and "embedding" not in cells.columns
    assert cells.count() == emb.count()

    queries = emb.orderBy("vec_id").limit(10)
    adc = search_ivf_index(spark, path, queries, None, "vec_id",
                           "embedding", k=5, nprobe=2)
    got = adc.collect()
    assert {r["query_id"] for r in got} == {r["vec_id"] for r in queries.collect()}
    assert "adc_dist" in adc.columns
    # reranked search returns exact cosine, bit-equal to brute force on
    # the same pair
    rer = search_ivf_index(spark, path, queries, None, "vec_id", "embedding",
                           k=5, nprobe=2, rerank_with=emb, rerank_factor=4)
    exact = {(r["query_id"], r["neighbor_id"]): r["cos_sim"]
             for r in brute_force_topk(emb, queries, "vec_id", "embedding",
                                       k=100).collect()}
    checked = 0
    for r in rer.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["cos_sim"] == exact[key]
            checked += 1
    assert checked > 10

    # incremental append encodes with the persisted codebooks
    batch = emb.limit(7).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    add_to_ivf_index(spark, path, batch, "vec_id", "embedding")
    after = spark.read.parquet(f"{path}/cells")
    assert after.count() == emb.count() + 7
    assert "pq_codes" in after.columns and "embedding" not in after.columns

    # searching still works and can see appended ids
    q2 = emb.limit(1)
    hits = search_ivf_index(spark, path, q2, None, "vec_id", "embedding",
                            k=2000, nprobe=8)
    ids = {r["neighbor_id"] for r in hits.collect()}
    assert any(i >= 1_000_000 for i in ids)


def test_ivfpq_validations(spark, emb, codebooks):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        train_centroids,
        write_ivf_index,
    )

    cents = train_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    cents = cents.withColumnRenamed("cell", "vec_id")
    with pytest.raises(ValueError, match="mutually exclusive"):
        write_ivf_index(emb, cents, "/tmp/never", "vec_id", "embedding",
                        quantize=True, pq_codebooks=codebooks)


def test_null_coded_rows_never_rank(spark, emb, codebooks, codes):
    """A NULL-coded corpus row (null vector) must not appear in any
    result — NULL adc_dist would otherwise sort NULLS FIRST and
    displace every real neighbor (review-confirmed bug)."""
    nullrow = spark.createDataFrame(
        [(999_999, None, None)],
        "vec_id bigint, embedding array<double>, pq_codes array<int>",
    )
    poisoned = codes.select("vec_id", "embedding", "pq_codes").unionByName(nullrow)
    queries = emb.orderBy("vec_id").limit(3)
    out = pq_topk(poisoned, queries, codebooks, "vec_id", "embedding", k=5)
    rows = out.collect()
    assert all(r["neighbor_id"] != 999_999 for r in rows)
    assert all(r["adc_dist"] is not None for r in rows)
    assert len(rows) == 15


def test_train_drops_null_vectors(spark, emb):
    """Null vectors among the hash-ordered seeds must not crash
    training or produce NULL centroids (review-confirmed bug)."""
    nulls = spark.createDataFrame(
        [(10_000_000 + i, None) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    mixed = emb.select("vec_id", "embedding").unionByName(nulls)
    cb = train_pq_codebooks(mixed, "vec_id", "embedding", m=8, k=4, iters=1)
    rows = cb.collect()
    assert len(rows) == 8 * 4
    assert all(r["codevec"] is not None for r in rows)
    # all-null corpus -> clear error, not a TypeError
    with pytest.raises(ValueError, match="empty"):
        train_pq_codebooks(nulls, "vec_id", "embedding", m=8, k=4, iters=1)


# ---------------------------------------------------------------------------
# PCA


def _pca_corpus(spark, n=600, d=16, seed=3):
    import numpy as np

    rng = np.random.RandomState(seed)
    # anisotropic: variance concentrated in a few known directions
    basis = np.linalg.qr(rng.normal(size=(d, d)))[0]
    scales = np.array([10.0, 5.0, 2.0] + [0.3] * (d - 3))
    X = rng.normal(size=(n, d)) * scales @ basis.T + rng.normal(size=d)
    rows = [(i, x.tolist()) for i, x in enumerate(X)]
    return (
        spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"),
        X,
    )


def test_train_pca_matches_numpy(spark):
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import train_pca

    df, X = _pca_corpus(spark)
    comps, mean = train_pca(df.repartition(7), "embedding", n_components=4)
    np.testing.assert_allclose(mean, X.mean(axis=0), atol=1e-9)
    cov = np.cov(X.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = np.argsort(evals)[::-1][:4]
    for c, idx in zip(comps, top):
        assert abs(c["eigenvalue"] - evals[idx]) / evals[idx] < 1e-9
        # same direction up to sign
        assert abs(abs(np.dot(c["basis"], evecs[:, idx])) - 1.0) < 1e-9
    # eigenvalues descending and the top-3 match the planted scales^2
    got = [c["eigenvalue"] for c in comps]
    assert got == sorted(got, reverse=True)
    # repartitioning must not change the model beyond float noise
    comps2, mean2 = train_pca(df.repartition(3), "embedding", n_components=4)
    for a, b in zip(comps, comps2):
        assert np.allclose(a["basis"], b["basis"], atol=1e-8)


def test_apply_pca_projection_and_whitening(spark):
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        apply_pca,
        train_pca,
    )

    df, X = _pca_corpus(spark)
    comps, mean = train_pca(df, "embedding", n_components=3)
    out = apply_pca(df, "embedding", comps, mean).orderBy("vec_id").collect()
    B = np.array([c["basis"] for c in comps])
    expected = (X - np.array(mean)) @ B.T
    got = np.array([r["pca"] for r in out])
    np.testing.assert_allclose(got, expected, atol=1e-9)

    # whitened projection: per-component variance ~= 1
    wcomps, wmean = train_pca(df, "embedding", n_components=3, whiten=True)
    wgot = np.array(
        [r["pca"] for r in apply_pca(df, "embedding", wcomps, wmean).orderBy("vec_id").collect()]
    )
    np.testing.assert_allclose(wgot.var(axis=0), np.ones(3), rtol=0.01)

    # plan stays codegen: no Python eval, no shuffle in the projection
    plan = (
        apply_pca(df, "embedding", comps, mean)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_pca_nulls_and_validation(spark):
    import pytest as _pytest

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        apply_pca,
        train_pca,
    )

    df, _ = _pca_corpus(spark, n=50, d=8)
    with_null = df.unionByName(
        spark.createDataFrame([(999, None)], "vec_id bigint, embedding array<double>")
    )
    comps, mean = train_pca(with_null, "embedding", n_components=2)
    row = (
        apply_pca(with_null, "embedding", comps, mean)
        .filter("vec_id = 999")
        .first()
    )
    assert row["pca"] is None
    with _pytest.raises(ValueError, match="n_components"):
        train_pca(df, "embedding", 9)
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="empty"):
        train_pca(empty, "embedding", 2)


def test_pca_reduced_ann_preserves_recall(spark):
    """The reason train_pca exists in this engine: search a 4x-smaller
    projected space and keep most of the exact top-k. Data has low
    intrinsic dimension (8 latent dims + noise in d=32), so 8 PCA
    components capture nearly all variance."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        apply_pca,
        brute_force_topk,
        train_pca,
    )

    rng = np.random.RandomState(5)
    latent = rng.normal(size=(500, 8))
    lift = rng.normal(size=(8, 32))
    X = latent @ lift + 0.01 * rng.normal(size=(500, 32))
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "vec_id bigint, embedding array<double>",
    )
    comps, mean = train_pca(df, "embedding", n_components=8)
    var_total = np.trace(np.cov(X.T, bias=True))
    assert sum(c["eigenvalue"] for c in comps) / var_total > 0.99

    reduced = apply_pca(df, "embedding", comps, mean, out_col="emb8").select(
        "vec_id", F.col("emb8").alias("embedding")
    )
    queries_full = df.filter(F.col("vec_id") < 10)
    queries_red = reduced.filter(F.col("vec_id") < 10)

    def topk(corpus, qs):
        out = brute_force_topk(corpus, qs, "vec_id", "embedding", k=10)
        hits = {}
        for r in out.collect():
            hits.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return hits

    exact = topk(df, queries_full)
    red = topk(reduced, queries_red)
    recalls = [
        len(exact[q] & red[q]) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_pq_rerank_pool_covers_exact_topk(spark, sf_dir):
    """r7 oracle-conversion pin: pq_ann_q's graded contract (output ==
    DuckDB brute-force top-10) holds iff the ADC candidate pool covers
    every true top-10 neighbor. Measure the worst ADC rank of a true
    neighbor on the graded corpus and assert it sits safely inside the
    k*30 rerank pool (measured 215 of 500 at sf0.01) — a codebook or
    encoding regression that degrades ADC past the pool surfaces here
    before it breaks the driver row."""
    import collections

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        brute_force_topk,
        normalize_embeddings,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = normalize_embeddings(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
            8, "vec_id"
        ),
        "embedding",
    ).localCheckpoint(eager=True)
    cb = train_pq_codebooks(emb, "vec_id", "embedding", m=16, k=32, iters=3)
    codes = pq_encode(emb, cb, "embedding")
    queries = emb.orderBy("vec_id").limit(10)
    exact = brute_force_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=10)
    want = collections.defaultdict(set)
    for r in exact.collect():
        want[r["query_id"]].add(r["neighbor_id"])
    n_corpus = emb.count()
    pool = pq_topk(codes, queries, cb, "vec_id", "embedding", k=n_corpus)
    adc_rank = collections.defaultdict(dict)
    for r in pool.collect():
        adc_rank[r["query_id"]][r["neighbor_id"]] = r["rank"]
    worst = max(
        adc_rank[q].get(n, 10**9) for q, ns in want.items() for n in ns
    )
    # pq_ann_q's pool rule: max(k*30, ceil(25% of corpus)) — assert it
    # covers the measured worst rank with >=1.3x headroom (measured
    # ladder: 215/500 at sf0.01, 357/2000 at sf0.1; an r8 sf0.1 parity
    # sweep caught a 6% rule missing rank 357)
    pool_rows = max(10 * 30, -(-n_corpus // 4))
    assert worst <= pool_rows / 1.3, (
        f"worst ADC rank of a true neighbor is {worst} of {n_corpus}; "
        f"the max(k*30, n/4)={pool_rows} rerank pool no longer covers "
        "the exact top-10 with headroom - pq_ann_q's brute-force "
        "oracle contract is at risk"
    )
