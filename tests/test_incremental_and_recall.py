"""Incremental checkpointed ingestion + ANN recall measurements."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

from udacity_data_engineering_capstone_project_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)
from udacity_data_engineering_capstone_project_spark.sources.readers import read_table
from udacity_data_engineering_capstone_project_spark.streaming.events import (
    incremental_ingest,
)


def test_incremental_ingest_processes_only_new_files(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    src = "/root/testdata/sf0.001/nation.parquet"
    shutil.copy(src, landing / "batch1.parquet")

    n1 = incremental_ingest(spark, str(landing), ckpt, out)
    assert n1 == 25
    assert spark.read.parquet(out).count() == 25

    # second run with NO new files: nothing processed
    n2 = incremental_ingest(spark, str(landing), ckpt, out)
    assert n2 == 0

    # a new file lands: only its rows are processed
    shutil.copy(src, landing / "batch2.parquet")
    n3 = incremental_ingest(spark, str(landing), ckpt, out)
    assert n3 == 25
    assert spark.read.parquet(out).count() == 50


def test_ivf_multiprobe_recall_improves(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    queries = emb.filter(F.col("vec_id") < 20)

    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=10)
    truth = {
        (r["query_id"], r["neighbor_id"]) for r in exact.collect()
    }

    def recall(nprobe: int) -> float:
        approx = ivf_topk(
            emb, queries, centroids, "vec_id", "embedding", k=10, nprobe=nprobe
        )
        hits = {
            (r["query_id"], r["neighbor_id"]) for r in approx.collect()
        } & truth
        return len(hits) / len(truth)

    r1, r2, r3 = recall(1), recall(2), recall(3)
    # each extra probe must strictly recover boundary recall on this
    # corpus (measured 0.25 / 0.40 / 0.515 at sf0.001)
    assert r3 > r2 > r1 >= 0.05, f"recall not improving: {r1} {r2} {r3}"


def test_ivf_corpus_placement_has_no_window(spark, sf_dir):
    # nprobe=1 placement must be a partial-aggregatable min_by, not a
    # row_number window over the full n*k scored corpus
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        assign_cells,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    plan = (
        assign_cells(emb, centroids, "vec_id", "embedding")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "partial_min_by" in plan


def test_incremental_dedup_against_persisted_index(spark, tmp_path):
    """Index a corpus once, then screen a new batch against the stored
    state: exact copies, near copies (edited tail), and novel docs must
    each be classified correctly — without touching the corpus rows."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        dedup_against_index,
        write_dedup_index,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away "
    corpus = spark.createDataFrame(
        [(i, base * 4 + f"tail number {i} " * 3) for i in range(20)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "dedup_index")
    write_dedup_index(corpus, idx, "doc_id", "text")

    new_batch = spark.createDataFrame(
        [
            (100, base * 4 + "tail number 7 " * 3),        # exact copy of doc 7
            (101, base * 4 + "tail number 7 " * 2 + "x "), # near copy
            (102, "completely different content about spark and parquet "* 6),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup_against_index(
            spark, idx, new_batch, "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert out[100]["is_exact_dup"] and out[100]["dup_of"] == 7
    assert not out[101]["is_exact_dup"]
    assert out[101]["dup_of"] == 7 and out[101]["est_jaccard"] >= 0.7
    assert not out[102]["is_exact_dup"] and out[102]["dup_of"] is None

    # the index stores its hash parameters; screening with different
    # ones must raise instead of silently mis-estimating jaccard
    import pytest

    with pytest.raises(ValueError, match="was built with"):
        dedup_against_index(
            spark, idx, new_batch, "doc_id", "text", num_hashes=32, bands=4
        )

    # a corrupt/unreadable _meta must PROPAGATE (a transient IO failure
    # silently disabling validation would revert to the unsafe path) —
    # only a genuinely missing _meta dir skips validation
    import shutil

    shutil.rmtree(f"{idx}/_meta")
    with open(f"{idx}/_meta", "w") as fh:
        fh.write("not a parquet directory")
    with pytest.raises(Exception):
        dedup_against_index(spark, idx, new_batch, "doc_id", "text")


def test_train_centroids_recovers_separated_clusters(spark):
    """Three well-separated gaussian-ish clusters in 8-dim: Lloyd's
    must place one trained centroid near each true center, and IVF
    assignment under the trained quantizer must group cluster members
    together."""
    import math

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        assign_cells,
        train_centroids,
    )

    centers = [
        [10.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 10.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 10.0, 0, 0, 0, 0, 0],
    ]
    rows = []
    for i in range(300):
        c = centers[i % 3]
        # deterministic jitter, small relative to separation
        jit = [((i * 31 + j * 17) % 13 - 6) / 10.0 for j in range(8)]
        rows.append((i, [c[j] + jit[j] for j in range(8)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    trained = train_centroids(df, "vec_id", "embedding", k=3, iters=4)
    cents = {r["cell"]: r["embedding"] for r in trained.collect()}
    assert len(cents) == 3

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    # every true center has a trained centroid at cosine > 0.95
    for c in centers:
        assert max(cos(c, v) for v in cents.values()) > 0.95
    # assignment purity: members of one true cluster land in one cell
    assigned = assign_cells(df, trained.withColumnRenamed("cell", "vec_id"),
                            "vec_id", "embedding")
    by_true = {}
    for r in assigned.collect():
        by_true.setdefault(r["vec_id"] % 3, set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in by_true.values())
    # determinism: same data -> same centroids
    again = {r["cell"]: r["embedding"] for r in
             train_centroids(df, "vec_id", "embedding", k=3, iters=4).collect()}
    assert set(again) == set(cents)
    for cell, v in cents.items():
        assert all(abs(a - b) < 1e-9 for a, b in zip(v, again[cell]))


def test_int8_quantization_preserves_cosine_ranking(spark):
    """4x-compressed embeddings must reproduce brute-force top-k almost
    exactly: dequantized cosine within 1% of the true value, and the
    top-5 neighbor sets of the first queries essentially unchanged."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        brute_force_topk,
        dequantize_embeddings_int8,
        quantize_embeddings_int8,
    )
    from udacity_data_engineering_capstone_project_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    rt = dequantize_embeddings_int8(
        quantize_embeddings_int8(emb, "embedding"), "qvec", "deq"
    ).select("vec_id", F.col("deq").alias("embedding"))

    queries = emb.filter(F.col("vec_id") < 3)
    true_hits = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    q_hits = brute_force_topk(rt, queries, "vec_id", "embedding", k=5)
    t = {(r["query_id"], r["neighbor_id"]) for r in true_hits.collect()}
    q = {(r["query_id"], r["neighbor_id"]) for r in q_hits.collect()}
    # allow at most one boundary swap across 15 (query, neighbor) pairs
    assert len(t & q) >= len(t) - 1, (t - q, q - t)

    # component-level error bound: |x - deq(x)| <= scale/2 = max|x|/254
    err = (
        dequantize_embeddings_int8(
            quantize_embeddings_int8(emb, "embedding"), "qvec", "deq"
        )
        .select(
            F.max(
                F.array_max(
                    F.zip_with(
                        "embedding", "deq", lambda a, b: F.abs(a - b)
                    )
                )
                / F.greatest(
                    F.array_max(F.transform("embedding", lambda x: F.abs(x))),
                    F.lit(1e-30),
                )
            ).alias("rel")
        )
        .collect()[0]["rel"]
    )
    assert err <= 0.5 / 127 + 1e-9


def test_normalize_embeddings_matryoshka(spark):
    """Truncation keeps the prefix; renormalization yields unit L2
    norm matching a numpy recompute; zero vectors pass through."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        normalize_embeddings,
    )

    vecs = [
        (1, [3.0, 4.0, 0.0, 12.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [1.0, -2.0, 2.0, 4.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "vec"])
    out = {r["vec_id"]: r["n"] for r in
           normalize_embeddings(df, "vec", dim=2, out_col="n").collect()}
    for vid, full in vecs:
        want = np.array(full[:2])
        nrm = np.linalg.norm(want)
        want = want / nrm if nrm > 0 else want
        assert np.allclose(out[vid], want, atol=1e-12), (vid, out[vid])
    assert out[2] == [0.0, 0.0]
    # no truncation: unit norms for nonzero vectors
    full_out = {r["vec_id"]: r["vec"] for r in
                normalize_embeddings(df, "vec").collect()}
    assert abs(np.linalg.norm(full_out[1]) - 1.0) < 1e-12


def test_semantic_dedup_within_cluster(spark):
    """SemDeDup on crafted clusters: near-identical vectors inside one
    semantic cluster collapse onto the lowest id; distinct-meaning
    vectors survive even when clusters share members' magnitudes;
    nothing pairs across clusters."""
    import math

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        semantic_dedup,
        train_centroids,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = (
        # cluster A around theta=0: ids 1,2,3 are paraphrase-grade
        # near-dups (<= 2 deg apart), id 4 is same topic but distinct
        [(1, unit(0.00)), (2, unit(0.02)), (3, unit(0.03)), (4, unit(0.55))]
        # cluster B around theta=pi/2: 11,12 near-dup, 13 distinct
        + [(11, unit(1.57)), (12, unit(1.59)), (13, unit(2.10))]
    )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_centroids(df, "vec_id", "embedding", k=2, iters=8)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, cents, "vec_id", "embedding", threshold=0.999
        ).collect()
    }
    # 2 and 3 collapse onto 1; 12 onto 11; 4/13 survive; no cross-cluster rows
    assert set(out) == {2, 3, 12}
    assert out[2]["dup_of"] == 1 and out[3]["dup_of"] == 1
    assert out[12]["dup_of"] == 11
    assert all(r["cos_sim"] >= 0.999 for r in out.values())

    # deterministic: identical invocation, identical rows
    again = {
        r["vec_id"]: r["dup_of"]
        for r in semantic_dedup(
            df, cents, "vec_id", "embedding", threshold=0.999
        ).collect()
    }
    assert again == {k: v["dup_of"] for k, v in out.items()}


def test_stream_dedup_against_index_grows_state(spark, tmp_path):
    """Streaming incremental dedup: batch 1's NOVEL rows must be part
    of the index batch 2 screens against; verdicts are written per
    batch; within-batch identical rows admit once; replay-shaped
    re-runs with no new files process nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        stream_dedup_against_index,
        write_dedup_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sailors chart a course across the winter sea toward harbors "
        "that only appear on maps drawn by cartographers long dead"
    )
    novel_a = (
        "entirely different material about distributed query engines "
        "partitioning shuffle exchanges and the adaptive planner that "
        "rewrites joins at runtime when statistics arrive late again"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, base.replace("winter", "summer") + " extra tail"),
         (3, "third seed document with its own words forever unique")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    write_dedup_index(corpus, idx, "doc_id", "text")

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "text": [r[1] for r in rows],
                }
            ),
            str(landing / name),
        )

    def run():
        stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(
            str(landing)
        )
        return stream_dedup_against_index(
            spark, stream, idx, out, ckpt, "doc_id", "text"
        )

    near_base = base.replace("sailors", "pirates")
    drop("d1.parquet", [(100, base), (101, near_base), (102, novel_a), (103, novel_a)])
    assert run() == 1
    v1 = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert v1[100]["is_exact_dup"] and v1[100]["dup_of"] == 1
    assert not v1[101]["is_exact_dup"] and v1[101]["dup_of"] == 1
    assert v1[101]["est_jaccard"] >= 0.8
    assert v1[102]["dup_of"] is None and v1[103]["dup_of"] is None

    # batch 2: exact and near copies of batch 1's novel text must hit
    # the index entry admitted in batch 1 (102, not its twin 103).
    # Simulate the crash-after-append replay hazard first: the state
    # append for batch 1 lands (as if the process died between the
    # append and the checkpoint commit) BEFORE the batch runs — the
    # replayed batch must not screen against its own rows (it would
    # flag them as dups of themselves and overwrite the partition
    # empty, losing them from the index).
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_to_dedup_index,
    )

    d2_rows = [(200, novel_a), (201, novel_a.replace("late", "soon"))]
    drop("d2.parquet", d2_rows)
    crashed = spark.createDataFrame(d2_rows, ["doc_id", "text"])
    append_to_dedup_index(spark, idx, crashed, "doc_id", "text", 1)
    assert run() == 1
    v2 = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert v2[200]["is_exact_dup"] and v2[200]["dup_of"] == 102
    assert not v2[201]["is_exact_dup"] and v2[201]["dup_of"] == 102
    assert v2[201]["est_jaccard"] >= 0.8

    # the within-batch twin 103 must NOT be in the index (admit-once)
    fps = spark.read.parquet(f"{idx}/fingerprints")
    admitted = {r["doc_id"] for r in fps.collect()}
    assert 102 in admitted and 103 not in admitted and 200 not in admitted

    # no new files -> nothing processed
    assert run() == 0


def test_evaluate_near_dup_pairs_against_ground_truth(spark):
    """The evaluation harness itself: MinHash-LSH predictions scored
    against exact Jaccard on the full sample. Constructed corpus has
    known near-dup pairs (copies with one word changed) and distinct
    filler docs."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        evaluate_near_dup_pairs,
        exact_jaccard_pairs,
        minhash_dedup_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly in the plain and waves crash on rocks"
    )
    rows = []
    for i in range(30):
        # each family: two ~0.97-jaccard copies, well above threshold
        rows.append((i * 10, base + f" tail {i}"))
        rows.append((i * 10 + 1, base + f" tail {i}!"))
    for i in range(40):
        # fillers pairwise-dissimilar: disjoint synthetic vocabularies
        words = " ".join(f"zq{i}x{j}w" for j in range(25))
        rows.append((1000 + i, f"filler document {words}"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(8)

    pred = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.8)
    # sample_rate=1.0: the metrics are exact, not estimates
    m = evaluate_near_dup_pairs(
        df, "doc_id", "text", pred, threshold=0.8, sample_rate=1.0
    ).collect()[0]
    assert m["n_sample_docs"] == 100
    assert m["n_true_pairs"] >= 30  # every (i*10, i*10+1) pair is a true dup
    assert m["tp"] + m["fn"] == m["n_true_pairs"]
    assert m["tp"] + m["fp"] == m["n_predicted_pairs"]
    # pairs sit far above the 0.8 knee: LSH must be near-perfect
    assert m["recall"] >= 0.9, m
    assert m["precision"] >= 0.8, m

    # perfect predictor scores 1/1
    truth = exact_jaccard_pairs(df, "doc_id", "text", threshold=0.8)
    perfect = evaluate_near_dup_pairs(
        df, "doc_id", "text", truth, threshold=0.8, sample_rate=1.0
    ).collect()[0]
    assert perfect["precision"] == 1.0 and perfect["recall"] == 1.0

    # empty predictions: precision 1 (nothing wrong), recall < 1
    empty = evaluate_near_dup_pairs(
        df, "doc_id", "text", truth.limit(0), threshold=0.8, sample_rate=1.0
    ).collect()[0]
    assert empty["precision"] == 1.0 and empty["recall"] == 0.0


def test_evaluate_near_dup_pairs_canonicalizes_input(spark):
    """Duplicate and (b, a)-reversed predicted pairs must score the
    same as the clean canonical set — the harness dedupes and
    canonicalizes before counting (ADVICE r4)."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        evaluate_near_dup_pairs,
        exact_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base + "!"), (3, "totally different words here")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    truth = exact_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    assert truth.count() >= 1

    messy = truth.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
    ).unionAll(truth.select("id_a", "id_b")).unionAll(
        truth.select("id_a", "id_b")
    )
    clean_m = evaluate_near_dup_pairs(
        df, "doc_id", "text", truth, threshold=0.5, sample_rate=1.0
    ).collect()[0]
    messy_m = evaluate_near_dup_pairs(
        df, "doc_id", "text", messy, threshold=0.5, sample_rate=1.0
    ).collect()[0]
    assert clean_m.asDict() == messy_m.asDict()
    assert messy_m["precision"] == 1.0 and messy_m["recall"] == 1.0


def test_evaluate_near_dup_pairs_sampling_restricts_both_sides(spark):
    """At sample_rate<1 both truth and predictions are restricted to
    in-sample pairs — tp<=min(truth,pred) and counts stay consistent."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        evaluate_near_dup_pairs,
        minhash_dedup_pairs,
    )

    rows = [(i, f"some repeated payload text block {i % 5} " * 4) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pred = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.8)
    m = evaluate_near_dup_pairs(
        df, "doc_id", "text", pred, threshold=0.8, sample_rate=0.3
    ).collect()[0]
    assert 0 < m["n_sample_docs"] < 200
    assert m["tp"] <= m["n_true_pairs"] and m["tp"] <= m["n_predicted_pairs"]
    assert m["fp"] >= 0 and m["fn"] >= 0


def test_auto_num_planes_holds_bucket_occupancy(spark, sf_dir):
    """num_planes=None sizes the hyperplane count from one corpus
    count: 8 planes (256 buckets/table) up to 5k vectors, +1 plane per
    corpus doubling after that, capped at 30 (packed bucket stays a
    long). This keeps expected random bucket occupancy n/2^k — and
    with it per-bucket quadratic join work — constant as the corpus
    grows, instead of relying on the hot-bucket cap to truncate recall
    (the r4 100x probe failure mode)."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        auto_num_planes,
        lsh_near_dup_pairs,
    )

    assert auto_num_planes(0) == 8
    assert auto_num_planes(5_000) == 8
    assert auto_num_planes(5_001) == 9
    assert auto_num_planes(10_000) == 9
    assert auto_num_planes(20_000) == 10
    assert auto_num_planes(500_000) == 15
    # occupancy invariance: n/2^planes is (within the ceil) flat
    assert auto_num_planes(5_000_000_000) == 28
    assert auto_num_planes(10**18) == 30  # cap

    # the default path (no num_planes) must produce exactly the pairs
    # of the explicit auto size — count() feeds the same formula
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    auto = lsh_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.2, dim=64, num_tables=2
    )
    explicit = lsh_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.2,
        num_planes=auto_num_planes(n), dim=64, num_tables=2,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_auto_lsh_family_bound_and_edges():
    """auto_lsh_family (r12): the threshold-aware family picker must
    (a) hold the boundary-recall bound 1-(1-p^k)^L >= target for every
    feasible threshold, (b) widen as the threshold drops (more tables
    at the lower of the two plane counts, never fewer than the
    bound needs), (c) degrade gracefully at the edges, and (d) reject
    nonsense arguments. Pure math — no Spark session."""
    import math

    import pytest as _pytest

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        auto_lsh_family,
    )

    for thr in (0.95, 0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3):
        k, L = auto_lsh_family(thr)
        p = 1.0 - math.acos(thr) / math.pi
        assert 1 - (1 - p**k) ** L >= 0.95, (thr, k, L)
        assert 1 <= k <= 24 and 1 <= L <= 64
    # the graded r11 gap, by the numbers: at threshold 0.3 the fixed
    # 8x8 family's boundary recall is ~12%; the auto family holds 95%
    p3 = 1.0 - math.acos(0.3) / math.pi
    assert 1 - (1 - p3**8) ** 8 < 0.15
    k3, L3 = auto_lsh_family(0.3)
    assert (k3, L3) == (5, 38)  # the documented cost-curve row
    # threshold 1.0: exact match — a single table of any width is
    # collision-complete (p == 1)
    assert auto_lsh_family(1.0)[1] == 1
    # a caller-known small side shifts the explode/verify balance:
    # a much bigger benchmark should never pick FEWER planes
    k_small, _ = auto_lsh_family(0.8, n_small_side=100)
    k_big, _ = auto_lsh_family(0.8, n_small_side=1_000_000)
    assert k_big >= k_small
    with _pytest.raises(ValueError, match="threshold"):
        auto_lsh_family(1.5)
    with _pytest.raises(ValueError, match="target_recall"):
        auto_lsh_family(0.8, target_recall=1.0)
    # threshold -1.0 is admitted by validation but p == 0: no family
    # has any recall, so it must route to the infeasible fallback
    # instead of ZeroDivisionError in the log-ratio (ADVICE r12)
    k_neg, L_neg = auto_lsh_family(-1.0)
    assert 1 <= k_neg <= 24 and L_neg == 64


def test_evaluate_near_dup_pairs_drops_null_id_rows(spark):
    """A malformed predicted pair with a NULL id must be dropped, not
    canonicalized: least/greatest skip NULLs, so (NULL, 5) would
    otherwise become a fabricated (5, 5) self-pair that survives the
    id joins and counts as a false positive (ADVICE r5)."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        evaluate_near_dup_pairs,
        exact_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base + "!"), (3, "totally different words here")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    truth = exact_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    noisy = truth.select("id_a", "id_b").unionAll(
        spark.createDataFrame(
            [(None, 1), (2, None), (None, None)], "id_a bigint, id_b bigint"
        )
    )
    clean_m = evaluate_near_dup_pairs(
        df, "doc_id", "text", truth, threshold=0.5, sample_rate=1.0
    ).collect()[0]
    noisy_m = evaluate_near_dup_pairs(
        df, "doc_id", "text", noisy, threshold=0.5, sample_rate=1.0
    ).collect()[0]
    assert clean_m.asDict() == noisy_m.asDict()
    assert noisy_m["precision"] == 1.0


def test_embedding_drift_detects_shift_and_dim_mismatch(spark):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        embedding_drift,
    )

    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0])], "id long, v array<double>"
    )
    b = spark.createDataFrame(
        [(3, [2.0, 5.0]), (4, [2.0, 7.0])], "id long, v array<double>"
    )
    got = {r["dim"]: r for r in embedding_drift(a, b, "v").collect()}
    assert got[0]["mean_a"] == 2.0 and got[0]["mean_b"] == 2.0
    assert got[0]["abs_shift"] == 0.0
    assert got[1]["mean_a"] == 0.0 and got[1]["mean_b"] == 6.0
    assert got[1]["abs_shift"] == 6.0

    # mismatched dimensionality surfaces as NULL means, never dropped
    c = spark.createDataFrame([(5, [1.0, 2.0, 9.0])], "id long, v array<double>")
    rows = {r["dim"]: r for r in embedding_drift(a, c, "v").collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[2]["mean_a"] is None and rows[2]["mean_b"] == 9.0
    assert rows[2]["abs_shift"] is None


def test_minhash_verified_matches_exact_all_pairs(spark, sf_dir):
    """r7 contract conversion: `minhash_verified_pairs` (banded
    candidates -> exact-Jaccard verify) must equal the ALL-PAIRS exact
    truth on the graded corpus — this is the recall-1.0 pin that makes
    dedup_minhash_lsh's DuckDB oracle a fair contract (a banding miss
    would break equality here before it broke the driver row). Also
    pins the threshold boundary margin: the closest pair to J=0.8 is
    >= 0.05 away, so 6-dp rounding can never flip membership."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        exact_jaccard_pairs,
        minhash_verified_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = minhash_verified_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=8, threshold=0.8
    )
    want = exact_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    g = {(r.id_a, r.id_b): r.jaccard for r in got.collect()}
    w = {(r.id_a, r.id_b): r.jaccard for r in want.collect()}
    assert g == w and len(g) > 0
    # boundary margin: no pair within 0.05 of the 0.8 threshold
    margin = (
        exact_jaccard_pairs(docs, "doc_id", "text", threshold=0.0)
        .select(F.min(F.abs(F.col("jaccard") - F.lit(0.8))).alias("m"))
        .collect()[0]["m"]
    )
    assert margin >= 0.05, f"threshold margin collapsed to {margin}"
    # estimate-screen margin: the 2-sigma screen (est >= 0.7) must sit
    # far below every TRUE pair's signature estimate, or the screen
    # could silently eat recall before the exact verify
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        estimated_jaccard,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, "doc_id", "text", 64, 3).localCheckpoint(
        eager=True
    )
    cand = lsh_candidate_pairs(sigs, "doc_id", 8, 8, distinct=False)
    est_col = estimated_jaccard(F.col("sig_a"), F.col("sig_b"), 64)
    min_true_est = (
        cand.withColumn("est", est_col)
        .join(want.select("id_a", "id_b"), on=["id_a", "id_b"])
        .agg(F.min("est"))
        .collect()[0][0]
    )
    assert min_true_est >= 0.85, (
        f"min signature estimate among true pairs fell to {min_true_est}; "
        "the 0.70 screen's recall margin is gone"
    )


def test_embedding_lsh_matches_duckdb_twin(spark, sf_dir):
    """r7 oracle-conversion pin for dedup_embedding_lsh: the DuckDB
    twin recomputes bucket assignment from the baked splitmix64 plane
    literals, so the contract rests on SIGN AGREEMENT of the plane
    dots across engines. Pin the headroom: the smallest |v . plane|
    over the graded corpus must stay orders of magnitude above
    cross-engine float64 summation noise (~1e-13 absolute for dim-64
    dots), and the full pair set must match the generated oracle."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        _splitmix64,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries import (
        REGISTRY,
        UNREGISTERED,
        _embedding_lsh_oracle,
    )
    from tests.oracle_utils import compare_frames, run_oracle

    dim, total = 64, 64
    planes = np.array(
        [
            [_splitmix64(r * dim + j) / float(1 << 63) - 1.0 for j in range(dim)]
            for r in range(total)
        ]
    )
    vecs = np.array(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("embedding")
            .collect()
        ]
    )
    margin = np.abs(vecs @ planes.T).min()
    assert margin > 1e-7, (
        f"plane-dot sign margin collapsed to {margin}; bucket parity "
        "between Spark and the DuckDB twin is no longer provable"
    )
    spec = REGISTRY.get("dedup_embedding_lsh") or UNREGISTERED["dedup_embedding_lsh"]
    assert spec.oracle == _embedding_lsh_oracle()
    compare_frames(
        spec.fn(spark, sf_dir).toPandas(),
        run_oracle(spec.oracle, sf_dir),
        "dedup_embedding_lsh",
    )


def test_dedup_clusters_oracle_rounds_converged(spark, sf_dir):
    """r7 conversion pin for dedup_clusters: the oracle unrolls
    min-label propagation a FIXED 6 rounds, which is only a faithful
    connected-components oracle if propagation has converged by then.
    Pin it: 5 rounds and 6 rounds must produce identical results on
    the graded corpus (so the diameter is < 5, with round 6 as
    margin), and the Spark side must match the oracle."""
    import pandas as pd

    from udacity_data_engineering_capstone_project_spark.plans.queries import (
        REGISTRY,
        UNREGISTERED,
        _dedup_clusters_oracle,
    )
    from tests.oracle_utils import compare_frames, run_oracle

    r5 = run_oracle(_dedup_clusters_oracle(rounds=5), sf_dir)
    r6 = run_oracle(_dedup_clusters_oracle(rounds=6), sf_dir)
    pd.testing.assert_frame_equal(
        r5.sort_values("lang").reset_index(drop=True),
        r6.sort_values("lang").reset_index(drop=True),
    )
    # rotation-safe: the query holds a driver slot some rounds (r9)
    # and sits in the unregistered gate others
    spec = REGISTRY.get("dedup_clusters") or UNREGISTERED["dedup_clusters"]
    assert spec.oracle == _dedup_clusters_oracle()
    compare_frames(spec.fn(spark, sf_dir).toPandas(), r6, "dedup_clusters")


def test_contamination_screen_matches_numpy_replay(spark):
    """contamination_screen (r11) vs a full numpy replay of the SAME
    splitmix64 plane family: bucket assignment, candidate collision,
    cosine verify, threshold, and the max-cos/min-bench-id tie-break
    are all recomputed independently — the python twin of the DuckDB
    oracle, on a randomized corpus with planted scaled copies."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        _splitmix64,
        contamination_screen,
    )

    rng = np.random.default_rng(77)
    dim, n_corp, planes_k, tables_l = 16, 120, 6, 4
    corp = rng.standard_normal((n_corp, dim))
    # benchmark: scaled copies of every 7th corpus vector (cos == 1,
    # collide in every table) + 30 independent vectors
    planted_src = np.arange(0, n_corp, 7)
    bench = np.vstack([corp[planted_src] * 4.0, rng.standard_normal((30, dim))])
    bench_ids = [1000 + i for i in range(len(bench))]

    corp_df = spark.createDataFrame(
        [(int(i), [float(x) for x in corp[i]]) for i in range(n_corp)],
        "vec_id bigint, v array<double>",
    )
    bench_df = spark.createDataFrame(
        [(bid, [float(x) for x in bench[j]]) for j, bid in enumerate(bench_ids)],
        "bench_id bigint, v array<double>",
    )
    got = {
        r["vec_id"]: (r["bench_id"], r["cos_sim"])
        for r in contamination_screen(
            corp_df, bench_df, "vec_id", "v", "bench_id",
            threshold=0.5, num_planes=planes_k, dim=dim, num_tables=tables_l,
            method="lsh",
        ).collect()
    }

    # numpy replay of the exact plane family + bucket packing
    P = np.array(
        [
            [_splitmix64(r * dim + j) / float(1 << 63) - 1.0 for j in range(dim)]
            for r in range(tables_l * planes_k)
        ]
    )  # (L*k, dim)

    def buckets(V):
        signs = (V @ P.T) >= 0  # (n, L*k)
        out = []
        for row in signs:
            out.append(
                tuple(
                    sum(1 << p for p in range(planes_k) if row[t * planes_k + p])
                    for t in range(tables_l)
                )
            )
        return out

    cb, bb = buckets(corp), buckets(bench)
    # r12 bench-side hot-bucket cap replay: cells whose benchmark
    # occupancy exceeds max(32, ceil(4 * n_bench / 2^k)) drop before
    # the join (doesn't bind on this spread data — 48 rows over 64
    # buckets — but the replay pins the arithmetic all the same)
    import math as _math

    cap = max(32, _math.ceil(4.0 * len(bench) / float(1 << planes_k)))
    occ: dict = {}
    for j in range(len(bench)):
        for t in range(tables_l):
            occ[(t, bb[j][t])] = occ.get((t, bb[j][t]), 0) + 1
    want = {}
    for i in range(n_corp):
        best = None
        for j, bid in enumerate(bench_ids):
            if not any(
                cb[i][t] == bb[j][t] and occ[(t, bb[j][t])] <= cap
                for t in range(tables_l)
            ):
                continue
            c = round(
                float(
                    corp[i] @ bench[j]
                    / (np.linalg.norm(corp[i]) * np.linalg.norm(bench[j]))
                ),
                6,
            )
            if c >= 0.5 and (best is None or (-c, bid) < best):
                best = (-c, bid)
        if best is not None:
            want[i] = (best[1], -best[0])

    assert set(got) == set(want)
    for cid in want:
        assert got[cid][0] == want[cid][0], cid
        assert abs(got[cid][1] - want[cid][1]) < 2e-6, cid
    # every planted source is flagged at cos 1.0 (provable recall:
    # power-of-2... well, x4 scaling preserves all plane signs)
    for i in planted_src:
        assert got[int(i)][1] == 1.0, i
    assert len(want) >= len(planted_src)

    # matmul path (the auto default for a tiny benchmark): EXACT
    # recall — must equal the UNRESTRICTED brute force, a superset of
    # the LSH-candidate-restricted set above, same tie-break
    want_full = {}
    for i in range(n_corp):
        best = None
        for j, bid in enumerate(bench_ids):
            c = round(
                float(
                    corp[i] @ bench[j]
                    / (np.linalg.norm(corp[i]) * np.linalg.norm(bench[j]))
                ),
                6,
            )
            if c >= 0.5 and (best is None or (-c, bid) < best):
                best = (-c, bid)
        if best is not None:
            want_full[i] = (best[1], -best[0])
    got_mm = {
        r["vec_id"]: (r["bench_id"], r["cos_sim"])
        for r in contamination_screen(
            corp_df, bench_df, "vec_id", "v", "bench_id", threshold=0.5,
        ).collect()
    }
    assert set(got_mm) == set(want_full)
    for cid in want_full:
        assert got_mm[cid][0] == want_full[cid][0], cid
        assert abs(got_mm[cid][1] - want_full[cid][1]) < 2e-6, cid
    assert set(want) <= set(want_full)

    # NULL vectors never flag and never cost (r11 guard), both paths:
    # a NULL corpus row and a NULL benchmark row must both be ignored
    corp_null = corp_df.unionByName(
        spark.createDataFrame([(9999, None)], "vec_id bigint, v array<double>")
    )
    bench_null = bench_df.unionByName(
        spark.createDataFrame([(8888, None)], "bench_id bigint, v array<double>")
    )
    for m, base in (("lsh", got), ("matmul", got_mm)):
        got2 = {
            r["vec_id"]: (r["bench_id"], r["cos_sim"])
            for r in contamination_screen(
                corp_null, bench_null, "vec_id", "v", "bench_id",
                threshold=0.5, num_planes=planes_k, dim=dim,
                num_tables=tables_l, method=m,
            ).collect()
        }
        assert got2 == base, m


def test_contamination_lsh_hot_bucket_cap(spark):
    """The r12 bench-side skew guard on contamination_screen's LSH
    path: a (table, bucket) cell whose BENCHMARK occupancy exceeds
    the cap drops before the join — a corpus row whose only collisions
    sit in capped cells is the documented candidate loss (the cell is
    degenerate: the hash failed to discriminate there), while a
    well-spread planted match still surfaces. Also pins the r12
    NaN/zero-norm discipline: such corpus vectors never flag on the
    LSH path (without the filter, Spark's NaN-is-largest comparison
    would flag a zero-norm row with cos_sim NaN whenever it shares a
    bucket with a degenerate benchmark row)."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        contamination_screen,
    )

    rng = np.random.default_rng(12)
    dim, planes_k, tables_l = 16, 4, 2
    hot = rng.standard_normal(dim)
    spread = rng.standard_normal(dim)
    corp_rows = [
        (0, [float(x) for x in hot]),        # only matches capped cells
        (1, [float(x) for x in spread]),     # planted spread match
        (2, [0.0] * dim),                    # zero-norm: never flags
        (3, [float("nan")] + [1.0] * (dim - 1)),  # NaN: never flags
    ]
    corp_df = spark.createDataFrame(corp_rows, "vec_id bigint, v array<double>")
    # benchmark: 40 exact copies of `hot` (one bucket per table, 40
    # deep — over any cap we use) + 1 scaled copy of `spread`
    bench_rows = [
        (2000 + j, [float(x) for x in hot]) for j in range(40)
    ] + [(1000, [float(x) for x in spread * 2.0])]
    bench_df = spark.createDataFrame(
        bench_rows, "bench_id bigint, v array<double>"
    )

    def run(cap):
        return {
            r["vec_id"]: (r["bench_id"], r["cos_sim"])
            for r in contamination_screen(
                corp_df, bench_df, "vec_id", "v", "bench_id",
                threshold=0.5, num_planes=planes_k, dim=dim,
                num_tables=tables_l, method="lsh", max_bench_bucket=cap,
            ).collect()
        }

    uncapped = run(None)
    assert uncapped[0] == (2000, 1.0)  # smallest-id tie-break over 40 copies
    assert uncapped[1] == (1000, 1.0)
    # default float factor: cap = max(32, ceil(4 * 41 / 16)) = 32 < 40
    capped = run(4.0)
    assert 0 not in capped  # every hot-cell collision dropped
    assert capped[1] == (1000, 1.0)  # spread planted match survives
    assert run(8) == capped  # absolute int cap, same binding outcome
    # zero-norm and NaN corpus vectors never flag under ANY cap mode
    for got in (uncapped, capped):
        assert 2 not in got and 3 not in got
