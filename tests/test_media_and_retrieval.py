"""Audio (WAV) support, image resize, TF-IDF / BM25 retrieval scoring
— the remaining multimodal + text-curation operators."""

from __future__ import annotations

import math

import numpy as np
import pytest

from udacity_data_engineering_capstone_project_spark.operators.audio import (
    audio_features,
    decode_audio_meta,
    encode_wav,
    parse_wav_meta,
)
from udacity_data_engineering_capstone_project_spark.operators.multimodal import (
    decode_png_pixels,
    encode_png,
    resize_image,
)
from udacity_data_engineering_capstone_project_spark.operators.textstats import (
    bm25_scores,
    tfidf_top_terms,
)


def test_wav_header_roundtrip():
    samples = (np.sin(np.linspace(0, 2 * np.pi * 440, 1600)) * 20000).astype(np.int16)
    wav = encode_wav(samples, sample_rate=16000)
    assert parse_wav_meta(wav) == (16000, 1, 16, 1600)
    with pytest.raises(ValueError):
        parse_wav_meta(b"not audio")


def test_wav_malformed_payloads_yield_nulls_not_task_failure(spark):
    """Truncated fmt/data chunks and zeroed fmt fields must surface as
    the documented ValueError (-> null rows), never struct.error /
    ZeroDivisionError that would kill the whole task (round-3 advice)."""
    good = encode_wav(np.ones(100, dtype=np.int16), 8000)
    truncated_fmt = good[:30]  # fmt chunk header present, fields cut off
    zero_channels = bytearray(good)
    zero_channels[22:24] = b"\x00\x00"  # fmt channels = 0
    for bad in (truncated_fmt, bytes(zero_channels)):
        with pytest.raises(ValueError):
            parse_wav_meta(bytes(bad))
    rows = [(1, good), (2, truncated_fmt), (3, bytes(zero_channels))]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    meta = {r["doc_id"]: r for r in decode_audio_meta(df, "doc_id").collect()}
    assert meta[1]["sample_rate"] == 8000
    assert meta[2]["sample_rate"] is None and meta[3]["sample_rate"] is None
    feats = {r["doc_id"]: r for r in audio_features(df, "doc_id").collect()}
    assert feats[1]["rms"] is not None and feats[2]["rms"] is None


def test_audio_meta_and_features(spark):
    sr = 8000
    # 1 s of a full-scale 100 Hz square wave: rms=1, peak=1, zcr=200/7999
    t = np.arange(sr)
    square = (np.where((t // 40) % 2 == 0, 32767, -32768)).astype(np.int16)
    silence = np.zeros(sr, dtype=np.int16)
    rows = [
        (1, encode_wav(square, sr)),
        (2, encode_wav(silence, sr)),
        (3, b"not audio"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    meta = {r["doc_id"]: r for r in decode_audio_meta(df, "doc_id").collect()}
    assert meta[1]["sample_rate"] == sr and meta[1]["duration_ms"] == 1000
    assert meta[1]["channels"] == 1 and meta[1]["bits"] == 16
    assert meta[3]["sample_rate"] is None

    feats = {r["doc_id"]: r for r in audio_features(df, "doc_id").collect()}
    assert feats[1]["rms"] == pytest.approx(1.0, abs=2e-4)
    assert feats[1]["peak"] == pytest.approx(1.0, abs=2e-4)
    assert feats[1]["zero_crossing_rate"] == pytest.approx(199 / 7999, abs=1e-4)
    assert feats[2]["rms"] == 0.0 and feats[2]["peak"] == 0.0
    assert feats[3]["rms"] is None


def test_resize_image_downsample(spark):
    # 4x4 RGB: each 2x2 quadrant a solid color -> 2x2 nearest-neighbor
    # picks the quadrant colors
    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[:2, :2] = colors[0]
    img[:2, 2:] = colors[1]
    img[2:, :2] = colors[2]
    img[2:, 2:] = colors[3]
    png = encode_png(4, 4, img.tobytes())
    df = spark.createDataFrame([(1, png), (2, b"junk")], ["doc_id", "payload"])
    out = {r["doc_id"]: r for r in resize_image(df, "doc_id", 2, 2).collect()}
    assert out[1]["width"] == 2 and out[1]["height"] == 2
    w, h, ch, px = decode_png_pixels(bytes(out[1]["payload"]))
    got = np.asarray(px, dtype=np.uint8).reshape(2, 2, 3)
    assert tuple(got[0, 0]) == colors[0] and tuple(got[0, 1]) == colors[1]
    assert tuple(got[1, 0]) == colors[2] and tuple(got[1, 1]) == colors[3]
    assert out[2]["payload"] is None


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the cat sat on the mat the cat slept"),
        (3, "fox and cat are animals the fox hunts"),
        (4, "numbers 123 and symbols #! are not words"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tfidf_top_terms(spark, corpus):
    out = tfidf_top_terms(corpus, "doc_id", "text", k=3)
    rows = [(r["doc_id"], r["rank"], r["term"]) for r in out.collect()]
    by_doc = {}
    for d, rank, term in rows:
        by_doc.setdefault(d, []).append((rank, term))
    # every doc got <= 3 ranked terms, rank contiguous from 1
    for d, terms in by_doc.items():
        ranks = sorted(r for r, _ in terms)
        assert ranks == list(range(1, len(ranks) + 1))
    # 'cat' (tf=2, df=2) is in doc 2's top-3 with the exact smoothed
    # score 2*(ln(5/3)+1)
    assert "cat" in [t for _, t in by_doc[2]]
    cat = next(r for r in out.collect() if r["doc_id"] == 2 and r["term"] == "cat")
    assert cat["tfidf"] == pytest.approx(2 * (math.log(5 / 3) + 1), abs=1e-6)
    assert cat["doc_freq"] == 2 and cat["tf"] == 2


def test_bm25_scores(spark, corpus):
    out = {r["doc_id"]: r["bm25"] for r in
           bm25_scores(corpus, "doc_id", "text", ["fox", "cat"]).collect()}
    # doc 4 mentions neither term
    assert set(out) == {1, 2, 3}
    # doc 3 has both terms (fox twice) -> highest score
    assert out[3] > out[1] and out[3] > out[2]
    # hand-check doc 1 ('fox' once): N=4, df(fox)=2, dl=9,
    # avgdl=(9+9+8+6)/4=8
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    expected = idf * 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 9 / 8))
    assert out[1] == pytest.approx(expected, abs=1e-6)


def test_pil_and_stdlib_png_decode_agree():
    """`_decode_pixels_array` is the shared decode of resize/dHash/
    pixel-decode: with PIL installed it must produce bit-identical
    pixels to the stdlib PNG path (PNG is lossless); without PIL it
    must fall back to the stdlib path transparently and reject
    non-PNG payloads with ValueError (callers null the row)."""
    from udacity_data_engineering_capstone_project_spark.operators.multimodal import (
        _decode_pixels_array,
        _pil_decode,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    png = encode_png(4, 5, img.tobytes())

    w, h, ch, arr = _decode_pixels_array(png)
    assert (w, h, ch) == (4, 5, 3)
    ref_w, ref_h, ref_ch, ref_px = decode_png_pixels(png)
    ref = np.asarray(ref_px, dtype=np.uint8).reshape(ref_h, ref_w, ref_ch)
    assert np.array_equal(arr, ref), "decode paths disagree on a lossless PNG"

    if _pil_decode(png) is None:  # no PIL in this env: fallback contract
        with pytest.raises(ValueError):  # malformed JPEG -> callers null
            _decode_pixels_array(b"\xff\xd8\xff\xe0 not actually jpeg")
        with pytest.raises(ValueError, match="unsupported image format"):
            _decode_pixels_array(b"GIF89a not decodable without PIL")
    else:  # PIL present: it IS the default path and matches bit-for-bit
        pw, ph, pch, praw = _pil_decode(png)
        assert (pw, ph, pch) == (4, 5, 3)
        assert np.frombuffer(praw, dtype=np.uint8).reshape(5, 4, 3).tolist() == ref.tolist()

    # RGBA parity: both paths must keep 4 channels (PIL must NOT
    # collapse alpha to RGB — dhash/near-dup output would then depend
    # on whether PIL is installed)
    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    png4 = encode_png(4, 3, rgba.tobytes(), channels=4)
    w4, h4, ch4, arr4 = _decode_pixels_array(png4)
    assert (w4, h4, ch4) == (4, 3, 4)
    assert np.array_equal(arr4, rgba)
    pil4 = _pil_decode(png4)
    if pil4 is not None:
        pw, ph, pch, praw = pil4
        assert (pw, ph, pch) == (4, 3, 4)
        assert np.frombuffer(praw, dtype=np.uint8).reshape(3, 4, 4).tolist() == rgba.tolist()


def test_mmr_q_decision_margins(spark, sf_dir):
    """mmr_q's DuckDB oracle replays the greedy with sequential
    list_dot_product while the engine uses numpy BLAS (summation
    orders differ by ~1e-15) — pin that every decision the greedy
    makes on the graded corpora has margin >> that noise: the pool
    boundary, each round's chosen-vs-runner-up gap, and each graded
    score's distance from a 6dp rounding midpoint (Python banker's
    round vs DuckDB half-away could only disagree AT a midpoint)."""
    import numpy as np
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        cosine,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_ml import (
        _MMR_K,
        _MMR_LAM,
        _MMR_POOL,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    corpus = emb.filter(F.col("vec_id") != 0)
    qv = np.asarray(list(q), dtype=np.float64)
    qlit = F.expr("array(" + ",".join(f"{float(x)!r}D" for x in qv) + ")")
    sim_col = cosine(F.col("embedding").cast("array<double>"), qlit)
    rel_all = sorted(
        (r["rel"] for r in corpus.select(F.round(sim_col, 9).alias("rel")).collect()),
        reverse=True,
    )
    if len(rel_all) > _MMR_POOL:
        assert rel_all[_MMR_POOL - 1] - rel_all[_MMR_POOL] > 1e-6
    # rel itself rounds to 9dp in BOTH engines before the greedy; a
    # raw cosine within float noise (~1e-15 abs = 1e-6 in these
    # units) of a 0.5e-9 rounding boundary could round differently
    # per engine. Measured minimum distance on the graded corpora is
    # 6.8e-5 (sf0.001) / 6.5e-4 (sf0.01) — pin 1e-5, a 10x noise
    # floor the measured data clears by 6.8x+
    raw = [r["raw"] for r in corpus.select(sim_col.alias("raw")).collect()]
    for v in raw:
        frac = abs((v * 1e9) % 1.0 - 0.5)
        assert frac > 1e-5, f"rel {v!r} sits {frac:.2e} from a 9dp boundary"

    cand = (
        corpus.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == len(qv))
        )
        .select("vec_id", "embedding", F.round(sim_col, 9).alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(_MMR_POOL)
        .collect()
    )
    ids = [r["vec_id"] for r in cand]
    rel = np.array([r["rel"] for r in cand])
    V = np.asarray([r["embedding"] for r in cand], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    U = V / norms[:, None]
    picked = np.zeros(len(ids), dtype=bool)
    max_sel = np.full(len(ids), -np.inf)
    for rank in range(_MMR_K):
        score = _MMR_LAM * rel if rank == 0 else (
            _MMR_LAM * rel - (1 - _MMR_LAM) * max_sel
        )
        s = np.where(picked, -np.inf, score)
        order = sorted(
            (i for i in range(len(ids)) if not picked[i]),
            key=lambda i: (-s[i], ids[i]),
        )
        best, runner = order[0], order[1]
        assert s[best] - s[runner] > 1e-8, (rank, s[best] - s[runner])
        # graded value: distance from the nearest 1e-6 rounding midpoint
        frac = abs((s[best] * 1e6) % 1.0 - 0.5)
        assert frac > 1e-6, (rank, s[best])
        picked[best] = True
        max_sel = np.maximum(max_sel, U @ U[best])


def test_diverse_topk_spreads_clusters(spark):
    """MMR must spend the budget across clusters where plain top-k
    returns one cluster's near-duplicates repeatedly."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        brute_force_topk,
        diverse_topk,
    )

    rng = np.random.RandomState(4)
    # three tight clusters on ORTHOGONAL axes (mutual similarity ~0)
    # and an off-axis query slightly preferring cluster 0 — the
    # geometry where within-cluster redundancy is expensive but
    # cross-cluster hops are free (aligning the top cluster with the
    # query instead makes sim-to-selected == relevance for everyone
    # and MMR correctly keeps drilling the top cluster)
    centers = np.eye(3)
    rows = []
    for c in range(3):
        for j in range(10):
            v = centers[c] + 0.005 * rng.normal(size=3)
            rows.append((c * 100 + j, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    query = [1.03, 1.0, 0.97]

    # plain top-6: all from cluster 0
    plain = brute_force_topk(
        df, spark.createDataFrame([(999, query)], "vec_id bigint, embedding array<double>"),
        "vec_id", "embedding", k=6,
    ).collect()
    assert {r["neighbor_id"] // 100 for r in plain} == {0}

    # MMR top-6 at lam=0.5: hits all three clusters, rank 1 is still
    # the single most relevant doc
    mmr = diverse_topk(df, query, "vec_id", "embedding", k=6, lam=0.5).collect()
    assert len(mmr) == 6
    assert [r["rank"] for r in mmr] == [1, 2, 3, 4, 5, 6]
    assert mmr[0]["vec_id"] // 100 == 0
    assert {r["vec_id"] // 100 for r in mmr} == {0, 1, 2}

    # lam=1.0 degenerates to plain relevance ranking
    pure = diverse_topk(df, query, "vec_id", "embedding", k=6, lam=1.0).collect()
    assert {r["vec_id"] for r in pure} == {r["neighbor_id"] for r in plain}

    # determinism
    again = diverse_topk(df, query, "vec_id", "embedding", k=6, lam=0.5).collect()
    assert [(r["rank"], r["vec_id"]) for r in again] == [
        (r["rank"], r["vec_id"]) for r in mmr
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lam"):
        diverse_topk(df, query, "vec_id", "embedding", lam=1.5)
    with _pytest.raises(ValueError, match="pool"):
        diverse_topk(df, query, "vec_id", "embedding", k=10, pool=5)
    with _pytest.raises(ValueError, match="zero norm"):
        diverse_topk(df, [0.0, 0.0, 0.0], "vec_id", "embedding")


def test_diverse_topk_string_ids_and_ragged_vectors(spark):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        diverse_topk,
    )

    rows = [
        ("doc-a", [1.0, 0.0, 0.0]),
        ("doc-b", [0.0, 1.0, 0.0]),
        ("doc-c", [0.9, 0.1, 0.0]),
        ("doc-ragged", [1.0, 0.0]),   # wrong length: must be ignored
        ("doc-null", None),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = diverse_topk(df, [1.0, 0.2, 0.1], "vec_id", "embedding", k=3, lam=0.5)
    got = [(r["rank"], r["vec_id"]) for r in out.collect()]
    assert len(got) == 3
    assert got[0][1] == "doc-c"  # cos([1,.2,.1], [.9,.1,0]) tops the pool
    assert all(v not in ("doc-ragged", "doc-null") for _, v in got)
    assert dict(out.dtypes)["vec_id"] == "string"
