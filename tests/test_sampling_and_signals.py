"""Unit tests for the deterministic-sampling, repetition-signal,
contamination and audio-synthesis operators (the round-2 additions to
the LLM-pipeline tier)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.audio import (
    _pcm16_view,
    audio_features,
    decode_audio_meta,
    synthesize_wav,
)
from udacity_data_engineering_capstone_project_spark.operators.sampling import (
    _threshold_hex,
    cap_per_group,
    hash_sample,
    stratified_hash_sample,
)
from udacity_data_engineering_capstone_project_spark.operators.textstats import (
    ngram_overlap,
    repetition_signals,
    word_ngrams,
)


def test_threshold_hex_boundaries():
    assert _threshold_hex(0.0) == "0000"
    assert _threshold_hex(1.0) == "g"  # sorts after every hex bucket
    # regression: "10000" would sort BEFORE 'a'-'f' buckets and keep ~6%
    assert "abcd" < _threshold_hex(1.0)
    assert _threshold_hex(0.9999999) == "g"  # rounding can't overflow to "10000"
    assert _threshold_hex(0.5) == "8000"
    assert _threshold_hex(0.25) == "4000"
    with pytest.raises(ValueError):
        _threshold_hex(1.5)


def test_hash_sample_deterministic_and_calibrated(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    a = hash_sample(df, "k", 0.25)
    b = hash_sample(df, "k", 0.25)
    ra = {r["k"] for r in a.collect()}
    rb = {r["k"] for r in b.collect()}
    assert ra == rb  # pure function of the key
    # md5 is uniform: 25% +- 2% at n=20k
    assert abs(len(ra) / 20000 - 0.25) < 0.02
    # rate monotonicity: a smaller sample nests inside a larger one
    rc = {r["k"] for r in hash_sample(df, "k", 0.5).collect()}
    assert ra <= rc


def test_stratified_hash_sample_rates(spark):
    df = spark.range(0, 30000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("s")
    )
    out = stratified_hash_sample(df, "k", "s", {"0": 0.1, "1": 0.9}, default_rate=0.5)
    frac = {
        r["s"]: r["n"] / 10000
        for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(frac["0"] - 0.1) < 0.02
    assert abs(frac["1"] - 0.9) < 0.02
    assert abs(frac["2"] - 0.5) < 0.02


def test_cap_per_group_quota_and_determinism(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    out = cap_per_group(df, ["g"], [F.col("v").desc()], quota=5)
    rows = out.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.max("v").alias("mx"), F.min("v").alias("mn")
    )
    for r in rows.collect():
        assert r["n"] == 5
        # top-5 of each residue class: max is the global max of the class
        assert (r["mx"] - r["g"]) % 7 == 0 and r["mx"] > 990
        assert r["mx"] - r["mn"] == 4 * 7


def test_word_ngrams_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "one two three four")], ["id", "t"]
    )
    words = F.expr("regexp_extract_all(lower(t), '[a-z]+', 0)")
    out = df.select("id", word_ngrams(words, 3).alias("g")).collect()
    by_id = {r["id"]: r["g"] for r in out}
    assert by_id[1] == []  # 2 words, no trigram — and no phantom from sequence(1,0)
    assert by_id[2] == ["one two three", "two three four"]


def test_repetition_signals_hand_check(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # 1 word type, all trigrams equal
            (2, "a b c d"),  # no repetition
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_signals(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert r1["n_words"] == 4
    assert r1["type_token_ratio"] == pytest.approx(0.25)
    assert r1["top_word_frac"] == pytest.approx(1.0)
    # trigrams: ["spam spam spam"] x2 -> dup frac = 1 - 1/2
    assert r1["dup_ngram_frac"] == pytest.approx(0.5)
    r2 = out[2]
    assert r2["type_token_ratio"] == pytest.approx(1.0)
    assert r2["top_word_frac"] == pytest.approx(0.25)
    assert r2["dup_ngram_frac"] == pytest.approx(0.0)


def test_ngram_overlap_hand_check(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),  # shares "the quick brown"
            (2, "totally unrelated words here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown cat")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["n_overlap"] for r in
           ngram_overlap(corpus, bench, "doc_id", "text", 3).collect()}
    assert out == {1: 1}  # doc 2 contaminated by nothing -> absent


def test_synthesize_wav_roundtrip(spark):
    df = spark.createDataFrame([(0,), (13,), (199,)], ["doc_id"])
    wav = synthesize_wav(df, "doc_id")
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in wav.collect()}
    for rid, b in payloads.items():
        n = 150 + rid % 50
        amp = 1001 + (rid % 200) * 14
        s = _pcm16_view(b)
        assert len(s) == n
        assert s.max() == amp and s.min() == -amp
        assert (s[: n // 2] == amp).all() and (s[n // 2:] == -amp).all()
    meta = {r["doc_id"]: r for r in decode_audio_meta(wav, "doc_id").collect()}
    assert meta[13]["sample_rate"] == 16000
    assert meta[13]["n_frames"] == 163
    feats = {r["doc_id"]: r for r in audio_features(wav, "doc_id").collect()}
    a13 = 1001 + 13 * 14
    assert feats[13]["rms"] == pytest.approx(a13 / 32768, abs=1e-6)
    assert feats[13]["peak"] == feats[13]["rms"]
    assert feats[13]["zero_crossing_rate"] == pytest.approx(1 / 162, abs=1e-6)


def test_audio_closed_form_round_parity_exhaustive():
    """Every amplitude (200) and frame count (50) the synthesizer can
    emit: Python round (bankers) of the feature must equal SQL
    round-half-away — i.e. no value may sit on an exact .5 at the 6th
    decimal. Guards the oracle of the `audio_features` graded query."""
    import duckdb

    con = duckdb.connect()
    for j in range(200):
        amp = 1001 + j * 14
        sql = con.sql(f"SELECT round({amp} / 32768.0, 6)").fetchone()[0]
        assert round(amp / 32768.0, 6) == sql, amp
    for n in range(150, 200):
        sql = con.sql(f"SELECT round(1.0 / {n - 1}, 6)").fetchone()[0]
        assert round(1.0 / (n - 1), 6) == sql, n


def test_chunk_documents_windows_and_overlap(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        chunk_documents,
    )

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "short doc")], ["doc_id", "text"])
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=3)
    rows = sorted(
        [(r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"]) for r in out.collect()]
    )
    doc1 = [r for r in rows if r[0] == 1]
    # n_chunks = 1 + ceil((10-4)/3) = 3: starts 0,3,6 cover all 10
    # tokens with 1-token overlap — no spurious 4th window
    assert [r[1] for r in doc1] == [0, 1, 2]
    assert [r[2] for r in doc1] == [4, 4, 4]
    assert doc1[0][3] == "w0 w1 w2 w3"
    assert doc1[1][3] == "w3 w4 w5 w6"
    assert doc1[2][3] == "w6 w7 w8 w9"
    # every token appears in some chunk
    covered = set(" ".join(r[3] for r in doc1).split())
    assert covered == set(words.split())
    # short doc: exactly one chunk, no padding
    doc2 = [r for r in rows if r[0] == 2]
    assert doc2 == [(2, 0, 2, "short doc")]
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=5)


def test_chunk_documents_no_spurious_tail(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        chunk_documents,
    )

    # 8 tokens, chunk 4, stride 4: exactly 2 windows, no empty 3rd
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(8)))], ["doc_id", "text"]
    )
    rows = chunk_documents(df, "doc_id", "text", 4, 4).collect()
    assert sorted(r["chunk_id"] for r in rows) == [0, 1]
    assert all(r["n_tokens"] == 4 for r in rows)


def test_pack_sequences_budget_and_efficiency(spark):
    from udacity_data_engineering_capstone_project_spark.operators.packing import (
        pack_sequences,
    )

    # lengths 1..500 cycling, 2000 items, budget 512
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 500 + 1).alias("n_tokens")
    )
    out = pack_sequences(df, "id", "n_tokens", budget=512).join(
        df, on="id"
    )
    per_pack = out.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_items")
    )
    rows = per_pack.collect()
    # hard constraint: no pack exceeds the budget
    assert all(r["total"] <= 512 for r in rows)
    # every item assigned exactly once
    assert out.count() == 2000
    assert out.select("id").distinct().count() == 2000
    # offsets: within a pack, offsets are distinct and start at 0
    offsets = out.groupBy("pack_id").agg(
        F.min("pack_offset").alias("mn"),
        F.countDistinct("pack_offset").alias("nd"),
        F.count(F.lit(1)).alias("n"),
    )
    assert all(r["mn"] == 0 and r["nd"] == r["n"] for r in offsets.collect())
    # packing efficiency: greedy FFD on this distribution should fill
    # packs well past naive one-item-per-pack (mean fill > 70%)
    fill = sum(r["total"] for r in rows) / (512 * len(rows))
    assert fill > 0.7, f"fill ratio {fill:.2f}"


def test_pack_sequences_deterministic_and_oversize(spark):
    from udacity_data_engineering_capstone_project_spark.operators.packing import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, 100), (2, 900), (3, 100), (4, 50)], ["id", "n_tokens"]
    )
    a = {(r["id"], r["pack_id"], r["pack_offset"])
         for r in pack_sequences(df, "id", "n_tokens", 512).collect()}
    b = {(r["id"], r["pack_id"], r["pack_offset"])
         for r in pack_sequences(df, "id", "n_tokens", 512).collect()}
    assert a == b  # reproducible assignment
    # the 900-token item still gets a (singleton) pack
    packs_of_2 = [p for (i, p, _) in a if i == 2]
    assert len(packs_of_2) == 1
    others = {i: p for (i, p, _) in a if i != 2}
    assert packs_of_2[0] not in others.values()


def test_temperature_mix_q_threshold_margin(spark, sf_dir):
    """The temperature_mix_q oracle re-derives the per-source keep
    rates in DuckDB floats and both engines round rate*65536 to the
    hex threshold — pin that no rate sits near a .5 rounding boundary
    (where Python's banker's round and DuckDB's half-away round could
    disagree). Margin-headroom pattern: the guard FAILS loudly if a
    future corpus/tier change lands on the edge."""
    from udacity_data_engineering_capstone_project_spark.plans.queries_text import (
        _TEMP_MIX_TIER_SQL,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(_TEMP_MIX_TIER_SQL).alias("tier")
    )
    counts = {
        r["tier"]: r["n"]
        for r in docs.groupBy("tier").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    weights = {s: float(n) ** 0.5 for s, n in counts.items()}
    t_max = min(counts[s] / w for s, w in weights.items())
    for s, w in weights.items():
        rate = min(1.0, (w * t_max) / counts[s])
        if rate >= 1.0:
            continue
        frac = abs((rate * 65536) % 1.0 - 0.5)
        assert frac > 1e-3, (s, rate, rate * 65536)


def test_pack_ffd_tree_matches_scan_exactly():
    """The segment-tree first-fit must return the SAME pack for every
    item as the reference linear scan — randomized over length
    distributions that stress ties, oversize items, and zero lengths,
    at sizes straddling the _TREE_MIN_ITEMS cutover."""
    import random

    from udacity_data_engineering_capstone_project_spark.operators.packing import (
        _ffd_scan,
        _ffd_tree,
    )

    rng = random.Random(7)
    for trial in range(20):
        n = rng.choice([1, 17, 300, 5000])
        budget = rng.choice([64, 512, 4096])
        lens = [
            rng.choice([0, 1, budget // 3, budget - 1, budget, budget * 2,
                        rng.randrange(1, budget * 2)])
            for _ in range(n)
        ]
        # FFD order is the caller's contract: sort desc by len, id asc
        items = sorted(enumerate(lens), key=lambda t: (-t[1], t[0]))
        ids = [i for i, _ in items]
        ls = [l for _, l in items]
        assert _ffd_tree(ids, ls, budget) == _ffd_scan(ids, ls, budget), (
            trial, n, budget
        )


def test_pack_sequences_tree_path_end_to_end(spark):
    """A bucket past _TREE_MIN_ITEMS goes through the tree inside
    applyInPandas — pin the budget invariant and exact-once coverage
    on that path (buckets=1 forces one big bucket)."""
    from udacity_data_engineering_capstone_project_spark.operators import packing

    df = spark.range(0, 6000).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(400)) + 1).alias("n")
    )
    out = packing.pack_sequences(df, "id", "n", budget=1024, buckets=1)
    joined = out.join(df, on="id")
    per_pack = joined.groupBy("pack_id").agg(F.sum("n").alias("tot"))
    assert all(r["tot"] <= 1024 for r in per_pack.collect())
    assert joined.count() == 6000
    assert joined.select("id").distinct().count() == 6000


def test_pack_sequences_auto_buckets(spark):
    """buckets=None derives the scatter width from the count — small
    inputs keep the historical 64-bucket layout."""
    from udacity_data_engineering_capstone_project_spark.operators.packing import (
        pack_sequences,
    )

    df = spark.range(0, 500).select(F.col("id"), F.lit(10).alias("n"))
    out = pack_sequences(df, "id", "n", budget=512).collect()
    assert {r["pack_id"] // 1_000_000_000 for r in out} <= set(range(64))
    assert len({r["id"] for r in out}) == 500


def test_pack_sequences_release_caches(spark):
    """Auto-sized calls pin the (id, len) slice; release_pack_caches
    (ADVICE r10) unpersists every pinned slice and empties the
    registry, and an explicit-buckets call pins nothing."""
    from udacity_data_engineering_capstone_project_spark.operators import packing

    packing.release_pack_caches()  # clean slate from other tests
    df = spark.range(0, 200).select(F.col("id"), F.lit(10).alias("n"))
    packing.pack_sequences(df, "id", "n", budget=512).collect()
    packing.pack_sequences(df, "id", "n", budget=512).collect()
    assert len(packing._PERSISTED_SLICES) == 2
    assert all(s.storageLevel.useMemory for s in packing._PERSISTED_SLICES)
    slices = list(packing._PERSISTED_SLICES)
    assert packing.release_pack_caches() == 2
    assert packing._PERSISTED_SLICES == []
    assert all(not s.storageLevel.useMemory for s in slices)
    # explicit buckets: count-free, persist-free
    packing.pack_sequences(df, "id", "n", budget=512, buckets=8).collect()
    assert packing._PERSISTED_SLICES == []


def test_pack_sequences_portable_bucket_matches_md5(spark):
    """portable_bucket=True must scatter by the md5-prefix family the
    DuckDB oracle recomputes — pin the bucket arithmetic itself (the
    pack_id encodes bucket * 1e9, so the bucket is recoverable)."""
    import hashlib

    from udacity_data_engineering_capstone_project_spark.operators.packing import (
        pack_sequences,
    )

    df = spark.range(0, 64).select(F.col("id"), F.lit(10).alias("n"))
    out = pack_sequences(df, "id", "n", budget=512, buckets=8,
                         portable_bucket=True).collect()
    for r in out:
        expect = int(hashlib.md5(str(r["id"]).encode()).hexdigest()[:15], 16) % 8
        assert r["pack_id"] // 1_000_000_000 == expect, r
    # and the default (xxhash64) path still packs every item exactly once
    assert len({r["id"] for r in out}) == 64


def test_hash_split_disjoint_exhaustive_calibrated(spark, sf_dir):
    from udacity_data_engineering_capstone_project_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = docs.count()
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n  # exhaustive, disjoint by construction
    assert counts["train"] / n == pytest.approx(0.8, abs=0.1)
    # idempotent: same assignment on recompute
    again = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).select("doc_id", "split").collect()}
    first = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    assert first == again

    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"train": 0.5, "val": 0.1})


def test_deterministic_shuffle_stable_and_decorrelated(spark):
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    o1 = [r["doc_id"] for r in deterministic_shuffle(df, "doc_id", seed=1).collect()]
    o2 = [r["doc_id"] for r in deterministic_shuffle(df, "doc_id", seed=1).collect()]
    o3 = [r["doc_id"] for r in deterministic_shuffle(df, "doc_id", seed=2).collect()]
    assert o1 == o2           # same seed -> byte-stable order
    assert o1 != o3           # new seed -> new epoch order
    assert o1 != sorted(o1)   # actually shuffled


def test_mix_sources_hits_target_proportions(spark, sf_dir):
    from udacity_data_engineering_capstone_project_spark.operators.sampling import mix_sources

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    assert len(srcs) >= 2
    w = {srcs[0]: 0.7, srcs[1]: 0.3}
    out = mix_sources(docs, "doc_id", "source", w)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {srcs[0], srcs[1]}  # other sources dropped
    share = counts[srcs[0]] / sum(counts.values())
    assert share == pytest.approx(0.7, abs=0.12)
    # the scarcest source is never upsampled
    orig = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(counts[s] <= orig[s] for s in counts)

    with pytest.raises(ValueError):
        mix_sources(docs, "doc_id", "source", {"no_such_source": 1.0})


def test_redact_pii_spans_and_counts(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import redact_pii

    rows = [
        (1, "contact bob@example.com or visit https://x.io/a?b=1 now"),
        (2, "server at 10.0.0.1 called +1-800-555-1234 twice"),
        (3, "plain text, no pii here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in redact_pii(df, "text").collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_url"] == 1
    assert out[1]["redacted_text"] == "contact [EMAIL] or visit [URL] now"
    assert out[2]["n_ipv4"] == 1 and out[2]["n_phone"] >= 1
    assert "[IPV4]" in out[2]["redacted_text"] and "[PHONE]" in out[2]["redacted_text"]
    assert "555" not in out[2]["redacted_text"]
    assert out[3]["redacted_text"] == rows[2][1]
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"], out[3]["n_url"]) == (0, 0, 0, 0)


def test_weighted_hash_sample_quota_and_bias(spark):
    """Quota respected per stratum; selection frequency tracks weight
    (a 10x-weight row family must be strongly over-represented); no
    RNG: identical output across invocations; non-positive weights
    never sampled."""
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        weighted_hash_sample,
    )

    rows = [(i, "s", 100.0 if i % 10 == 0 else 10.0) for i in range(1000)]
    rows += [(2000, "s", 0.0), (2001, "s", -5.0)]
    df = spark.createDataFrame(rows, ["k", "src", "w"])
    got = weighted_hash_sample(df, "k", "w", quota=100, strata=["src"]).collect()
    assert len(got) == 100
    ids = {r["k"] for r in got}
    assert 2000 not in ids and 2001 not in ids
    heavy = sum(1 for i in ids if i % 10 == 0)
    # heavy rows are 10% of the population at 10x weight: without
    # weighting E[heavy] = 10; weighted, each heavy row's inclusion
    # odds dominate — expect a large multiple (observed ~40-60)
    assert heavy > 25, heavy
    again = {r["k"] for r in weighted_hash_sample(df, "k", "w", 100, ["src"]).collect()}
    assert ids == again
    # global (unstratified) path: top-k without a window
    topk = weighted_hash_sample(df, "k", "w", quota=7).collect()
    assert len(topk) == 7


def test_hashed_classifier_score_properties(spark):
    """Empty/short docs score exactly sigmoid(bias/1000); scores are
    deterministic and within (0, 1); row count is preserved."""
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        hashed_classifier_score,
    )

    rows = [(1, "alpha beta gamma delta"), (2, ""), (3, "word"), (4, "alpha beta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["clf_score"] for r in
           hashed_classifier_score(df, "doc_id", "text").collect()}
    assert len(out) == 4
    assert out[2] == 0.5 and out[3] == 0.5  # no bigrams -> sigmoid(0)
    assert 0.0 < out[1] < 1.0
    out2 = {r["doc_id"]: r["clf_score"] for r in
            hashed_classifier_score(df, "doc_id", "text").collect()}
    assert out == out2
    biased = {r["doc_id"]: r["clf_score"] for r in
              hashed_classifier_score(df, "doc_id", "text", bias=1000).collect()}
    assert biased[2] == round(1 / (1 + 2.718281828459045 ** -1.0), 6)


def test_bpe_train_and_tokenize(spark):
    """BPE end-to-end: the first learned merge is the corpus's most
    frequent adjacent pair; tokenization round-trips every document
    (concatenated tokens reproduce the word sequence); token counts
    shrink monotonically as merges are added; empty docs count 0."""
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        bpe_tokenize,
        train_bpe_merges,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cats sat"),
        (3, "thematic the the the"),
        (4, "12345 !!!"),  # no [a-z]+ words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = train_bpe_merges(df, "text", num_merges=10)
    assert merges[0] == ("h", "e")  # 'he' occurs in every 'the'
    assert ("t", "he") in merges

    out = {
        r["doc_id"]: r
        for r in bpe_tokenize(df, "doc_id", "text", merges, return_tokens=True).collect()
    }
    assert out[4]["n_bpe_tokens"] == 0 and out[4]["bpe_tokens"] == []
    import re

    for doc_id, text in rows[:3]:
        words = re.findall(r"[a-z]+", text.lower())
        joined = "".join(out[doc_id]["bpe_tokens"]).replace("_", " ").strip()
        assert joined == " ".join(words), (doc_id, out[doc_id]["bpe_tokens"])
        assert out[doc_id]["n_bpe_tokens"] == len(out[doc_id]["bpe_tokens"])

    # more merges never increase the token count
    n_few = {r["doc_id"]: r["n_bpe_tokens"]
             for r in bpe_tokenize(df, "doc_id", "text", merges[:2]).collect()}
    n_all = {r["doc_id"]: r["n_bpe_tokens"]
             for r in bpe_tokenize(df, "doc_id", "text", merges).collect()}
    assert all(n_all[d] <= n_few[d] for d in n_all)


def test_bpe_work_gate_routes_to_distributed_path(spark):
    """The driver-local merge loop is O(num_merges x total symbols); a
    row-count gate alone admits ~1e9-op driver stalls at the 1M-word
    edge (VERDICT r13 #6), so `driver_work_max` bounds the WORK. With
    the work budget at 0 the distributed rounds must run instead and
    produce byte-identical merge decisions."""
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        train_bpe_merges,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cats sat"),
        (3, "thematic the the the"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    local = train_bpe_merges(df, "text", num_merges=6)
    distributed = train_bpe_merges(df, "text", num_merges=6, driver_work_max=0)
    assert distributed == local
    # the row gate still routes small vocabularies locally by default
    assert train_bpe_merges(df, "text", num_merges=6, driver_vocab_max=0) == local


def test_train_hashed_classifier_learns_and_matches_numpy(spark):
    """Distributed full-batch logistic regression over hashed n-gram
    features: (a) separable two-vocabulary corpus trains to >=95%
    accuracy through apply_hashed_classifier; (b) weights and bias
    match an independent numpy reference running the IDENTICAL
    iteration schedule on the collected sparse features (the Spark
    path adds only float summation-order noise)."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        apply_hashed_classifier,
        hashed_ngram_features,
        train_hashed_classifier,
    )

    good_words = ["clean", "prose", "coherent", "cited", "edited", "fluent"]
    bad_words = ["zzspam", "qqclick", "xxwin", "vvfree", "kkcasino", "jjpill"]
    rng = np.random.default_rng(17)
    rows = []
    for i in range(60):
        vocab = good_words if i % 2 == 0 else bad_words
        words = [vocab[j] for j in rng.integers(0, len(vocab), 12)]
        rows.append((i, " ".join(words), i % 2 == 0))
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])

    nb, it, lr = 512, 25, 2.0
    wdf, bias = train_hashed_classifier(
        df, "doc_id", "text", "label",
        num_buckets=nb, iterations=it, learning_rate=lr,
    )

    scored = apply_hashed_classifier(
        df, "doc_id", "text", wdf, bias=bias, num_buckets=nb
    )
    got = {r["doc_id"]: r["clf_score"] for r in scored.collect()}
    acc = sum(1 for i, _, y in rows if (got[i] >= 0.5) == y) / len(rows)
    assert acc >= 0.95, f"train accuracy {acc}"

    # numpy reference on the same sparse features, same schedule
    feats = hashed_ngram_features(df, "doc_id", "text", num_buckets=nb).collect()
    X = np.zeros((len(rows), nb))
    for r in feats:
        X[r["doc_id"], r["bucket"]] = r["tf"]
    y = np.array([1.0 if i % 2 == 0 else 0.0 for i in range(len(rows))])
    w_ref = np.zeros(nb)
    b_ref = 0.0
    for _ in range(it):
        p = 1.0 / (1.0 + np.exp(-(X @ w_ref + b_ref)))
        e = p - y
        w_ref -= lr * (X.T @ e) / len(rows)
        b_ref -= lr * e.sum() / len(rows)
    w_got = np.zeros(nb)
    for r in wdf.collect():
        w_got[r["bucket"]] = r["weight"]
    assert np.allclose(w_got, w_ref, atol=1e-8), np.abs(w_got - w_ref).max()
    assert abs(bias - b_ref) < 1e-8

    # docs with no n-grams score sigmoid(bias)
    empty = spark.createDataFrame([(999, "")], ["doc_id", "text"])
    s = apply_hashed_classifier(
        empty, "doc_id", "text", wdf, bias=bias, num_buckets=nb
    ).collect()[0]["clf_score"]
    assert s == round(1.0 / (1.0 + np.exp(-bias)), 6)


def test_ngram_lm_stupid_backoff_matches_reference(spark):
    """Distributed stupid-backoff LM scoring matches an independent
    pure-Python reference on the collected counts: seen trigrams score
    at full order, unseen ones back off with the alpha discount, OOV
    tokens hit the unigram floor, empty docs score null."""
    import math

    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        _word_array,
        ngram_lm_logprob,
        train_ngram_lm,
    )

    train_rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the rug"),
        (3, "a dog sat on the mat near the cat"),
        (4, "the dog ran over the hill and the cat ran home"),
        (5, "hi"),       # shorter than n: must not crash training
        (6, ""),         # empty
        (7, None),       # NULL text: must not inject a NULL-gram row
    ]
    train_df = spark.createDataFrame(train_rows, ["doc_id", "text"])
    lm = train_ngram_lm(train_df, "text", n=3)
    counts = {r["gram"]: r["cnt"] for r in lm.collect()}
    assert None not in counts, "NULL text leaked a NULL-gram row"
    assert counts["hi"] == 1  # short doc still contributes unigrams
    total = counts[""]

    test_rows = [
        (10, "the cat sat on the mat"),          # fully seen
        (11, "the dog sat on the mat"),          # backoff mixtures
        (12, "the zebra sat quietly"),           # OOV tokens
        (13, ""),                                # empty
    ]
    test_df = spark.createDataFrame(test_rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in ngram_lm_logprob(
        test_df, "doc_id", "text", lm, n=3
    ).collect()}

    # tokenization must match the engine's own word_array
    toks = {
        r["doc_id"]: r["w"]
        for r in test_df.select("doc_id", _word_array("text").alias("w")).collect()
    }

    def ref_avg(words, n=3, alpha=0.4):
        if not words:
            return None
        logs = []
        for i in range(len(words)):
            K = min(n, i + 1)
            val = None
            for k in range(K, 0, -1):
                gram = " ".join(words[i - k + 1 : i + 1])
                ctx = " ".join(words[i - k + 1 : i]) if k > 1 else ""
                c = counts.get(gram)
                cc = total if k == 1 else counts.get(ctx)
                if c is not None and cc is not None:
                    val = (K - k) * math.log(alpha) + math.log(c / cc)
                    break
            if val is None:
                val = (K - 1) * math.log(alpha) - math.log(total)
            logs.append(val)
        return sum(logs) / len(logs)

    for doc_id in (10, 11, 12):
        expect = ref_avg(toks[doc_id])
        assert abs(got[doc_id]["avg_logprob"] - expect) < 1e-5, (doc_id, expect)
        assert abs(got[doc_id]["perplexity"] - math.exp(-expect)) < 1e-3
        assert got[doc_id]["n_tokens"] == len(toks[doc_id])
    assert got[13]["avg_logprob"] is None and got[13]["n_tokens"] == 0

    # the filter statistic orders docs sanely: in-domain < shuffled < OOV
    assert got[10]["perplexity"] < got[11]["perplexity"] < got[12]["perplexity"]

    # min_count pruning: trigrams/bigrams with cnt 1 vanish, scoring
    # backs off instead of erroring, and probabilities drop
    lm2 = train_ngram_lm(train_df, "text", n=3, min_count=2)
    got2 = {r["doc_id"]: r for r in ngram_lm_logprob(
        test_df, "doc_id", "text", lm2, n=3
    ).collect()}
    assert got2[11]["avg_logprob"] <= got[11]["avg_logprob"] + 1e-9


def test_gopher_quality_rules_hand_check(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        gopher_quality,
    )

    good = "the cat sat with that dog and they have fun " * 10  # 90 words
    docs = [
        (1, good),
        (2, "the of and"),  # too few words
        (3, "a b c " * 40),  # mean word len 1 < 3
        (4, good + " ### " * 30),  # symbol ratio > 0.1
        (5, "\n".join(["- item " + good[:40]] * 10)),  # 100% bullet lines
        (6, "\n".join([(good[:60] + "...")] * 10)),  # 100% ellipsis lines
        (7, good + " " + "12345 " * 100),  # alpha fraction < 0.8
        (8, "zzz qqq www " * 30),  # zero stopword hits
        (9, ""),  # empty
        (10, "   \n  "),  # whitespace only
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_quality(df, "doc_id", "text").collect()}

    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] == 3
    assert out[3]["keep"] is False and out[3]["mean_word_len"] == 1.0
    assert out[4]["keep"] is False and out[4]["symbol_word_ratio"] > 0.1
    assert out[5]["keep"] is False and out[5]["frac_bullet_lines"] == 1.0
    assert out[6]["keep"] is False and out[6]["frac_ellipsis_lines"] == 1.0
    assert out[7]["keep"] is False and out[7]["frac_alpha_words"] < 0.8
    assert out[8]["keep"] is False and out[8]["n_stop_hits"] == 0
    for i in (9, 10):
        assert out[i]["keep"] is False
        assert out[i]["n_words"] == 0
        assert out[i]["mean_word_len"] == 0.0
    # distinct stopword TYPES, not occurrences: the, with, that, and, have
    assert out[1]["n_stop_hits"] == 5


def test_gopher_quality_shuffle_free(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        gopher_quality,
    )

    df = spark.createDataFrame([(1, "the cat")], ["doc_id", "text"])
    plan = (
        gopher_quality(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_gopher_quality_null_text(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        gopher_quality,
    )

    df = spark.createDataFrame([(1, None)], "doc_id bigint, text string")
    r = gopher_quality(df, "doc_id", "text").collect()[0]
    assert r["n_words"] == 0 and r["keep"] is False


def test_cap_tokens_per_group_semantics(spark):
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        cap_tokens_per_group,
    )

    df = spark.createDataFrame(
        [(i, "g", 40) for i in range(10)] + [(100, "h", 500), (101, "h", None)],
        "k bigint, g string, w int",
    )
    # explicit order: by key ascending
    out = cap_tokens_per_group(
        df, ["g"], "w", budget=100, order_cols=[F.col("k")]
    ).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["k"])
    # 40+40 = 80 < 100, third row STARTS at 80 < 100 -> kept (overshoot
    # by at most one doc); fourth starts at 120 -> dropped
    assert sorted(by_g["g"]) == [0, 1, 2]
    # 500 starts at 0 -> kept even though it alone busts the budget;
    # null weight counts as 0 tokens and 500 >= 100 blocks the rest
    assert sorted(by_g["h"]) == [100]

    # hash order: deterministic across invocations
    a = {r["k"] for r in cap_tokens_per_group(
        df, ["g"], "w", budget=100, key_col="k").collect()}
    b = {r["k"] for r in cap_tokens_per_group(
        df, ["g"], "w", budget=100, key_col="k").collect()}
    assert a == b and len(a) >= 2

    import pytest as _pytest
    with _pytest.raises(ValueError, match="budget"):
        cap_tokens_per_group(df, ["g"], "w", budget=-1, key_col="k")
    with _pytest.raises(ValueError, match="key_col"):
        cap_tokens_per_group(df, ["g"], "w", budget=10)


HTML_SAMPLES = [
    "<html><head><title>T</title></head><body><h1>Hello</h1>"
    "<p>World &amp; friends</p><script>var x = '<p>no</p>';</script>"
    "<ul><li>one</li><li>two</li></ul></body></html>",
    "plain text stays   as is",
    "<div>a</div><div>b</div><!-- secret --><style>p { color: red }</style>",
    "5 &lt; 6 &amp;&amp; 7 &gt; 2, &quot;q&quot; &#39;s&#39; a&nbsp;b",
    "<p>broken <b>nested</p></b> tags<br>line",
    # <header> must NOT be swallowed by the <head> block rule, and
    # <pre>/<param>/<link> must not match the p|li|tr newline rule
    "<header>Nav Text</header><p>body</p><head><title>t</title></head>",
    "<pre>code</pre><param name=x><link rel=y>tail",
]


def test_extract_links_and_host_edges(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        extract_links,
        host_link_edges,
    )

    df = spark.createDataFrame(
        [
            (1, '<a href="http://a.example/x">t</a> <img src=\'https://b.example/i.png\'>'),
            (2, "<a HREF=\"HTTP://a.example/y\">caps</a> <a href='mailto:x@y.z'>m</a>"),
            (3, '<a href="/relative/only">r</a>'),   # no absolute links
            (4, "no markup at all"),
            (5, None),
            # r11 (VERDICT r10 #8): data-href is NOT harvested (the
            # anchored alternation rejects a preceding hyphen)...
            (6, '<a data-href="http://c.example/via-data">d</a>'),
            # ...and unquoted attribute values ARE (valid HTML5)
            (7, "<script src=http://u.example/unq.js></script>"),
        ],
        "doc_id bigint, html string",
    )
    links = extract_links(df, "doc_id", "html")
    got = {(r["doc_id"], r["link"]) for r in links.collect()}
    assert (1, "http://a.example/x") in got
    assert (1, "https://b.example/i.png") in got
    assert (2, "HTTP://a.example/y") in got          # case-insensitive attr
    assert (2, "mailto:x@y.z") in got                # extraction keeps it...
    assert (3, "/relative/only") in got
    assert not any(d in (4, 5, 6) for d, _ in got)   # no links / data-href -> no rows
    assert (7, "http://u.example/unq.js") in got     # unquoted value captured

    edges = host_link_edges(
        links.withColumn("src", F.concat(F.lit("s"), F.col("doc_id").cast("string"))),
        "src",
    )
    e = {(r["src_host"], r["dst_host"]): r["n_links"] for r in edges.collect()}
    # ...but the host edge pass drops mailto/relative (no http authority)
    assert e == {
        ("s1", "a.example"): 1,
        ("s1", "b.example"): 1,
        ("s2", "a.example"): 1,
        ("s7", "u.example"): 1,
    }


def test_strip_html_extraction(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        strip_html,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(HTML_SAMPLES)] + [(99, None)],
        "id bigint, t string",
    )
    out = {r["id"]: r["t"] for r in strip_html(df, "t").collect()}
    # head (and its title) is metadata, not visible text
    assert out[0] == "Hello\nWorld & friends\none\ntwo"
    assert out[1] == "plain text stays as is"
    assert out[2] == "a\nb"
    assert out[3] == '5 < 6 && 7 > 2, "q" \'s\' a b'
    assert out[4] == "broken nested\ntags\nline"
    assert out[5] == "Nav Text\nbody"
    assert out[6] == "code tail"  # no spurious newlines from pre/param/link
    assert out[99] is None


def test_strip_html_duckdb_parity(spark):
    """The extraction chain is RE2-safe by construction — replay the
    identical regex chain in DuckDB and demand identical output."""
    import duckdb

    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        strip_html,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(HTML_SAMPLES)], "id bigint, t string"
    )
    got = {r["id"]: r["t"] for r in strip_html(df, "t").collect()}
    con = duckdb.connect()
    for i, s in enumerate(HTML_SAMPLES):
        expr = "?"
        for tag in ("script", "style", "head", "template"):
            expr = (
                f"regexp_replace({expr}, '(?is)<{tag}(>|[\\s/][^>]*>)"
                f".*?</{tag}\\s*>', ' ', 'g')"
            )
        expr = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
        expr = (
            f"regexp_replace({expr}, '(?i)</?(p|div|li|tr|h[1-6]|br)"
            "(>|[\\s/][^>]*>)', chr(10), 'g')"
        )
        expr = f"regexp_replace({expr}, '(?s)<[^>]*>', ' ', 'g')"
        for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                        ("&quot;", '"'), ("&#39;", ""), ("&amp;", "&")):
            rep = "''" if ent == "&#39;" else ch
            expr = f"regexp_replace({expr}, '{ent}', '{rep}', 'g')"
        expr = f"regexp_replace({expr}, '[ \\t]+', ' ', 'g')"
        expr = f"regexp_replace({expr}, ' ?\\n ?', chr(10), 'g')"
        expr = f"regexp_replace({expr}, '\\n{{2,}}', chr(10), 'g')"
        expr = f"regexp_replace({expr}, '^\\s+|\\s+$', '', 'g')"
        want = con.sql(f"SELECT {expr}", params=[s]).fetchone()[0]
        assert got[i] == want, (i, s)


def test_temperature_mix_flattens_toward_uniform(spark):
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        temperature_mix,
    )

    rows = (
        [(i, "web") for i in range(4000)]
        + [(10_000 + i, "books") for i in range(400)]
        + [(20_000 + i, "code") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, source string")

    # T=1: natural proportions — nothing is dropped
    t1 = temperature_mix(df, "doc_id", "source", temperature=1.0)
    assert t1.count() == len(rows)

    # T=2: shares ~ sqrt(n); the scarcest source is fully kept and the
    # big-source dominance shrinks from 100x to ~10x
    t2 = temperature_mix(df, "doc_id", "source", temperature=2.0)
    c2 = {r["source"]: r["n"] for r in t2.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert c2["code"] == 40  # binding source keeps everything
    ratio = c2["web"] / c2["code"]
    assert 7 <= ratio <= 13, c2  # sqrt(4000/40) = 10, hash-rate noise
    assert 2 <= c2["web"] / c2["books"] <= 4.5, c2  # sqrt(10) ~ 3.2

    # larger T flattens further (monotone dominance decay)
    t8 = temperature_mix(df, "doc_id", "source", temperature=8.0)
    c8 = {r["source"]: r["n"] for r in t8.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert c8["web"] / c8["code"] < ratio

    # determinism: same call -> identical membership
    a = {r["doc_id"] for r in t2.collect()}
    b = {r["doc_id"] for r in temperature_mix(
        df, "doc_id", "source", temperature=2.0).collect()}
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError, match="temperature"):
        temperature_mix(df, "doc_id", "source", temperature=0)
    empty = spark.createDataFrame([], "doc_id bigint, source string")
    assert temperature_mix(empty, "doc_id", "source", 2.0).count() == 0


def test_language_id_learns_constructed_languages(spark):
    """NB language ID must separate languages with distinct character
    statistics (the synthetic testdata's lang labels are random, so
    the accuracy check lives on a constructed corpus)."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        apply_language_id,
        train_language_id,
    )

    vocab = {
        "aa": ["apple", "anchor", "aspect", "avenue", "animal", "arcade"],
        "bb": ["bubble", "border", "basket", "bottle", "bounce", "bureau"],
        "cc": ["circle", "cursor", "candle", "copper", "canyon", "cellar"],
    }
    rng = np.random.RandomState(2)
    rows = []
    i = 0
    for lang, words in vocab.items():
        for _ in range(40):
            text = " ".join(rng.choice(words, size=12))
            rows.append((i, lang, text))
            i += 1
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    model, info = train_language_id(df, "text", "lang")
    pred = apply_language_id(df, "doc_id", "text", model, info)
    joined = {r["doc_id"]: r["pred_label"] for r in pred.collect()}
    truth = {r[0]: r[1] for r in rows}
    acc = sum(joined[d] == truth[d] for d in truth) / len(truth)
    assert acc >= 0.99, acc

    # held-out docs from the same vocabularies classify correctly too
    test_rows = [
        (1000, "aa", "anchor avenue apple aspect arcade"),
        (1001, "bb", "bottle basket bubble bounce"),
        (1002, "cc", "copper candle circle cursor"),
    ]
    tdf = spark.createDataFrame(test_rows, "doc_id bigint, lang string, text string")
    tp = {r["doc_id"]: r["pred_label"]
          for r in apply_language_id(tdf, "doc_id", "text", model, info).collect()}
    assert tp == {1000: "aa", 1001: "bb", 1002: "cc"}

    # fully OOV text exercises the default-weight path and still
    # returns a deterministic verdict; empty text gets the prior-max
    # (all priors equal here -> smallest label)
    odf = spark.createDataFrame(
        [(1, "zzz qqq xxx www"), (2, "")], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r["pred_label"]
           for r in apply_language_id(odf, "doc_id", "text", model, info).collect()}
    assert set(out) == {1, 2}
    assert out[2] == "aa"  # equal priors, tie -> smallest label

    # repartitioning must not change a single prediction (integer sums)
    p2 = {r["doc_id"]: r["pred_label"]
          for r in apply_language_id(
              df.repartition(13), "doc_id", "text", model, info).collect()}
    assert p2 == joined

    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id bigint, lang string, text string")
    with _pytest.raises(ValueError, match="empty"):
        train_language_id(empty, "text", "lang")


def _language_id_scored_grid(spark, sf_dir):
    """Full (doc, label) score grid for the graded language_id corpus —
    the internals of apply_language_id, kept open so tests can reason
    about top-2 margins (apply itself only returns the argmax)."""
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        _ngram_bucket,
        char_shingles,
        train_language_id,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("lang").isNotNull() & F.col("text").isNotNull())
    )
    model, info = train_language_id(docs, "text", "lang")
    sh = (
        docs.select("doc_id", F.explode(char_shingles("text", 3)).alias("g"))
        .select("doc_id", _ngram_bucket(F.col("g"), 4096).alias("bucket"))
        .dropDuplicates(["doc_id", "bucket"])
    )
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("S"))
    matched = (
        sh.join(model, on="bucket")
        .groupBy("doc_id", "label")
        .agg(F.sum("w").alias("sw"), F.count(F.lit(1)).alias("cnt"))
    )
    grid = docs.select("doc_id").distinct().crossJoin(info)
    return (
        grid.join(per_doc, on="doc_id", how="left")
        .join(matched, on=["doc_id", "label"], how="left")
        .select(
            "doc_id",
            "label",
            (
                F.col("prior_w")
                + F.coalesce(F.col("sw"), F.lit(0))
                + (
                    F.coalesce(F.col("S"), F.lit(0))
                    - F.coalesce(F.col("cnt"), F.lit(0))
                )
                * F.col("default_w")
            ).alias("score"),
            F.coalesce(F.col("S"), F.lit(0)).alias("S"),
        )
    )


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_language_id_margin_headroom(spark, sf):
    """The graded language_id_q contract exposes pred_label (not the
    raw score) because each engine recomputes every ln() with its own
    libm: a 1-ulp difference moves one integer weight by at most 1, so
    a doc matching S buckets sees its top-2 margin perturbed by at
    most 2*(S+1). pred_label is therefore platform-safe iff every
    doc's margin clears that jitter bound with room. This pins >=20x
    headroom on the driver's graded scales (r5 lesson: the driver's
    DuckDB libm broke the score hash while all 500 predictions
    agreed)."""
    from pyspark.sql import Window

    scored = _language_id_scored_grid(spark, sf)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("label"))
    top2 = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("doc_id")
        .agg(
            F.max("S").alias("S"),
            (F.max("score") - F.min("score")).alias("margin"),
        )
    )
    row = top2.select(
        F.min(F.col("margin") / (2 * (F.col("S") + 1))).alias("min_ratio"),
        F.min("margin").alias("min_margin"),
    ).collect()[0]
    assert row["min_margin"] > 0, "exact top-2 tie: argmax not engine-stable"
    assert row["min_ratio"] >= 20.0, (
        f"margin/jitter headroom {row['min_ratio']:.1f}x < 20x — the "
        "graded pred_label is no longer provably libm-safe on this data"
    )


def test_language_id_exact_scores_vs_duckdb(spark, sf_dir):
    """Exact integer-score parity with a DuckDB retrain — the strict
    check that r5 proved NOT platform-portable (driver libm flipped a
    round(1e6*ln) weight) and r6 therefore moved out of the graded
    projection. Here one machine's libm computes both sides, so the
    scores must match bit-for-bit; this pins the scoring semantics."""
    from tests.oracle_utils import compare_frames, run_oracle
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        apply_language_id,
        train_language_id,
    )

    score_oracle = """
    WITH base AS (
        SELECT doc_id, lang AS label, lower(text) AS t
        FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
    ),
    sh AS (
        SELECT DISTINCT doc_id, label,
               CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS bucket
        FROM (
            SELECT doc_id, label,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(length(t) - 2, 0) + 1),
                       i -> substr(t, i, 3)))) AS g
            FROM base)
    ),
    n_docs AS (SELECT label, count(*) AS n FROM base GROUP BY 1),
    tot AS (SELECT count(*) AS c FROM base),
    presence AS (
        SELECT bucket, label, count(*) AS d FROM sh GROUP BY 1, 2
    ),
    dense AS (
        SELECT b.bucket, l.label,
               CAST(round(1000000.0 *
                    ln((COALESCE(p.d, 0) + 1.0) / (l.n + 2.0))) AS BIGINT) AS w
        FROM (SELECT DISTINCT bucket FROM sh) b
        CROSS JOIN n_docs l
        LEFT JOIN presence p ON p.bucket = b.bucket AND p.label = l.label
    ),
    info AS (
        SELECT label,
               CAST(round(1000000.0 * ln(n * 1.0 / tot.c)) AS BIGINT) AS prior_w
        FROM n_docs, tot
    ),
    scored AS (
        -- CAST: DuckDB sum(BIGINT) -> HUGEINT -> float64 locally vs
        -- Spark's int64 (the pr_curve_q class; surfaced by the r8
        -- dtype-kind gate on its first full-suite run)
        SELECT s.doc_id, d.label, CAST(sum(d.w) AS BIGINT) AS sw,
               count(*) AS n_buckets
        FROM (SELECT DISTINCT doc_id, bucket FROM sh) s
        JOIN dense d USING (bucket)
        GROUP BY 1, 2
    ),
    final AS (
        SELECT scored.doc_id, scored.label,
               scored.sw + info.prior_w AS score, scored.n_buckets
        FROM scored JOIN info USING (label)
    )
    SELECT doc_id, label AS pred_label, score, n_buckets
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
          FROM final)
    WHERE rn = 1
    """
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("lang").isNotNull() & F.col("text").isNotNull())
    )
    model, info = train_language_id(docs, "text", "lang")
    out = apply_language_id(
        docs.select("doc_id", "text"), "doc_id", "text", model, info
    )
    compare_frames(
        out.toPandas(), run_oracle(score_oracle, sf_dir), "language_id_scores"
    )


def test_cap_tokens_distributed_prefix_equals_single_window(spark):
    """The default hash-order path decomposes the per-group running
    sum into 256 contiguous md5-prefix ranges (offsets + within-range
    windows) — an EXACT distributed prefix sum. Pin equality against
    the naive single-window formulation, and pin that the big window
    really partitions by (group, bucket), not group alone (the one-
    task-per-50TB-source wall the decomposition exists to remove)."""
    from pyspark.sql import Window

    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        cap_tokens_per_group,
        hash_bucket,
    )

    rows = [
        (i, f"src{i % 3}", (i * 37) % 500 + 1) for i in range(400)
    ] + [(1000, "src0", None), (1001, None, 50)]  # null weight + null group
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n bigint")

    got = cap_tokens_per_group(df, ["source"], "n", 900, key_col="doc_id")

    w = (
        Window.partitionBy("source")
        .orderBy(hash_bucket("doc_id", 8), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        df.withColumn(
            "__s", F.sum(F.coalesce(F.col("n"), F.lit(0))).over(w)
            - F.coalesce(F.col("n"), F.lit(0))
        )
        .filter(F.col("__s") < 900)
        .drop("__s")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )
    # schema untouched by the internal columns
    assert got.columns == df.columns

    plan = got._jdf.queryExecution().optimizedPlan().toString()
    import re

    # every full-input running-sum window must carry the bucket in its
    # partition spec; the offsets window (over the tiny totals frame)
    # is the only group-only window allowed
    big_windows = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition(source" in ln and "__b" not in ln
    ]
    assert not big_windows, big_windows


# ---------------------------------------------------------------------------
# compression_ratio (operators/textstats.py) — zlib crawl-quality signal
# ---------------------------------------------------------------------------


def test_compression_ratio_orders_spam_below_prose_and_junk_above(spark):
    import os

    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        compression_ratio,
    )

    spam = "buy cheap pills " * 200                      # template repetition
    prose = (
        "The committee convened at dawn; arguments ranged from fiscal "
        "prudence to outright alarm, and no two members agreed on the "
        "remedy, though all conceded the diagnosis was sound. "
    ) * 8
    junk = bytes(os.urandom(1500)).hex()  # incompressible-ish hex soup
    df = spark.createDataFrame(
        [(1, spam), (2, prose), (3, junk), (4, None), (5, "")],
        "id bigint, text string",
    )
    out = {r.id: r.compress_ratio for r in compression_ratio(df).collect()}
    assert out[1] < 0.1                   # spam compresses drastically
    assert 0.1 < out[2] < 0.75            # prose in the natural band
    assert out[3] > out[2] > out[1]       # monotone quality ordering
    assert out[4] is None and out[5] is None

    # deterministic across runs (no wall-clock in the deflate stream)
    again = {r.id: r.compress_ratio for r in compression_ratio(df).collect()}
    assert out == again


def test_compression_ratio_validates_level_and_is_map_only(spark):
    import pytest as _pytest

    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        compression_ratio,
    )

    df = spark.createDataFrame([(1, "x")], "id bigint, text string")
    with _pytest.raises(ValueError, match="level"):
        compression_ratio(df, level=0)
    plan = (
        compression_ratio(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# screen_blocked_terms (operators/textstats.py) — blocklist phrase screen
# ---------------------------------------------------------------------------


def test_blocklist_whole_word_semantics(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        screen_blocked_terms,
    )

    df = spark.createDataFrame(
        [
            (1, "A Bad  Actor! appeared"),      # case + punct + doublespace
            (2, "the badge actor arrives"),     # no mid-word bleed
            (3, "embaddactor"),                 # no substring bleed
            (4, "bad actors"),                  # 'actors' != 'actor'
            (5, "so bad actor bad actor"),      # dedup to one row
            (6, None),                          # NULL text -> no rows
            (7, "spark here"),                  # single-word phrase
        ],
        "id bigint, text string",
    )
    out = screen_blocked_terms(df, "id", ["bad actor", "spark"])
    got = {(r.id, r.phrase) for r in out.collect()}
    assert got == {(1, "bad actor"), (5, "bad actor"), (7, "spark")}


def test_blocklist_matches_bruteforce_randomized(spark):
    """Token-prefilter plan == brute-force padded-contains over random
    word soup (the declarative contract, independent of the join
    shape)."""
    import random

    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        screen_blocked_terms,
    )

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(150)
    ]
    phrases = ["alpha beta", "gamma", "beta gamma delta", "eps eps"]
    df = spark.createDataFrame(rows, "id bigint, text string")
    got = {(r.id, r.phrase) for r in screen_blocked_terms(df, "id", phrases).collect()}
    want = {
        (i, p)
        for i, t in rows
        for p in phrases
        if f" {p} " in f" {t} "
    }
    assert got == want


def test_blocklist_validation_and_plan(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        screen_blocked_terms,
    )

    df = spark.createDataFrame([(1, "x")], "id bigint, text string")
    with pytest.raises(ValueError, match="non-empty"):
        screen_blocked_terms(df, "id", ["  ", ""])
    with pytest.raises(ValueError, match="duplicate"):
        screen_blocked_terms(df, "id", ["A  b", "a b"])
    plan = (
        screen_blocked_terms(df, "id", ["a b"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # phrases broadcast; the corpus side never shuffles before the join
    assert "BroadcastHashJoin" in plan


def test_blocklist_literal_and_broadcast_prefilters_agree(spark, monkeypatch):
    """The two prefilter strategies (small-list array LITERAL — stays
    in whole-stage codegen, measured 2.5x faster on the corpus scan —
    vs the one-row broadcast SET for 100k-entry lists) must be
    equal-output on the same inputs; the gate is size-only."""
    import random

    import udacity_data_engineering_capstone_project_spark.operators.textstats as ts

    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10))))
        for i in range(120)
    ]
    phrases = ["alpha beta", "gamma", "zeta eps", "delta"]
    df = spark.createDataFrame(rows, "id bigint, text string")
    monkeypatch.setattr(ts, "_BLOCKLIST_LITERAL_MAX", 64)
    lit = {(r.id, r.phrase) for r in
           ts.screen_blocked_terms(df, "id", phrases).collect()}
    monkeypatch.setattr(ts, "_BLOCKLIST_LITERAL_MAX", 0)
    bcast = {(r.id, r.phrase) for r in
             ts.screen_blocked_terms(df, "id", phrases).collect()}
    assert lit == bcast
    assert lit  # non-degenerate: some matches exist


def test_blocklist_phrases_with_punctuation_match_tokenized_text(spark):
    """Review regression: 'bad-actor' must match 'bad-actor' in text —
    phrase-side normalization uses the same ASCII \\W+ rule as the
    document side (it used to match nothing, silently)."""
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        screen_blocked_terms,
    )

    df = spark.createDataFrame(
        [(1, "he is a bad-actor today"), (2, "credit card no. 1234"),
         (3, "clean text")],
        "id bigint, text string",
    )
    got = {(r.id, r.phrase) for r in
           screen_blocked_terms(df, "id", ["bad-actor", "card no."]).collect()}
    assert got == {(1, "bad-actor"), (2, "card no.")}


def test_split_with_dedup_guard_cluster_cohesion(spark):
    """Every near-dup cluster lands in exactly one split (the leakage
    guarantee), unpaired docs represent themselves, and the straddle
    audit is 0 for the guard's own output but catches an id-keyed
    split that DOES straddle a cluster."""
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        assert_no_split_straddle,
        hash_split,
        split_with_dedup_guard,
    )

    docs = spark.range(300).withColumnRenamed("id", "doc_id")
    # a 4-chain, a 2-clique and a far-apart chain; everything else unpaired
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 250)], ["id_a", "id_b"]
    )
    out = split_with_dedup_guard(
        docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    rows = {r["doc_id"]: (r["representative"], r["split"]) for r in out.collect()}
    assert len(rows) == 300
    # chain collapses to its min even though (0,3) was never an edge
    assert {rows[i][0] for i in (0, 1, 2, 3)} == {0}
    assert {rows[i][0] for i in (10, 11)} == {10}
    assert {rows[i][0] for i in (20, 250)} == {20}
    # unpaired doc represents itself
    assert rows[100][0] == 100
    # cohesion: one split per cluster
    for cluster in ((0, 1, 2, 3), (10, 11), (20, 250)):
        assert len({rows[i][1] for i in cluster}) == 1
    assert assert_no_split_straddle(out, pairs, "doc_id") == 0

    # id-keyed split on the same corpus straddles at least one cluster
    # (deterministic md5 facts: 20 -> train-range, 250 -> val-range)
    naive = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert assert_no_split_straddle(naive, pairs, "doc_id") >= 1


def test_bpe_fold_equals_wrapped_replace(spark):
    """The bpe_train_q/bpe_tokenize_q oracles rest on one identity:
    textstats' JVM aggregate-fold merge == left-to-right replace() over
    the chr(31)-wrapped symbol string (plans/queries._bpe_oracle_sql).
    Pin it on hostile shapes: runs (overlap rule), alternations,
    '_' markers, merges of already-merged symbols."""
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        _merge_pair_fold,
    )

    def wrapped(syms):
        return "\x1f" + "\x1f\x1f".join(syms) + "\x1f"

    def unwrap(s):
        return s[1:-1].split("\x1f\x1f")

    words = ["aaaa_", "abab_", "aab_", "banana_", "aaa_", "x_", "nanana_"]
    merge_seqs = [
        [("a", "a"), ("aa", "aa")],
        [("a", "b"), ("ab", "ab")],
        [("a", "_")],
        [("n", "a"), ("na", "na"), ("b", "a")],
        [("a", "n"), ("an", "an"), ("an", "a")],
    ]
    for seq in merge_seqs:
        df = spark.createDataFrame([(w,) for w in words], ["w"]).withColumn(
            "syms", F.split("w", "")
        )
        expected = {}
        for w in words:
            s = wrapped(list(w))
            for a, b in seq:
                s = s.replace(
                    f"\x1f{a}\x1f\x1f{b}\x1f", f"\x1f{a}{b}\x1f"
                )  # str.replace is left-to-right non-overlapping, like SQL
            expected[w] = unwrap(s)
        for a, b in seq:
            df = df.withColumn("syms", _merge_pair_fold("syms", a, b))
        got = {r["w"]: list(r["syms"]) for r in df.collect()}
        assert got == expected, (seq, got, expected)
