"""Source robustness: malformed CSV handling, bucketed shuffle-free
joins."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from udacity_data_engineering_capstone_project_spark.sources.readers import read_csv
from udacity_data_engineering_capstone_project_spark.sources.sinks import (
    write_bucketed_table,
)

SCHEMA = StructType(
    [
        StructField("city", StringType()),
        StructField("temp", DoubleType()),
    ]
)


@pytest.fixture()
def bad_csv(tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("city,temp\nNYC,20.5\nMIA,not_a_number\nLAX,30.0\n")
    return str(p)


def test_csv_permissive_quarantines_bad_rows(spark, bad_csv):
    df = read_csv(spark, bad_csv, schema=SCHEMA, corrupt_column="_corrupt")
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(bad) == 1 and bad[0]["temp"] is None
    assert "not_a_number" in bad[0]["_corrupt"]


def test_csv_dropmalformed(spark, bad_csv):
    df = read_csv(spark, bad_csv, schema=SCHEMA, mode="DROPMALFORMED")
    assert {r["city"] for r in df.collect()} == {"NYC", "LAX"}


def test_csv_failfast(spark, bad_csv):
    with pytest.raises(Exception):
        read_csv(spark, bad_csv, schema=SCHEMA, mode="FAILFAST").collect()


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    left = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )
    write_bucketed_table(left, "bk_left", ["k"], num_buckets=8, sort_cols=["k"])
    write_bucketed_table(right, "bk_right", ["k"], num_buckets=8, sort_cols=["k"])
    try:
        joined = spark.table("bk_left").join(spark.table("bk_right"), on="k")
        assert joined.count() == 5000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed tables join without a shuffle exchange
        assert "Exchange hashpartitioning" not in plan.split("== Initial Plan ==")[0]
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_read_json_declared_schema_and_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from udacity_data_engineering_capstone_project_spark.sources.readers import read_json

    p = str(tmp_path / "data.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "name": "ok"}\n')
        f.write('{"id": "NOT_A_NUMBER", "name": "bad"}\n')
        f.write('{"id": 3, "name": "fine"}\n')
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    df = read_json(spark, p, schema=schema, corrupt_column="_corrupt").cache()
    rows = {r["name"]: r for r in df.collect() if r["name"] is not None}
    assert rows["ok"]["id"] == 1 and rows["ok"]["_corrupt"] is None
    assert rows["fine"]["id"] == 3
    # the malformed record is quarantined, not dropped
    bad = [r for r in df.collect() if r["_corrupt"] is not None]
    assert len(bad) == 1 and "NOT_A_NUMBER" in bad[0]["_corrupt"]
    df.unpersist()


def test_diagnose_skew_heavy_hitters(spark):
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.quality import diagnose_skew

    # key 0 owns half the table, others uniform
    df = spark.range(0, 10000).select(
        F.when(F.col("id") < 5000, 0).otherwise(F.col("id") % 100 + 1).alias("k")
    )
    out = diagnose_skew(df, ["k"], top=3).collect()
    assert out[0]["k"] == 0 and out[0]["n_rows"] == 5000
    assert abs(out[0]["row_share"] - 0.5) < 1e-9
    assert out[0]["n_rows"] > out[1]["n_rows"] >= out[2]["n_rows"]


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/source: exact roundtrip of a TPC-H slice, and the
    filter reaches the ORC scan (PushedFilters) like parquet."""
    from udacity_data_engineering_capstone_project_spark.sources.readers import (
        read_orc,
        read_table,
    )
    from udacity_data_engineering_capstone_project_spark.sources.sinks import write_orc

    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path)
    back = read_orc(spark, path)
    assert sorted(back.collect()) == sorted(nation.collect())
    filtered = back.filter(back["n_regionkey"] == 1).select("n_name")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_regionkey" in plan


def test_streaming_merge_into_dimension(spark, tmp_path):
    """Incremental dimension maintenance end-to-end: two change drops
    land as separate files; each availableNow run merges exactly the
    new changes into a fresh immutable dimension version, last writer
    wins per key, and the reader resolves the latest version."""
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        merge_stream_into_dimension,
        read_dimension,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    dim = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = "k LONG, attr STRING, seq LONG"

    def drop(name, rows):
        # flat single parquet FILES (spark writes directories, which
        # the file-stream source does not recurse into)
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], type=pa.int64()),
                    "attr": [r[1] for r in rows],
                    "seq": pa.array([r[2] for r in rows], type=pa.int64()),
                }
            ),
            str(landing / name),
        )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(landing))
        return merge_stream_into_dimension(
            spark, stream, dim, ckpt, ["k"], "seq"
        )

    drop("drop1.parquet", [(1, "a0", 1), (2, "b0", 1), (1, "a1", 2)])
    assert run() == 1
    snap1 = {r["k"]: r["attr"] for r in read_dimension(spark, dim).collect()}
    assert snap1 == {1: "a1", 2: "b0"}  # within-batch last-writer-wins

    drop("drop2.parquet", [(2, "b1", 3), (3, "c0", 3)])
    assert run() == 1  # only the delta is processed
    snap2 = {r["k"]: r["attr"] for r in read_dimension(spark, dim).collect()}
    assert snap2 == {1: "a1", 2: "b1", 3: "c0"}

    # time travel: version 0 is the immutable pre-drop2 snapshot
    asof0 = {r["k"]: r["attr"] for r in read_dimension(spark, dim, version=0).collect()}
    assert asof0 == snap1

    # no new files -> no new version, reader still resolves latest
    assert run() == 0
    assert {r["k"]: r["attr"] for r in read_dimension(spark, dim).collect()} == snap2


def test_write_training_shards_deterministic_and_manifested(spark, tmp_path):
    """The training-export contract: (1) shard assignment is a pure
    function of (key, seed) — identical across input partition layouts;
    (2) a new seed is a different permutation; (3) the _MANIFEST.json
    describes exactly what is on disk (rows sum to the input, bytes and
    files counted from the committed directories); (4) within-shard
    order is decorrelated from key order (the whole point of the
    export)."""
    import glob
    import json

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.sources.sinks import (
        write_training_shards,
    )

    df = spark.range(2_000).selectExpr(
        "concat('doc-', id) AS doc_id", "md5(cast(id AS string)) AS text"
    )
    path = str(tmp_path / "shards")
    manifest = write_training_shards(df, path, "doc_id", num_shards=8, seed=1)

    assert [m["shard"] for m in manifest] == list(range(8))
    assert sum(m["rows"] for m in manifest) == 2_000
    assert all(m["files"] >= 1 and m["bytes"] > 0 for m in manifest)
    # no pathological imbalance (binomial: mean 250, sd ~15)
    assert all(150 <= m["rows"] <= 350 for m in manifest)
    # the manifest on disk is the returned one
    with open(f"{path}/_MANIFEST.json") as fh:
        assert json.load(fh) == manifest

    back = spark.read.parquet(path)
    assert back.count() == 2_000
    # shard is the documented pure function of (key, seed)
    mismatch = back.filter(
        F.col("shard") != F.pmod(F.xxhash64(F.col("doc_id"), F.lit(1)), F.lit(8))
    ).count()
    assert mismatch == 0

    # same seed, adversarial input layout -> byte-identical assignment
    path2 = str(tmp_path / "shards_relayout")
    write_training_shards(
        df.repartition(3).sortWithinPartitions("text"),
        path2, "doc_id", num_shards=8, seed=1,
    )
    a = {r["doc_id"]: r["shard"] for r in back.select("doc_id", "shard").collect()}
    b = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(path2).select("doc_id", "shard").collect()
    }
    assert a == b

    # a new seed actually reshuffles
    path3 = str(tmp_path / "shards_epoch2")
    write_training_shards(df, path3, "doc_id", num_shards=8, seed=2)
    c = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(path3).select("doc_id", "shard").collect()
    }
    assert a != c

    # within one shard file, rows are NOT in key order (decorrelated)
    import pyarrow.parquet as pq

    f0 = sorted(glob.glob(f"{path}/shard=0/part-*.parquet"))[0]
    ids = pq.read_table(f0, columns=["doc_id"]).column(0).to_pylist()
    assert len(ids) > 10 and ids != sorted(ids)

    # files_per_shard splits output files; rows/assignment unchanged
    path4 = str(tmp_path / "shards_split")
    m4 = write_training_shards(
        df, path4, "doc_id", num_shards=4, seed=1, files_per_shard=3
    )
    assert sum(m["rows"] for m in m4) == 2_000
    assert sum(m["files"] for m in m4) >= 4

    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_training_shards(df, path, "doc_id", num_shards=0)


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """64 tiny files compact into the byte-budgeted file count with
    identical rows; sorted mode restores per-file clustering (footer
    min/max spans shrink)."""
    from udacity_data_engineering_capstone_project_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "small")
    spark.range(10_000).selectExpr(
        "id", "id % 97 AS k", "md5(cast(id AS string)) AS payload"
    ).repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*")) == 64

    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_file_bytes=256 * 1024)
    files = glob.glob(f"{out}/part-*")
    assert len(files) == n and n < 16
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(out).orderBy("id").collect()
    assert a == b

    out2 = str(tmp_path / "compacted_sorted")
    compact_parquet(spark, src, out2, target_file_bytes=256 * 1024,
                    sort_within_by=["k"])
    import pyarrow.parquet as pq

    spans = []
    for f in glob.glob(f"{out2}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        ks = [
            (md.row_group(i).column(1).statistics.min,
             md.row_group(i).column(1).statistics.max)
            for i in range(md.num_row_groups)
        ]
        spans.append((min(lo for lo, _ in ks), max(hi for _, hi in ks)))
    # range-partitioned on k: per-file key spans must not all cover the
    # whole domain (unsorted compaction would give every file 0..96)
    assert any(hi - lo < 96 for lo, hi in spans), spans


def test_k_anonymity_violations(spark):
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        k_anonymity_violations,
    )

    rows = (
        [("90210", 1960, "F")] * 10      # safe group
        + [("10001", 1985, "M")] * 2     # violating group (2 < 5)
        + [("60601", 1999, "X")]         # singleton
    )
    df = spark.createDataFrame(rows, ["zip", "birth_year", "gender"])
    bad = {
        (r["zip"], r["n_rows"])
        for r in k_anonymity_violations(df, ["zip", "birth_year", "gender"], k=5).collect()
    }
    assert bad == {("10001", 2), ("60601", 1)}
    assert k_anonymity_violations(df, ["zip", "birth_year", "gender"], k=1).count() == 0


def test_category_drift_psi(spark):
    """Identical snapshots -> zero PSI everywhere; a category that
    doubles its share and one that vanishes both surface with positive
    PSI terms, vanished category largest."""
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        category_drift,
    )

    base = spark.createDataFrame(
        [("en",)] * 50 + [("de",)] * 30 + [("fr",)] * 20, ["lang"]
    )
    same = {r["category"]: r for r in category_drift(base, base, "lang").collect()}
    assert all(r["psi"] == 0.0 for r in same.values())
    assert abs(same["en"]["share_base"] - 0.5) < 1e-9

    new = spark.createDataFrame(
        [("en",)] * 30 + [("de",)] * 60 + [("zz",)] * 10, ["lang"]
    )
    out = {r["category"]: r for r in category_drift(base, new, "lang").collect()}
    assert set(out) == {"en", "de", "fr", "zz"}
    assert out["de"]["psi"] > 0 and out["en"]["psi"] > 0
    assert out["fr"]["psi"] > out["de"]["psi"]  # vanishing beats doubling
    assert out["zz"]["share_base"] == 1e-6  # absent-side epsilon
    total_psi = sum(r["psi"] for r in out.values())
    assert total_psi > 0.25  # this mix shift is action-needed


def test_numeric_drift_psi(spark):
    """Same distribution -> near-zero total PSI with ~uniform base
    shares; a shifted distribution -> large PSI concentrated in the
    tail bins."""
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        numeric_drift,
    )

    base = spark.range(10_000).selectExpr("CAST(id % 1000 AS DOUBLE) AS v")
    same = numeric_drift(base, base, "v", bins=10).collect()
    assert len(same) == 10
    assert all(abs(r["share_base"] - 0.1) < 0.02 for r in same)
    assert sum(r["psi"] for r in same) < 0.001

    shifted = spark.range(10_000).selectExpr(
        "CAST(id % 1000 AS DOUBLE) + 800 AS v"
    )
    out = numeric_drift(base, shifted, "v", bins=10).collect()
    assert sum(r["psi"] for r in out) > 0.25  # action-needed drift
    top_bin = max(out, key=lambda r: r["bin"])
    assert top_bin["share_new"] > top_bin["share_base"]  # mass moved up

    # the sketch-edge scale path reaches the same verdict
    approx = numeric_drift(base, shifted, "v", bins=10, approximate=True).collect()
    assert sum(r["psi"] for r in approx) > 0.25
    same_approx = numeric_drift(base, base, "v", bins=10, approximate=True).collect()
    assert sum(r["psi"] for r in same_approx) < 0.001


def test_category_drift_null_category_pairs_up(spark):
    """A NULL category present in BOTH snapshots must join null-safely
    into one row with both real shares — not two rows each scoring the
    other side as absent (inflated spurious PSI)."""
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        category_drift,
    )

    base = spark.createDataFrame(
        [("en",)] * 60 + [(None,)] * 40, ["lang"]
    )
    new = spark.createDataFrame(
        [("en",)] * 50 + [(None,)] * 50, ["lang"]
    )
    rows = category_drift(base, new, "lang").collect()
    assert len(rows) == 2  # en + one paired NULL row, no phantom split
    nullrow = next(r for r in rows if r["category"] is None)
    assert abs(nullrow["share_base"] - 0.4) < 1e-6
    assert abs(nullrow["share_new"] - 0.5) < 1e-6
    # a modest 0.4 -> 0.5 shift, NOT an absence-epsilon blowup
    assert 0 < nullrow["psi"] < 0.05


def test_streaming_dimension_skips_uncommitted_version(spark, tmp_path):
    """A v=N directory without the committer's _SUCCESS marker (crashed
    or in-flight write) must be invisible to readers."""
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        read_dimension,
    )

    dim = tmp_path / "dim"
    spark.createDataFrame([(1, "a")], "k LONG, attr STRING").write.parquet(
        str(dim / "v=3")
    )
    # torn write: parquet data present but no _SUCCESS
    spark.createDataFrame([(1, "TORN")], "k LONG, attr STRING").write.parquet(
        str(dim / "v=7")
    )
    (dim / "v=7" / "_SUCCESS").unlink()

    out = read_dimension(spark, str(dim)).collect()
    assert [(r["k"], r["attr"]) for r in out] == [(1, "a")]


def test_numeric_drift_auto_switches_to_sketch_at_scale(spark, monkeypatch):
    """The default (approximate=None) must take the mergeable
    approx_percentile sketch path once the baseline's optimizer size
    estimate crosses the threshold — exact interpolated percentiles
    buffer every value of the column in one aggregation state, which
    is a memory wall at 100 TB. Small inputs keep the exact,
    oracle-comparable path."""
    from udacity_data_engineering_capstone_project_spark.operators import quality as q

    base = spark.range(5_000).selectExpr("CAST(id % 500 AS DOUBLE) AS v")
    new = spark.range(5_000).selectExpr("CAST((id % 500) + 25 AS DOUBLE) AS v")

    # small baseline -> exact edges (bit-identical to approximate=False)
    auto_small = q.numeric_drift(base, new, "v").collect()
    exact = q.numeric_drift(base, new, "v", approximate=False).collect()
    assert sorted(map(tuple, auto_small)) == sorted(map(tuple, exact))

    # simulated 100x regime: every estimate is over-threshold
    monkeypatch.setattr(q, "APPROX_DRIFT_MIN_BYTES", 1)
    auto_large = q.numeric_drift(base, new, "v").collect()
    approx = q.numeric_drift(base, new, "v", approximate=True).collect()
    assert sorted(map(tuple, auto_large)) == sorted(map(tuple, approx))

    # and the sketch path's edge aggregate is a mergeable
    # approx_percentile, never the exact value-buffering percentile
    plan = q.drift_bin_edges(base, "v", 10, True)._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_percentile" in plan and "percentile(" not in plan.replace("approx_percentile(", "")


def test_dimension_versions_commit_without_committer_markers(spark, tmp_path):
    """Clusters that disable mapreduce.fileoutputcommitter
    .marksuccessfuljobs (object-store committer configs) write no
    _SUCCESS — merge_stream_into_dimension must create the marker
    itself, or every version is invisible and each merge silently
    truncates the dimension to the current batch's keys."""
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        merge_stream_into_dimension,
        read_dimension,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    dim = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = "k LONG, attr STRING, seq LONG"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    old = hconf.get(key)
    hconf.set(key, "false")
    try:

        def drop(name, rows):
            pq.write_table(
                pa.table(
                    {
                        "k": pa.array([r[0] for r in rows], type=pa.int64()),
                        "attr": [r[1] for r in rows],
                        "seq": pa.array([r[2] for r in rows], type=pa.int64()),
                    }
                ),
                str(landing / name),
            )

        def run():
            stream = spark.readStream.schema(schema).parquet(str(landing))
            return merge_stream_into_dimension(spark, stream, dim, ckpt, ["k"], "seq")

        drop("d1.parquet", [(1, "a0", 1), (2, "b0", 1)])
        assert run() == 1
        drop("d2.parquet", [(3, "c0", 2)])
        assert run() == 1
        # committer wrote no markers; the operator's own must make BOTH
        # versions visible and the merge must carry keys 1 and 2 forward
        snap = {r["k"]: r["attr"] for r in read_dimension(spark, dim).collect()}
        assert snap == {1: "a0", 2: "b0", 3: "c0"}
    finally:
        if old is None:
            hconf.unset(key)
        else:
            hconf.set(key, old)


def test_jsonl_roundtrip_with_shard_cap(spark, tmp_path):
    """write_jsonl -> read_json round-trips values and the
    records_per_file cap yields multiple shard files."""
    import glob

    from udacity_data_engineering_capstone_project_spark.sources.readers import read_json
    from udacity_data_engineering_capstone_project_spark.sources.sinks import write_jsonl

    df = spark.range(100).selectExpr(
        "id AS doc_id", "concat('text ', cast(id AS string)) AS text"
    ).coalesce(1)
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(df, out, compression=None, records_per_file=30)
    files = glob.glob(f"{out}/part-*.json")
    assert len(files) >= 4, files  # 100 rows / 30-per-file cap
    back = read_json(spark, out, schema="doc_id LONG, text STRING")
    rows = {r["doc_id"]: r["text"] for r in back.collect()}
    assert len(rows) == 100 and rows[7] == "text 7"

    # gzip default round-trips too
    out_gz = str(tmp_path / "corpus_jsonl_gz")
    write_jsonl(df, out_gz)
    assert glob.glob(f"{out_gz}/part-*.json.gz")
    assert read_json(spark, out_gz, schema="doc_id LONG, text STRING").count() == 100


def test_streaming_scd2_matches_batch_twin(spark, tmp_path):
    """merge_stream_into_scd2 maintains full type-2 history across
    micro-batches: within-batch double changes yield two versions,
    no-op changes extend the current run, closed history carries over,
    and the final table equals scd2_from_snapshots run over the
    concatenated change log in one batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from udacity_data_engineering_capstone_project_spark.operators.scd import (
        scd2_from_snapshots,
    )
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        merge_stream_into_scd2,
        read_dimension,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    dim = str(tmp_path / "scd2")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], type=pa.int64()),
                    "attr": [r[1] for r in rows],
                    "seq": pa.array([r[2] for r in rows], type=pa.int64()),
                }
            ),
            str(landing / name),
        )

    def run():
        stream = spark.readStream.schema("k LONG, attr STRING, seq LONG").parquet(
            str(landing)
        )
        return merge_stream_into_scd2(
            spark, stream, dim, ckpt, ["k"], ["attr"], "seq"
        )

    batch1 = [(1, "a0", 1), (1, "a1", 2), (2, "b0", 1), (None, "n0", 1)]
    drop("d1.parquet", batch1)
    assert run() == 1
    v0 = {(r["k"], r["valid_from"]): r for r in read_dimension(spark, dim).collect()}
    assert v0[(1, 1)]["valid_to"] == 2 and not v0[(1, 1)]["is_current"]
    assert v0[(1, 2)]["valid_to"] is None and v0[(1, 2)]["is_current"]
    assert v0[(2, 1)]["is_current"]

    # batch 2: no-op for k1 (current run extends, no new version),
    # real change for k2 (b0 closes at 4), new key k3, and the NULL
    # business key must update ITS OWN history (not fork a duplicate
    # current row — join equality never matches NULL without eqNullSafe)
    batch2 = [(1, "a1", 3), (2, "b1", 4), (3, "c0", 4), (None, "n1", 2)]
    drop("d2.parquet", batch2)
    assert run() == 1
    final = read_dimension(spark, dim)
    rows = {(r["k"], r["attr"]): r for r in final.collect()}
    assert len(rows) == 7
    assert rows[(None, "n0")]["valid_to"] == 2 and not rows[(None, "n0")]["is_current"]
    assert rows[(None, "n1")]["is_current"]
    assert rows[(1, "a1")]["valid_from"] == 2 and rows[(1, "a1")]["is_current"]
    assert rows[(2, "b0")]["valid_to"] == 4 and not rows[(2, "b0")]["is_current"]
    assert rows[(2, "b1")]["valid_from"] == 4 and rows[(2, "b1")]["is_current"]
    assert rows[(3, "c0")]["is_current"]

    # batch twin: one-shot SCD2 over the concatenated change log
    log = spark.createDataFrame(batch1 + batch2, ["k", "attr", "seq"])
    twin = scd2_from_snapshots(log, ["k"], ["attr"], "seq")
    got = sorted(map(str, final.select(*twin.columns).collect()))
    want = sorted(map(str, twin.collect()))
    assert got == want

    # time travel reads v=0; nothing new -> nothing processed
    asof0 = {(r["k"], r["valid_from"]) for r in read_dimension(spark, dim, version=0).collect()}
    assert asof0 == set(v0)
    assert run() == 0

    # order tie: a change with seq EQUAL to the open row's valid_from
    # must deterministically win (the merge_upsert contract) — b1's
    # run degenerates to [4, 4) and b2 becomes current
    drop("d3.parquet", [(2, "b2", 4)])
    assert run() == 1
    rows3 = {(r["k"], r["attr"]): r for r in read_dimension(spark, dim).collect()}
    assert rows3[(2, "b2")]["is_current"] and rows3[(2, "b2")]["valid_from"] == 4
    assert rows3[(2, "b1")]["valid_to"] == 4 and not rows3[(2, "b1")]["is_current"]


def test_dimension_changes_and_vacuum(spark, tmp_path):
    """Change-data-feed between committed versions (insert/update/
    delete from two snapshot reads + one full outer join) and version
    retention: vacuum keeps the newest N committed versions, time
    travel past them raises, the latest read still works."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        dimension_changes,
        merge_stream_into_dimension,
        read_dimension,
        vacuum_dimension_versions,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    dim = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], type=pa.int64()),
                    "attr": [r[1] for r in rows],
                    "seq": pa.array([r[2] for r in rows], type=pa.int64()),
                }
            ),
            str(landing / name),
        )

    def run():
        stream = spark.readStream.schema("k LONG, attr STRING, seq LONG").parquet(
            str(landing)
        )
        return merge_stream_into_dimension(spark, stream, dim, ckpt, ["k"], "seq")

    drop("d1.parquet", [(1, "a0", 1), (2, "b0", 1)])
    assert run() == 1
    drop("d2.parquet", [(2, "b1", 2), (3, "c0", 2)])
    assert run() == 1
    drop("d3.parquet", [(4, "d0", 3)])
    assert run() == 1

    # CDF v0 -> v1: k2 updated, k3 inserted, k1 untouched (no row)
    cdf = {r["k"]: r["change"] for r in dimension_changes(
        spark, dim, 0, 1, ["k"]
    ).collect()}
    assert cdf == {2: "update", 3: "insert"}

    # keep_last=1 is refused: the newest version's batch may still be
    # replayed (crash before its checkpoint commit) and rebuilds from
    # the version below — deleting it would truncate the table
    with _pytest.raises(ValueError, match="keep_last"):
        vacuum_dimension_versions(spark, dim, keep_last=1)

    # vacuum to the newest 2 committed versions: v0 goes
    assert vacuum_dimension_versions(spark, dim, keep_last=2) == [0]
    with _pytest.raises(FileNotFoundError):
        read_dimension(spark, dim, version=0)
    latest = {r["k"] for r in read_dimension(spark, dim).collect()}
    assert latest == {1, 2, 3, 4}
    # CDF across the retained pair still works
    assert {r["k"]: r["change"] for r in dimension_changes(
        spark, dim, 1, 2, ["k"]
    ).collect()} == {4: "insert"}


def test_streaming_quantile_sketch_maintenance(spark, tmp_path):
    """Streaming DDSketch rollup: two event drops; after each run the
    persisted sketch must EQUAL the batch sketch over all data so far
    (exact integer counts), and quantiles read from it match the batch
    path. State stays bounded: sketch rows, not event rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from udacity_data_engineering_capstone_project_spark.operators.sketches import (
        quantile_sketch,
        sketch_quantiles,
    )
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        merge_stream_into_quantile_sketch,
        read_dimension,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    path = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, vals):
        pq.write_table(
            pa.table(
                {
                    "g": pa.array([i % 2 for i in range(len(vals))], type=pa.int32()),
                    "v": pa.array(vals, type=pa.float64()),
                }
            ),
            str(landing / name),
        )

    def run():
        stream = spark.readStream.schema("g INT, v DOUBLE").parquet(str(landing))
        return merge_stream_into_quantile_sketch(
            spark, stream, path, ckpt, ["g"], "v", alpha=0.02
        )

    day1 = [float(1 + (i * 37) % 1000) for i in range(2000)]
    drop("d1.parquet", day1)
    assert run() == 1

    day2 = [float(5000 + (i * 13) % 3000) for i in range(1500)]
    drop("d2.parquet", day2)
    assert run() == 1

    all_rows = [(i % 2, v) for i, v in enumerate(day1)] + [
        (i % 2, v) for i, v in enumerate(day2)
    ]
    direct = quantile_sketch(
        spark.createDataFrame(all_rows, "g int, v double"), ["g"], "v", alpha=0.02
    )
    stored = read_dimension(spark, path)
    key = lambda r: (r["g"], r["sign"], r["bucket"], r["count"])  # noqa: E731
    assert sorted(map(key, stored.collect())) == sorted(map(key, direct.collect()))

    # quantiles from the maintained sketch match the one-shot path
    got = {
        (r["g"], r["q"]): r["estimate"]
        for r in sketch_quantiles(stored, ["g"], [0.5, 0.95], alpha=0.02).collect()
    }
    want = {
        (r["g"], r["q"]): r["estimate"]
        for r in sketch_quantiles(direct, ["g"], [0.5, 0.95], alpha=0.02).collect()
    }
    assert got == want
    # no new files -> no new version
    assert run() == 0


def test_streaming_bloom_maintenance(spark, tmp_path):
    """Streaming Bloom rollup: after two drops the persisted filter
    must equal build-on-everything exactly (bit_or is exact), and a
    probe against it honors the no-false-negative contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from udacity_data_engineering_capstone_project_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
        optimal_num_bits,
    )
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        merge_stream_into_bloom,
        read_dimension,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    path = str(tmp_path / "bloom")
    ckpt = str(tmp_path / "ckpt")
    m = optimal_num_bits(5_000, 0.01)

    def drop(name, keys):
        pq.write_table(pa.table({"k": pa.array(keys, type=pa.string())}), str(landing / name))

    def run():
        stream = spark.readStream.schema("k STRING").parquet(str(landing))
        return merge_stream_into_bloom(spark, stream, path, ckpt, "k", m, 7)

    day1 = [f"d1-{i}" for i in range(2_000)]
    day2 = [f"d2-{i}" for i in range(1_500)]
    drop("d1.parquet", day1)
    assert run() == 1
    drop("d2.parquet", day2)
    assert run() == 1

    stored = read_dimension(spark, path)
    direct = build_bloom(
        spark.createDataFrame([(k,) for k in day1 + day2], "k string"), "k", m, 7
    )
    assert sorted((r["block"], r["mask"]) for r in stored.collect()) == sorted(
        (r["block"], r["mask"]) for r in direct.collect()
    )
    probe = spark.createDataFrame([(k,) for k in day1[:50] + day2[:50]], "k string")
    flagged = bloom_might_contain(probe, stored, "k", m, 7)
    assert flagged.filter("NOT maybe_seen").count() == 0  # no false negatives
    assert run() == 0  # no new files, no new version


def test_winsorize_auto_switches_to_sketch_at_scale(spark, monkeypatch):
    """winsorize's default (approximate=None) shares numeric_drift's
    optimizer-estimate gate: exact interpolated percentiles below the
    threshold (oracle-comparable), the mergeable approx_percentile
    sketch above it — exact percentiles buffer every value of every
    clipped column in one aggregation state, a memory wall at 100 TB."""
    from udacity_data_engineering_capstone_project_spark.operators import quality as q

    df = spark.range(2_000).selectExpr(
        "id", "CAST(id % 400 AS DOUBLE) AS a", "CAST(id % 7 AS DOUBLE) AS b"
    )

    # small input -> exact cuts (bit-identical to approximate=False)
    auto_small = q.winsorize(df, ["a", "b"], 0.05, 0.95).collect()
    exact = q.winsorize(df, ["a", "b"], 0.05, 0.95, approximate=False).collect()
    assert sorted(map(tuple, auto_small)) == sorted(map(tuple, exact))

    # simulated 100x regime: every estimate is over-threshold
    monkeypatch.setattr(q, "APPROX_DRIFT_MIN_BYTES", 1)
    auto_large = q.winsorize(df, ["a", "b"], 0.05, 0.95).collect()
    approx = q.winsorize(df, ["a", "b"], 0.05, 0.95, approximate=True).collect()
    assert sorted(map(tuple, auto_large)) == sorted(map(tuple, approx))

    # plan pin (grouped path keeps the bounds aggregate in the returned
    # frame): above the gate the cut-point aggregate must be a mergeable
    # approx_percentile, never the exact value-buffering percentile
    gdf = df.selectExpr("*", "id % 3 AS g")
    plan = (
        q.winsorize(gdf, ["a"], 0.05, 0.95, group_cols=["g"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "approx_percentile" in plan
    assert "percentile(" not in plan.replace("approx_percentile(", "")
    # and below the gate the grouped path stays exact
    monkeypatch.setattr(q, "APPROX_DRIFT_MIN_BYTES", 1 << 30)
    plan_small = (
        q.winsorize(gdf, ["a"], 0.05, 0.95, group_cols=["g"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "approx_percentile" not in plan_small
    assert "percentile(" in plan_small


def test_configure_s3_sets_hadoop_conf(spark):
    """S5 (etl.py:15-18): the s3a connector config must land in the
    live hadoopConfiguration — testable without S3, since the keys are
    read by the filesystem at first s3a:// access. None-valued
    credentials must leave the chain untouched (instance-profile
    deployments pass no keys)."""
    from udacity_data_engineering_capstone_project_spark.session import configure_s3

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    before_ak = conf.get("fs.s3a.access.key", None)
    try:
        configure_s3(
            spark, access_key="AKTEST", secret_key="SKTEST",
            endpoint="http://minio.local:9000",
        )
        assert conf.get("fs.s3a.access.key") == "AKTEST"
        assert conf.get("fs.s3a.secret.key") == "SKTEST"
        assert conf.get("fs.s3a.endpoint") == "http://minio.local:9000"
        assert conf.get("fs.s3a.impl") == "org.apache.hadoop.fs.s3a.S3AFileSystem"
        # credential-less call (instance profile): keys stay as-is
        conf.unset("fs.s3a.access.key")
        configure_s3(spark)
        assert conf.get("fs.s3a.access.key", None) is None
    finally:
        for k in ("fs.s3a.access.key", "fs.s3a.secret.key", "fs.s3a.endpoint"):
            conf.unset(k)
        if before_ak is not None:
            conf.set("fs.s3a.access.key", before_ak)


def test_local_defaults_follow_the_host(monkeypatch):
    """Without the env pins a local session takes the CPUs this process
    may use and ~60 % of MemTotal (at least 1g); the pins win when set.
    No session is started."""
    from udacity_data_engineering_capstone_project_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session.local_defaults()
    assert cpus == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert mem == f"{max(1024, total_kb * 6 // 10 // 1024)}m"

    monkeypatch.setattr(session, "_mem_total_kb", lambda: 512 * 1024)
    assert session.local_defaults()[1] == "1024m"
    monkeypatch.setattr(session, "_mem_total_kb", lambda: None)
    assert session.local_defaults()[1] == "1024m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session.local_defaults() == (3, "5g")


def _part_files(path) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files
        if f.startswith("part-") and f.endswith(".parquet")
    )


def test_write_parquet_reports_committed_rows_and_files(spark, tmp_path):
    """write_parquet returns (and records as df._sg_written) the write's
    own row and file counts from the SQL status store; they match the
    committed parquet."""
    from udacity_data_engineering_capstone_project_spark.sources.sinks import write_parquet

    df = spark.range(0, 1000, numPartitions=3).withColumn("p", F.col("id") % 4)

    flat = str(tmp_path / "flat")
    got = write_parquet(df, flat)
    assert got == {"rows": 1000, "files": _part_files(flat)}
    assert got["rows"] == spark.read.parquet(flat).count() and got["files"] == 3
    assert df._sg_written == got

    parted = str(tmp_path / "parted")
    got = write_parquet(df, parted, partition_by=["p"])
    assert got == {"rows": spark.read.parquet(parted).count(), "files": _part_files(parted)}
    assert got["files"] > 3  # one file per (task, partition value)

    # append: only this write's rows, although the table now holds both
    more = spark.range(0, 250, numPartitions=1).withColumn("p", F.col("id") % 4)
    got = write_parquet(more, flat, mode="append")
    assert got == {"rows": 250, "files": 1}
    assert spark.read.parquet(flat).count() == 1250
    assert _part_files(flat) == 4

    # back-to-back writes to different paths each get their own figures
    a, b = str(tmp_path / "a"), str(tmp_path / "a2")
    small = spark.range(0, 7, numPartitions=1)
    got_a = write_parquet(small, a)
    got_b = write_parquet(df, b)
    assert got_a == {"rows": 7, "files": 1}
    assert got_b == {"rows": 1000, "files": 3}
    assert small._sg_written == got_a and df._sg_written == got_b


def test_job_group_scopes_spark_jobs(spark):
    """C2 (etl.py:54,94): jobs launched inside the context manager
    carry the group id (visible in the UI/REST and cancellable via
    cancelJobGroup); leaving the scope clears it."""
    from udacity_data_engineering_capstone_project_spark.session import job_group

    sc = spark.sparkContext
    with job_group(spark, "unit-test-group", "desc"):
        assert sc.getLocalProperty("spark.jobGroup.id") == "unit-test-group"
        assert sc.getLocalProperty("spark.job.description") == "desc"
        spark.range(10).count()  # a real job runs under the group
    assert sc.getLocalProperty("spark.jobGroup.id") in (None, "")


def test_streaming_freq_sketch_maintenance(spark, tmp_path):
    """Streaming Count-Min rollup (the frequency member of the sketch
    trio): two event drops; after each run the persisted per-group CMS
    must bound every key's true all-time count from above within
    eps * N, replay processes nothing, and state is sketch rows (KBs),
    never event rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from udacity_data_engineering_capstone_project_spark.operators.sketches import (
        estimate_counts,
    )
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        merge_stream_into_freq_sketch,
        read_dimension,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    path = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, keys):
        pq.write_table(
            pa.table(
                {
                    "g": pa.array([k % 2 for k in keys], type=pa.int32()),
                    "k": pa.array([f"u{k}" for k in keys]),
                }
            ),
            str(landing / name),
        )

    def run():
        stream = spark.readStream.schema("g INT, k STRING").parquet(str(landing))
        return merge_stream_into_freq_sketch(
            spark, stream, path, ckpt, ["g"], "k", eps=0.001
        )

    day1 = [i % 50 for i in range(3000)]          # 60 hits per key
    drop("d1.parquet", day1)
    assert run() == 1
    day2 = [i % 20 for i in range(2000)]          # keys 0..19 get +100
    drop("d2.parquet", day2)
    assert run() == 1

    # all-time truth per (group, key)
    from collections import Counter

    truth: Counter = Counter()
    for k in day1 + day2:
        truth[(k % 2, f"u{k}")] += 1
    n_per_group = Counter(g for g, _ in truth.elements())
    for g, _k in truth:
        n_per_group[g] = sum(v for (gg, _), v in truth.items() if gg == g)

    sk_rows = {r["g"]: bytes(r["sketch"])
               for r in read_dimension(spark, path).collect()}
    assert set(sk_rows) == {0, 1}
    for g in (0, 1):
        items = sorted({k for (gg, k) in truth if gg == g})
        est = estimate_counts(spark, sk_rows[g], items)
        n = n_per_group[g]
        for k in items:
            exact = truth[(g, k)]
            assert est[k] >= exact, (g, k, est[k], exact)
            assert est[k] <= exact + 0.001 * n + 1, (g, k, est[k], exact)

    # replay with no new files processes nothing and keeps the state
    assert run() == 0
    assert {r["g"] for r in read_dimension(spark, path).collect()} == {0, 1}


# ---------------------------------------------------------------------------
# Parquet layout introspection (sources/layout.py, r9)


def test_parquet_layout_matches_duckdb_metadata(spark, sf_dir, tmp_path):
    """Footer truth cross-engine: the distributed pyarrow footer read
    must agree with DuckDB's parquet_metadata() row-group-for-
    row-group (rows, compressed bytes, uncompressed bytes, columns) on
    a multi-file multi-row-group table this test writes itself."""
    import duckdb

    from udacity_data_engineering_capstone_project_spark.sources.layout import (
        parquet_layout,
        parquet_layout_summary,
    )

    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    table = str(tmp_path / "layout_t")
    # 3 files; small row groups so files carry SEVERAL row groups each
    (
        src.repartition(3)
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(table)
    )

    layout = parquet_layout(spark, table).toPandas()
    assert layout.file.nunique() == 3 and len(layout) > layout.file.nunique()

    con = duckdb.connect()
    want = con.sql(
        f"""
        SELECT file_name, row_group_id,
               max(row_group_num_rows) AS n_rows,
               sum(total_compressed_size) AS compressed,
               max(row_group_bytes) AS uncompressed,
               count(*) AS n_columns
        FROM parquet_metadata('{table}/*.parquet')
        GROUP BY 1, 2
        """
    ).df()
    got = {
        (r.file.rsplit("/", 1)[-1], r.row_group): (
            r.n_rows, r.compressed_bytes, r.uncompressed_bytes, r.n_columns
        )
        for r in layout.itertuples()
    }
    exp = {
        (r.file_name.rsplit("/", 1)[-1], r.row_group_id): (
            r.n_rows, r.compressed, r.uncompressed, r.n_columns
        )
        for r in want.itertuples()
    }
    assert got == exp and len(got) == len(exp)

    # summary: 3 files, all "small" under a 32 MB threshold, row
    # counts add up, compression ratio sane
    s = parquet_layout_summary(parquet_layout(spark, table)).collect()[0]
    assert s.n_files == 3 and s.n_small_files == 3
    assert s.n_rows == src.count()
    assert 0 < s.compression_ratio < 2


def test_parquet_layout_empty_dir(spark, tmp_path):
    """A directory with no matching files yields an EMPTY typed frame
    (schema intact for downstream aggregation), not an error."""
    from udacity_data_engineering_capstone_project_spark.sources.layout import (
        parquet_layout,
    )

    d = tmp_path / "empty"
    d.mkdir()
    out = parquet_layout(spark, str(d))
    assert out.count() == 0
    assert out.columns[:3] == ["file", "file_bytes", "row_group"]
