"""Durable resumable pipeline runner: barriers, commit markers, resume
semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.plans.pipeline import run_pipeline


def _stages(calls):
    def s1(df):
        calls.append("filter")
        return df.filter(F.col("id") % 2 == 0)

    def s2(df):
        calls.append("enrich")
        return df.withColumn("v", F.col("id") * 10)

    def s3(df):
        calls.append("agg")
        return df.groupBy((F.col("id") % 3).alias("g")).agg(
            F.sum("v").alias("sv")
        )

    return [("filter evens", s1), ("enrich", s2), ("agg", s3)]


def test_run_pipeline_local_barriers(spark):
    calls = []
    out, res = run_pipeline(
        spark.range(100), _stages(calls), count_rows=True
    )
    assert calls == ["filter", "enrich", "agg"]
    assert [r.name for r in res] == ["filter evens", "enrich", "agg"]
    assert [r.rows for r in res] == [50, 50, 3]
    assert all(not r.skipped and r.path is None for r in res)
    got = {r["g"]: r["sv"] for r in out.collect()}
    want = {}
    for i in range(0, 100, 2):
        want[i % 3] = want.get(i % 3, 0) + i * 10
    assert got == want


def test_run_pipeline_durable_resume(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    calls = []
    out1, res1 = run_pipeline(spark.range(100), _stages(calls), checkpoint_dir=ckpt)
    assert calls == ["filter", "enrich", "agg"]
    v1 = sorted(map(tuple, out1.collect()))

    # full resume: not a single stage fn re-runs, same result
    calls2 = []
    out2, res2 = run_pipeline(spark.range(100), _stages(calls2), checkpoint_dir=ckpt)
    assert calls2 == []
    assert all(r.skipped for r in res2)
    assert sorted(map(tuple, out2.collect())) == v1

    # torn last stage (no _SUCCESS) is NOT trusted: only it re-runs
    import os

    last = res1[-1].path
    os.remove(os.path.join(last, "_SUCCESS"))
    calls3 = []
    out3, res3 = run_pipeline(spark.range(100), _stages(calls3), checkpoint_dir=ckpt)
    assert calls3 == ["agg"]
    assert [r.skipped for r in res3] == [True, True, False]
    assert sorted(map(tuple, out3.collect())) == v1

    # resume=False recomputes everything
    calls4 = []
    run_pipeline(
        spark.range(100), _stages(calls4), checkpoint_dir=ckpt, resume=False
    )
    assert calls4 == ["filter", "enrich", "agg"]


def test_run_pipeline_fingerprint_invalidation(spark, tmp_path):
    """Changing the stage list or the version token must NOT serve a
    stale checkpoint — the fingerprinted path never matches."""
    ckpt = str(tmp_path / "ckpt")
    calls = []
    run_pipeline(spark.range(100), _stages(calls), checkpoint_dir=ckpt)
    assert calls == ["filter", "enrich", "agg"]

    # version bump: everything recomputes even though names match
    calls2 = []
    run_pipeline(
        spark.range(100), _stages(calls2), checkpoint_dir=ckpt, version="v2"
    )
    assert calls2 == ["filter", "enrich", "agg"]

    # renamed stage: the whole tree is invalidated, not just that stage
    calls3 = []
    st = _stages(calls3)
    st[1] = ("enrich_x10", st[1][1])
    run_pipeline(spark.range(100), st, checkpoint_dir=ckpt)
    assert calls3 == ["filter", "enrich", "agg"]

    # unchanged list + unchanged version still resumes fully
    calls4 = []
    _, res4 = run_pipeline(spark.range(100), _stages(calls4), checkpoint_dir=ckpt)
    assert calls4 == [] and all(r.skipped for r in res4)


def test_run_pipeline_validation(spark):
    with pytest.raises(ValueError, match="non-empty"):
        run_pipeline(spark.range(1), [])
    with pytest.raises(ValueError, match="unique"):
        run_pipeline(spark.range(1), [("a b", lambda d: d), ("a_b", lambda d: d)])
    with pytest.raises(ValueError, match="usable"):
        run_pipeline(spark.range(1), [("///", lambda d: d)])


def test_run_pipeline_prune_orphans(spark, tmp_path):
    """Version bumps orphan the previous p<fingerprint>/ tree forever
    (deliberate — rollback safety), so prune_orphans=True must delete
    every non-current sibling tree, and orphaned_checkpoint_trees must
    list exactly those (ADVICE r5 disk-leak note)."""
    import os

    from udacity_data_engineering_capstone_project_spark.plans.pipeline import (
        orphaned_checkpoint_trees,
        run_pipeline,
    )

    ckpt = str(tmp_path / "ckpt")
    stages = [("double", lambda d: d.selectExpr("id * 2 AS id"))]
    run_pipeline(spark.range(10), stages, checkpoint_dir=ckpt, version="v1")
    run_pipeline(spark.range(10), stages, checkpoint_dir=ckpt, version="v2")
    trees = sorted(os.listdir(ckpt))
    assert len(trees) == 2  # v1 tree is now an orphan

    # listing names the orphan only
    import hashlib

    fp3 = hashlib.sha256(b"double\x00v3").hexdigest()[:12]
    orphans = orphaned_checkpoint_trees(spark, ckpt, fp3)
    assert len(orphans) == 2  # both old trees relative to v3

    out, res = run_pipeline(
        spark.range(10), stages, checkpoint_dir=ckpt,
        version="v3", prune_orphans=True,
    )
    assert sorted(r["id"] for r in out.collect()) == [i * 2 for i in range(10)]
    trees = sorted(os.listdir(ckpt))
    assert trees == [f"p{fp3}"]
    # pruning an empty/missing dir is a no-op, not an error
    assert orphaned_checkpoint_trees(spark, str(tmp_path / "nope"), "x") == []


def test_crawl_pipeline_q_flags_match_composed_stages(spark, sf_dir):
    """The single-pass flag form of crawl_pipeline_q (r14) must keep
    the EXACT per-stage surviving doc set of the composed operator
    chain it replaced — not just matching counts/id sums. Every stage
    is a row filter, so the flag-restricted id sets and the composed
    barriers' id sets must be equal stage by stage (robots verdict,
    blocklist padded-contains contract, cascade conjunction,
    fingerprint-window dedup, conditional-weight budget prefix sum)."""
    from udacity_data_engineering_capstone_project_spark.plans.queries_crawl import (
        crawl_pipeline_flags,
        crawl_pipeline_stages,
    )

    flags = crawl_pipeline_flags(spark, sf_dir).select(
        "doc_id", "__s1", "__s2", "__s3", "__s4", "__s5"
    ).collect()
    stage_sets = {}
    for name, df in crawl_pipeline_stages(spark, sf_dir):
        stage_sets[name] = {r["doc_id"] for r in df.select("doc_id").collect()}
    for i, name in enumerate(
        ["robots", "blocklist", "quality_cascade", "exact_dedup",
         "token_budget"],
        start=1,
    ):
        got = {r["doc_id"] for r in flags if r[f"__s{i}"]}
        assert got == stage_sets[name], f"stage {name} diverged"
    assert {r["doc_id"] for r in flags} == stage_sets["intake"]


def test_crawl_pipeline_durable_resume(spark, sf_dir, tmp_path):
    """The graded 6-stage crawl pipeline, run DURABLY through
    run_pipeline's parquet checkpoints: (a) the durable path keeps the
    EXACT surviving doc set of the session-local graded path (same
    stage fns, one definition), (b) a rerun against the committed
    tree skips every stage — zero stage-fn invocations — and serves
    the same output: the crash-at-stage-7-resume-at-stage-7 contract
    over the pipeline the driver actually grades."""
    from udacity_data_engineering_capstone_project_spark.plans.pipeline import (
        run_pipeline,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_crawl import (
        crawl_pipeline_intake,
        crawl_pipeline_stage_fns,
        crawl_pipeline_stages,
    )

    # session-local graded path: drain the generator, keep the final set
    want = None
    for _name, df in crawl_pipeline_stages(spark, sf_dir):
        want = {r["doc_id"] for r in df.select("doc_id").collect()}

    ckpt = str(tmp_path / "crawl_ckpt")
    intake = crawl_pipeline_intake(spark, sf_dir)
    final, res = run_pipeline(
        intake, crawl_pipeline_stage_fns(spark),
        checkpoint_dir=ckpt, count_rows=True,
    )
    got = {r["doc_id"] for r in final.select("doc_id").collect()}
    assert got == want
    assert [r.name for r in res] == [
        "robots", "blocklist", "quality_cascade", "exact_dedup", "token_budget"
    ]
    assert not any(r.skipped for r in res)

    # resume: wrap every stage fn with a counter — a second run over
    # the committed tree must invoke NOTHING and serve identical rows
    calls = {"n": 0}

    def wrap(fn):
        def g(d):
            calls["n"] += 1
            return fn(d)
        return g

    stages2 = [(n, wrap(f)) for n, f in crawl_pipeline_stage_fns(spark)]
    final2, res2 = run_pipeline(intake, stages2, checkpoint_dir=ckpt)
    assert calls["n"] == 0
    assert all(r.skipped for r in res2)
    assert {r["doc_id"] for r in final2.select("doc_id").collect()} == want
