"""robots.txt compliance tier (functions/robots.py): RFC 9309 parse +
longest-match precedence, LIKE-translation equivalence, distributed
verdict join."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.functions.robots import (
    _pattern_matches,
    filter_robots_disallowed,
    parse_robots_txt,
    robots_allowed,
    robots_like_pattern,
    robots_rules_df,
    with_robots_verdict,
)

ROBOTS = """
# crawl policy
User-agent: *
Disallow: /private/
Allow: /private/ok*
Disallow: /*.pdf$
Disallow: /tmp

User-agent: goodbot
User-agent: examplebot
Allow: /
Disallow: /secret/

User-agent: badbot
Disallow: /
"""


def test_group_selection_rfc9309():
    # specific agent group beats *, multiple UA lines share one group
    assert parse_robots_txt(ROBOTS, "GoodBot/1.2") == [
        ("/", True),
        ("/secret/", False),
    ]
    assert parse_robots_txt(ROBOTS, "examplebot") == parse_robots_txt(
        ROBOTS, "goodbot"
    )
    assert parse_robots_txt(ROBOTS, "badbot") == [("/", False)]
    # unknown agent falls back to the * group
    assert ("/private/", False) in parse_robots_txt(ROBOTS, "somebot")
    # no groups at all -> everything allowed
    assert parse_robots_txt("# empty", "x") == []
    assert robots_allowed("/anything", []) is True


def test_longest_match_allow_wins_ties():
    rules = parse_robots_txt(ROBOTS)  # the * group
    assert robots_allowed("/private/a", rules) is False
    assert robots_allowed("/private/okay", rules) is True  # longer Allow wins
    assert robots_allowed("/doc.pdf", rules) is False  # $ anchors
    assert robots_allowed("/doc.pdfx", rules) is True
    assert robots_allowed("/tmpfile", rules) is False  # prefix semantics
    assert robots_allowed("/", rules) is True
    # exact length tie: allow wins per RFC
    tie = [("/page", False), ("/page", True)]
    assert robots_allowed("/page", tie) is True


def test_wildcard_and_anchor_matching():
    assert _pattern_matches("/a/b/c.pdf", "/*.pdf$")
    assert not _pattern_matches("/a/b/c.pdfx", "/*.pdf$")
    assert _pattern_matches("/x/mid/y", "/x/*/y")
    # '*' may be empty, but the literal '/' separators still have to
    # appear: /x/*/y with *='' is /x//y, which /x/y is not
    assert not _pattern_matches("/x/y", "/x/*/y$")
    assert _pattern_matches("/x//y", "/x/*/y$")
    assert _pattern_matches("/ab", "/a*$")  # trailing *$ = prefix
    assert _pattern_matches("/fish.php?id=1", "/fish*.php")
    assert not _pattern_matches("/Fish.PHP", "/fish*.php")  # case-sensitive


def test_like_translation_equivalence_randomized(spark):
    """The SQL LIKE translation and the pure-Python matcher accept the
    SAME path set — randomized over paths/patterns built from an
    adversarial alphabet that includes LIKE metacharacters."""
    rng = random.Random(42)
    alphabet = "ab/_%."
    cases = []
    for _ in range(300):
        path = "/" + "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
        pat = "/" + "".join(
            rng.choice(alphabet + "**") for _ in range(rng.randint(0, 6))
        )
        if rng.random() < 0.3:
            pat += "$"
        cases.append((path, pat))
    df = spark.createDataFrame(cases, "path string, pattern string")
    got = (
        df.withColumn("like_p", F.lit(None).cast("string"))  # placeholder col order
        .drop("like_p")
        .withColumn(
            "like_p",
            F.udf(robots_like_pattern)("pattern"),
        )
        .withColumn("m", F.expr("path LIKE like_p ESCAPE '\\\\'"))
        .collect()
    )
    for r in got:
        assert r.m == _pattern_matches(r.path, r.pattern), (
            r.path,
            r.pattern,
            r.like_p,
        )


def test_distributed_verdict_matches_python_twin(spark):
    rules = robots_rules_df(spark, [("ex.com", ROBOTS), ("all.com", "User-agent: *\nDisallow: /")])
    urls = [
        (1, "http://ex.com/private/a", False),
        (2, "http://ex.com/private/okfile", True),
        (3, "https://EX.com/doc.pdf", False),  # host case-folded
        (4, "http://ex.com/doc.pdfx", True),
        (5, "http://all.com/", False),
        (6, "http://norules.com/x", True),  # no rules -> allowed
        (7, "not a url", True),  # unparseable -> allowed (no host)
        (8, None, True),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in urls], "id bigint, url string"
    )
    out = {r.id: r.robots_allowed for r in with_robots_verdict(df, rules, "url").collect()}
    assert out == {i: v for i, u, v in urls}
    kept = filter_robots_disallowed(df, rules, "url")
    assert kept.columns == ["id", "url"]
    assert {r.id for r in kept.collect()} == {i for i, _, v in urls if v}


def test_verdict_join_is_row_preserving_and_broadcasts(spark):
    rules = robots_rules_df(spark, [("ex.com", "User-agent: *\nDisallow: /b")])
    df = spark.range(200).withColumn(
        "url", F.concat(F.lit("http://ex.com/"), (F.col("id") % 3).cast("string"))
    )
    out = with_robots_verdict(df, rules, "url")
    assert len(out.collect()) == 200  # AQE finalizes out's own plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final or "BroadcastExchange" in final


def test_empty_disallow_and_comments_ignored():
    txt = "User-agent: *\nDisallow:\nAllow: /a # inline comment\nCrawl-delay: 5\n"
    assert parse_robots_txt(txt) == [("/a", True)]


def test_verdict_deterministic_after_shuffle(spark):
    """Review regression: the verdict must not depend on row identity
    (the old monotonically_increasing_id join-back mis-assigned
    verdicts when the two lineages recomputed ids differently). A
    shuffled/aggregated upstream with duplicate URLs must verdict every
    row by URL content alone, repeatably."""
    rules = robots_rules_df(
        spark, [("ex.com", "User-agent: *\nDisallow: /blocked")]
    )
    df = (
        spark.range(2000)
        .withColumn(
            "url",
            F.when(F.col("id") % 2 == 0, F.lit("http://ex.com/blocked/x"))
            .otherwise(F.lit("http://ex.com/fine")),
        )
        .repartition(16, "id")  # force a shuffle upstream
    )
    for _ in range(3):
        out = with_robots_verdict(df, rules, "url")
        bad = out.filter(
            (F.col("url").contains("blocked") & F.col("robots_allowed"))
            | (F.col("url").contains("fine") & ~F.col("robots_allowed"))
        )
        assert bad.count() == 0
        assert out.count() == 2000


def test_caller_host_column_survives_verdict(spark):
    """Review regression (r6 ADVICE): the verdict join used to
    drop("host") AFTER the join, which removes EVERY column named
    host — a caller frame that already carries its own `host` column
    (very plausible in a crawl pipeline) silently lost it."""
    rules = robots_rules_df(
        spark, [("ex.com", "User-agent: *\nDisallow: /b")]
    )
    df = spark.createDataFrame(
        [(1, "http://ex.com/a", "precomputed-host"),
         (2, "http://ex.com/b", "other-host")],
        "id bigint, url string, host string",
    )
    out = with_robots_verdict(df, rules, "url")
    assert out.columns == ["id", "url", "host", "robots_allowed"]
    got = {(r.id, r.host, r.robots_allowed) for r in out.collect()}
    assert got == {(1, "precomputed-host", True), (2, "other-host", False)}
    kept = filter_robots_disallowed(df, rules, "url")
    assert kept.columns == ["id", "url", "host"]  # row schema unchanged


def test_rules_broadcast_is_size_gated(spark, tmp_path):
    """VERDICT r6 #3: a WEB-SCALE rules frame (external storage — a
    10^8-host robots census ships as parquet, never createDataFrame)
    must degrade to a shuffle join, not a forced broadcast. Simulate
    100x by shrinking the session's broadcast threshold, which the
    maybe_broadcast gate reads, to 1 byte: the verdict stays identical
    and the plan carries no forced-broadcast hint. Under the default
    threshold both file-backed and driver-local rules keep the hint:
    the per-host rule table is checkpointed, so the gate reads its
    real size from the block manager."""
    from tests.test_plan_quality import _restore_conf, _set_broadcast_threshold

    local_rules = robots_rules_df(
        spark, [("ex.com", "User-agent: *\nDisallow: /b")]
    )
    local_rules.write.parquet(str(tmp_path / "rules"))
    rules = spark.read.parquet(str(tmp_path / "rules"))
    df = spark.createDataFrame(
        [(1, "http://ex.com/a"), (2, "http://ex.com/b")],
        "id bigint, url string",
    )
    want = {(1, True), (2, False)}
    out_hinted = with_robots_verdict(df, rules, "url")
    assert "broadcast" in out_hinted._jdf.queryExecution().analyzed().toString().lower()
    assert {(r.id, r.robots_allowed) for r in out_hinted.collect()} == want
    prev = _set_broadcast_threshold(spark, 1)
    try:
        out_gated = with_robots_verdict(df, rules, "url")
        logical = out_gated._jdf.queryExecution().analyzed().toString()
        assert "broadcast" not in logical.lower()  # hint NOT applied
        assert {(r.id, r.robots_allowed) for r in out_gated.collect()} == want
        # driver-local rules honor the gate too: a 1-byte "100x"
        # threshold declines everything
        out_local_gated = with_robots_verdict(df, local_rules, "url")
        assert (
            "broadcast"
            not in out_local_gated._jdf.queryExecution().analyzed().toString().lower()
        )
    finally:
        _restore_conf(spark, prev)
    # under the DEFAULT threshold, driver-local rules keep the hint
    out_local = with_robots_verdict(df, local_rules, "url")
    logical_local = out_local._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in logical_local.lower()
