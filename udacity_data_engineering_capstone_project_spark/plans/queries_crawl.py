"""Crawl-curation query tier: filter cascade, robots screening, strip-html, blocklists, end-to-end pipeline.

Split from plans/queries.py in r10 (VERDICT r9 #2): this module
registers its (spark_fn, oracle_sql) pairs into the shared
REGISTRY/UNREGISTERED stores (plans/_qcore.py) at import time;
plans/queries.py imports the tiers in grading order. Import a name
from this module, not through plans/queries.py. Registry-wide
contract notes (aliasing, rounding, tie-breaking) live in
plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from udacity_data_engineering_capstone_project_spark.operators import dedup as dd
from udacity_data_engineering_capstone_project_spark.operators import textstats as ts

from udacity_data_engineering_capstone_project_spark.plans._qcore import _register, _t


# Oracle twin for apply_filter_cascade — UNREGISTERED. The verdict is
# a CASE chain over integer lengths/counts and one IEEE-exact ratio
# (distinct/words, both engines round-half-even the same division);
# NULL keep-predicates fail via the coalesce form on both sides.
CASCADE_ORACLE = """
    WITH w AS (
        SELECT doc_id, text,
               regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ), v AS (
        SELECT doc_id,
               CASE
                 WHEN NOT coalesce(length(text) >= 100, false)
                   THEN 'too_short'
                 WHEN NOT coalesce(length(text) <= 450, false)
                   THEN 'too_long'
                 WHEN NOT coalesce(len(words) >= 30, false)
                   THEN 'too_few_words'
                 WHEN NOT coalesce(
                     len(list_distinct(words)) * 1.0 / len(words) >= 0.45,
                     false)
                   THEN 'low_diversity'
                 ELSE 'kept'
               END AS verdict
        FROM w
    )
    SELECT v.verdict AS rule,
           CAST(r.rule_index AS INTEGER) AS rule_index,
           count(*) AS rows
    FROM v
    JOIN (VALUES ('too_short', 0), ('too_long', 1), ('too_few_words', 2),
                 ('low_diversity', 3), ('kept', 4)) AS r(rule, rule_index)
      ON v.verdict = r.rule
    GROUP BY 1, 2
"""


@_register(
    "filter_cascade_q",
    CASCADE_ORACLE,
    "C4/Gopher-style ordered filter battery with first-failing-rule "
    "audit attribution (operators/quality.py:apply_filter_cascade) — "
    "one CASE-chain codegen pass, audit group count sized by rules "
    "not corpus. Unregistered; hash-pinned locally.",
    # r7: PROMOTED to a driver slot (crawl-tier rotation).
)
def filter_cascade_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-rule quality cascade over documents: length bounds, word
    count, distinct-word diversity (operators/quality.py:
    apply_filter_cascade). Every rule's rejection count plus the
    survivor count in one partial-agg pass. Unregistered; pinned by
    `test_unregistered_query_parity[filter_cascade_q]`."""
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        apply_filter_cascade,
    )

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    diversity = F.size(F.array_distinct(words)) * F.lit(1.0) / F.size(words)
    rules = [
        ("too_short", F.length("text") >= 100),
        ("too_long", F.length("text") <= 450),
        ("too_few_words", F.size(words) >= 30),
        ("low_diversity", diversity >= 0.45),
    ]
    _kept, audit = apply_filter_cascade(docs, rules)
    # Rules that reject nothing keep a 0 row locally, but the oracle's
    # inner join cannot see them — on this data every verdict is
    # populated at both driver scales (pinned by the parity test).
    return audit.filter(F.col("rows") > 0)


# Synthetic crawl-URL construction shared by the Spark query and the
# DuckDB oracle; the oracle derives the RFC 9309 verdict directly from
# the (host, path-kind) residue cases — an independent derivation, not
# a port of the longest-match algorithm.
_ROBOTS_URL_SQL = (
    "'http://h' || CAST(doc_id % 3 AS {T}) || '.com' || "
    "CASE doc_id % 5 "
    "WHEN 0 THEN '/private/x' || CAST(doc_id AS {T}) "
    "WHEN 1 THEN '/private/ok' || CAST(doc_id AS {T}) "
    "WHEN 2 THEN '/doc' || CAST(doc_id AS {T}) || '.pdf' "
    "WHEN 3 THEN '/doc' || CAST(doc_id AS {T}) || '.pdfx' "
    "ELSE '/page/' || CAST(doc_id AS {T}) END"
)

ROBOTS_FILTER_ORACLE = f"""
    SELECT doc_id,
           {_ROBOTS_URL_SQL.format(T="VARCHAR")} AS url,
           CASE
             WHEN doc_id % 3 = 0 AND doc_id % 5 = 0 THEN 'deny'
             WHEN doc_id % 3 = 1 AND doc_id % 5 = 2 THEN 'deny'
             WHEN doc_id % 3 = 1 AND doc_id % 5 = 4 THEN 'deny'
             ELSE 'allow'
           END AS verdict
    FROM documents
"""

_ROBOTS_TXT = {
    "h0.com": "User-agent: *\nDisallow: /private/\nAllow: /private/ok",
    "h1.com": "User-agent: *\nDisallow: /*.pdf$\nDisallow: /page",
    # h2.com publishes no robots.txt -> everything allowed
}


@_register(
    "robots_filter_q",
    ROBOTS_FILTER_ORACLE,
    "RFC 9309 robots.txt screen (functions/robots.py): per-host rule "
    "frames broadcast-joined to the URL corpus, longest-match wins "
    "with allow on ties, $-anchoring via the LIKE translation, "
    "ruleless hosts allowed. Hash-checked against a residue-derived "
    "verdict oracle. Unregistered; hash-pinned locally.",
    # r7: PROMOTED to a driver slot (crawl-tier rotation).
)
def robots_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance verdicts over synthetic per-doc URLs: three
    hosts x five path shapes exercise prefix rules, allow-overrides,
    $-anchored wildcards and the no-robots default
    (functions/robots.py:with_robots_verdict). Unregistered; pinned by
    `test_unregistered_query_parity[robots_filter_q]`."""
    from udacity_data_engineering_capstone_project_spark.functions.robots import (
        robots_rules_df,
        with_robots_verdict,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    df = docs.withColumn("url", F.expr(_ROBOTS_URL_SQL.format(T="STRING")))
    rules = robots_rules_df(spark, sorted(_ROBOTS_TXT.items()))
    out = with_robots_verdict(df, rules, "url")
    return out.select(
        "doc_id",
        "url",
        F.when(F.col("robots_allowed"), F.lit("allow"))
        .otherwise(F.lit("deny"))
        .alias("verdict"),
    )


# Synthetic HTML wrappings shared by the Spark query and the oracle.
# The oracle does NOT replay the regex chain: it derives the expected
# visible text from the extraction INVARIANT — the corpus text is
# single-spaced lowercase words (pinned below), so wrapping it in
# head/script/comment chrome and block tags must return it verbatim
# (plus the one visible list item m2 adds). An independent derivation.
_HTML_WRAP_SQL = (
    "CASE doc_id % 4 "
    "WHEN 0 THEN '<html><head><title>meta junk</title></head><body><p>' "
    "|| text || '</p></body></html>' "
    "WHEN 1 THEN '<div class=\"a\">' || text || "
    "'</div><script type=\"text/javascript\">var x = \"<p>\";</script>' "
    "WHEN 2 THEN '<ul><li>' || text || "
    "'</li><li>extra &amp; more</li></ul><!-- hidden -->' "
    "ELSE text END"
)

STRIP_HTML_ORACLE = f"""
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 2
                THEN text || chr(10) || 'extra & more'
                ELSE text END AS stripped
    FROM documents
    WHERE regexp_matches(text, '^[a-z]+( [a-z]+)*$')
"""


@_register(
    "strip_html_q",
    STRIP_HTML_ORACLE,
    "HTML -> visible text extraction (operators/textstats.py:"
    "strip_html): head/script/comment chrome dropped, block tags to "
    "newlines, entities decoded, whitespace collapsed — one "
    "whole-stage-codegen regexp chain. Hash-checked against the "
    "extraction invariant (wrapped clean text comes back verbatim). "
    "Promoted to a driver slot in r8 (rotation).",
)
def strip_html_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four HTML wrappings (full page, div+script, list+comment,
    plain) over every document, extracted back to visible text
    (operators/textstats.py:strip_html). The WHERE mirrors the
    oracle's clean-text precondition — on this corpus it keeps all
    rows (the invariant's premise, pinned by equal row counts).
    Unregistered; pinned by `test_unregistered_query_parity`."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").rlike(r"^[a-z]+( [a-z]+)*$"))
        .withColumn("html", F.expr(_HTML_WRAP_SQL))
    )
    stripped = ts.strip_html(docs.select("doc_id", "html"), "html", "stripped")
    return stripped.select("doc_id", "stripped")


# Oracle twin for screen_blocked_terms — UNREGISTERED. The oracle
# brute-forces documents x phrases (fine at driver scale) with the
# same padded-contains match definition; the Spark side must reach the
# identical match set through its token-prefilter broadcast join — an
# independent PLAN, same declarative contract.
BLOCKLIST_ORACLE = """
    WITH p(phrase) AS (VALUES ('slow scan'), ('merge window'),
                              ('customer data'), ('spark')),
    d AS (SELECT doc_id,
                 ' ' || regexp_replace(lower(text), '\\W+', ' ', 'g') || ' '
                 AS nt
          FROM documents)
    SELECT doc_id, phrase
    FROM d, p
    WHERE contains(nt, ' ' || phrase || ' ')
"""


@_register(
    "blocklist_screen_q",
    BLOCKLIST_ORACLE,
    "Blocklist phrase screen (operators/textstats.py:"
    "screen_blocked_terms): whole-word case-insensitive phrase "
    "matches via first-token broadcast prefilter + padded-contains "
    "verify — never documents x phrases. Hash-checked against a "
    "brute-force cross-join oracle. Promoted to a driver slot in r8 "
    "(rotation).",
)
def blocklist_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phrase) match rows for a 4-entry blocklist over
    documents (operators/textstats.py:screen_blocked_terms).
    Unregistered; pinned by `test_unregistered_query_parity`."""
    docs = _t(spark, sf_dir, "documents")
    return ts.screen_blocked_terms(
        docs, "doc_id",
        ["slow scan", "merge window", "customer data", "spark"],
    )


# Oracle for the end-to-end crawl pipeline (r7, VERDICT #4): every
# stage re-derived from first principles — robots from the residue
# cases, blocklist by brute-force contains, cascade by the rule
# predicates, dedup by the normalized fingerprint window, budget by
# the md5-order running sum (each piece individually proven by its
# own graded/unregistered twin; this composes them). id_sum pins
# WHICH documents survive each stage, not just how many.
CRAWL_PIPELINE_ORACLE = f"""
    WITH raw AS (
        -- the crawl snapshot re-fetches ~10% of pages under a second
        -- id (identical content, different URL identity) — the
        -- deterministic replica derivation that gives the dedup stage
        -- real work (the base corpus is exact-dup-free by
        -- construction; dedup_exact pins that)
        SELECT doc_id, text, lang, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text, lang, n_chars
        FROM documents WHERE doc_id % 10 = 3
    ),
    d AS (
        SELECT doc_id, text, lang, n_chars,
               CASE
                 WHEN doc_id % 3 = 0 AND doc_id % 5 = 0 THEN 'deny'
                 WHEN doc_id % 3 = 1 AND doc_id % 5 = 2 THEN 'deny'
                 WHEN doc_id % 3 = 1 AND doc_id % 5 = 4 THEN 'deny'
                 ELSE 'allow'
               END AS robots
        FROM raw
    ),
    s1 AS (SELECT * FROM d WHERE robots = 'allow'),
    blocked AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id,
                     ' ' || regexp_replace(lower(text), '\\W+', ' ', 'g')
                     || ' ' AS nt
              FROM s1),
             (VALUES (' slow scan '), (' merge window '),
                     (' customer data ')) AS p(pp)
        WHERE contains(nt, pp)
    ),
    s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM blocked)),
    s3 AS (
        SELECT * FROM (
            SELECT *, regexp_split_to_array(trim(text), '\\s+') AS words
            FROM s2
        )
        WHERE coalesce(length(text) >= 100, false)
          AND coalesce(length(text) <= 450, false)
          AND coalesce(len(words) >= 30, false)
          AND coalesce(len(list_distinct(words)) * 1.0 / len(words) >= 0.45,
                       false)
    ),
    s4 AS (
        SELECT * FROM (
            SELECT *, min(doc_id) OVER (
                PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]',
                                                '', 'g'))
            ) AS keep_id
            FROM s3
        ) WHERE doc_id = keep_id
    ),
    s5 AS (
        SELECT * FROM (
            SELECT *, sum(n_chars) OVER (
                PARTITION BY lang
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
                ROWS UNBOUNDED PRECEDING
            ) - n_chars AS started_at
            FROM s4
        ) WHERE started_at < 2000
    )
    SELECT 0 AS stage_index, 'intake' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum FROM d
    UNION ALL SELECT 1, 'robots',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM s1
    UNION ALL SELECT 2, 'blocklist',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM s2
    UNION ALL SELECT 3, 'quality_cascade',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM s3
    UNION ALL SELECT 4, 'exact_dedup',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM s4
    UNION ALL SELECT 5, 'token_budget',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM s5
"""


def crawl_pipeline_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-pipeline intake frame: documents + the deterministic
    ~10% re-fetch replica derivation (identical content under a second
    id — the dedup stage's real work; the base corpus is exact-dup-
    free by construction, dedup_exact pins that) + synthetic per-doc
    URLs."""
    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 10 == 3).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    return docs.withColumn("url", F.expr(_ROBOTS_URL_SQL.format(T="STRING")))


CRAWL_BLOCKLIST_PHRASES = ["slow scan", "merge window", "customer data"]

# per-lang token budget of the crawl pipeline's final stage — ONE
# definition for the composed stage chain and the single-pass audit
_CRAWL_TOKEN_BUDGET = 2000


def crawl_cascade_rules():
    """The crawl pipeline's quality-cascade rule list — module-level so
    the batch pipeline, the streaming twin, and their equality test
    all build the SAME rule expressions."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    diversity = F.size(F.array_distinct(words)) * F.lit(1.0) / F.size(words)
    return [
        ("too_short", F.length("text") >= 100),
        ("too_long", F.length("text") <= 450),
        ("too_few_words", F.size(words) >= 30),
        ("low_diversity", diversity >= 0.45),
    ]


def crawl_pipeline_stage_fns(spark: SparkSession):
    """The crawl pipeline's five stages as a ``(name, fn)`` list of
    pure DataFrame transforms — the ONE definition behind (a) the
    graded session-local query (`crawl_pipeline_q` via
    `crawl_pipeline_stages`), (b) the per-stage scale probe, and (c)
    the DURABLE form: feed this list to `plans.pipeline.run_pipeline`
    with a ``checkpoint_dir`` and the same pipeline becomes parquet-
    checkpointed and crash-resumable (a died stage recomputes, a
    committed one is skipped) — the 100 TB failure-recovery shape.
    Equality of the durable path with the graded path is pinned by
    `test_pipeline_runner.py::test_crawl_pipeline_durable_resume`."""
    from udacity_data_engineering_capstone_project_spark.functions.robots import (
        filter_robots_disallowed,
        robots_rules_df,
    )
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        apply_filter_cascade,
    )
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        cap_tokens_per_group,
    )

    rules = robots_rules_df(spark, sorted(_ROBOTS_TXT.items()))

    def robots(d: DataFrame) -> DataFrame:
        return filter_robots_disallowed(d, rules, "url")

    def blocklist(d: DataFrame) -> DataFrame:
        matches = ts.screen_blocked_terms(
            d, "doc_id", CRAWL_BLOCKLIST_PHRASES
        )
        return d.join(
            matches.select("doc_id").distinct(), on="doc_id", how="left_anti"
        )

    cascade_rules = crawl_cascade_rules()

    def quality_cascade(d: DataFrame) -> DataFrame:
        kept, _audit = apply_filter_cascade(d, cascade_rules)
        return kept

    def exact_dedup(d: DataFrame) -> DataFrame:
        survivors = dd.exact_text_dedup(d, "doc_id", "text").select(
            F.col("keep_id").alias("doc_id")
        )
        return d.join(survivors, on="doc_id", how="left_semi")

    def token_budget(d: DataFrame) -> DataFrame:
        return cap_tokens_per_group(
            d, ["lang"], "n_chars", budget=_CRAWL_TOKEN_BUDGET, key_col="doc_id"
        )

    return [
        ("robots", robots),
        ("blocklist", blocklist),
        ("quality_cascade", quality_cascade),
        ("exact_dedup", exact_dedup),
        ("token_budget", token_budget),
    ]


def crawl_pipeline_stages(spark: SparkSession, sf_dir: str):
    """Generator over the crawl pipeline's (name, DataFrame) stages,
    eagerly checkpointing each barrier AS IT IS YIELDED — so a probe
    can time every stage individually (next() returns when the
    barrier has materialized) while the graded query just drains it.
    The stage bodies live in `crawl_pipeline_stage_fns`; see
    crawl_pipeline_q and the durable twin in plans/pipeline.py."""
    df = crawl_pipeline_intake(spark, sf_dir)
    yield "intake", df
    for name, fn in crawl_pipeline_stage_fns(spark):
        df = fn(df).localCheckpoint(eager=True)
        yield name, df


@_register(
    "crawl_pipeline_q",
    CRAWL_PIPELINE_ORACLE,
    "END-TO-END crawl curation pipeline (r7, VERDICT #4): synthetic "
    "per-doc URLs -> RFC 9309 robots screen -> blocklist phrase "
    "screen -> 4-rule quality cascade -> exact dedup -> per-lang "
    "token budget, composed from the REAL operators "
    "(filter_robots_disallowed, screen_blocked_terms, "
    "apply_filter_cascade, exact_text_dedup, cap_tokens_per_group) "
    "with per-stage (rows, id_sum) audit — the query a real user "
    "runs; id_sum pins the exact surviving set at every stage.",
)
def crawl_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-stage crawl curation AUDIT in ONE pass (r14 restructure,
    guide §2.3/§2.4/§5): every stage of the pipeline is a pure row
    FILTER, so the per-stage (rows, id_sum) audit never needs the five
    eagerly-checkpointed corpus materializations the composed form
    pays (the r13 plan was 5 full-text localCheckpoints + 6 aggregate
    jobs; at 100 TB that is five corpus writes for four counters).
    Instead each stage becomes a keep-FLAG on one lineage:

    - s1 robots: `with_robots_verdict` (broadcast rules join) as a
      boolean instead of a filter;
    - s2 blocklist: padded-contains over the normalized phrase list —
      the exact `screen_blocked_terms` match contract (whole-word
      sequence == substring on both sides' \\W+ padded normalizations;
      the operator's first-token prefilter/explode/join machinery is
      an optimization for 100k-entry blocklists, not a semantic);
      equality with the operator is pinned by
      test_crawl_pipeline_q_flags_match_composed_stages;
    - s3 quality cascade: conjunction of `crawl_cascade_rules`;
    - s4 exact dedup: min(doc_id) over the md5(normalized text)
      fingerprint WINDOW restricted to s3 survivors (min ignores the
      non-survivors' NULLs) — the same keep set as
      `exact_text_dedup` + semi-join;
    - s5 token budget: `cap_tokens_per_group`'s distributed prefix sum
      with s4-conditional weights — identical hash order (md5-prefix
      range offsets + within-range running sum), kept iff the
      cumulative spend of PRECEDING s4 survivors starts under budget.

    Text is projected away before the first exchange (only the flags,
    fingerprint, lang, n_chars, doc_id shuffle — guide §2.3), and the
    six audit rows come from ONE conditional aggregation unpivoted,
    instead of six jobs over six barriers. The composed stage chain
    itself (the operators wired end-to-end, with real barriers) lives
    on in `crawl_pipeline_stages` for the durable/streaming twins and
    the per-stage scale probe; flag-vs-composed equality is
    test-pinned there too."""
    names = ["intake", "robots", "blocklist", "quality_cascade",
             "exact_dedup", "token_budget"]
    spent = crawl_pipeline_flags(spark, sf_dir)
    aggs = [
        F.count(F.lit(1)).alias("__n_0"),
        F.sum("doc_id").alias("__i_0"),
    ]
    for i in range(1, 6):
        flag = F.col(f"__s{i}")
        aggs.append(F.sum(flag.cast("long")).alias(f"__n_{i}"))
        aggs.append(
            F.sum(F.when(flag, F.col("doc_id")).otherwise(F.lit(0))).alias(
                f"__i_{i}"
            )
        )
    one = spent.agg(*aggs)
    stack = ", ".join(
        f"{i}, '{names[i]}', __n_{i}, __i_{i}" for i in range(6)
    )
    return one.select(
        F.expr(
            f"stack(6, {stack}) AS (stage_index, stage, n_docs, id_sum)"
        )
    ).select(
        F.col("stage_index").cast("int").alias("stage_index"),
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("id_sum").cast("bigint").alias("id_sum"),
    )


def crawl_pipeline_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl pipeline's five stages as cumulative keep-FLAGS
    (``__s1`` .. ``__s5``) on one narrow lineage — the single-pass core
    of `crawl_pipeline_q` (see its docstring for the stage-by-stage
    equivalence argument). One row per intake document with
    (doc_id, lang, n_chars) plus the flags; per-stage equality with the
    composed operator chain (`crawl_pipeline_stages`) is pinned by
    test_crawl_pipeline_q_flags_match_composed_stages."""
    from udacity_data_engineering_capstone_project_spark.functions.robots import (
        robots_rules_df,
        with_robots_verdict,
    )
    from udacity_data_engineering_capstone_project_spark.functions.text import (
        normalize_text,
    )
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        hash_bucket,
    )
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        normalize_blocklist_phrase,
        padded_norm_text,
    )

    docs = crawl_pipeline_intake(spark, sf_dir)
    rules = robots_rules_df(spark, sorted(_ROBOTS_TXT.items()))
    flagged = with_robots_verdict(docs, rules, "url", out_col="__s1")
    nt = padded_norm_text("text")
    blocked = None
    for p in CRAWL_BLOCKLIST_PHRASES:
        hit = nt.contains(F.lit(f" {normalize_blocklist_phrase(p)} "))
        blocked = hit if blocked is None else (blocked | hit)
    cascade = None
    for _name, cond in crawl_cascade_rules():
        cascade = cond if cascade is None else (cascade & cond)
    narrow = flagged.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(normalize_text("text")).alias("__fp"),
        F.col("__s1"),
        (F.col("__s1") & ~blocked).alias("__s2"),
        (F.col("__s1") & ~blocked & cascade).alias("__s3"),
        # budget-order keys (cap_tokens_per_group's default hash order)
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("__b"),
        hash_bucket("doc_id", 8).alias("__h8"),
    )
    # s4: exact dedup among s3 survivors — min ignores NULLs, so the
    # conditional doc_id restricts the window to survivors
    w_fp = Window.partitionBy("__fp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    min_id = F.min(F.when(F.col("__s3"), F.col("doc_id"))).over(w_fp)
    s4 = narrow.withColumn(
        "__s4", F.col("__s3") & (F.col("doc_id") == min_id)
    )
    # s5: per-lang token budget over s4 survivors, decomposed exactly
    # like cap_tokens_per_group's scale path: per-(lang, md5-prefix)
    # totals cumulate into range offsets (tiny frame, broadcast back),
    # the within-range running sum runs 256-way parallel per lang
    wgt = F.when(F.col("__s4"), F.coalesce(F.col("n_chars"), F.lit(0))).otherwise(
        F.lit(0)
    )
    s4 = s4.withColumn("__w", wgt)
    totals = s4.groupBy("lang", "__b").agg(F.sum("__w").alias("__bt"))
    woff = (
        Window.partitionBy("lang")
        .orderBy(F.col("__b").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        F.col("lang").alias("__gl"),
        F.col("__b").alias("__b2"),
        (F.sum("__bt").over(woff) - F.col("__bt")).alias("__off"),
    )
    win = (
        Window.partitionBy("lang", "__b")
        .orderBy(F.col("__h8"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = _CRAWL_TOKEN_BUDGET
    return s4.join(
        offsets,
        on=[
            F.col("lang").eqNullSafe(F.col("__gl")),
            F.col("__b").eqNullSafe(F.col("__b2")),
        ],
        how="left",
    ).withColumn(
        "__s5",
        F.col("__s4")
        & ((F.col("__off") + F.sum("__w").over(win) - F.col("__w")) < budget),
    )
