"""Quality/report query tier: gopher rules, PQ-ANN, capstone counts, ingest anomaly and skew audits, PR curves.

Split from plans/queries.py in r10 (VERDICT r9 #2): this module
registers its (spark_fn, oracle_sql) pairs into the shared
REGISTRY/UNREGISTERED stores (plans/_qcore.py) at import time;
plans/queries.py is the facade that imports the tiers in grading
order and re-exports every symbol — the driver contract and all
external imports are unchanged. Registry-wide contract notes
(aliasing, rounding, tie-breaking) live in plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from udacity_data_engineering_capstone_project_spark.operators import similarity as sim
from udacity_data_engineering_capstone_project_spark.operators import textstats as ts

from udacity_data_engineering_capstone_project_spark.plans._qcore import _register, _t


# Oracle twin for gopher_quality — UNREGISTERED; DuckDB reproduces the
# whole rule battery with list lambdas over the same word/line splits.
GOPHER_QUALITY_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           w -> w <> '') AS words,
               string_split(text, chr(10)) AS lines,
               len(regexp_extract_all(text, '#')) +
               len(regexp_extract_all(text, '\\.\\.\\.')) +
               len(regexp_extract_all(text, '…')) AS n_symbols
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               len(words) AS n_words,
               len(lines) AS n_lines,
               COALESCE(list_sum(list_transform(words, w -> len(w))), 0)
                   AS wlen_sum,
               len(list_filter(words,
                   w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
               len(list_filter(lines,
                   l -> regexp_matches(ltrim(l), '^[-*•‣▪]'))) AS bullet_lines,
               len(list_filter(lines,
                   l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
                   AS ellipsis_lines,
               n_symbols,
               len(list_filter(['the', 'a'],
                   s -> list_contains(list_transform(words, w -> lower(w)), s)))
                   AS stop_hits
        FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(CASE WHEN n_words > 0
                      THEN wlen_sum * 1.0 / n_words ELSE 0 END, 6)
               AS mean_word_len,
           round(CASE WHEN n_words > 0
                      THEN n_symbols * 1.0 / n_words ELSE 0 END, 6)
               AS symbol_word_ratio,
           round(CASE WHEN n_lines > 0
                      THEN bullet_lines * 1.0 / n_lines ELSE 0 END, 6)
               AS frac_bullet_lines,
           round(CASE WHEN n_lines > 0
                      THEN ellipsis_lines * 1.0 / n_lines ELSE 0 END, 6)
               AS frac_ellipsis_lines,
           round(CASE WHEN n_words > 0
                      THEN alpha_words * 1.0 / n_words ELSE 0 END, 6)
               AS frac_alpha_words,
           CAST(stop_hits AS BIGINT) AS n_stop_hits,
           CAST(CASE WHEN n_words BETWEEN 40 AND 100000
                      AND (CASE WHEN n_words > 0
                                THEN wlen_sum * 1.0 / n_words ELSE 0 END)
                          BETWEEN 3.0 AND 10.0
                      AND (CASE WHEN n_words > 0
                                THEN n_symbols * 1.0 / n_words ELSE 0 END) <= 0.1
                      AND (CASE WHEN n_lines > 0
                                THEN bullet_lines * 1.0 / n_lines ELSE 0 END)
                          <= 0.9
                      AND (CASE WHEN n_lines > 0
                                THEN ellipsis_lines * 1.0 / n_lines ELSE 0 END)
                          <= 0.3
                      AND (CASE WHEN n_words > 0
                                THEN alpha_words * 1.0 / n_words ELSE 0 END)
                          >= 0.8
                      AND stop_hits >= 2
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM s
"""


@_register(
    "gopher_quality_q",
    GOPHER_QUALITY_ORACLE,
    "Gopher rule battery (operators/textstats.py:gopher_quality): "
    "word-count/word-length/symbol/bullet/ellipsis/alpha/stopword "
    "document quality rules (Rae et al. 2021 App. A). Registered in "
    "round 4 session 3 (slot ceded by the rows-only dedup_clusters).",
    registered=False,  # r12: ceded (rotation, VERDICT r11 #2) to the 10 long-rotated veterans; hash-pinned in the unregistered gate
)
def gopher_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ts.gopher_quality(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        min_words=40,
        min_stop_hits=2,
        stopwords=("the", "a"),
    )
    return out.withColumn("keep", F.col("keep").cast("long"))


@_register(
    "pq_ann_q",
    # r7 conversion of the former no_oracle row: with the rerank pool
    # sized past the worst ADC rank of any true neighbor (measured 215
    # of 500 at sf0.01; pool = k*30 = 300, pinned by
    # test_pq_rerank_pool_covers_exact_topk), the exact-cosine rerank
    # provably returns the brute-force top-10 — so DuckDB's exact
    # brute-force IS a fair oracle, and an ADC/codebook regression
    # that pushed a true neighbor out of the pool would surface as a
    # hash mismatch here. The k-means/encode internals stay pinned by
    # tests/test_pq.py numpy parity.
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 10),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(q.v, e.v) /
                     (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6)
                   AS cos_sim
        FROM e CROSS JOIN q
        WHERE e.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
           cos_sim
    FROM scored
    QUALIFY rank <= 10
    """,
    "Product-quantization ANN (operators/similarity.py:train_pq_"
    "codebooks/pq_encode/pq_topk): 8-byte PQ codes + ADC search + "
    "exact-cosine rerank (Jegou et al. 2011), hash-checked against "
    "DuckDB's brute-force top-10 (rerank pool covers the exact set).",
    # r5: promoted to a driver slot; r7: oracle-converted.
    registered=False,  # r12: ceded (rotation, VERDICT r11 #2) to the 10 long-rotated veterans; hash-pinned in the unregistered gate
)
def pq_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the embeddings file arrives as one split at bench scales — spread
    # it once so training/encode/search engage every core (no-op shape
    # at real scale where inputs arrive already split)
    emb = sim.normalize_embeddings(
        _t(spark, sf_dir, "embeddings").repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        ),
        "embedding",
    ).localCheckpoint(eager=True)
    cb = sim.train_pq_codebooks(emb, "vec_id", "embedding", m=16, k=32, iters=3)
    codes = sim.pq_encode(emb, cb, "embedding")
    queries_df = emb.orderBy("vec_id").limit(10)
    # rerank pool derived from CORPUS SIZE, not a fixed multiple (r8,
    # review finding). Measured ladder of the worst ENGINE-ADC rank of
    # a true top-10 neighbor (m=16/k=32 codebooks, pq_topk ordering):
    # 215 of 500 (43%) at sf0.01, 357 of 2000 (17.9%) at sf0.1 — the
    # absolute rank grows sublinearly while the FRACTION shrinks, so a
    # fixed fraction is conservative upward in n. A first r8 cut used
    # 6% on a mis-read of the ladder and an sf0.1 parity sweep caught
    # the miss (worst rank 357 > 300 pool) — 25% covers both measured
    # scales with >=1.4x headroom, and the k*30 floor carries small
    # corpora (at n=500 the fraction term alone is 125 < 215). emb is
    # checkpointed, so count() is a cached-stat read, not a recompute.
    k = 10
    pool_rows = max(k * 30, -(-emb.count() // 4))
    return sim.pq_topk(
        codes, queries_df, cb, "vec_id", "embedding", k=k,
        rerank_with=emb, rerank_factor=-(-pool_rows // k),
    )


# The reference's entire value proposition is the 7-table star-schema
# build with exact golden counts (`etl.py:338-344`). This query runs
# the FULL parity pipeline (clean_immigration -> clean_temperature ->
# clean_airport_codes -> build_state_temperature -> build_star_schema)
# over staging frames derived DETERMINISTICALLY from the sf_dir tables
# (every staging column is a pure modular function of a key, so DuckDB
# can re-derive identical staging), and emits the 7 (table, row_count)
# pairs — pinning the whole pipeline shape the way the reference's own
# quality gate does. The oracle recomputes each count from first
# principles: dims as distincts over the cleaned staging, fact_imm as
# the cleaned-row count (asserting the 6 dim joins are row-preserving),
# fact_temp by replaying the coordinate argmax join.
CAPSTONE_COUNTS_ORACLE = """
    WITH imm_k AS (
        -- cicid = j (the 4-block index) makes every staging column a
        -- function of j, so full-row dropDuplicates() == DISTINCT j;
        -- field moduli (7, 8, 5, 400) are coprime to the visa-filter
        -- modulus 3, so the filtered stream still hits every value
        SELECT DISTINCT o_orderkey // 4 AS j FROM orders
    ),
    imm_clean AS (
        -- tourism filter: i94visa = 1 + j%3 == 2
        SELECT j, i94port, airline, arrdate_dt,
               CASE WHEN st IN ('NY','FL','CA','TX','WA')
                    THEN st ELSE 'other' END AS state
        FROM (
            SELECT j,
                   list_extract(['NYC','MIA','SFO','LVG','ATL','ORD','BOS'],
                                CAST(j % 7 AS INT) + 1) AS i94port,
                   list_extract(['AA','DL','UA',NULL,'BA'],
                                CAST(j % 5 AS INT) + 1) AS airline,
                   DATE '1960-01-01'
                       + CAST(19000 + j % 400 AS INT) AS arrdate_dt,
                   list_extract(['NY','FL','CA','TX','WA','99',NULL,'ZZ'],
                                CAST(j % 8 AS INT) + 1) AS st
            FROM imm_k WHERE j % 3 = 1
        )
    ),
    temp_by_coord AS (
        -- clean_temperature: US filter, dropna (null temp), printf
        -- coarsening (fraction digits < .5 by construction, so %.0f
        -- == the integer part on both engines)
        SELECT DISTINCT CAST(25 + m % 20 AS VARCHAR) AS lat,
                        CAST(70 + m % 25 AS VARCHAR) AS long,
                        5 AS month,
                        CAST(1 + m % 28 AS INT) AS dayofmonth
        FROM (SELECT c_custkey AS m FROM customer)
        WHERE m % 7 <> 0 AND m % 11 <> 0
    ),
    air_counted AS (
        SELECT CAST(25 + s % 20 AS VARCHAR) AS latitude,
               CAST(70 + s % 25 AS VARCHAR) AS longitude,
               CASE WHEN sp IN ('NY','NJ','FL','CA','TX')
                    THEN sp ELSE 'other' END AS state,
               COUNT(*) AS num
        FROM (
            SELECT s_suppkey AS s,
                   -- split('US-U-A', '-')[2] = 'U' -> 'other'
                   list_extract(['NY','NJ','FL','CA','TX','U'],
                                CAST(s_suppkey % 6 AS INT) + 1) AS sp
            FROM supplier
        )
        WHERE s % 9 <> 0
        GROUP BY 1, 2, 3
    ),
    dominant AS (
        SELECT latitude, longitude, state FROM air_counted
        QUALIFY row_number() OVER (
            PARTITION BY latitude, longitude
            ORDER BY num DESC, state ASC
        ) = 1
    ),
    fact_temp_rows AS (
        SELECT DISTINCT t.dayofmonth, t.month, d.state
        FROM temp_by_coord t
        JOIN dominant d ON t.lat = d.latitude AND t.long = d.longitude
    )
    SELECT table_name, n_rows FROM (
        SELECT 'dim_airlines' AS table_name,
               COUNT(DISTINCT airline)
                 + MAX(CASE WHEN airline IS NULL THEN 1 ELSE 0 END) AS n_rows
        FROM imm_clean
        UNION ALL SELECT 'dim_person', COUNT(*) FROM imm_clean
        UNION ALL SELECT 'dim_ports', COUNT(DISTINCT i94port) FROM imm_clean
        UNION ALL SELECT 'dim_state', COUNT(DISTINCT state) FROM imm_clean
        UNION ALL SELECT 'dim_time', COUNT(DISTINCT arrdate_dt) FROM imm_clean
        UNION ALL SELECT 'fact_imm', COUNT(*) FROM imm_clean
        UNION ALL SELECT 'fact_temp', COUNT(*) FROM fact_temp_rows
    ) ORDER BY table_name
"""


@_register(
    "capstone_counts",
    CAPSTONE_COUNTS_ORACLE,
    "End-to-end reference-pipeline golden counts (plans/capstone.py): "
    "full 7-table star-schema build over deterministic synthetic "
    "staging; one row per table with its exact row count — the "
    "reference's own quality-gate shape (etl.py:338-344).",
)
def capstone_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_capstone_project_spark.plans import capstone as cap

    # the 4-block index: ~4 order rows collapse to one immigration row
    # (exercises the full-row dedup); field moduli are coprime to the
    # visa-filter modulus 3 so the tourism subset hits every value
    k = F.floor(F.col("o_orderkey") / 4).cast("long")
    imm_stage = _t(spark, sf_dir, "orders").select(
        k.cast("double").alias("cicid"),
        F.element_at(
            F.array(*[F.lit(x) for x in
                      ("NYC", "MIA", "SFO", "LVG", "ATL", "ORD", "BOS")]),
            (k % 7 + 1).cast("int"),
        ).alias("i94port"),
        (F.lit(19000) + k % 400).cast("double").alias("arrdate"),
        F.element_at(
            F.array(*[F.lit(x).cast("string") for x in
                      ("NY", "FL", "CA", "TX", "WA", "99", None, "ZZ")]),
            (k % 8 + 1).cast("int"),
        ).alias("i94addr"),
        F.when(k % 5 == 0, F.lit(None).cast("double")).otherwise(
            (F.lit(19000) + k % 400 + k % 30).cast("double")
        ).alias("depdate"),
        (F.lit(1) + k % 3).cast("double").alias("i94visa"),
        (F.lit(1950) + k % 50).cast("double").alias("biryear"),
        F.element_at(
            F.array(*[F.lit(x).cast("string") for x in ("M", "F", None)]),
            (k % 3 + 1).cast("int"),
        ).alias("gender"),
        F.element_at(
            F.array(*[F.lit(x).cast("string") for x in
                      ("AA", "DL", "UA", None, "BA")]),
            (k % 5 + 1).cast("int"),
        ).alias("airline"),
    )
    m = F.col("c_custkey")
    # fraction digits are 0-4 by construction so the reference's
    # %.0f coarsening is tie-free (Java HALF_UP == C half-even here)
    temp_stage = _t(spark, sf_dir, "customer").select(
        F.date_add(F.lit("2016-05-01").cast("date"), (m % 28).cast("int"))
        .cast("string").alias("dt"),
        F.when(m % 11 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("1"), (m % 9).cast("string"), F.lit(".5"))
        ).alias("AverageTemperature"),
        F.concat(F.lit("City"), (m % 40).cast("string")).alias("City"),
        F.when(m % 7 == 0, F.lit("Canada")).otherwise(
            F.lit("United States")
        ).alias("Country"),
        F.concat((F.lit(25) + m % 20).cast("string"), F.lit("."),
                 (m % 5).cast("string"), F.lit("N")).alias("Latitude"),
        F.concat((F.lit(70) + m % 25).cast("string"), F.lit("."),
                 (m * 3 % 5).cast("string"), F.lit("W")).alias("Longitude"),
    )
    s = F.col("s_suppkey")
    air_stage = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("ident"),
        F.when(s % 9 == 0, F.lit("CA")).otherwise(F.lit("US"))
        .alias("iso_country"),
        F.concat(
            F.lit("US-"),
            F.element_at(
                F.array(*[F.lit(x) for x in
                          ("NY", "NJ", "FL", "CA", "TX", "U-A")]),
                (s % 6 + 1).cast("int"),
            ),
        ).alias("iso_region"),
        F.concat(F.lit("-"), (F.lit(70) + s % 25).cast("string"),
                 F.lit("."), (s % 5).cast("string"), F.lit(", "),
                 (F.lit(25) + s % 20).cast("string"), F.lit("."),
                 (s * 3 % 5).cast("string")).alias("coordinates"),
    )

    imm = cap.clean_immigration(imm_stage)
    temp = cap.clean_temperature(temp_stage)
    air = cap.clean_airport_codes(air_stage)
    state_temp = cap.build_state_temperature(temp, air)
    tables = cap.build_star_schema(imm, state_temp, persist_dims=False)
    # the plan linter gates the fact-scale lineage: dim_person (1:1 with
    # the fact rows) must lint without an error, with no rule allowed
    from udacity_data_engineering_capstone_project_spark.plans.lint import assert_scalable

    assert_scalable(tables["dim_person"])
    counts = [
        tables[name].agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("table_name"), "n_rows"
        )
        for name in sorted(tables)
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out.orderBy("table_name")



# Oracle twin for rolling_zscore — UNREGISTERED. Determinism by
# construction: the window aggregates are SUM/COUNT over integer
# hourly counts (exact in both engines), and mean/variance/z are one
# fixed IEEE expression tree (+ correctly-rounded sqrt) — no
# engine-internal stddev algorithm in the hash path.
INGEST_ANOMALY_ORACLE = """
    WITH hc AS (
        SELECT event_type,
               epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS hour_us,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ), w AS (
        SELECT event_type, hour_us, n,
               sum(CAST(n AS DOUBLE)) OVER win AS s1,
               sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) OVER win AS s2,
               count(CAST(n AS DOUBLE)) OVER win AS cnt
        FROM hc
        WINDOW win AS (PARTITION BY event_type ORDER BY hour_us
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_us, n,
           cnt AS trail_n,
           CASE WHEN cnt > 0 THEN round(s1 / cnt, 6) END AS trail_mean,
           CASE WHEN cnt >= 8 AND (s2 - s1 * s1 / cnt) / (cnt - 1) > 0
                THEN round((CAST(n AS DOUBLE) - s1 / cnt)
                           / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1)), 6)
           END AS z,
           CASE WHEN cnt < 8 OR (s2 - s1 * s1 / cnt) / (cnt - 1) <= 0
                     THEN 'insufficient'
                WHEN abs((CAST(n AS DOUBLE) - s1 / cnt)
                         / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1))) >= 3.0
                     THEN 'anomaly'
                ELSE 'normal' END AS verdict
    FROM w
"""


@_register(
    "ingest_anomaly_q",
    INGEST_ANOMALY_ORACLE,
    "Trailing-window z-score volume anomalies over hourly ingest "
    "counts (operators/quality.py:rolling_zscore) — the intake "
    "monitor that catches crawler loops / upstream outages before "
    "they poison a training mix. Unregistered; hash-pinned locally.",
    # r7: PROMOTED to a driver slot (rotation).
)
def ingest_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts per type -> trailing-24h z-score
    (operators/quality.py:rolling_zscore). Unregistered; pinned by
    `test_unregistered_query_parity[ingest_anomaly_q]`."""
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        rolling_zscore,
    )

    hc = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ "
                "'1970-01-01 00:00:00', date_trunc('hour', ts))"
            ).alias("hour_us"),
        )
        .groupBy("event_type", "hour_us")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = rolling_zscore(
        hc, ["event_type"], "hour_us", "n", lookback=24, min_history=8
    )
    # verdict as a NON-NULL string: a nullable boolean would compare
    # None (Spark) against NaN (DuckDB .df()) in the hash frame
    return out.select(
        "event_type",
        "hour_us",
        "n",
        "trail_n",
        F.round("trail_mean", 6).alias("trail_mean"),
        F.round("z", 6).alias("z"),
        F.when(F.col("z").isNull(), F.lit("insufficient"))
        .when(F.col("is_anomaly"), F.lit("anomaly"))
        .otherwise(F.lit("normal"))
        .alias("verdict"),
    )


# Oracle twin for key_skew_report — UNREGISTERED. Shares and ratios
# derive from exact integer group counts through one fixed division;
# both engines agree bit-for-bit before the 6dp rounding.
SKEW_REPORT_ORACLE = """
    WITH lk AS (
        SELECT lang AS key_value, count(*) AS n_rows
        FROM documents GROUP BY 1
    ), lt AS (SELECT sum(n_rows) AS total, avg(n_rows) AS mean FROM lk),
    l AS (
        SELECT 'documents.lang' AS key, key_value, n_rows,
               round(n_rows / total, 6) AS share,
               round(n_rows / mean, 6) AS skew_ratio,
               CASE WHEN n_rows / total >= 0.05 THEN 'salt'
                    WHEN n_rows / mean > 4.0 THEN 'watch'
                    ELSE 'ok' END AS suggestion
        FROM lk, lt ORDER BY n_rows DESC, key_value ASC LIMIT 20
    ), uk AS (
        SELECT CAST(user_id AS VARCHAR) AS key_value, count(*) AS n_rows
        FROM events GROUP BY 1
    ), ut AS (SELECT sum(n_rows) AS total, avg(n_rows) AS mean FROM uk),
    u AS (
        SELECT 'events.user_id' AS key, key_value, n_rows,
               round(n_rows / total, 6) AS share,
               round(n_rows / mean, 6) AS skew_ratio,
               CASE WHEN n_rows / total >= 0.05 THEN 'salt'
                    WHEN n_rows / mean > 4.0 THEN 'watch'
                    ELSE 'ok' END AS suggestion
        FROM uk, ut ORDER BY n_rows DESC, key_value ASC LIMIT 5
    )
    SELECT * FROM l UNION ALL SELECT * FROM u
"""


@_register(
    "skew_report_q",
    SKEW_REPORT_ORACLE,
    "Hot-key diagnostics for two planned join keys "
    "(operators/quality.py:key_skew_report) — share + max/mean skew "
    "ratio + the salt/watch/ok operating rule, run before the 100 TB "
    "join. Promoted to a driver slot in r8 (rotation).",
)
def skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew reports over documents.lang and events.user_id
    (operators/quality.py:key_skew_report). Unregistered; pinned by
    `test_unregistered_query_parity[skew_report_q]`."""
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        key_skew_report,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("key_value")
    )
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key_value")
    )
    r1 = key_skew_report(docs, ["key_value"], top_n=20).withColumn(
        "key", F.lit("documents.lang")
    )
    r2 = key_skew_report(ev, ["key_value"], top_n=5).withColumn(
        "key", F.lit("events.user_id")
    )
    return r1.unionByName(r2).select(
        "key", "key_value", "n_rows", "share", "skew_ratio", "suggestion"
    )



# Oracle twin for quantile_bins — UNREGISTERED. Exact interpolated
# percentiles: Spark percentile == DuckDB quantile_cont bit-for-bit
# on the static testdata (same linear interpolation over the same
# doubles), and bin assignment counts cuts strictly below the value —
# integer-exact given identical cuts.
QUALITY_BINS_ORACLE = """
    WITH cuts AS (
        SELECT lang,
               quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS c
        FROM documents GROUP BY lang
    ), binned AS (
        SELECT d.lang, d.doc_id, d.n_chars,
               CASE WHEN d.n_chars IS NULL THEN NULL
                    ELSE len(list_filter(c, x -> x < d.n_chars)) END AS bin
        FROM documents d JOIN cuts USING (lang)
    )
    SELECT lang, bin,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM binned GROUP BY 1, 2
"""


@_register(
    "quality_bins_q",
    QUALITY_BINS_ORACLE,
    "Per-language length quartiles via equi-depth binning "
    "(operators/quality.py:quantile_bins) — the curriculum/strata "
    "primitive, one grouped percentile aggregation + a broadcast "
    "cut join, never ntile's global sort. Promoted to a driver slot "
    "in r8 (rotation).",
)
def quality_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartile bins of document length per language
    (operators/quality.py:quantile_bins). Unregistered; pinned by
    `test_unregistered_query_parity[quality_bins_q]`."""
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        quantile_bins,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    binned = quantile_bins(
        docs, "n_chars", 4, group_cols=["lang"], approximate=False
    )
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )



# Oracle twin for classifier_pr_curve — UNREGISTERED. Every cell
# derives from exact integer confusion counts (bucketing uses the
# same float multiply + floor in both engines on the same doubles);
# F1 uses the 2TP/(2TP+FP+FN) identity so no intermediate can go
# NULL-divergent.
PR_CURVE_ORACLE = """
    WITH scored AS (
        SELECT CASE WHEN len(ws) > 0
                    THEN CAST(len(list_filter(ws, w -> w IN
                         ('the','and','of','to','in','is','that','it',
                          'for','was'))) AS DOUBLE) / len(ws)
                    ELSE 0.0 END AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM (SELECT regexp_extract_all(lower(text), '[a-z]+') AS ws,
                     lang
              FROM documents)
    ), counts AS (
        SELECT LEAST(GREATEST(CAST(floor(s * 100) AS INT), 0), 100) AS b,
               sum(y) AS pos, sum(1 - y) AS neg
        FROM scored GROUP BY 1
    ), spine AS (
        SELECT unnest(generate_series(0, 100)) AS b
    ), filled AS (
        SELECT spine.b,
               coalesce(pos, 0) AS pos, coalesce(neg, 0) AS neg
        FROM spine LEFT JOIN counts ON spine.b = counts.b
    ), cum AS (
        -- CAST: DuckDB window sum(BIGINT) -> HUGEINT, which lands as
        -- float64 in the driver's hash while Spark emits int64 (the
        -- r3 corpus_prep lesson; r7 hash-red root cause).
        SELECT b,
               CAST(sum(pos) OVER (ORDER BY b DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS tp,
               CAST(sum(neg) OVER (ORDER BY b DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS fp,
               CAST(sum(pos) OVER () AS BIGINT) AS total_pos
        FROM filled
    )
    SELECT round(CAST(b AS DOUBLE) / 100, 6) AS threshold,
           tp, fp, CAST(total_pos - tp AS BIGINT) AS fn,
           CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) END
               AS precision,
           CASE WHEN total_pos > 0 THEN round(tp / total_pos, 6) END
               AS recall,
           CASE WHEN 2 * tp + fp + (total_pos - tp) > 0
                THEN round(2 * tp / (2 * tp + fp + (total_pos - tp)), 6)
           END AS f1
    FROM cum
"""


@_register(
    "pr_curve_q",
    PR_CURVE_ORACLE,
    "Precision/recall/F1 threshold sweep "
    "(operators/textstats.py:classifier_pr_curve) for a stopword-"
    "density is-English scorer — the operating-point picker for any "
    "corpus-screen classifier. Unregistered; hash-pinned locally.",
    # r7: PROMOTED to a driver slot (rotation).
)
def pr_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR curve of an English-stopword-density classifier against the
    lang=='en' label (operators/textstats.py:classifier_pr_curve).
    Unregistered; pinned by `test_unregistered_query_parity`."""
    from udacity_data_engineering_capstone_project_spark.operators.textstats import (
        classifier_pr_curve,
    )

    stop = ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was")
    docs = _t(spark, sf_dir, "documents")
    words = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*stop)))
    scored = docs.select(
        F.when(
            F.size(words) > 0,
            n_stop.cast("double") / F.size(words),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return classifier_pr_curve(scored, "score", "label", n_thresholds=100)



# Oracle twin for embedding_drift — UNREGISTERED. Per-dimension means
# of the same doubles; 6dp rounding absorbs summation-order ulps (the
# established avg-aggregate precedent, e.g. pricing_summary).
EMBEDDING_DRIFT_ORACLE = """
    WITH ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS v
        FROM embeddings
    ), a AS (
        SELECT dim, avg(v) AS ma FROM ex WHERE vec_id % 2 = 0 GROUP BY dim
    ), b AS (
        SELECT dim, avg(v) AS mb FROM ex WHERE vec_id % 2 = 1 GROUP BY dim
    )
    SELECT a.dim, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           round(abs(ma - mb), 6) AS abs_shift
    FROM a FULL OUTER JOIN b ON a.dim = b.dim
"""


@_register(
    "embedding_drift_q",
    EMBEDDING_DRIFT_ORACLE,
    "Per-dimension embedding centroid drift between two corpus "
    "versions (operators/similarity.py:embedding_drift) — the "
    "model-ops gate before mixing versions or swapping encoders. "
    "Promoted to a driver slot in r8 (rotation).",
)
def embedding_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid drift between the even- and odd-id halves of the
    embeddings table (operators/similarity.py:embedding_drift).
    Unregistered; pinned by `test_unregistered_query_parity`."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        embedding_drift,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        "embedding",
    )
