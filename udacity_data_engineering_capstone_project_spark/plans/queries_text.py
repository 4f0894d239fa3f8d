"""Text-pipeline query tier: BPE, PII redaction, link graph, chunking, temperature mix, packing.

Split from plans/queries.py in r10 (VERDICT r9 #2): this module
registers its (spark_fn, oracle_sql) pairs into the shared
REGISTRY/UNREGISTERED stores (plans/_qcore.py) at import time;
plans/queries.py imports the tiers in grading order. Import a name
from this module, not through plans/queries.py. Registry-wide
contract notes (aliasing, rounding, tie-breaking) live in
plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from udacity_data_engineering_capstone_project_spark.operators import textstats as ts

from udacity_data_engineering_capstone_project_spark.plans._qcore import _register, _t


# --- DuckDB-retrained BPE oracles (r9 addition) ---------------------------
#
# The oracle RETRAINS the full BPE merge sequence in SQL (the
# language_id_q precedent) and, for the tokenize query, re-applies it
# to every document. The key identity: textstats' JVM aggregate-fold
# merge (merge each adjacent (a, b), leftmost-first, non-overlapping)
# is EXACTLY SQL replace() over a string where every symbol is
# individually wrapped in chr(31): doubled delimiters mean adjacent
# matches never share a boundary char, and replace()'s left-to-right
# non-overlapping scan is the BPE merge rule (' a a a ' -> 'aa a',
# never 'aa aa'). A merged product a||b can never textually equal a
# (b is non-empty), so the fold and the replace agree symbol-for-
# symbol; test_bpe_fold_equals_wrapped_replace pins it on hostile
# shapes (runs, '_' markers, repeated merges).
#
# Early-stop parity needs no conditional SQL: when a round's best
# candidate fails the cnt>=2 / max-token-len gate, Spark BREAKS and
# the word table freezes — and because the oracle's failing round
# applies a no-op (LEFT JOIN against the empty best_r), its word
# table freezes too, so every later cand_r recomputes the SAME
# failing candidate and best_r stays empty. Frozen on both sides.

_BPE_NUM_MERGES = 12
_BPE_MAX_TOKEN_LEN = 16


def _bpe_oracle_sql(num_merges: int, max_token_len: int, tokenize: bool) -> str:
    S, SS, RS = "chr(31)", "chr(31)||chr(31)", "chr(30)"
    wrap_w = f"{S} || array_to_string(string_split(w || '_', ''), {SS}) || {S}"
    ctes = [
        f"""wt0 AS MATERIALIZED (
        SELECT w, count(*) AS n, {wrap_w} AS s
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents)
        GROUP BY w
    )"""
    ]
    for r in range(1, num_merges + 1):
        p = r - 1
        ctes.append(f"""cand{r} AS MATERIALIZED (
        SELECT p[1] AS a, p[2] AS b, sum(n) AS cnt
        FROM (SELECT n, unnest(list_zip(l, l[2:])) AS p
              FROM (SELECT n, string_split(substr(s, 2, greatest(length(s) - 2, 0)), {SS}) AS l
                    FROM wt{p}))
        WHERE p[2] IS NOT NULL
        GROUP BY a, b ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    )""")
        ctes.append(f"""best{r} AS MATERIALIZED (
        SELECT a, b FROM cand{r}
        WHERE cnt >= 2 AND length(a) + length(b) <= {max_token_len}
    )""")
        ctes.append(f"""wt{r} AS MATERIALIZED (
        SELECT w, n, CASE WHEN x.a IS NULL THEN s
            ELSE replace(s, {S}||x.a||{SS}||x.b||{S}, {S}||x.a||x.b||{S}) END AS s
        FROM wt{p} LEFT JOIN best{r} x ON TRUE
    )""")
    if not tokenize:
        merges = "\n        UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM best{r}"
            for r in range(1, num_merges + 1)
        )
        return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT * FROM ({merges})"
    ctes.append(f"""docs0 AS MATERIALIZED (
        SELECT doc_id, CASE WHEN len(words) = 0 THEN ''
            ELSE array_to_string(list_transform(words,
                w -> {wrap_w}), {RS}) END AS d
        FROM (SELECT doc_id,
                     coalesce(regexp_extract_all(lower(text), '[a-z]+'), []) AS words
              FROM documents)
    )""")
    for r in range(1, num_merges + 1):
        ctes.append(f"""docs{r} AS MATERIALIZED (
        SELECT doc_id, CASE WHEN x.a IS NULL THEN d
            ELSE replace(d, {S}||x.a||{SS}||x.b||{S}, {S}||x.a||x.b||{S}) END AS d
        FROM docs{r - 1} LEFT JOIN best{r} x ON TRUE
    )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT doc_id,
           CAST(CASE WHEN toks = '' THEN 0
                ELSE len(string_split(toks, ' ')) END AS BIGINT) AS n_bpe_tokens,
           toks AS toks_str
    FROM (SELECT doc_id,
                 replace(replace(substr(d, 2, greatest(length(d) - 2, 0)),
                                 {S}||{RS}||{S}, ' '), {SS}, ' ') AS toks
          FROM docs{num_merges})"""
    )


@_register(
    "bpe_train_q",
    _bpe_oracle_sql(_BPE_NUM_MERGES, _BPE_MAX_TOKEN_LEN, tokenize=False),
    "BPE merge-table training (textstats.train_bpe_merges): one corpus "
    "pass to the word-frequency table, then vocabulary-sized merge "
    "rounds (top adjacent pair by weighted count, ties lexicographic, "
    "stop on cnt<2 or token length). Oracle RETRAINS all rounds in "
    "generated DuckDB SQL via the wrapped-symbol replace identity. "
    "Unregistered; hash-pinned locally.",
)
def bpe_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    merges = ts.train_bpe_merges(
        docs, "text", num_merges=_BPE_NUM_MERGES, max_token_len=_BPE_MAX_TOKEN_LEN
    )
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "merge_rank BIGINT, lhs STRING, rhs STRING")


@_register(
    "bpe_tokenize_q",
    _bpe_oracle_sql(_BPE_NUM_MERGES, _BPE_MAX_TOKEN_LEN, tokenize=True),
    "BPE tokenization (textstats.bpe_tokenize): train the merge table, "
    "then segment every document — Python touches only the DISTINCT "
    "words (vocabulary-sized, Arrow-batched), the corpus maps through "
    "an equi-join. Oracle retrains AND re-tokenizes every document in "
    "SQL (per-doc wrapped string, one replace per merge round); grades "
    "token CONTENT (the joined token string), not just counts. "
    "Promoted to a driver slot in the r9 second slate (new surface "
    "gets a hard driver row in the round it lands); bpe_train_q stays "
    "unregistered — tokenize subsumes train.",
)
def bpe_tokenize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    merges = ts.train_bpe_merges(
        docs, "text", num_merges=_BPE_NUM_MERGES, max_token_len=_BPE_MAX_TOKEN_LEN
    )
    out = ts.bpe_tokenize(docs, "doc_id", "text", merges, return_tokens=True)
    return out.select(
        "doc_id",
        "n_bpe_tokens",
        F.array_join("bpe_tokens", " ").alias("toks_str"),
    )


# Oracle twin for pii_redact_q (r9 addition; promoted to a driver
# slot in the r9 second slate). The PII patterns are written
# RE2-compatible (no
# backrefs/lookarounds — textstats.PII_PATTERNS), so DuckDB's RE2
# runs the SAME regexes: counts via len(regexp_extract_all) on the
# ORIGINAL text, redaction via the same email->ipv4->phone->url
# replace chain with the 'g' flag. The synthetic corpus has no PII,
# so the query plants a deterministic doc_id-derived suffix (one
# email, one URL, one dotted-quad, one +1- phone) in BOTH engines —
# every doc exercises every pattern AND the replacement chain, and
# the graded column is the full redacted STRING, not just counts.
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS STRING) || '@example.com"
    " via http://site' || CAST(doc_id AS STRING) || '.example/p?id='"
    " || CAST(doc_id AS STRING) || ' from 10.0.' ||"
    " CAST(doc_id % 256 AS STRING) || '.' ||"
    " CAST((doc_id * 7) % 256 AS STRING) || ' call +1-555-' ||"
    " lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || '-1234'"
)


def _pii_oracle_sql() -> str:
    # DuckDB standard strings keep backslashes literal — escape ONLY
    # the quote (the url pattern's negated class contains one).
    from udacity_data_engineering_capstone_project_spark.operators.textstats import PII_PATTERNS

    counts = ",\n           ".join(
        "CAST(len(regexp_extract_all(txt, '{p}')) AS BIGINT) AS n_{k}".format(
            k=k, p=PII_PATTERNS[k].replace("'", "''")
        )
        for k in ("email", "ipv4", "phone", "url")
    )
    red = "txt"
    for k in ("email", "ipv4", "phone", "url"):
        pat = PII_PATTERNS[k].replace("'", "''")
        red = f"regexp_replace({red}, '{pat}', '[{k.upper()}]', 'g')"
    return f"""
    WITH t AS (
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS txt FROM documents
    )
    SELECT doc_id,
           {counts},
           {red} AS redacted_text
    FROM t
    """


@_register(
    "pii_redact_q",
    _pii_oracle_sql(),
    "PII redaction (textstats.redact_pii): per-kind regexp_count on "
    "the original text + chained regexp_replace in kind order, one "
    "whole-stage-codegen projection, zero shuffle. Oracle reruns the "
    "identical RE2-compatible patterns in DuckDB and grades the FULL "
    "redacted string. Promoted to a driver slot in the r9 second "
    "slate (new surface gets a hard driver row in the round it "
    "lands).",
)
def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id", F.expr(f"text || {_PII_SUFFIX_SQL}").alias("txt")
    )
    return ts.redact_pii(planted, "txt").select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_url", "redacted_text"
    )


# Oracle twin for link_graph_q — UNREGISTERED (r9 addition; 50-slot
# window is full). Each doc gets a deterministic HTML body: two
# <a href> outlinks + one <img src> (doc_id-derived hosts, one
# single-quoted attribute and one relative path to exercise the
# pattern's quote/scheme handling), plus its own site identity —
# and, since r11's LINK_PATTERN fidelity upgrade (VERDICT r10 #8),
# an UNQUOTED <script src=...> outlink that must be captured and a
# data-href decoy that must NOT be. LINK_PATTERN and the
# scheme-authority host regex are RE2-safe, so DuckDB re-derives the
# same (src_host, dst_host, n_links) edges with regexp_extract_all +
# unnest — the crawl link-graph pass, graded as data, not just row
# counts.
_LINK_HTML_SQL = (
    "'<p>' || text || ' <a href=\"http://site' ||"
    " CAST(doc_id * 3 % 40 AS STRING) ||"
    " '.example/a\">a</a> <a href=\\'https://site' ||"
    " CAST(doc_id * 7 % 40 AS STRING) ||"
    " '.example/b?x=1\\'>b</a> <img src=\"/static/logo' ||"
    " CAST(doc_id % 5 AS STRING) || '.png\">"
    " <script src=http://cdn' || CAST(doc_id * 11 % 40 AS STRING) ||"
    " '.example/app.js></script>"
    " <a data-href=\"http://decoy' || CAST(doc_id % 9 AS STRING) ||"
    " '.example/d\">n</a></p>'"
)

_LINK_SRC_HOST_SQL = "'site' || CAST(doc_id % 40 AS STRING) || '.example'"


def _link_graph_oracle() -> str:
    # DuckDB standard strings keep backslashes literal (escape only
    # quotes); the Spark-side \' attribute quotes become '' here.
    pat = ts.LINK_PATTERN.replace("'", "''")
    html = _LINK_HTML_SQL.replace("\\'", "''")
    return f"""
    WITH d AS (
        SELECT doc_id, {html} AS html,
               {_LINK_SRC_HOST_SQL} AS src_host
        FROM documents
    ), l AS (
        SELECT src_host,
               unnest(regexp_extract_all(html, '{pat}', 1)) AS link
        FROM d
    )
    SELECT src_host,
           regexp_extract(link, '^[Hh][Tt][Tt][Pp][Ss]?://([^/]+)', 1) AS dst_host,
           count(*) AS n_links
    FROM l
    WHERE regexp_extract(link, '^[Hh][Tt][Tt][Pp][Ss]?://([^/]+)', 1) <> ''
    GROUP BY 1, 2
    """


@_register(
    "link_graph_q",
    _link_graph_oracle(),
    "Outlink harvesting -> host link graph (textstats.extract_links + "
    "host_link_edges): regexp_extract_all href/src values, explode, "
    "portable scheme-authority host parse, one partial-aggregatable "
    "groupBy to weighted host->host edges — the crawl-frontier / "
    "PageRank input pass. Hash-checked against a DuckDB replay of the "
    "identical RE2-safe patterns. Unregistered; hash-pinned locally.",
)
def link_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_LINK_HTML_SQL).alias("html")
    )
    # src_host is a pure function of doc_id, so it re-derives AFTER
    # extraction — no join back to the corpus, stays one codegen pass
    links = ts.extract_links(docs, "doc_id", "html").withColumn(
        "src_host", F.expr(_LINK_SRC_HOST_SQL)
    )
    return ts.host_link_edges(links, "src_host")


# Oracle twin for k_anonymity_q — UNREGISTERED (r9 addition). The
# privacy gate is one grouped count + filter; the quasi-identifier
# here is (lang, source, n_chars // 100) — granular enough that small
# groups exist at driver scale, so the gate returns real violations,
# not an empty certificate.
_K_ANON_ORACLE = """
    SELECT lang, source,
           CAST(n_chars // 100 AS BIGINT) AS len_band,
           count(*) AS n_rows
    FROM documents
    GROUP BY 1, 2, 3
    HAVING count(*) < 4
"""


@_register(
    "k_anonymity_q",
    _K_ANON_ORACLE,
    "k-anonymity privacy gate (quality.k_anonymity_violations): "
    "quasi-identifier combinations shared by fewer than k rows — the "
    "groups a release would re-identify; one partial-aggregated "
    "shuffle. Complements redact_pii (direct identifiers). "
    "Unregistered; hash-pinned locally.",
)
def k_anonymity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        k_anonymity_violations,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "lang", "source", (F.col("n_chars") / 100).cast("long").alias("len_band")
    )
    return k_anonymity_violations(docs, ["lang", "source", "len_band"], k=4)


_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48

# Oracle twin for chunk_q — UNREGISTERED (r9 addition). DuckDB
# replays the window arithmetic on its own list machinery:
# regexp_split_to_array + the same 1 + ceil(max(n - chunk, 0) /
# stride) window count, list slicing clamped at the array end exactly
# as Spark's slice() clamps. Chunk CONTENT (the joined text) is
# graded, not just counts.
_CHUNK_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ), c AS (
        SELECT doc_id, words, len(words) AS n,
               1 + CAST(ceil(greatest(len(words) - {_CHUNK_TOKENS}, 0)
                             / {_CHUNK_STRIDE}.0) AS INT) AS n_chunks
        FROM w
    ), e AS (
        SELECT doc_id, words,
               unnest(range(0, n_chunks)) AS cid
        FROM c
    ), s AS (
        SELECT doc_id, cid,
               words[cid * {_CHUNK_STRIDE} + 1 :
                     cid * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}] AS toks
        FROM e
    )
    SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           array_to_string(toks, ' ') AS chunk_text
    FROM s
"""


@_register(
    "chunk_q",
    _CHUNK_ORACLE,
    "Document chunking (textstats.chunk_documents): overlapping "
    "token windows (64 tokens, stride 48) via transform-over-sequence "
    "+ slice — a linear shuffle-free map; a final partial window is "
    "emitted only when it adds new tokens. Oracle replays the window "
    "arithmetic on DuckDB lists and grades chunk content. "
    "Unregistered; hash-pinned locally.",
)
def chunk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ts.chunk_documents(
        docs, "doc_id", "text",
        chunk_tokens=_CHUNK_TOKENS, stride=_CHUNK_STRIDE,
    )


# Oracle twin for temperature_mix_q — UNREGISTERED (r9 addition).
# The corpus's natural sources are near-uniform (T-flattening would
# keep everything — a vacuous predicate test), so the query derives a
# SKEWED 70/20/10 web/books/code tier from doc_id in both engines.
# T=2 makes the weight pow(n, 0.5) — BOTH engines call the platform
# pow, and every later step (min over sources, w*t_max/n, the 4-hex
# round) is IEEE-deterministic, so DuckDB re-derives the per-source
# keep-rate thresholds bit-for-bit and replays the md5 membership
# predicate. The boundary guard (rate*65536 never within 1e-3 of a
# .5 rounding edge) is pinned in pytest, the margin-headroom pattern.
_TEMP_MIX_TIER_SQL = (
    "CASE WHEN doc_id % 10 < 7 THEN 'web' "
    "WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END"
)

_TEMP_MIX_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars, {_TEMP_MIX_TIER_SQL} AS tier
        FROM documents
    ),
    c AS (SELECT tier AS s, count(*) AS n FROM d GROUP BY 1),
    w AS (SELECT s, n, pow(CAST(n AS DOUBLE), 0.5) AS wt FROM c),
    t AS (SELECT min(n / wt) AS t_max FROM w),
    r AS (SELECT s, least(1.0, wt * t_max / n) AS rate FROM w, t),
    thr AS (SELECT s,
                   CASE WHEN CAST(round(rate * 65536) AS BIGINT) >= 65536
                        THEN 'g'
                        ELSE printf('%04x', CAST(round(rate * 65536) AS BIGINT))
                   END AS th
            FROM r)
    SELECT d.doc_id, d.lang, d.tier, d.n_chars
    FROM d JOIN thr ON thr.s = d.tier
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.th
"""


@_register(
    "temperature_mix_q",
    _TEMP_MIX_ORACLE,
    "Temperature-flattened source mixture at T=2 (sampling."
    "temperature_mix -> mix_sources -> stratified_hash_sample) over a "
    "derived 70/20/10 source skew: target share ~ n^(1/T), "
    "downsample-only, membership a pure md5 predicate. Oracle "
    "re-derives counts, weights, the capped rates and the hex "
    "thresholds in SQL and replays the predicate. Unregistered; "
    "hash-pinned locally.",
)
def temperature_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_capstone_project_spark.operators.sampling import (
        temperature_mix,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.expr(_TEMP_MIX_TIER_SQL).alias("tier")
    )
    return temperature_mix(docs, "doc_id", "tier", temperature=2.0).select(
        "doc_id", "lang", "tier", "n_chars"
    )


# Oracle twin for calibration_q — UNREGISTERED (r9 addition). The
# synthetic classifier is exactly reproducible: score = md5-prefix /
# 65536 (a DYADIC rational — per-bin sums of <=500 such values are
# EXACT in float64, so mean_score has no summation-order noise at
# all), label a deterministic residue. n_pos is CAST to BIGINT in the
# oracle (DuckDB sum -> HUGEINT -> driver float otherwise; the r7
# pr_curve lesson).
_CALIB_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 4)) AS BIGINT) AS v
        FROM documents
    ), s AS (
        SELECT v / 65536.0 AS sc,
               CASE WHEN (v + doc_id) % 7 < 3 THEN 1 ELSE 0 END AS y
        FROM t
    ), b AS (
        SELECT CAST(least(greatest(floor(sc * 10), 0), 9) AS INT) AS bin, sc, y
        FROM s
    )
    SELECT bin,
           round(CAST(bin AS DOUBLE) / 10, 6) AS bin_lo,
           count(*) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(sum(y) * 1.0 / count(*), 6) AS frac_pos,
           round(sum(sc) / count(*), 6) AS mean_score
    FROM b GROUP BY 1
"""


@_register(
    "calibration_q",
    _CALIB_ORACLE,
    "Reliability-diagram calibration bins (textstats.calibration_bins) "
    "over a derived md5-prefix classifier: one grouped aggregation on "
    "bucket = floor(score * n_bins), mean prediction vs observed "
    "positive rate per bin — decides whether a screen classifier's "
    "scores read as probabilities. Scores are dyadic rationals, so "
    "bin means are float-exact cross-engine. Unregistered; hash-pinned "
    "locally.",
)
def calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    scored = _t(spark, sf_dir, "documents").select(
        (v / F.lit(65536.0)).alias("score"),
        ((v + F.col("doc_id")) % 7 < 3).cast("long").alias("label"),
    )
    return ts.calibration_bins(scored, "score", "label", n_bins=10)


def _label_prop_oracle(rounds: int) -> str:
    # Unrolled synchronous label propagation (the dedup_clusters /
    # pagerank precedent: fixed rounds as MATERIALIZED CTE levels).
    # Each round: per-node neighbor-label counts -> argmax with the
    # engine's exact tie order (cnt desc, label asc).
    parts = [
        """
    WITH e AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), adj AS MATERIALIZED (
        SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
    ), l0 AS MATERIALIZED (
        SELECT DISTINCT u AS node, u AS label FROM adj
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""", c{i} AS MATERIALIZED (
        SELECT adj.u AS node, l.label, count(*) AS cnt
        FROM adj JOIN l{i - 1} l ON l.node = adj.v
        GROUP BY 1, 2
    ), l{i} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, label ASC) AS r
            FROM c{i}
        ) WHERE r = 1
    )""")
    parts.append(
        f"\n    SELECT node, CAST(label AS BIGINT) AS label FROM l{rounds}"
    )
    return "".join(parts)


_LABEL_PROP_ROUNDS = 4


@_register(
    "label_prop_q",
    _label_prop_oracle(_LABEL_PROP_ROUNDS),
    "Deterministic synchronous label propagation (graph."
    "label_propagation, Raghavan et al. 2007 with smallest-label "
    "ties) over the supplier co-occurrence graph — community "
    "detection, finer than connected components. Oracle unrolls the "
    "same fixed rounds as MATERIALIZED CTE levels with the identical "
    "argmax tie order; labels are integer node ids, so parity is "
    "exact. Unregistered; hash-pinned locally.",
)
def label_prop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_capstone_project_spark.operators.graph import (
        label_propagation,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        on=[
            F.col("a.l_orderkey") == F.col("b.l_orderkey"),
            F.col("a.l_suppkey") < F.col("b.l_suppkey"),
        ],
    ).select(
        F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
    )
    return label_propagation(edges, max_iter=_LABEL_PROP_ROUNDS)


_PACK_BUDGET = 1024
_PACK_BUCKETS = 8

# Oracle twin for pack_sequences_q (r9 addition; promoted to a
# driver slot in the r9 second slate). First-fit-decreasing is a
# sequential
# recurrence (the engine runs it per hash bucket inside
# applyInPandas — the documented justified-Python seam), so the
# oracle SIMULATES it: a recursive CTE advances every bucket one item
# per iteration, carrying the open-pack remaining-capacity LIST and
# the assignment list as state; `list_position(list_transform(caps,
# c -> c >= take), true)` IS first-fit (0/NULL -> open a new pack).
# portable_bucket=True pins the md5-prefix bucket hash both engines
# share, so the EXACT (pack_id, pack_offset) assignment — not just
# pack invariants — is hash-graded.
_PACK_ORACLE = f"""
    WITH RECURSIVE base AS (
        SELECT doc_id,
               LEAST(n_chars, {_PACK_BUDGET}) AS take,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {_PACK_BUCKETS} AS bucket,
               n_chars
        FROM documents
    ), items AS (
        SELECT bucket, doc_id, take,
               row_number() OVER (PARTITION BY bucket
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM base
    ), sim AS (
        SELECT bucket, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS caps,
               CAST([] AS STRUCT(doc_id BIGINT, local BIGINT, off BIGINT)[]) AS assigned
        FROM (SELECT DISTINCT bucket FROM items)
        UNION ALL
        SELECT s.bucket, s.rn + 1,
          CASE WHEN COALESCE(list_position(list_transform(s.caps, c -> c >= i.take), true), 0) = 0
               THEN list_append(s.caps, {_PACK_BUDGET} - i.take)
               ELSE list_concat(list_concat(
                      s.caps[1:list_position(list_transform(s.caps, c -> c >= i.take), true) - 1],
                      [s.caps[list_position(list_transform(s.caps, c -> c >= i.take), true)] - i.take]),
                      s.caps[list_position(list_transform(s.caps, c -> c >= i.take), true) + 1:len(s.caps)])
          END AS caps,
          list_append(s.assigned,
            CASE WHEN COALESCE(list_position(list_transform(s.caps, c -> c >= i.take), true), 0) = 0
                 THEN {{'doc_id': i.doc_id, 'local': CAST(len(s.caps) AS BIGINT),
                        'off': CAST(0 AS BIGINT)}}
                 ELSE {{'doc_id': i.doc_id,
                        'local': CAST(list_position(list_transform(s.caps, c -> c >= i.take), true) - 1 AS BIGINT),
                        'off': CAST({_PACK_BUDGET} - s.caps[list_position(list_transform(s.caps, c -> c >= i.take), true)] AS BIGINT)}}
            END) AS assigned
        FROM sim s JOIN items i ON i.bucket = s.bucket AND i.rn = s.rn + 1
    ), last_rows AS (
        SELECT s.bucket, s.assigned
        FROM sim s JOIN (SELECT bucket, MAX(rn) AS mx FROM sim GROUP BY bucket) m
          ON s.bucket = m.bucket AND s.rn = m.mx
    ), flat AS (
        SELECT bucket, UNNEST(assigned) AS a FROM last_rows
    )
    SELECT a.doc_id AS doc_id,
           bucket * 1000000000 + a.local AS pack_id,
           a.off AS pack_offset
    FROM flat
"""


@_register(
    "pack_sequences_q",
    _PACK_ORACLE,
    "Sequence packing (packing.pack_sequences): hash-bucket scatter + "
    "per-bucket first-fit-decreasing, the training-batch construction "
    "pass. Oracle replays FFD exactly via a recursive CTE whose state "
    "is the per-bucket open-pack capacity list — the full "
    "(pack_id, pack_offset) assignment is hash-graded, not just the "
    "budget invariant. Promoted to a driver slot in the r9 second "
    "slate (new surface gets a hard driver row in the round it "
    "lands).",
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_capstone_project_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(
        docs,
        "doc_id",
        "n_chars",
        budget=_PACK_BUDGET,
        buckets=_PACK_BUCKETS,
        portable_bucket=True,
    )
