"""The three workloads: one pass each, plus the check of its output.

A pass calls the package's public functions the way a user program
would. Each call sits in a ``tracer.span``; in an untraced run the spans
are no-ops and the pass is the plain pipeline. Only a traced run forces
layer outputs at layer boundaries (``PassContext.force``), so each span
holds its own layer's work; traced runs also make a few probe calls
(candidate count, connected-components rounds) outside the pass time.

Checks run after the pass timer stops. Each returns a list of problems;
an empty list means the pass output is correct.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen

from udacity_data_engineering_capstone_project_spark.operators import dedup, textstats
from udacity_data_engineering_capstone_project_spark.plans import capstone
from udacity_data_engineering_capstone_project_spark.plans.queries import REGISTRY, UNREGISTERED
from udacity_data_engineering_capstone_project_spark.sources.readers import read_csv, read_parquet
from udacity_data_engineering_capstone_project_spark.sources.sinks import write_parquet


class Workload:
    """``interactive``: the workload's users keep a session open, so its
    runs time warm passes; batch workloads time the first pass."""

    interactive = False


class PassContext:
    """State of one pass: the tracer, the pass id, and the frames the
    traced run persisted, released when the pass ends."""

    def __init__(self, spark, tracer, pass_id: int):
        self.spark, self.tracer, self.pass_id = spark, tracer, pass_id
        self.forced: list = []

    def span(self, name: str):
        return self.tracer.span(name, self.pass_id)

    def force(self, *dfs):
        """Traced runs only: materialize each frame at the layer boundary."""
        if not self.tracer.enabled:
            return
        for df in dfs:
            df.persist()
            df.count()
            self.forced.append(df)

    def release_forced(self, keep=()) -> None:
        """Unpersist the forced frames, except those in ``keep`` (frames
        the package itself persisted, which stay cached untraced too)."""
        for df in self.forced:
            if not any(df is k for k in keep):
                df.unpersist()
        self.forced.clear()

    def end(self) -> None:
        """Drop every cache, so each pass starts from the files."""
        self.forced.clear()
        self.spark.catalog.clearCache()


def output_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files


_KINDS = (
    ("int", pa.types.is_integer), ("float", pa.types.is_floating),
    ("bool", pa.types.is_boolean), ("str", pa.types.is_string),
    ("str", pa.types.is_large_string), ("date", pa.types.is_date),
    ("timestamp", pa.types.is_timestamp), ("decimal", pa.types.is_decimal),
)


def _kind(t: pa.DataType) -> str:
    return next((k for k, is_kind in _KINDS if is_kind(t)), str(t))


def _rounds_to(got, exact: float, digits: int) -> bool:
    """``got`` is ``exact`` rounded to ``digits`` places. Two engines sum
    in different orders, so ``exact`` is known to about 1e-11 only; when
    it lies that close to a half-way point, either neighbour is a correct
    rounding."""
    if not isinstance(got, float) or exact is None:
        return got == exact
    if got == round(exact, digits):
        return True
    scaled = exact * 10**digits
    return (abs(scaled - math.floor(scaled) - 0.5) < 1e-11 * 10**digits
            and got in (math.floor(scaled) / 10**digits, math.ceil(scaled) / 10**digits))


def compare_tables(got: pa.Table, want: pa.Table, name: str) -> list[str]:
    """Order-insensitive, exact comparison of two Arrow tables: same
    columns, same row count, same value kinds, equal values (NaN equals
    NaN). Both sides are sorted on every column, columns taken by name."""
    cols = sorted(got.column_names)
    if cols != sorted(want.column_names):
        return [f"{name}: columns {cols} != {sorted(want.column_names)}"]
    if got.num_rows != want.num_rows:
        return [f"{name}: {got.num_rows} rows, oracle {want.num_rows}"]
    got, want = got.select(cols), want.select(cols)
    for c in cols:
        g, w = got.schema.field(c).type, want.schema.field(c).type
        if not pa.types.is_null(g) and not pa.types.is_null(w) and _kind(g) != _kind(w):
            return [f"{name}.{c}: kind {g} != oracle {w}"]
    try:
        got = got.cast(want.schema)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        return [f"{name}: cannot cast to the oracle schema: {e}"]
    order = [(c, "ascending") for c in cols]
    got, want = got.sort_by(order), want.sort_by(order)
    for c in cols:
        a, b = got.column(c), want.column(c)
        if a.equals(b):
            continue
        same = pc.fill_null(pc.equal(a, b), False)
        same = pc.or_(same, pc.and_(a.is_null(), b.is_null()))
        if pa.types.is_floating(a.type):
            same = pc.or_(same, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
        if not pc.all(same).as_py():
            i = pc.index(same, False).as_py()
            return [f"{name}.{c}: {a[i].as_py()!r} != oracle {b[i].as_py()!r}"]
    return []


# ---------------------------------------------------------------------------


class CapstoneETL(Workload):
    """Reference pipeline: clean -> 7-table star schema -> partitioned
    parquet -> quality gate -> analyst query."""

    name = "capstone_etl"
    raw_rows = 20_000
    layers = ("readers", "capstone", "sinks", "quality")
    #: partition columns per written table
    partitions = {"fact_temp": ["month"], "dim_time": ["year", "month"]}
    #: the tables ``build_star_schema`` persists itself
    dims = ("dim_state", "dim_time", "dim_ports", "dim_airlines")

    def prepare(self, cache_root: str, seed: int) -> None:
        self.staging = gen.capstone(cache_root, seed, self.raw_rows)
        self.meta = gen.load_meta(self.staging)
        with open(os.path.join(self.staging, "temperature.csv")) as f:
            n_temp = sum(1 for _ in f) - 1
        with open(os.path.join(self.staging, "airport_codes.csv")) as f:
            n_air = sum(1 for _ in f) - 1
        self.input_rows = self.meta["raw_rows"] + n_temp + n_air
        self.input_bytes = self.meta["input_bytes"]

    def run_pass(self, ctx: PassContext, out_dir: str) -> dict:
        spark, m, st = ctx.spark, self.meta, self.staging
        with ctx.span("readers.scan"):
            imm_raw = read_parquet(spark, f"{st}/i94_parquet")
            temp_raw = read_csv(spark, f"{st}/temperature.csv")
            air_raw = read_csv(spark, f"{st}/airport_codes.csv")
            ctx.force(imm_raw, temp_raw, air_raw)
        with ctx.span("capstone.plan"):
            imm = capstone.clean_immigration(imm_raw)
            temp = capstone.clean_temperature(temp_raw)
            air = capstone.clean_airport_codes(air_raw)
            # the default key (monotonic) can give the two fact writes different
            # ids; see README, known defects, and ``probe``
            state_temp = capstone.build_state_temperature(temp, air, key_mode="xxhash64")
            tables = capstone.build_star_schema(imm, state_temp)
        with ctx.span("capstone.clean"):
            ctx.force(imm, temp, air)
        with ctx.span("capstone.star"):
            ctx.force(*tables.values())
        with ctx.span("sinks.write"):
            for name, df in tables.items():
                write_parquet(df, f"{out_dir}/{name}", partition_by=self.partitions.get(name))
        # the untraced pipeline keeps only the dimensions cached (the
        # package persists them); drop the traced run's extra caches so
        # the gate and the query recompute what they would untraced
        ctx.release_forced(keep=[tables[d] for d in self.dims])
        with ctx.span("quality.checks"):
            capstone.run_quality_checks(
                tables,
                expected_counts={
                    "fact_imm": m["n_final"], "dim_person": m["n_final"],
                    "dim_state": m["n_states"], "dim_time": m["n_dates"],
                    "dim_ports": m["n_ports"], "dim_airlines": m["n_airlines"],
                    "fact_temp": m["n_fact_temp"],
                },
                expected_distinct_states=m["n_states"],
            )
        with ctx.span("capstone.analyst"):
            analyst = capstone.analyst_query(tables["fact_imm"], tables["fact_temp"]).toArrow()
        return {"analyst": analyst}

    def check(self, out: dict, out_dir: str) -> list[str]:
        """FIXTURES.md section 4 invariants on the written tables, and the
        analyst query recomputed by DuckDB from the written parquet."""
        m, problems = self.meta, []
        con = duckdb.connect()
        con.execute("SET threads TO 2")

        def scan(name):
            return f"read_parquet('{out_dir}/{name}/**/*.parquet', hive_partitioning = true)"

        expect = {
            "fact_imm": m["n_final"], "dim_person": m["n_final"], "dim_state": m["n_states"],
            "dim_time": m["n_dates"], "dim_ports": m["n_ports"],
            "dim_airlines": m["n_airlines"], "fact_temp": m["n_fact_temp"],
        }
        for name, n in expect.items():
            got = con.execute(f"SELECT count(*) FROM {scan(name)}").fetchone()[0]
            if got != n:
                problems.append(f"{name}: {got} rows written, expected {n}")
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {scan('fact_imm')}").fetchall()]
        if sorted(cols) != sorted(["id_imm", "id_state", "id_time", "id_person",
                                   "id_port", "id_airline", "id_temp"]):
            problems.append(f"fact_imm columns {cols}")
        n_keys = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT dayofmonth, month, state "
            f"FROM {scan('fact_temp')})"
        ).fetchone()[0]
        if n_keys != m["n_fact_temp"]:
            problems.append(f"fact_temp: {n_keys} distinct (day, month, state) keys")
        return problems + analyst_mismatches(out["analyst"], out_dir)[:1]

    def probe(self, ctx: PassContext, out: dict, out_dir: str) -> dict:
        """Traced runs: the pipeline with ``build_state_temperature``'s
        default key, outside the pass. It writes ``fact_imm`` and
        ``fact_temp`` as a traced pass does and counts the (month, state)
        groups where the analyst query over the written tables disagrees
        with the in-memory one, which recomputes the facts as the pass's
        query does (README, known defects)."""
        spark, st = ctx.spark, self.staging
        imm = capstone.clean_immigration(read_parquet(spark, f"{st}/i94_parquet"))
        temp = capstone.clean_temperature(read_csv(spark, f"{st}/temperature.csv"))
        air = capstone.clean_airport_codes(read_csv(spark, f"{st}/airport_codes.csv"))
        tables = capstone.build_star_schema(imm, capstone.build_state_temperature(temp, air))
        ctx.force(*tables.values())
        probe_dir = f"{out_dir}-default-key"
        reset_dir(probe_dir)
        for name in ("fact_imm", "fact_temp"):
            write_parquet(tables[name], f"{probe_dir}/{name}",
                          partition_by=self.partitions.get(name))
        ctx.release_forced(keep=[tables[d] for d in self.dims])
        analyst = capstone.analyst_query(tables["fact_imm"], tables["fact_temp"]).toArrow()
        return {"default_key_bad_groups": len(analyst_mismatches(analyst, probe_dir))}


def analyst_mismatches(got: pa.Table, out_dir: str) -> list[str]:
    """The capstone analyst query recomputed by DuckDB from the written
    ``fact_imm`` and ``fact_temp``: one problem per (month, state) group
    whose tourist count differs, or whose ``avg_temp`` is not DuckDB's
    unrounded average rounded to 6 places."""
    def scan(name):
        return f"read_parquet('{out_dir}/{name}/**/*.parquet', hive_partitioning = true)"

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    want = con.execute(f"""
        SELECT t.month, t.state, avg(t.avg_temp) AS avg_temp,
               count(i.id_imm) AS tourist_num
        FROM {scan('fact_imm')} i JOIN {scan('fact_temp')} t ON i.id_temp = t.id_temp
        GROUP BY t.month, t.state
    """).fetchall()
    if sorted(got.column_names) != ["avg_temp", "month", "state", "tourist_num"]:
        return [f"analyst_query: columns {got.column_names}"]
    got_rows = {(r["month"], r["state"]): r for r in got.to_pylist()}
    problems = [f"analyst_query ({m}, {s}): missing" for m, s, _, _ in want
                if (m, s) not in got_rows]
    if len(got_rows) != got.num_rows or len(got_rows) != len(want):
        problems.append(f"analyst_query: {got.num_rows} groups, DuckDB {len(want)}")
    for month, state, avg_temp, tourists in want:
        r = got_rows.get((month, state))
        if r and (r["tourist_num"] != tourists or not _rounds_to(r["avg_temp"], avg_temp, 6)):
            problems.append(f"analyst_query ({month}, {state}): {r['avg_temp']!r}, "
                            f"{r['tourist_num']} != DuckDB {avg_temp!r}, {tourists}")
    return problems


class AnalystQueries(Workload):
    """Seed-shuffled passes over twelve registry queries on the sf0.1
    query tables; read-only. The tables are fixed: the seed only orders
    the queries."""

    name = "analyst_queries"
    interactive = True
    layers = ("queries",)
    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
    tables = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")
    queries = (
        "pricing_summary", "star_schema_fact", "analyst_top_segments", "shipping_priority",
        "local_supplier_volume", "grouping_sets_sales", "top1_per_group", "argmax_ties",
        "avg_of_avgs", "date_parts_agg", "bucket_join", "pivot_unpivot",
    )

    def prepare(self, cache_root: str, seed: int) -> None:
        self.seed = seed
        verify_checksums(self.data)
        self.input_rows = sum(pq.ParquetFile(f"{self.data}/{t}.parquet").metadata.num_rows
                              for t in self.tables)
        self.input_bytes = sum(os.path.getsize(f"{self.data}/{t}.parquet") for t in self.tables)
        self.specs = {n: REGISTRY.get(n) or UNREGISTERED[n] for n in self.queries}
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.oracle = {n: con.execute(s.oracle).arrow() for n, s in self.specs.items()}

    def run_pass(self, ctx: PassContext, out_dir: str) -> dict:
        rng = np.random.default_rng([self.seed, ctx.pass_id])
        results, latency, broadcasts = {}, {}, 0
        for i in rng.permutation(len(self.queries)):
            name = self.queries[i]
            t0 = time.perf_counter()
            with ctx.span(f"queries.{name}"):
                df = self.specs[name].fn(ctx.spark, self.data)
                results[name] = df.toArrow()
            latency[name] = time.perf_counter() - t0
            if ctx.tracer.enabled:
                plan = df._jdf.queryExecution().executedPlan().toString()
                broadcasts += (plan.count("BroadcastHashJoin")
                               + plan.count("BroadcastNestedLoopJoin"))
        return {"results": results, "latency": latency, "broadcast_joins": broadcasts}

    def check(self, out: dict, out_dir: str) -> list[str]:
        problems = []
        for name, got in out["results"].items():
            problems += compare_tables(got, self.oracle[name], name)
        return problems


class CorpusDedup(Workload):
    """Curation path: profile + Gopher filter -> exact dedup -> MinHash
    near-dup pairs -> components -> representatives -> survivors."""

    name = "corpus_dedup"
    n_docs = 300
    layers = ("readers", "textstats", "dedup", "sinks")
    threshold = 0.8

    def prepare(self, cache_root: str, seed: int) -> None:
        self.path = gen.corpus(cache_root, seed, self.n_docs)
        meta = gen.load_meta(self.path)
        self.input_rows = meta["docs"]
        self.input_bytes = meta["input_bytes"]
        self.group = gen.load_truth(self.path)["group"]
        table = duckdb.connect().execute(
            f"SELECT doc_id, text FROM read_parquet('{self.path}/docs/*.parquet') ORDER BY doc_id"
        ).fetchall()
        self.texts = [t for _, t in table]

    def run_pass(self, ctx: PassContext, out_dir: str) -> dict:
        spark = ctx.spark
        with ctx.span("readers.scan"):
            docs = read_parquet(spark, f"{self.path}/docs")
            ctx.force(docs)
        with ctx.span("textstats.profile"):
            prof = textstats.text_profile(docs, "doc_id", "text", keep=["source"])
            quality = textstats.gopher_quality(docs, "doc_id", "text")
            ctx.force(prof, quality)
        with ctx.span("dedup.exact"):
            good = docs.join(quality.filter("keep").select("doc_id"), "doc_id", "left_semi")
            exact = dedup.exact_text_dedup(good, "doc_id", "text")
            uniq = good.join(exact.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi")
            ctx.force(uniq)
        with ctx.span("dedup.signature"):
            # construction is eager: signatures and the LSH screen run here
            pairs = dedup.minhash_verified_pairs(uniq, "doc_id", "text", threshold=self.threshold)
        with ctx.span("dedup.verify"):
            pairs = pairs.persist()
            ctx.force(pairs)
        with ctx.span("dedup.cc"):
            reps = dedup.dedup_representatives(uniq, pairs, "doc_id")
            ctx.force(reps)
        with ctx.span("sinks.write"):
            survivors = reps.filter("is_representative").select("doc_id").join(prof, "doc_id")
            write_parquet(survivors, f"{out_dir}/survivors")
        return {"pairs": pairs, "uniq": uniq, "good": good}

    def probe(self, ctx: PassContext, out: dict, out_dir: str) -> dict:
        """Traced runs: LSH candidate count and components rounds, from
        calls outside the pass."""
        sigs = dedup.minhash_signatures(out["uniq"], "doc_id", "text")
        candidates = dedup.lsh_candidate_pairs(
            sigs, "doc_id", bands=8, rows_per_band=8, attach_signatures=False
        ).count()
        rounds = []
        dedup.connected_components(out["pairs"], on_round=lambda r, s, _: rounds.append(s)).count()
        return {"candidates": candidates, "cc_rounds": len(rounds)}

    def check(self, out: dict, out_dir: str) -> list[str]:
        """Every reported pair's exact Jaccard recomputed from the text;
        no two survivors share a normalized text (every planted exact
        copy collapsed); every survivor passed the quality filter."""
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in out["pairs"].collect()]
        good = {r["doc_id"] for r in out["good"].select("doc_id").collect()}
        surv = [r[0] for r in duckdb.connect().execute(
            f"SELECT doc_id FROM read_parquet('{out_dir}/survivors/*.parquet')").fetchall()]
        out["verified_pairs"] = len(pairs)
        out["planted_dup_recall"] = self._recall(good, set(surv))
        problems = []
        for a, b, j in pairs:
            exact = _jaccard(self.texts[a], self.texts[b])
            if abs(exact - j) > 1.5e-6 or exact < self.threshold:
                problems.append(f"pair ({a}, {b}): reported jaccard {j}, exact {exact:.6f}")
                break
        if len(surv) != len(set(surv)):
            problems.append("duplicate doc_id among survivors")
        seen: dict[str, int] = {}
        for i in surv:
            key = "".join(ch for ch in self.texts[i].lower() if ch.isalnum())
            if key in seen:
                problems.append(f"exact copies {seen[key]} and {i} both survived")
                break
            seen[key] = i
        n_bad = sum(1 for i in surv if i not in good)
        if n_bad:
            problems.append(f"{n_bad} survivors failed the quality filter")
        return problems

    def _recall(self, good: set[int], surv: set[int]) -> float:
        """Share of planted duplicates removed: each planted cluster's
        members that passed the quality filter should leave exactly one
        survivor, so a cluster of n holds n - 1 planted duplicates."""
        members: dict[int, int] = {}
        kept: dict[int, int] = {}
        for i in good:
            g = self.group[i]
            members[g] = members.get(g, 0) + 1
            kept[g] = kept.get(g, 0) + (i in surv)
        planted = sum(n - 1 for n in members.values())
        removed = sum(min(n - kept[g], n - 1) for g, n in members.items())
        return removed / planted if planted else 1.0


def _jaccard(x: str, y: str, k: int = 3) -> float:
    a = {x.lower()[i:i + k] for i in range(len(x) - k + 1)}
    b = {y.lower()[i:i + k] for i in range(len(y) - k + 1)}
    return round(len(a & b) / len(a | b), 6) if a | b else 0.0


WORKLOADS = {w.name: w for w in (CapstoneETL, AnalystQueries, CorpusDedup)}


def verify_checksums(path: str) -> None:
    """Fail unless every file listed in ``path/SHA256SUMS`` is intact."""
    with open(os.path.join(path, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(path, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise RuntimeError(f"{path}/{name}: checksum mismatch")


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
