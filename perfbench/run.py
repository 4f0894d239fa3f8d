"""Benchmark entry point.

    python3 perfbench/run.py --workload capstone_etl --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one closed-loop client: a
pass starts only when the previous one (and its output check) is done.
The run pins the Spark runtime, times session set-up and generates (or
reuses) the seeded inputs. A batch workload then times one pass, the
first in the session. An interactive workload, and every traced run,
runs ``WARMUP_PASSES`` warm-up passes and then times passes until
``--seconds`` is used up: a pass is not started when the median pass so
far would overrun the budget, once ``WARM_MIN_PASSES`` passes are in.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` times
untraced (U) and traced (T) passes in the order U T T U, four at least,
and prints the per-layer metrics, including the traced/untraced
pass-time ratio as tracing overhead; its spans go to
``perfbench/_work/spans-<workload>-<seed>.jsonl``.

The last stdout line is the result JSON; the line before it is the run
record (runtime pins, host load, per-pass times, check failures).
Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

PACKAGE = "udacity_data_engineering_capstone_project_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
#: Untimed passes before a warm run's timed ones. The JIT keeps speeding
#: the queries up over the first four passes of a session; two warm-ups
#: take most of that out of the timed passes.
WARMUP_PASSES = 2
#: Warm passes a warm run measures at least.
WARM_MIN_PASSES = 2
#: A traced run times untraced, traced, traced, untraced passes (and so
#: on), so that a linear drift, like the JIT's, cancels in the overhead.
TRACED_MIN_PASSES = 4
DRIVER_MEM = "2g"



def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_s(pids) -> float:
    """User + system CPU seconds used so far by the given processes, all
    threads included."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def other_jvms(own: set[int]) -> int:
    n = 0
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in own:
            try:
                with open(f"/proc/{d}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot; their deltas give the share
    of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def pin_runtime(work: str) -> dict:
    """Pin the Spark runtime through the package's environment knobs;
    returns what was pinned, for the run record."""
    cpus = len(os.sched_getaffinity(0))
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for k, v in pins.items():
        os.environ[k] = v
    os.makedirs(pins["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(pins["TMPDIR"], exist_ok=True)
    with open("/proc/meminfo") as f:
        pins["host_mem_kb"] = int(f.readline().split()[1])
    return pins


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


class Session:
    """The Spark session and the JVM behind it."""

    def __init__(self, extra_conf: dict):
        self.extra_conf = extra_conf
        self.spark = None

    def start(self) -> None:
        """Start the session and run its first job."""
        from udacity_data_engineering_capstone_project_spark import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.extra_conf)
        self.spark.range(1000).selectExpr("sum(id)").collect()

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit (it exits on EOF of
        its stdin)."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> tuple[dict, dict]:
    root = os.getcwd()
    work = os.path.join(HERE, "_work")
    pins = pin_runtime(work)
    load_start = loadavg()
    sys.path[:0] = [root, HERE]
    import workloads  # noqa: E402  (needs the package on sys.path)
    from spans import Tracer  # noqa: E402

    sess = Session({
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={pins['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    # set-up: from process start until the session's first job is done
    sess.start()
    try:
        setup_s = process_age_s()
        spark = sess.spark
        spark.sparkContext.setLogLevel("ERROR")

        wl = workloads.WORKLOADS[args.workload]()
        wl.prepare(os.path.join(work, "cache"), args.seed)
        out_dir = os.path.join(work, "out", args.workload)
        tracer = Tracer(spark, enabled=bool(args.trace))
        untraced = Tracer(spark, enabled=False)

        procs = (os.getpid(), sess.jvm_pid)
        attempted = failed = 0
        problems: list[str] = []
        passes: list[dict] = []  # measured passes

        def one_pass(pass_id: int, traced: bool) -> dict | None:
            nonlocal attempted, failed
            workloads.reset_dir(out_dir)
            ctx = workloads.PassContext(spark, tracer if traced else untraced, pass_id)
            attempted += 1
            try:
                c0, t0 = cpu_s(procs), time.perf_counter()
                out = wl.run_pass(ctx, out_dir)
                wall = time.perf_counter() - t0
                cpu = cpu_s(procs) - c0
                bad = wl.check(out, out_dir)
                if traced and hasattr(wl, "probe") and not any(p.get("probe") for p in passes):
                    out["probe"] = wl.probe(ctx, out, out_dir)
            except Exception:
                failed += 1
                problems.append(traceback.format_exc(limit=3)[-600:])
                return None
            finally:
                ctx.end()
                tracer.collect()
            if bad:
                failed += 1
                problems.extend(bad[:3])
                return None
            out["wall"], out["cpu"], out["traced"], out["pass_id"] = wall, cpu, traced, pass_id
            out["bytes_written"], out["files_written"] = workloads.output_size(out_dir)
            for k in ("pairs", "uniq", "good", "results"):
                out.pop(k, None)
            return out

        # A batch job runs once per JVM, so its user pays the JIT, codegen and
        # file-listing warm-up on every run: a batch workload times its first
        # pass. An interactive session, and a traced run, time warm passes.
        warm = bool(args.trace) or wl.interactive
        for pass_id in range(WARMUP_PASSES if warm else 0):
            one_pass(pass_id, traced=False)
        t_start = time.perf_counter()
        steal0, total0 = cpu_ticks()
        first = pass_id = WARMUP_PASSES if warm else 0
        min_passes = TRACED_MIN_PASSES if args.trace else WARM_MIN_PASSES
        while True:
            elapsed = time.perf_counter() - t_start
            est = median([p["wall"] for p in passes]) or 0.0
            if not warm and attempted:
                break
            if len(passes) >= min_passes and elapsed + est > args.seconds:
                break
            if attempted > 4 and not passes:
                break  # every pass fails: stop early, the result says so
            traced = bool(args.trace) and (pass_id - first) % 4 in (1, 2)
            res = one_pass(pass_id, traced)
            if res is not None:
                passes.append(res)
            pass_id += 1
        measured_s = time.perf_counter() - t_start
        steal1, total1 = cpu_ticks()

        own = {os.getpid(), sess.jvm_pid}
        rss = peak_rss_mb(os.getpid()) + peak_rss_mb(sess.jvm_pid)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "measured_s": round(measured_s, 3), "peak_rss_mb": round(rss, 1),
            "runtime": pins, "loadavg_start": load_start, "loadavg_end": loadavg(),
            "steal_frac": round((steal1 - steal0) / max(total1 - total0, 1), 4),
            "other_jvms": other_jvms(own),
            "setup_s": round(setup_s, 4),
            "pass_s": [round(p["wall"], 4) for p in passes],
            "pass_cpu_s": [round(p["cpu"], 2) for p in passes],
            "pass_traced": [p["traced"] for p in passes],
            "input_rows": wl.input_rows, "input_bytes": wl.input_bytes,
            "attempted": attempted, "failed": failed,
            "failed_ops_frac": failed / attempted, "problems": problems[:5],
        }
        if args.trace:
            tracer.write(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
            cores = spark.sparkContext.defaultParallelism
            metrics = layer_metrics(tracer, passes, wl, workloads, cores)
            metrics["process.peak_rss_mb"] = {"value": rss, "unit": "MB"}
        else:
            metrics = e2e_metrics(setup_s, passes, wl)
            record.update(e2e_extras(passes, wl))
        return record, {"correct": failed == 0 and bool(passes), "attempted": attempted,
                        "failed": failed, "metrics": metrics}
    finally:
        sess.shutdown()


def e2e_metrics(setup_s, passes, wl) -> dict:
    pass_s = median([p["wall"] for p in passes])
    lat = [p["latency"] for p in passes if "latency" in p]
    if lat:
        # a typical pass: per-query medians, so that a stall in one query
        # of one pass does not move the figure
        pass_s = sum(median([pl[q] for pl in lat]) for q in lat[0])
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "input_rows_per_s": {"value": wl.input_rows / pass_s if pass_s else 0.0, "unit": "rows/s"},
    }


def e2e_extras(passes, wl) -> dict:
    """Workload-specific end-to-end figures, for the run record."""
    out = {"passes": len(passes)}
    written = median([p["bytes_written"] for p in passes])
    out["bytes_written_per_input_byte"] = written / wl.input_bytes
    lat = [v for p in passes for v in p.get("latency", {}).values()]
    if lat:
        out["query_p50_s"], out["query_p90_s"] = median(lat), quantile(lat, 0.9)
        out["query_samples"] = len(lat)
        out["query_median_s"] = {q: round(median([p["latency"][q] for p in passes]), 4)
                                 for q in passes[0]["latency"]}
    if passes and "planted_dup_recall" in passes[0]:
        out["planted_dup_recall"] = median([p["planted_dup_recall"] for p in passes])
    return out


def layer_metrics(tracer, passes, wl, workloads, cores: int) -> dict:
    """Per-layer metrics: medians over the traced passes of each layer's
    span totals; zero for layers this workload does not call."""
    layers = dict.fromkeys(layer for w in workloads.WORKLOADS.values() for layer in w.layers)
    query_names = workloads.AnalystQueries.queries
    traced = [p for p in passes if p["traced"]]
    per_pass = [tracer.layer_totals({p["pass_id"]}) for p in traced]
    span_wall = {}
    for sp in tracer.spans:
        span_wall.setdefault((sp.pass_id, sp.name), 0.0)
        span_wall[(sp.pass_id, sp.name)] += sp.wall_s

    def med_layer(layer, key, scale=1.0):
        return median([t.get(layer, {}).get(key, 0.0) * scale for t in per_pass])

    def med_span(name):
        return median([span_wall.get((p["pass_id"], name), 0.0) for p in traced])

    m: dict[str, tuple[float, str]] = {}
    for layer in layers:
        wall = [t.get(layer, {}).get("wall_s", 0.0) for t in per_pass]
        run_s = [t.get(layer, {}).get("executor_run_ms", 0.0) / 1000 for t in per_pass]
        busy = [r / (w * cores) for r, w in zip(run_s, wall) if w > 0]
        m[f"{layer}.executor_cpu_s"] = (med_layer(layer, "executor_cpu_ns", 1e-9), "s")
        m[f"{layer}.busy_frac"] = (median(busy), "frac")
        m[f"{layer}.gc_s"] = (med_layer(layer, "gc_ms", 1e-3), "s")
        m[f"{layer}.spill_bytes"] = (
            median([t.get(layer, {}).get("memory_spill_bytes", 0.0)
                    + t.get(layer, {}).get("disk_spill_bytes", 0.0) for t in per_pass]), "bytes")
        m[f"{layer}.failed_tasks"] = (
            sum(t.get(layer, {}).get("failed_tasks", 0.0) for t in per_pass), "count")

    m["readers.exec_s"] = (med_layer("readers", "wall_s"), "s")
    m["readers.input_bytes"] = (med_layer("readers", "input_bytes"), "bytes")
    m["capstone.plan_s"] = (med_span("capstone.plan"), "s")
    m["capstone.clean_s"] = (med_span("capstone.clean"), "s")
    m["capstone.star_s"] = (med_span("capstone.star"), "s")
    m["capstone.shuffle_bytes"] = (med_layer("capstone", "shuffle_write_bytes"), "bytes")
    m["sinks.write_s"] = (med_layer("sinks", "wall_s"), "s")
    m["sinks.bytes_written"] = (median([p["bytes_written"] for p in traced]), "bytes")
    m["sinks.files_written"] = (median([p["files_written"] for p in traced]), "count")
    m["sinks.bytes_written_per_input_byte"] = (
        m["sinks.bytes_written"][0] / wl.input_bytes, "ratio")
    probe = next((p["probe"] for p in traced if "probe" in p), {})
    m["capstone.default_key_bad_groups"] = (probe.get("default_key_bad_groups", 0.0), "count")
    m["quality.check_s"] = (med_layer("quality", "wall_s"), "s")
    m["quality.jobs"] = (med_layer("quality", "jobs"), "count")
    m["quality.shuffle_read_bytes"] = (med_layer("quality", "shuffle_read_bytes"), "bytes")

    lat = {q: [p["latency"][q] for p in passes if "latency" in p] for q in query_names}
    for q in query_names:
        m[f"queries.{q}.p50_s"] = (median(lat[q]), "s")
    every = [v for vs in lat.values() for v in vs]
    m["queries.p50_s"] = (median(every), "s")
    m["queries.p90_s"] = (quantile(every, 0.9), "s")
    m["queries.broadcast_joins"] = (
        median([p["broadcast_joins"] for p in traced if "broadcast_joins" in p]), "count")

    m["textstats.exec_s"] = (med_layer("textstats", "wall_s"), "s")
    verified = median([p["verified_pairs"] for p in traced if "verified_pairs" in p])
    m["dedup.signature_s"] = (med_span("dedup.signature"), "s")
    m["dedup.candidates"] = (probe.get("candidates", 0.0), "count")
    m["dedup.verified_pairs"] = (verified, "count")
    m["dedup.verify_yield"] = (
        verified / probe["candidates"] if probe.get("candidates") else 0.0, "ratio")
    m["dedup.verify_s"] = (med_span("dedup.verify"), "s")
    m["dedup.cc_s"] = (med_span("dedup.cc"), "s")
    m["dedup.cc_rounds"] = (probe.get("cc_rounds", 0.0), "count")
    m["dedup.planted_dup_recall"] = (
        median([p["planted_dup_recall"] for p in traced if "planted_dup_recall" in p]), "ratio")

    plain = median([p["wall"] for p in passes if not p["traced"]])
    m["trace.overhead_frac"] = (
        median([p["wall"] for p in traced]) / plain - 1 if plain else 0.0, "frac")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["capstone_etl", "analyst_queries", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(os.getcwd(), PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    record, result = run(args)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
