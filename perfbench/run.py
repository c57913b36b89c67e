#!/usr/bin/env python3
"""The repository benchmark: builds the engine from source, generates the
workload's inputs from the seed, runs one workload in one Spark JVM and
prints the result.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest [--seed <n>] [--seconds <s>]

Every line before the last describes the run (stamp, metrics with units and
sample counts, checks); the last line is the result object. The exit code
is nonzero when a correctness check fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("alert_stream", "em_nightly", "dashboard_reads")
# workload -> (its name for the op latency, its name for the throughput)
OPS = {
    "em_nightly": ("em_dag_s", "refreshes_per_s"),
    "dashboard_reads": ("dashboard_load_s", "queries_per_s"),
    "alert_stream": ("ingest_lag_s", "ingest_rows_per_s"),
}
NEEDS_DATA = ("dashboard_reads",)
# the committed gold-table digests em_nightly must reproduce (record_digests.py)
EM_DIGESTS = os.path.join(HERE, "em_nightly_digests.json")

# op_s is the workload's op latency over the run (see README.md): the
# median refresh on em_nightly, the sum of each entry's best latency on
# dashboard_reads, the median file on alert_stream. A tail percentile is
# printed with the workload's named timings where a run has enough samples
# for one (ten beyond it).
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_s", "s", "lower"),
]

DAG_NODES = ["emergency_events", "weather_impacts", "disaster_analytics", "public_disasters",
             "public_weather_alerts", "public_agricultural_data", "public_agricultural_summary",
             "data_quality_metrics", "disaster_declarations_snapshot", "weather_alerts_snapshot",
             "agricultural_risk_snapshot", "emergency_events_summary_snapshot"]
DASHBOARD_ENTRIES = ["a2_daily_rollup", "a3_privacy_rollup", "a10_freshness", "a22_latency_quantiles",
                     "j3_interval_join", "w3_range_frame_30d", "d5_neardup_clusters", "d6_dedup_keepers"]

PER_LAYER = (
    [(f"core.dag.{n}_s", "s", "lower") for n in DAG_NODES]
    + [("core.dag.overhead_s", "s", "lower"),
       ("core.frame_memo.hits", "count", "higher"),
       ("core.frame_memo.recomputes", "count", "lower"),
       ("core.frame_memo.build_s", "s", "lower"),
       ("em.read_amp", "ratio", "lower"),
       ("sources.output_mb", "MB", "lower"),
       ("operators.upsert.write_amp", "ratio", "lower"),
       ("operators.upsert.bronze_mb", "MB", "lower"),
       ("operators.dedup.pair_stats_s", "s", "lower"),
       ("operators.dedup.candidate_pairs", "count", "lower"),
       ("operators.dedup.match_ratio", "ratio", "higher"),
       ("operators.graph.components_s", "s", "lower"),
       ("operators.graph.cc_jobs", "count", "lower"),
       ("operators.graph.keepers_s", "s", "lower")]
    + [(f"queries.{e}_s", "s", "lower") for e in DASHBOARD_ENTRIES]
    + [("queries.jobs_per_query", "count", "lower"),
       ("queries.stages_per_query", "count", "lower"),
       ("streaming.drains", "count", "lower"),
       ("streaming.batches", "count", "lower"),
       ("streaming.rows_per_batch_p50", "count", "higher"),
       ("streaming.drain_start_s_p50", "s", "lower"),
       ("streaming.trigger_s_p50", "s", "lower"),
       ("streaming.trigger_s_p90", "s", "lower"),
       ("streaming.add_batch_s_p50", "s", "lower"),
       ("streaming.query_planning_s_p50", "s", "lower"),
       ("streaming.wal_commit_s_p50", "s", "lower"),
       ("streaming.commit_offsets_s_p50", "s", "lower"),
       ("streaming.latest_offset_s_p50", "s", "lower"),
       ("streaming.gen_late_p90_s", "s", "lower"),
       ("spark.jobs", "count", "lower"),
       ("spark.stages", "count", "lower"),
       ("spark.tasks", "count", "lower"),
       ("spark.executor_run_s", "s", "lower"),
       ("spark.executor_cpu_s", "s", "lower"),
       ("spark.gc_s", "s", "lower"),
       ("spark.shuffle_fetch_wait_s", "s", "lower"),
       ("spark.shuffle_write_mb", "MB", "lower"),
       ("spark.shuffle_read_mb", "MB", "lower"),
       ("spark.input_mb", "MB", "lower"),
       ("spark.spill_mb", "MB", "lower"),
       ("spark.driver_only_s", "s", "lower"),
       ("spark.busy_frac", "ratio", "higher"),
       ("jvm.heap_peak_mb", "MB", "lower"),
       ("jvm.code_cache_mb", "MB", "lower"),
       ("jvm.gc_s", "s", "lower"),
       ("trace.e2e_s", "s", "lower"),
       ("trace.untraced_e2e_s", "s", "lower"),
       ("trace.overhead_frac", "ratio", "lower")]
)

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with the benchmark's own sbt
    project; skipped when the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala; run from a checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("perfbench: building (sbt compile)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", f"-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed")
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cp:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1].strip()


# ---- host stamp ---------------------------------------------------------------

def proc_stat():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    v = [int(x) for x in line.split()[1:9]]
                    return v[7], sum(v)
    except OSError:
        pass
    return None


def commit():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=20)
        if sha.returncode != 0:
            return "unknown"
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                               capture_output=True, text=True, timeout=20).stdout.strip()
        return sha.stdout.strip() + ("+dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, total_kb // (4 * 1048576)))
    except (OSError, StopIteration):
        return 2


# ---- one run -------------------------------------------------------------------

def run_jvm(classpath, workload, seed, seconds, trace, plant, work, out):
    k = min(4, cpus())
    heap = f"{heap_gb()}g"
    data = os.path.join(work, "data")
    if workload in NEEDS_DATA:
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), data, str(seed)],
                       check=True, timeout=120)
        log(f"perfbench: generated inputs in {time.time() - t0:.1f}s")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", classpath, "perfbench.Main",
                      "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                      "--trace", "1" if trace else "0", "--data", data,
                      "--work", os.path.join(work, "run"), "--out", out]
           + (["--plant", plant] if plant else [])
           + (["--expected", EM_DIGESTS] if workload == "em_nightly" and os.path.exists(EM_DIGESTS) else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(k))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    with open(log_path, errors="replace") as f:
        jvm_log = f.readlines()
    for line in jvm_log:
        if line.startswith("perfbench:"):
            log(line.rstrip())
    if rc != 0 or not os.path.exists(out):
        log("".join(jvm_log[-60:]))
        raise SystemExit(f"perfbench: workload JVM exited with {rc}")
    with open(out) as f:
        return json.load(f), {"spark_master": f"local[{k}]", "driver_heap": heap}


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def timing(xs):
    """Median, and the highest percentile with at least ten samples beyond
    it when there are twenty or more samples."""
    t = {"n": len(xs), "p50": quantile(xs, 0.5)}
    if len(xs) >= 20:
        pct = int(100 * (len(xs) - 10) / len(xs))
        t.update(tail_pct=pct, tail=quantile(xs, pct / 100))
    return t


def summarize(report, stamp):
    """The full result: stamp, end-to-end metrics (with their sample
    counts), the workload's own named timings, per-layer metrics, checks."""
    ops = report["untraced_ops_s"] or report["traced_ops_s"]
    op_name, throughput_name = OPS[report["workload"]]
    e2e = {
        "setup_s": {"value": statistics.median(report["setup_s"]), "unit": "s",
                    "n": len(report["setup_s"])},
        "op_s": {"value": report["op_s"], "unit": "s", "n": report["op_n"], "op": op_name},
    }
    named = {k: timing(v) for k, v in report["named"].items()}
    named.setdefault(op_name, timing(ops))
    attempted = max(1, int(report["attempted"]))
    failed = int(report["failed"])
    unknown = sorted(set(report["per_layer"]) - {n for n, _, _ in PER_LAYER})
    if unknown:
        raise SystemExit(f"perfbench: per-layer metrics missing from the list: {unknown}")
    per_layer = {n: {"value": report["per_layer"].get(n, {"value": 0.0})["value"] or 0.0, "unit": u}
                 for n, u, _ in PER_LAYER}
    return {
        "stamp": stamp,
        "workload": report["workload"],
        "trace": report["trace"],
        "end_to_end": e2e,
        "error_rate": failed / attempted,
        "named": named,
        "scalars": dict(report["scalars"], **{
            throughput_name: report["throughput"]}),
        "per_layer": per_layer if report["trace"] else {},
        "checks": report["checks"],
        "attempted": attempted,
        "failed": failed,
    }


def last_line(full):
    metrics = full["per_layer"] if full["trace"] else {
        k: {"value": v["value"], "unit": v["unit"]} for k, v in full["end_to_end"].items()}
    return {"correct": full["failed"] == 0, "attempted": full["attempted"],
            "failed": full["failed"], "metrics": metrics}


def cross_run_check(full, report, args, digest):
    """Same seed, same sources, same run length => same result digests as
    any earlier run in this checkout."""
    path = os.path.join(RUNS, "digests.json")
    key = f"{args.workload}:{args.seed}:{args.seconds}:{digest}"
    try:
        with open(path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = {}
    now = report.get("digests", {})
    before = seen.get(key)
    if before is not None:
        diff = sorted(k for k in set(before) | set(now) if before.get(k) != now.get(k))
        full["checks"].append({"name": "cross_run_digests", "ok": not diff,
                               "detail": f"seed={args.seed} differs from an earlier run: {diff}"
                               if diff else f"seed={args.seed} {len(now)} digests as before"})
        if diff:
            full["failed"] += 1
            full["error_rate"] = full["failed"] / full["attempted"]
    elif now:
        seen[key] = now
        with open(path + ".tmp", "w") as f:
            json.dump(seen, f)
        os.replace(path + ".tmp", path)


def run(args, classpath, plant=None):
    run_id = (f"{args.workload}-s{args.seed}-t{int(args.trace)}" + ("-planted" if plant else "")
              + f"-{os.getpid()}")
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RUNS, exist_ok=True)
    jvm_out = os.path.join(work, "report.json")
    load1 = os.getloadavg()[0]
    st0 = proc_stat()
    t0 = time.time()
    try:
        report, jvm = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace,
                              plant, work, jvm_out)
    finally:
        st1 = proc_stat()
    steal = None
    if st0 and st1 and st1[1] > st0[1]:
        steal = 100.0 * (st1[0] - st0[0]) / (st1[1] - st0[1])
    stamp = dict({"commit": commit(), "nproc": cpus(), "load1": load1,
                  "steal_pct": steal, "seed": args.seed, "seconds": args.seconds,
                  "wall_s": time.time() - t0, "plant": plant}, **jvm)
    full = summarize(report, stamp)
    cross_run_check(full, report, args, source_digest())
    full["digests"] = report["digests"]
    full["spans"] = report["spans"]
    full["first_measured_trace"] = report.get("first_measured_trace")
    out = os.path.join(RUNS, f"{run_id}.json")
    with open(out, "w") as f:
        json.dump(full, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return full, out


def describe(full, path):
    s = full["stamp"]
    print(f"# {full['workload']} trace={int(full['trace'])} seed={s['seed']} seconds={s['seconds']} "
          f"commit={s['commit']} nproc={s['nproc']} spark={s['spark_master']} "
          f"heap={s['driver_heap']} load1={s['load1']:.2f} steal_pct={s['steal_pct']}")
    for k, v in full["end_to_end"].items():
        extra = f" ({v['op']})" if "op" in v else ""
        print(f"e2e {k} = {v['value']:.6g} {v['unit']} n={v['n']}{extra}")
    for k, v in full["named"].items():
        tail = f" p{v['tail_pct']}={v['tail']:.6g}" if "tail" in v else ""
        print(f"named {k} p50={v['p50']:.6g} s{tail} n={v['n']}")
    for k, v in full["scalars"].items():
        print(f"named {k} = {v['value']:.6g} {v['unit']}")
    print(f"e2e error_rate = {full['error_rate']:.6g} ratio n={full['attempted']}")
    for k, v in full["per_layer"].items():
        print(f"layer {k} = {v['value']:.6g} {v['unit']}")
    for c in full["checks"]:
        print(f"check {c['name']} {'ok' if c['ok'] else 'MISMATCH'} {c['detail'][:300]}")
    print(f"# report {os.path.relpath(path, ROOT)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", help="span:ms, a delay planted inside that span")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    classpath = build()
    if args.selftest:
        import selftest
        sys.exit(selftest.main(args, lambda a, plant=None: run(a, classpath, plant)))
    if not args.workload:
        ap.error("--workload is required")
    full, path = run(args, classpath, args.plant)
    describe(full, path)
    print(json.dumps(last_line(full)))
    sys.exit(0 if full["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
