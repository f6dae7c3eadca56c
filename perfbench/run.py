#!/usr/bin/env python3
"""Layer-traced benchmark of the graft engine.

    python3 perfbench/run.py --workload <athena_sql|lake_lookup|ingest_commit|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed
(gen.py), starts one JVM at local[<cores>] with one client thread in a
closed loop, checks every answer, and prints a report followed by one JSON
line: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The full result (every metric, sample counts, spans summary) is
also written to .bench_build/results/, which diff.py compares.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
LAKE = os.path.join(BUILD, "lookup_lake")
SETUPS = 3
RUN_TIMEOUT_S = 170
# fixed op prefix over which per-layer counts are totalled, so that they
# repeat exactly for one seed whatever the run length
# (one athena pass, two lookup groups, one ingest cycle with its compaction)
COUNT_PREFIX = {"athena_sql": 29, "lake_lookup": 16, "ingest_commit": 18}

E2E_UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s",
    "fail_ratio": "ratio", "freshness_p50_ms": "ms", "freshness_p90_ms": "ms",
    "ingest_rows_per_s": "rows/s", "commit_p50_ms": "ms", "commit_p90_ms": "ms",
    "space_amp": "ratio", "heap_mb": "MiB",
}

# defined on ingest_commit only
INGEST_E2E = {"freshness_p50_ms", "freshness_p90_ms", "ingest_rows_per_s",
              "commit_p50_ms", "commit_p90_ms", "space_amp"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build --

def stamp_of(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def engine_files():
    return (glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
            [f for f in glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
             if os.path.isfile(f)])


def build():
    """Compile engine + harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        raise SystemExit("no engine sources under src/main/scala: run from a checkout root")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = stamp_of(engine_files() + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                     [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    if read(stamp_file) == stamp and os.path.exists(cp_file):
        cp = read(cp_file).strip()
        stage_lookup(cp)
        return cp
    log("perfbench: building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true"]
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    cmd += ["compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=880)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if "graftbench" not in l and l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed")
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    stage_lookup(cp)
    return cp


def read(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def stage_lookup(cp):
    """Build the read-only lake_lookup lake once per build: its hundreds of
    indexed commits take about a minute, too long for every set-up. The
    lake does not depend on the seed; the draws against it do. It is
    rebuilt when the engine sources or the lake's shape change."""
    stamp_file = LAKE + ".stamp"
    stamp = stamp_of(engine_files(), repr(gen.LAKE_SHAPE))
    if read(stamp_file) == stamp:
        return
    log("perfbench: staging the lake_lookup lake")
    shutil.rmtree(LAKE, ignore_errors=True)
    work = os.path.join(BUILD, "stage")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate("lake_lookup", 0, work)
    p = subprocess.run(java_cmd(cp, work) + ["stage", os.path.join(work, "plan.json"), LAKE],
                       cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: staging the lake_lookup lake failed")
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ------------------------------------------------------------------ run --

def java_cmd(cp, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g",
           "-Djava.io.tmpdir=" + tmp, "-Dperfbench.lake=" + LAKE]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main"]


def run_jvm(cp, plan, work, out, seconds, trace, corrupt):
    cmd = java_cmd(cp, work) + [plan, os.path.join(work, "w"), out, str(seconds),
                                str(trace), str(SETUPS), str(corrupt)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S - seconds)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:  # also when this process is interrupted or terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log("".join(f.readlines()[-40:]))
        raise SystemExit("perfbench: JVM run failed (rc=%d)" % rc)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def pct(values, p):
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics, each weighted by the Beta((n+1)p, (n+1)(1-p)) mass of its
    rank interval (integrated here on a fine grid). The ops of one run
    fall into a few latency modes, one per op kind, so a single order
    statistic jumps between modes from run to run where this estimate
    moves smoothly."""
    s = sorted(values)
    n = len(s)
    if n < 2:
        return s[0] if s else float("nan")
    a, b = p * (n + 1), (1 - p) * (n + 1)
    k = 64 * n
    logs = [(a - 1) * math.log((j + 0.5) / k) + (b - 1) * math.log1p(-(j + 0.5) / k)
            for j in range(k)]
    top = max(logs)
    w = [math.exp(l - top) for l in logs]
    return sum(wj * s[j * n // k] for j, wj in enumerate(w)) / sum(w)


def oracle_check(out):
    """Compare the athena answer dumps with DuckDB's answers to the oracle
    SQL. Returns the names of queries answered wrongly."""
    import duckdb
    with open(os.path.join(out, "athena/oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, gen.CHECK_DIR, t))
    bad = []
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(out, "athena", name, "*.parquet")))
        try:
            got = con.execute("SELECT * FROM read_parquet(%r)" % files).fetchdf()
            want = con.execute(sql).fetchdf()
            got, want = got[sorted(got.columns)], want[sorted(want.columns)]
            ok = (list(got.columns) == list(want.columns) and len(got) == len(want) and
                  not (got.astype(str).values != want.astype(str).values).any())
        except Exception as e:  # a missing dump or failing SQL is a wrong answer
            log("oracle %s: %s" % (name, e))
            ok = False
        if not ok:
            bad.append(name)
    return bad


def end_to_end(w, res, wrong_ops):
    ops = res["ops"]
    lat = [o["wall_ms"] for o in ops]
    failed = sum(1 for o in ops if not o["ok"]) + wrong_ops
    m = {
        "setup_s": res["boot_s"] + statistics.median(res["stage_s"]) + res["warm_s"],
        "op_p50_ms": pct(lat, 0.5),
        "op_p90_ms": pct(lat, 0.9),
        "ops_per_s": len(ops) / (res["timed_wall_ms"] / 1000.0),
        "fail_ratio": failed / max(1, len(ops)),
        "heap_mb": res["heap_mb"],
    }
    samples = {"op": len(ops), "stage": len(res["stage_s"])}
    if w == "ingest_commit":
        fr = res["freshness_ms"]
        commits = [o["wall_ms"] for o in ops if o["mutating"]]
        lake = res["lake.ev"]["bytes"] + res["ingest_lake_bytes"]
        m.update({
            "freshness_p50_ms": pct(fr, 0.5), "freshness_p90_ms": pct(fr, 0.9),
            "ingest_rows_per_s": res["ingest_rows"] / max(1e-9, res["ingest_ms"] / 1000.0),
            "commit_p50_ms": pct(commits, 0.5), "commit_p90_ms": pct(commits, 0.9),
            "space_amp": lake / max(1.0, res["csv_bytes"]),
        })
        samples.update(freshness=len(fr), commit=len(commits))
    return m, samples, failed


# ------------------------------------------------------------ per layer --

TIME_METRICS = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "query.build_ms", "query.run_ms", "exec.job_wall_ms", "exec.cpu_s", "exec.task_run_s",
    "exec.gc_s", "exec.fetch_wait_s", "driver.only_ms", "codegen.compile_ms",
    "scan.metadata_ms", "jvm.gc_ms", "jvm.alloc_mb", "trace.self_ms"]
COUNT_METRICS = [
    "catalyst.executions", "exec.jobs", "exec.stages", "exec.tasks", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.output_bytes",
    "codegen.classes", "scan.files_read", "scan.files_total", "fs.read_ops",
    "fs.large_read_ops", "fs.write_ops", "fs.bytes_read", "fs.bytes_written"]
STREAM_METRICS = [
    "stream.trigger_ms", "stream.latest_offset_ms", "stream.query_planning_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms"]


def per_layer(w, res):
    """Per-layer metrics of a traced run. Times are medians per op over the
    ops they apply to; counts are means per op over the first
    COUNT_PREFIX[w] ops, which are the same ops for one seed."""
    ops = res["ops"]
    prefix = ops[:COUNT_PREFIX[w]]

    def c(o, k):
        return o["counters"].get(k, 0.0)

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def total(k, sel=lambda o: True):
        return sum(c(o, k) for o in prefix if sel(o))

    def catalyst(o):
        return sum(c(o, "catalyst.%s_ms" % p) for p in ("analysis", "optimization", "planning"))

    lib_reads = [o for o in ops if w == "lake_lookup" and o["form"] == "lib"]
    sql_reads = [o for o in ops if (w == "lake_lookup" and o["form"] == "sql") or
                 (w == "ingest_commit" and o["kind"] == "read" and o["form"] != "ingest")]
    vcommits = [o for o in ops if o["mutating"] and o["kind"] != "ingest"]
    ingests = [o for o in ops if o["mutating"] and o["kind"] == "ingest"]
    streams = [o for o in ops if o["mutating"] and o["kind"] == "stream"]
    compacts = [o for o in ops if o["mutating"] and o["kind"] == "compact"]
    is_ingest = lambda o: o["mutating"] and o["kind"] == "ingest"  # noqa: E731
    is_compact = lambda o: o["mutating"] and o["kind"] == "compact"  # noqa: E731
    lake = res.get("lake.lookup") or res.get("lake.ev") or {}
    n = len(prefix)
    files_total = total("scan.files_total")
    # rows an op returned: counted by the workload where it checks them,
    # else read off the executed plan
    result_rows = sum(o["counters"].get("result.rows", c(o, "plan.result_rows")) for o in prefix)
    csv = total("ingest.input_bytes")

    out = {k: med(c(o, k) for o in ops) for k in TIME_METRICS}
    out.update({k: total(k) / n for k in COUNT_METRICS})
    out.update({
        "scan.file_admit_ratio": total("scan.files_read") / files_total if files_total else 0.0,
        "scan.rows_per_result": total("scan.rows") / result_rows if result_rows else 0.0,
        "vlake.lib_resolve_ms": med(o["build_ms"] for o in lib_reads),
        "vlake.sql_resolve_ms": med(catalyst(o) for o in sql_reads),
        "vlake.commit_ms": med(o["wall_ms"] for o in vcommits),
        "vlake.versions": float(lake.get("versions", 0)),
        "vlake.files": float(lake.get("files", 0)),
        "vlake.manifest_bytes": float(lake.get("manifest_bytes", 0)),
        "vlake.sidecar_bytes": float(lake.get("sidecar_bytes", 0)),
        "ingest.batch_ms": med(o["wall_ms"] for o in ingests),
        "ingest.files": sum(1 for o in prefix if is_ingest(o)) / n,
        "ingest.rows": total("ingest.rows") / n,
        "ingest.input_bytes": csv / n,
        "maint.compact_ms": med(o["wall_ms"] for o in compacts),
        "maint.bytes_rewritten": total("fs.bytes_written", is_compact) / max(1, sum(map(is_compact, prefix))),
        "fs.write_amp": total("fs.bytes_written") / csv if csv else 0.0,
    })
    out.update({k: med(c(o, k) for o in streams) for k in STREAM_METRICS})
    totals = {k: total(k) for k in COUNT_METRICS}
    totals["ops"] = n
    return out, totals


def span_summary(path):
    """Self time per span name: duration minus the part its children cover."""
    spans = []
    with open(path) as f:
        for line in f:
            spans.append(json.loads(line))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(k["start"], s["start"]), min(k["end"], s["end"]))
                    for k in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += s["end"] - s["start"]
        e["self_ms"] += max(0.0, s["end"] - s["start"] - covered)
    return out


# ----------------------------------------------------------------- main --

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(a, workload, spec, cp):
    """One benchmark run: its report lines and final JSON line."""
    tag = "%s-s%d-t%d-%d" % (workload, a.seed, a.trace, os.getpid())
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    try:
        gen.generate(workload, a.seed, inputs)
        res = run_jvm(cp, os.path.join(inputs, "plan.json"), run_dir, out,
                      a.seconds, a.trace, a.corrupt_every)
        checks = {}
        wrong_ops = 0
        if workload == "athena_sql":
            # a query answered wrongly makes every timed run of it wrong
            bad = oracle_check(out) + res["athena_unrepeatable"]
            checks["athena_wrong_queries"] = bad
            wrong_ops = sum(1 for o in res["ops"] if o["ok"] and o["form"] in bad)
        e2e, samples, failed = end_to_end(workload, res, wrong_ops)
        layer, totals, spans = {}, {}, {}
        if a.trace:
            layer, totals = per_layer(workload, res)
            spans = span_summary(os.path.join(out, "spans.jsonl"))
            shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(res_dir, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"]
    errors = sorted({o["error"] for o in ops if o["error"]})[:5]
    tracing_share = sum(o["counters"].get("trace.self_ms", 0.0) for o in ops) / res["timed_wall_ms"]
    full = {"workload": workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "attempted": len(ops), "failed": failed, "samples": samples,
            "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "setup": {k: res[k] for k in ("boot_s", "stage_s", "warm_s")},
            "per_layer": layer, "count_totals": totals, "spans": spans, "checks": checks,
            "errors": errors}
    keys = ("id", "kind", "form", "wall_ms", "ok") + (("counters",) if a.trace else ())
    full["ops"] = [{k: o[k] for k in keys} for o in ops]
    if a.trace:
        full["tracing_share"] = tracing_share
    with open(os.path.join(res_dir, tag + ".json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    print("workload %s seed %d trace %d: %d ops attempted, %d failed" %
          (workload, a.seed, a.trace, len(ops), failed))
    for k, v in e2e.items():
        print("  %-20s %14.4f %-7s" % (k, v, E2E_UNITS[k]))
    print("  samples: " + ", ".join("%s=%d" % kv for kv in sorted(samples.items())))
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for k, v in layer.items():
        print("  %-28s %16.4f %s" % (k, v, units[k]))
    if a.trace:
        print("  tracing overhead: %.2f%% of the timed phase in the tracer" % (100 * tracing_share))
    for e in errors:
        print("  error: " + e)
    group = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                  for m in group}}), flush=True)


def main():
    ap = argparse.ArgumentParser(description="Layer-traced benchmark of the graft engine.")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS + ("all",),
                    help="one workload, or all three in turn")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt-every", type=int, default=0,
                    help="alter every n-th checked answer (to test the checks)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    # graft.Sessions.local runs at local[SPARK_GRAFT_CPUS]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spec = load_spec()
    cp = build()
    for w in gen.WORKLOADS if a.workload == "all" else (a.workload,):
        run_one(a, w, spec, cp)


if __name__ == "__main__":
    main()
