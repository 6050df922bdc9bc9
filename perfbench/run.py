#!/usr/bin/env python3
"""Lake benchmark runner.

    python3 perfbench/run.py --workload <ingest|query|curate|curate_full> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine together with the
harness in perfbench/ (once per source state, into .bench_build/), runs
one JVM for the workload, checks every output, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics. A JSON report with the seed,
generated-input properties, environment and workload-specific metrics is
printed on the line before it. Exits non-zero when a check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "query", "curate", "curate_full")
JVM_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
WRITE_KINDS = ("append", "merge", "update", "delete_dv", "compact_small", "expire", "sink_batch", "sink_replay")
STAGES = ("dedupExact", "nearDupCandidates", "dedupFuzzy", "similarityJoin", "simhash", "bpeTrain",
          "bpeTokenize", "curatePipeline", "cosineTopK", "annIvf", "annPq")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_stamp():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns (runtime classpath, source
    stamp)."""
    if not glob.glob(os.path.join(ROOT, "src/main/scala/graft/*.scala")):
        fail("no engine sources under src/main/scala/graft: run from the root of a checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # every file sbt writes stays in the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Dsbt.global.base={BUILD}/sbt-global",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    with open(log, "w") as out:
        rc = wait_or_kill(subprocess.Popen(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                           stdin=subprocess.DEVNULL, env=env, start_new_session=True), 840)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ":" in l and ".jar" in l]
    if rc != 0 or not cps:
        fail(f"build failed (rc {rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp


def wait_or_kill(p, timeout_s):
    """Wait for a child started in its own session; on timeout kill the
    whole process group and wait for it. Returns the exit code or
    "timeout"."""
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"


# ---- one JVM run -----------------------------------------------------------

def run_jvm(cp, args, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *opens, "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--dir", run_dir]
    # the default production path: no graft.* switches reach the engine
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        rc = wait_or_kill(subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                           stdin=subprocess.DEVNULL, env=env, start_new_session=True),
                          JVM_TIMEOUT_S)
        args.jvm_exit_s = time.time()
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        lines = [l for l in open(log).read().splitlines() if not l.lstrip().startswith(("at ", "..."))]
        tail = "\n".join(lines[-40:])
        fail(f"JVM run failed (rc {rc}):\n{tail}", 1)
    with open(result) as f:
        return json.load(f)


# ---- metrics ---------------------------------------------------------------

def ms(ns):
    return None if ns is None else ns / 1e6


def dur(op):
    return op["t1"] - op["t0"]


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def classify(res):
    """(commit latencies ns, read latencies ns) by the workload's meaning."""
    ops = res["ops"]
    if res["workload"] == "ingest":
        commits = [o["commit_ns"] for o in ops if "commit_ns" in o] + [
            dur(o) for o in ops if o["kind"] == "compact_small"]
        reads = [o["readback_ns"] for o in ops if "readback_ns" in o] + [dur(o) for o in ops if o["kind"] == "cdc"]
    else:
        commits = [dur(o) for o in ops if o["cls"] == "commit"]
        reads = [dur(o) for o in ops if o["cls"] == "read"]
    return commits, reads


def end_to_end(res, launch_s):
    """The end-to-end metrics. Latency is the geometric mean of the
    per-kind medians; throughput is operations per second of the timed
    window, which holds whole cycles of the workload's mix."""
    ops = res["ops"]
    lat = [dur(o) for o in ops]
    t, pct, beyond = stats.tail(lat)
    return {
        "setup_s": res["first_op_epoch_ms"] / 1000.0 - launch_s,
        "kind_p50_ms": ms(stats.kind_p50_gmean([(o["kind"], dur(o)) for o in ops])),
        "ops_per_s": len(ops) / (res["timed_ns"] / 1e9),
    }, {"op_tail_ms": ms(t), "percentile": pct, "samples_beyond": beyond, "samples": len(ops)}


def rows_per_s(res):
    """User rows consumed (ingest, curate) or returned (query) per
    second of the timed window."""
    key = "rows_out" if res["workload"] == "query" else "rows_in"
    return sum(o.get(key, 0) for o in res["ops"] if o["ok"]) / (res["timed_ns"] / 1e9)


def workload_metrics(res, failed):
    """The workload-specific end-to-end figures (report line only)."""
    out = {"rows_per_s": rows_per_s(res)}
    commits, reads = classify(res)
    for name, xs in (("commit", commits), ("read", reads)):
        if xs:
            t, pct, beyond = stats.tail(xs)
            out[f"{name}_p50_ms"] = ms(stats.p50(xs))
            out[f"{name}_tail_ms"] = {"value": ms(t), "percentile": pct, "samples_beyond": beyond,
                                      "samples": len(xs)}
    ex = res.get("extra", {})
    passes = [p for p in ex.get("passes", []) if p.get("complete")]
    if passes:
        out["curate_pass_s"] = stats.p50([(p["t1"] - p["t0"]) / 1e9 for p in passes])
        out["curate_passes"] = len(passes)
    if "plain_bytes" in ex:
        out["write_amp"] = stats.write_amp(res["fs_timed"].get("bytesWritten", 0), ex["plain_bytes"])
        out["space_amp"] = stats.space_amp(ex["disk_bytes"], ex["live_bytes"])
    cops = [o for o in res["ops"] if o["cls"] == "commit"]
    if cops:
        out["contended_commits"] = sum(1 for o in cops if stats.contended(o))
    out["failed_ratio"] = failed / max(1, len(res["ops"]))
    out["peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    kinds = {}
    for o in res["ops"]:
        kinds.setdefault(o["kind"], []).append(dur(o))
    out["per_kind"] = {k: {"n": len(v), "p50_ms": ms(stats.p50(v))} for k, v in sorted(kinds.items())}
    return out


def per_layer(res):
    ops = res["ops"]
    n = max(1, len(ops))
    td = res["trace_data"]
    spans = td["spans"]
    jobs = td["jobs"]
    cores = res["env"]["nproc"]
    timed_ns = res["timed_ns"]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o)
    spans_by_op = {}
    for s in spans:
        spans_by_op.setdefault(s["op"], []).append(s)
    jobs_by_op = {}
    for j in jobs:
        jobs_by_op.setdefault(j["op"], []).append((j["t0"], j["t1"]))
    totals = {int(k): v for k, v in td["task_totals_by_op"].items()}

    def tsum(key, op_ids=None):
        return sum(v[key] for k, v in totals.items() if op_ids is None or k in op_ids)

    def span_ms(prefixes):
        return mean([ms(s["t1"] - s["t0"]) for s in spans if s["name"].startswith(prefixes)])

    m = {}
    ph = td["plan_phases_ms"]
    for p in ("analysis", "optimization", "planning"):
        m[f"spark.plan.{p}_ms"] = ph.get(p, 0) / n
    m["GraftSqlParser.sql_call_ms"] = span_ms(("GraftSqlParser.sql",))
    kept = res.get("extra", {}).get("files_kept", [])
    m["GraftCatalog.sql_files_kept_ratio"] = mean([k["ratio"] for k in kept if k["sql"]])
    task_ms = tsum("run_ms")
    busy = stats.union_ns([(j["t0"], j["t1"]) for j in jobs], 0, timed_ns)
    m.update({
        "spark.exec.jobs": len(jobs) / n,
        "spark.exec.tasks": tsum("tasks") / n,
        "spark.exec.task_run_ms": task_ms / n,
        "spark.exec.task_cpu_ms": tsum("cpu_ns") / 1e6 / n,
        "spark.exec.gc_ms": tsum("gc_ms") / n,
        "spark.exec.shuffle_bytes": tsum("shuffle_bytes") / n,
        "spark.exec.slot_busy_ratio": task_ms / (cores * timed_ns / 1e6) if timed_ns else 0.0,
        "spark.exec.driver_only_ms": (timed_ns - busy) / 1e6 / n,
    })
    for k in WRITE_KINDS:
        ko = by_kind.get(k, [])
        calls = [s for o in ko for s in spans_by_op.get(o["id"], [])
                 if s["name"].startswith(("ManifestTable.", "ManifestSink.")) and s["name"] != "ManifestTable.rowCount"]
        m[f"ManifestTable.{k}.ms"] = mean([ms(s["t1"] - s["t0"]) for s in calls])
        m[f"ManifestTable.{k}.driver_ms"] = mean([
            ms((s["t1"] - s["t0"]) - stats.union_ns(jobs_by_op.get(s["op"], []), s["t0"], s["t1"])) for s in calls])
        m[f"ManifestTable.{k}.files_added"] = mean([o.get("files_added", 0) for o in ko])
        m[f"ManifestTable.{k}.bytes_written"] = mean([o.get("fs.bytesWritten", 0) for o in ko])
    m["ManifestTable.resolve_ms"] = span_ms(("ManifestTable.read",))
    m["ManifestTable.files_kept_ratio"] = mean([k["ratio"] for k in kept if not k["sql"]])
    read_ops = [o for o in ops if o["cls"] == "read" and o["kind"] != "cdc"]
    rows_out = sum(o.get("rows_out", 0) for o in read_ops)
    m["ManifestTable.rows_read_per_row_returned"] = (
        tsum("records_read", {o["id"] for o in read_ops}) / rows_out if rows_out else 0.0)
    m["ManifestTable.cdc_ms"] = mean([ms(dur(o)) for o in by_kind.get("cdc", [])])
    cops = [o for o in ops if o["cls"] == "commit"]
    nc = sum(1 for o in cops if stats.contended(o))
    m["ManifestTable.contended_commits"] = nc
    m["ManifestTable.contended_ratio"] = nc / len(cops) if cops else 0.0
    fs = res["fs_timed"]
    m.update({
        "GraftLocalFileSystem.bytes_read": fs.get("bytesRead", 0) / n,
        "GraftLocalFileSystem.bytes_written": fs.get("bytesWritten", 0) / n,
        "GraftLocalFileSystem.files_on_disk": td["files_on_disk"],
    })
    for st in STAGES:
        m[f"Graft.{st}.ms"] = span_ms((f"Graft.{st}",))
    cand = by_kind.get("nearDupCandidates", [])
    m["Graft.nearDupCandidates.useful_ratio"] = mean(
        [o["useful"] / o["candidates"] for o in cand if o.get("candidates")])
    m["Graft.annIvf.recall_at_k"] = mean([o["recall"] for o in by_kind.get("annIvf", []) if "recall" in o])
    m["Graft.annPq.recall_at_k"] = mean([o["recall"] for o in by_kind.get("annPq", []) if "recall" in o])
    all_spans = spans + stats.attach_jobs(spans, jobs, 1 + max([s["id"] for s in spans], default=0))
    self_ns = stats.layer_self_ns(all_spans)
    for layer in ("bench", "ManifestTable", "ManifestSink", "Graft", "GraftSqlParser", "spark.exec"):
        m[f"layer.{layer}.self_ms"] = self_ns.get(layer, 0) / 1e6 / n
    return m


def write_trace(res, args, e2e, key):
    """Keep the spans and report overhead against the untraced runs of
    the same build and window length."""
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": res["trace_data"]["spans"], "jobs": res["trace_data"]["jobs"]}, f)
    hist = history(key)
    overhead = {}
    for k, v in e2e.items():
        base = [h[k] for h in hist if h.get(k)]
        if base and v is not None:
            overhead[k] = v / statistics.median(base) - 1.0
    return path, overhead, len(hist)


def history_key(workload, stamp, seconds):
    """Untraced runs are compared only within one source state and one
    window length."""
    return f"{workload}-{stamp[:16]}-{seconds:g}s"


def history(key):
    p = os.path.join(BUILD, "history", f"{key}.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(l) for l in f if l.strip()]


def record_history(key, e2e):
    os.makedirs(os.path.join(BUILD, "history"), exist_ok=True)
    with open(os.path.join(BUILD, "history", f"{key}.jsonl"), "a") as f:
        f.write(json.dumps(e2e) + "\n")


# ---- main ------------------------------------------------------------------

def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def count_failures(res, oracle_bad):
    """(failed ops {id: reason}, failed run-level checks). An op fails when
    it raised, when its in-process check failed, or when the oracle's
    answer differs from its result."""
    failures = {o["id"]: o["err"] for o in res["ops"] if not o["ok"]}
    for k, v in oracle_bad.items():
        failures.setdefault(k, v)
    return failures, [c for c in res["checks"] if not c["ok"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, stamp = build()
    key = history_key(args.workload, stamp, args.seconds)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        launch_s = time.time()
        res = run_jvm(cp, args, run_dir)
        oracle_bad = {}
        if args.workload == "query":
            import oracle
            oracle_bad = oracle.check_ops(os.path.join(run_dir, "raw"), res["ops"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failures, bad_checks = count_failures(res, oracle_bad)
    failed = len(failures) + len(bad_checks)
    attempted = len(res["ops"])
    e2e, tail_info = end_to_end(res, launch_s)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "env": dict(res["env"], git_commit=git_commit(), heap_flag=HEAP), "inputs": res["inputs"],
        "tail": tail_info, "timed_s": res["timed_ns"] / 1e9,
        "cycle_s": [(b - a) / 1e9 for a, b in zip([0] + res["cycle_ends_ns"], res["cycle_ends_ns"])],
        "setup_split_s": {"jvm_start": res["jvm_start_epoch_ms"] / 1000.0 - launch_s,
                          "session": (res["session_ready_epoch_ms"] - res["jvm_start_epoch_ms"]) / 1000.0,
                          "workload": (res["first_op_epoch_ms"] - res["session_ready_epoch_ms"]) / 1000.0,
                          "phases": res["phases_s"],
                          "jvm_stop": args.jvm_exit_s - res["result_epoch_ms"] / 1000.0},
        "workload_metrics": workload_metrics(res, failed),
        "failures": [f"op {k}: {v}" for k, v in sorted(failures.items())][:20]
                    + [f"{c['name']}: {c['detail']}" for c in bad_checks][:20],
        "checks": len(res["checks"]),
        "extra": {k: v for k, v in res.get("extra", {}).items() if k != "passes"},
    }
    if args.trace:
        metrics = per_layer(res)
        path, overhead, nhist = write_trace(res, args, e2e, key)
        report["trace"] = {"spans_file": os.path.relpath(path, ROOT), "spans": len(res["trace_data"]["spans"]),
                           "jobs": len(res["trace_data"]["jobs"]),
                           "overhead_vs_untraced_median": overhead, "untraced_runs": nhist}
    else:
        metrics = e2e
        if failed == 0:
            record_history(key, e2e)
    listed, units = benchmark_spec()
    if args.trace and args.workload in listed:
        metrics = {k: v for k, v in metrics.items() if k in units}
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v if v is not None else 0.0, "unit": units.get(k, unit_of(k))}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


def unit_of(name):
    """Unit of a metric BENCHMARK.json does not list (curate_full's)."""
    return "ms" if name.endswith("ms") else "ratio"


def benchmark_spec():
    """(listed workload names, {metric: unit}) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({w["name"] for w in b["workloads"]},
            {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]})


if __name__ == "__main__":
    main()
