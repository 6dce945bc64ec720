#!/usr/bin/env python3
"""Graft lakehouse benchmark: one closed-loop client, three workloads
(BENCHMARK.json gates ledger_dml and curation_stream).

    python3 perfbench/run.py --workload ledger_dml|dashboard_scan|curation_stream \\
        --seed N --seconds S --trace 0|1 [--smoke] [--keep]

Run from the root of a checkout. The first run builds the harness and the
repository's main sources with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. Each run:

  1. generates the workload's inputs from the seed (perfbench/gen.py), once,
     and copies them for each of the REPS set-up repetitions;
  2. starts one JVM on local[<cpu count>] that builds the initial table or
     index once per repetition, runs the seeded op sequence for a warm-up,
     then times whole units of it until the ops took --seconds, and writes
     its op log and outputs;
  3. checks every output against an oracle that does not use Graft
     (perfbench/oracle.py);
  4. prints a metric table, then one JSON line:
     {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
     metrics are the end-to-end ones; with --trace 1 the per-layer ones,
     from spans recorded around every graft call and from Spark's
     listeners.

It exits 1 when a check fails and 2 when it cannot build or run. --smoke
runs the sf0.001-sized inputs for a few seconds. Work files go to
.bench_work/ and are removed at the end unless --keep is given; the spans
of a traced run are kept in .bench_work/<workload>-spans.jsonl then.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench", "classpath.txt")
STAMP = os.path.join(BUILD, "perfbench", "sources.sha256")
WORKLOADS = ("ledger_dml", "dashboard_scan", "curation_stream")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 150
# set-up repetitions per run: setup_s takes the median of their build times
REPS = 3
# local[<the CPUs this process may run on>], as nproc counts them
CORES = len(os.sched_getaffinity(0))
# per-op-kind medians reported for ledger_dml (API and SQL spellings and the
# deletion-vector variants pooled with their op)
LEDGER_GROUPS = {"merge": ("merge_api", "merge_sql"), "delete": ("delete", "delete_mor"),
                 "update": ("update", "update_mor"), "append": ("append",)}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def read(path):
    with open(path) as f:
        return f.read()


def sources_digest():
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if "target" not in d]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from a checkout of the repository")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and read(STAMP) == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global", "-J-Xmx3g", "writeClasspath"]
    if os.path.exists(repos):
        cmd[2:2] = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home:
        fail("set SPARK_HOME to the Spark installation")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(cmd, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, env=env, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed, see {BUILD}/build.log")
    with open(STAMP, "w") as f:
        f.write(digest)


def percentile_tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, at percentile 100 * (n - 10) / n."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def summarize(res, gen_s, workload):
    timed = res["ops"]
    ok = [o for o in timed if o["ok"]]
    rows = []  # (name, value, unit, samples, note)

    def dist(name, ms):
        if not ms:
            return
        rows.append((f"{name}_p50_ms", statistics.median(ms), "ms", len(ms), "p50"))
        tail, p = percentile_tail(ms)
        rows.append((f"{name}_tail_ms", tail, "ms", len(ms), f"p{p:.1f}"))

    builds = res["setup_build_s"]
    rows.append(("setup_s", res["session_s"] + gen_s + statistics.median(builds), "s", len(builds),
                 "session start + input generation + median of build repetitions"))
    # timed_s sums the ops' own times: bookkeeping between ops is not timed
    rows.append(("ops_per_s", len(ok) / res["timed_s"], "ops/s", len(ok),
                 f"{res['timed_s']:.1f}s of ops"))
    dist("latency", [o["ms"] for o in ok])
    # an op made of a write and a read (a curation cycle) counts in both
    dist("write", [o["parts"].get("write", o["ms"]) for o in ok
                   if o["cls"] == "write" or "write" in o["parts"]])
    dist("read", [o["parts"].get("read", o["ms"]) for o in ok
                  if o["cls"] == "read" or "read" in o["parts"]])
    if workload == "ledger_dml":
        for g, kinds in LEDGER_GROUPS.items():
            ms = [o["ms"] for o in ok if o["kind"] in kinds]
            if ms:
                rows.append((f"{g}_p50_ms", statistics.median(ms), "ms", len(ms), "p50"))
    rows.append(("failed_ratio", (len(timed) - len(ok)) / max(len(timed), 1), "ratio",
                 len(timed), "failed or wrong / attempted"))
    rows.append(("space_amp", res["figures"]["space_amp"], "ratio", 1, "at end of run"))
    rows.append(("peak_rss_mb", res["peak_rss_mb"], "MB", 1, "VmHWM"))
    return rows, timed


def layer_metrics(res):
    lay = res["layers"]
    m = dict(lay["per_op_mean"])
    for k, v in res["figures"].items():
        if k != "space_amp":
            m[k] = v
    m["jvm.gc_ms"] = res["gc_ms"]
    m["jvm.gc_count"] = res["gc_count"]
    m["trace.covered_ops_ratio"] = lay["coverage_ok_ratio"]
    m["trace.coverage_min"] = lay["coverage_min"]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001-sized inputs")
    ap.add_argument("--keep", action="store_true", help="keep .bench_work/")
    a = ap.parse_args()

    build()
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    scale = 0.01 if a.smoke else 1.0
    # one generation, timed; each set-up repetition gets its own copy
    t0 = time.perf_counter()
    gen.generate(a.workload, a.seed, os.path.join(inputs, "rep0"), scale)
    gen_s = time.perf_counter() - t0
    for r in range(1, REPS):
        shutil.copytree(os.path.join(inputs, "rep0"), os.path.join(inputs, f"rep{r}"))

    out = os.path.join(work, "result.json")
    cp = read(CLASSPATH).strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A heap reserved at its full size with a fixed young generation, and
    # no adaptive sizing: the collector's decisions are the same in every
    # run, and a heap that never grows would collect in full every second.
    # Nothing pre-touches it, so the resident set counts the heap pages the
    # program used. The metaspace threshold is above what the run loads,
    # so class loading triggers no full collection.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:MetaspaceSize=512m",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--inputs", inputs, "--work", os.path.join(work, "run"),
           "--out", out, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--reps", str(REPS), "--cores", str(CORES)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out, see {work}/jvm.log")
    if r.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(read(os.path.join(work, "jvm.log"))[-4000:])
        fail(f"benchmark JVM failed (exit {r.returncode}), see {work}/jvm.log")
    res = oracle.load_json(out)

    last = os.path.join(inputs, f"rep{REPS - 1}")
    check = os.path.join(work, "run", "check")
    if a.workload == "ledger_dml":
        fails = oracle.check_ledger(last, check)
    elif a.workload == "dashboard_scan":
        fails = oracle.check_dashboard(last, check)
    else:
        meta = oracle.load_json(os.path.join(last, "meta.json"))
        raw = os.path.join(work, "run", f"rep{REPS - 1}", "curation", "raw")
        fails = oracle.check_curation(last, raw, check, meta)
    fails += [f"op {o['id']} {o['kind']}: {o['err']}" for o in res["ops"] if not o["ok"]]

    rows, timed = summarize(res, gen_s, a.workload)
    print(f"# {a.workload} seed={a.seed} trace={a.trace} closed loop, 1 client, "
          f"local[{CORES}], {len(timed)} timed ops")
    for name, v, unit, n, note in rows:
        print(f"{name:24s} {v:14.4f} {unit:6s} n={n:<5d} {note}")
    for f in fails:
        print(f"CHECK FAILED: {f}")
    attempted = len(timed)
    failed = sum(1 for o in timed if not o["ok"])
    if fails and failed == 0:
        failed = min(attempted, len(fails))
    units = {name: (v, unit) for name, v, unit, _, _ in rows}
    if a.trace:
        lm = layer_metrics(res)
        for k in sorted(lm):
            print(f"{k:32s} {lm[k]:16.4f}")
        for kind, m in sorted(res["layers"]["by_kind"].items()):
            print(f"  [{kind}] " + " ".join(f"{k}={v:.1f}" for k, v in sorted(m.items())
                                         if k.split(".")[0] in ("tables", "plans", "exec")
                                         and k.endswith(("_ms", "jobs"))))
        lm["trace.latency_p50_ms"] = units["latency_p50_ms"][0]
        lm["trace.ops_per_s"] = units["ops_per_s"][0]
        metrics = {k: {"value": lm.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        spans = os.path.join(work, "result-spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(ROOT, ".bench_work", f"{a.workload}-spans.jsonl"))
    else:
        metrics = {k: {"value": units[k][0], "unit": u} for k, u in END_TO_END.items()}
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if fails else 0)


# the metrics of each mode, with units; a workload that does not use a
# layer reports 0 for it
END_TO_END = {"setup_s": "s", "ops_per_s": "ops/s", "latency_p50_ms": "ms",
              "read_p50_ms": "ms", "space_amp": "ratio", "peak_rss_mb": "MB"}
PER_LAYER = {
    **{f"tables.{k}": "ms" for k in ("self_ms", "open_ms")},
    **{f"tables.{k}": "count" for k in ("calls", "versions", "log_files", "live_files",
                                        "disk_files")},
    "tables.log_bytes": "bytes", "tables.disk_bytes": "bytes",
    **{f"tables.{k}": "ratio" for k in ("open_growth", "write_amp", "read_files_ratio")},
    "plans.sql_execs": "count",
    **{f"plans.{k}": "ms" for k in ("self_ms", "analysis_ms", "optimization_ms", "planning_ms")},
    **{f"exec.{k}": "count" for k in ("jobs", "stages", "tasks")},
    **{f"exec.{k}": "ms" for k in ("job_wall_ms", "sql_wall_ms", "run_ms", "cpu_ms")},
    **{f"exec.{k}": "bytes" for k in ("input_bytes", "output_bytes", "shuffle_read_bytes",
                                      "shuffle_write_bytes", "spill_bytes")},
    **{f"operators.{k}": "count" for k in ("calls", "dedup_jobs", "pairs", "index_files")},
    **{f"operators.{k}": "ms" for k in ("self_ms", "dedup_job_ms")},
    "operators.drop_ratio": "ratio",
    "streaming.triggers": "count",
    **{f"streaming.{k}": "ms" for k in ("self_ms", "cycle_ms", "trigger_ms", "add_batch_ms",
                                        "offset_ms", "wal_ms", "query_planning_ms",
                                        "start_stop_ms")},
    "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    "trace.covered_ops_ratio": "ratio", "trace.coverage_min": "ratio",
    "trace.latency_p50_ms": "ms", "trace.ops_per_s": "ops/s",
}


if __name__ == "__main__":
    main()
