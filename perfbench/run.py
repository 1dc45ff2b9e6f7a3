#!/usr/bin/env python3
"""Layered end-to-end benchmark of the graft engine.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                           [--canary withhold_file|flip_digest|drop_answer]

Builds the engine and this benchmark from source (once per source state),
generates the query tables (once), runs one workload in a fresh JVM and
prints, as its last stdout line, one JSON object: the checks' verdict, the
attempted and failed operation counts and the metrics (end-to-end ones, or
per-layer ones with --trace 1). The line before it is the run's report: the
workload's named metrics, the contention record and any failed check. A
failed check exits 1; a run that cannot build or start exits 2 without a
result. `--workload digest_all` rewrites digests.tsv instead (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["news_stream", "query_suite"]
CANARIES = ["none", "withhold_file", "flip_digest", "drop_answer"]
# generated-table scales: the query suite reads all ten tables at QUERY_SCALE;
# its traced run's ANN phase builds its index from the ANN_SCALE embeddings
QUERY_SCALE = "0.1"
ANN_SCALE = "0.01"
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
SINKS = ["console", "json", "memory", "foreach"]
PASSES = ["cold", "refresh"]
# Every per-layer metric, in BENCHMARK.json order. A traced run reports all
# of them; a layer its workload does not run reports 0.
LAYER_METRICS = (
    [f"streaming.{k}.{m}" for k in SINKS for m in (
        "latest_offset_ms", "get_batch_ms", "query_planning_ms",
        "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "trigger_ms",
        "batches")]
    + ["streaming.backlog_files_max", "generator.late_ms_max"]
    + [f"ann.{q}.{m}" for q in ("serve", "maintain")
       for m in ("add_batch_ms", "query_planning_ms", "wal_commit_ms")]
    + ["ann.versions_published", "ann.segments_final"]
    + [f"pipeline.{m}" for m in (
        "parse_ms", "clean_ms", "score_ms", "write_ms", "rows_kept_ratio",
        "batch_articles_per_s", "single_thread_articles_per_s")]
    + ["sentiment.polarity_ns_per_article"]
    + [f"driver.{p}.{m}_ms" for p in PASSES
       for m in ("build", "analysis", "optimization", "planning")]
    + [f"codegen.{p}.{m}" for p in PASSES for m in ("compile_ms", "classes")]
    + [f"exec.{p}.{m}" for p in PASSES for m in (
        "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
        "shuffle_read_mb", "shuffle_write_mb", "input_mb", "cpu_concurrency")]
    + [f"family.{f}.{p}_wall_s" for f in ("dedup", "doc", "emb", "ev", "star")
       for p in PASSES]
    + ["cache.storage_mb_max", "trace.hook_ms", "trace.spans",
       "trace.query_gap_pct_p50", "trace.query_gap_pct_max",
       "trace.run_gap_pct", "trace.e2e.latency_p50_ms",
       "trace.e2e.throughput_per_s", "host.nproc", "host.load1_start",
       "host.load1_end", "jvm.gc_ms"])
LAYER_UNITS = {"_ms": "ms", "_mb": "MB", "_s": "s", "_pct": "%",
               "ratio": "ratio", "_per_s": "1/s", "_ns_per_article": "ns",
               "concurrency": "ratio", "load1": "load"}
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def build():
    """Compiles with sbt (offline) unless the classpath file is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources under src/main/scala; nothing to build")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(BENCH, "target", "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True,
                       timeout=840)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t:.1f}s", file=sys.stderr)
    with open(cp_file) as cf:
        return cf.read()


def tables(scale):
    """The generated tables, made once per generator version and scale."""
    gen = os.path.join(BENCH, "gen_tables.py")
    with open(gen, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(WORK, f"tables-{scale}-{tag}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        subprocess.run([sys.executable, gen, tmp, scale], check=True)
        os.rename(tmp, out)
    return out


def unit_of(name):
    for suffix, unit in sorted(LAYER_UNITS.items(), key=lambda x: -len(x[0])):
        if name.endswith(suffix) or suffix in name:
            return unit
    return "count"


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return "unavailable"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--canary", choices=CANARIES, default="none")
    a = ap.parse_args()
    if a.workload not in WORKLOADS + ["digest_all"]:
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    t_start = time.time()
    load_start = loadavg()
    cp = build()
    queries = a.workload in ("query_suite", "digest_all")
    data = tables(QUERY_SCALE) if queries else "none"
    ann_data = tables(ANN_SCALE) if queries else "none"
    run = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    digests = os.path.join(BENCH, "digests.tsv")
    out = os.path.join(run, "result.json")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--ann-data", ann_data, "--work", run,
              "--digests", digests,
              "--out", out, "--canary", a.canary])
    log_path = os.path.join(run, "jvm.log")
    t_jvm = time.time()
    limit = 3600 if a.workload == "digest_all" else RUN_LIMIT_S - (t_jvm - t_start)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run, start_new_session=True)
        try:
            proc.wait(timeout=max(30, limit))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    process_wall = time.time() - t_jvm
    if a.workload == "digest_all":
        shutil.rmtree(run, ignore_errors=True)
        sys.exit(proc.returncode)
    if proc.returncode != 0 or not os.path.exists(out):
        keep = os.path.join(WORK, "last-failure.log")
        shutil.copyfile(log_path, keep)
        shutil.rmtree(run, ignore_errors=True)
        die(f"run did not finish (exit {proc.returncode}); log kept in {keep}")
    with open(out) as fh:
        r = json.load(fh)
    spans = os.path.join(run, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copyfile(spans, os.path.join(
            WORK, "traces", f"{a.workload}-{a.seed}.jsonl"))
    if not r["correct"]:
        shutil.copyfile(log_path, os.path.join(WORK, "last-failure.log"))
    shutil.rmtree(run, ignore_errors=True)

    info = r["info"]
    phases = [float(x) for x in info["phases_s"].split(",")]
    boot = float(info["jvm_boot_s"])
    # run phases (JVM boot, set-ups, window, teardown) against process wall
    gap = abs(process_wall - (boot + sum(phases))) / process_wall * 100
    metrics = r["e2e"]
    if a.trace:
        got = dict(r["layers"])
        got["trace.run_gap_pct"] = {"value": gap, "unit": "%"}
        got["host.nproc"] = {"value": float(info["nproc"]), "unit": "count"}
        got["host.load1_start"] = {
            "value": float(load_start.split()[0]), "unit": "load"}
        metrics = {k: got.get(k, {"value": 0.0, "unit": unit_of(k)})
                   for k in LAYER_METRICS}
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "canary": a.canary, "named": r["named"],
              "failures": r["failures"],
              "contention": {"loadavg_start": load_start,
                             "loadavg_end": loadavg(),
                             "nproc": info["nproc"],
                             "jvm_gc_ms": info["jvm_gc_ms"]},
              "wall": {"process_s": round(process_wall, 3),
                       "jvm_boot_s": boot, "setup_reps_s": info.get("setup_reps_s"),
                       "phases_s": info["phases_s"],
                       "run_gap_pct": round(gap, 2)},
              "info": {k: v for k, v in info.items()
                       if k not in ("phases_s", "jvm_boot_s")}}
    print(json.dumps(report))
    for f in r["failures"]:
        print(f"[perfbench] CHECK FAILED: {f}", file=sys.stderr)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
