#!/usr/bin/env python3
"""Janino compiles and process starts in the steady phase of a traced
perfbench news_stream run.

Usage:
  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/news.jfr,settings=profile,+jdk.ClassDefine#enabled=true" \\
    python3 perfbench/run.py --workload news_stream --seed 1 --seconds 20 --trace 1
  python3 tools/steady_codegen.py /tmp/news.jfr perfbench/.work/traces/news_stream-1.jsonl

The trace's last run of `streaming.console batch N` spans is the steady
query. Every Janino compile defines one `GeneratedClass`, so the script
counts those JFR ClassDefine events that fall after the steady query's
first micro-batch, and the share of the stream thread's and the task
threads' execution samples in that window with a Janino frame. A steady
stream should show 0 of both: its generated code compiles in the first
micro-batch and is then served from the codegen cache.

It also counts the JFR ProcessStart events in the same window, grouped
by command. Without libhadoop, Hadoop's stock local filesystem forks a
`chmod` per file it creates and its FileContext rename a `readlink`; a
steady stream on the engine's nio filesystem starts neither. Spark 4.1
forks an `rm -rf` when it cleans up a cloned session's ArtifactManager;
`persist()` clones the session (CacheManager.cacheQuery, while
autoBucketedScan is on), so a sink that caches each micro-batch shows
about one `rm` per batch. The news stream caches nothing: expect at
most one `rm` start in the steady window.
"""
import datetime
import json
import subprocess
import sys


def epoch_ms(t):
    d = datetime.datetime.fromisoformat(t.rstrip("Z")[:26])
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000


def events(jfr, kind, depth):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", str(depth),
                          "--events", kind, jfr],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out)["recording"]["events"]


def steady_window(trace):
    spans = sorted((s for s in map(json.loads, open(trace))
                    if s["name"].startswith("streaming.console batch")),
                   key=lambda s: s["start_ms"])
    runs, last = [], None
    for s in spans:
        n = int(s["name"].rsplit(" ", 1)[1])
        if last is None or n <= last:
            runs.append([])
        runs[-1].append(s)
        last = n
    steady = runs[-1]
    return len(steady), steady[0]["end_ms"], steady[-1]["end_ms"]


def main():
    jfr, trace = sys.argv[1], sys.argv[2]
    n, lo, hi = steady_window(trace)
    compiles = sum(
        1 for e in events(jfr, "jdk.ClassDefine", 1)
        if e["values"]["definedClass"]["name"].endswith("/GeneratedClass")
        and lo < epoch_ms(e["values"]["startTime"]) <= hi)
    print(f"steady micro-batches: {n}; Janino compiles after the first: {compiles}")
    total, janino = {}, {}
    for e in events(jfr, "jdk.ExecutionSample", 64):
        v = e["values"]
        if not lo < epoch_ms(v["startTime"]) <= hi:
            continue
        name = v["sampledThread"]["javaName"] or ""
        kind = ("stream" if name.startswith("stream execution")
                else "task" if name.startswith("Executor task") else None)
        if kind is None:
            continue
        total[kind] = total.get(kind, 0) + 1
        frames = (v["stackTrace"] or {}).get("frames", [])
        if any("janino" in (f["method"]["type"]["name"] or "") for f in frames):
            janino[kind] = janino.get(kind, 0) + 1
    for kind, t in sorted(total.items()):
        j = janino.get(kind, 0)
        print(f"{kind} thread samples: {t}, with a Janino frame: {j} ({100 * j / t:.1f}%)")
    forks = {}
    for e in events(jfr, "jdk.ProcessStart", 1):
        v = e["values"]
        if lo < epoch_ms(v["startTime"]) <= hi:
            cmd = (v["command"] or "").split(" ", 1)[0]
            forks[cmd] = forks.get(cmd, 0) + 1
    print(f"process starts after the first micro-batch: {sum(forks.values())}")
    for cmd, n in sorted(forks.items(), key=lambda kv: -kv[1]):
        print(f"  {cmd}: {n}")


if __name__ == "__main__":
    main()
