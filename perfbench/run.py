#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (perfbench/build.py),
generates the workload's inputs from the seed, runs one JVM that sets
the workload up and drives it closed-loop for S seconds
(perfbench.BenchMain), checks the outputs, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything is written under `.bench_build/` of the
checkout; the traced run's spans and layer report are kept in
`.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import tables  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("etl_migrate", "query_battery", "stream_dedup")

END_TO_END = {
    "setup_s": "s", "items_per_s": "items/s", "op_p50_ms": "ms",
}
# defining objects with a query in the query_battery round
OPERATOR_OBJECTS = [
    "RelationalQueries", "TextQueries", "DedupQueries", "SimilarityQueries",
    "EventQueries", "PipelineQueries", "MultimodalQueries", "AnalyticsQueries",
    "ConnectorQueries", "CurationQueries", "PageRank", "CorpusStats", "AuditQueries"]
PER_LAYER = {
    "sinks.mutations": "count", "sinks.retries": "count", "sinks.send_ms": "ms",
    "sinks.request_kb": "KiB", "sinks.paced_s": "s",
    "sources.get_requests": "count", "sources.get_ms": "ms",
    "board.run_ms": "ms", "board.spark_ms": "ms", "board.derive_ms": "ms",
    "state.load_ms": "ms", "state.save_ms": "ms", "state.ledger_kb": "KiB",
    "state.files": "count", "state.index_kb": "KiB",
    "streaming.fold_ms": "ms", "streaming.sink_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.plan_ms": "ms",
    **{f"operators.{o}_ms": "ms" for o in OPERATOR_OBJECTS},
    "operators.release_ms": "ms", "operators.pinned_rdds": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_ms": "ms", "spark.exec_run_ms": "ms", "spark.exec_cpu_ms": "ms",
    "spark.shuffle_kb": "KiB", "spark.spill_kb": "KiB", "spark.driver_gap_ms": "ms",
    "trace.op_p50_ms": "ms", "jvm.live_heap_mb": "MB",
}
JVM_TIMEOUT_S = 170
# stream_dedup inputs, sized on the sf0.1 `documents` test table:
# 5,000 documents (1,000 seed corpus + 4,000 arrivals, i.e. 2 and 8
# micro-batches of StreamDedup's 500), 250 of them near copies and 8
# exact copies.
STREAM = dict(corpus_docs=1000, arrivals=4000, exact_share=8 / 5000, near_share=250 / 5000)


def java_cmd(cp, work):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dsun.net.httpserver.nodelay=true",
            f"-Djava.io.tmpdir={work}/tmp", *opens, "-cp", cp]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(build.BUILD, exist_ok=True)
    with open(os.path.join(build.BUILD, "build.log"), "a") as log:
        cp = build.build(log)

    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t = time.monotonic()
    if a.workload == "query_battery":
        tables.write_tables(os.path.join(work, "sf"), 0.01, a.seed)
    elif a.workload == "stream_dedup":
        tables.write_stream(os.path.join(work, "stream"), a.seed, **STREAM)
    gen_s = time.monotonic() - t

    out = os.path.join(work, "result.json")
    cmd = java_cmd(cp, work) + [
        "perfbench.BenchMain", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--out", out, "--gen-seconds", repr(gen_s)]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(jvm_log).read()[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    res = json.load(open(out))

    errors = list(res["errors"])
    if a.workload == "query_battery":
        # DuckDB runs every result's `oracleSql` twin; FAIL lines name mismatches
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                            os.path.join(work, "sf"), os.path.join(work, "battery")],
                           capture_output=True, text=True, timeout=120)
        errors += [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
        if p.returncode != 0 and not errors:
            errors.append(f"verify_local.py exit {p.returncode}: {p.stderr[-500:]}")

    if a.trace:
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(traces, f"{a.workload}.spans.json"))
        with open(os.path.join(traces, f"{a.workload}.layers.json"), "w") as f:
            json.dump(res["per_layer"], f, indent=1, sort_keys=True)
        metrics = {k: {"value": res["per_layer"].get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    sys.stderr.write(f"set-up repetitions and warm-up (s): {res['setup_reps_s']}\n"
                     f"operation latencies (ms): {[round(x) for x in res['op_ms']]}\n")
    for e in errors:
        sys.stderr.write(f"check failed: {e}\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
