#!/usr/bin/env python3
"""The engine's benchmark: the paper's document protocol and a registry mix.

    python3 perfbench/run.py --workload doc_lookup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
program (`build.py`), generates the inputs from the seed (`gen_data.py`),
runs one closed-loop client against `local[nproc]` in one JVM
(`src/Main.scala`), checks every output, and prints one JSON line as the
last line of stdout:

    {"correct": true, "attempted": n, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones below; with
`--trace 1` they are the per-layer ones, and the spans with their counters
are written to `<build>/trace/<workload>-seed<seed>.json`.

Workloads:
  doc_lookup    seeded get_document calls on the 720-hour parquet store
  doc_ingest    store_document of hour documents into the Delta-log store,
                each followed by a read-back of a committed document
  registry_mix  q_clustering_coeff, q_stream_dedup and q_time_travel through the noop
                sink, cold then warm

A call that throws or returns output that differs from its source counts
in `failed` and is never a latency sample.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# the engine under test: this checkout, or another one for an A/B run
ROOT = os.environ.get("PERFBENCH_ENGINE_ROOT") or os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# sf of the generated inputs, tables the workload reads, set-ups per run
WORKLOADS = {
    "doc_lookup": {"sf": 0.1, "tables": ["events"], "setups": 1},
    "doc_ingest": {"sf": 0.1, "tables": ["events"], "setups": 5},
    "registry_mix": {"sf": 0.01, "tables": None, "setups": 1},
}

# the metrics and their units: the ones BENCHMARK.json declares
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]

# a run (after the build) ends within 180 s: the JVM gets JVM_DEADLINE_S,
# the oracle compare CHECK_DEADLINE_S
JVM_DEADLINE_S = 150
CHECK_DEADLINE_S = 25


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(os.path.dirname(HERE), d)


def java_command(cp, work, main_args):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
    return (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens
            + ["-cp", cp, "perfbench.Main"] + main_args)


def oracle_check(data, check_dir):
    """Compare each registry member's result with its DuckDB oracle
    through the repository's checker; return {query: ok}. A member the
    checker does not report as matching is a failure."""
    with open(os.path.join(check_dir, "queries.json")) as f:
        status = {q: False for q in json.load(f)}
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, check_dir],
                       capture_output=True, text=True, timeout=CHECK_DEADLINE_S)
    for line in p.stdout.splitlines():
        parts = line.split()
        if parts and parts[0] in status:
            status[parts[0]] = line.rstrip().endswith(" MATCH") or line.rstrip().endswith(" OK")
    return status


def summarize(raw, trace, check):
    """Turn the JVM's raw samples into the result line."""
    bad_queries = {q for q, ok in check.items() if not ok}
    ops = raw["ops"]
    failed_ops = [o for o in ops if not o["ok"] or o["name"] in bad_queries]
    bad_steps = {o["step"] for o in failed_ops}
    samples = [s["ms"] for i, s in enumerate(raw["steps"])
               if s["phase"] == "run" and not s["traced"] and i not in bad_steps]
    if trace:
        # a layer without spans in this workload has no self time
        values = {k: raw["layers"].get(k, 0.0) if k.startswith("self.") else raw["layers"][k]
                  for k in PER_LAYER}
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": statistics.median(raw["setup_s"]),
            "op_p50_ms": statistics.median(samples) if samples else 0.0,
            # steps completed per second of timed steps: every step's time
            # counts, the one that writes a checkpoint too
            "ops_per_s": len(samples) / (sum(samples) / 1e3) if samples else 0.0,
            "stored_bytes_per_source_byte": raw["stored_bytes"] / max(raw["source_bytes"], 1),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": not failed_ops and bool(samples or trace),
              "attempted": len(ops), "failed": len(failed_ops), "metrics": metrics}
    return result, failed_ops, samples


def run(workload, seed, seconds, trace, inject_failure=False, sf=None, setups=None):
    """One benchmark run; returns (result, failed ops, latency samples, raw
    JVM output, trace file)."""
    import build
    import gen_data
    spec = WORKLOADS[workload]
    bdir = build_dir()
    cp = build.build(bdir)
    t0 = time.time()
    work = os.path.join(bdir, "run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_file = os.path.join(bdir, "trace", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    log_path = os.path.join(bdir, "logs", f"{workload}-trace{int(trace)}.log")
    try:
        data = os.path.join(work, "data")
        gen_data.main(data, seed, sf or spec["sf"], spec["tables"])
        out = os.path.join(work, "raw.json")
        check_dir = os.path.join(work, "check")
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--data", data, "--work", work,
                "--out", out, "--setups", str(setups or spec["setups"]),
                "--inject-failure", "1" if inject_failure else "0",
                "--check-dir", check_dir, "--trace-file", trace_file]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
        with open(log_path, "w") as log:
            p = subprocess.run(java_command(cp, work, args), stdout=log, stderr=log, env=env,
                               cwd=work, timeout=max(JVM_DEADLINE_S - (time.time() - t0), 10))
        if p.returncode != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"benchmark JVM exited with {p.returncode}; log: {log_path}")
        with open(out) as f:
            raw = json.load(f)
        check = oracle_check(data, check_dir) if workload == "registry_mix" else {}
        result, failed, samples = summarize(raw, trace, check)
        return result, failed, samples, raw, trace_file
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    result, failed, _, _, _ = run(a.workload, a.seed, a.seconds, bool(a.trace))
    for o in failed:
        sys.stderr.write(f"failed: {o['kind']} {o['name']}: {o['error']}\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
