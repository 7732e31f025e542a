#!/usr/bin/env python3
"""Self-check of the benchmark itself, at sf0.001 with a few ops per workload.

    python3 perfbench/selfcheck.py [workload ...]

For each workload it makes one traced run with one deliberately failing
op (a wrong expected document, a read of a table not yet committed, an
unregistered query) and checks that:
  - the failing op, and only it, is counted in `failed`, under its name;
  - its time is no latency sample;
  - the trace's layer self times plus `bench.other` sum to the traced wall
    time, and none is negative.
Exits non-zero on the first violation.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402

INJECTED = {"doc_lookup": "wrong-expected-document", "doc_ingest": "not-yet-committed",
            "registry_mix": "q_not_registered"}


def check(cond, msg):
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {msg}")


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        result, failed, samples, raw, trace_file = run.run(
            w, seed=7, seconds=1, trace=True, inject_failure=True, sf=0.001, setups=1)
        names = [o["name"] for o in failed]
        check(names == [INJECTED[w]], f"{w}: failed ops {names}, expected [{INJECTED[w]}]")
        check(result["failed"] == 1 and not result["correct"],
              f"{w}: result line {result['failed']} failed, correct={result['correct']}")
        fail_ms = [s["ms"] for s in raw["steps"] if s["phase"] == "fail"]
        check(len(fail_ms) == 1 and fail_ms[0] not in samples,
              f"{w}: the failing op's time is a latency sample")
        check(all(s["phase"] == "run" for s in raw["steps"] if s["ms"] in samples),
              f"{w}: a latency sample comes from outside the timed steps")
        with open(trace_file) as f:
            tr = json.load(f)
        self_s = tr["self_s"]
        total = sum(self_s.values())
        check(all(v >= -1e-9 for v in self_s.values()), f"{w}: negative self time {self_s}")
        check(abs(total - tr["wall_s"]) <= 1e-6 * max(tr["wall_s"], 1.0),
              f"{w}: self times sum to {total}, wall {tr['wall_s']}")
        check(len(tr["spans"]) > 0 and self_s.get("bench.other", 0) < tr["wall_s"],
              f"{w}: no layer spans recorded")
        print(f"{w}: ok — {result['attempted']} ops, failed {names}, "
              f"{len(samples)} latency samples, self times sum to {total:.3f} s "
              f"of {tr['wall_s']:.3f} s traced wall, "
              f"tracing overhead {tr['overhead_frac']}")
    print("selfcheck OK")


if __name__ == "__main__":
    main()
