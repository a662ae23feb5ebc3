#!/usr/bin/env python3
"""Smoke test: every workload once at tiny size, untraced and traced.

Run from the repository root:

    python3 perfbench/test/smoke.py [workload ...]

Asserts, for each run, that the result line carries exactly the metrics
BENCHMARK.json declares, each with its declared unit; that the full record
names every end-to-end metric with a unit and a sample count; that the
traced record carries layer figures with units; and that no check failed.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RECORD_METRICS = ("setup_s", "pages_per_s", "docs_per_s", "step_s_p50", "compact_step_s",
                  "pair_f1", "failed_frac", "shuffle_mb", "write_amp", "state_amp",
                  "retained_heap_mb")


def run(workload, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert r.returncode == 0, f"{workload} trace={trace}: exit {r.returncode}"
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            record, result = run(w, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] is True and result["failed"] == 0, (w, trace, record)
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (w, trace, got, want)
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            if trace == 0:
                for m in RECORD_METRICS:
                    entry = record["metrics"][m]
                    assert entry["unit"] and "n" in entry, (w, m, entry)
            else:
                assert record["layers"], (w, "no layer figures")
                assert all(v["unit"] for v in record["layers"].values())
            print(f"ok {w} trace={trace}", flush=True)


if __name__ == "__main__":
    main()
