#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

Run from the root of a checkout:

    python3 perfbench/selftest.py

Runs every workload (the two in BENCHMARK.json plus corpus_dedup) with
--size tiny, untraced and traced, and asserts that each run
  - exits 0 and ends its stdout with the result JSON,
  - reports every metric BENCHMARK.json names for that mode, each with the
    declared unit, and no other (corpus_dedup adds its own step metrics),
  - prints every end-to-end metric line and fail_frac, and fail_frac is 0.
"""
import json
import os
import subprocess
import sys

WORKLOADS = ["gwas_chain", "catalog_small", "corpus_dedup"]


def run(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", trace, "--size", "tiny"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}:\n" \
        + proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    declared = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in ("0", "1"):
            lines = run(w, trace)
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            # corpus_dedup, outside BENCHMARK.json, adds its own step metrics
            exact = w != "corpus_dedup"
            if (got != declared[trace]) if exact else not declared[trace].items() <= got.items():
                problems.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(declared[trace]))}"
                                f" or units differ")
            printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
            for name, unit in declared[trace].items():
                if printed.get(name) != unit:
                    problems.append(f"{w} trace={trace}: no 'metric {name} ... {unit}' line")
            frac = [ln for ln in lines if ln.startswith("metric fail_frac ")]
            if not frac or float(frac[0].split()[2]) != 0.0 or res["failed"] != 0 \
                    or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: failed {res['failed']} of {res['attempted']}")
            print(f"{w} trace={trace}: {len(got)} metrics, "
                  f"{res['failed']}/{res['attempted']} failed", flush=True)
    if problems:
        print("\n".join(problems))
        raise SystemExit(1)
    print("selftest ok")


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
