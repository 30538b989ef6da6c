#!/usr/bin/env python3
"""Reduced-size self-check of the benchmark.

Usage, from the root of a checkout:

    python3 perfbench/selfcheck.py

Runs every workload once, traced, at a reduced size and the reference
seed, and asserts that
  * pins.json pins the generated inputs of every workload for that seed,
    so a generator that drifts fails the run;
  * each run is correct and prints every end-to-end and per-layer metric
    with its unit, and its last line has exactly the contract's keys;
  * the correctness checks fire on a planted wrong answer: one duplicate
    row injected into a daily_ingest table must fail the run.
Exits 0 when every assertion holds; prints what failed otherwise.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = "2"
SEED = "7"
WORKLOADS = ("query_mix", "curation_batch", "daily_ingest")
END_TO_END = ["setup_s", "pass_s", "op_p50_ms", "op_tail_ms", "pass_cpu_s",
              "op_cpu_p50_ms", "op_cpu_tail_ms", "op_fail_ratio", "peak_rss_mb",
              "store_mb"]


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", SEED, "--seconds", SECONDS, *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.splitlines(), p.stderr


def metric_lines(lines, section):
    """name -> unit for every `<section> <name> <value> <unit>` line."""
    out = {}
    for ln in lines:
        parts = ln.split()
        if len(parts) == 4 and parts[0] == section:
            float(parts[2])
            out[parts[1]] = parts[3]
    return out


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    per_layer = [m["name"] for m in bench["per_layer"]]
    pins = json.load(open(os.path.join(HERE, "pins.json")))
    problems = []
    for w in WORKLOADS:
        if not pins.get("inputs", {}).get(w, {}).get(f"{SEED}@{SECONDS}", {}).get("digest"):
            problems.append(f"{w}: pins.json pins no input digest for seed {SEED} at {SECONDS} s")

    for w in WORKLOADS:
        code, lines, err = run(w, "--trace", "1")
        if code != 0 or not lines:
            problems.append(f"{w}: exit {code}\n{err[-2000:]}")
            continue
        last = json.loads(lines[-1])
        if sorted(last) != ["attempted", "correct", "failed", "metrics"]:
            problems.append(f"{w}: last line has keys {sorted(last)}")
        if not last["correct"] or last["failed"] != 0:
            problems.append(f"{w}: not correct: " +
                            "; ".join(l for l in lines if "FAILURE" in l)[:2000])
        if sorted(last["metrics"]) != sorted(per_layer):
            problems.append(f"{w}: traced metrics differ from BENCHMARK.json per_layer")
        for section, names in (("end_to_end", END_TO_END), ("per_layer", per_layer)):
            printed = metric_lines(lines, section)
            for n in names:
                if not printed.get(n):
                    problems.append(f"{w}: {section} metric {n} not printed with a unit")
        print(f"selfcheck: {w} ok ({last['attempted']} ops)")

    code, lines, err = run("daily_ingest", "--trace", "0", "--plant-fault")
    if code != 0 or not lines:
        problems.append(f"planted fault: exit {code}\n{err[-2000:]}")
    else:
        last = json.loads(lines[-1])
        fired = [l for l in lines if "FAILURE" in l and "table holds" in l]
        if last["correct"] or last["failed"] == 0 or not fired:
            problems.append("planted duplicate row in daily_ingest was not detected")
        else:
            print(f"selfcheck: planted duplicate detected ({last['failed']} failed ops): {fired[0]}")

    for p in problems:
        print(f"selfcheck FAILED: {p}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
