#!/usr/bin/env python3
"""Read the per-entry `layers` of `graft.Bench` JSON lines.

Usage:
    python3 scripts/layers.py RUN            # per-entry table
    python3 scripts/layers.py RUN_A RUN_B    # entries whose counts differ

RUN is a file holding Bench's output, or `-` for stdin. The last line
with a `"metric"` key is read; a log prefix before its `{` (sbt prints
`[info] `) is skipped.

One run prints a table per entry and round: wall seconds, jobs, stages,
tasks, executor task seconds, GC milliseconds, Janino compilations
(`cgen_n`) and the milliseconds they took (`cgen_ms`; a run from before
that key existed shows it blank). A run after the first round is named `<entry>__r<round>` in
the JSON; the table shows it under its entry with its round number.

Two runs list each entry whose jobs, stages, tasks or cgen_n differ, or
that only one run has, and exit 1 when there is any; they exit 0 when
every count is equal. Job, stage and task counts do not move with host
load, so two runs of the same code on the same data must agree. Times,
`cgen_ms` among them, are not compared.
"""
import json
import re
import sys

COUNTS = ("jobs", "stages", "tasks", "cgen_n")


def bench_line(path):
    f = sys.stdin if path == "-" else open(path, encoding="utf-8")
    with f:
        lines = [ln for ln in f if '"metric"' in ln and "{" in ln]
    if not lines:
        sys.exit(f"layers: no Bench JSON line in {path}")
    line = lines[-1]
    run = json.loads(line[line.index("{"):])
    if "layers" not in run:
        sys.exit(f"layers: the Bench line in {path} has no layers map")
    return run


def entry_round(name):
    m = re.fullmatch(r"(.*)__r(\d+)", name)
    return (m.group(1), int(m.group(2))) if m else (name, 1)


def table(run):
    layers, wall = run["layers"], run["queries"]
    width = max([len("query")] + [len(entry_round(n)[0]) for n in layers])
    print(f"{'query':<{width}}  r  wall_s  jobs stages tasks task_s  gc_ms cgen_n cgen_ms")
    for name in sorted(layers, key=entry_round):
        entry, r = entry_round(name)
        c = layers[name]
        print(f"{entry:<{width}} {r:2d} {wall.get(name, float('nan')):7.2f} "
              f"{c['jobs']:5d} {c['stages']:6d} {c['tasks']:5d} "
              f"{c['task_s']:6.2f} {c['gc_ms']:6d} {c['cgen_n']:6d} "
              + (f"{c['cgen_ms']:7.1f}" if "cgen_ms" in c else " " * 7))


def differences(a, b):
    la, lb = a["layers"], b["layers"]
    out = []
    for name in sorted(set(la) | set(lb), key=entry_round):
        if name not in la or name not in lb:
            out.append(f"{name}: only in run {'B' if name in lb else 'A'}")
            continue
        diff = [f"{k} {la[name][k]} -> {lb[name][k]}"
                for k in COUNTS if la[name][k] != lb[name][k]]
        if diff:
            out.append(f"{name}: " + ", ".join(diff))
    return out


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    runs = [bench_line(p) for p in argv[1:]]
    if len(runs) == 1:
        table(runs[0])
        return 0
    diff = differences(*runs)
    for line in diff:
        print(line)
    print(f"{len(diff)} of {len(set(runs[0]['layers']) | set(runs[1]['layers']))} "
          "entry runs differ in jobs, stages, tasks or cgen_n")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
