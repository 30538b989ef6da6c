#!/usr/bin/env python3
"""Run one benchmark workload of the engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source when either changed
(sbt, offline), starts one fresh JVM on local[N] with N = cores, and lets
the JVM generate the inputs from the seed, set up, warm up and run one
timed pass of a fixed op list. Every op's output is checked. The last line
of standard output is one JSON object with the keys correct, attempted,
failed and metrics; the lines before it list every metric with its unit
and the run's context. `--trace 1` adds a traced pass and reports the
per-layer metrics instead of the end-to-end ones.

See perfbench/README.md for the workloads, their sizes and the metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) else None
WORKLOADS = ("query_mix", "curation_batch", "daily_ingest")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for dp, dns, fns in os.walk(d):
            dns[:] = sorted(x for x in dns if x not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(out, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out after {BUILD_TIMEOUT_S} s", 3)
        log.write(stdout)
    if proc.returncode != 0:
        sys.stderr.write(tail(log_path))
        fail(f"build failed (exit {proc.returncode}); log: {log_path}", 3)
    cps = [ln.strip() for ln in stdout.splitlines()
           if ln.strip().startswith("/") and ".jar" in ln]
    if not cps:
        fail(f"build printed no classpath; log: {log_path}", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def stop(proc):
    """Kill the process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_jvm(classpath, work, args, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp,
            "-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop(proc)
            sys.stderr.write(tail(log_path))
            fail(f"run exceeded {timeout} s", 4)
    result = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not result:
        sys.stderr.write(tail(log_path))
        fail(f"benchmark JVM exited {proc.returncode} without a result", 4)
    return json.loads(result[-1][len("PERFBENCH_RESULT "):])


def declared(kind):
    """Names of the metrics BENCHMARK.json declares for `kind`."""
    return [m["name"] for m in BENCH[kind]] if BENCH else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="daily_ingest: inject one duplicate row (self-check)")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout of the engine "
             "(build.sbt and src/main/scala not found)")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)
    t_start = time.time()

    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--pins", os.path.join(HERE, "pins.json")]
    if a.plant_fault:
        args += ["--plant-fault", "1"]
    try:
        res = run_jvm(classpath, work, args, RUN_TIMEOUT_S - (time.time() - t_start))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(out, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(out, "traces", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ctx = res["context"]
    print(f"# {a.workload} seed={a.seed} cores={ctx['cores']} heap={ctx['heap_max_mb']}MB "
          f"jvm={ctx['jvm']} spark={ctx['spark']} load1={ctx['load1_start']:.2f}->"
          f"{ctx['load1_end']:.2f} steal={ctx['cpu_steal_pct']:.1f}% tail={ctx['tail_percentile']} "
          f"(n={ctx['ops']}, {ctx['tail_ops_above']} ops above) "
          f"input_gen={ctx['input_gen_s']:.2f}s warmup={ctx['warmup_s']:.2f}s "
          f"digest={ctx['input_digest']} cpu_probe={ctx['cpu_probe_ms_before']:.1f}->"
          f"{ctx['cpu_probe_ms_after']:.1f}ms jit_in_pass={ctx['jit_ms_in_pass']}ms")
    print("# inputs: " + " ".join(f"{k}={v}" for k, v in res["inputs"].items()))
    print(f"# attempted={res['attempted']} failed={res['failed']} correct={res['correct']}")
    for msg in res["failures"]:
        print(f"# FAILURE {msg}")
    for section in ("end_to_end", "per_layer"):
        for k, m in res[section].items():
            print(f"{section} {k} {m['value']:.6g} {m['unit']}")
    for k, v in res["op_kinds"].items():
        print(f"op_kind {k} n={v['n']} p50={v['p50_ms']:.1f} ms cpu_p50={v['cpu_p50_ms']:.1f} ms")
    for k, v in res["sampled_client_ms"].items():
        print(f"sampled_client_thread {k} {v:.1f} ms")
    for k, v in res["span_self_ms"].items():
        print(f"span_self {k} {v:.1f} ms")

    kind = "per_layer" if a.trace else "end_to_end"
    names = declared(kind) or list(res[kind])
    metrics = {k: res[kind][k] for k in names}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
