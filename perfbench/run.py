"""Replica benchmark: builds the library from source, runs one workload on
one JVM and prints its metrics. Run from the repository root:

    python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (BENCHMARK.json lists
both). The exit code is non-zero when any op failed or any output check
did not match the reference.

Steadiness mode runs one workload once per seed and prints, per metric,
the median, the quartiles and the quartile spread as a share of the
median; with --trace 1 it also runs the traced twin of each run and
reports the tracing overhead on the end-to-end metrics:

    python3 perfbench/run.py --steady 5 --workload tail --seconds 10
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("tail", "serve")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_cores():
    """Spark task threads: half the CPUs this process may use, so the
    driver thread, the JIT and GC threads and the `tail` generator have
    CPUs of their own and a run does not measure the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def run_once(classpath, workload, seed, seconds, trace):
    """One JVM run; returns (exit code, stdout lines)."""
    out = build.build_dir()
    work = out / "work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    traces = out / "traces"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(str(p) for p in classpath),
              "graft.perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", str(work),
              "--traces", str(traces), "--cores", str(spark_cores())])
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        stdout, _ = proc.communicate()
        print(f"perfbench: {workload} run exceeded {TIMEOUT_S} s", file=sys.stderr)
        proc.returncode = 124
    finally:
        log.close()
    if proc.returncode != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, stdout.splitlines()


def result_of(lines):
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def steady(classpath, args):
    spec = json.loads((pathlib.Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values, traced, failures = {}, {}, 0
    for seed in range(args.seed, args.seed + args.steady):
        t0 = time.time()
        code, lines = run_once(classpath, args.workload, seed, args.seconds, 0)
        res = result_of(lines)
        if code != 0 or not res or not res["correct"]:
            failures += 1
            print(f"seed {seed}: FAILED (exit {code})\n" + "\n".join(lines[-12:]))
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {time.time() - t0:.1f} s wall, "
              f"{res['attempted']} ops, " + ", ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        if args.trace:
            code, lines = run_once(classpath, args.workload, seed, args.seconds, 1)
            e2e = result_of(lines[-2:-1]) or {}
            for k, v in e2e.get("end_to_end", {}).items():
                traced.setdefault(k, []).append(v["value"])
    print(f"\n{args.workload}: {args.steady} seeds, {failures} failed")
    print(f"{'metric':22s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s} {'overhead':>9s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        over = ""
        if traced.get(k):
            over = f"{statistics.median(traced[k]) / med - 1:+.1%}" if med else ""
        print(f"{k:22s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.1%} "
              f"{bounds.get(k, 0):6.2f} {over:>9s}")
    return 1 if failures else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="run this many seeds and print quartile spreads")
    args = ap.parse_args()
    classpath = build.build()
    if args.steady:
        return steady(classpath, args)
    code, lines = run_once(classpath, args.workload, args.seed, args.seconds,
                           args.trace)
    print("\n".join(lines), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
