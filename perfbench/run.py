"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark program from source (perfbench/build.py),
then runs the program in one JVM on local[nproc]. It generates the
workload's inputs from --seed, measures for --seconds, checks every
answer, and reports the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1) named in BENCHMARK.json. The last line of stdout is
the JSON result; the exit code is non-zero when an answer is wrong, an
operation failed or a metric is missing. A traced run also writes its
spans and listener counts to <build dir>/perfbench/trace-<workload>-<seed>.json.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# What spark-submit adds on JDK 17 (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 165


def heap_gb():
    """Half of RAM, clamped to 2-8 GB (as the tier-1 test command sizes it)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2
    return min(8, max(2, kb // 2097152))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the self-check runs toy sizes)")
    a = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit("perfbench: unknown workload %s" % a.workload)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath = build.build()
    cpus = len(os.sched_getaffinity(0))
    out = build.build_dir()
    work = os.path.join(out, "work-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(out, "trace-%s-%d.json" % (a.workload, a.seed))
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd += ["-XX:-UsePerfData", "-Xmx%dg" % heap_gb(), "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", str(a.scale), "--cpus", str(cpus),
            "--work", work, "--trace-out", trace_out]
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                sys.stdout.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        raise SystemExit("perfbench: the benchmark JVM printed no result (exit %s)" % proc.returncode)

    got = result["metrics"]
    missing = [m["name"] for m in wanted
               if not isinstance(got.get(m["name"], {}).get("value"), (int, float))
               or not math.isfinite(got[m["name"]]["value"])]
    for m in missing:
        print("perfbench: metric %s missing" % m, file=sys.stderr)
    print(json.dumps({
        "correct": bool(result["correct"]) and not missing,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: got[m["name"]] for m in wanted if m["name"] in got},
    }))
    sys.exit(0 if proc.returncode == 0 and result["correct"] and not missing else 1)


if __name__ == "__main__":
    main()
