"""Self-check of the benchmark.

Runs every workload of BENCHMARK.json at toy size, untraced and traced,
and asserts that each run exits 0, reports correct answers with no failed
operation, and prints every metric its mode names with the right unit.

    python3 perfbench/selfcheck.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "0.02"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = "%s trace=%d" % (w["name"], trace)
            try:
                r = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                bad.append("%s: no result (exit %d)\n%s" % (tag, p.returncode, p.stderr[-2000:]))
                continue
            errs = []
            if p.returncode != 0:
                errs.append("exit %d" % p.returncode)
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                errs.append("correct=%s failed=%s attempted=%s"
                            % (r["correct"], r["failed"], r["attempted"]))
            for m in wanted:
                got = r["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    errs.append("metric %s missing or wrong unit" % m["name"])
            print("%-24s %s" % (tag, "ok" if not errs else "; ".join(errs)))
            bad += ["%s: %s" % (tag, e) for e in errs]
    if bad:
        print("\n".join(bad), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
