#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run of every workload.

    python3 perfbench/selftest.py [workload ...]

Run from the repository root. For each workload it checks that

  * an untraced run passes its correctness check and prints every
    end_to_end metric of BENCHMARK.json, with its unit;
  * a traced run prints every per_layer metric of BENCHMARK.json, with its
    unit;
  * a run whose integrated output is deliberately damaged before the check
    (--corrupt 1) fails: it exits non-zero and reports "correct": false.

Exits 0 only if every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["keyed-small-delta", "keyed-bulk-join", "screened-bm25", "stream-upsert"]
TINY = ["--seed", "7", "--seconds", "2", "--scale", "0.05"]


def run(workload, trace, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--trace", trace, "--corrupt", corrupt] + TINY
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in sys.argv[1:] or WORKLOADS:
        rc, r, err = run(w, "0", "0")
        check(rc == 0 and r is not None and r["correct"] and r["failed"] == 0,
              f"{w}: untraced run passes its correctness check")
        if r is not None:
            missing = {k: u for k, u in e2e.items() if units(r).get(k) != u}
            check(not missing, f"{w}: prints every end_to_end metric with its unit"
                  + (f" (missing or wrong: {missing})" if missing else ""))
            check(all(v["value"] > 0 for v in r["metrics"].values()),
                  f"{w}: no end_to_end metric reads 0")
        rc, r, err = run(w, "1", "0")
        ok = rc == 0 and r is not None
        missing = {k: u for k, u in layer.items() if not ok or units(r).get(k) != u}
        check(ok and not missing, f"{w}: traced run prints every per_layer metric with its unit"
              + (f" (missing or wrong: {missing})" if missing else ""))
        rc, r, err = run(w, "0", "1")
        check(rc != 0 and r is not None and not r["correct"] and r["failed"] > 0
              and "correctness check FAILED" in err,
              f"{w}: a corrupted output fails the correctness check")
    print("selftest: " + ("all checks passed" if not failures else f"{len(failures)} failed"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
