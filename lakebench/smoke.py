#!/usr/bin/env python3
"""Smoke test of the benchmark at minimal input sizes.

    python3 lakebench/smoke.py

For every workload: an untraced and a traced run must pass and print every
metric BENCHMARK.json names, with its unit; a run with one expected value
corrupted must fail. A copy holding only BENCHMARK.json and lakebench/ (no
engine sources) must exit non-zero without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd, workload, trace, *extra):
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return r.returncode, result, r.stdout + r.stderr


def main():
    problems = []

    def expect(ok, what, output=""):
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            problems.append(what)
            sys.stdout.write(output[-3000:])

    for w in SPEC["workloads"]:
        name = w["name"]
        for trace, wanted in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            code, res, out = run(ROOT, name, trace)
            expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{name} trace={trace}: passes", out)
            got = (res or {}).get("metrics", {})
            bad = [m["name"] for m in wanted
                   if got.get(m["name"], {}).get("unit") != m["unit"]
                   or not isinstance(got.get(m["name"], {}).get("value"), (int, float))]
            expect(not bad, f"{name} trace={trace}: every metric with its unit {bad or ''}", out)
        code, res, out = run(ROOT, name, 0, "--corrupt-expected")
        expect(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{name}: a corrupted expected value fails the run", out)

    bare = ROOT / ".bench_work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "lakebench", bare / "lakebench")
    code, res, out = run(bare, SPEC["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "benchmark files alone: non-zero exit, no result", out)

    print("smoke:", "FAILED " + "; ".join(problems) if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
