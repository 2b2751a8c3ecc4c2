#!/usr/bin/env python3
"""Compare benchmark run sets: parent commit against a change.

    # run alternating pairs (parent first on even seeds, change first on odd)
    python3 lakebench/compare.py run --parent ../parent --change . \\
        --workload lake_ingest --seeds 1-10 --out /tmp/ab [--trace 0]
    # judge them: median, quartiles, pair-win fraction and a verdict
    python3 lakebench/compare.py judge /tmp/ab/parent /tmp/ab/change
    # tracing overhead: traced minus untraced end-to-end, same seeds
    python3 lakebench/compare.py overhead /tmp/untraced /tmp/traced

A run set is a directory of the records run.py leaves in .bench_out/. Pairs
are matched by (workload, seed). Verdicts follow the benchmark's own rule: a
change has improved a metric when it wins at least nine tenths of the pairs
(ties count for neither) and the medians differ by more than the parent's
quartile spread; it is worse when its median is worse than the parent's by
more than the metric's bound; a metric whose parent spread exceeds its bound
is unresolved unless every change run beats every parent run.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def load(d):
    """{(workload, seed, trace): record} for the records in directory d."""
    out = {}
    for f in sorted(Path(d).glob("*.json")):
        r = json.loads(f.read_text())
        if isinstance(r, dict) and "workload" in r:
            out[(r["workload"], r["seed"], int(r["trace"]))] = r
    return out


def values(rec):
    """Every figure of a record by name: the per-layer ones of a traced run;
    otherwise the end-to-end ones plus the workload's own named figures."""
    if rec["trace"]:
        return rec["layer"]
    out = {n["name"]: n["value"] for n in rec["named"]}
    out.update(rec["e2e"])
    return out


def higher_is_better(name):
    return name.endswith("_per_s") or name.endswith("_frac") and not name.startswith("failed")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(p, c, better, bound, pairs):
    sign = 1 if better == "higher" else -1
    p1, pm, p3 = quartiles(p)
    _, cm, _ = quartiles(c)
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    # ties count for neither side, but stay in the denominator
    win_frac = wins / len(pairs) if pairs else 0.0
    gain = sign * (cm - pm)
    if pairs and win_frac >= 0.9 and gain > (p3 - p1):
        return "improved", win_frac
    if bound is not None and pm and -gain > bound * abs(pm):
        return "worse", win_frac
    if bound is not None and pm and (p3 - p1) > bound * abs(pm):
        if min(sign * x for x in c) > max(sign * x for x in p):
            return "unchanged", win_frac
        return "unresolved", win_frac
    if bound is None and -gain > (p3 - p1) and win_frac <= 0.1:
        return "worse", win_frac
    return "unchanged", win_frac


def judge(args):
    parent, change = load(args.parent), load(args.change)
    metrics = {m["name"]: m for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    keys = sorted(set(k[0::2] for k in parent) & set(k[0::2] for k in change))
    if not keys:
        sys.exit("no workload has records on both sides")
    print(f"{'workload':<12} {'metric':<34} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'wins':>5} verdict")
    for workload, trace in keys:
        seeds = sorted(s for (w, s, t) in parent if w == workload and t == trace)
        cseeds = sorted(s for (w, s, t) in change if w == workload and t == trace)
        names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        # unbounded figures the record carries beside BENCHMARK.json's
        shown = {m["name"] for m in names}
        extra = sorted(set(values(parent[(workload, seeds[0], trace)])) - shown) if seeds else []
        names = names + [{"name": n, "better": "higher" if higher_is_better(n) else "lower"}
                         for n in extra]
        for m in names:
            n = m["name"]
            p = [values(parent[(workload, s, trace)]).get(n) for s in seeds]
            c = [values(change[(workload, s, trace)]).get(n) for s in cseeds]
            if None in p or None in c:
                continue
            pairs = [(values(parent[(workload, s, trace)])[n], values(change[(workload, s, trace)])[n])
                     for s in seeds if s in cseeds]
            v, wf = verdict(p, c, m["better"], metrics.get(n, {}).get("bound"), pairs)
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
            print(f"{workload:<12} {n:<34} {fmt(p):>30} {fmt(c):>30} {wf:>5.2f} {v}")


def overhead(args):
    plain, traced = load(args.untraced), load(args.traced)
    for w in sorted(set(k[0] for k in plain)):
        a = [values(r) for (wk, s, t), r in plain.items() if wk == w and t == 0]
        # a traced record's end-to-end figures, read as if untraced
        b = [values(dict(r, trace=0)) for (wk, s, t), r in traced.items() if wk == w and t == 1]
        for n in sorted(set(a[0]) & set(b[0])) if a and b else []:
            ma, mb = statistics.median(x[n] for x in a), statistics.median(x[n] for x in b)
            print(f"{w:<12} {n:<16} untraced {ma:.4g} (n={len(a)}) traced {mb:.4g} (n={len(b)}) "
                  f"overhead {mb - ma:+.4g}" + (f" ({(mb - ma) / ma:+.1%})" if ma else ""))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args):
    out = Path(args.out)
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = [("parent", args.parent), ("change", args.change)]
        for side, checkout in (order if i % 2 == 0 else order[::-1]):
            cmd = [sys.executable, "lakebench/run.py", "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(args.seconds or SPEC["run_seconds"]), "--trace", str(args.trace)]
            r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
            print(f"{side} seed {seed}: exit {r.returncode} {r.stdout.strip().splitlines()[-1:]}")
            tag = f"{args.workload}-s{seed}-t{args.trace}.json"
            (out / side).mkdir(parents=True, exist_ok=True)
            src = Path(checkout) / ".bench_out" / tag
            if r.returncode == 0 and src.exists():
                shutil.copy(src, out / side / tag)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    j = sub.add_parser("judge")
    j.add_argument("parent")
    j.add_argument("change")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    args = ap.parse_args()
    {"judge": judge, "overhead": overhead, "run": run}[args.cmd](args)


if __name__ == "__main__":
    main()
