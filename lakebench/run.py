#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, report.

Usage (from the repository root):
    python3 lakebench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

The engine (src/main/scala) and the harness (lakebench/src) are compiled with
the Scala compiler that ships with Spark into .bench_build/, once per source
hash. One JVM then runs the workload on local[N] with one client thread. The
last line of stdout is one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json names (end-to-end ones with --trace 0, per-layer ones
with --trace 1). The full record, with provenance, goes to .bench_out/.
Exits non-zero when an output is wrong or the run cannot be made.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build" / "lakebench"
OUT = ROOT / ".bench_out"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return Path(home) / "jars"


def meminfo_kb():
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0])
    return out


def size_host():
    """local[N] and heap from the host. The heap is a quarter of RAM,
    clamped to 2..4 GiB (the test lane's rule, halved: the host is shared);
    N leaves one CPU to the client thread, JIT and GC, and is capped at two
    cores per GiB of heap. Refuses (skipped_host) rather than risk an OOM
    kill."""
    cpus = len(os.sched_getaffinity(0))
    mem = meminfo_kb()
    heap_gb = max(2, min(4, mem["MemTotal"] // (4 * 1024 * 1024)))
    cores = max(1, min(cpus - 1, heap_gb * 2))
    need_kb = (heap_gb + 1) * 1024 * 1024
    if mem.get("MemAvailable", mem["MemTotal"]) < need_kb:
        fail(f"skipped_host: {mem.get('MemAvailable', 0) // 1024} MiB available, "
             f"{need_kb // 1024} MiB needed", 3)
    return cpus, cores, heap_gb


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"engine sources not found under {engine.relative_to(ROOT)}")
    eng = sorted(engine.rglob("*.scala"))
    harness = sorted((BENCH_DIR / "src").glob("*.scala"))
    if not eng or not harness:
        fail("no Scala sources to build")
    return eng, harness


def source_hash(files, prefix=""):
    h = hashlib.sha256(prefix.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(jars):
    """Compile the engine, then the harness against it. Each output is
    rebuilt only when its sources (for the harness: both) have changed."""
    eng, harness = sources()
    cp = f"{jars}/*"
    classes, bench = BUILD / "classes", BUILD / "bench-classes"
    digest = ""
    for out, files, extra in ((classes, eng, ""), (bench, harness, f"{classes}:")):
        digest = source_hash(files, digest)
        stamp = out.parent / f"{out.name}.stamp"
        if stamp.exists() and stamp.read_text() == digest:
            continue
        shutil.rmtree(out, ignore_errors=True)
        stamp.unlink(missing_ok=True)
        out.mkdir(parents=True)
        t0 = time.time()
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", str(out), "-classpath", extra + cp]
                           + [str(f) for f in files], capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout + r.stderr)
            fail(f"compile of {out.name} failed")
        print(f"lakebench: compiled {len(files)} files into {out.relative_to(ROOT)} "
              f"in {time.time() - t0:.1f} s", file=sys.stderr)
        stamp.write_text(digest)
    return digest


def git_commit():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, jars, cores, heap_gb, work, record, spans):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{heap_gb}g", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{BUILD / 'bench-classes'}:{BUILD / 'classes'}:{jars}/*",
            "lakebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
            "--work", str(work), "--record", str(record), "--spans", str(spans),
            "--smoke", "1" if args.smoke else "0",
            "--corrupt-expected", "1" if args.corrupt_expected else "0"]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = OUT / f"{args.workload}-s{args.seed}-t{args.trace}.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=str(work))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {JVM_TIMEOUT_S} s (log: {log.relative_to(ROOT)})")
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not record.exists():
        with open(log) as lf:
            tail = lf.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"JVM exited with {code} (log: {log.relative_to(ROOT)})")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="minimal input sizes")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected value: the run must fail")
    args = ap.parse_args()

    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.exists():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(bench_file.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    jars = spark_jars()
    cpus, cores, heap_gb = size_host()
    digest = build(jars)
    OUT.mkdir(exist_ok=True)
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    record, spans = OUT / f"{tag}.json", OUT / f"{tag}.spans.jsonl"
    record.unlink(missing_ok=True)
    try:
        run_jvm(args, jars, cores, heap_gb, work, record, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec = json.loads(record.read_text())
    rec["provenance"] = {
        "cpus": cpus, "local_cores": cores, "heap_gb": heap_gb,
        "mem_total_mb": meminfo_kb()["MemTotal"] // 1024, "jvm": rec.get("jvm"),
        "spark": rec.get("spark"), "git_commit": git_commit(), "source_sha256": digest,
        "seed": args.seed, "seconds": args.seconds, "sizes": rec.get("sizes")}
    record.write_text(json.dumps(rec, indent=1, sort_keys=True))

    values = rec["layer"] if args.trace else rec["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not produced: {', '.join(missing)}")
    p = rec["provenance"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={p['cpus']} "
          f"local[{p['local_cores']}] heap={p['heap_gb']}g jvm={p['jvm']} "
          f"commit={p['git_commit'] or 'none'} source={digest[:12]}")
    print(f"# sizes: {json.dumps(rec.get('sizes'), sort_keys=True)}")
    for n in rec["named"]:
        print(f"{n['name']:<24} {n['value']:>14.6g} {n['unit']:<8} (n={n['samples']})")
    for name, v in sorted(rec["e2e"].items()):
        print(f"{name:<24} {v:>14.6g}")
    for c in rec["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    if args.trace:
        for m in wanted:
            print(f"{m['name']:<36} {values[m['name']]:>16.6g} {m['unit']}")
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
