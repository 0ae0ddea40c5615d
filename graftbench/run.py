#!/usr/bin/env python3
"""graftbench: the repo benchmark. Run from the root of a checkout:

    python3 graftbench/run.py --workload geo_tiles --seed 1 --seconds 14 --trace 0

Builds the engine and the benchmark from source (graftbench/build.py),
runs one workload in one JVM, prints every metric with its unit, a
detail line ({"graftbench": ...}: inputs, host shape, provenance,
failures, spans) and, last, the result line
{"correct", "attempted", "failed", "metrics"}.
See graftbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("geo_tiles", "join_knn", "curate_snapshot")
JVM_TIMEOUT_S = 170

# what spark-submit injects for Spark on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host_shape():
    """nproc, MemTotal, and the levels and heap derived from them."""
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count() or 1
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    n = max(1, nproc // 4)
    hi = min(4 * n, nproc)
    heap_mb = max(1024, min(3072, mem_kb // 1024 // 6))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "threads_n": n, "threads_4n": hi,
            "heap_mb": heap_mb}


def fs_type(path):
    """Filesystem type of the mount holding `path` (from /proc/mounts)."""
    best, kind = "", "unknown"
    path = os.path.realpath(path)
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def contract(trace):
    """(name, unit) of every metric BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def on_term(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    shape = host_shape()
    try:
        classpath, src_digest = build.build(os.path.join(ROOT, ".bench_build"))
    except build.BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}.jvm.log")
    jvm_flags = [f"-Xmx{shape['heap_mb']}m", "-Xss8m", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd = (["java"] + jvm_flags + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--lo", str(shape["threads_n"]),
            "--hi", str(shape["threads_4n"])])
    spawn_ms = int(time.time() * 1000)
    cmd += ["--spawn-ms", str(spawn_ms)]
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"graftbench: run exceeded {JVM_TIMEOUT_S} s; see {log_path}", file=sys.stderr)
            return 3
        finally:
            # also on SIGTERM/SIGINT: the JVM never outlives this process
            if proc.poll() is None:
                proc.kill()
                proc.wait()
                shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    res = None
    for line in lines:
        if line.startswith("GRAFTBENCH_RESULT "):
            res = json.loads(line[len("GRAFTBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or res is None:
        print(f"graftbench: JVM exited {proc.returncode} without a result; see {log_path}", file=sys.stderr)
        return 1

    # The JVM reports what it measured. Names and units come from
    # BENCHMARK.json. An end-to-end metric must always be measured. A
    # per-layer metric that this workload does not exercise is reported as
    # not measured, and the result line carries 0 for it.
    measured = res["metrics"]
    want = contract(args.trace == 1)
    missing = [n for n, _ in want if n not in measured]
    if missing and args.trace == 0:
        print(f"graftbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
        return 1
    names = {n for n, _ in want}
    metrics = {n: {"value": measured.get(n, 0.0), "unit": u} for n, u in want}
    res["metrics"] = {n: {"value": measured[n], "unit": u} for n, u in want if n in measured}
    res["not_measured"] = missing
    res["extra_metrics"] = {n: v for n, v in measured.items() if n not in names}

    res["host"] = dict(shape, local_dir_fs=fs_type(work), jvm_flags=jvm_flags)
    res["provenance"] = {"git_sha": git_sha(), "engine_source_sha256": src_digest}
    print(f"{args.workload} seed={args.seed} trace={args.trace} threads N={shape['threads_n']} "
          f"4N={shape['threads_4n']} items/job={res['items_per_job']} {res['item']}")
    for name, m in metrics.items():
        v = m["value"]  # null when every job of a level failed
        shown = "n/a" if v is None or name in missing else format(v, ".6g")
        print(f"  {name:<40} {shown:>16} {m['unit']}{'  (not measured on this workload)' if name in missing else ''}")
    for name, v in res["extra_metrics"].items():
        print(f"  {name:<40} {'n/a' if v is None else format(v, '.6g'):>16}   (not in BENCHMARK.json; see README)")
    print(f"  {'error_rate':<40} {res['error_rate']:>16.6g} ratio  "
          f"({res['failed']} failed of {res['attempted']} attempted)")
    for f in res["failures"]:
        print(f"  FAILED: {f}")
    print(json.dumps({"graftbench": res}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
