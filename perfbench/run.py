#!/usr/bin/env python3
"""h3ospark benchmark.

    python3 perfbench/run.py --workload <geojoin|knn_service|curation> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library and the benchmark
from source with sbt (only when a source changed), runs one workload in a
fresh JVM on local[4], and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Raw records (ops,
spans, tasks, plans) are kept under .bench_build/results/. See
perfbench/README.md.
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

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402
from stats import self_times  # noqa: E402

WORKLOADS = ("geojoin", "knn_service", "curation")
# A run must end within 180 s; the first, which builds, within 900 s.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = ["-Xmx3g"]
# Spark on JDK 17 needs these outside spark-submit (the same list as the
# library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    files = [root / "build.sbt", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    files += sorted((root / "project").glob("*.sbt"))
    files += sorted((root / "project").glob("*.properties"))
    for d in (root / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build(root, out):
    """Compiles library + benchmark; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file = out / "classpath.txt"
    stamp_file = out / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log = out / "build.log"
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
           "writeClasspath"]
    t0 = time.time()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, BUILD_LIMIT_S)
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code}); log in {log}", 3)
    cp = (BENCH / "target" / "classpath.txt").read_text().strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def jvm_command(run_dir, cp):
    """The benchmark JVM's command line. It uses no application class-data
    sharing archive: one would hold whichever classes the run that dumped
    it loaded, and make set-up time depend on run order."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: the JVM would otherwise write outside the checkout.
    cmd = [java, *HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp, "perfbench.Main"]


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc is absent."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def wait(proc, limit):
    """Waits for `proc`; kills its whole process group past `limit` s, or
    when this runner is itself stopped."""
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # Turn SIGTERM into an exit, so `wait` still stops the child it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala/graft", "src/test/resources/h3/shapes"):
        if not (root / need).exists():
            fail(f"{root / need} not found: run from the root of an h3ospark checkout")

    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    cp = build(root, out)

    run_dir = out / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    raw_path = run_dir / "raw.json"
    cmd = jvm_command(run_dir, cp) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--root", str(root), "--out", str(raw_path)]
    log = run_dir / "jvm.log"
    results = out / "results"
    results.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        # stdout carries one digest line per op, kept for comparing two
        # commits on one seed; stderr carries Spark's log.
        with open(results / f"{name}.digests", "w") as dfh, open(log, "w") as fh:
            cpu0 = cpu_times()
            proc = subprocess.Popen(cmd, cwd=root, stdout=dfh, stderr=fh,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            code = wait(proc, RUN_LIMIT_S)
            cpu1 = cpu_times()
        if code != 0 or not raw_path.is_file():
            sys.stderr.write(log.read_text()[-6000:])
            fail(f"benchmark JVM failed (exit {code})", 4)
        raw = json.loads(raw_path.read_text())
        # CPU time the hypervisor gave to other guests while this ran: a
        # slow run with a high share was slowed by the host, not the code.
        raw["cpu_steal_share"] = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]) \
            if cpu0 and cpu1 else None
        (results / f"{name}.json").write_text(json.dumps(raw))
        sys.stdout.write((results / f"{name}.digests").read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, correct = metrics.outcome(raw)
    for v in raw["verify"]:
        print(f"verification failed: {v}", file=sys.stderr)
    if args.trace == "0":
        values, facts = metrics.end_to_end(raw)
        units = metrics.END_TO_END
        print(f"# {args.workload}: {facts['timed_ops']} timed ops, op_tail_s is "
              f"p{facts['op_tail_percentile']} with {facts['op_tail_samples_beyond']} "
              f"samples beyond; failed_op_ratio {failed}/{attempted}")
    else:
        values = metrics.per_layer(raw)
        units = metrics.PER_LAYER
        # Keep each span's self time beside it in the saved trace.
        selfs = self_times(raw["spans"])
        for span in raw["spans"]:
            span["self_ns"] = selfs[span["id"]]
        (results / f"{name}.json").write_text(json.dumps(raw))
    steal = raw["cpu_steal_share"]
    print(f"# box: {raw['host_cpus']} cpus, local[{raw['cpus']}], load average "
          f"{raw['load_avg_start']:.2f} at start, cpu steal "
          f"{'n/a' if steal is None else f'{steal:.0%}'}, Spark storage memory "
          f"{raw['storage_memory_bytes'] / 2**20:.0f} MiB, peak RSS "
          f"{raw['peak_rss_mb']:.0f} MB; {json.dumps(raw['info'])[:400]}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
