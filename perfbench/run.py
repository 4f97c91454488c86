#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload curate_ingest --seed 1 --seconds 9 --trace 0

It builds graft and the benchmark program from source (sbt, once per
source state; later runs reuse the build), runs one workload in a fresh
JVM, prints the workload's figures by name and unit, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. The exit
code is non-zero when the build or run fails or an output check fails.

Everything it writes stays under .bench_build/ in the checkout; a run's
full detail (every metric, checks, host noise, spans of a traced run)
lands in .bench_build/perfbench/results/.
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
import zipfile

WORKLOADS = ("curate_ingest", "serve_mixed")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
# class-data archive of the first run, reused by later runs of the same
# build: JVM and Spark start-up load their classes from it
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
# run budget per invocation; a run that also builds may take longer
RUN_TIMEOUT_S = 170
BUILD_RUN_TIMEOUT_S = 880
# a fixed-size heap with a fixed young generation: the young generation
# is touched in full early on, so peak RSS moves with what the run keeps
# (old generation, native memory), not with the collector's sizing
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the root build's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
STALL_MS = 1000
STEAL_SHARE = 0.05


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("src/main", "perfbench/src", "project"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out += [os.path.join(root, f) for f in ("build.sbt", "perfbench/build.sbt",
                                            "perfbench/project/build.properties")]
    return out


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Returns (classpath, built_now)."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    want = stamp(root)
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read().strip() == want, g.read().strip()
        if same and all(os.path.exists(p) for p in cp.split(":")):
            return cp, False
    log = os.path.join(BUILD_DIR, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(), stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or ":" not in cp or cp.startswith("["):
        die(f"build failed (sbt exit {rc}); see {log}", 3)
    cp = ":".join(jar_dirs(cp.split(":")))
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    # every measured run then loads JVM and Spark classes from the archive
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", "archive"))
    try:
        rc = subprocess.run(
            jvm_cmd(cp, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"], work) +
            ["--archive-classes", work], stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=300).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        die(f"class-archive run failed with exit {rc}", 3)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, True


def jar_dirs(entries):
    """Packs class directories into jars: a class-data archive accepts
    only jars on the class path."""
    out_dir = os.path.abspath(os.path.join(BUILD_DIR, "jars"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(out_dir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in sorted(os.walk(e)):
                    for f in sorted(files):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, e))
            out.append(jar)
        else:
            out.append(e)
    return out


def cpu_times():
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_cmd(cp, extra, work):
    """The benchmark JVM's command line up to the program arguments."""
    for d in ("local", "tmp", "wh"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java"] + JVM_MEMORY + extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'wh')}",
        "-Dspark.sql.streaming.numRecentProgressUpdates=1000",
        "-cp", cp, "perfbench.Main"]


def run_jvm(cp, args, cores, work, out, timeout):
    cmd = jvm_cmd(cp, [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"], work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--cores", str(cores),
    ]
    # the JVM's stdout carries Spark noise: keep it off ours, which
    # holds only the figures and the result line
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"run exceeded {timeout:.0f}s and was killed", 4)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"run from the root of a graft checkout: {need} is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    cp, built = build(root)
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", f"{tag}-{os.getpid()}"))
    results = os.path.abspath(os.path.join(BUILD_DIR, "results"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    budget = (BUILD_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S) - (time.time() - t_start)

    load0, (steal0, total0) = loadavg(), cpu_times()
    try:
        rc = run_jvm(cp, args, cores, work, out, budget)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load1, (steal1, total1) = loadavg(), cpu_times()
    if rc != 0 or not os.path.exists(out):
        die(f"benchmark JVM exited {rc} without a result", 1)
    with open(out) as f:
        res = json.load(f)

    steal_share = (steal1 - steal0) / max(1, total1 - total0)
    stall_ms = res["info"].get("max_stall_ms", 0)
    stalled = steal_share > STEAL_SHARE or stall_ms > STALL_MS or load0 > 2 * cores
    res["host"] = {"nproc": cores, "load_before": load0, "load_after": load1,
                   "steal_share": steal_share, "max_stall_ms": stall_ms,
                   "stalled": stalled, "wall_s": time.time() - t_start}
    with open(out, "w") as f:
        json.dump(res, f, indent=1)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={cores} load={load0:.2f}->{load1:.2f} steal={steal_share:.3%} "
          f"max_stall={stall_ms}ms")
    if stalled:
        print("# HOST STALL FLAGGED: steal, load or a stalled thread exceeded its limit; "
              "treat this run's timings as suspect")
        print(f"[perfbench] host stall flagged for {tag}", file=sys.stderr)
    section = res["per_layer"] if args.trace else res["named"]
    for name, m in section.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    metrics = {}
    for m in wanted:
        src = res["per_layer"] if args.trace else res["end_to_end"]
        if m["name"] not in src:
            die(f"metric {m['name']} missing from the run's result", 1)
        metrics[m["name"]] = {"value": src[m["name"]]["value"], "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
