#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from
source on first use (sbt, offline), runs one workload in a fresh JVM,
checks every answer against an oracle that does not use the engine's
connector (DuckDB and plain Python over the generated inputs), and prints
as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics. Everything a run writes stays under .bench_build/ in the
checkout: the build, a work directory removed at the end, and the
run's full result (protocol, every op, metrics) and JVM log under
.bench_build/results/. The workloads and the metrics' names and units are
read from BENCHMARK.json at the root. See perfbench/README.md for the
workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import oracle  # noqa: E402

# Spark 4 on JDK 17 needs these outside spark-submit (the root build
# passes the same list to its forked runs).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

RUN_LIMIT_S = 175


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def detail_unit(name):
    """Unit of a `detail` metric, from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


CHILDREN = []


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for the whole group;
    on timeout or on a signal to this script the group is killed first.
    Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    CHILDREN.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        stop_children()


def stop_children(*_):
    while CHILDREN:
        proc = CHILDREN.pop()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if _:
        sys.exit(128 + _[0])


def source_digest(root):
    """Digest of every file the build reads: the engine, the harness and
    their build definitions."""
    h = hashlib.sha256()
    files = []
    for top in ["src/main", "perfbench/src"]:
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(root, p) for p in ["build.sbt", "project/build.properties",
                                             "perfbench/build.sbt",
                                             "perfbench/project/build.properties"]]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out_dir):
    """Compile the engine and the harness once per source state; returns
    the runtime classpath."""
    digest = source_digest(root)
    stamp = os.path.join(out_dir, "build.stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # keep sbt's own state (global base, sockets, temp files, locks) in the
    # checkout; dependencies still resolve from the offline caches
    state = os.path.join(out_dir, "sbt")
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    opts += (" -Dsbt.global.base={0}/global -Dsbt.ivy.home={0}/ivy2 -Dsbt.boot.lock=false"
             " -Dsbt.server.autostart=false -Djava.io.tmpdir={0}/tmp -Djna.tmpdir={0}/tmp"
             " -XX:-UsePerfData"
             ).format(state)
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as lf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/compile",
                        "export bench/Runtime/fullClasspath"], 840,
                       cwd=os.path.join(root, "perfbench"), env=env, stdout=lf,
                       stderr=subprocess.STDOUT)
    with open(log) as lf:
        lines = [l.strip() for l in lf]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail("build failed (see %s)" % os.path.relpath(log, root), 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1], digest


def heap():
    """The test suite's SPARK_DRIVER_MEM rule (half the RAM, 2..8 GiB), capped at
    4 GiB: the inputs are small and the machine may be shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = int([l for l in f if l.startswith("MemTotal:")][0].split()[1])
        g = kb // 2097152
    except (OSError, IndexError, ValueError):
        g = 2
    return "%dg" % max(2, min(4, g))


def git_commit(root):
    """HEAD of the checkout when it is itself a git work tree (not merely
    inside one), else None."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = p.stdout.split()
    if p.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(root):
        return None
    return out[1]


def main():
    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail("run from the repository root: cannot read BENCHMARK.json (%s)" % e)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a graft checkout: the engine sources are missing")

    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    classpath, digest = build(root, out_dir)

    started = time.time()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(out_dir, "run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx" + heap(), "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--out", result_path])
    results = os.path.join(out_dir, "results")
    os.makedirs(results, exist_ok=True)
    saved = os.path.join(results, "%s-seed%d-trace%d.json" % (args.workload, args.seed,
                                                               args.trace))
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            rc = run_group(cmd, max(30, RUN_LIMIT_S - (time.time() - started) - 10),
                           stdout=log, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            fail("the workload run %s:\n%s" % ("timed out" if rc is None else
                                              "exited with %s" % rc, tail), 4)
        with open(result_path) as f:
            res = json.load(f)
        check = oracle.check(args.workload, res)
    finally:
        # the result, its spans and the JVM log are kept; the inputs are not
        for src, dst in [(result_path, saved), (result_path[:-5] + "_spans.json",
                                                saved[:-5] + "_spans.json"),
                         (log_path, saved[:-5] + "_jvm.log")]:
            if os.path.exists(src):
                shutil.copy(src, dst)
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    attempted = len(ops)
    failed = len(check["failures"])
    protocol = res["protocol"]
    protocol.update({"commit": git_commit(root), "source_sha256": digest,
                     "python": sys.version.split()[0], "heap": heap()})
    # the protocol, the check outcome and the op list stay with the result
    with open(saved) as f:
        full = json.load(f)
    full.update({"protocol": protocol, "check": check})
    with open(saved, "w") as f:
        json.dump(full, f)

    for name, v in res["detail"].items():
        print("detail %s %s = %.6g %s" % (args.workload, name, v, detail_unit(name)))
    for fl in check["failures"][:20]:
        print("check failed: %s" % fl)
    print("checked %d answers of %d ops: %d failed; protocol: %d cores, heap %s, seed %d, "
          "commit %s; full result in %s" % (check["checked"], attempted, failed,
                                            protocol["cores"],
                                            heap(), args.seed, protocol["commit"],
                                            os.path.relpath(saved, root)))

    if args.trace == 0:
        values = res["end_to_end"]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        values = dict(res["per_layer"])
        values["ops_failed_ratio"] = failed / attempted
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    missing = [k for k in units if k not in values or values[k] is None]
    if missing:
        fail("metrics missing from the run: %s" % ", ".join(missing), 5)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
