#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, one JSON result line.

    python3 perfbench/run.py --workload aqp_mixed --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload ann_index --seed 1 --repeat 5

Builds graft's main sources and the benchmark's own Scala sources
(perfbench/src) with the Scala compiler shipped in the Spark distribution,
runs the workload in one JVM (local[N], N = cores), reduces the JVM's raw
record (metrics.py) and prints, as the last line of standard output:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones. The line before it is a detail record:
the workload's own metric names, every check, and the run's co-load
(load average and the CPU other processes used while it ran).
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import reduce as R  # noqa: E402

WORKLOADS = ("aqp_mixed", "curate_stream", "ann_index")
DEADLINE_S = 170  # every run must end well within 180 s
JVM_HEAP = "3g"
# C1 only. A run lives under a minute, and C2's profile-driven code for a
# query differed from one JVM to the next: the CPU time of one query shape
# at one seed varied up to 4x between runs, and C2's compiler threads
# competed with the tasks for the cores. C1 code is the same in every run.
JIT = "-XX:TieredStopAtLevel=1"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    graft's own build.sbt names as its `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    jar_dir = os.path.join(home, "jars") if home else ""
    sbt = os.path.join(ROOT, "build.sbt")
    if not home and os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail("no Spark distribution with scala-compiler in its jars "
             "(set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("graft's sources (src/main/scala) are not next to perfbench/")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out.extend(os.path.join(d, f) for f in fs if f.endswith(".scala"))
    return sorted(out)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def build(jars):
    """Compile once per source content; returns the classes directory."""
    srcs = sources()
    key = hashlib.sha256()
    for f in srcs:
        key.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    key.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(build_dir(), "classes-" + key.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    os.remove(argfile)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def cpu_jiffies():
    """(busy, steal, total) jiffies of all CPUs since boot. Steal is time
    the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    idle, steal = v[3] + v[4], v[7]
    return sum(v) - idle - steal, steal, sum(v)


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def run_jvm(classes, jars, args):
    """Run one workload; returns (raw record, co-load dict)."""
    work = os.path.join(build_dir(), "work", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources")] + jars)
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xmx" + JVM_HEAP, JIT, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", raw_path])
    tick = os.sysconf("SC_CLK_TCK")
    jif0, t0, load0 = cpu_jiffies(), time.time(), load1()
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        status, usage = None, None
        while status is None:
            pid, st, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                status, usage = st, ru
            elif time.time() - t0 > DEADLINE_S:
                os.killpg(p.pid, signal.SIGKILL)
                _, status, usage = os.wait4(p.pid, 0)
                status = -1
            else:
                time.sleep(0.05)
    wall = time.time() - t0
    jif1 = cpu_jiffies()
    own = usage.ru_utime + usage.ru_stime
    other = max(0.0, (jif1[0] - jif0[0]) / tick - own)
    cores = os.cpu_count() or 1
    coload = {"load1_start": load0, "load1_end": load1(), "wall_s": wall,
              "own_cpu_s": own, "other_cpu_s": other,
              "other_cpu_share": other / (wall * cores),
              "steal_share": (jif1[1] - jif0[1]) / max(1, jif1[2] - jif0[2])}
    if status != 0 or not os.path.exists(raw_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail("workload %s failed (status %s)" % (args.workload, status), 1)
    with open(raw_path) as fh:
        raw = json.load(fh)
    if args.trace:
        # the traced run's spans and counters outlive the work directory
        traces = os.path.join(build_dir(), "traces")
        os.makedirs(traces, exist_ok=True)
        raw["spans_file"] = os.path.join(traces, "%s-seed%d.json" % (
            args.workload, args.seed))
        shutil.copyfile(raw_path, raw["spans_file"])
    shutil.rmtree(work, ignore_errors=True)
    return raw, coload


def once(classes, jars, args):
    raw, coload = run_jvm(classes, jars, args)
    result, detail = R.reduce(raw, trace=bool(args.trace))
    detail["coload"] = coload
    return result, detail


def repeat(classes, jars, args):
    """Run the workload K times on consecutive seeds; print each metric's
    median and quartile spread. Runs where other processes used more than a
    quarter of the cores, or the hypervisor stole more than a tenth of the
    CPU time, are listed, never silently averaged in."""
    rows, loaded = [], []
    base = args.seed
    for k in range(args.repeat):
        args.seed = base + k
        result, detail = once(classes, jars, args)
        rows.append(result)
        co = {c: round(detail["coload"][c], 3) for c in ("other_cpu_share", "steal_share")}
        if co["other_cpu_share"] > 0.25 or co["steal_share"] > 0.1:
            loaded.append(dict(seed=args.seed, **co))
        print(json.dumps(dict({"seed": args.seed, "correct": result["correct"],
                               "metrics": {m: v["value"] for m, v in result["metrics"].items()},
                               "wall_s": round(detail["coload"]["wall_s"], 1)}, **co)))
        sys.stdout.flush()
    summary = {}
    for name in rows[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in rows]
        med, q1, q3, rel = M.spread(vals)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "iqr_over_median": rel, "unit": rows[0]["metrics"][name]["unit"]}
    print(json.dumps({"workload": args.workload, "runs": len(rows),
                      "all_correct": all(r["correct"] for r in rows),
                      "coloaded_runs": loaded, "summary": summary}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run K times on seeds seed..seed+K-1 and print "
                         "each metric's median and quartile spread")
    args = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    if args.repeat:
        repeat(classes, jars, args)
        return
    result, detail = once(classes, jars, args)
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
