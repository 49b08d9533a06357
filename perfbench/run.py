#!/usr/bin/env python3
"""The repo benchmark, one command per run:

    python3 perfbench/run.py --workload <sink_bulk|sink_trickle|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program from source with
the harness under perfbench/scala (sbt, once per change of the sources),
runs one workload in one JVM at a width of `nproc` local cores, checks the
outputs, prints every metric with its unit, writes the full artifact to
perfbench/out/, and prints one JSON result as the last line of stdout.
It exits 0 when every output check passed, 1 when one failed and 2 when
the run could not be made at all.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_digests.json")

WORKLOADS = ("sink_bulk", "sink_trickle", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import report  # noqa: E402


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(SOURCES, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "scala", "*.scala"))
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt unless the sources are unchanged
    since the last build in this checkout."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "writeClasspath"],
                                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (log: %s)" % log)
    # a class-data archive only matches the jars it was dumped from
    shutil.rmtree(os.path.join(TARGET, "cds"), ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def jvm_command(args, raw_path, work):
    """The JVM of one run. Each workload keeps a class-data sharing archive:
    its first run in a checkout dumps the classes it loaded, later runs map
    them instead of loading Spark's classes one by one."""
    cds = os.path.join(TARGET, "cds", args.workload + ".jsa")
    os.makedirs(os.path.dirname(cds), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += [("-XX:SharedArchiveFile=" if os.path.exists(cds) else "-XX:ArchiveClassesAtExit=") + cds,
            "-Xshare:auto", "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData",
            "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if args.trace:
        cmd.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingLocalFileSystem")
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(os.cpu_count() or 1), "--data", DATA,
            "--work", work, "--out", raw_path]
    return cmd


def run_jvm(args):
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(OUT, tag + ".raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    log = os.path.join(OUT, tag + ".log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(jvm_command(args, raw_path, work), cwd=ROOT, env=env,
                                stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail("the %s run ended with %s (log: %s)" % (args.workload, rc, log))
    with open(raw_path) as fh:
        return tag, json.load(fh)


def steal_s():
    """Seconds of CPU time the host took from this machine's virtual CPUs
    so far (the `steal` column of /proc/stat), or None where there is none."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / float(os.sysconf("SC_CLK_TCK"))
    except (OSError, IndexError, ValueError):
        return None


def untraced_p50(workload):
    """Median `latency_p50_s` of this checkout's untraced, correct runs of
    `workload`: the untraced side of a traced run's tracing overhead."""
    vals = []
    for f in glob.glob(os.path.join(OUT, workload + "-seed*-trace0.json")):
        with open(f) as fh:
            a = json.load(fh)
        if a["correct"]:
            vals.append(a["end_to_end"]["latency_p50_s"]["value"])
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(SOURCES) or not os.path.isdir(DATA) or not os.path.exists(EXPECTED):
        fail("run from the root of a checkout: program sources, bundled tables or "
             "recorded digests are missing")
    os.makedirs(OUT, exist_ok=True)
    build()

    load_start = os.getloadavg()[0]
    steal_start = steal_s()
    t0 = time.time()
    tag, raw = run_jvm(args)
    load_end = os.getloadavg()[0]
    steal = None if steal_start is None else steal_s() - steal_start
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    r = report.build(raw, expected, os.cpu_count() or 1, load_start, load_end,
                     untraced_p50(args.workload) if args.trace else None)

    names = report.PER_LAYER if args.trace else report.END_TO_END
    values = r.layer if args.trace else r.e2e
    metrics = {n: {"value": values[n], "unit": u} for n, u in names}
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "wall_s": time.time() - t0, "correct": not r.problems, "attempted": r.attempted,
        "failed": r.failed, "problems": r.problems,
        "end_to_end": {n: {"value": r.e2e[n], "unit": u} for n, u in report.END_TO_END},
        "named": r.named, "notes": r.notes,
        "per_layer": {n: {"value": r.layer[n], "unit": u} for n, u in report.PER_LAYER} if args.trace else None,
        "noise": {"nproc": os.cpu_count(), "load1_start": load_start, "load1_end": load_end,
                  "jvm_gc_s": raw["gc_s"], "steal_s": steal},
        "spans": raw["trace"]["spans"] if raw.get("trace") else None,
    }
    with open(os.path.join(OUT, tag + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)

    for n, u in report.END_TO_END:
        print("%-28s %14.6g %s" % (n, r.e2e[n], u))
    for n in sorted(r.named):
        print("%-28s %14.6g  (%s)" % (n, r.named[n], args.workload))
    print("noise: nproc=%d load1 %.2f -> %.2f, jvm gc %.3f s, cpu steal %s s"
          % (os.cpu_count() or 1, load_start, load_end, raw["gc_s"],
             "n/a" if steal is None else "%.2f" % steal))
    for p in r.problems:
        print("CHECK FAILED: " + p)
    print(json.dumps({"correct": not r.problems, "attempted": r.attempted, "failed": r.failed,
                      "metrics": metrics}))
    sys.exit(0 if not r.problems else 1)


if __name__ == "__main__":
    main()
