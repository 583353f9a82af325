#!/usr/bin/env python3
"""Benchmark driver for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program from
source with the repository's own sbt build and the harness in this
directory against it (`perfbench/build.sbt`), then reuses that build
until a source file changes. Each run starts one JVM, which sets the
workload up (several times; setup_s is the median of all but the first,
cold one), warms it and checks its outputs in untimed work, runs whole
closed-loop passes until at least `--seconds` have passed, and prints
one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics. `--trace 1` runs an untraced,
a traced and another untraced pass and reports the traced pass's
per-layer metrics and the tracing overhead (traced pass time over the
untraced pass after it). The full record of a run (every op, check,
span, per-op layers and the host probe) is written under
`.bench_build/results/`.

The inputs under `perfbench/data` are copies of the generated synthetic
tables: `sf0.01` (all ten tables) and `sf0.1` (documents, part). The
entries' expected outputs in `perfbench/expected.json` are order-
insensitive fingerprints, recorded with `--record` after the same
entries passed the DuckDB oracle (`graft.Verify` + `tools/oracle_check.py`)
on the same inputs (for corpus_kernels, on its 2x copy); re-record only
when an entry's output changes on purpose.

SPARK_GRAFT_CPUS (default: the processor count) sets the Spark master
`local[N]`, as it does for graft.Bench.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # a run must end within 180 s; leave room to stop cleanly
# The JVM's heap, fixed in size. On a 4-core host, index_churn's timed
# pass took 14.4 s with the 8g limit of the root build's forked runs and
# 11.1 s with a 2g limit alone, against 10.3 s with a fixed 2g heap, and
# its run-to-run spread was about twice as wide in both. The memory
# metric, heap_live_mb, is the live set after a full collection, which
# does not depend on the heap's size.
HEAP = "2g"

# What Spark needs on JDK 17 outside spark-submit (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return None, out or ""


def build(deadline):
    """Builds the program and the harness once per source stamp and
    returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the program and the harness (sbt)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, timeout=deadline - time.time(), env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (rc={rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the entries' output fingerprints instead of measuring")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {a.workload!r}; "
                         f"known: {', '.join(sorted(spec['workloads']))}")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"the program's sources are not here: {need} is missing")

    start = time.time()
    # the first run in a checkout builds, and may take up to 900 s
    first = not os.path.exists(os.path.join(BUILD, "classpath.txt"))
    cp = build(start + (880 if first else DEADLINE_S))
    run_deadline = start + (890 if first else DEADLINE_S)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(HERE, "data"), "--work", os.path.join(work, "run"),
            "--out", out, "--spec", os.path.join(HERE, "workloads.json"),
            "--expected", os.path.join(HERE, "expected.json"),
            "--record", "1" if a.record else "0"]
    try:
        rc, stdout = run_group(cmd, cwd=ROOT, timeout=run_deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):]
        else:
            print(line, file=sys.stderr)
    if rc is None:
        raise SystemExit("the run did not finish in time")
    if rc != 0:
        raise SystemExit(f"the run failed (rc={rc})")
    if a.record:
        return
    if result is None:
        raise SystemExit("the run printed no result")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
