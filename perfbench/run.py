#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result line.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload report_mix --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --record      # print the expected outputs to commit

The harness under perfbench/ is its own sbt build, which compiles the
program from the checkout's sources. The first run builds it; later runs
launch the JVM straight from the recorded classpath. The last line of
stdout is the JSON result; the lines before it name every value with
its unit, including the per-workload names of the end-to-end metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(BENCH, "data", "sf0.01")
ARCHIVE = os.path.join(STATE, "classes.jsa")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def jar(classes, dest):
    """Pack a class directory into a jar: class-data sharing, which cuts a
    cold set-up from about 13 s to about 6 s on a 4-vCPU host, needs a
    classpath of jars only."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                path = os.path.join(d, f)
                info = zipfile.ZipInfo(os.path.relpath(path, classes), (1980, 1, 1, 0, 0, 0))
                with open(path, "rb") as fh:
                    z.writestr(info, fh.read(), zipfile.ZIP_DEFLATED)


def build():
    """Compile program and harness unless the sources are unchanged, then
    archive the classes a short run of every workload loads; return the
    runtime classpath and the program's JVM options."""
    stamp = hashlib.sha256()
    for f in sources():
        stamp.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    opts_file = os.path.join(STATE, "java_options.txt")
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp.hexdigest()):
        return open(cp_file).read().strip(), open(opts_file).read().split()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 2)
    shutil.rmtree(STATE, ignore_errors=True)
    os.makedirs(os.path.join(STATE, "jars"))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    sbt_cp = os.path.join(BENCH, "target", "classpath.txt")
    sbt_opts = os.path.join(BENCH, "target", "java_options.txt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.exists(sbt_cp) or not os.path.exists(sbt_opts):
        fail(f"build failed (sbt exit {r.returncode})")
    options = open(sbt_opts).read().split()
    entries = []
    for i, e in enumerate(open(sbt_cp).read().strip().split(os.pathsep)):
        if os.path.isdir(e):
            dest = os.path.join(STATE, "jars", f"{i}.jar")
            jar(e, dest)
            e = dest
        entries.append(e)
    classpath = os.pathsep.join(entries)
    work = os.path.join(STATE, "train")
    java(classpath, options, work, "perfbench.Train", [DATA, work, BENCH], BUILD_LIMIT_S,
         [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(opts_file, "w") as fh:
        fh.write("\n".join(options))
    with open(stamp_file, "w") as fh:
        fh.write(stamp.hexdigest())
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classpath, options


def java(classpath, options, work, main, args, limit, flags=None):
    """Run one JVM in its own process group; return its stdout lines."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = ["java", "-Xmx3g", "-Xlog:disable", "-Xlog:all=error:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    cmd += options + flags + ["-cp", classpath, main] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main} did not finish within {limit:.0f}s")
    if p.returncode != 0:
        fail(f"{main} exited with {p.returncode}")
    return out.splitlines()


def cpu_ticks():
    """The machine's CPU ticks (user ... steal) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(spec_file) and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout with BENCHMARK.json, build.sbt and src/main/scala", 2)
    spec = json.load(open(spec_file))
    if not a.record and a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}", 2)

    classpath, options = build()   # the JVM's time limit excludes a first run's build
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ticks = cpu_ticks()
    try:
        if a.record:
            for line in java(classpath, options, work, "perfbench.Record", [DATA, work], 600):
                print(line)
            return
        lines = java(classpath, options, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", work, "--bench", BENCH,
            "--spans", os.path.join(STATE, "spans", f"{a.workload}-seed{a.seed}.jsonl")],
            RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tagged = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if not tagged:
        fail("the harness printed no result")
    res = json.loads(tagged[-1].split(" ", 1)[1])
    values = res["values"]
    for name, value, unit in res["view"]:
        print(f"{name} {value} {unit}")
    # share of the machine's CPU time its hypervisor took during the run:
    # runs with a large share were slowed by other guests, not the program
    after = cpu_ticks()
    if ticks and after and sum(after) > sum(ticks):
        print(f"host.steal_share {(after[7] - ticks[7]) / (sum(after) - sum(ticks)):.4f} ratio")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None and not a.trace:
            fail(f"no value for {m['name']}")
        # a per-layer metric of a layer this workload does not run reads 0
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
        print(f"{m['name']} {metrics[m['name']]['value']} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
