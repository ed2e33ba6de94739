#!/usr/bin/env python3
"""Build and run the graft Spark benchmark.

Run from the root of a checkout of the repository:

    python3 sparkbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call compiles the program (src/main/scala) together with the
benchmark (sparkbench/src/main) with the Scala compiler that ships among
Spark's jars, into .bench_build/; later calls reuse that build while the
sources are unchanged. Each call then runs one workload in one JVM against
a local Spark session and prints the result object as the last line of
stdout. Inputs are generated under .bench_work/ and removed afterwards.

A run times a fixed number of passes per workload, so a faster program is
measured on the same passes as a slower one; --seconds is accepted for the
common benchmark interface and does not change the pass count.

Other modes:

    --test                      compile the benchmark's own specs
                                (sparkbench/src/test) against the same build
                                and run them
    --record                    write the workload's expected results
                                (sparkbench/expected/<workload>.tsv) instead
                                of checking against them
    --steadiness N --out FILE   run every workload (or just --workload) N
                                times back to back, seeds 1..N, and write
                                each metric's median, quartiles, min and max
                                per workload to FILE, with each run's wall
                                time and the host's steal time during it
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "sparkbench")
BUILD = os.path.join(ROOT, ".bench_build", "sparkbench")
WORK = os.path.join(ROOT, ".bench_work")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ["fit_pipelines", "interactive_catalog"]
# A ceiling well above what a run uses; the heap grows with demand, so
# peak RSS follows the program's live data.
MAX_HEAP = "4g"
# A run is killed after this long, so the command ends inside its 180 s limit.
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def sources(roots):
    """The .scala files under `roots`, in a fixed order."""
    files = []
    for r in roots:
        if not os.path.isdir(r):
            sys.exit(f"sparkbench: {os.path.relpath(r, ROOT)} not found; "
                     "run from the root of a checkout of the repository")
        files += sorted(glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))
    return files


def jars():
    found = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not found:
        sys.exit(f"sparkbench: no Spark jars under {SPARK_JARS}")
    return found


def jvm(classpath):
    """The java command line every JVM of the benchmark starts with."""
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java"] + opens + [f"-Xmx{MAX_HEAP}", "-cp", os.pathsep.join(
        classpath + [os.path.join(SPARK_JARS, "*")])]


def build(name, roots, classpath=()):
    """Compiles the sources under `roots` against Spark's jars and
    `classpath` into .bench_build/sparkbench/<name>, unless a build of the
    same sources is already there. Returns that directory."""
    srcs = sources(roots)
    h = hashlib.sha256()
    for c in classpath:
        # a build this one compiles against counts by its own stamp
        h.update(c.encode())
        if os.path.exists(c + ".sha256"):
            h.update(open(c + ".sha256", "rb").read())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, name)
    stamp = classes + ".sha256"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.pathsep.join(list(classpath) + jars())
    argfile = classes + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    t0 = time.time()
    print(f"[sparkbench] compiling {len(srcs)} sources into {name}", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", staging, "-classpath", cp,
         "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("sparkbench: compilation failed")
    for root in roots:
        for res in glob.glob(os.path.join(os.path.dirname(root), "resources", "*")):
            shutil.copy(res, staging)
    os.rename(staging, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"[sparkbench] compiled in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes


def build_main():
    return build("classes", [os.path.join(ROOT, "src", "main", "scala"),
                             os.path.join(BENCH, "src", "main", "scala")])


def run_tests(classes):
    """Compiles the specs against the benchmark's build and runs them in a
    JVM started as the timed runs start theirs."""
    root = os.path.join(BENCH, "src", "test", "scala")
    tests = build("test-classes", [root], [classes])
    specs = sorted("sparkbench." + os.path.basename(f)[:-len(".scala")]
                   for f in glob.glob(os.path.join(root, "sparkbench", "*?Spec.scala")))
    work = os.path.join(WORK, f"test-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return subprocess.run(jvm([tests, classes]) + [
            f"-Djava.io.tmpdir={work}", "sparkbench.Specs"] + specs,
            cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)


def run_once(classes, workload, seed, trace, record=False, quiet=False):
    """Runs one workload in a fresh JVM. Returns (exit code, stdout lines)."""
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (jvm([classes]) +
           [f"-Djava.io.tmpdir={tmp}",
            "sparkbench.Main", "--workload", workload, "--seed", str(seed),
            "--trace", "1" if trace else "0",
            "--base", os.path.join(BENCH, "data", "sf0.01"),
            "--work", work,
            "--expected", os.path.join(BENCH, "expected", f"{workload}.tsv")] +
           (["--record"] if record else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE if quiet else sys.stderr,
                            text=True)
    lines = []
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
        if quiet and proc.returncode != 0:
            print("\n".join(err.splitlines()[-60:]), file=sys.stderr)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[sparkbench] {workload}: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)
    return proc.returncode, lines


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the steal column of /proc/stat), or None where there is
    no such file."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def steadiness(classes, workloads, runs, out):
    """Each workload `runs` times back to back; per metric the spread the
    bounds are checked with, (q3 - q1) / median by statistics.quantiles(n=4).
    Each run's wall time and the host's steal time during it are recorded
    too, as the budget and the noise they explain."""
    report = {"runs": runs, "host_cpus": os.cpu_count(), "workloads": {},
              "run_wall_s": {}, "host_steal_s": {}}
    for w in workloads:
        values = {}
        walls = report["run_wall_s"][w] = []
        steals = report["host_steal_s"][w] = []
        for seed in range(1, runs + 1):
            t0, s0 = time.time(), steal_s()
            code, lines = run_once(classes, w, seed, trace=False, quiet=True)
            if code != 0 or not lines:
                sys.exit(f"sparkbench: {w} seed {seed} failed (exit {code})")
            walls.append(round(time.time() - t0, 1))
            s1 = steal_s()
            steals.append(None if s0 is None or s1 is None else round(s1 - s0, 1))
            res = json.loads(lines[-1])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"[sparkbench] {w} seed {seed}: {walls[-1]} s wall, "
                  f"{steals[-1]} s host steal, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
        stats = {}
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            stats[k] = {"median": med, "q1": q1, "q3": q3, "min": min(xs),
                        "max": max(xs), "spread": (q3 - q1) / med, "values": xs}
        report["workloads"][w] = stats
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--test", action="store_true")
    ap.add_argument("--steadiness", type=int, metavar="N")
    ap.add_argument("--out", default=os.path.join(BENCH, "steadiness.json"))
    a = ap.parse_args()
    classes = build_main()
    if a.test:
        return run_tests(classes)
    if a.steadiness:
        return steadiness(classes, [a.workload] if a.workload else WORKLOADS,
                          a.steadiness, a.out)
    if not a.workload:
        ap.error("--workload is required")
    code, lines = run_once(classes, a.workload, a.seed, a.trace == 1, a.record)
    for line in lines:
        print(line)
    return code


if __name__ == "__main__":
    sys.exit(main())
