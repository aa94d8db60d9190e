#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload report_stream --seed 1 --seconds 10 --trace 0

The first run builds the repository's main sources together with the
benchmark driver (perfbench/build.sbt); later runs reuse the build while
no source file changed. The JVM prints one JSON object as its last
stdout line; this wrapper passes it through and exits 0 only when the
run completed. Extra options (--size tiny, --drop-sink-row) serve the
self-test in perfbench/tests.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("report_stream", "clean_stream", "ingest_stream", "curation_batch")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build, so an edit forces a rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


CP_FILE = os.path.join(BENCH, "target", "bench-classpath.txt")
# Class data sharing archive of the classes a short run loads: it cuts
# the JVM's cold start, which every run pays before any measurement.
CDS_FILE = os.path.join(BENCH, "target", "perfbench.jsa")


def jvm_args(work):
    # -Xmx is only a ceiling: the heap grows with what the program keeps,
    # so peak RSS follows its memory use
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    args = ["java", "-Xmx2g", "-XX:+UseG1GC", "-Xlog:disable",
            "-Xlog:all=error:stderr", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args


def run_main(cp, args, work, extra_jvm=(), timeout=RUN_TIMEOUT_S, quiet=False):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return subprocess.run(jvm_args(work) + list(extra_jvm) + ["-cp", cp, "perfbench.Main"] + args,
                              cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL if quiet else None,
                              text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cores():
    """Spark task threads: all CPUs but one, which is left to the driver,
    the broker and the generator so they do not queue behind tasks."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def classpath():
    """Build if needed; return the runtime classpath of the benchmark."""
    cp_file = CP_FILE
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    lines = [l for l in out.stdout.splitlines()
             if "perfbench_2.13" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    # train the archive on a tiny run; without it runs are only slower
    if os.path.exists(CDS_FILE):
        os.remove(CDS_FILE)
    work = os.path.join(ROOT, ".bench_work", f"cds-{os.getpid()}")
    p = run_main(cp, ["--workload", "clean_stream", "--seed", "0", "--seconds", "2",
                      "--trace", "0", "--size", "tiny", "--work", work,
                      "--cores", str(cores()), "--out", work],
                 work, [f"-XX:ArchiveClassesAtExit={CDS_FILE}"], timeout=BUILD_TIMEOUT_S,
                 quiet=True)
    if (p is None or p.returncode != 0) and os.path.exists(CDS_FILE):
        os.remove(CDS_FILE)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def complete(result, trace):
    """Check the printed metrics against BENCHMARK.json, the one list of
    metric names and units. A traced run prints only the per-layer
    metrics its workload has; the others are filled in as 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    unknown = set(got) - {m["name"] for m in declared}
    if unknown:
        fail(f"undeclared metrics: {sorted(unknown)}")
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None and not trace:
            fail(f"metric {m['name']} missing")
        if v is not None and v["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {v['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
    result["metrics"] = metrics
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--drop-sink-row", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark (expected src/main/scala)")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    cp = classpath()

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--work", work, "--cores", str(cores()),
            "--out", os.path.join(BENCH, "out")]
    if a.drop_sink_row:
        args.append("--drop-sink-row")
    cds = [f"-XX:SharedArchiveFile={CDS_FILE}"] if os.path.exists(CDS_FILE) else []
    proc = run_main(cp, args, work, cds)
    if proc is None:
        fail("run timed out")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(proc.stdout[-2000:])
        fail(f"run failed (exit {proc.returncode})")
    print(json.dumps(complete(json.loads(lines[-1]), a.trace)))


if __name__ == "__main__":
    main()
