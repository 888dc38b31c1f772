"""perfbench: seeded end-to-end benchmark of the vectorizer's user paths.

Builds the program and the JVM harness from source (scalac from the
Spark jars, no network), generates the workload's inputs from --seed,
runs one workload in a single `local[<nproc>]` Spark session, checks its
outputs, and prints every metric by name with its unit. The last line
of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Usage (from the repository root):
  python3 perfbench/run.py --workload batch_vectorize --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
variant and reports the per-layer metrics, writing spans, per-span self
time and per-job Spark counters under .bench_build/perfbench/trace/.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the `unmanagedBase` the
    repository's build.sbt compiles against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        die("no Spark jar directory: set SPARK_JARS")
    return m.group(1)


HEAP = "2g"
# A gated run (build excluded) must end well inside 180 s; the ungated
# release_pipeline runs Pipeline.run twice, minutes each.
RUN_LIMIT_S = {"release_pipeline": 1800}
DEFAULT_RUN_LIMIT_S = 170

WORKLOADS = ("batch_vectorize", "stream_ingest", "release_pipeline")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, flush=True)


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr, flush=True)
    sys.exit(code)


def sources():
    main = sorted(glob.glob(os.path.join(SRC, "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main + harness


def build():
    """Compile the program plus the harness into one class directory;
    skipped when the sources are unchanged since the last build. Returns
    the harness's class path and the build time (0 when skipped)."""
    if not os.path.isdir(SRC):
        die("no program sources at %s" % SRC)
    jar_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        die("scala compiler jars not found under %s" % jar_dir)
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + compiler:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    classpath = classes + ":" + os.path.join(jar_dir, "*")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return classpath, 0.0
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(jars), "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode("utf-8", "replace")[-4000:])
        die("build failed", 1)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, time.time() - t0


def inputs(workload, seed):
    """Generated inputs for (workload, seed), reused when their recorded
    digest still verifies; other seeds' inputs are removed."""
    base = os.path.join(BUILD, "inputs")
    out = os.path.join(base, "%s-%d" % (workload, seed))
    for d in glob.glob(os.path.join(base, workload + "-*")):
        if d != out:
            shutil.rmtree(d, ignore_errors=True)
    m = gen.cached(workload, seed, out)
    return out, (m if m is not None else gen.generate(workload, seed, out))


def run_harness(classpath, workload, inp, seed, seconds, trace, deadline):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + [a for p in ADD_OPENS for a in
                      ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath,
        "perfbench.Harness", "--workload", workload, "--input", inp,
        "--work", work, "--seconds", str(seconds), "--trace", str(trace),
        "--cores", str(cores), "--seed", str(seed), "--out", out]
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-%d-trace%d.log" % (workload, seed, trace))
    with open(log_path, "wb") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("harness exceeded its time limit (log: %s)" % log_path, 1)
    if rc != 0 or not os.path.exists(out):
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read().decode("utf-8", "replace")[-3000:])
        die("harness failed with exit code %d (log: %s)" % (rc, log_path), 1)
    with open(out) as f:
        raw = json.load(f)
    return raw, cores


def fmt(v):
    return ("%.6g" % v) if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    os.makedirs(BUILD, exist_ok=True)
    classpath, build_s = build()
    if build_s:
        log("built program + harness in %.1f s" % build_s)
    t0 = time.time()
    inp, manifest = inputs(a.workload, a.seed)
    props = manifest["properties"]
    log("inputs %s seed %d digest %s" % (a.workload, a.seed, manifest["digest"][:16]))
    log("input properties: " + json.dumps(props, sort_keys=True))
    raw, cores = run_harness(classpath, a.workload, inp, a.seed, a.seconds,
                             a.trace, t0 + RUN_LIMIT_S.get(a.workload, DEFAULT_RUN_LIMIT_S))

    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and all(c["ok"] for c in raw["checks"])
    log("session local[%d], shuffle partitions %d, AQE on" % (cores, cores))
    for c in raw["checks"]:
        log("check %-32s %s  %s" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"]))
    log("failed_ratio %s (%d of %d operations)" % (fmt(failed / attempted), failed, attempted))

    if a.trace == 0:
        metrics, wall, info = benchlib.end_to_end(raw)
        log("samples %d; tail = p%s with %d samples beyond it" %
            (info["samples"], fmt(info["tail_percentile"]), info["tail_samples_beyond"]))
        for name, (v, unit) in wall.items():
            log("wall   %-44s %14s %s (not gated)" % (name, fmt(v), unit))
    else:
        modules = benchlib.file_modules(os.path.join(SRC, "graft"))
        modules.update((os.path.basename(p), "bench")
                       for p in glob.glob(os.path.join(HERE, "scala", "*.scala")))
        names = dict(benchlib.PER_LAYER)
        if a.workload == "release_pipeline":
            names.update(benchlib.RELEASE_LAYER)
        metrics = benchlib.per_layer(raw, modules, names)
        report = benchlib.span_report(raw, modules)
        tdir = os.path.join(BUILD, "trace")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(tpath, "w") as f:
            json.dump({"report": report, "spans": raw["spans"], "jobs": raw["jobs"],
                       "baseline_local1": raw.get("baseline_local1")}, f)
        log("spans: %d, jobs: %d, written to %s" % (len(raw["spans"]), len(raw["jobs"]),
                                                   os.path.relpath(tpath, ROOT)))
        log("%-40s %6s %10s %10s %6s %14s" % ("span", "count", "median_s", "self_s",
                                              "jobs", "shuffle_bytes"))
        for name, s in report["spans"].items():
            log("%-40s %6d %10.4f %10.4f %6d %14d" % (
                name, s["count"], s["median_s"], s["median_self_s"], s["spark.jobs"],
                s["spark.shuffle_read_bytes"] + s["spark.shuffle_write_bytes"]))
        for m, v in sorted(report["modules"].items()):
            log("module %-12s jobs %5d  job_s %9.3f  executor_cpu_s %9.3f" %
                (m, v["jobs"], v["job_s"], v["executor_cpu_s"]))
        if raw.get("baseline_local1"):
            b = raw["baseline_local1"]
            log("single-thread baseline (local[1], not gated): %.3f s, %s docs/s" %
                (b["latency_s"], fmt(b["docs"] / b["latency_s"])))
    for name, (v, unit) in metrics.items():
        log("metric %-44s %14s %s" % (name, fmt(v), unit))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u}
                                  for n, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
