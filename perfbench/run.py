#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM harness from source (once per source state,
into .bench_build/ and perfbench/target/), makes the workload's inputs from
the seed, runs the workload in a fresh JVM (local[4]), checks its outputs,
and prints two JSON lines: a record with provenance and workload detail,
then the result `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, from a run that also records every Spark job.

Exits non-zero without a result when the engine sources, Spark (SPARK_HOME),
java or sbt are missing, when the build fails, or when the run errors.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
PIPELINE_SRC = os.path.join(ENGINE_SRC, "graft", "Pipeline.scala")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Workload sizes. pipeline_week runs 7 load dates of SHIPMENTS each;
# analytics_mix runs the registry queries of metrics.QUERY_FAMILIES, each
# in its layer's span, on a corpus generated at SCALE.
WORKLOADS = {
    "pipeline_week": {"shipments": 10000},
    "analytics_mix": {"scale": 0.005,
                      "queries": ",".join(f"{q}:{metrics.QUERY_LAYERS[q]}" for q in metrics.QUERIES)},
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def source_hash():
    h = hashlib.sha256()
    for path in sorted(source_files()):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(stamp):
    """Compiles engine + harness with the benchmark's own sbt build; returns
    the runtime classpath. Skipped when the sources are unchanged."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    # keep the temp files, sockets, native-library copies and perf data of
    # every JVM sbt starts, and its launcher lock, out of shared dirs
    tmp = os.environ["TMPDIR"]
    env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]).strip())
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL, env=env)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def corpus(seed, scale):
    """The analytics corpus for a seed, generated once and kept for the
    latest seed only."""
    base = os.path.join(BUILD, "corpus")
    path = os.path.join(base, f"seed-{seed}-scale-{scale}")
    if not os.path.exists(os.path.join(path, "done")):
        shutil.rmtree(base, ignore_errors=True)
        import corpus as gen
        gen.write(path, seed, scale)
        open(os.path.join(path, "done"), "w").close()
    return path


def run_jvm(classpath, args, sizes, work, out, extra, deadline):
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    props = [f"-Dperfbench.{k}={v}" for k, v in sizes.items()]
    # a fixed heap size: the full collection after each operation would
    # otherwise shrink the heap, and the next operation would grow it again
    cmd = (["java"] + opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={fresh_dir(os.path.join(work, 'tmp'))}"] + props + ["-cp", classpath, "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace), work, out] + extra)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        # the JVM runs in its own process group: take it down with us
        signal.signal(signal.SIGTERM, lambda *a: (stop(), fail("terminated")))
        signal.signal(signal.SIGINT, lambda *a: (stop(), fail("interrupted")))
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {os.path.relpath(log.name, ROOT)})")
    return p.returncode


def provenance(rec, sizes, stamp, args):
    p = dict(rec.get("provenance", {}))
    p.update({"source_sha256": stamp, "nproc": len(os.sched_getaffinity(0)),
              "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "heap": HEAP, "sizes": sizes})
    try:
        p["git_sha"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                      capture_output=True).stdout.strip() or None
    except OSError:
        p["git_sha"] = None
    return p


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(PIPELINE_SRC):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4.x installation")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")

    # every temp file of this process and its children stays in the checkout
    os.environ["TMPDIR"] = fresh_dir(os.path.join(BUILD, "tmp"))
    stamp = source_hash()
    classpath = build(stamp)
    deadline = time.monotonic() + RUN_TIMEOUT_S  # the first run's build does not count
    sizes = dict(WORKLOADS[args.workload])
    work = fresh_dir(os.path.join(BUILD, "run", args.workload))
    out = os.path.join(work, "record.json")
    extra = [corpus(args.seed, sizes["scale"])] if args.workload == "analytics_mix" else []
    code = run_jvm(classpath, args, sizes, work, out, extra, deadline)
    if not os.path.exists(out):
        fail(f"the JVM exited with {code} and wrote no record")
    with open(out) as f:
        rec = json.load(f)
    if "error" in rec:
        sys.stderr.write(rec["error"][-4000:])
        fail("the workload raised an error")

    checks = list(rec.get("checks", []))
    if args.workload == "analytics_mix":
        import oracle
        checks += oracle.check(extra[0], rec["results_dir"], rec.get("oracle_sql", {}),
                               metrics.QUERIES)
    failed = [c for c in checks if not c["ok"]]

    if args.trace:
        with open(PIPELINE_SRC) as f:
            bounds = metrics.stage_lines(f.read())
        values = metrics.per_layer(rec, bounds)
        result_metrics = {k: {"value": float(values[k]), "unit": metrics.unit(k)}
                          for k in metrics.PER_LAYER}
    else:
        result_metrics = {k: {"value": float(v), "unit": u}
                          for k, (v, u) in metrics.end_to_end(rec).items()}

    print(json.dumps({"record": {
        "workload": args.workload,
        "provenance": provenance(rec, sizes, stamp, args),
        "end_to_end": {k: v for k, (v, _) in metrics.end_to_end(rec).items()},
        "latency": metrics.latency(rec),
        "detail": metrics.detail(rec),
        "peak_rss_mb": rec["peak_rss_mb"],
        "forced_gc_s": rec["forced_gc_ms"] / 1000.0,
        "host_steal_share": metrics.host_steal_share(rec),
        "failed_checks": failed[:10],
    }}))
    print(json.dumps({"correct": not failed, "attempted": len(checks), "failed": len(failed),
                      "metrics": result_metrics}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
