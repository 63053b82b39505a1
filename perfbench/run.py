#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload llm_small --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run compiles graft's sources
and the harness (perfbench/harness) into .bench_build; later runs reuse
the build while the sources are unchanged. Each run makes its inputs
from --seed, starts one fresh JVM (Spark local[nproc], one operation at
a time), checks the outputs outside graft, removes every file it made
and prints one JSON line last: with --trace 0 the end-to-end metrics,
with --trace 1 the per-layer metrics (see README.md).

--smoke runs one cold pass (and the verification) on tiny inputs.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "harness" / "scala-2.13" / "classes"
JVM_DEADLINE_S = 150

# Inputs per workload: llm (docs, vectors), pipeline (orders, events, docs);
# the smoke mode's tiny inputs beside them.
WORKLOADS = {
    "llm_small": {"queries": metrics.QUERIES,
                  "corpus": (5000, 2000), "smoke": (500, 500)},
    "etl_pipeline": {"tables": (150_000, 100_000, 5000), "smoke": (1500, 1000, 500)},
}

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars graft builds and runs on:
    $SPARK_HOME/jars, else the directory graft's own build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text())
        jars = Path(m.group(1)) if m else None
    if not jars or not any(jars.glob("scala-library-*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def source_stamp():
    files = sorted(ROOT.glob("src/main/**/*.scala")) + \
        sorted((HERE / "harness").glob("src/**/*.scala")) + \
        [HERE / "harness" / "build.sbt"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft and the harness unless the sources are unchanged."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail("graft's sources (src/main/scala) are not in this checkout")
    stamp = source_stamp()
    stamp_file = BUILD / "harness.stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ, PERFBENCH_SPARK_JARS=str(spark_jars()), COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        f"-Djna.tmpdir={BUILD / 'jna'} "
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE / "harness", env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    BUILD.mkdir(exist_ok=True)
    stamp_file.write_text(stamp)


def make_inputs(name, seed, data, smoke):
    w = WORKLOADS[name]
    if "queries" in w:
        docs, vecs = w["smoke" if smoke else "corpus"]
        return gen.corpus(data, seed, docs, vecs)
    n_orders, n_events, n_docs = w["smoke" if smoke else "tables"]
    return gen.tables(data, seed, n_orders, n_events, n_docs)


def run_jvm(args, work, data, setup_t0, deadline):
    out = work / "result.json"
    cp = f"{CLASSES}:{spark_jars()}/*"
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", *JDK_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work / 'derby'}",
           "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--data", str(data), "--work", str(work),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--smoke", "1" if args.smoke else "0",
           "--queries", ",".join(WORKLOADS[args.workload].get("queries", [])),
           "--t0-ms", str(int(setup_t0 * 1000)), "--out", str(out)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the harness did not finish in time", 3)
    if proc.returncode != 0 or not out.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"the harness exited with {proc.returncode}", 3)
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=20261018)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--keep", type=Path,
                    help="copy the run's inputs, outputs and result JSON here")
    args = ap.parse_args()

    build()
    # set-up time and the deadline start after the build, which only the
    # first run of a checkout pays
    setup_t0 = time.time()
    deadline = setup_t0 + JVM_DEADLINE_S
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        data = work / "data"
        rows = make_inputs(args.workload, args.seed, data, args.smoke)
        inputs_s = time.time() - setup_t0
        res = run_jvm(args, work, data, setup_t0, deadline)
        res["inputs_s"] = inputs_s
        failures = checks.run(args.workload, res, data, work)
        if res["facts"]["rows"] != rows:
            failures.append(f"inputs: read {res['facts']['rows']}, generated {rows}")
    finally:
        if args.keep:
            shutil.rmtree(args.keep, ignore_errors=True)
            shutil.copytree(work, args.keep, ignore=shutil.ignore_patterns(
                "tmp", "spark-local"))
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = metrics.failed_ops(res, failures)
    attempted = metrics.attempted(res)
    values = metrics.per_layer(res) if args.trace else metrics.end_to_end(res)
    print("# detail " + json.dumps(metrics.detail(res, failures, checks.NOTES)))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed_ops,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    sys.exit(0 if failed_ops == 0 and not failures else 1)


if __name__ == "__main__":
    main()
