#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the harness from source on first use (into
.bench_build/), runs the workload in one JVM on local[4], and prints a
detail line (the metrics under their workload-specific names, the raw
latency samples and the run-validity readings) followed by the result
object as the last line, whose metrics are the ones BENCHMARK.json
lists. Exits 1 when a correctness check failed, 2 when the checkout
holds no engine sources, 3 when the build failed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
CDS = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("ingest_stream", "upsert_mixed", "mv_refresh")
HEAP = "4g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Digest of every source and build file the harness is compiled from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.path.basename(d) in ("target", "project") and d != os.path.join(HERE, "project"):
                continue
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt)")
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "-batch", "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(out_path).read().splitlines()
    cp = next((l for l in reversed(lines) if l and not l.startswith("[")), "")
    if rc != 0 or os.path.join(BUILD, "sbt-target") not in cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (exit {rc}); see {out_path}")
        sys.exit(3)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    train(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def train(cp):
    """Writes a class-data-sharing archive from one short pass of every
    workload. Runs then map those classes instead of loading them from
    ~300 jars, which takes seconds off JVM start and the first set-up.
    Without the archive runs still work, only start slower.
    """
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log("training the class-data archive")
    with open(os.path.join(BUILD, "train.log"), "w") as out:
        run_group(java_cmd(cp, ["--workload", "train", "--seed", "0", "--seconds", "1",
                                "--trace", "1", "--work", work, "--out", os.path.join(work, "r.json")],
                           f"-XX:ArchiveClassesAtExit={CDS}"),
                  RUN_TIMEOUT_S, cwd=work, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(CDS):
        log("no class-data archive written; runs start without it")


def java_cmd(cp, main_args, cds=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if cds is None:
        cds = f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS) else "-Xshare:auto"
    return [java, cds, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *opens, "-cp", cp, "perfbench.Main", *main_args]


def finite_number(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if a.seconds is not None and not 1 <= a.seconds <= 120:
        ap.error("--seconds must be within 1..120")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala/graft; run from a full checkout")
        sys.exit(2)
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME must name the Spark installation to build against")
        sys.exit(3)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    cp = build()
    if a.selftest:
        rc = run_group(java_cmd(cp, ["--selftest"]), RUN_TIMEOUT_S, cwd=BUILD)
        sys.exit(1 if rc is None else rc)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    results = os.path.join(BUILD, "results")
    os.makedirs(work, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    try:
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            rc = run_group(java_cmd(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                                         "--out", out, "--work", work]),
                           RUN_TIMEOUT_S, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        if rc is None or not os.path.exists(out):
            tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            log("run timed out" if rc is None else f"run exited {rc} without a result")
            sys.exit(1)
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(results, tag + ".log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = json.load(open(out))
    # a workload that does not exercise a layer reports 0 for its metrics
    values = res["per_layer"] if a.trace else res["end_to_end"]
    default = 0.0 if a.trace else None
    metrics = {m["name"]: {"value": values.get(m["name"], default), "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    correct = res["correct"] and res["failed"] == 0
    bad = [k for k, m in metrics.items() if not finite_number(m["value"])]
    if bad:
        log(f"metrics without a finite value: {bad}")
        correct = False
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "end_to_end": res["end_to_end"], "detail": res["detail"]}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
