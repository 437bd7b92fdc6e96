#!/usr/bin/env python3
"""graft's benchmark: one command for every workload.

    python3 perfbench/run.py --workload ref_etl|llm_corpus|tick_ingest \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --make-goldens

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt) and generates the dataset; both are cached
under .bench_build/ and rebuilt when a source file changes. The last line
of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
The full record of a run (contention, check counts, spans) is written to
.bench_build/runs/. See perfbench/README.md.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ref_etl", "llm_corpus", "tick_ingest")
DATA_SF, DATA_SEED = 0.01, 42
JVM_TIMEOUT_S = {"run": 170, "goldens": 900}
BUILD_TIMEOUT_S = 840
HEAP = "2g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, log_path, cwd=ROOT, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    whole group on timeout and wait for it. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    # the build resolves nothing from the network: Spark and the Scala
    # toolchain come from the local installation and caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, log, cwd=BENCH, env=env)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def dataset():
    out = os.path.join(BUILD, "data", f"sf{DATA_SF}-seed{DATA_SEED}")
    done = os.path.join(out, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), out,
                        "--sf", str(DATA_SF), "--seed", str(DATA_SEED)], check=True)
        open(done, "w").close()
    return out


def jvm(classpath, mode, tag, out, opts):
    """Run the harness JVM in a fresh work dir under .bench_build; it
    writes its result to `out`."""
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           *[a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.PerfBench", mode,
           "--work", work, "--out", out, *opts]
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    if os.path.exists(out):
        os.remove(out)
    rc = run_bounded(cmd, JVM_TIMEOUT_S[mode], log)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (exit {rc}); see {log}", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-goldens", action="store_true",
                    help="rewrite perfbench/goldens.tsv from the current engine")
    a = ap.parse_args()
    if not a.make_goldens and a.workload is None:
        ap.error("--workload is required")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) \
            or not os.path.isfile(spec_path):
        fail("run from the root of a graft checkout (src/main/scala and BENCHMARK.json)")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    classpath = build()
    data = dataset()

    if a.make_goldens:
        jvm(classpath, "goldens", "goldens", os.path.join(BENCH, "goldens.tsv"),
            ["--data", data])
        return

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    out = os.path.join(BUILD, "runs", f"{tag}.json")
    jvm(classpath, "run", tag, out, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data,
        "--goldens", os.path.join(BENCH, "goldens.tsv")])
    record = json.load(open(out))

    spec = json.load(open(spec_path))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = record.get("metrics", {})
    metrics, complete = {}, True
    for m in wanted:
        v = got.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            complete = False
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(record["attempted"]), int(record["failed"])
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"error_rate = {failed / max(1, attempted):.6g} "
          f"({failed} failed of {attempted}; {record.get('mismatches', 0)} check mismatches)")
    print("contention = " + json.dumps(record.get("contention", {})))
    for f in record.get("failures", [])[:10]:
        print(f"failure: {f}")
    print(json.dumps({"correct": complete and failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
