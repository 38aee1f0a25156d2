#!/usr/bin/env python3
"""ds2ispark benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

Builds the program and this harness from source (sbt, once per source
change), writes the seeded inputs, runs one JVM that measures the build,
serve and ops phases, checks the outputs against DuckDB and prints one
JSON line: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. METRICS.md says what each metric means."""
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
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

# Inputs each workload needs; METRICS.md gives the reasons for the
# workloads. A traced run of either measures all three phases.
WORKLOADS = {
    "index": ("corpus",),
    "ops": ("tables",),
}
OPS_FILES = 4
CORPUS_DOCS = 2_000
CORPUS_FILES = 8
# sf0.1 has 5,000 documents and 2,000 embeddings; METRICS.md says why the
# documents here are fewer
OPS_DOCS = 1_250
OPS_VECS = 2_000
DEADLINE_S = 170
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(deadline):
    """Compile (when sources changed) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources at src/main/scala/graft; run from a checkout root")
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved["digest"] == digest:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=max(1, deadline - time.time()))
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def jvm_file(proc, work, name, start):
    """The JSON file the JVM writes as `name` in the work directory."""
    path = os.path.join(work, name)
    while not os.path.exists(path):
        if proc.poll() is not None:
            die(f"the JVM exited with {proc.returncode} before writing {name}")
        if time.time() > start + DEADLINE_S:
            die(f"the JVM wrote no {name} in time")
        time.sleep(0.02)
    with open(path) as fh:
        return json.load(fh)


def main():
    # a terminated run still kills its JVM and removes its work directory:
    # SystemExit unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    inputs = ("corpus", "tables") if a.trace else WORKLOADS[a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    # the first run in a checkout also builds; later runs keep the 180 s limit
    cp = classpath(time.time() + 850)
    start = time.time()
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = None
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   SPARK_LOCAL_IP="127.0.0.1")
        # a fixed heap size keeps peak RSS from following GC's resizing
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work, "--cores", str(cores)])
        # the JVM starts its session while the inputs are written and the
        # ops gates' DuckDB oracles run; it reads none before inputs.ready
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT)
        wants = {}
        if "corpus" in inputs:
            gen.corpus(os.path.join(work, "corpus"), a.seed, CORPUS_DOCS, CORPUS_FILES)
        if "tables" in inputs:
            gen.ops_tables(os.path.join(work, "ops"), a.seed, OPS_DOCS, OPS_VECS, OPS_FILES)
            wants = check.oracle_wants(work, jvm_file(proc, work, "oracle.json", start))
        open(os.path.join(work, "inputs.ready"), "w").close()
        try:
            proc.wait(timeout=max(1, start + DEADLINE_S - time.time()))
        except subprocess.TimeoutExpired:
            die("the JVM did not finish in time")
        if proc.returncode != 0:
            die(f"the JVM exited with {proc.returncode}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        checks = check.run_all(work, res["claims"], wants)
        failures = res["failures"] + [what for what, ok in checks if not ok]
        for f in failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(ROOT, ".bench_work", f"spans-{a.workload}-{a.seed}.jsonl"))
        attempted = res["attempted"] + len(checks)
        values = dict(res["layer"], fail_frac=len(failures) / attempted) if a.trace else res["e2e"]
        wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
        missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
        if missing:
            die(f"metrics not measured: {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
        # kept for the next look: what the last run's JVM logged
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(ROOT, ".bench_work", "last-jvm.log"))
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - start:.1f} s",
          file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
