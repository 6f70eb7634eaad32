#!/usr/bin/env python3
"""The repository benchmark: one command, one JVM per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
runner from source with sbt (about a minute) and caches the classpath
under perfbench/.work; later runs reuse it while the sources are
unchanged. Inputs come from gen.py, generated once per seed and cached.
The runner (perfbench/src) measures the workload on a local[4] session;
this script then checks the engine's output in DuckDB, prints every named
metric and the run context, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A wrong result exits with code 1, a run that cannot start
or finish with code 2 and no result line. METRICS.md lists every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# the fixed sf0.01 tables the batch_mix registry queries read
TABLES = HERE / "data" / "sf0.01"
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 850
KEEP_SEEDS = 3


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine and runner; return (classpath, java options)."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected ../build.sbt and ../src/main)")
    stamp = source_stamp()
    cached = WORK / "build.json"
    if cached.exists():
        b = json.loads(cached.read_text())
        if b["stamp"] == stamp and all(Path(p).exists() for p in b["classpath"].split(os.pathsep)):
            return b["classpath"], b["java_options"]
    # offline: resolve only from the local caches and the repositories
    # listed in ~/.sbt/repositories, as the engine's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    WORK.mkdir(parents=True, exist_ok=True)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "export perfbench/Runtime/fullClasspath", "show perfbench/javaOptions"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    (WORK / "build.log").write_text(out.stdout + out.stderr)
    lines = out.stdout.splitlines()
    cp = [i for i, l in enumerate(lines) if l and not l.startswith("[")]
    if out.returncode != 0 or not cp:
        fail(f"build failed, see {WORK / 'build.log'}")
    classpath = lines[cp[-1]]
    java_options = [l[len("[info] * "):] for l in lines[cp[-1]:] if l.startswith("[info] * ")]
    cached.write_text(json.dumps({"stamp": stamp, "classpath": classpath,
                                  "java_options": java_options}))
    return classpath, java_options


def inputs(workload, seed):
    cache = WORK / "inputs"
    d = gen.ensure(workload, seed, cache)
    # keep the cache bounded: the few most recently used seeds stay
    os.utime(d)
    seeds = sorted((p for p in (cache / workload).iterdir() if p != d),
                   key=lambda p: p.stat().st_mtime, reverse=True)
    for old in seeds[KEEP_SEEDS - 1:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_jvm(a, classpath, java_options, input_dir, deadline):
    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    opts = [o for o in java_options if not o.startswith("-Xmx")]
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'tmp'}"] + opts +
           ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inputs", str(input_dir), "--work", str(work),
            "--out", str(result), "--python", sys.executable,
            "--feeder", str(HERE / "feeder.py"), "--tables", str(TABLES)])
    log = WORK / "jvm.log"
    with open(log, "w") as f:
        # set-up time counts from here: the JVM's launch
        cmd += ["--launched-ms", str(int(time.time() * 1000))]
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload timed out, see {log}")
    if p.returncode != 0 or not result.exists():
        tail = log.read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"workload failed (exit {p.returncode}), see {log}")
    return json.loads(result.read_text())


def verdict(res, mismatches):
    """The result line's fields: a mismatch fails the run and counts as a
    failed operation."""
    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, int(res["failed"]) + len(mismatches))
    return not mismatches and res["failed"] == 0, attempted, failed


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if BENCH is None:
        fail("BENCHMARK.json not found at the repository root")
    names = [w["name"] for w in BENCH["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {names}")
    # the generated inputs are sized for at most this many seconds
    if not 1 <= a.seconds <= gen.MAX_SECONDS:
        fail(f"--seconds must be between 1 and {gen.MAX_SECONDS}")

    classpath, java_options = build()
    # the run limit starts after the build: the first run in a checkout
    # pays for compiling the engine
    t_built = time.time()
    input_dir = inputs(a.workload, a.seed)
    t_jvm = time.time()
    res = run_jvm(a, classpath, java_options, input_dir, t_built + RUN_LIMIT_S)
    t_check = time.time()

    import oracle
    mismatches = oracle.CHECKS[a.workload](res["check"])
    for m in mismatches:
        print(f"MISMATCH {m}")
    correct, attempted, failed = verdict(res, mismatches)

    if a.trace:
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: res["layer"].get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in BENCH["per_layer"]}
        metrics["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    else:
        missing = [m["name"] for m in BENCH["end_to_end"] if m["name"] not in res["e2e"]]
        if missing:
            fail(f"runner did not report {missing}")
        metrics = {m["name"]: res["e2e"][m["name"]] for m in BENCH["end_to_end"]}

    context = dict(res["info"])
    context.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                   source_stamp=json.loads((WORK / "build.json").read_text())["stamp"],
                   input_generation_s=round(t_jvm - t_built, 3),
                   jvm_s=round(t_check - t_jvm, 3), check_s=round(time.time() - t_check, 3),
                   wall_s=round(time.time() - t_start, 3))
    for k, v in context.items():
        print(f"info {k} = {json.dumps(v)}")
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']} {m['unit']}")
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t_start))
    (results / f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}.json").write_text(
        json.dumps({"line": line, "context": context, "mismatches": mismatches}, indent=1))
    print(json.dumps(line))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
