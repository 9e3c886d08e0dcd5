#!/usr/bin/env python3
"""Build the library and the benchmark from source, run one workload, print its result.

One run:
    python3 perfbench/run.py --workload validate --seed 1 --seconds 6 --trace 0

The last stdout line is the result: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, from a run that records a span around every
library call. Lines before it print each metric with its unit.

Every workload, untraced and traced, with the tracing overhead:
    python3 perfbench/run.py --report [--seed 7] [--seconds 20]

Seed 9001 is held out: tune on other seeds, confirm a claimed gain on it.

The build (sbt, offline) runs once per source fingerprint; its classpath is
kept under perfbench/target. Each run writes only under a fresh directory in
perfbench/target and removes it when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-build.sha256")
WORKLOADS = ("validate", "curate", "lifecycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the root build's javaOptions).
JAVA_OPTS = [
    opt
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for opt in ("--add-opens", pkg + "=ALL-UNNAMED")
] + ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
     "-Dspark.sql.session.timeZone=UTC"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: both build definitions and both source trees."""
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for top in (os.path.join(base, "project"), os.path.join(base, "src", "main")):
            for d, dirs, names in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
                files += [os.path.join(d, n) for n in sorted(names)
                          if n.endswith((".scala", ".java", ".sbt"))]
    return sorted(set(f for f in files if os.path.isfile(f)))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the library's sources (build.sbt, src/main/scala) are not next to perfbench/")
    fp = fingerprint()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh, open(CLASSPATH) as cp:
            entries = cp.read().strip().split(os.pathsep)
            if fh.read().strip() == fp and all(os.path.exists(e) for e in entries):
                return os.pathsep.join(entries)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    try:
        # sbt's own output goes to stderr: stdout carries only results
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.forcestart=false", "writeClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {rc})", 1)
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")
    with open(CLASSPATH) as cp:
        return cp.read().strip()


def run_workload(cp, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns its record."""
    scratch = os.path.join(TARGET, f"run-{workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={scratch}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--scratch", scratch]
    if trace:
        cmd += ["--trace-out", os.path.join(TARGET, "traces", f"{workload}-seed{seed}.jsonl")]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{workload} run timed out after {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    records = [l[len("PERFBENCH_RECORD "):] for l in proc.stdout.splitlines()
               if l.startswith("PERFBENCH_RECORD ")]
    if proc.returncode != 0 or not records:
        fail(f"{workload} run failed (exit {proc.returncode})", 1)
    return json.loads(records[-1])


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_value(record, name):
    """A per-layer metric; 0 for a layer this workload never called."""
    special = {
        # executor CPU of curate's first job: the ledger pass, the only
        # scan of the raw crawl input
        "ops.pipeline.curate.ledger_cpu_s":
            record["layers"].get("ops.pipeline.curate.first_job_cpu_s"),
        "lifecycle.compact_step.p50_s": record["e2e"].get("compact_p50_s"),
        "lifecycle.state.bytes_per_input_byte": record["state"].get("bytes_stored_per_input_byte"),
    }
    v = special[name] if name in special else record["layers"].get(name)
    return 0.0 if v is None else v


def result(record, spec, trace):
    """The result object of one run, per BENCHMARK.json."""
    if trace:
        metrics = {m["name"]: {"value": layer_value(record, m["name"]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in record["e2e"]]
        if missing:
            for f in record["failures"]:
                print("perfbench: " + f, file=sys.stderr)
            fail("no completed operation to measure " + ", ".join(missing), 1)
        metrics = {m["name"]: {"value": record["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {
        "correct": record["failed"] == 0 and record["setup_failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def describe(record, res):
    """Human-readable lines for one run."""
    w = record["workload"]
    print(f"# {w} seed={record['seed']} trace={int(record['trace'])} cores={record['cores']} "
          f"clients={record['clients']} ops={record['attempted']} failed={record['failed']} "
          f"loadavg={record['loadavg_before']}->{record['loadavg_after']}")
    for name, m in sorted(res["metrics"].items()):
        if not record["trace"] or m["value"] != 0:
            print(f"{w}  {name}  {m['value']:.6g}  {m['unit']}")
    for step, t in sorted(record["tails"].items()):
        print(f"{w}  {step}_tail_s is p{t['percentile']} of {t['samples']} samples")
    for k, v in sorted(record["state"].items()):
        print(f"{w}  {k}  {v:.6g}  ratio")
    if "compact_p50_s" in record["e2e"]:
        print(f"{w}  compact_p50_s  {record['e2e']['compact_p50_s']:.6g}  s")
    for f in record["failures"]:
        print(f"{w}  FAILED: {f}")


def report(cp, spec, seed, seconds):
    """Every workload untraced then traced on one seed: metrics, overhead, input identity."""
    summary = {"correct": True, "seed": seed, "e2e": {}, "overhead_pct": {}, "inputs_match": {}}
    for w in WORKLOADS:
        plain = run_workload(cp, w, seed, seconds, trace=False)
        traced = run_workload(cp, w, seed, seconds, trace=True)
        res0, res1 = result(plain, spec, False), result(traced, spec, True)
        describe(plain, res0)
        describe(traced, res1)
        n = min(len(plain["input_hashes"]), len(traced["input_hashes"]))
        same = all(plain[k][:n] == traced[k][:n] for k in ("input_hashes", "output_hashes"))
        print(f"{w}  inputs and outputs of the first {n} operations identical "
              f"untraced and traced: {same}")
        over = {}
        for m in spec["end_to_end"]:
            a, b = plain["e2e"][m["name"]], traced["e2e"].get(m["name"])
            if b is not None:
                over[m["name"]] = round(100.0 * (b - a) / a, 1)
                print(f"{w}  tracing overhead {m['name']}  {b - a:+.6g} {m['unit']} ({over[m['name']]:+.1f}%)")
        summary["e2e"][w] = {k: float(f"{v['value']:.4g}") for k, v in res0["metrics"].items()}
        summary["overhead_pct"][w] = over
        summary["inputs_match"][w] = same
        summary["correct"] = summary["correct"] and res0["correct"] and res1["correct"] and same
    print(json.dumps(summary, separators=(",", ":")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    a = ap.parse_args()
    if not a.report and a.workload is None:
        ap.error("--workload is required (or --report)")
    spec = load_spec()
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    cp = classpath()
    if a.report:
        report(cp, spec, a.seed, seconds)
        return
    record = run_workload(cp, a.workload, a.seed, seconds, a.trace == 1)
    res = result(record, spec, a.trace == 1)
    describe(record, res)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
