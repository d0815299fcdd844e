#!/usr/bin/env python3
"""The graft benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload scan --seed 1 --seconds 30 --trace 0

Builds the engine and the harness from source (once per source tree), makes
the workload's inputs from the seed, runs one closed-loop benchmark JVM on
local[4], checks every op's output against DuckDB, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The full
record of the run (every timed pass, errors, per-key trace numbers, self time
per layer) goes to .bench_build/results/.

    python3 -m unittest discover -s perfbench      # self-tests
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CPUS = 4
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 150
# A fresh JVM's first pass runs ~3x slower than later ones (JIT, codegen
# caches), and lake passes keep getting faster through the fourth.
WARM_PASSES = 3
# Length of one pass of either workload on a 4-core box: a run times
# round(seconds / PASS_S) whole passes.
PASS_S = 4
# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import checks  # noqa: E402
import lake  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


class BenchError(Exception):
    """A run that cannot produce a result: it exits non-zero and prints none."""


def _sources():
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compiles engine + harness with sbt once per source tree; returns the
    runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise BenchError(f"no engine sources at {ENGINE_SRC}")
    digest = hashlib.sha256()
    for f in _sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, f"classpath-{digest.hexdigest()[:16]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt')}",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=fh, text=True, timeout=840)
        fh.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if "perfbench" in ln and ln.count(":") > 3]
    if proc.returncode != 0 or not lines:
        raise BenchError(f"build failed (exit {proc.returncode}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(classpath, plan, work):
    """Runs one harness JVM on `plan`; returns (artifact, launch epoch ms)."""
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", plan_path])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        launched = time.time() * 1000
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(plan["artifact"]):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"benchmark JVM exited {code}:\n{tail}")
    with open(plan["artifact"]) as fh:
        return json.load(fh), launched


def make_plan(workload, seed, seconds, trace, work, data, inputs):
    """The JVM's plan: WARM_PASSES warm-up passes, then round(seconds / PASS_S) timed
    passes (two at least when traced), each a seeded permutation of the
    workload's keys after its fixed prefix."""
    rng = random.Random(seed)
    w = workloads.WORKLOADS[workload]
    def order():
        keys = list(w["keys"])
        rng.shuffle(keys)
        return list(w["prefix"]) + keys
    timed = max(2 if trace else 1, round(seconds / PASS_S))
    return {
        "data_dir": data, "out_dir": os.path.join(work, "out"),
        "local_dir": os.path.join(work, "local"),
        "warehouse_dir": os.path.join(work, "warehouse"),
        "lake_dir": os.path.join(work, "lake"), "artifact": os.path.join(work, "artifact.json"),
        "trace": bool(trace), "cpus": CPUS,
        "warm": [order() for _ in range(WARM_PASSES)],
        "passes": [order() for _ in range(timed)],
        **{k: inputs[k] for k in ("csv", "json") if k in inputs},
    }


def run(workload, seed, seconds, trace):
    """One benchmark run; returns (result line, full record)."""
    classpath = build()
    w = workloads.WORKLOADS[workload]
    data = workloads.data_dir(w["scale"], BUILD)
    # Registry outputs already found equal to their DuckDB oracle on this
    # data dir, by hash; any other output is written out and checked.
    verified_path = os.path.join(
        BUILD, "verified", hashlib.sha256(data.encode()).hexdigest()[:16] + ".json")
    verified = {}
    if os.path.exists(verified_path):
        with open(verified_path) as fh:
            verified = json.load(fh)
    work = os.path.join(BUILD, "work", f"{workload}-s{seed}-t{trace}-p{os.getpid()}")
    os.makedirs(work)
    try:
        inputs = lake.generate(seed, os.path.join(work, "inputs")) if w["prefix"] else {}
        plan = make_plan(workload, seed, seconds, trace, work, data, inputs)
        plan["verified"] = verified
        art, launched = run_jvm(classpath, plan, work)
        art["launched"] = launched
        # What the engine left in its temp dir; deleted with the run's dir.
        art["engine_tmp_leftovers"] = sorted(os.listdir(os.path.join(work, "tmp")))
        art["verdicts"] = checks.Checker(data, inputs).verdicts(art)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(work):
        raise BenchError(f"run left {work} behind")
    for key, by_hash in art["verdicts"].items():
        if not key.startswith("etl."):
            verified.setdefault(key, []).extend(h for h, why in by_hash.items() if why is None)
    os.makedirs(os.path.dirname(verified_path), exist_ok=True)
    with open(verified_path + f".{os.getpid()}", "w") as fh:
        json.dump(verified, fh)
    os.replace(verified_path + f".{os.getpid()}", verified_path)
    for key, hashes in verified.items():
        for h in hashes:
            art["verdicts"].setdefault(key, {}).setdefault(h, None)
    return summarize(workload, seed, trace, art, inputs)


def summarize(workload, seed, trace, art, inputs):
    expected = inputs.get("expected", {})
    attempted = failed = checked = wrong = 0
    errors, wrong_ops = [], []
    for op in art["ops"]:
        attempted += 1
        if not op["ok"]:
            failed += 1
            errors.append(f"{op['name']} (pass {op['pass']}): {op['error']}")
            continue
        checked += 1
        why = checks.op_wrong(op, art["verdicts"], expected)
        if why:
            wrong += 1
            wrong_ops.append(f"{op['name']} (pass {op['pass']}): {why}")
    warm_check_ms = sum(o["check_ms"] for o in art["ops"] if o["pass"] < 0)
    e2e, tail_info = metrics.end_to_end(
        [o for o in art["ops"] if o["pass"] >= 0 and not o["traced"]],
        [p for p in art["passes"] if not p["traced"]],
        art["launched"], art["warm_end"] - warm_check_ms, art["vm_hwm_kb"])
    record = {
        "workload": workload, "seed": seed, "trace": trace,
        "attempted": attempted, "failed": failed, "checked": checked, "wrong": wrong,
        "failed_frac": metrics.frac(failed, attempted), "wrong_frac": metrics.frac(wrong, checked),
        "errors": errors, "wrong_ops": wrong_ops,
        "error_log_messages": art["error_log_messages"],
        "engine_tmp_leftovers": art["engine_tmp_leftovers"],
        "end_to_end": e2e, **tail_info,
        "passes": metrics.pass_summary(art["passes"], art["ops"]),
        "warm_latency_s": [{o["name"]: o["latency_ms"] / 1000 for o in art["ops"] if o["pass"] == p}
                           for p in range(-1, -WARM_PASSES - 1, -1)],
    }
    if trace:
        per, record["trace"] = metrics.per_layer(art, expected.get("input_bytes", 0))
        per["failed_frac"] = record["failed_frac"]
        per["wrong_frac"] = record["wrong_frac"]
        record["per_layer"] = per
        shown = [(n, u, per[n]) for n, u, *_ in metrics.PER_LAYER]
    else:
        shown = [(n, u, e2e[n]) for n, u, *_ in metrics.END_TO_END]
    result = {"correct": failed == 0 and wrong == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": v, "unit": u} for n, u, v in shown}}
    return result, record


def main(argv=None):
    # A terminated run still stops its JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result, record = run(args.workload, args.seed, args.seconds, args.trace)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"perfbench: record in {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
