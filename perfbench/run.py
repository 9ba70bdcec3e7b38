#!/usr/bin/env python3
"""The graft benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload sql_tpch --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness from
source with sbt (cached by a hash of the sources), generates the workload's
inputs from the seed, runs the workload in one JVM against the compiled
engine, checks the outputs in DuckDB, and prints the metrics. The last line
of standard output is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Working files go to .bench_build/perfbench.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("sql_tpch", "curation_batch", "dedup_incremental")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_REPS = 3
HEAP = "2g"
CHECK_SECONDS = 25
UNITS = {"setup_s": "s", "latency_p50_s": "s", "items_per_s": "1/s"}
# The same module openings the engine's build passes to forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in roots:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compiles the engine and the harness; returns the runtime classpath and
    whether this call built it."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a checkout of the repository")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cache = os.path.join(STATE, "build.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"], False
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    classpath = lines[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath, True


def inputs(workload, seed):
    """Generates the workload's inputs once per seed and generator version
    (a hash of gen.py); returns (dir, stats)."""
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(STATE, "data", workload, f"seed{seed}-{version}")
    stats_path = os.path.join(data, "inputs.json")
    if not os.path.exists(stats_path):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(workload, seed, data)
    with open(stats_path) as fh:
        return data, json.load(fh)


def run_jvm(classpath, args, work, timeout):
    # a fixed heap keeps heap growth and its collections out of the timings
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True)
    try:
        output, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"workload JVM did not finish within {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(output[-6000:])
        fail(f"workload JVM exited with code {proc.returncode}")


def check_outputs(workload, data, out, events):
    """Returns (attempted, failed, reasons). An operation fails when it
    raised or when its output does not match the oracle."""
    with open(os.path.join(out, "oracles.json")) as fh:
        oracles = json.load(fh)
    ops = [e for e in events if e["t"] == "op"]
    errors = {o["seq"]: o["error"] for o in ops if o["error"]}
    if workload == "sql_tpch":
        wrong = check.sql_tpch(data, out, oracles, [(o["id"], o["name"]) for o in ops])
        bad = {o["seq"]: wrong[o["id"]] for o in ops if wrong[o["id"]]}
    elif workload == "curation_batch":
        wrong = check.curation_batch(data, out, oracles, [o["cycle"] for o in ops])
        bad = {o["seq"]: wrong[o["cycle"]] for o in ops if wrong[o["cycle"]]}
    else:
        # the oracle recomputes every pair of index ∪ batches so far, at a
        # cost that grows with the square of the docs, so it checks the
        # first timed batch: the first probe of an index grown by an append
        batches = [ops[0]["cycle"] + 1]
        wrong = check.dedup_incremental(data, out, oracles["q44_dedup_minhash_lsh"], batches)
        bad = {o["seq"]: wrong[o["cycle"] + 1] for o in ops if wrong.get(o["cycle"] + 1)}
    reasons = {**bad, **errors}
    return len(ops), len(reasons), reasons


def main():
    # a terminated run still stops and waits for the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    classpath, built = build()
    data, stats = inputs(a.workload, a.seed)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out, work = os.path.join(run_dir, "out"), os.path.join(run_dir, "work")
    os.makedirs(out)
    os.makedirs(work)
    cores = os.cpu_count() or 1
    # the whole run ends within 180 s (900 s when it builds); checks follow the JVM
    budget = (880 if built else 175) - CHECK_SECONDS - (time.time() - started)
    run_jvm(classpath, ["--workload", a.workload, "--data", data, "--out", out, "--work", work,
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--cores", str(cores), "--reps", str(SETUP_REPS), "--seed", str(a.seed)],
            work, budget)
    jvm_done = time.time()
    with open(os.path.join(out, "events.jsonl")) as fh:
        events = [json.loads(line) for line in fh]
    ops = [e for e in events if e["t"] == "op"]
    if not ops:
        fail("no operation completed")
    attempted, failed, reasons = check_outputs(a.workload, data, out, events)
    log(f"JVM {jvm_done - started:.1f} s, checks {time.time() - jvm_done:.1f} s")
    for seq, why in sorted(reasons.items()):
        log(f"operation {seq} failed: {why[:300]}")
    host = next(e for e in events if e["t"] == "host")
    log(f"host: nproc={host['cores']} master={host['master']} heap={host['heap_mb']} MB "
        f"spark={host['spark']} java={host['java']}")
    log(f"inputs: {json.dumps(stats, sort_keys=True)}")

    if a.trace:
        figures = metrics.per_layer(events)
        if figures["trace.overhead_ratio"] is None:
            fail("no operation ran both traced and untraced: tracing overhead is n/a")
        result = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in sorted(figures.items())}
        with open(os.path.join(run_dir, "trace.json"), "w") as fh:
            json.dump(metrics.chrome_trace(events, a.workload), fh)
        log(f"trace written to {os.path.relpath(os.path.join(run_dir, 'trace.json'), ROOT)}")
    else:
        figures = metrics.end_to_end(events, a.workload, stats)
        tail = figures.pop("latency_tail")
        if tail["percentile"] is None:
            print(f"latency_tail_s: n/a ({tail['samples']} samples; the tail needs more than 10)")
        else:
            print(f"latency_tail_s: {tail['value_s']:.4f} s (p{tail['percentile']}, "
                  f"{tail['samples']} samples)")
        for family in metrics.CURATION_FAMILIES:
            if family in figures:
                print(f"{family}: {figures.pop(family):.4f} s (median over passes)")
        result = {k: {"value": v, "unit": UNITS[k]} for k, v in figures.items()}
    print(f"failed_ratio: {failed / attempted:.4f} ratio ({failed} of {attempted} operations)")
    for name, m in result.items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
