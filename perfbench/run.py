#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload agent_sql --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (cached under
perfbench/.work/build, keyed by a hash of the sources), generates the
workload's inputs from the seed, computes the DuckDB oracle results,
starts the harness JVM, and checks every result the engine produced. The
last stdout line is one JSON object with the keys correct, attempted,
failed and metrics: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. Any failed, timed-out or wrong operation is named on
stderr and makes the exit code nonzero.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import compare
import layers
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
RUN_TIMEOUT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The harness classpath, compiling first if the sources changed."""
    out = os.path.join(WORK, "build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building engine and harness")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


class Harness:
    """The JVM side, driven through its stdin/stdout handshake."""

    def __init__(self, classpath, workload, work, trace, deadline):
        opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.stderr = open(os.path.join(work, "harness.log"), "w")
        self.proc = subprocess.Popen(
            ["java", *opens, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Harness",
             workload, work, str(trace)],
            cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.stderr, text=True)
        # a hung harness is killed at the deadline; its run then fails
        self.timer = threading.Timer(max(1.0, deadline - time.time()), self.proc.kill)
        self.timer.start()

    def expect(self, marker):
        for line in self.proc.stdout:
            if line.strip() == marker:
                return
        raise RuntimeError(f"harness exited before {marker}")

    def go(self):
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()

    def finish(self):
        try:
            self.proc.wait()
        finally:
            self.stop()
        return self.proc.returncode

    def stop(self):
        self.timer.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.stderr.close()


def verify(expected, work):
    """[(key, why)] for the results that are missing or differ from the oracle."""
    bad = []
    for key, (cols, rows, ordered, subset) in sorted(expected.items()):
        path = os.path.join(work, "out", "results", f"{key}.json")
        if not os.path.exists(path):
            bad.append((key, "no result"))
            continue
        with open(path) as f:
            got = compare.engine_result(json.load(f))
        d = compare.diff(got, (cols, rows), ordered=ordered, columns=subset)
        if d:
            bad.append((key, d))
    return bad


def tally(ops, expected, bad):
    """(attempted, failed): every engine call plus every oracle comparison;
    a call that threw and a result that is missing or wrong each count."""
    calls = [o for o in ops if o["kind"] not in ("check", "day", "poll")]
    attempted = len(calls) + len(expected)
    failed = sum(1 for o in ops if not o["ok"]) + len(bad)
    return attempted, failed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
            "run from a checkout of the repository")
        return 2
    classpath = build()
    start = time.time()
    deadline = start + RUN_TIMEOUT_S
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    plan = wl.prepare(args.seed, args.seconds, work, args.trace)
    plan["seed"] = args.seed
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    generate_s = time.time() - t0

    jvm = Harness(classpath, args.workload, work, args.trace, deadline)
    try:
        jvm.expect("ORACLE_SQL_READY")
        t0 = time.time()
        with open(os.path.join(work, "out", "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        expected = wl.oracles(plan, oracle_sql, work)
        oracle_s = time.time() - t0
        jvm.go()
        jvm.expect("DONE")
        code = jvm.finish()
    except Exception as e:
        jvm.stop()
        log(f"harness failed: {e}; see {os.path.relpath(os.path.join(work, 'harness.log'))}")
        return 3
    if code != 0:
        log(f"harness exited with {code}")
        return 3

    with open(os.path.join(work, "out", "summary.json")) as f:
        summary = json.load(f)
    with open(os.path.join(work, "out", "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    bad = verify(expected, work)
    for key, why in bad:
        log(f"WRONG {key}: {why}")
    for o in ops:
        if not o["ok"]:
            log(f"FAILED {o['op']} ({o['kind']}): {o['error']}")

    setup = {
        "setup_s": summary["timed_start_ms"] / 1e3 - start,
        "generate_s": generate_s,
        "oracle_s": oracle_s,
        "warm_s": summary["warm_s"],
    }
    setup["fixtures_s"] = setup["setup_s"] - generate_s - oracle_s - summary["warm_s"]
    attempted, failed = tally(ops, expected, bad)

    if args.trace:
        values = layers.per_layer(args.workload, ops, summary, setup, wl.landed_bytes(work))
        for o in layers.negative_gaps(ops):
            log(f"negative driver gap: {o['op']} span {o['span']}: "
                f"{o['layers']['driver_gap_ms']} ms")
        units = layers.UNITS
        with open(os.path.join(work, "out", "rollup.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": values}, f,
                      indent=1, sort_keys=True)
    else:
        values = wl.metrics(ops, summary)
        values["setup_s"] = setup["setup_s"]
        values["retained_heap_mb"] = summary["retained_heap_mb"]
        units = layers.E2E_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(values.items())},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
