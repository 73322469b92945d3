#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (sbt, offline) when they
changed, generates the seed's inputs, runs one workload in one JVM at
local[<cores>], checks every output, and prints the metrics. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics and a span tree is written beside the record.
The exit code is 0 only when every output was correct. See README.md.
"""
import argparse
import glob
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
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import record  # noqa: E402

WORKLOADS = ["core_sql", "stream_events"]
DEADLINE_S = 170  # whole command, builds excepted
JVM_HEAP = "3g"
JVM_FLAGS = [f"-Xmx{JVM_HEAP}"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_hash():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass
    return p.returncode


def build():
    """Compile program + harness when sources changed; return the classpath."""
    stamp = os.path.join(WORK, "build.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("hash") == want:
            return got["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.forcestart=false", "-Xmx2g"]).strip()
    out_path = os.path.join(WORK, "build.log")
    log("building program and harness (sbt, offline)")
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 850, cwd=HERE, env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {out_path}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"hash": want, "classpath": classpath}, f)
    return classpath


# ---------------------------------------------------------------- inputs

def inputs(seed):
    """Generate (once per seed) the tier and the stream files."""
    base = os.path.join(WORK, "inputs", f"s{seed}")
    tier, events = os.path.join(base, "tier"), os.path.join(base, "events")
    done = os.path.join(base, "done.json")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        gen.tier(seed, tier)
        shape = gen.events(seed, tier, events)
        with open(done, "w") as f:
            json.dump(shape, f)
    with open(done) as f:
        return tier, events, json.load(f)


# ---------------------------------------------------------------- harness

def run_harness(classpath, workload, tier, events, out, seconds, trace, budget_s):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += JVM_FLAGS + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-cp", classpath, "perfbench.Harness",
            "--workload", workload, "--tier", tier, "--events", events, "--out", out,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--window_s", str(gen.STREAM["window_s"]),
            "--watermark_delay_s", str(gen.STREAM["watermark_delay_s"])]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    launched = time.time()
    with open(os.path.join(out, "harness.log"), "w") as logf:
        try:
            rc = run_group(cmd, budget_s, cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {budget_s:.0f} s; see {out}/harness.log", 1)
    if rc != 0:
        fail(f"harness exited {rc}; see {out}/harness.log", 1)
    with open(os.path.join(out, "record.json")) as f:
        return launched, json.load(f)


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops the harness JVM (run_group's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no program sources next to the benchmark; run from the root of a checkout")
    classpath = build()
    t_ready = time.time()
    tier, events, shape = inputs(a.seed)
    out = os.path.join(WORK, "out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # the deadline excludes a build; checks after the harness need ~15 s
    budget = DEADLINE_S - (time.time() - t_ready) - 15
    launched, rec = run_harness(classpath, a.workload, tier, events, out, a.seconds, a.trace == 1,
                                budget)
    check = record.check(rec, out, tier, events, os.path.join(WORK, "oracle", f"s{a.seed}"))
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": rec["cores"], "calib_s": rec["calib_s"], "peak_rss_mb": rec["peak_rss_mb"],
            "inputs": shape, "check": check}
    if a.trace:
        metrics, full["traced_passes"], spans = record.layer_metrics(rec, check)
        record.write(os.path.join(out, "spans.json"), spans)
    else:
        metrics = record.end_to_end(rec, launched, check)
        full["samples"] = record.samples(rec)
    full["metrics"] = metrics
    record.write(os.path.join(out, "result.json"), full)
    for line in check["problems"][:20]:
        log(f"MISMATCH {line}")
    log(f"{a.workload} seed {a.seed}: attempted {check['attempted']}, failed {check['failed']}, "
        f"calib {rec['calib_s']:.3f} s, record {os.path.relpath(out, ROOT)}/result.json")
    print(record.summary_line(check, metrics), flush=True)
    return 0 if check["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
