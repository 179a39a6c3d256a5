#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <analytics_suite|table_mixed>
        --seed <n> --seconds <s> --trace <0|1> [--out <artifact.json>]

Run from the root of a graft checkout. The first run compiles the library
and the harness with sbt (offline) into the checkout; later runs reuse the
build while the sources are unchanged. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). The
full record, every operation included, goes to the artifact file.
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

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "analytics_sf0.1.tsv")
WORKLOADS = ("analytics_suite", "table_mixed")
CALIBRATION = os.path.join(HERE, "calibration", "analytics_sf0.1_warm.tsv")

JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f))
    return sorted(files)


def fingerprint():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile (only when the sources changed) and return the classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = fingerprint()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        fail("build failed (log: %s)" % log)
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def wait(proc, timeout_s):
    """Wait for `proc`; on timeout kill its whole process group."""
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def run_jvm(cp, args, work, raw_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + JVM_HEAP, "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--work", work, "--out", raw_path, "--expected", EXPECTED,
            "--calibration", CALIBRATION]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        code = wait(proc, RUN_TIMEOUT_S)
    shutil.copy(log, os.path.join(STATE, "%s.log" % args.workload))
    if code != 0 or not os.path.isfile(raw_path):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail("benchmark process %s" % ("timed out" if code is None else "exited with %s" % code), 3)
    with open(raw_path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--out", help="artifact path (default under .bench_build/perfbench/artifacts)")
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail("%s not found: run from the root of a graft checkout" % need)
    for need in (DATA, EXPECTED, CALIBRATION):
        if not os.path.exists(need):
            fail("%s is missing" % need)

    cp = classpath()
    work = os.path.join(STATE, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args, work, os.path.join(work, "raw.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = raw["host_samples"]
    metrics.flag_stalled(raw["ops"], metrics.stalls(samples))
    checks_ok = all(c["ok"] for c in raw["checks"].values())
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    e2e = metrics.end_to_end(raw)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "checks": raw["checks"], "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "detail": metrics.workload_detail(raw),
        "setup": raw["setup"], "values": raw["values"], "stalls": metrics.stalls(samples),
        "stalled_ops": sum(1 for o in metrics.timed_ops(raw) if o["stalled"]),
        "ops": raw["ops"],
    }
    out_dir = os.path.join(STATE, "artifacts")
    if args.trace:
        artifact["per_layer"] = metrics.per_layer(raw)
        artifact["spans"] = raw["spans"]
        untraced = os.path.join(out_dir, "%s-s%d-t0.json" % (args.workload, args.seed))
        if os.path.isfile(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            artifact["trace_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
    out = args.out or os.path.join(out_dir, "%s-s%d-t%d.json" % (args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(artifact, fh)

    chosen = artifact["per_layer"] if args.trace else e2e
    units = metrics.E2E_UNITS if not args.trace else metrics.LAYER_UNITS
    print(json.dumps({
        "correct": checks_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
