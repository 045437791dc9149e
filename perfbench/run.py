#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload service_mixed --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
draws the workload's inputs from the seed, runs one JVM, and prints one JSON
line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The full artifact (config record, sample,
failures, per-layer detail) and, when traced, the spans are written under
.bench_build/artifacts/. See perfbench/README.md.
"""
import argparse
import fcntl
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import sample  # noqa: E402

WORKLOADS = {
    "service_mixed": None,
    "queries_floor": ("sf0.001", "queries_floor.json"),
    "queries_heavy": ("sf0.1", "queries_heavy.json"),
}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless the stamp says current.
    Returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (build.sbt, src/main/scala) in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        current = os.path.isfile(stamp_file) and os.path.isfile(cp_file) and \
            open(stamp_file).read() == stamp
        if not current:
            env = dict(os.environ)
            env["COURSIER_MODE"] = "offline"
            env["SBT_OPTS"] = " ".join([
                "-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" +
                os.path.expanduser("~/.sbt/repositories"),
                "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                "-Xmx2g"])
            log = os.path.join(BUILD, "build.log")
            t0 = time.time()
            with open(log, "w") as out:
                rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "compile", "writeClasspath"],
                               cwd=HERE, env=env, stdout=out,
                               stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
            if rc != 0:
                sys.stderr.write(open(log).read()[-4000:])
                fail(f"build failed (rc={rc}); log in {log}")
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
            print(f"[perfbench] built in {time.time() - t0:.1f} s",
                  file=sys.stderr)
    return open(cp_file).read().strip()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group and
    wait, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def cpu_count():
    """CPUs this process may use; PERFBENCH_CPUS overrides. Validated again
    (against what the JVM sees) inside the harness."""
    raw = os.environ.get("PERFBENCH_CPUS")
    if raw is None:
        return str(len(os.sched_getaffinity(0)))
    return raw


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["calibrate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--calibrate-sf", help="calibrate: sf dir name under data/")
    ap.add_argument("--calibrate-names", default="",
                    help="calibrate: comma-separated query names")
    ap.add_argument("--calibrate-results", type=int, choices=[0, 1], default=1,
                    help="calibrate: 0 re-times the pool only, keeping the "
                         "table's checked results")
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        fail("--seconds must be positive")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    artifacts = os.path.join(BUILD, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    out = os.path.join(artifacts, f"{tag}.json")
    jargs = ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--cpus", cpu_count(), "--work", work,
             "--out", out]
    if a.workload == "calibrate":
        jargs += ["--sf", os.path.join(HERE, "data", a.calibrate_sf),
                  "--sample", a.calibrate_names,
                  "--results", str(a.calibrate_results)]
    elif WORKLOADS[a.workload]:
        sf, table = WORKLOADS[a.workload]
        names = sample.draw(a.workload, a.seed,
                            sample.load(os.path.join(HERE, "expected", table)))
        jargs += ["--sf", os.path.join(HERE, "data", sf),
                  "--expected", os.path.join(HERE, "expected", table),
                  "--sample", ",".join(names)]

    java = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for o in JDK_OPENS:
        java += ["--add-opens", f"{o}=ALL-UNNAMED"]
    java += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={work}",
             "-cp", cp, "perfbench.Main"] + jargs

    # fresh scratch (tenant storage, Spark local dirs, java.io.tmpdir) per run
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(artifacts, f"{tag}.log")
    # a calibration sweeps a whole pool and is not held to the run limit
    timeout = None if a.workload == "calibrate" else JVM_TIMEOUT_S
    try:
        with open(log, "w") as lf:
            rc = run_child(java, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log in {log}", 4)
    finally:
        if a.workload == "calibrate" and os.path.isdir(os.path.join(work, "verify")):
            kept = os.path.join(artifacts, f"verify-{a.calibrate_sf}")
            shutil.rmtree(kept, ignore_errors=True)
            shutil.move(os.path.join(work, "verify"), kept)
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"JVM failed (rc={rc}); log in {log}", 3)

    with open(out) as fh:
        art = json.load(fh)
    if a.workload == "calibrate":
        print(json.dumps({"calibrated": len(art["detail"]),
                          "failures": art["failures"], "artifact": out}))
        return
    if a.trace == 1:
        add_overhead(art, os.path.join(artifacts, f"{a.workload}-s{a.seed}-t0.json"))
        with open(out, "w") as fh:
            json.dump(art, fh, indent=1)
    if art["failures"]:
        print("[perfbench] failures:\n  " + "\n  ".join(art["failures"]),
              file=sys.stderr)
    metrics = {}
    if a.trace == 0:
        for m in spec["end_to_end"]:
            v = art["end_to_end"].get(m["name"])
            if v is None:
                fail(f"workload {a.workload} did not report {m['name']}", 5)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in spec["per_layer"]:
            v = art["per_layer"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": art["failed"] == 0,
                      "attempted": art["attempted"], "failed": art["failed"],
                      "metrics": metrics}))


def add_overhead(traced, untraced_path):
    """Tracing overhead: traced end-to-end metrics minus the untraced run of
    the same workload and seed, when that run's artifact is present."""
    if not os.path.isfile(untraced_path):
        traced["trace_overhead"] = "no untraced artifact for this seed"
        return
    with open(untraced_path) as fh:
        base = json.load(fh)["end_to_end"]
    traced["trace_overhead"] = {
        k: {"traced": v, "untraced": base[k], "diff": v - base[k]}
        for k, v in traced["end_to_end"].items() if k in base}
    # the traced run's self times against the untraced warm path they
    # decompose (one warm pass of the sample)
    layers = traced["per_layer"]
    if "queries.warm1_wall_s" in layers:
        self_sum = sum(v for k, v in layers.items() if k.startswith("self."))
        traced["reconcile_vs_untraced"] = {
            "self_sum_s": self_sum, "untraced_warm_path_s": base["warm_path_s"],
            "rel_diff": self_sum / base["warm_path_s"] - 1}


if __name__ == "__main__":
    main()
