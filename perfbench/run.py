#!/usr/bin/env python3
"""Benchmark of the graft engine: builds it from source, runs one workload
in one JVM, checks the outputs against DuckDB and prints one JSON line.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. Workloads, metrics and bounds are
listed in BENCHMARK.json; perfbench/README.md explains them. Build
products and scratch files go to .bench_build/ in the repository root.
Inputs are the read-only sf0.1 fixtures TESTDATA.md lists, or
$PERFBENCH_DATA, copied afresh for each run; the engine's artifact cache
lives in /tmp/graft_cache, where the program puts it, and every entry a
run creates is deleted when it ends.
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
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.1")
CACHE = "/tmp/graft_cache"
REPLAY = "/tmp/graft_replay"
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def run(cmd, cwd, out_path, timeout, env=None):
    """Run a child in its own process group; kill the group on timeout."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp():
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("[perfbench] no src/main/scala next to perfbench/: "
                 "run from a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g", "-Dsbt.offline=true"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    log("building (sbt compile) ...")
    t = time.time()
    rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
              "export Runtime/fullClasspath"], HERE, log_path, 800, env)
    lines = open(log_path).read().splitlines()
    cp = [l for l in lines if "sbt-target" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        print("\n".join(lines[-30:]))
        sys.exit(f"[perfbench] build failed (rc={rc})")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return cp[-1].strip(), True


def listing(d):
    return [os.path.join(d, e) for e in os.listdir(d)] \
        if os.path.isdir(d) else []


def shared():
    """Artifact cache entries and stream replay dirs: what the program
    keeps in /tmp across processes, keyed by fixture dir."""
    return {e for n in listing(CACHE) for e in listing(n)} | set(listing(REPLAY))


def oracle_failures(checks, out):
    """Compare the checked results with their SparkEntry.oracleSql entries
    through the repository's check.py (DuckDB); the approximate queries,
    which have no oracle, need rows > 0."""
    import pyarrow.parquet as pq
    bad = []
    for c in checks:
        if not c["oracle"]:
            try:
                rows = pq.read_table(c["dir"]).num_rows
            except Exception as e:  # noqa: BLE001 - unreadable output fails
                rows, why = 0, f"unreadable output: {e}"
            else:
                why = "no rows"
            if rows == 0:
                bad.append(f"{c['query']}: {why}")
    keys = [c["query"] for c in checks if c["oracle"]]
    if not keys:
        return bad
    p = subprocess.run([sys.executable, os.path.join(ROOT, "check.py"), DATA,
                        out, *keys], capture_output=True, text=True, timeout=150)
    passed = {l.split()[1] for l in p.stdout.splitlines()
              if l.startswith("PASS ")}
    fails = {l.split()[1].rstrip(":"): l[len("FAIL "):]
             for l in p.stdout.splitlines() if l.startswith("FAIL ")}
    for k in keys:
        if k not in passed:
            bad.append(fails.get(k, f"{k}: no check.py verdict "
                                    f"(rc={p.returncode}) {p.stderr[-300:]}"))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if not os.path.isdir(DATA):
        sys.exit(f"[perfbench] fixture dir {DATA} missing")

    cp, built = build()
    work = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    shared_before = shared()
    try:
        t0 = int(time.time() * 1000)
        cmd = ["java", *OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
               f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--data", DATA, "--work", work,
               "--t0", str(t0)]
        jvm_log = os.path.join(work, "jvm.log")
        rc = run(cmd, ROOT, jvm_log, 840 if built else 170)
        jvm_s = time.time() - t0 / 1000
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            print("\n".join(open(jvm_log).read().splitlines()[-40:]))
            sys.exit(f"[perfbench] benchmark JVM failed (rc={rc})")
        res = json.load(open(res_path))
        t = time.time()
        bad = oracle_failures(res["checks"], os.path.join(work, "out"))
        log(f"JVM {jvm_s:.1f} s, oracle compare {time.time() - t:.1f} s")
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, f"spans_{a.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # the JVM deletes what it built; this covers a JVM that died
        for e in shared() - shared_before:
            shutil.rmtree(e, ignore_errors=True)

    for f in res["failures"] + bad:
        log(f"FAIL {f}")
    attempted = res["ops"] + res["check_attempts"] + len(res["checks"])
    failed = res["failed_ops"] + res["check_failures"] + len(bad)
    builds = res["timed_builds"]
    log(f"workload {a.workload} seed {a.seed} on {res['cpus']} cpus: "
        f"{res['ops']} timed ops over {len(res['per_kind_median_s'])} kinds")
    log("median s per kind: " + ", ".join(
        f"{k} {v:.3f}" for k, v in sorted(res["per_kind_median_s"].items())))
    log(f"setup: {res['session_s']:.1f} s to a Spark session, "
        f"{res['end_to_end']['setup_s'] - res['session_s']:.1f} s of "
        "fixture copy, warm-up and server start")
    log(f"artifact.builds in the timed units: {builds}"
        + (" (WARNING: warm workload built artifacts while timed)"
           if res["warm"] and builds else ""))
    e2e = res["end_to_end"]
    names = {"batch_mix": ("query", "s"), "lakehouse_cold": ("query", "s"),
             "serve_api": ("req", "ms")}[a.workload]
    scale = 1e-3 if names[1] == "s" else 1.0
    log(f"{names[0]}_p50_{names[1]} = {e2e['op_p50_ms'] * scale:.4f} {names[1]}")
    log(f"{names[0]}_tail_{names[1]} = {e2e['op_tail_ms'] * scale:.4f} "
        f"{names[1]} (Harrell-Davis p{res['tail_pct']} of n={res['tail_n']})")
    if a.workload == "serve_api":
        log(f"req_per_s = {e2e['ops_per_s']:.4f} 1/s")
    if res["stored_bytes_ratio"] >= 0:
        log(f"stored_bytes_ratio = {res['stored_bytes_ratio']:.4f}")
    log(f"fail_ratio = {failed / attempted:.4f} ({failed} of {attempted})")
    log(f"cache entries and replay dirs left behind: "
        f"{len(shared() - shared_before)}")

    kind = "per_layer" if a.trace else "end_to_end"
    got = res[kind]
    metrics = {}
    for m in spec[kind]:
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        log(f"{m['name']} = {got[m['name']]:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
