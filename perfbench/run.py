#!/usr/bin/env python3
"""Outside-in benchmark of the graft Spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the engine and the harness from source with sbt (once per
source state, cached under .bench_build/), generate the seeded inputs,
run the harness JVM (perfbench/harness) on local[nproc], check every
workload query's output against the engine's DuckDB oracle SQL, and print
one JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Per-run files (detail.json, and spans.json when traced) are
written under .bench_build/runs/. Exits non-zero, without a result line,
when the build or the run fails, and non-zero after printing the result
when an output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
RUN_LIMIT_S = 170  # a run must end within 180 s, not counting a build
BUILD_LIMIT_S = 800
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", os.path.join("src", "main"), os.path.relpath(HARNESS, ROOT)):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            parts = os.path.relpath(f, ROOT).split(os.sep)
            if "target" in parts or parts.count("project") > 1 and "src" not in parts:
                continue
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # no perf-data file and no temp files outside the checkout
    opts = ["-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                    cwd=HARNESS, env=env, timeout=BUILD_LIMIT_S, capture=True)
    cp = out.strip().splitlines()[-1] if out.strip() else ""
    if "classes" not in cp:
        raise SystemExit("build failed: sbt printed no classpath")
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_child(cmd, cwd, env, timeout, capture=False):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"{cmd[0]} exceeded {timeout:.0f} s")
    if p.returncode != 0:
        raise SystemExit(f"{cmd[0]} exited with {p.returncode}")
    return out


def end_to_end(h):
    timed = [p for p in h["passes"] if not p["warm"]]
    passes = {p["pass"] for p in timed}
    lat = [e["wall_s"] for e in h["execs"] if e["pass"] in passes]
    return {
        "setup_s": ((h["setup_end"] - h["jvm_start"]) / 1000 - h["store_build_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in timed), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "cpu_s": (statistics.median(p["app_cpu_s"] for p in timed), "s"),
        "heap_retained_mb": (max(p["heap_mb"] for p in timed), "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        raise SystemExit(f"unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("run from the root of an engine checkout (no build.sbt here)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    t_start = time.time()  # a run that builds may take longer; the rest may not

    data = os.path.join(BUILD, "data", f"{a.workload}-s{a.seed}")
    if not os.path.exists(os.path.join(data, "done")):
        sizes = gen.generate(data, w["sf"], a.seed, w["event_replicas"])
        with open(os.path.join(data, "done"), "w") as f:
            json.dump(sizes, f)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # a fixed-size heap: heap resizing was one source of run-to-run spread
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.local.dir=" + tmp]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", a.workload, "--data", data, "--out", run_dir,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--clients", str(w["clients"]), "--cores", str(cores), "--seed", str(a.seed),
              "--queries", ",".join(w["queries"]), "--stores", ",".join(w["stores"]),
              "--sink", "1" if w["sink"] else "0"])
    log(f"running {a.workload} seed {a.seed} on local[{cores}]")
    run_child(cmd, cwd=ROOT, env=dict(os.environ, SPARK_LOCAL_DIRS=tmp),
              timeout=max(10, RUN_LIMIT_S - 25 - (time.time() - t_start)))
    with open(os.path.join(run_dir, "harness.json")) as f:
        h = json.load(f)

    # correctness, untimed: the first warm pass's dump against the oracle
    mismatches = oracle.check(h["oracle"], w["queries"], data,
                              os.path.join(run_dir, "results"), log)
    timed = {p["pass"] for p in h["passes"] if not p["warm"]}
    execs = [e for e in h["execs"] if e["pass"] in timed]
    attempted = len(execs) + len(w["queries"])
    failed = sum(not e["ok"] for e in execs) + len(mismatches)

    trace = None
    if a.trace:
        with open(os.path.join(run_dir, "trace.json")) as f:
            trace = json.load(f)
        every_layer = layers.per_layer(h, trace, w)
        metrics = {k: v for k, v in every_layer.items() if k not in layers.DETAIL_ONLY}
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(layers.spans_with_self_time(h, trace), f)
    else:
        metrics = end_to_end(h)
    detail = layers.detail(h, trace, w, a.workload, a.seed, attempted, failed, mismatches)
    if a.trace:
        detail["layers"] = {k: v for k, (v, _) in every_layer.items()}
    with open(os.path.join(run_dir, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for d in ("results", "tmp", "warehouse", "sink"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    for name, (v, unit) in metrics.items():
        log(f"{name} = {v:.6g} {unit}")
    log(f"{len(execs)} timed executions, {failed} failed; detail in {run_dir}")
    print(json.dumps({"correct": not mismatches and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
