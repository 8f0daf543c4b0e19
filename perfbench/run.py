#!/usr/bin/env python3
"""graft benchmark: one command per workload, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine and
the benchmark's JVM side with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM with a `local[nproc]` session, measures
for S seconds, checks every result, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
See perfbench/README.md.
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

sys.dont_write_bytecode = True

import checks  # noqa: E402  (perfbench/ is on sys.path as the script's directory)
import gen  # noqa: E402
from checks import q, tail  # noqa: E402

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sql_analytics", "graph_iterative", "lakehouse")
RUN_LIMIT_S = 175           # a run must end within 180 s
BUILD_LIMIT_S = 850         # the first run may take 900 s

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the JVM side is built from."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; returns (runtime classpath, built now)."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    os.makedirs(BUILD, exist_ok=True)
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), capture_output=True, text=True,
            timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=run_dir)
        rc = None
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"JVM {'timed out' if rc is None else f'exited with {rc}'}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))
            and os.path.isfile(os.path.join(BENCH, "build.sbt"))):
        die("run from the root of a graft checkout (engine sources not found)")

    cp, built = build()
    import duckdb

    t0 = time.time()  # the set-up clock starts after the build
    deadline = (t0 if built else started) + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    out = os.path.join(run_dir, "out")
    os.makedirs(data)
    os.makedirs(out)
    try:
        con = duckdb.connect()
        gen.generate(con, a.workload, data, a.seed)
        cores = str(len(os.sched_getaffinity(0)))
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data, "--out", out, "--cores", cores,
                     "--t0", str(int(t0 * 1000))], run_dir, deadline)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        check = checks.check(con, a.workload, data, out, res)
        if a.trace:
            shutil.copyfile(os.path.join(out, "spans.jsonl"),
                            os.path.join(BUILD, f"spans-{a.workload}.jsonl"))
        report(a, res, check)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, res, check):
    ops = res["ops"]
    bad = set(check.get("bad_ops", []))
    failed_ops = [o for o in ops if not o["ok"] or o["id"] in bad]
    attempted = len(ops) + check["extra_attempted"]
    failed = len(failed_ops) + check["extra_failed"]
    wall = [o["end_ms"] - o["start_ms"] for o in ops if o["ok"]]
    passes = [(e - s) / 1000.0 for _, s, e in res["passes"]]
    setup_s = (res["ready_ms"] - res["t0_ms"]) / 1000.0
    t = tail(wall)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes) if passes else float("nan"), "s"),
        "op_p50_ms": (q(wall, 50), "ms"),
    }
    info = {
        "workload": a.workload, "seed": a.seed, "cores": res["cores"],
        "ops": len(ops), "passes": len(passes),
        "pass_s_quartiles": [q(passes, 25), q(passes, 50), q(passes, 75)],
        "op_tail": {"p": t[0], "ms": t[1], "n": len(wall)} if t else {"n": len(wall)},
        "fail_ratio": failed / attempted if attempted else 0.0,
        "failures": [f"{o['name']}: {o['err']}" for o in failed_ops][:10] + check["errors"][:10],
        "calibration": res["calibration"],
        "peak_pinned_mb": max([o["peak_pinned_bytes"] for o in ops] + [0]) / 1048576.0,
        "cache_entries_left": {o["name"]: o["entries_left"]
                               for o in ops if o["entries_left"]},
        "oracle": check["summary"],
        "setup_ms": res["extra"].get("setup_ms", {}),
    }
    info.update(check.get("info", {}))
    if a.trace:
        info["per_op_name"] = per_op_profile(res)
    print("info " + json.dumps(info, sort_keys=True))
    if a.trace:
        metrics = layer_metrics(res, check)
        cached = os.path.join(BUILD, f"untraced-{a.workload}.json")
        if os.path.isfile(cached):
            with open(cached) as f:
                base = json.load(f)
            over = {k: e2e[k][0] / base[k] - 1.0 for k in e2e if base.get(k)}
            print("tracing_overhead " + json.dumps(
                {"vs_untraced_seed": base["seed"], "relative": over}, sort_keys=True))
        else:
            print("tracing_overhead unknown: no untraced run of this workload in this checkout yet")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        os.makedirs(BUILD, exist_ok=True)
        with open(os.path.join(BUILD, f"untraced-{a.workload}.json"), "w") as f:
            json.dump(dict({k: v for k, (v, _) in e2e.items()}, seed=a.seed), f)
    correct = failed == 0 and check["self_test_ok"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_metrics(res, check):
    """Per-layer metrics: means per timed op unless the name says otherwise."""
    ops = res["ops"]
    per = res["trace"]["per_op"]
    n = max(1, len(ops))
    cores = res["cores"]

    def total(k):
        return sum(per[str(o["id"])][k] for o in ops)

    m = {k: total(k) / n for k in [
        "ops.build_ms", "ops.build_jobs", "sql.analysis_ms", "sql.optimizer_ms",
        "sql.planning_ms", "sql.executions", "sched.jobs", "sched.stages",
        "sched.tasks", "sched.no_task_ms", "scan.files_read", "scan.bytes_read",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes"]}
    wall = sum(o["end_ms"] - o["start_ms"] for o in ops)
    run_ms = total("compute.task_run_ms")
    m["sched.busy_share"] = run_ms / (wall * cores) if wall else 0.0
    m["compute.task_run_s"] = run_ms / 1000.0 / n
    m["compute.task_cpu_s"] = total("compute.task_cpu_ms") / 1000.0 / n
    m["compute.gc_s"] = total("compute.gc_ms") / 1000.0 / n
    m["cache.blocks_pinned"] = sum(o["peak_pinned_blocks"] for o in ops) / n
    m["cache.entries_left"] = sum(o["entries_left"] for o in ops) / n
    m["cache.mb_left"] = sum(o["mb_left"] for o in ops) / n
    m["cache.peak_pinned_mb"] = max([o["peak_pinned_bytes"] for o in ops] + [0]) / 1048576.0
    m["compute.stream_task_s"] = res["trace"]["stream_task_ms"] / 1000.0
    m.update(check.get("layers", {}))
    # Every run prints every per-layer metric BENCHMARK.json lists, with
    # its unit there; a layer the workload does not exercise reads 0.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer"]
    unlisted = set(m) - {x["name"] for x in listed}
    if unlisted:
        die(f"per-layer metrics missing from BENCHMARK.json: {sorted(unlisted)}")
    return {x["name"]: {"value": m.get(x["name"], 0.0), "unit": x["unit"]} for x in listed}


def per_op_profile(res):
    """Traced profile of each op name: mean wall, busy share, shuffle MB."""
    per = res["trace"]["per_op"]
    by = {}
    for o in res["ops"]:
        by.setdefault(o["name"], []).append((o, per[str(o["id"])]))
    prof = {}
    for name, xs in sorted(by.items()):
        wall = sum(o["end_ms"] - o["start_ms"] for o, _ in xs)
        prof[name] = {
            "n": len(xs), "wall_ms": wall / len(xs),
            "busy_share": sum(m["compute.task_run_ms"] for _, m in xs) / max(1, wall * res["cores"]),
            "shuffle_write_mb": sum(m["shuffle.write_bytes"] for _, m in xs) / len(xs) / 1048576.0,
            "jobs": sum(m["sched.jobs"] for _, m in xs) / len(xs)}
    return prof


if __name__ == "__main__":
    main()
