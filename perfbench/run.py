#!/usr/bin/env python3
"""Benchmark of the engine's public entry points, timed from outside.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (sbt, first run only), makes
the fixed input tables, runs one JVM with a single driver thread that issues
the workload's ops one after another (`perfbench.Main`), checks the outputs
against DuckDB, and prints the metrics. With `--trace 0` the last line holds
the end-to-end metrics; with `--trace 1` it holds the per-layer metrics of a
traced run. Workloads and op lists are in workloads.json; README.md
describes the metrics.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

REPO = HERE.parent
WORK = HERE / ".work"
BUDGET_S = 170  # a run must exit within 180 s once built
# a fixed-size heap: a growing one made whole runs 30% slower at random
HEAP = ["-Xms4g", "-Xmx4g"]


def die(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [REPO / "build.sbt", REPO / "project", REPO / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for root in roots:
        files = [root] if root.is_file() else sorted(
            p for p in root.rglob("*")
            if p.is_file() and p.suffix in (".scala", ".sbt", ".properties", ".java")
            and "target" not in p.relative_to(root).parts)
        for p in files:
            h.update(str(p.relative_to(REPO)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness when the sources changed since the last
    build; returns the java command prefix."""
    target = HERE / "target"
    stamp = WORK / "build.stamp"
    want = source_hash()
    if not (stamp.exists() and stamp.read_text() == want
            and (target / "classpath.txt").exists()):
        log("building engine and harness with sbt")
        WORK.mkdir(parents=True, exist_ok=True)
        # offline, from the local dependency caches, like the repository's
        # own test command
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = Path.home() / ".sbt" / "repositories"
        if "SBT_OPTS" not in env and repos.exists():
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos}")
        with open(WORK / "build.log", "w") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0:
            die(f"sbt build failed (exit {rc}); see {WORK / 'build.log'}")
        stamp.write_text(want)
    opts = [o for o in (target / "javaopts.txt").read_text().split("\n") if o]
    cp = (target / "classpath.txt").read_text().strip()
    return ["java"] + HEAP + opts + ["-cp", cp]


def ensure_data(sf):
    """The fixed input tables at scale `sf`, made once per checkout by the
    repository's own table generator."""
    gen = REPO / "tools" / "gen_scale.py"
    tag = hashlib.sha256(gen.read_bytes()).hexdigest()[:12]
    out = WORK / "data" / f"sf{sf}-{tag}"
    if not (out / "done").exists():
        log(f"generating input tables at sf{sf}")
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, str(gen), str(sf), str(out)], check=True,
                       stdout=subprocess.DEVNULL, stdin=subprocess.DEVNULL)
        (out / "done").write_text("")
    return out


def run_jvm(java, plan, run_dir, deadline):
    plan_path, raw_path = run_dir / "plan.json", run_dir / "raw.json"
    # set-up is timed from here, the launch of the JVM
    plan_path.write_text(json.dumps(dict(plan, launch_ms=int(time.time() * 1000))))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    cmd = java + [f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dderby.system.home={run_dir}",
                  "perfbench.Main", str(plan_path), str(raw_path)]
    (run_dir / "tmp").mkdir(parents=True)
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            die("harness JVM ran past the time budget")
        finally:  # also on SIGTERM: the JVM never outlives the run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not raw_path.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        die(f"harness JVM failed (exit {rc}):\n{tail}")
    return json.loads(raw_path.read_text())


def end_to_end(raw, passes, check_failed):
    warm = passes[1:]
    op_secs = [secs for p in warm for _name, secs, _err in p["ops"]]
    tail, pct, n = stats.tail(op_secs)
    attempted, failed = stats.count_failures(raw["passes"], check_failed)
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (stats.median([p["wall_s"] for p in warm]), "s"),
        "op_p50_s": (stats.median(op_secs), "s"),
        "op_tail_s": (tail, "s"),
        "heap_peak_mb": (max(p["heap_mb"] for p in raw["passes"]), "MB"),
    }
    log(f"op_tail_s is p{pct:.1f} of {n} warm op latencies")
    log(f"failed_frac {failed / attempted} ({failed} of {attempted} op runs)")
    return m, attempted, failed


LAYER_KEYS = [
    "Tables.rows_read", "Tables.bytes_read",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "plan.query_executions",
    "plan.build_s",
    "codegen.compile_s", "codegen.compiles", "codegen.driver_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_gap_s", "sched.slot_util",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.fetch_wait_s", "exec.spill_mb", "exec.output_mb",
    "store.overwrite_s", "store.merge_s", "store.append_once_s", "store.snapshot_s",
    "store.compact_s", "store.vacuum_s", "store.bytes_written_mb", "store.files_written",
    "stream.batches", "stream.batch_s", "stream.rows_in",
    "trace.unexplained_s",
]
KERNELS = ["md5_slices", "winnow", "c4_stats", "ngrams", "srp", "cosine", "normalize"]
UNITS = {"_s": "s", "_mb": "MB", "bytes_read": "bytes", "slot_util": "ratio",
         "_frac": "ratio"}


def unit(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def per_layer(raw, passes):
    """Median over the traced warm passes of each layer counter, the
    reconciliation of the traced pass and the tracing overhead."""
    traced = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]
    m = {k: stats.median([p["layers"].get(k, 0.0) for p in traced]) for k in LAYER_KEYS}
    for k in KERNELS:
        m[f"functions.{k}_s"] = raw["kernels"].get(f"functions.{k}_s", 0.0)
    # streaming runs only in a traced probe op (see workloads.json)
    for layers in raw["probe_layers"].values():
        m.update({k: v for k, v in layers.items() if k.startswith("stream.")})
    traced_wall = stats.median([p["wall_s"] for p in traced])
    plain_wall = stats.median([p["wall_s"] for p in plain])
    m["trace.warm_pass_s"] = traced_wall
    m["trace.overhead_frac"] = traced_wall / plain_wall - 1.0
    # the split of the traced pass whose wall time is the median
    mid = sorted(traced, key=lambda p: p["wall_s"])[(len(traced) - 1) // 2]
    parts = [(name, mid["layers"][k]) for name, k in (
        ("job-active", "sched.job_active_s"), ("plan phases", "trace.plan_phases_s"),
        ("Dataset build", "plan.build_s"), ("driver codegen", "codegen.driver_s"),
        ("unexplained", "trace.unexplained_s"))]
    log(f"reconciliation (traced warm pass of median wall time, {mid['wall_s']:.3f} s): "
        + " + ".join(f"{name} {v:.3f} s" for name, v in parts)
        + f" = {sum(v for _, v in parts):.3f} s")
    log(f"tracing overhead: traced warm pass {traced_wall:.3f} s vs untraced "
        f"{plain_wall:.3f} s ({100 * m['trace.overhead_frac']:+.1f}%)")
    return {k: (v, unit(k)) for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cfg = json.loads((HERE / "workloads.json").read_text())
    wl = cfg["workloads"].get(a.workload)
    if wl is None:
        die(f"unknown workload {a.workload!r}; known: {', '.join(cfg['workloads'])}")
    if not ((REPO / "build.sbt").is_file() and (REPO / "src" / "main").is_dir()
            and (REPO / "tools" / "gen_scale.py").is_file()):
        die(f"engine sources not found under {REPO}; run from a full checkout")
    import oracle  # needs the repository's tools/check.py

    java = build()
    t_start = time.monotonic()
    data_dir = ensure_data(wl["sf"])
    ops = wl["ops"]
    # a fixed pass count keeps the op-latency sample, and so the tail
    # percentile, the same on every commit
    warm = wl["warm_passes"]
    if a.trace:
        warm += warm % 2
    # traced runs order warm passes untraced, traced, traced, untraced, ...
    # so both kinds sit at the same mean distance from the cold pass
    traced = [False] + [bool(a.trace and i % 4 in (1, 2)) for i in range(warm)]
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    posture = cfg["posture"]
    plan = {
        "data_dir": str(data_dir), "work_dir": str(run_dir), "seed": a.seed,
        "cores": len(os.sched_getaffinity(0)),
        "shuffle_partitions": posture["shuffle_partitions"], "aqe": posture["aqe"],
        "passes": [stats.op_order(ops, a.seed, i) for i in range(1 + warm)],
        "traced": traced, "deadline_s": 2 * a.seconds,
        "kernels": bool(a.trace and wl.get("kernels", False)),
        "probes": wl.get("trace_probes", []) if a.trace else [],
    }
    try:
        t_jvm = t_jvm_start = time.monotonic()
        # the JVM must leave time for the output check
        raw = run_jvm(java, plan, run_dir, t_start + BUDGET_S - 15)
        t_jvm = time.monotonic() - t_jvm
        passes = raw["passes"]
        if len(passes) < 3:
            die(f"only {len(passes)} passes finished within the deadline")
        check_failed = oracle.check(str(data_dir), raw["verify_dir"], raw["oracle_sql"],
                                    str(WORK / "oracle"))
        check_failed.update(raw["verify_errors"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"timeline: inputs {t_jvm_start - t_start:.1f} s, JVM {t_jvm:.1f} s (set-up "
        f"{raw['setup_s']:.1f} s, passes {sum(p['wall_s'] for p in passes):.1f} s), "
        f"output check {time.monotonic() - t_jvm_start - t_jvm:.1f} s")
    for name, why in sorted(check_failed.items()):
        log(f"output check FAILED {name}: {why}")
    n_ok = len(set(raw["oracle_sql"]) - set(check_failed))
    log(f"output check: {n_ok} of {len(raw['oracle_sql'])} oracle-checked ops match DuckDB")
    if "store_cycle" in ops:
        err = raw["verify_errors"].get("store_cycle")
        log(f"store cycle check: {err or 'snapshot matches its relational MERGE'}")

    stamp = dict(raw["posture"], workload=a.workload, seed=a.seed, trace=a.trace,
                 sf=wl["sf"], warm_passes=len(passes) - 1, ops_sha=stats.list_hash(ops))
    log("posture " + json.dumps(stamp, sort_keys=True))
    e2e, attempted, failed = end_to_end(raw, passes, check_failed)
    metrics = per_layer(raw, passes) if a.trace else e2e
    for k, (v, u) in metrics.items():
        log(f"{a.workload} {k} = {v:.6g} {u}")
    record = {"posture": stamp, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
              "passes": passes}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(record, indent=1))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))


if __name__ == "__main__":
    main()
