#!/usr/bin/env python3
"""Operator benchmark: cold and warm latency of fully materialized,
oracle-checked operator results, split by layer.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt and generates the input tables; later runs reuse both
(everything lands under perfbench/.work). The seed shuffles the order in
which the workload's operator panel runs. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The full
record of a run (every call, per-operator values, failures by name) is
written to perfbench/.work/artifacts/.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
PANELS = json.loads((BENCH / "panels.json").read_text())
WORKLOADS = {
    "mixed_sf0.1": ("mixed", 0.1),
    "mixed_sf0.001": ("mixed", 0.001),
}
CHECK_SF = 0.001      # scale of the plan self-test
# Fixed and pre-touched, so the heap's resident size never changes and the
# memory metrics split into live heap and native memory (see README.md).
HEAP = "2g"
DEADLINE_S = 170      # the whole run, build excluded


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build():
    """Compile the engine and the harness; return the java argument file."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
               BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"]
    missing = [str(p.relative_to(ROOT)) for p in sources if not p.exists()]
    if missing:
        die(f"cannot build, missing from the checkout: {', '.join(missing)}")
    args = BENCH / "target" / "launch.args"
    stamp = WORK / "build.stamp"
    digest = tree_hash(sources)
    if args.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return args
    log("building the engine and the harness (sbt)")
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "build.log", "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunchFile"],
                            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not args.is_file():
        die(f"build failed (exit {rc}), see {WORK / 'build.log'}")
    stamp.write_text(digest)
    return args


def ensure_data(sf):
    """Generate the input tables at scale `sf` once per checkout."""
    out = WORK / "data" / f"sf{sf}"
    stamp = out / "stamp"
    digest = tree_hash([BENCH / "gen_data.py"])
    if not (stamp.is_file() and stamp.read_text() == digest):
        log(f"generating tables at sf{sf}")
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, str(BENCH / "gen_data.py"), str(out), str(sf)],
                       check=True, timeout=300)
        stamp.write_text(digest)
    return out


def run_harness(launch_args, run_dir, deadline, *args):
    """Run the harness in a fresh JVM whose temp files stay in the checkout."""
    tmp, out, log_path = run_dir / "tmp", run_dir / "harness.json", run_dir / "harness.log"
    tmp.mkdir(parents=True)
    cmd = ["java", f"@{launch_args}", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "perfbench.Harness",
           str(out), *args]
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            die(f"the harness ran past the deadline, see {log_path}")
        finally:
            if proc.poll() is None:
                proc.terminate()  # lets the engine's exit hooks delete its scratch dirs
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not out.is_file():
        die(f"the harness failed (exit {rc}), see {log_path}")
    return json.loads(out.read_text())


def check_oracle(results, sf_dir, ops):
    """Compare results with their DuckDB twins through the repo's own checker.
    Returns {op: None if it matches, else the reason}."""
    cmd = [sys.executable, str(ROOT / "scripts" / "check_oracle.py"), str(results), str(sf_dir),
           ",".join(ops)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=120).stdout
    verdict = {op: "no oracle verdict" for op in ops}
    for line in out.splitlines():
        m = re.match(r"(OK|FAIL) +([a-z0-9_]+)(?:: (.*))?", line)
        if m and m.group(2) in verdict:
            verdict[m.group(2)] = None if m.group(1) == "OK" else (m.group(3) or "mismatch")
    return verdict


def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def med(values, default=0.0):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else default


def per_op(calls, ops, pick):
    """Each operator's median over its traced warm calls, one value per operator."""
    vals = []
    for op in ops:
        xs = [pick(c) for c in calls if c["op"] == op and c["kind"] == "warm" and c["traced"]]
        xs = [x for x in xs if x is not None]
        if xs:
            vals.append(statistics.median(xs))
    return vals


def layer_metrics(run, ok_ops, nproc):
    calls = [c for c in run["calls"] if c["ok"] and c["op"] in ok_ops and c["stats"]]
    st = lambda k: (lambda c: c["stats"][k])
    by_op = {}
    for op in ok_ops:
        cold = [c for c in calls if c["op"] == op and c["kind"] == "cold"]
        warm = [c for c in calls if c["op"] == op and c["kind"] == "warm"]
        if not warm:
            continue
        by_op[op] = {
            "cold_jobs": cold[0]["stats"]["jobs"] if cold else None,
            "cold_build_jobs": cold[0]["stats"]["build_jobs"] if cold else None,
            "warm_jobs": med([c["stats"]["jobs"] for c in warm]),
            "warm_build_jobs": med([c["stats"]["build_jobs"] for c in warm]),
            "build_ms": med([c["build_s"] * 1000 for c in warm]),
            "latency_ms": med([c["latency_s"] * 1000 for c in warm]),
        }
    memo = sorted(op for op, v in by_op.items()
                  if v["cold_jobs"] is not None and v["warm_jobs"] < v["cold_jobs"])

    def ratio(c):
        s = c["stats"]
        return s["single_task_stages"] / s["stages"] if s["stages"] else None

    def busy(c):
        wall = c["action_s"] * 1000 * nproc
        return c["stats"]["action_task_run_ms"] / wall if wall > 0 else None

    batches = [b for c in calls if c["kind"] == "warm" for b in c["stats"]["stream_batch_ms"]]
    stream_calls = [c["stats"]["stream_batches"] for c in calls
                    if c["kind"] == "warm" and c["stats"]["stream_batches"]]
    tables = run["tables"]
    leaks = sum(len(v) for v in run["leaks"].values())
    m = {
        "tables.read_ms": (med(med_by(tables, "table", "ms")), "ms"),
        "tables.read_jobs": (med(med_by(tables, "table", "jobs")), "count"),
        "ops.build_ms": (med([v["build_ms"] for v in by_op.values()]), "ms"),
        "ops.build_jobs": (med(per_op(calls, ok_ops, st("build_jobs"))), "count"),
        "ops.build_share": (med([v["build_ms"] / v["latency_ms"] for v in by_op.values()
                                 if v["latency_ms"] > 0]), "ratio"),
        "ops.cold_build_jobs": (med([v["cold_build_jobs"] for v in by_op.values()]), "count"),
        "ops.memo_ops": (len(memo), "count"),
        "catalyst.analysis_ms": (med(per_op(calls, ok_ops, st("analysis_ms"))), "ms"),
        "catalyst.optimizer_ms": (med(per_op(calls, ok_ops, st("optimizer_ms"))), "ms"),
        "catalyst.planning_ms": (med(per_op(calls, ok_ops, st("planning_ms"))), "ms"),
        "sched.jobs": (med(per_op(calls, ok_ops, st("jobs"))), "count"),
        "sched.stages": (med(per_op(calls, ok_ops, st("stages"))), "count"),
        "sched.tasks": (med(per_op(calls, ok_ops, st("tasks"))), "count"),
        "sched.single_task_stage_ratio": (med(per_op(calls, ok_ops, ratio)), "ratio"),
        "sched.delay_ms": (med(per_op(calls, ok_ops, st("sched_delay_ms"))), "ms"),
        "exec.task_run_ms": (med(per_op(calls, ok_ops, st("task_run_ms"))), "ms"),
        "exec.task_cpu_ms": (med(per_op(calls, ok_ops, st("task_cpu_ms"))), "ms"),
        "exec.busy_ratio": (med(per_op(calls, ok_ops, busy)), "ratio"),
        "exec.shuffle_write_bytes": (med(per_op(calls, ok_ops, st("shuffle_write_bytes"))), "bytes"),
        "exec.spill_bytes": (med(per_op(calls, ok_ops, st("spill_bytes"))), "bytes"),
        "exec.input_bytes": (med(per_op(calls, ok_ops, st("input_bytes"))), "bytes"),
        "write.output_bytes": (sum(per_op(calls, ok_ops, st("output_bytes"))), "bytes"),
        "scratch.bytes": (float(run["scratch_total_bytes"]), "bytes"),
        "stream.batches": (med(stream_calls), "count"),
        "stream.batch_ms": (med(batches), "ms"),
        "session.state_leaks": (leaks, "count"),
    }
    return m, {"memo_ops": memo, "by_op": by_op}


def med_by(rows, key, field):
    groups = {}
    for r in rows:
        groups.setdefault(r[key], []).append(r[field])
    return [statistics.median(v) for v in groups.values()]


def overhead_ratio(run, ok_ops):
    """Median over operators of traced / untraced warm latency."""
    ratios = []
    for op in ok_ops:
        warm = [c for c in run["calls"] if c["op"] == op and c["kind"] == "warm" and c["ok"]]
        t = [c["latency_s"] for c in warm if c["traced"]]
        u = [c["latency_s"] for c in warm if not c["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return med(ratios, 1.0)


def main():
    # a terminated run still stops its JVM (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    panel_name, sf = WORKLOADS[a.workload]

    launch = ensure_build()
    sf_dir, check_dir = ensure_data(sf), ensure_data(CHECK_SF)
    deadline = time.monotonic() + DEADLINE_S

    panel = list(PANELS[panel_name])
    ops = random.Random(a.seed).sample(panel, len(panel))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_dir = WORK / "runs" / f"{a.workload}_seed{a.seed}_trace{a.trace}_{stamp}_{os.getpid()}"
    run_dir.mkdir(parents=True)
    (run_dir / "panel.txt").write_text("\n".join(panel) + "\n")
    (run_dir / "order.txt").write_text("\n".join(ops) + "\n")
    results = run_dir / "results"

    t0 = time.monotonic()
    run = run_harness(launch, run_dir, deadline, str(sf_dir), str(check_dir),
                      str(run_dir / "panel.txt"), str(run_dir / "order.txt"),
                      str(a.seconds), str(a.trace), str(results))
    t1 = time.monotonic()

    # correctness: an operator fails if any call threw, its result could not
    # be written, or the result differs from its oracle twin
    oracle = check_oracle(results, sf_dir, [op for op in ops if op not in run["result_errors"]])
    failures = {}
    for c in run["calls"]:
        if not c["ok"]:
            failures.setdefault(c["op"], c["error"])
    for op, err in list(run["result_errors"].items()) + list(oracle.items()):
        if err:
            failures.setdefault(op, err)
    phases = {"harness_jvm": t1 - t0, **run["phase_s"], "oracle_check": time.monotonic() - t1}
    ok_ops = [op for op in ops if op not in failures]
    calls = run["calls"]
    failed_calls = sum(1 for c in calls if c["op"] in failures)
    self_test_ok = all(v["ok"] for v in run["self_test"].values())

    good = [c for c in calls if c["op"] in ok_ops]
    warm = [c["latency_s"] for c in good if c["kind"] == "warm" and not c["traced"]]
    cold = [c["latency_s"] for c in good if c["kind"] == "cold"]
    timed = sum(c["latency_s"] for c in calls)
    # throughput over the warm rounds only: how many of them fit in a run
    # varies with host speed, and a cold call costs several warm ones
    warm_timed = sum(c["latency_s"] for c in calls if c["kind"] == "warm" and not c["traced"])
    e2e = {
        "setup_s": (run["setup_s"], "s"),
        "op_p50_s": (pct(warm, 50), "s"),
        "op_p90_s": (pct(warm, 90), "s"),
        "cold_op_p50_s": (pct(cold, 50), "s"),
        "ops_per_s": (len(warm) / warm_timed if warm_timed else 0.0, "1/s"),
        "peak_heap_mb": (max(c["live_heap_mb"] for c in calls), "MB"),
        "peak_offheap_mb": (run["peak_rss_mb"] - run["heap_mb"], "MB"),
    }
    failed_op_ratio = failed_calls / len(calls)
    layers, detail = ({}, {}) if not a.trace else layer_metrics(run, ok_ops, run["nproc"])
    if a.trace:
        layers["trace.overhead_ratio"] = (overhead_ratio(run, ok_ops), "ratio")
        layers["host.calib_s"] = (run["calib_s"], "s")
    shown = layers if a.trace else e2e

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "sf": sf, "ops": ops, "calib_s": run["calib_s"],
        "nproc": run["nproc"], "rounds": run["rounds"], "timed_s": timed, "phase_s": phases,
        "peak_rss_mb": run["peak_rss_mb"],
        "warm_samples": len(warm), "cold_samples": len(cold),
        "failed_op_ratio": failed_op_ratio, "failures": failures,
        "state_leaks": run["leaks"], "self_test": run["self_test"],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in layers.items()}, **detail,
        "tables": run["tables"], "calls": calls,
    }
    art_dir = WORK / "artifacts"
    art_dir.mkdir(parents=True, exist_ok=True)
    art = art_dir / f"{run_dir.name}.json"
    art.write_text(json.dumps(artifact, indent=1))
    shutil.rmtree(run_dir / "results", ignore_errors=True)

    for k, (v, unit) in e2e.items():
        print(f"{a.workload} {k} = {v:.6g} {unit}")
    print(f"{a.workload} failed_op_ratio = {failed_op_ratio:.6g} ratio")
    print(f"{a.workload} peak_rss_mb = {run['peak_rss_mb']:.6g} MB"
          f" ({run['heap_mb']:.0f} MB of it the pre-touched heap)")
    for k, (v, unit) in layers.items():
        print(f"{a.workload} {k} = {v:.6g} {unit}")
    print(f"{a.workload} samples: {len(warm)} warm, {len(cold)} cold over {len(ops)} operators"
          f" in {run['rounds']} rounds; host.calib_s = {run['calib_s']:.4g} s")
    for op, err in sorted(failures.items()):
        print(f"{a.workload} FAILED {op}: {err}")
    if detail.get("memo_ops"):
        print(f"{a.workload} memoized operators: {', '.join(detail['memo_ops'])}")
    for op, changes in run["leaks"].items():
        print(f"{a.workload} session state left by {op}: {', '.join(changes)}")
    if not self_test_ok:
        print(f"{a.workload} SELF-TEST FAILED: {json.dumps(run['self_test'])}")
    print(f"{a.workload} artifact: {art.relative_to(ROOT)}")
    print(json.dumps({
        "correct": not failures and self_test_ok,
        "attempted": len(calls),
        "failed": failed_calls,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))


if __name__ == "__main__":
    main()
