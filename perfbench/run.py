#!/usr/bin/env python3
"""Warm closed-loop benchmark of the engine's query surface.

Usage, from the root of a source checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Builds the engine and the harness with sbt (once per source state; the
build lands in .bench_build/), launches one JVM with the javaOptions
build.sbt resolves, and drives one closed-loop client over the
workload's queries on the read-only sf0.1 star schema. Every result is
checked against perfbench/expected_digests.json.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
with --trace 1 the per-layer ones from a traced run. A human-readable
report, including the error rate, the tail percentile with its sample
count, the JVM flags and the core count, goes to stderr and to
.bench_build/perfbench/report-<workload>-trace<n>.json.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The read-only sf0.1 star schema (TESTDATA.md).
SF_DIR = str(Path.home() / "testdata" / "sf0.1")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
MB = 1024.0 * 1024.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root, driver_mem):
    """Hash of every input to the build, so a changed source rebuilds."""
    h = hashlib.sha256(driver_mem.encode())
    files = [root / "build.sbt", *sorted((root / "project").glob("*.properties")),
             *sorted((root / "project").glob("*.sbt"))]
    for base in (root / "src", HERE / "harness"):
        files += sorted(p for p in base.rglob("*")
                        if p.is_file() and "target" not in p.relative_to(base).parts)
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, log):
    """Run `cmd` in its own process group, writing stdout and stderr to `log`.
    Whatever ends the wait (exit, timeout, a signal to this process), the
    whole group is killed and reaped before this returns."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def sbt(cwd, commands, env, log):
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
                   cwd, env, BUILD_TIMEOUT_S, log)
    lines = Path(log).read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail(f"sbt {' '.join(commands)} failed in {cwd} ({rc})")
    return lines


def build(root, out):
    """Compile the engine and the harness; return the launch settings.

    javaOptions come from sbt itself (`print javaOptions`), so the measured
    JVM runs with exactly the flags build.sbt ships, -Xmx included."""
    meta_path = out / "build.json"
    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    stamp = source_stamp(root, env["SPARK_DRIVER_MEM"])
    if meta_path.is_file():
        meta = json.loads(meta_path.read_text())
        if meta.get("stamp") == stamp:
            return meta
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                   "-Dsbt.offline=true -Xmx4g")
    out.mkdir(parents=True, exist_ok=True)
    lines = sbt(root, ["compile", "print javaOptions", "export Runtime/fullClasspath"], env,
                out / "build-engine.log")
    java_opts = [ln[2:] for ln in lines if ln.startswith("* ")]
    if not any(o.startswith("-Xmx") for o in java_opts):
        fail("could not read javaOptions from sbt")
    engine_cp = [ln for ln in lines if ln.startswith("/")][-1]
    (out / "engine.classpath").write_text(engine_cp)
    lines = sbt(HERE / "harness", ["compile", "export Runtime/fullClasspath"], env,
                out / "build-harness.log")
    harness_cp = [ln for ln in lines if ln.startswith("/")][-1]
    classpath = f"{harness_cp}:{engine_cp}"
    meta = {"stamp": stamp, "java_opts": java_opts, "classpath": classpath}
    meta_path.write_text(json.dumps(meta))
    return meta


def launch(meta, wl_name, queries, args, run_dir, extra=()):
    """Run the harness JVM with a private scratch, tmp and Spark local dir."""
    for d in ("tmp", "local", "scratch"):
        (run_dir / d).mkdir(parents=True)
    env = dict(os.environ, GRAFT_SCRATCH=str(run_dir / "scratch"),
               SPARK_LOCAL_DIRS=str(run_dir / "local"))
    records = run_dir / "records.jsonl"
    cmd = ["java", *meta["java_opts"], f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", meta["classpath"], "perfbench.Harness",
           "--workload", wl_name, "--queries", ",".join(queries),
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--sf", SF_DIR, "--cpus", str(os.cpu_count()),
           "--out", str(records), *extra]
    rc = run_group(cmd, run_dir, env, RUN_TIMEOUT_S, run_dir / "jvm.log")
    if rc != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {rc}")
    return [json.loads(ln) for ln in records.read_text().splitlines()]


def check_ops(ops, expected):
    """Name every operation that failed or returned a wrong result, and every
    query whose digest changed between passes (state leaking across repeats)."""
    problems = []
    for op in ops:
        why = stats.check_digest(op, expected)
        if why:
            problems.append({"op": op["op"], "q": op["q"], "pass": op["pass"], "why": why})
    seen = {}
    for op in ops:
        if not op.get("err"):
            seen.setdefault(op["q"], set()).add((op["rows"], op["hash"]))
    for q, digests in sorted(seen.items()):
        if len(digests) > 1:
            problems.append({"q": q, "why": f"{len(digests)} distinct digests across passes"})
    return problems


def end_to_end(records, timed):
    setup = next(r for r in records if r["kind"] == "setup")
    window = next(r for r in records if r["kind"] == "window")
    end = next(r for r in records if r["kind"] == "end")
    walls = [op["wall_s"] for op in timed]
    tail_pct, tail_s, n = stats.tail(walls)
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "latency_p50_s": (statistics.median(walls), "s"),
        "latency_tail_s": (tail_s, "s"),
        "queries_per_s": (len(timed) / window["window_s"], "1/s"),
        "cpu_s_per_query": (window["cpu_s"] / len(timed), "s"),
        "peak_rss_mb": (end["vm_hwm_kb"] / 1024.0, "MB"),
    }
    extra = {"tail_percentile": tail_pct, "tail_samples": n,
             "setup_parts_s": {k: setup[k] for k in ("session_s", "fixtures_s", "warm_s")},
             "passes": window["passes"], "window_s": window["window_s"]}
    return metrics, extra


def per_layer(records, timed, cores):
    traced = [op for op in timed if op["traced"]]
    plain = [op for op in timed if not op["traced"]]
    n = len(traced)

    def mean(key, scale=1.0):
        return sum(op[key] for op in traced) / n / scale

    wall = sum(op["wall_s"] for op in traced)
    rows = sum(max(op["rows"] or 0, 1) for op in traced)
    task_cpu = mean("task_cpu_s")
    by_q = {}
    for op in plain:
        by_q.setdefault(op["q"], []).append(op["wall_s"])
    ratios = [op["wall_s"] / statistics.median(by_q[op["q"]]) for op in traced if op["q"] in by_q]
    metrics = {
        "entry.build_s": (mean("build_s"), "s"),
        "entry.build_jobs": (mean("build_jobs"), "count"),
        "catalyst.plan_s": (mean("plan_s"), "s"),
        "exec.s": (mean("exec_s"), "s"),
        "exec.jobs": (mean("exec_jobs"), "count"),
        "caches.release_s": (mean("release_s"), "s"),
        "caches.peak_stored_mb": (max(op["peak_stored_b"] for op in traced) / MB, "MB"),
        "scheduler.jobs": (sum(op[f"{p}_jobs"] for op in traced for p in stats.PHASES) / n
                           + mean("untagged_jobs"), "count"),
        "scheduler.stages": (mean("stages"), "count"),
        "scheduler.tasks": (mean("tasks"), "count"),
        "scheduler.tasks_failed": (mean("tasks_failed"), "count"),
        "scheduler.idle_s": (sum(op["window_ms"] / 1e3 - op["busy_s"] for op in traced) / n, "s"),
        "tasks.run_s": (mean("task_run_s"), "s"),
        "tasks.cpu_s": (task_cpu, "s"),
        "tasks.core_busy_frac": (sum(op["task_run_s"] for op in traced) / (wall * cores), "fraction"),
        "shuffle.write_mb": (mean("shuffle_write_b", MB), "MB"),
        "shuffle.read_mb": (mean("shuffle_read_b", MB), "MB"),
        "shuffle.spill_mb": (mean("spill_b", MB), "MB"),
        "scan.input_mb": (mean("input_b", MB), "MB"),
        "scan.rows_per_result_row": (sum(op["input_records"] for op in traced) / rows, "ratio"),
        "sinks.output_mb": (mean("output_b", MB), "MB"),
        "sinks.files_written": (mean("files_written"), "count"),
        "jvm.jit_s": (mean("jit_s"), "s"),
        "jvm.gc_s": (mean("gc_s"), "s"),
        "jvm.driver_cpu_s": (mean("cpu_s") - task_cpu, "s"),
        "trace.overhead_ratio": (statistics.median(ratios) if ratios else 1.0, "ratio"),
    }
    recon = {op["op"]: stats.reconcile(op) for op in traced}
    recon = {k: v for k, v in recon.items() if v}
    return metrics, {"traced_ops": n, "untraced_ops": len(plain), "reconcile_failures": recon}


def main():
    # A terminated run still stops its JVM and removes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main").is_dir():
        fail(f"{root} is not a source checkout of the engine (no build.sbt / src/main)")
    if not Path(SF_DIR).is_dir():
        fail(f"input star schema {SF_DIR} is missing")
    out = root / ".bench_build" / "perfbench"
    meta = build(root, out)
    wl = WORKLOADS[args.workload]
    expected = json.loads((HERE / "expected_digests.json").read_text())

    run_dir = out / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        records = launch(meta, args.workload, wl["queries"], args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = [r for r in records if r["kind"] == "op"]
    timed = [op for op in ops if op["timed"]]
    end = next(r for r in records if r["kind"] == "end")
    problems = check_ops(ops, expected)
    failed = sum(1 for op in timed if stats.check_digest(op, expected))
    if args.trace:
        metrics, extra = per_layer(records, timed, end["cores"])
        for op_id, why in extra["reconcile_failures"].items():
            problems.append({"op": op_id, "why": "reconcile: " + "; ".join(why)})
    else:
        metrics, extra = end_to_end(records, timed)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": end["cores"], "cpus": end["cpus"],
        "jvm_flags": end["jvm_flags"], "sf": SF_DIR,
        "attempted": len(timed), "failed": failed,
        "error_rate": failed / len(timed), "problems": problems,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **extra,
        "ops": [{k: op.get(k) for k in ("pass", "q", "wall_s", "build_s", "plan_s",
                                        "exec_s", "digest_s", "release_s", "cpu_s", "jit_s",
                                        "traced")}
                for op in ops],
    }
    (out / f"report-{args.workload}-trace{args.trace}.json").write_text(
        json.dumps(report, indent=1))
    print(f"perfbench {args.workload} seed={args.seed} cores={end['cores']} "
          f"jvm_flags={' '.join(end['jvm_flags'])}", file=sys.stderr)
    for k, (v, u) in metrics.items():
        print(f"perfbench {args.workload} {k} = {v:.6g} {u}", file=sys.stderr)
    print(f"perfbench {args.workload} error_rate = {report['error_rate']:.6g} "
          f"({failed}/{len(timed)})", file=sys.stderr)
    if not args.trace:
        print(f"perfbench {args.workload} latency_tail_s is p{extra['tail_percentile']:.1f} "
              f"of {extra['tail_samples']} samples", file=sys.stderr)
    for p in problems:
        print(f"perfbench {args.workload} PROBLEM {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems, "attempted": len(timed), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
