#!/usr/bin/env python3
"""Cut perfbench/expected_digests.json from results the DuckDB oracle passes.

Usage, from the root of a source checkout:

    python3 perfbench/cut_digests.py

1. Runs graft.Verify on sf0.1 for every benchmark query and checks its
   parquet output with tools/oracle_check.py; every query must PASS.
2. Runs the harness over the same queries (a warm pass and the timed
   passes) and digests both its collected results and Verify's parquet
   output; every pass must agree with the parquet output.
3. Writes the digests.
"""
import argparse
import os
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main():
    root = Path.cwd()
    out = root / ".bench_build" / "perfbench"
    meta = run.build(root, out)
    queries = sorted({q for wl in WORKLOADS.values() for q in wl["queries"]})
    work = out / f"cut-{time.time_ns()}"
    verify_out = work / "verify"
    scratch = work / "verify-scratch"
    scratch.mkdir(parents=True)
    try:
        env = dict(os.environ, GRAFT_SCRATCH=str(scratch),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SPARK_DRIVER_MEM", "4g")
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"runMain graft.Verify {run.SF_DIR} {verify_out} {','.join(queries)}"],
                       cwd=root, env=env, check=True, capture_output=True)
        # Verify writes every query's oracle SQL; keep only the benchmark's,
        # so the oracle check replays just those.
        sql_path = verify_out / "oracle_sql.json"
        sql = json.loads(sql_path.read_text())
        sql_path.write_text(json.dumps({q: sql[q] for q in queries}))
        check = subprocess.run(
            [sys.executable, "tools/oracle_check.py", run.SF_DIR, str(verify_out)],
            cwd=root, capture_output=True, text=True)
        passed = {ln.split()[1] for ln in check.stdout.splitlines() if ln.startswith("PASS ")}
        missing = [q for q in queries if q not in passed]
        if missing:
            sys.stderr.write(check.stdout)
            run.fail(f"oracle did not pass: {missing}")

        args = argparse.Namespace(seed=0, seconds=0, trace=0)
        records = run.launch(meta, "cut", queries, args, work / "harness",
                             extra=("--verify-dir", str(verify_out)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    verified = {r["q"]: r for r in records if r["kind"] == "verify"}
    digests = {q: {"rows": v["rows"], "hash": v["hash"]} for q, v in verified.items()}
    # Every pass's live result must match the oracle-passed output.
    problems = run.check_ops([r for r in records if r["kind"] == "op"], digests)
    if problems:
        run.fail(f"live results differ from the oracle-passed output: {problems}")
    path = Path(__file__).resolve().parent / "expected_digests.json"
    path.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(digests)} digests to {path}")


if __name__ == "__main__":
    main()
