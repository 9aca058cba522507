"""Self-check of the benchmark on tiny inputs.

    python3 perfbench/selfcheck.py [--sf-base DIR]

Runs every workload on the test suite's sf0.001 tables over its first
two items with tracing
on, and asserts that every end-to-end metric (in the summary lines)
and every per-layer metric (in the result line) is emitted with its
unit. Then runs one catalog workload with a deliberately corrupted
answer and asserts that ``failed_frac`` rises above 0, which proves
the output check compares. Takes a few minutes; exits 1 on a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s",
    "failed_frac": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.first_action_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.analyzed_lines": "lines", "plans.optimized_lines": "lines",
    "spec.from_spec_s": "s", "pipeline.lower_s": "s",
    "sources.load_s": "s", "sources.input_mb": "MB",
    "sources.input_rows": "count", "sources.sink_write_s": "s",
    "sources.output_mb": "MB", "sources.output_files": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.stage_retries": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.deser_s": "s", "spark.sched_delay_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s", "spark.spill_mb": "MB",
    "spark.stage_busy_s": "s", "spark.driver_gap_s": "s",
    "spark.slot_util": "ratio",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "pyworker.total_s": "s", "pyworker.boot_s": "s", "pyworker.init_s": "s",
    "pyworker.sent_mb": "MB", "pyworker.received_mb": "MB",
    "pyworker.rows": "count",
    "cache.rdds_left": "count", "cache.storage_mb_left": "MB",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.drain_overhead_s": "s",
    "box.calib_jvm_s": "s", "box.calib_py_s": "s", "box.calib_bc_s": "s",
    "trace.overhead_s": "s",
}


def bench(sf_base: str, workload: str, trace: int, *extra: str) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf-base", sf_base, "--items", "2", *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise AssertionError(f"{workload}: exit {r.returncode}\n{r.stderr[-2000:]}")
    return lines[:-1], json.loads(lines[-1])


def summary(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for ln in lines:
        parts = ln.split()
        if len(parts) == 3 and parts[0] in END_TO_END:
            out[parts[0]] = (float(parts[1]), parts[2])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-base", default=None,
                    help="tables to derive inputs from (default: the test suite's)")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    from tests.conftest import SF_DIR

    args.sf_base = args.sf_base or SF_DIR

    problems = []
    for name in WORKLOADS:
        lines, res = bench(args.sf_base, name, 1)
        got = summary(lines)
        for k, unit in END_TO_END.items():
            if got.get(k, (None, None))[1] != unit:
                problems.append(f"{name}: end-to-end {k} [{unit}] missing, got {got.get(k)}")
        for k, unit in PER_LAYER.items():
            m = res["metrics"].get(k)
            if m is None or m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                problems.append(f"{name}: per-layer {k} [{unit}] missing, got {m}")
        if not res["correct"] or res["failed"]:
            problems.append(f"{name}: {res['failed']} of {res['attempted']} executions failed")
        print(f"{name}: {len(got)} end-to-end and {len(res['metrics'])} per-layer metrics, "
              f"{res['attempted']} executions", flush=True)

    victim = next(w for w in WORKLOADS.values() if w.items[0].kind == "query")
    lines, res = bench(args.sf_base, victim.name, 0, "--corrupt-answer", victim.items[0].id)
    frac = summary(lines).get("failed_frac", (0.0, ""))[0]
    if not (res["failed"] > 0 and frac > 0 and res["correct"] is False):
        problems.append(f"corrupted answer for {victim.items[0].id} not caught: "
                        f"failed={res['failed']} failed_frac={frac}")
    print(f"corrupted {victim.items[0].id}: failed {res['failed']} of {res['attempted']}, "
          f"failed_frac {frac:.3g}")
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
