"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload catalog-light --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout; runs must not overlap (a lock file
refuses a second one), because catalog roundtrip queries write to
fixed paths under the shared scratch root. One run:

1. derives the seed's inputs from the committed sf0.1 tables
   (``perfbench/inputs.py``) and computes every item's answer with
   DuckDB — the query's own oracle, or an independent computation for
   a spec — outside any timer;
2. when an item builds a fixture on first use, starts a prep process
   that builds it, so the measured JVM stays cold;
3. starts the measured driver process (``perfbench/worker.py``): it
   times its set-up, a cold pass and warm passes on ``local[nproc]``
   with one closed-loop client, checks every output after its timer,
   and runs the ``bench.py`` box probes after the passes;
4. with ``--trace 1``, starts one more process with the event log,
   job groups, operator wrappers and a streaming listener on, and
   reports the per-layer metrics and the tracing overhead instead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The lines before it name every metric with
its unit; the full record (run context, every execution, spans) is
written to ``.perfbench/runs/<run>/report.json``.
"""

from __future__ import annotations

import argparse
import dataclasses
import fcntl
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
RUN_DEADLINE_S = 170.0
FIXTURE_MARKERS = ("_codec_fixture", "/fixtures/", "/snapshots/")

E2E = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
# printed beside them; not bounded metrics (see README.md)
SUMMARY_UNITS = dict(E2E, peak_rss_mb="MB", failed_frac="ratio")
LAYER_UNITS = {
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
    "driver.peak_rss_mb": "MB",
    "box.calib_jvm_s": "s", "box.calib_py_s": "s", "box.calib_bc_s": "s",
    "trace.overhead_s": "s",
}
# per-item metrics taken from the cold pass: compilation happens there
COLD_LAYERS = ("codegen.compiles", "codegen.compile_ms")
RUN_LAYERS = ("session.", "driver.", "box.", "trace.")


class BenchError(Exception):
    pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-base", default=None,
                    help="committed tables the seeded inputs derive from "
                         "(default: $SPARK_GRAFT_SF_DIR, else the sf0.1 tables "
                         "beside the test suite's)")
    ap.add_argument("--items", type=int, default=0,
                    help="run only the first N items (self-check)")
    ap.add_argument("--corrupt-answer", default=None,
                    help="corrupt this item's expected answer (self-check)")
    args = ap.parse_args(argv)
    try:
        return run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


def preflight(args) -> None:
    for need in ("node_etl_spark/__init__.py", "examples", "tests/conftest.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"not a checkout of the repository: {need} missing under {ROOT}")
    sys.path.insert(0, ROOT)
    if args.sf_base is None:
        args.sf_base = os.environ.get("SPARK_GRAFT_SF_DIR") or default_sf_base()
    if not os.path.exists(os.path.join(args.sf_base, "lineitem.parquet")):
        raise BenchError(f"input tables not found under {args.sf_base}")


def default_sf_base() -> str:
    """The committed sf0.1 tables, which sit beside the sf0.001 ones the
    test suite reads (TESTDATA.md)."""
    from tests.conftest import SF_DIR

    return os.path.join(os.path.dirname(SF_DIR), "sf0.1")


def run(args) -> int:
    preflight(args)
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    items = [dataclasses.asdict(it) for it in wl.items][: args.items or None]
    mark_fixtures(items)
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        raise BenchError("another benchmark run holds .perfbench/lock; runs must not overlap")

    t_run0 = time.time()
    deadline = t_run0 + RUN_DEADLINE_S
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}")
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))

    t0 = time.time()
    sf_dir = inputs.prepare(os.path.join(WORK, "inputs"), args.sf_base, args.seed)
    inputs_s = time.time() - t0
    t0 = time.time()
    api_dir = os.path.join(run_dir, "api")
    answers = expected_answers(items, sf_dir, api_dir)
    if args.corrupt_answer:
        from perfbench.check import corrupt

        cols, rows = answers[args.corrupt_answer]
        answers[args.corrupt_answer] = (cols, corrupt(rows))
    answers_path = os.path.join(run_dir, "answers.pkl")
    with open(answers_path, "wb") as fh:
        pickle.dump(answers, fh)
    answers_s = time.time() - t0

    base_plan = {
        "root": ROOT, "items": items, "sf_dir": sf_dir, "cores": cores,
        "scratch": os.path.join(WORK, "scratch"), "api_dir": api_dir,
        "answers_path": answers_path, "out_root": os.path.join(run_dir, "out"),
        # a traced run compares one warm pass with tracing off and on
        "warm_passes": 1 if args.trace else max(1, round(args.seconds / wl.pass_s)),
    }
    t0 = time.time()
    prep = None
    if any(it["fixture"] for it in items):
        prep = child(run_dir, dict(base_plan, mode="prep", proc="prep"), cores, deadline)
    prep_s = time.time() - t0
    measured = child(run_dir, dict(base_plan, mode="measure", proc="m0", probes=True),
                     cores, deadline)
    traced = None
    if args.trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir)
        traced = child(run_dir, dict(base_plan, mode="measure", proc="traced",
                                     trace=True, eventlog_dir=evdir), cores, deadline)

    execs = list(measured["executions"])
    if traced:
        execs += traced["executions"]
    failed = count_failures(execs)
    setups = [measured["setup"]] + ([prep["setup"]] if prep else [])
    e2e = end_to_end(setups, measured)
    e2e_all = dict(e2e, peak_rss_mb=measured["peak_rss_mb"],
                   failed_frac=failed / len(execs))
    report = {
        "context": {
            "workload": wl.name, "why": wl.why, "seed": args.seed,
            "trace": args.trace, "run_seconds": args.seconds,
            "nproc": cores,
            "items": [it["id"] for it in items],
            "inputs": os.path.basename(sf_dir), "sf_base": args.sf_base,
            "git_commit": git_commit(), "source_digest": source_digest(),
            "box": measured["box"],
            "note": "runs must not overlap: catalog roundtrip queries "
                    "write to fixed paths under .perfbench/scratch",
        },
        "preparation_s": {"inputs": inputs_s, "answers": answers_s,
                          "prep_process": prep_s},
        "setup_samples": setups,
        "end_to_end": e2e_all,
        "attempted": len(execs), "failed": failed,
        "executions": execs,
    }
    if traced:
        layers = per_layer(traced, measured["box"], e2e, cores)
        report["per_layer"] = layers
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(traced["spans"], fh)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layers["workload"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    report["wall_s"] = time.time() - t_run0
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    for sub in ("out", "eventlog", "spark-local", "tmp", "api"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    print(f"workload {wl.name} seed {args.seed} items {len(items)} "
          f"nproc {cores} inputs {os.path.basename(sf_dir)}")
    print(f"preparation (not in setup_s): inputs {inputs_s:.2f} s, answers "
          f"{answers_s:.2f} s, fixture process {prep_s:.2f} s")
    for k, v in e2e_all.items():
        print(f"{k} {v:.6g} {SUMMARY_UNITS[k]}")
    for e in execs:
        if not e["ok"]:
            print(f"FAILED {e['item']} pass {e['pass']} {e['proc']}: "
                  f"{e['error'] or e['check']}")
    print(f"report {os.path.relpath(run_dir, ROOT)}/report.json")
    print(json.dumps({"correct": failed == 0, "attempted": len(execs),
                      "failed": failed, "metrics": metrics}))
    return 0


def expected_answers(items: list[dict], sf_dir: str, api_dir: str) -> dict:
    """Each item's answer, computed without Spark: (columns, normalized
    rows). Catalog queries use their DuckDB oracle; the dwh_quarterly and
    api_enrichment specs use independent computations. Answers are cached
    per input directory (the api_enrichment one also writes the run's
    API files, so it is always recomputed)."""
    import duckdb

    from node_etl_spark.plans import QUERIES
    from perfbench.check import normalize
    from perfbench.inputs import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    byshort = {n.split("_", 1)[0]: q for n, q in QUERIES.items()}
    out = {}

    def sql(text):
        res = con.execute(text)
        cols = [d[0] for d in res.description]
        return cols, normalize(res.fetchall(), cols)

    cache = os.path.join(WORK, "answers", os.path.basename(sf_dir))
    os.makedirs(cache, exist_ok=True)
    for it in items:
        path = os.path.join(cache, it["id"] + ".pkl")
        if it["id"] != "api_enrichment" and os.path.exists(path):
            with open(path, "rb") as fh:
                out[it["id"]] = pickle.load(fh)
            continue
        if it["kind"] == "query":
            q = byshort[it["id"]]
            if q.oracle is None:
                raise BenchError(f"{it['id']} has no oracle; it cannot be a benchmark item")
            out[it["id"]] = sql(q.oracle)
        elif it["id"] == "dwh_quarterly":
            out[it["id"]] = sql("""
                SELECT concat(year(o_orderdate), '-Q', quarter(o_orderdate)) AS order_quarter,
                       c_mktsegment AS segment,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                GROUP BY 1, 2""")
        elif it["id"] == "api_enrichment":
            # one detail file per nation, except nation 3 (reference
            # pass-through-on-error: its population must come back NULL)
            os.makedirs(api_dir, exist_ok=True)
            nations = con.execute("SELECT n_nationkey, n_name FROM nation").fetchall()
            rows = []
            for k, name in nations:
                pop = None if k == 3 else k * 1000
                if pop is not None:
                    with open(os.path.join(api_dir, f"nation_{k}.json"), "w") as fh:
                        fh.write('{"population": %d}' % pop)
                rows.append((k, name, pop))
            cols = ["n_nationkey", "n_name", "population"]
            out[it["id"]] = (cols, normalize(rows, cols))
        if it["id"] in out:
            with open(path + f".{os.getpid()}", "wb") as fh:
                pickle.dump(out[it["id"]], fh)
            os.replace(path + f".{os.getpid()}", path)
    con.close()
    return out


def mark_fixtures(items: list[dict]) -> None:
    """Flag catalog items that build a fixture on first use (codec
    payloads, staged crawls, snapshot tables)."""
    import inspect

    from node_etl_spark.plans import QUERIES

    byshort = {n.split("_", 1)[0]: q for n, q in QUERIES.items()}
    for it in items:
        it["fixture"] = it["kind"] == "query" and any(
            m in inspect.getsource(byshort[it["id"]].fn) for m in FIXTURE_MARKERS)


def child(run_dir: str, plan: dict, cores: int, deadline: float) -> dict:
    """Run one worker process to completion and return its result."""
    proc = plan["proc"]
    plan["result_path"] = os.path.join(run_dir, f"{proc}.result.json")
    plan_path = os.path.join(run_dir, f"{proc}.plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("OMP_NUM_THREADS", None)
    with open(os.path.join(run_dir, f"{proc}.log"), "w") as log:
        p = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", plan_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            reap(p)
    if rc != 0 or not os.path.exists(plan["result_path"]):
        why = "timed out" if rc is None else f"exited with {rc}"
        raise BenchError(f"{proc} process {why}; see {run_dir}/{proc}.log")
    with open(plan["result_path"]) as fh:
        return json.load(fh)


def reap(p: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the Spark JVM, Python
    workers), and wait until they are gone."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()
    for _ in range(100):
        try:
            os.killpg(p.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def count_failures(execs: list[dict]) -> int:
    """Executions that raised or whose output failed its check; a spec's
    sink must also read back the same rows and digest on every pass."""
    failed = 0
    ref: dict[str, tuple] = {}
    for e in execs:
        if e["ok"] and "digest" in e:
            want = ref.setdefault(e["item"], (e["rows"], e["digest"]))
            if (e["rows"], e["digest"]) != want:
                e["ok"] = False
                e["check"] = f"sink rows/digest {e['rows']}/{e['digest']} differ from first pass {want}"
        failed += not e["ok"]
    return failed


def end_to_end(setups: list[dict], measured: dict) -> dict:
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {}
    for e in measured["executions"]:
        if e["pass"] == 0:
            cold[e["item"]] = e["wall_s"]
        else:
            warm.setdefault(e["item"], []).append(e["wall_s"])
    return {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "cold_s": sum(cold.values()),
        "warm_s": sum(statistics.median(v) for v in warm.values()),
    }


def per_layer(traced: dict, box: dict, e2e: dict, cores: int) -> dict:
    """Per-layer metrics of the traced process: per execution, per item
    (warm-pass median; compilation from the cold pass), per family and
    for the workload."""
    spark = traced["spark"]
    batches = traced["stream_batches"]
    per_exec = []
    for e in traced["executions"]:
        key = f"{e['item']}:p{e['pass']}"
        w0, w1 = traced["windows"][key]
        mine = [s for t, s in batches if w0 <= t <= w1]
        m = dict(e["layers"], **spark[key])
        m["plans.build_jobs"] = spark[key + ":build"]["spark.jobs"]
        m["streaming.batches"] = len(mine)
        m["streaming.batch_s"] = sum(mine)
        m["streaming.drain_overhead_s"] = (e["wall_s"] - sum(mine)) if mine else 0.0
        per_exec.append((e, m))
    item_names = [k for k in LAYER_UNITS if not k.startswith(RUN_LAYERS)]
    items: dict[str, dict] = {}
    families: dict[str, str] = {}
    for e, m in per_exec:
        families[e["item"]] = e["family"]
        items.setdefault(e["item"], {"cold": [], "warm": []})[
            "cold" if e["pass"] == 0 else "warm"].append(m)
    by_item = {}
    for name, passes in items.items():
        row = {}
        for k in item_names:
            src = passes["cold"] if k in COLD_LAYERS else passes["warm"]
            row[k] = statistics.median(m[k] for m in src)
        by_item[name] = row

    def rollup(rows: list[dict]) -> dict:
        out = {k: sum(r[k] for r in rows) for k in item_names}
        busy = out["spark.stage_busy_s"]
        out["spark.slot_util"] = out["spark.task_run_s"] / (busy * cores) if busy else 0.0
        return out

    by_family = {
        f: rollup([by_item[i] for i in by_item if families[i] == f])
        for f in sorted(set(families.values()))
    }
    workload = rollup(list(by_item.values()))
    traced_warm = end_to_end([traced["setup"]], traced)["warm_s"]
    workload.update({
        "session.get_spark_s": traced["setup"]["get_spark_s"],
        "session.first_action_s": traced["setup"]["first_action_s"],
        "driver.peak_rss_mb": traced["peak_rss_mb"],
        **box,
        "trace.overhead_s": traced_warm - e2e["warm_s"],
    })
    return {"workload": {k: workload[k] for k in LAYER_UNITS},
            "by_family": by_family, "by_item": by_item,
            "executions": [dict(m, item=e["item"], proc=e["proc"], **{"pass": e["pass"]})
                           for e, m in per_exec]}


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def source_digest() -> str:
    """sha256 over the engine, examples and benchmark sources, so a run
    from a checkout that is not a git repository still names its code."""
    h = hashlib.sha256()
    for top in ("node_etl_spark", "examples", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


if __name__ == "__main__":
    raise SystemExit(main())
