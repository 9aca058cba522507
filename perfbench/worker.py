"""One Spark driver process of a benchmark run.

    python3 -m perfbench.worker <plan.json>

The orchestrator (``perfbench/run.py``) writes the plan and reads the
result file back. Modes:

- ``prep``: set up a session and build the first-use fixtures of the
  workload's items, so the measured process never pays for them and
  its JVM has seen no query.
- ``measure``: set up a session, then a cold pass over the items and
  the plan's number of warm passes. Every execution is
  timed from building the frame to the end of the write to a real
  sink; its output is checked after the timer stops. With ``probes``
  the ``bench.py`` box probes run after the passes. With ``trace``
  the session has the event log on and per-layer metrics are recorded
  per execution.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import sys
import time

from perfbench.check import compare
from perfbench.tracing import Tracer, parse_event_log, stream_probe


def _passthrough(batches):
    yield from batches


def setup_session(plan: dict):
    from node_etl_spark.session import get_spark

    conf = None
    if plan.get("trace"):
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + plan["eventlog_dir"],
            "spark.eventLog.compress": "false",
        }
    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.time()
    spark.range(1).count()
    t2 = time.time()
    spark.range(100_000).repartition(plan["cores"]).mapInPandas(
        _passthrough, "id long").count()
    t3 = time.time()
    return spark, {
        "get_spark_s": t1 - t0, "first_action_s": t2 - t1,
        "pyworker_fork_s": t3 - t2, "setup_s": t3 - t0,
    }


def box_probes(spark) -> dict:
    """The three ``bench.py`` calibration probes, one timed sample each
    (``bench.py`` takes best of 3; here they only flag a noisy box)."""
    from pyspark.sql.functions import pandas_udf

    def best(fn, n=1, skip=0):
        out = None
        for i in range(n + skip):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            if i >= skip:
                out = dt if out is None else min(out, dt)
        return out

    jvm = best(lambda: spark.range(100_000_000).selectExpr(
        "sum(xxhash64(id) % 1000003) AS s").collect())

    @pandas_udf("double")
    def _calib_py(v):
        import numpy as np
        import pandas as pd

        x = v.to_numpy(dtype="float64")
        acc = np.zeros_like(x)
        for _ in range(50):
            acc = np.sqrt(acc + x * 1.0000001)
        return pd.Series(acc)

    probe = spark.range(2_000_000).selectExpr("CAST(id AS DOUBLE) AS x")
    py = best(lambda: probe.select(_calib_py("x").alias("y")).selectExpr(
        "sum(y) AS s").collect(), skip=1)

    def _bytecode():
        acc = 0
        for i in range(2_000_000):
            acc = (acc + i * 31) & 0xFFFFFFFF
            if acc & 1:
                acc ^= 0x9E3779B9
        return acc

    bc = best(_bytecode)
    return {"box.calib_jvm_s": jvm, "box.calib_py_s": py, "box.calib_bc_s": bc}


def clear_blocks(spark) -> None:
    # as bench.py: every item starts without the previous one's caches
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def sink_of(spec: dict, out: str) -> tuple[str, str]:
    """(kind, path) of the spec's tail sink, with $OUT resolved."""
    tail = spec["chain"][-1]
    return tail["op"], tail["path"].replace("$OUT", out)


def read_sink(spark, kind: str, path: str):
    if kind == "parquet_sink":
        return spark.read.parquet(path)
    if kind == "ndjson_sink":
        return spark.read.json(path)
    if kind == "snapshot_sink":
        from node_etl_spark.sources.snapshot import SnapshotTable

        return SnapshotTable(path).read(spark)
    raise ValueError(f"no reader for sink {kind}")


def digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive, duplicate-sensitive digest."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    h = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), str(r["h"])


def dir_size(path: str) -> tuple[float, int]:
    mb, files = 0.0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            mb += os.path.getsize(os.path.join(d, f)) / 1e6
            files += 1
    return mb, files


def plan_lines(df) -> tuple[int, int]:
    qe = df._jdf.queryExecution()
    return (len(qe.analyzed().toString().splitlines()),
            len(qe.optimizedPlan().toString().splitlines()))


class Runner:
    def __init__(self, spark, plan: dict) -> None:
        from node_etl_spark.plans import QUERIES

        self.spark, self.plan = spark, plan
        self.queries = {n.split("_", 1)[0]: q for n, q in QUERIES.items()}
        with open(plan["answers_path"], "rb") as fh:
            self.answers = pickle.load(fh)
        self.specs = {}
        for it in plan["items"]:
            if it["kind"] == "spec":
                with open(os.path.join(plan["root"], "examples", it["id"] + ".json")) as fh:
                    self.specs[it["id"]] = json.load(fh)
        self.trace = bool(plan.get("trace"))
        self.tracer = Tracer() if self.trace else None
        self.windows: dict[str, tuple[float, float]] = {}
        if self.trace:
            jvm = spark.sparkContext._jvm
            self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            self._cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
            self.tracer.patch_operators()
            self.probe = stream_probe()
            spark.streams.addListener(self.probe)

    def _codegen(self) -> tuple[int, float]:
        return (self._cm.METRIC_COMPILATION_TIME().getCount(),
                self._cg.compileTime() / 1e6)

    def execute(self, it: dict, p: int) -> dict:
        spark, plan = self.spark, self.plan
        key = f"{it['id']}:p{p}"
        out = os.path.join(plan["out_root"], plan["proc"], f"p{p}", it["id"])
        rec = {"item": it["id"], "family": it["family"], "pass": p,
               "proc": plan["proc"], "error": None, "check": None}
        df, catalog = None, None
        if it["kind"] == "spec":
            from node_etl_spark.pipeline import Catalog
            from node_etl_spark.sources import ParquetSource
            from node_etl_spark.spec import from_spec

            catalog = Catalog()
            catalog.save(ParquetSource("$DATA/customer.parquet", name="customer-vocab"))
        if self.trace:
            spark.sparkContext.setJobGroup(key, f"perfbench {key}")
            self.tracer.item = key
            cg0 = self._codegen()
            self.tracer.take_layers()
            span = self.tracer.open(f"item:{it['kind']}")
        t0 = time.time()
        t_build = t0
        try:
            if it["kind"] == "query":
                df = self.queries[it["id"]].fn(spark, plan["sf_dir"])
                t_build = time.time()
                df.write.mode("overwrite").parquet(out)
            else:
                pipe = from_spec(self.specs[it["id"]], catalog=catalog)
                t_build = time.time()
                pipe.run(spark, config={
                    "DATA": plan["sf_dir"], "OUT": out,
                    "API": "file://" + plan["api_dir"]})
        except Exception as e:  # noqa: BLE001 - an item failure is a measured outcome
            rec["error"] = f"{type(e).__name__}: {str(e)[:400]}"
        t1 = time.time()
        rec["wall_s"] = t1 - t0
        if self.trace:
            self.tracer.close(span)
            self.windows[key] = (t0, t1)
            self.windows[key + ":build"] = (t0, t_build)
            rec["layers"] = self._layers(it, df, out, t0, t_build, t1, cg0)
        clear_blocks(spark)
        if rec["error"] is None:
            rec["check"] = self._check(it, out, rec)
        rec["ok"] = rec["error"] is None and rec["check"] is None
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def _layers(self, it, df, out, t0, t_build, t1, cg0) -> dict:
        spark, tr = self.spark, self.tracer
        cg1 = self._codegen()
        layer, sink_frames = tr.take_layers()
        sc = spark.sparkContext
        storage = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
        frame = df if df is not None else (sink_frames[0] if sink_frames else None)
        try:
            analyzed, optimized = plan_lines(frame) if frame is not None else (0, 0)
        except Exception:  # noqa: BLE001 - a plan that cannot re-optimize
            analyzed, optimized = 0, 0
        out_mb, out_files = dir_size(out)
        query = it["kind"] == "query"
        return {
            "plans.build_s": (t_build - t0) if query else 0.0,
            "plans.analyzed_lines": analyzed,
            "plans.optimized_lines": optimized,
            "spec.from_spec_s": 0.0 if query else (t_build - t0),
            "pipeline.lower_s": layer.get("source.load", 0.0) + layer.get("transform.apply", 0.0),
            "sources.load_s": layer.get("source.load", 0.0),
            "sources.sink_write_s": (t1 - t_build) if query else layer.get("sink.write", 0.0),
            "sources.output_mb": out_mb,
            "sources.output_files": out_files,
            "codegen.compiles": cg1[0] - cg0[0],
            "codegen.compile_ms": cg1[1] - cg0[1],
            "cache.rdds_left": len(sc._jsc.getPersistentRDDs()),
            "cache.storage_mb_left": storage / 1e6,
        }

    def _check(self, it: dict, out: str, rec: dict) -> str | None:
        spark = self.spark
        try:
            if it["kind"] == "query":
                back = spark.read.parquet(out)
                rows = [tuple(r) for r in back.collect()]
                want_cols, want = self.answers[it["id"]]
                return compare(back.columns, rows, want_cols, want)
            kind, path = sink_of(self.specs[it["id"]], out)
            back = read_sink(spark, kind, path)
            rec["rows"], rec["digest"] = digest(back)
            if rec["rows"] == 0:
                return "empty sink"
            if it["id"] in self.answers:
                want_cols, want = self.answers[it["id"]]
                got = [tuple(r) for r in back.select(*want_cols).collect()]
                return compare(want_cols, got, want_cols, want)
            return None
        except Exception as e:  # noqa: BLE001 - a failed read-back is a failed check
            return f"check error {type(e).__name__}: {str(e)[:300]}"


def measure(spark, plan: dict, res: dict) -> None:
    r = Runner(spark, plan)
    for p in range(1 + plan["warm_passes"]):  # pass 0 is the cold pass
        for it in plan["items"]:
            res["executions"].append(r.execute(it, p))
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm = next(ln for ln in fh if ln.startswith("VmHWM:"))
    res["peak_rss_mb"] = int(hwm.split()[1]) / 1024.0
    if r.trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        res["stream_batches"] = list(r.probe.batches)
        r.tracer.unpatch()
        res["spans"] = r.tracer.spans
        res["windows"] = r.windows


def main() -> int:
    with open(sys.argv[1]) as fh:
        plan = json.load(fh)
    import node_etl_spark.plans.queries as qmod

    # the catalog's fixtures and fixed-path roundtrips live under the
    # run's scratch root, inside the checkout
    qmod._SCRATCH = plan["scratch"]
    res: dict = {"proc": plan["proc"], "executions": []}
    spark, res["setup"] = setup_session(plan)
    if plan["mode"] == "prep":
        from node_etl_spark.plans import QUERIES

        byshort = {n.split("_", 1)[0]: q for n, q in QUERIES.items()}
        for it in plan["items"]:
            if it["fixture"]:
                byshort[it["id"]].fn(spark, plan["sf_dir"]).write.format(
                    "noop").mode("overwrite").save()
                clear_blocks(spark)
    else:
        measure(spark, plan, res)
        if plan.get("probes"):
            res["box"] = box_probes(spark)  # after the timed passes
    cores = plan["cores"]
    spark.stop()
    if plan.get("trace"):
        res["spark"] = parse_event_log(plan["eventlog_dir"], res["windows"], cores)
    with open(plan["result_path"], "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
