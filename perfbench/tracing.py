"""Tracing for the per-layer run, measured from outside the engine.

- ``Tracer`` keeps spans (name, start, end, parent, item) in memory and
  wraps the public ``Source.load``, ``Transform.apply`` and
  ``Sink.write`` of every operator class, so the time each layer spends
  is measured around calls into its public functions.
- ``stream_probe`` builds a ``StreamingQueryListener`` that keeps micro-batch
  progress events.
- ``parse_event_log`` reads a Spark event log (the way
  ``scripts/profile_jobs.py::_analyze`` does) and splits jobs, stages,
  tasks and Python-worker SQL metrics into caller-given time windows.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import time

# SQL metric display names on ArrowEvalPython / MapInPandas / ... nodes
PY_METRICS = {
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "received_b",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.item: str | None = None
        self.layer_s: dict[str, float] = {}
        self.sink_frames: list = []  # frames handed to Sink.write
        self._patched: list[tuple[type, str, object]] = []

    def open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "item": self.item,
        })
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        sp = self.spans[sid]
        sp["end"] = time.time()
        self._stack.pop()
        return sp["end"] - sp["start"]

    def take_layers(self) -> tuple[dict[str, float], list]:
        """Layer seconds and sink frames since the last call."""
        out = self.layer_s, self.sink_frames
        self.layer_s, self.sink_frames = {}, []
        return out

    def _timed(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            # only the outermost call of a layer adds to its total, so
            # an operator that delegates to another is not counted twice
            outer = not any(
                tracer.spans[s]["name"].startswith(layer + ":")
                for s in tracer._stack
            )
            sid = tracer.open(f"{layer}:{type(a[0]).__name__}")
            if layer == "sink.write":
                tracer.sink_frames.append(a[1])
            try:
                return fn(*a, **kw)
            finally:
                dt = tracer.close(sid)
                if outer:
                    tracer.layer_s[layer] = tracer.layer_s.get(layer, 0.0) + dt

        return wrapper

    def patch_operators(self) -> None:
        from node_etl_spark.operators.base import Sink, Source, Transform

        for base, meth, layer in (
            (Source, "load", "source.load"),
            (Transform, "apply", "transform.apply"),
            (Sink, "write", "sink.write"),
        ):
            for cls in _subclasses(base):
                if meth in cls.__dict__:
                    orig = cls.__dict__[meth]
                    self._patched.append((cls, meth, orig))
                    setattr(cls, meth, self._timed(layer, orig))

    def unpatch(self) -> None:
        for cls, meth, orig in reversed(self._patched):
            setattr(cls, meth, orig)
        self._patched.clear()


def _subclasses(cls: type) -> list[type]:
    out, todo = [], [cls]
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(c.__subclasses__())
    return out


def stream_probe():
    """A StreamingQueryListener that records (start epoch, seconds) per
    micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[tuple[float, float]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = _dt.datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")).timestamp()
            ms = (p.durationMs or {}).get("triggerExecution", 0)
            self.batches.append((ts, ms / 1000.0))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return StreamProbe()


def _event_files(evdir: str) -> list[str]:
    files = []
    for entry in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, entry)
        if os.path.isdir(p):  # rolling event log directory
            files += sorted(
                os.path.join(p, f) for f in os.listdir(p)
                if f.startswith("events")
            )
        else:
            files.append(p)
    return files


def _plan_py_accums(node: dict, out: dict[int, str]) -> None:
    pyish = any(k in node.get("nodeName", "") for k in ("Python", "Pandas", "Arrow"))
    for m in node.get("metrics", []):
        kind = PY_METRICS.get(m.get("name"))
        if kind is None and pyish and m.get("name") == "number of output rows":
            kind = "rows"
        if kind:
            out[m["accumulatorId"]] = kind
    for c in node.get("children", []):
        _plan_py_accums(c, out)


def parse_event_log(evdir: str, windows: dict[str, tuple[float, float]],
                    cores: int) -> dict[str, dict[str, float]]:
    """Per-window Spark execution metrics; a job belongs to the window
    its submission time falls in (items run one after another)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    py_acc: dict[int, str] = {}
    for f in _event_files(evdir):
        with open(f) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event", "")
                if e == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    }
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault((si["Stage ID"], si.get("Stage Attempt ID", 0)), _stage())
                    st["t0"] = si.get("Submission Time", 0) / 1000.0
                    st["t1"] = si.get("Completion Time", 0) / 1000.0
                elif e == "SparkListenerTaskEnd":
                    st = stages.setdefault((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), _stage())
                    _add_task(st, ev, py_acc)
                elif e.endswith("SparkListenerSQLExecutionStart") or e.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_py_accums(ev.get("sparkPlanInfo") or {}, py_acc)

    out: dict[str, dict[str, float]] = {}
    for key, (w0, w1) in windows.items():
        jin = [j for j in jobs.values() if w0 <= j["t0"] <= w1]
        sids = {s for j in jin for s in j["stages"]}
        sin = [st for (sid, att), st in stages.items()
               if sid in sids and st.get("t1")]
        m = {k: 0.0 for k in _stage()}
        for st in sin:
            for k in m:
                if k not in ("t0", "t1", "py"):
                    m[k] += st[k]
        py = {k: 0.0 for k in ("sent_b", "received_b", "boot_ms", "init_ms", "total_ms", "rows")}
        for st in sin:
            for acc, v in st["py"].items():
                py[py_acc[acc]] += v
        busy = _union([(st["t0"], st["t1"]) for st in sin])
        wall = w1 - w0
        out[key] = {
            "spark.jobs": len(jin),
            "spark.stages": len(sin),
            "spark.tasks": m["tasks"],
            "spark.failed_tasks": m["failed_tasks"],
            "spark.stage_retries": sum(
                1 for (sid, att), st in stages.items()
                if sid in sids and att > 0 and st.get("t1")),
            "spark.task_run_s": m["run_ms"] / 1e3,
            "spark.task_cpu_s": m["cpu_ns"] / 1e9,
            "spark.gc_s": m["gc_ms"] / 1e3,
            "spark.deser_s": m["deser_ms"] / 1e3,
            "spark.sched_delay_s": m["sched_ms"] / 1e3,
            "spark.shuffle_write_mb": m["shuf_w_b"] / 1e6,
            "spark.shuffle_read_mb": m["shuf_r_b"] / 1e6,
            "spark.fetch_wait_s": m["fetch_ms"] / 1e3,
            "spark.spill_mb": m["spill_b"] / 1e6,
            "spark.stage_busy_s": busy,
            "spark.driver_gap_s": max(wall - busy, 0.0),
            "spark.slot_util": (m["run_ms"] / 1e3) / (busy * cores) if busy else 0.0,
            "sources.input_mb": m["in_b"] / 1e6,
            "sources.input_rows": m["in_rows"],
            "pyworker.total_s": py["total_ms"] / 1e3,
            "pyworker.boot_s": py["boot_ms"] / 1e3,
            "pyworker.init_s": py["init_ms"] / 1e3,
            "pyworker.sent_mb": py["sent_b"] / 1e6,
            "pyworker.received_mb": py["received_b"] / 1e6,
            "pyworker.rows": py["rows"],
        }
    return out


def _stage() -> dict:
    return {
        "t0": 0.0, "t1": 0.0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
        "cpu_ns": 0, "gc_ms": 0, "deser_ms": 0, "sched_ms": 0,
        "shuf_w_b": 0, "shuf_r_b": 0, "fetch_ms": 0, "spill_b": 0,
        "in_b": 0, "in_rows": 0, "py": {},
    }


def _add_task(st: dict, ev: dict, py_acc: dict[int, str]) -> None:
    ti = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        st["failed_tasks"] += 1
    run = tm.get("Executor Run Time", 0)
    deser = tm.get("Executor Deserialize Time", 0)
    dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
    st["run_ms"] += run
    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
    st["gc_ms"] += tm.get("JVM GC Time", 0)
    st["deser_ms"] += deser
    st["sched_ms"] += max(
        dur - run - deser - tm.get("Result Serialization Time", 0)
        - ti.get("Getting Result Time", 0), 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    st["shuf_r_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["fetch_ms"] += sr.get("Fetch Wait Time", 0)
    st["shuf_w_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill_b"] += tm.get("Disk Bytes Spilled", 0)
    im = tm.get("Input Metrics") or {}
    st["in_b"] += im.get("Bytes Read", 0)
    st["in_rows"] += im.get("Records Read", 0)
    for acc in ti.get("Accumulables", []):
        if acc.get("ID") in py_acc:
            st["py"][acc["ID"]] = st["py"].get(acc["ID"], 0) + int(acc.get("Update") or 0)


def _union(ivs: list[tuple[float, float]]) -> float:
    cov, cur0, cur1 = 0.0, None, None
    for a, b in sorted(ivs):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                cov += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        cov += cur1 - cur0
    return cov
