"""Spans, layer wrappers and Spark's own records for the traced run.

The benchmark times layers from outside: ``Tracer.wrap`` replaces a
package function (in every package module that binds it) with a wrapper
that records a span, and ``Tracer.span`` opens the per-operation spans
that also set a Spark job group. Spans stay in memory. After the session
stops, ``fold_event_log`` reads Spark's event log and ``attribute`` hands
each job to its operation (by job group) and to the innermost
main-thread span that was open when the job was submitted. Streaming
micro-batches come from a ``StreamingQueryListener``.

With ``enabled=False`` spans only time blocks and set no job groups; the
untraced run also installs no wrappers or listener and runs the session
without an event log.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import itertools
import json
import os
import sys
import threading
import time

PACKAGE = "polygon_daily_market_data_pipeline_spark"
GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._listener = None
        self.main_thread = threading.get_ident()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: bool = False):
        """Time a block. With ``group`` (operations only) the block's
        Spark jobs carry the span's id as their job group."""
        st = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": st[-1]["id"] if st else None,
            "thread": threading.get_ident(),
            "t0": time.time(),
            "t1": None,
        }
        sc = self.spark.sparkContext if (group and self.enabled) else None
        prev = sc.getLocalProperty(GROUP_KEY) if sc else None
        if sc:
            sc.setLocalProperty(GROUP_KEY, f"perfbench-{rec['id']}")
        st.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            st.pop()
            if sc:
                sc.setLocalProperty(GROUP_KEY, prev)
            self.spans.append(rec)

    # -- wrappers --------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str, on_result=None) -> None:
        """Record a ``layer`` span around every call of ``owner.attr``.

        A module-level function is replaced wherever a package module
        binds it (``from x import f`` copies the reference), so calls
        through any import path are seen. ``on_result`` may wrap what the
        call returns (for lazy frames whose action runs later)."""
        orig = owner.__dict__[attr]
        name = f"{getattr(owner, '__name__', owner)}.{attr}".replace(PACKAGE + ".", "")

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                out = orig(*args, **kwargs)
            return on_result(out) if on_result else out

        if isinstance(owner, type):
            targets = [(owner, attr)]
        else:
            targets = [
                (mod, key)
                for mname, mod in list(sys.modules.items())
                if mname.startswith(PACKAGE) and mod is not None
                for key, val in list(vars(mod).items())
                if val is orig
            ]
        for tgt, key in targets:
            setattr(tgt, key, wrapper)
            self._patches.append((tgt, key, orig))

    def timed_method(self, obj, attr: str, name: str, layer: str):
        """Charge a later call of ``obj.attr`` (e.g. ``collect`` on a lazy
        frame a layer returned) to ``layer``."""
        orig = getattr(obj, attr)

        def call(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        setattr(obj, attr, call)
        return obj

    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                sink.append(
                    {
                        "t": ts.timestamp(),
                        "batch_id": p.batchId,
                        "duration_ms": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "input_rows": p.numInputRows,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for tgt, key, orig in reversed(self._patches):
            setattr(tgt, key, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


# -- Spark event log --------------------------------------------------------

_TASK_SUMS = {
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_read_bytes": lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0)
        for k in ("Remote Bytes Read", "Local Bytes Read")
    ),
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    "input_bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
    "output_bytes": lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0),
    "result_bytes": lambda m: m.get("Result Size", 0),
}


def fold_event_log(event_dir: str) -> list[dict]:
    """One record per Spark job: group, submit/end times (epoch s), the
    stages and tasks it ran, and its tasks' summed metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for fname in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                        "t0": ev["Submission Time"] / 1e3,
                        "t1": None,
                        "stages": set(),
                        "tasks": 0,
                        **{k: 0 for k in _TASK_SUMS},
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    for k, f in _TASK_SUMS.items():
                        job[k] += f(m)
    return [j for j in jobs.values() if j["t1"] is not None]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(tracer: Tracer, jobs: list[dict]) -> None:
    """Set ``job["op"]`` (operation span id) and ``job["span"]`` (innermost
    main-thread span open at submission) on every job."""
    main = sorted(
        (s for s in tracer.spans if s["thread"] == tracer.main_thread),
        key=lambda s: s["t0"],
    )
    ops = {f"perfbench-{s['id']}": s for s in main if s["layer"] == "op"}
    by_id = {s["id"]: s for s in main}
    for job in jobs:
        op = ops.get(job["group"])
        best = None
        for s in main:
            if s["t0"] > job["t0"]:
                break
            if job["t0"] <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        if op is None and best is not None:
            # jobs from threads that do not inherit the group (a branch
            # pool inside an operation) fall back to the open operation
            cur = best
            while cur is not None and cur["layer"] != "op":
                cur = by_id.get(cur["parent"])
            op = cur
        job["op"] = op["id"] if op else None
        job["span"] = best["id"] if best else None
