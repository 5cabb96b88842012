"""Per-layer metrics of a traced run, per pass and as medians over passes.

Every workload reports every metric; a layer or operation a workload
never touches reads 0. Layer times are shares of the pass's wall time
(``%``), so the absolute seconds are ``share × trace.pass_s``.

- main-thread layers (the daily pipeline's call tree): self time, i.e. a
  span's duration minus its child spans, and the Spark jobs submitted
  while it was the innermost open span. The lazy layers (the landing CSV
  plan, the star plans) cost little themselves: their work runs inside
  whichever call executes an action, usually ``pipeline.write``.
- pool layers (versioned-table calls made from the warehouse queries'
  branch threads): busy time as the union of each thread's spans,
  summed over threads, so it can exceed 100% of wall time.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import union_length

OPS = ["batch", "kpi", "daily_change", "volume_trend", "top10", "maintenance", "lifecycle", "streaming"]
MAIN_LAYERS = ["sources", "quality", "star", "pipeline.write", "pipeline.read", "pipeline.driver", "measures"]
POOL_LAYERS = ["versioned.commit", "versioned.merge", "versioned.scan", "versioned.maintenance"]
_JOB_SUMS = [
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("input_bytes", "bytes"), ("output_bytes", "bytes"), ("result_bytes", "bytes"),
]

PER_LAYER = (
    [("trace.pass_s", "s"), ("trace.attributed_pct", "%")]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.driver_gap_s", "s")]
    + [(f"spark.{k}", u) for k, u in _JOB_SUMS]
    + [
        (f"op.{op}.{k}", u)
        for op in OPS
        for k, u in (("pct", "%"), ("jobs", "count"), ("tasks", "count"), ("gap_pct", "%"),
                     ("cpu_pct", "%"), ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"))
    ]
    + [(f"layer.{lay}.{k}", u) for lay in MAIN_LAYERS for k, u in (("pct", "%"), ("jobs", "count"))]
    + [(f"layer.{lay}.{k}", u) for lay in POOL_LAYERS for k, u in (("pct", "%"), ("calls", "count"))]
    + [("sources.http_requests", "count"), ("sources.http_bytes", "bytes"),
       ("sources.http_non200", "count"), ("pipeline.bytes_written", "bytes"),
       ("pipeline.read_calls", "count")]
    + [("streaming.batches", "count"), ("streaming.add_batch_pct", "%"),
       ("streaming.query_planning_pct", "%"), ("streaming.wal_commit_pct", "%"),
       ("streaming.state_rows", "count"), ("streaming.input_rows", "count")]
)


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def _job_union(jobs: list[dict], lo: float, hi: float) -> float:
    return union_length([(max(j["t0"], lo), min(j["t1"], hi)) for j in jobs if j["t1"] > lo and j["t0"] < hi])


def one_pass(tracer, jobs: list[dict], record: dict) -> dict:
    ops = [s for s, _ in record["ops"].values()]
    wall = sum(_dur(s) for s in ops)
    lo, hi = min(s["t0"] for s in ops), max(s["t1"] for s in ops)
    m = defaultdict(float)
    m["trace.pass_s"] = wall

    by_op = defaultdict(list)
    for j in jobs:
        by_op[j["op"]].append(j)
    gap = 0.0
    for s in ops:
        oj = by_op.get(s["id"], [])
        busy = _job_union(oj, s["t0"], s["t1"])
        gap += _dur(s) - busy
        p = f"op.{s['name']}."
        m[p + "pct"] = 100 * _dur(s) / wall
        m[p + "jobs"] = len(oj)
        m[p + "tasks"] = sum(j["tasks"] for j in oj)
        m[p + "gap_pct"] = 100 * (_dur(s) - busy) / _dur(s)
        m[p + "cpu_pct"] = 100 * sum(j["executor_cpu_s"] for j in oj) / _dur(s)
        m[p + "input_bytes"] = sum(j["input_bytes"] for j in oj)
        m[p + "shuffle_bytes"] = sum(j["shuffle_read_bytes"] + j["shuffle_write_bytes"] for j in oj)
        m["spark.jobs"] += len(oj)
        m["spark.stages"] += sum(len(j["stages"]) for j in oj)
        m["spark.tasks"] += sum(j["tasks"] for j in oj)
        for k, _u in _JOB_SUMS:
            m[f"spark.{k}"] += sum(j[k] for j in oj)
    m["spark.driver_gap_s"] = gap

    in_pass = [s for s in tracer.spans if s["t0"] >= lo and s["t1"] <= hi and s["layer"] != "op"]
    main = [s for s in in_pass if s["thread"] == tracer.main_thread]
    child_time = defaultdict(float)
    for s in main:
        child_time[s["parent"]] += _dur(s)
    jobs_in_span = defaultdict(list)
    for j in jobs:
        jobs_in_span[j["span"]].append(j)
    for s in main:
        lay = f"layer.{s['layer']}."
        m[lay + "pct"] += 100 * (_dur(s) - child_time[s["id"]]) / wall
        m[lay + "jobs"] += len(jobs_in_span[s["id"]])
        if s["layer"] == "pipeline.write":
            m["pipeline.bytes_written"] += sum(j["output_bytes"] for j in jobs_in_span[s["id"]])
        if s["layer"] == "pipeline.read":
            m["pipeline.read_calls"] += 1
    m["trace.attributed_pct"] = sum(m[f"layer.{lay}.pct"] for lay in MAIN_LAYERS)

    pool = defaultdict(list)
    for s in in_pass:
        if s["thread"] != tracer.main_thread:
            pool[(s["layer"], s["thread"])].append((s["t0"], s["t1"]))
    for (layer, _thread), iv in pool.items():
        m[f"layer.{layer}.pct"] += 100 * union_length(iv) / wall
        m[f"layer.{layer}.calls"] += len(iv)

    prog = [p for p in tracer.progress if lo <= p["t"] <= hi]
    m["streaming.batches"] = len(prog)
    for key, name in (("addBatch", "add_batch_pct"), ("queryPlanning", "query_planning_pct"),
                      ("walCommit", "wal_commit_pct")):
        m[f"streaming.{name}"] = 100 * sum(p["duration_ms"].get(key, 0) for p in prog) / 1e3 / wall
    m["streaming.state_rows"] = max((p["state_rows"] for p in prog), default=0)
    m["streaming.input_rows"] = sum(p["input_rows"] for p in prog)

    req, nbytes, non200 = record["http"]
    m["sources.http_requests"], m["sources.http_bytes"], m["sources.http_non200"] = req, nbytes, non200
    return {k: float(m.get(k, 0.0)) for k, _u in PER_LAYER}


def per_layer(tracer, jobs: list[dict], passes: list[dict]) -> tuple[dict, list[dict]]:
    """Median over passes of every per-layer metric, and the per-pass table."""
    table = [one_pass(tracer, jobs, p) for p in passes]
    metrics = {
        k: {"value": statistics.median(row[k] for row in table), "unit": u} for k, u in PER_LAYER
    }
    return metrics, table


def format_table(table: list[dict]) -> str:
    """The non-zero metrics, one line each, with every pass's value."""
    lines = ["per-layer (one column per pass):"]
    for k, u in PER_LAYER:
        vals = [row[k] for row in table]
        if any(vals):
            lines.append(f"  {k:<34} {u:<6} " + "  ".join(f"{v:14.4f}" for v in vals))
    return "\n".join(lines)
