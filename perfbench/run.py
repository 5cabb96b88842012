"""sparkmart benchmark: one closed-loop client driving the package.

    python3 perfbench/run.py --workload eod_daily --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, builds a ``local[<cores>]`` session with the package's
``session.get_spark``, sets up the workload and runs its untimed warm-up
passes (all charged to ``setup_s``), then runs passes of the workload
until their summed time reaches ``--seconds``. Every pass's outputs are checked after its timed
window; a wrong or failed operation counts in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with layer wrappers, job groups, Spark's event log and a streaming
listener, prints the per-layer metrics, and writes the per-layer table
and spans to ``perfbench/.work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the
run writes stays under ``perfbench/.work``; a run that changes any other
file of the checkout reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = HERE / ".work"
PACKAGE = "polygon_daily_market_data_pipeline_spark"
WORKLOAD_NAMES = ("eod_daily", "warehouse_trio")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def checkout_files(root: Path) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file the run must leave alone."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        rel = Path(dirpath).relative_to(root)
        dirnames[:] = [
            d for d in dirnames
            if d not in ("__pycache__", ".git") and rel / d != Path("perfbench/.work")
        ]
        for f in filenames:
            st = os.lstat(os.path.join(dirpath, f))
            out[str(rel / f)] = (st.st_size, st.st_mtime_ns)
    return out


def prepare_environment(work: Path) -> None:
    """Point every writer (Spark, the JVM, Python temp files, the
    warehouse queries' eval log) into ``work`` before anything imports
    pyspark or the package."""
    for sub in ("tmp", "local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": str(work / "tmp"),
            # every JVM the run starts (the launcher and the Spark driver) keeps
            # its temp files in ``work`` and writes no /tmp/hsperfdata file
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "WAREHOUSE_EVAL_LOG": "",
            "WAREHOUSE_ORACLE_EVAL": "0",
        }
    )
    tempfile.tempdir = None
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "tools")]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, trace: bool):
    from polygon_daily_market_data_pipeline_spark.session import get_spark

    n = cores()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


# -- the measured loop -------------------------------------------------------


def run_passes(wl, tracer, seconds: float):
    """Checked passes until their summed time reaches ``seconds``. Returns
    the passes, each ``{"ops": {op: (span, output)}, "http": counters}``,
    and the names of failed operations."""
    passes, failed, busy = [], [], 0.0
    while not passes or busy < seconds:
        http0 = wl.http_counters()
        try:
            result = wl.run_pass(tracer)
        except Exception:  # noqa: BLE001 — count it, keep measuring
            traceback.print_exc()
            failed.append("pass")
            wl.reset()
            if failed.count("pass") > 3:
                break
            continue
        http = tuple(b - a for a, b in zip(http0, wl.http_counters()))
        busy += sum(s["t1"] - s["t0"] for s, _ in result.values())
        failed += wl.check(result)
        wl.reset()
        passes.append({"ops": result, "http": http})
    return passes, failed


def ops_of(p: dict):
    return list(p["ops"].values())


def percentile_note(name: str, values: list[float]) -> str:
    n = len(values)
    med = statistics.median(values)
    tail = [p for p in (99.9, 99, 95, 90, 75) if n * (1 - p / 100) >= 10]
    extra = (
        f", p{tail[0]:g}={statistics.quantiles(values, n=1000)[int(tail[0] * 10) - 1]:.4f}"
        if tail
        else ", no percentile has ten samples beyond it"
    )
    samples = " ".join(f"{v:.3f}" for v in values)
    return f"timing {name}: n={n} median={med:.4f}s{extra}; samples {samples}"


def end_to_end(setup_s: float, passes: list) -> tuple[dict, list[str]]:
    pass_s = [sum(s["t1"] - s["t0"] for s, _ in ops_of(p)) for p in passes]
    notes = [percentile_note("pass_s", pass_s)]
    by_op = defaultdict(list)
    for p in passes:
        for s, _ in ops_of(p):
            by_op[s["name"]].append(s["t1"] - s["t0"])
    notes += [percentile_note(f"op.{k}", v) for k, v in by_op.items()]
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(pass_s), "unit": "s"},
    }
    return metrics, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "tools" / "check_oracle.py").is_file():
        print(f"perfbench: {ROOT} is not a sparkmart checkout", file=sys.stderr)
        return 2
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    before = checkout_files(ROOT)

    import layers
    import spans as tracing
    from workloads import WORKLOADS

    t0 = time.monotonic()
    spark = start_session(work, bool(args.trace))
    wl = WORKLOADS[args.workload](spark, str(work), args.seed)
    tracer = tracing.Tracer(spark, enabled=bool(args.trace))
    try:
        t1 = time.monotonic()
        wl.setup()
        t2 = time.monotonic()
        untraced = tracing.Tracer(spark, enabled=False)
        warm = []
        for _ in range(wl.warmup_passes):
            w0 = time.monotonic()
            try:
                wl.run_pass(untraced)
            except Exception:  # noqa: BLE001 — the measured passes count it
                traceback.print_exc()
            wl.reset()
            warm.append(f"{time.monotonic() - w0:.2f}s")
        setup_s = time.monotonic() - t0
        print(f"setup: session {t1 - t0:.2f}s, inputs {t2 - t1:.2f}s, warm-up passes {' '.join(warm)}")
        if args.trace:
            wl.wrap_layers(tracer)
        try:
            passes, failed = run_passes(wl, tracer, args.seconds)
        finally:
            tracer.uninstall()
    finally:
        wl.close()
        stop_session(spark)

    attempted = sum(len(ops_of(p)) for p in passes) + failed.count("pass")
    if not passes:
        # every pass raised: nothing to measure, only the failure to report
        metrics = {}
    elif args.trace:
        jobs = tracing.fold_event_log(str(work / "events"))
        tracing.attribute(tracer, jobs)
        metrics, table = layers.per_layer(tracer, jobs, passes)
        out = WORK_ROOT / f"trace-{args.workload}-{args.seed}.json"
        out.write_text(json.dumps({"workload": args.workload, "seed": args.seed, "cores": cores(),
                                   "per_pass": table, "spans": tracer.spans}, indent=1, default=str))
        print(f"per-layer table and spans: {out.relative_to(ROOT)}")
        print(layers.format_table(table))
    else:
        metrics, notes = end_to_end(setup_s, passes)
        print("\n".join(notes))
    shutil.rmtree(work, ignore_errors=True)

    changed = _changed(before)
    if changed:
        print(f"files outside perfbench/.work changed: {changed[:10]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not failed and not changed,
                "attempted": attempted,
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


def _changed(before: dict) -> list[str]:
    after = checkout_files(ROOT)
    return sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))


if __name__ == "__main__":
    sys.exit(main())
