"""Data-quality / audit operators (SURVEY.md §2.11 Q1–Q6) — first-class
in the reference; first-class here.

Semantics preserved exactly:
- Q1 min-cardinality gate: < MIN_EXPECTED_TICKERS → **fail**
  (``/root/reference/dags/lib/eod_data_downloader.py:17,138-145``;
  ``get_securities_data.py:63-68``);
- Q2 zero rows → **skip**, not fail (``get_securities_data.py:109-112``,
  AirflowSkipException at ``:122``);
- Q3 post-load presence check (``check_loaded.sql:4-6``);
- Q4 pre-merge insert/update estimates (``premerge_metrics.sql:4-33``);
- Q5 post-merge reconciliation (``postmerge_metrics.sql:4-10``).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.casts import norm_key
from polygon_daily_market_data_pipeline_spark.sources.polygon_api import (
    MIN_EXPECTED_TICKERS,
)


class DataQualityError(RuntimeError):
    """Raised when a hard DQ gate fails (Airflow task-failure analog)."""


class SkipBatch(Exception):
    """Raised to skip a batch without failing (AirflowSkipException analog)."""


def min_cardinality_gate(
    df: DataFrame, min_rows: int = MIN_EXPECTED_TICKERS
) -> int:
    """Q1/Q2: count rows; 0 → SkipBatch, 0 < n < min_rows → fail.

    One count() action — at scale this is a metadata-cheap aggregate;
    prefer ``df.observe()`` when the count can piggyback on a write.
    """
    n = df.count()
    if n == 0:
        raise SkipBatch("no rows for batch — skipping (Q2)")
    if n < min_rows:
        raise DataQualityError(
            f"row_count {n} < MIN_EXPECTED_TICKERS {min_rows} (Q1)"
        )
    return n


def check_loaded(raw: DataFrame, trade_date) -> bool:
    """Q3: COUNT(*) > 0 on the loaded date partition (check_loaded.sql)."""
    n = raw.where(F.col("trade_date") == F.lit(str(trade_date)).cast("date")).count()
    if n == 0:
        raise DataQualityError(f"no rows loaded for {trade_date} (Q3)")
    return True


def premerge_metrics(raw_batch: DataFrame, core: DataFrame) -> DataFrame:
    """Q4 (premerge_metrics.sql:4-33): raw count, distinct keys, keys
    already in CORE, insert/update estimates — one audit row via
    1×1×1 cross joins of scalar aggregates."""
    raw_cnt = raw_batch.agg(F.count(F.lit(1)).alias("raw_rows"))
    keys = (
        raw_batch.select(
            norm_key("symbol").alias("symbol"), "trade_date"
        ).distinct()
    )
    key_cnt = keys.agg(F.count(F.lit(1)).alias("distinct_keys"))
    existing = (
        keys.join(
            core.select(norm_key("symbol").alias("symbol"), "trade_date"),
            ["symbol", "trade_date"],
            "inner",
        ).agg(F.count(F.lit(1)).alias("existing_keys"))
    )
    return (
        raw_cnt.crossJoin(key_cnt)
        .crossJoin(existing)
        .select(
            "raw_rows",
            "distinct_keys",
            "existing_keys",
            (F.col("distinct_keys") - F.col("existing_keys")).alias("inserts_est"),
            F.col("existing_keys").alias("updates_est"),
        )
    )


def postmerge_metrics(core: DataFrame, fact: DataFrame, trade_date) -> DataFrame:
    """Q5 (postmerge_metrics.sql:4-10): core-vs-fact row counts for the
    run date, one reconciliation row."""
    d = F.lit(str(trade_date)).cast("date")
    c = core.where(F.col("trade_date") == d).agg(
        F.count(F.lit(1)).alias("core_rows")
    )
    f_ = fact.where(F.col("trade_date") == d).agg(
        F.count(F.lit(1)).alias("fact_rows")
    )
    return c.crossJoin(f_)


def with_retries(fn, retries: int = 3, delay_s: float = 60.0, logger=None):
    """Task-level retry wrapper — the Airflow ``retries=3,
    retry_delay=1m`` analog (get_securities_data.py:79-80), with the
    failure-callback logging of Q6 (get_securities_data.py:21-26).
    ``SkipBatch`` passes through (a skip is a decision, not a fault);
    ``DataQualityError`` and other exceptions retry then re-raise."""
    import logging
    import time

    log = logger or logging.getLogger(__name__)

    def run(*args, **kwargs):
        last = None
        for attempt in range(1 + retries):
            try:
                return fn(*args, **kwargs)
            except SkipBatch:
                raise
            except Exception as exc:  # noqa: BLE001 — mirror Airflow retry-all
                last = exc
                log.error(
                    "task %s failed (attempt %d/%d): %s",
                    getattr(fn, "__name__", "?"), attempt + 1, 1 + retries, exc,
                )
                if attempt < retries:
                    time.sleep(delay_s)
        raise last

    return run


class ExpectationResult(NamedTuple):
    """``apply_expectations`` output: the surviving rows, the
    quarantined rows (``on_fail='quarantine'`` only, else None), and a
    per-expectation metrics frame (expectation, n_failed, n_rows)."""

    clean: DataFrame
    quarantined: "DataFrame | None"
    metrics: DataFrame


def apply_expectations(
    df: DataFrame,
    expectations: dict,
    on_fail: str = "drop",
) -> ExpectationResult:
    """Declarative row-level data-quality expectations — the Delta Live
    Tables ``EXPECT`` analog, generalizing the reference's table-level
    gates (Q1-Q6 above) to per-row constraints on ANY DataFrame:

    - ``on_fail='drop'``: violating rows are filtered out (DLT
      ``expect or drop``);
    - ``'quarantine'``: violating rows are returned as a second frame
      for a dead-letter sink instead of being discarded;
    - ``'fail'``: any violation raises ``DataQualityError`` naming the
      failed expectations and counts (DLT ``expect or fail``);
    - ``'keep'``: nothing filtered — metrics only (DLT plain
      ``expect``).

    NULL conditions PASS, matching SQL CHECK semantics and the
    versioned-table ``checks`` enforcement (``operators/versioned.py``)
    — an expectation on a nullable column rejects rows it can prove
    wrong, never rows it cannot evaluate.

    Scale shape: ALL expectations are counted in ONE aggregate pass
    (one job, map-side partial sums) regardless of how many there are —
    never a job per gate — and the clean/quarantine splits are plain
    filters on the same scan. Values may be SQL strings or Columns."""
    if on_fail not in ("drop", "quarantine", "fail", "keep"):
        raise ValueError(f"unknown on_fail {on_fail!r}")
    if not expectations:
        raise ValueError("no expectations given")
    names = list(expectations)
    ok = {}
    for name in names:
        c = expectations[name]
        cond = F.expr(c) if isinstance(c, str) else c
        ok[name] = F.coalesce(cond.cast("boolean"), F.lit(True))
    all_ok = ok[names[0]]
    for name in names[1:]:
        all_ok = all_ok & ok[name]
    aggs = [
        F.sum((~ok[n]).cast("long")).alias(f"__e{i}")
        for i, n in enumerate(names)
    ] + [F.count(F.lit(1)).alias("__n")]
    row = df.agg(*aggs).first()
    total = int(row["__n"])
    failed = {n: int(row[f"__e{i}"]) for i, n in enumerate(names)}
    metrics = df.sparkSession.createDataFrame(
        [(n, failed[n], total) for n in names],
        "expectation string, n_failed long, n_rows long",
    )
    if on_fail == "fail":
        bad = {n: c for n, c in failed.items() if c}
        if bad:
            raise DataQualityError(
                f"expectations violated: {bad} over {total} rows"
            )
        return ExpectationResult(df, None, metrics)
    if on_fail == "keep":
        return ExpectationResult(df, None, metrics)
    clean = df.where(all_ok)
    if on_fail == "quarantine":
        return ExpectationResult(clean, df.where(~all_ok), metrics)
    return ExpectationResult(clean, None, metrics)
