"""Golden tests for ``tools/check_oracle.py``, the repo's one Spark-vs-DuckDB
differential: the cell normalizer and the order-insensitive fingerprint are
pinned to literal strings, the per-column digests name the column that moved,
and small end-to-end passes compare registered queries with their DuckDB
twins at sf0.001, from a non-UTC caller whose conf must come back unchanged."""

from __future__ import annotations

import contextlib
import datetime
import decimal
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import check_oracle  # noqa: E402
from check_oracle import _norm, col_digests, column_diffs, fingerprint  # noqa: E402

SF = "/root/testdata/sf0.001"

_UTC_MINUS_5 = datetime.timezone(datetime.timedelta(hours=-5))

# (value, normalized string); both sides agree on every entry when the
# host clock is UTC — the naive-datetime re-anchoring is tested apart.
# Decimals keep their scale ("0" != "0.000000"); -0.0 keeps its sign.
_BATTERY = [
    (None, "None"),
    (0, "0"),
    (-7, "-7"),
    (12345678901234567, "12345678901234567"),
    ("plain", "plain"),
    ("", ""),
    ("with|pipe", "with|pipe"),
    (0.0, "0.000000"),
    (-0.0, "-0.000000"),
    (1.5, "1.500000"),
    (2.675, "2.675000"),
    (-123.456789123, "-123.456789"),
    (1e-9, "0.000000"),
    (1e17, "100000000000000000.000000"),
    (float("nan"), "nan"),
    (float("inf"), "inf"),
    (decimal.Decimal("0"), "0"),
    (decimal.Decimal("0.000000"), "0.000000"),
    (decimal.Decimal("-12.30"), "-12.30"),
    (datetime.date(2024, 2, 29), "2024-02-29"),
    (datetime.datetime(2024, 2, 29, 23, 59, 59, 123456), "2024-02-29 23:59:59.123456"),
    (datetime.datetime(2024, 6, 1, 12, 0, 0, tzinfo=datetime.timezone.utc), "2024-06-01 12:00:00"),
    (datetime.datetime(2024, 6, 1, 12, 0, 0, tzinfo=_UTC_MINUS_5), "2024-06-01 17:00:00"),
    ([1, 2.5, "x"], "[1,2.500000,x]"),
    ([], "[]"),
    ([[1.0], [float("nan")]], "[[1.000000],[nan]]"),
    (True, "True"),
    (False, "False"),
]

COLS = ["check_name", "n_rows", "n_aux", "val"]
ROWS = [
    ("a_check", 10, 1, 123.45),
    ("b_check", 0, 0, float("nan")),
    ("c_check", 7, 2, -0.005),
]


@contextlib.contextmanager
def _host_tz(name: str):
    """Run the block with the process-local clock in zone ``name``."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_norm_golden_battery():
    with _host_tz("UTC"):
        for v, want in _BATTERY:
            for side in (True, False):
                assert _norm(v, spark_side=side) == want, (v, side)


def test_norm_reanchors_datetimes_to_utc():
    naive = datetime.datetime(2024, 2, 29, 23, 59, 59, 123456)
    aware = datetime.datetime(2024, 6, 1, 12, 0, 0, tzinfo=_UTC_MINUS_5)
    with _host_tz("America/New_York"):
        # Spark's collect renders naive timestamps in the host zone;
        # the Spark side moves them back to UTC, DuckDB's are UTC already
        assert _norm(naive, spark_side=True) == "2024-03-01 04:59:59.123456"
        assert _norm(naive, spark_side=False) == "2024-02-29 23:59:59.123456"
        # tz-aware values go to UTC on either side
        for side in (True, False):
            assert _norm(aware, spark_side=side) == "2024-06-01 17:00:00"


def test_fingerprint_golden_and_order_insensitive():
    assert fingerprint(COLS, ROWS) == "6f32339931995104"
    assert fingerprint(COLS, ROWS, spark_side=True) == "6f32339931995104"
    assert fingerprint(COLS, ROWS[::-1]) == "6f32339931995104"
    perm = [3, 1, 0, 2]
    assert (
        fingerprint([COLS[i] for i in perm], [tuple(r[i] for i in perm) for r in ROWS])
        == "6f32339931995104"
    )
    bumped = [ROWS[0][:3] + (123.450001,)] + ROWS[1:]
    assert fingerprint(COLS, bumped) != "6f32339931995104"


def test_col_digests_name_the_column_that_moved():
    assert col_digests(COLS, ROWS) == {
        "check_name": "e51bf8b206df942b",
        "n_rows": "4bb73cd65dc0640d",
        "n_aux": "b78a1987bcbdc090",
        "val": "929a712a81f2e099",
    }
    assert col_digests(COLS, ROWS[::-1]) == col_digests(COLS, ROWS)
    assert column_diffs(COLS, ROWS, COLS, ROWS) == [
        "all column digests equal: values re-paired across rows"
    ]
    bumped = [ROWS[0][:3] + (123.450001,)] + ROWS[1:]
    moved = col_digests(COLS, bumped)["val"]
    assert column_diffs(COLS, ROWS, COLS, bumped) == [
        f"column val spark=929a712a81f2e099 duckdb={moved}"
    ]
    # two columns swapped between rows: every column digest holds
    repaired = [("a_check", 0, 1, 123.45), ("b_check", 10, 0, float("nan")), ROWS[2]]
    assert fingerprint(COLS, repaired) != fingerprint(COLS, ROWS)
    assert column_diffs(COLS, ROWS, COLS, repaired) == [
        "all column digests equal: values re-paired across rows"
    ]


# a batch aggregate, the hourly windows, the streaming drains and the
# ANN query (its own AQE-off clone, lazily returned frame)
_FROM_VANILLA = {
    "pricing_summary",
    "events_hourly",
    "events_hourly_stream",
    "embedding_ann_ivf",
}


def _vanilla_new_york(spark):
    """A caller session like a driver's: New York time, naive parquet
    timestamps inferred as TIMESTAMP_NTZ, nanos timestamps not read as
    long."""
    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    caller.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    caller.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    return caller


def test_queries_match_duckdb_twin_at_sf0_001(spark, capsys):
    """Registered queries through ``queries()`` against their DuckDB
    twins, from a non-UTC caller session; ``run_suite`` also fails a
    query that leaves the caller's conf changed."""
    con = check_oracle.connect(SF)
    caller = _vanilla_new_york(spark)
    checked, failures = check_oracle.run_suite(caller, con, SF, _FROM_VANILLA)
    assert (checked, failures) == (len(_FROM_VANILLA), []), capsys.readouterr().out


def test_run_union_from_successive_callers_matches_oracle(spark, monkeypatch):
    """The shared ord slice is cached once per process. Two evaluations
    from two non-UTC callers must both match the oracle: a slice bound
    to the first caller's session would plan the second evaluation's
    date-cut literals in New York time."""
    from polygon_daily_market_data_pipeline_spark.plans import warehouse_ops

    monkeypatch.setattr(warehouse_ops, "_ORD_CACHE", {})
    con = check_oracle.connect(SF)
    rel = con.sql(warehouse_ops._oracle_for(warehouse_ops.checks_for(["retention"])))
    want = fingerprint([c.lower() for c in rel.columns], rel.fetchall())
    for _ in range(2):
        df = warehouse_ops._run_union(_vanilla_new_york(spark), SF, ["retention"])
        rows = [tuple(r) for r in df.collect()]
        assert fingerprint(df.columns, rows, spark_side=True) == want


def test_run_suite_reports_a_conf_leak(spark, capsys, monkeypatch):
    import __spark_entry__ as ent

    from polygon_daily_market_data_pipeline_spark.plans.analytics import QUERIES

    def leaky(s, sf_dir):
        s.conf.set("spark.sql.shuffle.partitions", "7")
        return QUERIES["pricing_summary"](s, sf_dir)

    monkeypatch.setattr(ent, "queries", lambda: {"pricing_summary": leaky})
    caller = spark.newSession()
    checked, failures = check_oracle.run_suite(
        caller, check_oracle.connect(SF), SF
    )
    assert (checked, failures) == (1, ["pricing_summary"])
    assert (
        "FAIL  pricing_summary: session conf changed "
        "['spark.sql.shuffle.partitions']"
    ) in capsys.readouterr().out


def _cached_plans(spark) -> int:
    """Plans in the context's shared CacheManager (no public count)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_eager_ann_audit_leaves_no_cached_plans(spark):
    """Like its conf, a caller's shared cache comes back as it was: the
    registered embedding_ann_ivf persists its corpus, baseline and
    shared index for the audits, and the eager call returns a frame
    that reads only the audits' local checkpoints — and still
    evaluates."""
    from polygon_daily_market_data_pipeline_spark.plans.llm_ops import (
        embedding_ann_ivf,
    )

    before = _cached_plans(spark)
    out = embedding_ann_ivf(spark, SF)
    assert _cached_plans(spark) <= before
    assert {r["method"] for r in out.collect()} == {
        "ivf", "ivfpq", "pq", "sq", "ivfsq", "semdedup"
    }


def test_run_union_matches_composed_oracle_at_sf0_001(spark):
    """One warehouse branch through ``_run_union`` against its composed
    DuckDB oracle, compared by fingerprint."""
    from polygon_daily_market_data_pipeline_spark.plans.warehouse_ops import (
        _oracle_for,
        _run_union,
        checks_for,
    )

    con = check_oracle.connect(SF)
    before = spark.conf.getAll
    df = _run_union(spark, SF, ["packing"])
    rows = [tuple(r) for r in df.collect()]
    assert spark.conf.getAll == before
    rel = con.sql(_oracle_for(checks_for(["packing"])))
    assert len(rows) == 1
    assert fingerprint([c.lower() for c in df.columns], rows, spark_side=True) == (
        fingerprint([c.lower() for c in rel.columns], rel.fetchall())
    )
