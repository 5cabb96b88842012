"""Golden tests for ``tools/check_oracle.py``, the repo's one Spark-vs-DuckDB
differential: the cell normalizer and the order-insensitive fingerprint are
pinned to literal strings, the per-column digests name the column that moved,
and one small end-to-end pass compares registered queries with their DuckDB
twins at sf0.001."""

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


def test_queries_match_duckdb_twin_at_sf0_001(spark, capsys):
    """A registered query through ``queries()`` against its DuckDB twin."""
    con = check_oracle.connect(SF)
    checked, failures = check_oracle.run_suite(spark, con, SF, {"pricing_summary"})
    assert (checked, failures) == (1, []), capsys.readouterr().out


def test_run_union_matches_composed_oracle_at_sf0_001(spark):
    """One warehouse branch through ``_run_union`` against its composed
    DuckDB oracle, compared by fingerprint."""
    from polygon_daily_market_data_pipeline_spark.plans.warehouse_ops import (
        _oracle_for,
        _run_union,
        checks_for,
    )

    con = check_oracle.connect(SF)
    df = _run_union(spark, SF, ["packing"])
    rows = [tuple(r) for r in df.collect()]
    rel = con.sql(_oracle_for(checks_for(["packing"])))
    assert len(rows) == 1
    assert fingerprint([c.lower() for c in df.columns], rows, spark_side=True) == (
        fingerprint([c.lower() for c in rel.columns], rel.fetchall())
    )
