"""Local DuckDB-differential harness mirroring the driver's t2 check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, then compares row count, column names, and
an order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """A DuckDB connection with one view per testdata table in sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v, spark_side=False):
    import datetime
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        # Strict: keep the native scale (Decimal('0') != Decimal('0.000000'))
        # so representation mismatches the driver's hasher would flag cannot
        # hide behind a lossy %.6f reformat (ADVICE r1).
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        # PySpark's collect() materializes TIMESTAMP through the HOST
        # timezone (not the session TZ); DuckDB returns naive UTC
        # wall-clock. Re-anchor Spark-side naive datetimes to UTC so
        # the compare is host-TZ-independent (a no-op on a UTC host —
        # which the driver harness is; see BASELINE.md).
        if spark_side and v.tzinfo is None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        elif v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x, spark_side) for x in v) + "]"
    return str(v)


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def fingerprint(cols, rows, spark_side=False):
    """Order-insensitive value hash: columns sorted by name, each cell
    normalized, the joined lines sorted, sha256 (16 hex chars)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return _digest("|".join(_norm(r[i], spark_side) for i in order) for r in rows)


def col_digests(cols, rows, spark_side=False) -> "dict[str, str]":
    """Per-column fingerprint: sha256 over that column's sorted
    normalized values. On a hash mismatch the differing digests name
    the column that moved. Each column is sorted on its own, so values
    re-paired across rows move the row fingerprint while every column
    digest stays equal."""
    return {
        c: _digest(_norm(r[i], spark_side) for r in rows)
        for i, c in enumerate(cols)
    }


def column_diffs(scols, srows, ocols, orows) -> "list[str]":
    """Name the columns whose digests differ between the Spark rows and
    the DuckDB rows (same column set assumed), one line per column with
    both digests."""
    sd = col_digests(scols, srows, spark_side=True)
    od = col_digests(ocols, orows)
    out = [
        f"column {c} spark={sd[c]} duckdb={od[c]}"
        for c in sorted(sd)
        if sd[c] != od[c]
    ]
    return out or ["all column digests equal: values re-paired across rows"]


def run_suite(
    spark, con, sf_dir: str, only: "set[str] | None" = None,
) -> "tuple[int, list[str]]":
    """One differential pass over the registered suite in driver order:
    run each Spark query, run its DuckDB oracle, compare count/columns/
    value hash. A query that leaves ``spark``'s conf changed after its
    collect fails too. Returns (checked, failures)."""
    import __spark_entry__ as ent

    qs, oracles = ent.queries(), ent.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        before = spark.conf.getAll
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        after = spark.conf.getAll
        changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
        if changed:
            print(f"FAIL  {name}: session conf changed {changed}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            orel = con.sql(oracles[name])
            ocols = [c.lower() for c in orel.columns]
            orows = orel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        scols_l = [c.lower() for c in scols]
        problems = []
        if sorted(scols_l) != sorted(ocols):
            problems.append(f"cols spark={scols_l} duckdb={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rows spark={len(srows)} duckdb={len(orows)}")
        if not problems:
            sh = fingerprint(scols_l, [tuple(r) for r in srows], spark_side=True)
            oh = fingerprint(ocols, orows)
            if sh != oh:
                problems.append(f"hash spark={sh} duckdb={oh}")
                problems.extend(column_diffs(scols_l, srows, ocols, orows))
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name} ({len(srows)} rows)")
    return checked, failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from polygon_daily_market_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("WARN")

    checked, failures = run_suite(spark, connect(sf_dir), sf_dir, only or None)
    print(f"\n{checked - len(failures)}/{checked} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
