"""Z-order (Morton) data layout — multi-dimensional file pruning.

Compaction (`versioned.optimize_compact`) fixes file COUNT; this fixes file
CONTENT: a table queried by more than one predicate column (events by
user AND by time; lineitem by part AND by supplier) can only cluster
one of them with a plain sort. Interleaving the bits of both columns
into one Morton key and range-writing on it gives every file a narrow
min/max envelope on EVERY z-column, so parquet footer stats prune files
for point/range predicates on any of them — the same layout lever
Delta/Iceberg expose as OPTIMIZE ZORDER BY, here as a plain
parquet-write operator.

At 100 TB this is a scan-cost multiplier: footer-stats pruning happens
before any task is scheduled, so a 1000-file table where a predicate
touches 30 files schedules 30 tasks, not 1000. The write itself is one
range shuffle (same cost class as any global sort-write) and is done
once per partition at compaction time, amortized over every read.

Everything is JVM-side codegen: bucketing is `width_bucket`, bit
interleaving is shiftleft/or chains — no UDF, no driver loop over rows
(the only driver action is one min/max agg per z-column).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.session import with_conf

DEFAULT_BITS = 12


def morton_key(bucketed: list[Column], bits: int = DEFAULT_BITS) -> Column:
    """Interleave the low ``bits`` bits of already-bucketed (integer)
    columns into one long: column j contributes bit i to output bit
    ``i*len(cols)+j``. Pure shiftleft/and/or expression tree — stays in
    whole-stage codegen (`bits*len(cols)` terms; 12×2 = 24 ors)."""
    z = F.lit(0).cast("long")
    n = len(bucketed)
    for i in range(bits):
        for j, c in enumerate(bucketed):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def _numeric_view(df: DataFrame, col: str) -> Column:
    """Order-preserving numeric view of a column (temporal → epoch)."""
    c = F.col(col)
    dt = dict(df.dtypes)[col]
    if dt.startswith("timestamp") or dt == "date":
        c = c.cast("timestamp").cast("double")
    return c


def _bucketize(
    df: DataFrame, col: str, bits: int, method: str = "linear"
) -> Column:
    """Map a numeric/date/timestamp column to [0, 2^bits).

    - ``linear``: min/max scaling (one tiny driver agg; the classic
      z-order bucketing — Delta OSS likewise uses range ids). Skewed
      values pile into few buckets, widening file envelopes.
    - ``quantile``: rank-uniform buckets from ``approxQuantile``
      boundaries (a driver-side sketch — scalable at any table size),
      assigned by a binary search over the boundary array expressed as
      an ``aggregate`` HOF fold over the ``bits`` bit weights. The fold
      evaluates ITERATIVELY at runtime, so the expression stays
      constant-sized — the previous formulation (``bits`` chained WHENs
      each referencing the accumulator Column several times) expanded
      the shared DAG into a ~4^bits-node tree at Column→Expression
      conversion and OOM'd the driver at the default bits=12. Equal
      data share per bucket regardless of skew, O(bits) compares/row.
    """
    c = _numeric_view(df, col)
    n = 1 << bits
    if method == "quantile":
        probs = [i / n for i in range(1, n)]
        bounds = df.select(c.alias("__q")).approxQuantile("__q", probs, 0.001)
        if not bounds or bounds[0] == bounds[-1]:
            return F.lit(0)
        arr = F.lit(bounds)  # 1-indexed via element_at below
        weights = F.lit([1 << k for k in range(bits - 1, -1, -1)])
        # boundary index `acc + w` separates buckets acc+w-1 | acc+w
        return F.aggregate(
            weights,
            F.lit(0),
            lambda acc, w: F.when(
                (acc + w <= F.lit(n - 1))
                & (c >= F.element_at(arr, (acc + w).cast("int"))),
                acc + w,
            ).otherwise(acc),
        )
    if method != "linear":
        raise ValueError(f"unknown bucketize method {method!r}")
    lo, hi = df.select(F.min(c), F.max(c)).first()
    if lo is None or hi is None or float(hi) == float(lo):
        return F.lit(0)
    # width_bucket returns 1..n+1; clamp into 0..n-1
    b = F.width_bucket(c, F.lit(float(lo)), F.lit(float(hi)), F.lit(n)) - 1
    return F.least(F.greatest(b, F.lit(0)), F.lit(n - 1))


def zorder_write(
    df: DataFrame,
    path: str,
    zcols: list[str],
    n_files: int,
    bits: int = DEFAULT_BITS,
    bucketize: str = "linear",
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted by the Morton key of ``zcols`` — each output file covers a
    compact z-curve segment, i.e. a small hyper-rectangle set in
    (zcols) space, which is what makes footer min/max stats selective
    on every z-column at once.

    Files are split on the top ``log2(n_files)`` bits of the key (the
    z-cell id), not on the continuous key: range-sampling the raw key
    balances row counts but lands boundaries mid-cell, so every file
    would straddle two hyper-rectangles and its min/max envelope
    doubles. Cell-aligned boundaries trade perfectly even file sizes
    (skewed data ⇒ uneven cells, same trade Delta's OPTIMIZE ZORDER
    makes) for tight per-file envelopes. ``n_files`` is rounded up to a
    power of two."""
    # INT96 timestamps carry no parquet statistics — the whole point
    # here is footer pruning, so write the stats-bearing INT64 layout
    # from a clone of the session (a per-write option is ignored: the
    # footer stays INT96 with no stats)
    df = with_conf(df, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"})
    n = 1 << max(1, (n_files - 1).bit_length())
    # materialize each bucketized column ONCE: morton_key references
    # every input `bits` times, and inlining a non-trivial bucket
    # expression (the quantile fold carries a 2^bits-element
    # boundary array) at each reference bloats the plan for nothing
    bcols = {f"__zb_{i}": _bucketize(df, c, bits, bucketize) for i, c in enumerate(zcols)}
    key = morton_key([F.col(name) for name in bcols], bits)
    cell = F.shiftright(
        F.col("__z"), bits * len(zcols) - n.bit_length() + 1
    )
    (
        df.withColumns(bcols)
        .withColumn("__z", key)
        .repartitionByRange(n, cell)
        .sortWithinPartitions("__z")
        .drop("__z", *bcols)
        .write.mode("overwrite")
        .parquet(path)
    )


def _cmp_stat(v):
    # normalize to naive UTC: Spark writes isAdjustedToUTC
    # timestamps (stats surface tz-aware), callers pass naive
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def list_parquet_files(path: str) -> list[str]:
    """Data files under ``path`` (recursive), sorted, markers skipped."""
    out = []
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if fname.startswith(("_", ".")) or not fname.endswith(".parquet"):
                continue
            out.append(os.path.join(root, fname))
    return sorted(out)


def file_envelope(
    fpath: str, cols: list[str], with_nulls: bool = False
) -> "tuple | None":
    """(num_rows, {col: (min, max) | None}) for one parquet file from
    footer statistics — None per column when any row group lacks stats
    (cannot prune), None overall for an empty file (nothing to scan).
    Footer-only; no data pages are read. Safe to call executor-side.

    ``with_nulls=True`` returns a third element
    ``{col: null_count | None}`` (None when any row group's footer
    lacks the count) — what proves a predicate column NULL-free for
    the manifest-aggregate path (``fast_aggregate``: a file counts as
    wholly inside a range only if no row is NULL on the predicate
    column)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    if md.num_rows == 0:
        return None
    arrow_schema = md.schema.to_arrow_schema()
    env: dict = {}
    nulls: dict = {}
    for col in cols:
        idx = arrow_schema.get_field_index(col)
        fmin = fmax = None
        env_ok = True
        n_null: "int | None" = 0
        # ONE pass over the row-group statistics accumulates both the
        # envelope and the null count — each tracked independently (a
        # group may carry one without the other)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if env_ok:
                if st is None or not st.has_min_max:
                    fmin = fmax = None
                    env_ok = False
                else:
                    smin, smax = _cmp_stat(st.min), _cmp_stat(st.max)
                    fmin = smin if fmin is None else min(fmin, smin)
                    fmax = smax if fmax is None else max(fmax, smax)
            if with_nulls and n_null is not None:
                if st is None or not st.has_null_count:
                    n_null = None
                else:
                    n_null += st.null_count
            if not env_ok and (not with_nulls or n_null is None):
                break
        env[col] = None if fmin is None else (fmin, fmax)
        if with_nulls:
            nulls[col] = n_null
    if with_nulls:
        return md.num_rows, env, nulls
    return md.num_rows, env


def _file_envelopes(path: str, cols: list[str]):
    """Per nonempty parquet file: {col: (min, max)} from footer
    statistics, or {col: None} when any row group lacks stats."""
    for fpath in list_parquet_files(path):
        res = file_envelope(fpath, cols)
        if res is not None:
            yield res[1]


def pruning_stats(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(total_files, files_whose_[min,max]_overlaps_[lo,hi]) from
    parquet footer statistics — the same decision a Spark scan makes
    before scheduling tasks."""
    return pruning_stats_multi(path, {col: (lo, hi)})


def pruning_stats_multi(path: str, preds: dict) -> tuple[int, int]:
    """(total_files, files_overlapping_EVERY_predicate) for a
    conjunctive predicate ``{col: (lo, hi), ...}`` — the footer-stats
    decision for ``col1 BETWEEN .. AND col2 BETWEEN ..`` scans, which is
    where z-order beats any single-column sort: a file is scheduled only
    if its envelope intersects ALL ranges. Missing stats on a column
    count as overlapping (cannot prune)."""
    preds = {c: (_cmp_stat(lo), _cmp_stat(hi)) for c, (lo, hi) in preds.items()}
    total = overlapping = 0
    for env in _file_envelopes(path, list(preds)):
        total += 1
        hit = True
        for col, (lo, hi) in preds.items():
            if env[col] is None:
                continue  # cannot prune on this column
            fmin, fmax = env[col]
            if fmax < lo or fmin > hi:
                hit = False
                break
        if hit:
            overlapping += 1
    return total, overlapping
