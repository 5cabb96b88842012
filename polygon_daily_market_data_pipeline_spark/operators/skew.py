"""Skew mitigation operators.

AQE's skew-join splitting (on in ``session.py``) handles most runtime
skew; these are the explicit tools for the cases AQE can't see:

- ``salted_join``: a shuffle join where one side's key distribution is
  pathological (a handful of keys own most rows). The small side is
  replicated ``n_salts``× with an explicit salt column; the big side
  derives a deterministic per-row salt, so each hot key fans out over
  ``n_salts`` reducers instead of melting one. Deterministic (hash
  salt, not ``rand()``) — replayable results, stable tests.
- ``two_phase_distinct_count``: COUNT(DISTINCT x) per low-cardinality
  group. A direct distinct-aggregate cannot fully combine map-side, so
  every (group, x) pair shuffles to #groups reducers; the two-phase
  form dedups on (group, x) first — map-side combinable, key space
  #groups × |x| — then counts, so no reducer ever sees more than its
  hash share. The classic web-scale "unique users per segment" shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``keys`` with the hot side fanned out
    over ``n_salts`` reducers per key.

    ``small`` is replicated n_salts× (explode) — use only when
    |small|·n_salts is shuffle-affordable; ``big`` gets a deterministic
    row salt from hashing its full row, so duplicates of a hot key
    spread evenly.

    Join types preserving the replicated side's multiplicity only
    through MATCHES are supported: inner, left outer, left semi, left
    anti (each big row carries exactly one salt, so its match set and
    outer/semi/anti fate are unchanged). right/full outer are REFUSED:
    an unmatched small row exists n_salts times and would emit
    n_salts null-padded rows instead of one."""
    h = how.lower().replace("_", "")
    if h not in ("inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti"):
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated "
            "side's unmatched rows would multiply"
        )
    salt_values = F.array(*[F.lit(i) for i in range(n_salts)])
    small_rep = small.withColumn("_salt", F.explode(salt_values))
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)).cast("int")
    )
    out = big_salted.join(small_rep, keys + ["_salt"], how)
    return out.drop("_salt")


def two_phase_distinct_count(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
    out_col: str = "n_distinct",
) -> DataFrame:
    """COUNT(DISTINCT distinct_col) GROUP BY group_cols, in two
    map-side-combinable phases: dedup on (group, value), then count per
    group. Same result as the direct distinct aggregate; bounded-reducer
    shuffle shape."""
    return (
        df.select(*group_cols, distinct_col)
        .dropDuplicates([*group_cols, distinct_col])
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias(out_col))
    )


def heavy_hitters(df: DataFrame, col: str, k: int = 16) -> "list[tuple]":
    """EXACT heavy hitters — every value with frequency > n/(k+1) and
    its exact count, via the two-pass Misra-Gries pattern (round 13):

    1. one ``mapInPandas`` pass runs a k-counter MG summary PER
       PARTITION (bounded memory whatever the partition holds; the
       union of per-partition candidate sets provably contains every
       global (k+1)-heavy hitter — each partition's summary undercounts
       by at most n_p/(k+1), and those deficits sum to n/(k+1));
    2. the candidate set (≤ k·partitions values — driver-bounded by
       construction, never data-sized) is counted EXACTLY in one
       filtered aggregate.

    Returns ``[(value, exact_count), ...]`` sorted by count descending,
    only values above the n/(k+1) threshold — the ACTUAL hot keys, not
    just ``key_skew_ratio``'s existence signal. NULLs are ignored
    (they never join)."""
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for v in pdf[col]:
                if v is None or v != v:  # NULL / NaN never join
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame({col: list(counters.keys())})
        else:
            yield pd.DataFrame({col: []})

    field = df.schema[col]
    cands = [
        r[col]
        for r in df.select(col)
        .mapInPandas(mg, f"{field.name} {field.dataType.simpleString()}")
        .distinct()
        .collect()
    ]
    if not cands:
        return []
    agg = (
        df.where(F.col(col).isin(cands))
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    n = df.where(F.col(col).isNotNull()).count()
    out = [
        (r[col], r["_n"]) for r in agg if r["_n"] * (k + 1) > n
    ]
    return sorted(out, key=lambda t: (-t[1], str(t[0])))
