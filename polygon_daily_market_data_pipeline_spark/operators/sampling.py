"""Deterministic sampling and dataset splits — the md5-threshold trick.

Training pipelines need samples and train/val/test splits that are (a)
deterministic across runs/engines/partitionings, (b) cheap (no shuffle,
no global sort), (c) stable under corpus growth (a doc's split never
changes when other docs arrive). ``rand(seed)`` fails (a) across
engines and partitionings; modulo-on-id fails when ids are not uniform.

The portable primitive: ``md5(key)`` is uniform over 32-hex-digit
strings, and hex strings compare lexicographically like the numbers
they encode — so ``md5(key) < hex_threshold(rate)`` is an exact-rate
deterministic Bernoulli sample that any engine with md5 reproduces
bit-for-bit (DuckDB oracle included). Splits are disjoint threshold
ranges of the same hash, so they partition the corpus and never shift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hex_threshold(rate: float, digits: int = 32) -> str:
    """The 32-hex-digit string t with P[md5(x) < t] = rate."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate {rate} outside [0, 1]")
    scaled = int(rate * (16**digits))
    return format(min(scaled, 16**digits - 1), f"0{digits}x")


def _hash_col(key: Column | str) -> Column:
    c = F.col(key) if isinstance(key, str) else key
    return F.md5(c.cast("string"))


def split_column(
    key: Column | str,
    train: float = 0.8,
    val: float = 0.1,
) -> Column:
    """'train' / 'val' / 'test' label from disjoint md5 ranges (test
    gets the remainder). A row's label never changes as the corpus
    grows."""
    h = _hash_col(key)
    t1, t2 = hex_threshold(train), hex_threshold(train + val)
    return (
        F.when(h < F.lit(t1), F.lit("train"))
        .when(h < F.lit(t2), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def train_val_test_split(
    df: DataFrame, key: str, train: float = 0.8, val: float = 0.1
) -> DataFrame:
    return df.withColumn("split", split_column(key, train, val))


def stratified_threshold(
    strata_col: Column | str,
    rates: "dict[str, float]",
    default_rate: float = 0.0,
) -> Column:
    """Per-stratum md5 threshold as a CASE column — each stratum gets
    its own exact-rate cut of the SAME hash, so per-stratum rates
    compose without re-hashing and a row's decision is a pure function
    of (key, its own stratum): deterministic across engines,
    partitionings, and corpus growth."""
    c = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    expr = None
    for value, rate in rates.items():
        cond = c == F.lit(value)
        thr = F.lit(hex_threshold(rate))
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    dflt = F.lit(hex_threshold(default_rate))
    return dflt if expr is None else expr.otherwise(dflt)


def stratified_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    rates: "dict[str, float]",
    default_rate: float = 0.0,
) -> DataFrame:
    """Quality/domain-weighted data mixing: keep ~rates[stratum] of each
    stratum's rows (default_rate elsewhere), decided solely by
    md5(key) — the deterministic per-stratum Bernoulli that training
    mixes need (e.g. keep 90% of high-quality English, 10% of the
    tail) with every guarantee of the md5-threshold sample (module
    docstring): no shuffle, no RNG, engine-portable (the DuckDB oracle
    reproduces it bit-for-bit), and a kept doc stays kept as the
    corpus grows."""
    return df.where(
        _hash_col(key) < stratified_threshold(strata_col, rates, default_rate)
    )


def mix_rates_for_token_budget(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    target_shares: "dict[str, float]",
    total_budget: float,
    avail: "dict[str, float] | None" = None,
) -> "dict[str, float]":
    """Solve the mixing-plan side of :func:`stratified_sample`: given
    per-stratum TARGET SHARES of a total token budget (e.g. 60% en /
    20% zh / 20% rest-of-world of 1e12 tokens), measure each stratum's
    available weight in ONE aggregate pass and return the per-stratum
    keep-rates that hit the budget in expectation — capped at 1.0, so
    an under-supplied stratum contributes everything it has (the
    caller can see the shortfall: rate == 1.0). Deterministic given the
    corpus; the sampling itself stays the md5 per-row decision, so the
    plan is computed once on aggregates and never touches row order.

    A stratum whose SUM is NULL (all-NULL weights) prices as 0
    available — SQL's "no weight" reading, same as an absent stratum
    (rate 1.0 with shortfall visible)."""
    # fail BEFORE the corpus scan
    if abs(sum(target_shares.values()) - 1.0) > 1e-9:
        raise ValueError(
            f"target shares sum to {sum(target_shares.values())}, not 1"
        )
    if avail is None:
        avail = {
            r[0]: float(r[1]) if r[1] is not None else 0.0
            for r in df.groupBy(strata_col)
            .agg(F.sum(weight_col))
            .collect()
        }
    else:
        # a caller that already aggregated per-stratum availability
        # hands it in and skips the scan; float() matches the scan
        # path's coercion exactly. CONTRACT (ADVICE r16 #4): ``avail``
        # must be the exact per-stratum SUM(weight_col) over ``df`` —
        # every stratum present in df, no stale entries — or the rates
        # silently diverge from the scan path this fast-path claims to
        # match. The one in-repo caller (corpus_split_counts) passes
        # the collect of that very aggregate.
        avail = {
            k: float(v) if v is not None else 0.0 for k, v in avail.items()
        }
    # per stratum keep-rate = min(1, want/have); rate 1.0 is the
    # caller's shortfall signal
    rates = {}
    for stratum, share in target_shares.items():
        have = avail.get(stratum, 0.0)
        want = share * total_budget
        rates[stratum] = 1.0 if have <= want else want / have
    return rates
