"""Model-based quality filtering (round 12): the CCNet/KenLM pattern —
score each document by its surprisal under a language model trained on
the corpus itself — re-expressed with an INTEGER-QUANTIZED add-one-
smoothed bigram model so the score is exact on any engine and any
partitioning.

CCNet filters by KenLM perplexity; the float log-sum underneath is the
part a cross-engine, order-insensitive value check cannot pin (libm
``log`` differs in the last ulp between runtimes, and float summation
order moves with partitioning). The quantization keeps the *decision
structure* — rare word sequences score high, boilerplate scores low —
while making every step integer arithmetic:

    s(b)   = floor(log2((N + V) // (c(b) + 1)))   per doc bigram b
    score  = Σ s(b)                               over the doc, exact

where ``c(b)`` is the corpus count of bigram ``b``, ``N`` the total
bigram tokens and ``V`` the distinct-bigram count (add-one smoothing's
normalizer). ``floor(log2 x)`` is ``length(bin(x)) - 1`` — one integer
expression both Spark and DuckDB evaluate identically, so the oracle
re-derives the whole model AND every document's score value-exactly.
Filtering semantics match CCNet's: threshold ``score / n_bigrams``
(mean surprisal ≈ quantized cross-entropy in bits) per language slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.text import (
    word_ngrams_all,
)


def bigram_surprisal_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per input document: ``(id, n_bigrams, surprisal)`` —
    both exact BIGINTs (see module docstring; docs with < 2 tokens get
    (0, 0), the SQL-friendly identity).

    Scale shape: one linear explode of the corpus's bigrams (the same
    volume class as the decontamination gram pass) — PERSISTED, since
    both the count aggregate and the scoring re-join consume it, and
    released before return (the jaccard_pairs convention); a count
    aggregate on uniform text keys; the (N, V) totals collected as TWO
    LONGS and folded into the scoring expression as literals (no 1-row
    cross join — the plan stays nested-loop-free suite-wide); a hash
    re-join of counts to the grams on the keys the count shuffle
    already clustered; and a per-doc sum. No UDF, no driver-side state
    beyond two longs. The "model" is the counts frame, rebuilt from
    the corpus on every call."""
    from pyspark.storagelevel import StorageLevel

    from polygon_daily_market_data_pipeline_spark.operators.text_dedup import (
        unpersist_after_action,
    )

    grams = df.select(
        F.col(id_col), F.explode(word_ngrams_all(text_col, 2)).alias("g")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # (N, V) are TWO LONGS — collected driver-side (aggregate-sized,
    # the corpus_split_counts convention) and folded into the scoring
    # expression as literals, keeping the suite's no-nested-loop-join
    # invariant (a 1-row cross join would plan as
    # BroadcastNestedLoopJoin for no benefit)
    tot = counts.agg(
        F.sum("c").alias("N"), F.count(F.lit(1)).alias("V")
    ).first()
    nv = int(tot["N"] or 0) + int(tot["V"] or 0)
    per_doc = (
        grams.join(counts, "g")
        .select(
            id_col,
            F.expr(f"length(bin(({nv} div (c + 1)))) - 1").alias("s"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("s").cast("long").alias("surprisal"),
        )
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("surprisal", F.lit(0)).cast("long").alias("surprisal"),
        )
    )
    return unpersist_after_action(out, (grams, counts))


def dsir_log_weights(
    docs: DataFrame,
    target_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    raw_docs: "DataFrame | None" = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") in the quantized-bits
    domain: one row per doc, ``(id, n_bigrams, log_w)`` with

        log_w = surprisal_raw(doc) − surprisal_target(doc)

    both integer-exact add-one bigram LMs (module-docstring
    arithmetic), so the weight is an exact BIGINT both engines compute
    identically. Positive = the doc looks more like the TARGET
    distribution than the raw background — DSIR's w(x) =
    p_target(x)/p_raw(x) decision statistic with floor-log2
    quantization in place of the paper's hashed-ngram float LMs.
    ``raw_docs`` defaults to ``docs`` (the corpus is its own
    background, the paper's deployment). Docs with < 2 tokens get
    (0, 0) — no evidence either way.

    Scale shape: ONE gram explode of the scored corpus (persisted,
    both the raw count pass and the scoring join consume it when
    raw_docs is docs); each model is one count aggregate; (N+V) totals
    collect as two longs folded into the scoring expression as
    literals; scoring is two hash joins on the gram key the count
    shuffles already clustered. No UDF, no driver state beyond two
    longs, and no model table is written."""
    from pyspark.storagelevel import StorageLevel

    from polygon_daily_market_data_pipeline_spark.operators.text_dedup import (
        unpersist_after_action,
    )

    grams = docs.select(
        F.col(id_col), F.explode(word_ngrams_all(text_col, 2)).alias("g")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    raw_grams = (
        grams
        if raw_docs is None
        else raw_docs.select(
            F.explode(word_ngrams_all(text_col, 2)).alias("g")
        )
    )
    ct = (
        target_docs.select(
            F.explode(word_ngrams_all(text_col, 2)).alias("g")
        )
        .groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("ct"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cr = (
        raw_grams.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("cr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tt = ct.agg(F.sum("ct").alias("N"), F.count(F.lit(1)).alias("V")).first()
    tr = cr.agg(F.sum("cr").alias("N"), F.count(F.lit(1)).alias("V")).first()
    nvt = int(tt["N"] or 0) + int(tt["V"] or 0)
    nvr = int(tr["N"] or 0) + int(tr["V"] or 0)
    per_doc = (
        grams.join(ct, "g", "left")
        .join(cr, "g", "left")
        .select(
            id_col,
            F.expr(
                f"(length(bin(({nvr} div (coalesce(cr, 0) + 1)))) - 1)"
                f" - (length(bin(({nvt} div (coalesce(ct, 0) + 1)))) - 1)"
            ).alias("s"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("s").cast("long").alias("log_w"),
        )
    )
    out = (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("log_w", F.lit(0)).cast("long").alias("log_w"),
        )
    )
    return unpersist_after_action(out, (grams, ct, cr))


def dsir_select(
    weights: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    seed: int = 0,
    gumbel: bool = False,
) -> DataFrame:
    """Select the k most target-like docs from a ``dsir_log_weights``
    frame. Default path: rank by ``(log_w DESC, md5(id|seed))`` — a
    deterministic total order both engines reproduce bit-for-bit (the
    selection the driver oracle prices). ``gumbel=True`` is the
    paper's importance RESAMPLING: Gumbel-top-k over
    ``log_w·ln2 + G_i`` with ``G_i = −ln(−ln(U_i))`` and ``U_i`` the
    portable md5-hash uniform — deterministic per seed, but float
    (libm log), so it is pytest-covered and never oracle-compared.
    Both paths plan as distributed TakeOrdered — no single-reducer
    global window."""
    import math

    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{seed}")))
    if gumbel:
        u = (
            F.conv(F.substring(key, 1, 15), 16, 10).cast("double") + 0.5
        ) / F.lit(float(16**15))
        noisy = F.col("log_w") * F.lit(math.log(2.0)) - F.log(-F.log(u))
        return weights.orderBy(noisy.desc(), key.asc()).limit(k)
    return weights.orderBy(F.col("log_w").desc(), key.asc()).limit(k)
