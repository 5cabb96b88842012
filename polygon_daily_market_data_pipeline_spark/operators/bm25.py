"""BM25 lexical retrieval (round 13) — the NON-vector retrieval family
the similarity suite was missing: Okapi BM25 top-k over the documents
table, expressed as postings-list DataFrame algebra (the inverted-index
computation search engines run, minus the serving index).

Formula (Robertson/Spärck Jones, the Lucene-default variant):

    idf(t)        = ln(1 + (N − df_t + 0.5) / (df_t + 0.5))
    score(q, d)   = Σ_{t ∈ q ∩ d} idf(t) · tf_{t,d}·(k1+1)
                    / (tf_{t,d} + k1·(1 − b + b·dl_d/avgdl))

Distributed shape at 100 TB: ONE corpus pass builds the postings frame
(term, doc, tf) plus per-doc lengths (map-side combined explode); term
document frequencies reduce from the postings (uniform md5-ish token
keys — skew only at stopwords, which the optional min_df/stopword gate
removes); scoring touches ONLY the postings of the QUERY terms (an
``isin`` pushdown over the term column — hit-sized, never
corpus-sized), and top-k per query is a group-limited window over the
scored candidates. Queries are a driver-side list (search requests are
small); nothing corpus-sized reaches the driver.

Floats: BM25 is a float statistic by definition. Determinism within an
engine comes from fixed literals and per-(query, doc) sums over ≤
|query terms| addends; tests compare against an independent pure-Python
reference at 1e-9 and pin RANK equality under the (score DESC, doc_id)
total order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.functions.text import tokens


def bm25_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> "tuple[DataFrame, DataFrame]":
    """(postings, doc_lens): the inverted-index frames — one corpus
    pass. ``postings`` = (term, id, tf); ``doc_lens`` = (id, dl).
    Persist both to serve many queries from one build."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).where(F.col("term") != "")
    postings = toks.groupBy("term", id_col).agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    doc_lens = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    return postings, doc_lens


def bm25_topk(
    docs: "DataFrame | None",
    queries: "dict[int, str] | list[str]",
    k: int = 5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    postings: "DataFrame | None" = None,
    doc_lens: "DataFrame | None" = None,
) -> DataFrame:
    """Top-k documents per query under Okapi BM25. ``queries`` is a
    list (ids = positions) or {query_id: text}. Returns (query_id,
    rank, doc_id, score) with rank 1..k under the deterministic
    (score DESC, doc_id ASC) order. Pass ``postings=``/``doc_lens=``
    (from ``bm25_postings``, persisted) to serve many requests from
    one index build — the production path."""
    if isinstance(queries, list):
        queries = dict(enumerate(queries))
    if postings is None or doc_lens is None:
        if docs is None:
            raise ValueError("docs is required when no index is supplied")
        postings, doc_lens = bm25_postings(docs, id_col, text_col)
    spark = (docs if docs is not None else postings).sparkSession
    stats = doc_lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    # query terms: normalized with the SAME tokenizer as the corpus
    # (one Spark job for ALL queries, not one per query); duplicate
    # terms in one query count once (the standard bag-of-query
    # simplification; repeat-weighted queries would multiply idf)
    qtok = (
        spark.createDataFrame(
            list(queries.items()), "query_id long, text string"
        )
        .select("query_id", F.explode(tokens("text")).alias("t"))
        .where(F.col("t") != "")
        .distinct()
        .collect()
    )
    qt_rows = sorted((r["query_id"], r["t"]) for r in qtok)
    if not qt_rows:
        raise ValueError("no query terms after normalization")
    all_terms = sorted({t for _q, t in qt_rows})
    # df per query term only: the isin pushdown keeps this hit-sized
    dfreq = {
        r["term"]: r["df"]
        for r in postings.where(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .collect()
    }
    idf = {
        t: math.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))
        for t, dfv in dfreq.items()
    }
    qterms = spark.createDataFrame(
        [
            (qid, t, float(idf[t]))
            for qid, t in qt_rows
            if t in idf  # terms absent from the corpus score nothing
        ],
        "query_id long, term string, idf double",
    )
    cand = (
        postings.where(F.col("term").isin(all_terms))
        .join(F.broadcast(qterms), "term")
        .join(doc_lens, id_col)
        .select(
            "query_id",
            id_col,
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
                )
            ).alias("s"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("s").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
        .orderBy("query_id", "rank")
    )


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    *,
    lam: float = 0.7,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998): greedily pick k results per query maximizing
    ``lam·relevance − (1−lam)·max_similarity_to_already_picked`` — the
    standard cure for a top-k full of near-duplicates. ``candidates``
    is any retriever output (query_id, id, score — BM25, cosine, or
    RRF-fused); ``vectors`` supplies the diversity geometry (id,
    embedding). Relevance scores are min-max normalized per query so
    ``lam`` means the same thing whatever the retriever's scale.

    Scale shape: the CANDIDATE side broadcasts into one scan of the
    vectors table (round 17, guide §3.1 — the former direction
    broadcast the corpus-sized ``vectors``, which caps out at the 8 GB
    broadcast limit long before a real embedding table does; the
    candidate set is top-k-sized by construction and broadcasts at any
    corpus size), then one ``applyInPandas`` group per query runs the
    greedy loop over its own ≤ |candidates| rows — the quadratic lives
    inside a per-query candidate set (k·rerank_factor sized), never
    the corpus. Join direction cannot move values: the greedy pick is
    row-order-independent (min-max normalization, argmax ties broken
    by lowest id). ``lam=1`` degenerates to pure relevance order
    (pinned by test)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    joined = vectors.select(id_col, vec_col).join(
        F.broadcast(candidates.select("query_id", id_col, score_col)),
        id_col,
    )
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("rank", IntegerType()),
            StructField(id_col, LongType()),
            StructField("mmr_score", DoubleType()),
        ]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        ids = pdf[id_col].to_numpy()
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        lo, hi = rel.min(), rel.max()
        rel = (rel - lo) / (hi - lo) if hi > lo else np.ones_like(rel)
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.maximum(np.sqrt((mat**2).sum(axis=1)), 1e-12)
        unit = mat / norms[:, None]
        picked: "list[int]" = []
        scores: "list[float]" = []
        avail = np.ones(len(ids), dtype=bool)
        while avail.any() and len(picked) < k:
            if picked:
                sim = unit @ unit[picked].T  # (n, |picked|)
                penalty = sim.max(axis=1)
            else:
                penalty = np.zeros(len(ids))
            mmr = lam * rel - (1 - lam) * penalty
            mmr = np.where(avail, mmr, -np.inf)
            # deterministic argmax tie-break: lowest id wins
            best = min(
                np.flatnonzero(mmr == mmr.max()), key=lambda i: ids[i]
            )
            picked.append(int(best))
            scores.append(float(mmr[best]))
            avail[best] = False
        return pd.DataFrame(
            {
                "query_id": [qid] * len(picked),
                "rank": list(range(1, len(picked) + 1)),
                id_col: [int(ids[i]) for i in picked],
                "mmr_score": scores,
            }
        )

    return (
        joined.groupBy("query_id")
        .applyInPandas(pick, out_schema)
        .orderBy("query_id", "rank")
    )


def bm25_index_commit(
    docs: DataFrame,
    index_dir: str,
    *,
    mode: str = "overwrite",
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: "DataFrame | None" = None,
) -> int:
    """Persist the BM25 index as a VERSIONED postings table — one row
    per (term, doc, tf); doc lengths are derivable (dl = Σ tf per doc)
    so one table carries the whole index, and the whole versioned
    surface (time travel, tags, rollback, retention, clone) applies to
    the search artifact. ``mode="update"`` appends only the NEW docs'
    postings — O(batch), the log-structured maintenance the persisted
    LM model uses — exact because new docs contribute DISJOINT
    (term, doc) rows: a union is the index, nothing folds. Returns the
    committed index version (pin it for replayable serving)."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        commit_version,
    )

    if mode not in ("overwrite", "update"):
        raise ValueError(f"unknown mode {mode!r}")
    if postings is None:
        # ``postings``: a caller that already holds this batch's
        # postings frame (e.g. a filtered slice of a persisted corpus
        # explode) passes it to skip the re-tokenize/re-explode —
        # committed rows are identical because postings are a per-doc
        # map (filter commutes with the explode).
        postings, _dl = bm25_postings(docs, id_col, text_col)
    else:
        # Guard the override's shape (ADVICE r16 #2): a frame missing
        # the (term, id, tf) columns bm25_topk_from_index expects would
        # commit a corrupt index without error. The caller remains
        # responsible for the override being THIS corpus's postings.
        missing = {"term", id_col, "tf"} - set(postings.columns)
        if missing:
            raise ValueError(
                f"postings override lacks column(s) {sorted(missing)} — "
                f"expected the bm25_postings shape (term, {id_col}, tf)"
            )
    return commit_version(
        postings,
        index_dir,
        mode="append" if mode == "update" else "overwrite",
        stats_cols=["term"],
    )


def bm25_topk_from_index(
    spark,
    index_dir: str,
    queries: "dict[int, str] | list[str]",
    k: int = 5,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    index_version: "int | None" = None,
) -> DataFrame:
    """Serve BM25 from the stored index — no corpus pass, no corpus
    access at all: postings are read at a PINNED index version
    (replayable under concurrent updates), doc lengths fold from the
    postings with one aggregate, and scoring proceeds exactly as the
    inline path (same formula, same deterministic order)."""
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        read_version,
    )

    postings = read_version(spark, index_dir, version=index_version)
    doc_lens = postings.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("dl")
    )
    return bm25_topk(
        None, queries, k, id_col=id_col, k1=k1, b=b,
        postings=postings, doc_lens=doc_lens,
    )
