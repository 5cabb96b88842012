"""BM25 lexical retrieval (operators/bm25.py): equality with an
independent pure-Python Okapi BM25 on real corpus text (scores at
1e-9, ranks exactly under the (score DESC, doc_id) order), the
prebuilt-index path, and the hit-sized candidate shape."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.bm25 import (
    bm25_postings,
    bm25_topk,
)
from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _norm_tokens(text: str) -> "list[str]":
    return [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]


def _ref_bm25(corpus: dict, query: str, k: int, k1=1.2, b=0.75):
    """From-scratch reference implementation."""
    toks = {d: _norm_tokens(t) for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    qterms = sorted(set(_norm_tokens(query)))
    scores = {}
    for t in qterms:
        df = sum(1 for v in toks.values() if t in v)
        if df == 0:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, v in toks.items():
            tf = v.count(t)
            if tf:
                dl = len(v)
                scores[d] = scores.get(d, 0.0) + idf * (
                    tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
                )
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def test_bm25_matches_reference_on_corpus_text(spark):
    docs = (
        load_table(spark, SF, "documents")
        .where(F.col("doc_id") % 7 == 1)
        .select("doc_id", "text")
    )
    corpus = {r["doc_id"]: r["text"] for r in docs.collect()}
    # query phrases drawn from real docs (so hits exist) + a miss term
    some = sorted(corpus)[:2]
    queries = [
        " ".join(_norm_tokens(corpus[some[0]])[:4]),
        " ".join(_norm_tokens(corpus[some[1]])[2:6]) + " zzqx_absent",
    ]
    got = bm25_topk(docs, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, qtext in enumerate(queries):
        want = _ref_bm25(corpus, qtext, 5)
        rows = sorted(by_q[qid])
        assert [d for _r, d, _s in rows] == [d for d, _s in want], qid
        for (_rk, _d, s), (_d2, s2) in zip(rows, want):
            assert abs(s - s2) < 1e-9


def test_bm25_prebuilt_index_and_shapes(spark):
    docs = (
        load_table(spark, SF, "documents")
        .where(F.col("doc_id") % 7 == 2)
        .select("doc_id", "text")
    )
    postings, doc_lens = bm25_postings(docs)
    postings = postings.persist()
    doc_lens = doc_lens.persist()
    q = {7: "the market and the price"}
    inline = bm25_topk(docs, ["the market and the price"], k=3).collect()
    served = bm25_topk(
        docs, q, k=3, postings=postings, doc_lens=doc_lens
    ).collect()
    assert [(r["rank"], r["doc_id"]) for r in served] == [
        (r["rank"], r["doc_id"]) for r in inline
    ]
    assert all(r["query_id"] == 7 for r in served)
    assert [r["rank"] for r in served] == [1, 2, 3]
    postings.unpersist()
    doc_lens.unpersist()


def test_mmr_demotes_near_duplicates_and_lambda1_is_relevance(spark):
    from polygon_daily_market_data_pipeline_spark.operators.bm25 import (
        mmr_rerank,
    )

    # candidates: docs 1 and 2 are near-identical vectors with the top
    # two relevance scores; doc 3 is orthogonal with a lower score
    cand = spark.createDataFrame(
        [(0, 1, 1.00), (0, 2, 0.98), (0, 3, 0.50), (0, 4, 0.40)],
        "query_id long, doc_id long, score double",
    )
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.01]),
            (2, [1.0, 0.0, 0.00]),
            (3, [0.0, 1.0, 0.00]),
            (4, [0.0, 0.9, 0.30]),
        ],
        "doc_id long, embedding array<double>",
    )
    out = mmr_rerank(cand, vecs, k=3, lam=0.5).collect()
    order = [r["doc_id"] for r in out]
    # 1 first (top relevance), then the ORTHOGONAL 3 beats duplicate 2
    assert order[0] == 1 and order[1] == 3
    assert [r["rank"] for r in out] == [1, 2, 3]
    # lam=1: pure relevance order, duplicates untouched
    pure = [r["doc_id"] for r in mmr_rerank(cand, vecs, k=4, lam=1.0).collect()]
    assert pure == [1, 2, 3, 4]


def test_versioned_index_serving_and_incremental_update(spark, tmp_path):
    """The BM25 index as a versioned table: served results equal the
    inline path; an UPDATE commit appends only the new docs' postings
    and equals a full rebuild exactly; a pinned version keeps serving
    the old corpus under concurrent updates."""
    from polygon_daily_market_data_pipeline_spark.operators.bm25 import (
        bm25_index_commit,
        bm25_topk_from_index,
    )
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        read_version,
    )

    docs1 = (
        load_table(spark, SF, "documents")
        .where(F.col("doc_id") % 7 == 3)
        .select("doc_id", "text")
    )
    docs2 = (
        load_table(spark, SF, "documents")
        .where(F.col("doc_id") % 7 == 4)
        .select("doc_id", "text")
    )
    idx = str(tmp_path / "bm25_idx")
    v0 = bm25_index_commit(docs1, idx)
    q = ["the market price and the company"]
    inline = bm25_topk(docs1, q, k=4).collect()
    served = bm25_topk_from_index(spark, idx, q, k=4).collect()
    assert [(r["rank"], r["doc_id"]) for r in served] == [
        (r["rank"], r["doc_id"]) for r in inline
    ]
    # incremental update: append docs2's postings only
    v1 = bm25_index_commit(docs2, idx, mode="update")
    both = docs1.unionByName(docs2)
    rebuilt = bm25_topk(both, q, k=4).collect()
    updated = bm25_topk_from_index(spark, idx, q, k=4).collect()
    assert [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in updated] \
        == [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in rebuilt]
    # the appended postings are exactly docs2's — disjoint, no folding
    n0 = read_version(spark, idx, version=v0).count()
    n1 = read_version(spark, idx, version=v1).count()
    p2, _ = __import__(
        "polygon_daily_market_data_pipeline_spark.operators.bm25",
        fromlist=["bm25_postings"],
    ).bm25_postings(docs2)
    assert n1 - n0 == p2.count()
    # pinned serving is stable under the update
    pinned = bm25_topk_from_index(spark, idx, q, k=4, index_version=v0).collect()
    assert [(r["rank"], r["doc_id"]) for r in pinned] == [
        (r["rank"], r["doc_id"]) for r in inline
    ]

