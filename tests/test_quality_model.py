"""Model-based quality filtering (operators/quality_model.py): the
pinned integer-quantized linear gate — DuckDB parity, separation of
prose from boilerplate soup, and a map-only plan.
"""

from __future__ import annotations

# reference style: clean prose markers
_REF = [
    "the committee published a detailed analysis of the results",
    "researchers describe a careful study of the observed data",
    "the report presents evidence supporting the main conclusion",
    "a thorough review explains the methodology and findings",
    "the article discusses the historical context of the debate",
    "careful analysis of the evidence supports this conclusion",
    "the study presents a detailed review of prior findings",
    "researchers explain the methodology behind the published report",
]


def _docs(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


def test_pinned_quality_score_duckdb_parity(spark):
    """The pinned integer serving gate (round 15) must agree with the
    DuckDB qms arithmetic BIT-FOR-BIT on organic text — the audit-row
    contract (warehouse_ops quality_model_score). Exercised over the
    sf0.001 documents table: every per-doc score_ppm identical."""
    import duckdb

    from polygon_daily_market_data_pipeline_spark.functions.text import (
        ENGLISH_STOPWORDS,
    )
    from polygon_daily_market_data_pipeline_spark.operators.quality_model import (
        pinned_quality_score,
    )
    from polygon_daily_market_data_pipeline_spark.plans.llm_ops import NORM
    from polygon_daily_market_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        r["doc_id"]: (r["score_ppm"], r["keep"])
        for r in pinned_quality_score(docs).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = {
        int(i): (int(s), bool(k))
        for i, s, k in con.sql(
            f"""
            WITH qmt AS (
                SELECT doc_id,
                       len(string_split({NORM}, ' ')) AS n_tok,
                       len(regexp_extract_all(
                           ' ' || replace({NORM}, ' ', '  ') || ' ',
                           ' ({'|'.join(ENGLISH_STOPWORDS)}) ')) AS n_stop,
                       len(regexp_extract_all(
                           ' ' || replace({NORM}, ' ', '  ') || ' ',
                           ' [^ ]*[a-z][^ ]* ')) AS n_alpha
                FROM documents
            )
            SELECT doc_id,
                   -1500000
                   + 500000 * (CASE WHEN n_tok BETWEEN 10 AND 100000
                                    THEN 1 ELSE 0 END)
                   + 2 * ((n_stop * 1000000) // greatest(n_tok, 1))
                   + ((n_alpha * 1000000) // greatest(n_tok, 1))
                   AS score_ppm,
                   score_ppm >= 100000 AS keep
            FROM qmt
            """
        ).fetchall()
    }
    assert got == want
    # the gate discriminates on this corpus (non-vacuous BOTH ways —
    # the target-keep-rate cut, not a vacuous keep-everything gate)
    keeps = [k for _s, k in got.values()]
    assert any(keeps) and not all(keeps)


def test_pinned_quality_score_separates_prose_from_soup(spark):
    """Prose-like docs (stopword-rich, alphabetic, sane length) clear
    the pinned gate (keep); symbol/boilerplate soup falls far below it
    (drop)."""
    from polygon_daily_market_data_pipeline_spark.operators.quality_model import (
        pinned_quality_score,
    )

    prose = [
        "the committee published a detailed analysis of the results "
        "and the report presents evidence supporting the conclusion",
        "a thorough review of the data explains the methodology and "
        "the findings were discussed in the historical context",
    ]
    soup = [
        "9183 4711 0042 $$$ ### 22 77 001 13 99 31 555 21 8 4 77",
        "x1 7z 9q 33 44 55 66 77 88 99 00 11 22 33 44 55",
    ]
    rows = {
        r["doc_id"]: (r["score_ppm"], r["keep"])
        for r in pinned_quality_score(
            _docs(spark, prose + soup, start=900)
        ).collect()
    }
    for i in range(len(prose)):
        assert rows[900 + i][1], rows
    for i in range(len(soup)):
        assert not rows[900 + len(prose) + i][1], rows


def test_pinned_quality_score_plan_is_map_only(spark):
    """Scoring is one codegen'd linear scan — no Exchange, no UDF."""
    from polygon_daily_market_data_pipeline_spark.operators.quality_model import (
        pinned_quality_score,
    )

    plan = (
        pinned_quality_score(_docs(spark, _REF, start=300))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
