"""Python UDTF surface (operators/udtf_ops.py)."""

from __future__ import annotations


def test_eval_top3_with_lexicographic_ties():
    from marketstream_etl_spark.operators.udtf_ops import DocTopTerms

    # Counter: b=3, a=2, c=2, d=1 -> (b,3),(a,2),(c,2); tie a<c
    got = list(DocTopTerms.func().eval("b a c b a c b d"))
    assert got == [("b", 3, 1), ("a", 2, 2), ("c", 2, 3)]
    assert list(DocTopTerms.func().eval(None)) == []


def test_lateral_udtf_end_to_end(spark):
    from marketstream_etl_spark.operators.udtf_ops import doc_top_terms

    docs = spark.createDataFrame(
        [(1, "x y x"), (2, "z")], "doc_id long, text string"
    )
    rows = doc_top_terms(spark, docs).orderBy("doc_id", "term_rank").collect()
    assert [tuple(r) for r in rows] == [
        (1, "x", 2, 1),
        (1, "y", 1, 2),
        (2, "z", 1, 1),
    ]
