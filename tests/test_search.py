"""Invariant tests for the full-text search operators (operators/search.py):
postings completeness and BM25 ordering behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_file_sync_spark.operators import search as S


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (0, "spark spark spark filler filler"),
        (1, "spark filler filler filler filler"),
        (2, "filler filler filler filler filler"),
        (3, "spark merge filler filler filler"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_postings_tf_sums_to_token_count(toy_docs):
    total_tf = S.postings(toy_docs).agg(F.sum("tf")).first()[0]
    n_tokens = S.tokens(toy_docs).count()
    assert total_tf == n_tokens == 20


def test_bm25_ranks_higher_tf_first_and_excludes_nonmatching(toy_docs):
    top = S.bm25_topk(toy_docs, ["spark"], k=10).collect()
    ids = [r.doc_id for r in top]
    # doc 2 has no query term: absent; doc 0 (tf=3) beats tf=1 docs
    assert 2 not in ids
    assert ids[0] == 0
    assert set(ids) == {0, 1, 3}
    # two-term query: doc 3 (spark+merge) must beat doc 1 (spark only)
    top2 = {r.doc_id: r.rnk for r in S.bm25_topk(toy_docs, ["spark", "merge"], k=10).collect()}
    assert top2[3] < top2[1]


def test_bm25_scores_decrease_with_rank(toy_docs):
    top = S.bm25_topk(toy_docs, ["spark", "merge"], k=10).collect()
    scores = [r.bm25 for r in sorted(top, key=lambda r: r.rnk)]
    assert scores == sorted(scores, reverse=True)

