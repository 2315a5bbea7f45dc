"""operators/pq.py build contract: the query side goes through the same
usable-vector filter as cosine_topk, every build opens with ONE driver
collect, and nothing the build caches outlives the call."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.pq import ivfpq_topk, pq_topk, pq_train
from etl_file_sync_spark.operators.similarity import cosine_topk

_TOPK = {"pq_topk": pq_topk, "ivfpq_topk": ivfpq_topk}


def _corpus(spark, n=300, dim=64):
    """`n` random vectors; among the `vec_id % 40 == 0` queries, 40 is a
    NULL vector, 80 has a NULL element and 120 is all zeros."""
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(n, dim)).tolist()
    vecs[40] = None
    vecs[80][3] = None
    vecs[120] = [0.0] * dim
    return spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")


def _queries(corpus):
    return corpus.filter(F.col("vec_id") % 40 == 0)


def _persisted(spark):
    """Persisted RDDs: id → description (RDD class, id and call site)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): rdds.get(k).toString() for k in rdds.keySet().toArray()}


@pytest.mark.parametrize("fn", sorted(_TOPK))
def test_query_side_drops_unusable_vectors(spark, fn):
    """NULL, element-NULL and zero query vectors have no neighbors: the
    query set is cosine_topk's, and every reported cosine is defined."""
    e = _corpus(spark)
    q = _queries(e)
    want = {r.query_id for r in cosine_topk(e, q, k=5).collect()}
    got = _TOPK[fn](e, q, k=5).collect()
    assert want == {0, 160, 200, 240, 280}
    assert {r.query_id for r in got} == want
    assert all(r.cosine is not None for r in got)


def test_no_cache_outlives_the_call(spark):
    """The bounded training cache is unpersisted inside every call, on
    the normal path and on the degenerate (all-NULL query) path."""
    e = _corpus(spark)
    q = _queries(e)
    no_q = q.withColumn("embedding", F.lit(None).cast("array<double>"))
    calls = [
        lambda: pq_train(e, m=16, k=32, iters=2),
        lambda: pq_topk(e, q, k=5).collect(),
        lambda: ivfpq_topk(e, q, k=5).collect(),
        lambda: pq_topk(e, no_q, k=5).collect(),
        lambda: ivfpq_topk(e, no_q, k=5).collect(),
    ]
    for call in calls:
        before = _persisted(spark)
        call()
        after = _persisted(spark)
        assert after == before, {
            "unpersisted": [before[i] for i in before.keys() - after.keys()],
            "left persisted": [after[i] for i in after.keys() - before.keys()],
        }


@pytest.mark.parametrize("fn", sorted(_TOPK))
@pytest.mark.parametrize("degenerate", [False, True], ids=["normal", "all_null_queries"])
def test_one_opening_driver_action(spark, monkeypatch, fn, degenerate):
    """Building a top-k makes ONE collect (count, seed, queries and
    centroids together), no count, and one toPandas per Lloyd round; a
    degenerate input stops after that collect."""
    from pyspark.sql.classic.dataframe import DataFrame

    e = _corpus(spark)
    q = _queries(e).filter(F.col("vec_id") > 120)  # usable queries only
    if degenerate:
        q = q.withColumn("embedding", F.lit(None).cast("array<double>"))
    calls = []
    for name in ("collect", "toPandas", "count"):
        orig = getattr(DataFrame, name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, counted)
    kw = {"kmeans_iters": 0} if fn == "ivfpq_topk" else {}
    _TOPK[fn](e, q, k=5, iters=3, **kw)
    assert calls[0] == "collect"
    if degenerate:
        assert calls == ["collect"]
    else:
        assert calls.count("collect") == 1 and "count" not in calls
        assert calls.count("toPandas") <= 3
