"""Distributed IRLS logistic fit vs an independent numpy IRLS on the
collected feature matrix: every coefficient must agree (the Spark side
aggregates gradient/Hessian with JVM sums; the numpy side builds X
explicitly and solves the same Newton steps). Also a separable-toy
sanity check and the registered query's end-to-end shape."""

from __future__ import annotations

import numpy as np
import pytest

from etl_file_sync_spark.operators.mlfit import logistic_irls, logistic_irls_frame


def numpy_irls(X: np.ndarray, y: np.ndarray, iters: int = 8, ridge: float = 1e-8) -> np.ndarray:
    beta = np.zeros(X.shape[1])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = p * (1.0 - p)
        G = X.T @ (y - p)
        H = (X * w[:, None]).T @ X + ridge * np.eye(X.shape[1])
        beta = beta + np.linalg.solve(H, G)
    return beta


def test_irls_matches_numpy_on_document_features(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_file_sync_spark.catalog import load_table
    from etl_file_sync_spark.operators.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs).withColumn("label", (F.col("lang") == "en").cast("double"))
    cols = ["len_score", "ttr", "stop_frac"]
    got = logistic_irls(feats, cols, "label")

    pdf = feats.select(*cols, "label").toPandas()
    X = np.column_stack([np.ones(len(pdf))] + [pdf[c].to_numpy(dtype=float) for c in cols])
    want = numpy_irls(X, pdf["label"].to_numpy(dtype=float))
    assert got == pytest.approx(want, rel=1e-6, abs=1e-6)
    # the fit actually moved off the origin (the weak label is learnable
    # or at least has a non-trivial base rate -> non-zero intercept)
    assert abs(got[0]) > 1e-3


def test_irls_learns_a_separable_toy(spark):
    # y = 1 iff x1 > 0.5 (with margin): the learned boundary must
    # classify every training point correctly after 8 Newton steps
    rows = [(float(i % 10) / 10.0, 1.0 if (i % 10) / 10.0 > 0.5 else 0.0) for i in range(200)]
    df = spark.createDataFrame(rows, "x1 double, label double")
    beta = logistic_irls(df, ["x1"], "label")
    for x1, y in rows[:10]:
        p = 1.0 / (1.0 + np.exp(-(beta[0] + beta[1] * x1)))
        assert (p > 0.5) == (y == 1.0), (x1, y, p)


def test_irls_frame_shape_and_registry_query(spark, sf_dir):
    from etl_file_sync_spark.queries import REGISTRY

    out = REGISTRY["text_quality_train_irls"].build(spark, sf_dir)
    rows = out.collect()
    assert [r.term for r in rows] == ["intercept", "len_score", "ttr", "stop_frac"]
    assert all(isinstance(r.weight, float) for r in rows)

    # frame helper agrees with the raw fit
    from pyspark.sql import functions as F

    from etl_file_sync_spark.catalog import load_table
    from etl_file_sync_spark.operators.text import quality_features

    feats = quality_features(load_table(spark, sf_dir, "documents")).withColumn(
        "label", (F.col("lang") == "en").cast("double")
    )
    beta = logistic_irls(feats, ["len_score", "ttr", "stop_frac"], "label")
    got = {r.term: r.weight for r in rows}
    assert got["intercept"] == pytest.approx(round(float(beta[0]), 6), abs=2e-6)
