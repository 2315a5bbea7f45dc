"""Distributed GLM fitting: logistic regression via IRLS (Newton).

The scale-correct shape for fitting a low-dimensional linear model on a
100 TB corpus: per Newton iteration, ONE full-scan aggregation computes
the k-vector gradient G = Σ xᵢ(yᵢ − pᵢ) and the k×k Hessian
H = Σ wᵢ xᵢxᵢᵀ (wᵢ = pᵢ(1−pᵢ)) as k + k(k+1)/2 map-side-combinable
F.sum columns — pure JVM expressions over the feature projection, no
shuffle beyond the final partial-aggregate combine, state independent of
row count. The driver solves the k×k system (numpy) and updates β; at
k=4 and 8 iterations the whole fit is 8 cluster passes carrying ~20
doubles each. This mirrors how Spark MLlib's own LogisticRegression
aggregates per-partition gradient/Hessian contributions (treeAggregate),
restated declaratively so Catalyst owns the scan.

Train/apply split mirrors operators/bpe.py: training state is
aggregate-sized (driver), application is the embarrassingly parallel
narrow map (operators/text.py with_logistic_quality).

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); engine-only extension. No SQL oracle exists for the iterative
fit — correctness is pinned by an independent numpy IRLS on the
collected feature matrix (tests/test_mlfit.py), which must agree on
every coefficient.

Float-sum caveat (documented, accepted): F.sum over doubles combines
partials in partition order, so coefficients carry ~1e-12 relative
run-to-run jitter — far inside the truth test's 1e-6 tolerance and the
query's 6-decimal rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import local_rows_df, sql_double


def logistic_irls(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 8,
    ridge: float = 1e-8,
):
    """Fit logistic regression; returns the coefficient vector as a
    numpy array ordered (intercept, *feature_cols).

    `ridge` adds a small L2 diagonal to the Hessian — numeric insurance
    against separable data (where the MLE diverges), not regularization
    in any tuned sense. Iteration count is fixed (deterministic plan
    structure); IRLS on well-scaled features converges to ~1e-10 well
    inside 8 steps.
    """
    import numpy as np

    k = len(feature_cols) + 1
    # Project to the k+1 columns the fit reads and CACHE: every Newton
    # step re-aggregates this frame, and uncached each of the 8 passes
    # re-ran the full upstream lineage (for the quality classifier: the
    # text scan + tokenize/distinct/stoplist feature computation — 8
    # scans for 1). The cached frame is k+1 doubles per row (what MLlib's
    # LogisticRegression caches as its instances RDD); unpersisted before
    # return. Cached partitioning is identical across steps, so the
    # double-sum partial order (and hence the documented ~1e-12 jitter
    # envelope) is unchanged.
    proj = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("__y"),
    ).cache()
    xs = ["CAST(1.0 AS DOUBLE)"] + [f"`{c}`" for c in feature_cols]
    beta = np.zeros(k)
    try:
        for _ in range(iters):
            # one F.expr per aggregate (the nested-Column spelling cost
            # ~300 py4j round trips per step x 8 steps of driver time);
            # the strings parse to the same doubles algebra, with beta
            # entering as exact sql_double literals
            z = sql_double(beta[0])
            for i in range(1, k):
                z += f" + {sql_double(beta[i])} * {xs[i]}"
            p = f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({z}))))"
            w = f"({p} * (CAST(1.0 AS DOUBLE) - {p}))"
            aggs = []
            for i in range(k):
                aggs.append(F.expr(f"sum({xs[i]} * (`__y` - {p}))").alias(f"g{i}"))
                for j in range(i, k):
                    aggs.append(F.expr(f"sum({w} * {xs[i]} * {xs[j]})").alias(f"h{i}_{j}"))
            # ONE cluster pass per iteration; the collected row is k + k(k+1)/2
            # doubles of aggregate metadata, not data
            row = proj.agg(*aggs).collect()[0]
            if row["g0"] is None:  # empty/all-NULL input: no gradient, no fit
                return np.full(k, np.nan)
            G = np.array([row[f"g{i}"] for i in range(k)])
            H = np.zeros((k, k))
            for i in range(k):
                for j in range(i, k):
                    H[i, j] = H[j, i] = row[f"h{i}_{j}"]
            H += ridge * np.eye(k)
            beta = beta + np.linalg.solve(H, G)
    finally:
        proj.unpersist()
    return beta


def logistic_irls_frame(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 8,
    ridge: float = 1e-8,
) -> DataFrame:
    """logistic_irls as a small (term, weight) DataFrame, intercept
    first then feature_cols order — the learned-model artifact a
    pipeline persists and with_logistic_quality-style inference maps
    back over the corpus."""
    import math

    beta = logistic_irls(df, feature_cols, label_col, iters=iters, ridge=ridge)

    def _w(x: float):
        # undefined fit (empty/all-NULL input) -> NULL weights, never NaN
        return None if math.isnan(x) else float(x)

    rows = [Row(term="intercept", weight=_w(beta[0]))] + [
        Row(term=c, weight=_w(beta[i + 1])) for i, c in enumerate(feature_cols)
    ]
    # LocalRelation: a list-built frame scans as a pickled Python RDD
    # whose tasks block on Python workers (etl_file_sync_spark/localrel.py)
    return local_rows_df(df.sparkSession, rows, "term string, weight double")
