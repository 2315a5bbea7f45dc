"""Distributed PCA over an embedding column.

Scale shape (the textbook one): ONE Arrow-batched map pass over the
corpus emits per-partition partial moments — count, sum-vector (d), and
Gram matrix (d*d) — so only n_partitions rows of aggregate metadata
ever reach the driver; the corpus itself never shuffles and is never
collected. The driver assembles the exact sample covariance
C = (G - n*m*m^T)/(n-1), runs an O(d^3) eigendecomposition (d=64 here;
trivial next to the data pass), and broadcasts the top-k components for
a second map-only projection pass. Partials reduce in sorted
(partition, row) order so the fit is deterministic for a given input
layout; eigenvector sign is fixed by making each component's
largest-|coordinate| entry positive.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this extends the embedding face (similarity.py, pq.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.similarity import vec_ok


def covariance_moments(df: DataFrame) -> tuple[int, np.ndarray, np.ndarray]:
    """Exact (n, mean, sample covariance) of the embedding column in one
    distributed pass. Returns driver-side numpy arrays (d,) and (d, d)."""
    v = df.where(vec_ok(F.col("embedding"))).select(
        F.spark_partition_id().alias("pid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "pid": int(pdf["pid"].iloc[0]),
                    "n": [len(V)],
                    "s": [V.sum(axis=0)],
                    "g": [(V.T @ V).ravel()],
                }
            )

    part = v.mapInPandas(
        partials, "pid int, n long, s array<double>, g array<double>"
    ).toPandas()
    if len(part) == 0:
        raise ValueError("covariance_moments: empty input")
    part = part.sort_values(["pid"], kind="mergesort")  # fixed reduce order
    n = int(part["n"].sum())
    if n < 2:
        raise ValueError("covariance_moments: need >= 2 vectors")
    s = np.sum(np.array(part["s"].tolist(), dtype=np.float64), axis=0)
    g = np.sum(np.array(part["g"].tolist(), dtype=np.float64), axis=0)
    d = s.shape[0]
    m = s / n
    cov = (g.reshape(d, d) - n * np.outer(m, m)) / (n - 1)
    return n, m, cov


def pca_fit(df: DataFrame, k: int):
    """Top-k principal components from the exact covariance: returns
    (mean (d,), components (k, d), explained_variance (k,), total_var).
    Sign convention: each component's largest-|coordinate| entry is
    made positive, so the fit is reproducible across runs."""
    _n, m, cov = covariance_moments(df)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return m, comps, evals[order], float(evals.sum())


def pca_project(df: DataFrame, mean: np.ndarray, components: np.ndarray) -> DataFrame:
    """Map-only projection pass: (embedding - mean) @ components.T as the
    array<double> column ``pcs``, in place of ``embedding``. Broadcast
    the (k, d) matrix; never shuffles."""
    spark = df.sparkSession
    bM = spark.sparkContext.broadcast((mean, components))
    cols = df.columns

    df = df.where(vec_ok(F.col("embedding")))  # aggregate-style NULL drop

    def project(batches):
        m, C = bM.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            P = (V - m) @ C.T
            out = pdf.drop(columns=["embedding"])
            out["pcs"] = list(P)
            yield out

    keep = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != "embedding"
    )
    out = df.select(*cols).mapInPandas(project, f"{keep}, pcs array<double>")
    return out
