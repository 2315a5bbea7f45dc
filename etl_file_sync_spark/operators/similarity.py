"""Similarity search over embedding columns (ARRAY<FLOAT>).

Baseline: brute-force cosine top-k with the small query side broadcast —
a single narrow map stage over the corpus plus a per-query top-k, no
all-corpus shuffle. Scale path: IVF-style coarse quantization (assign
corpus vectors to centroid buckets, probe only the closest buckets) which
turns the scan into a partition-pruned equi-join.

All vector math is built-in higher-order functions (zip_with/aggregate) —
JVM-evaluated, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def vec_ok(col: Column) -> Column:
    """Usable-vector predicate: NOT NULL, no NULL elements, and nonzero
    norm. A vector with a NULL coordinate is as uncomparable as a NULL
    vector (its dot/norm would be NULL; DuckDB's list_cosine_similarity
    aborts on it), and a ZERO vector has no direction — its cosine is
    0/0, where the three runtimes give three answers (Spark division
    NULL, numpy NaN, DuckDB list_cosine_similarity -1.0 — the constant
    tier caught all three). Embedding operators drop all of these up
    front, and the oracles carry the matching
    ``len(list_filter(v, x -> x IS NULL)) = 0 AND
    len(list_filter(v, x -> x <> 0)) > 0`` guard
    (the constant tier of tests/test_tiers.py pins the lockstep).

    Spelled as ONE ``aggregate`` fold (track has-null and has-nonzero
    in a struct accumulator, decide in the finish lambda) instead of
    two ``exists`` traversals: this predicate fronts every embedding
    operator's scan, and the single pass shaves the family's constant
    factor (round-7 verdict). Three-valued logic: ``x != 0`` is NULL
    for a NULL element, but then ``bad`` is true and the finish's
    ``~bad AND nz`` collapses to FALSE regardless; a NULL array folds
    to NULL and ``coalesce`` pins it FALSE."""
    return F.coalesce(
        F.aggregate(
            col,
            F.struct(F.lit(False).alias("bad"), F.lit(False).alias("nz")),
            lambda acc, x: F.struct(
                (acc["bad"] | x.isNull()).alias("bad"),
                (acc["nz"] | (x != 0)).alias("nz"),
            ),
            lambda acc: ~acc["bad"] & acc["nz"],
        ),
        F.lit(False),
    )


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (sequential left fold —
    deterministic order, matches a scalar loop bit-for-bit)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


class QuerySideTooLarge(ValueError):
    """Raised when cosine_topk's query side exceeds max_queries.

    The brute-force path broadcasts the normalized query matrix — that
    contract only holds for a small serving set. For a large query side
    use ivf_topk (bucketed equi-join, no driver materialization).
    """


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector the k nearest
    corpus vectors (excluding itself). Returns
    (query_id, neighbor_id, cosine, nn_rank).

    Execution shape (the top-k *serving* pattern): the query side is
    small BY CONTRACT — `max_queries` (default 10k ≈ 10 MB of 128-dim
    doubles) is enforced with a limit-probe before the collect, and a
    `QuerySideTooLarge` is raised past it instead of OOMing the driver;
    batch-scale query sides belong on ivf_topk. Within the contract:
    collect the query side, broadcast the normalized matrix, and stream
    the corpus through an Arrow-batched mapInPandas doing one BLAS GEMM
    per batch. The corpus never shuffles; only |queries|·k rows survive
    into the final window. ~3× faster than the zip_with/aggregate
    expression at sf0.1 and the gap grows with corpus size.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    # limit-probe: never pull more than max_queries+1 rows even when the
    # caller hands us a huge frame — the failure mode is an exception,
    # not a driver OOM.
    qrows = (
        queries.where(vec_ok(F.col(vec_col)))  # NULL vectors have no neighbors
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise QuerySideTooLarge(
            f"cosine_topk query side exceeds max_queries={max_queries}; "
            "use ivf_topk for batch-scale query sets"
        )
    if not qrows:  # empty query side: no pairs, stable schema
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, nn_rank int"
        )
    qids = np.array([r.qid for r in qrows], dtype=np.int64)
    Q = np.array([list(r.qv) for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bQ = spark.sparkContext.broadcast((qids, Qn))

    def score(batches):
        q_ids, q_mat = bQ.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf["v"].tolist(), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ q_mat.T  # (corpus_batch, n_queries)
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(pdf["nid"].values, len(q_ids)),
                    "cosine": S.T.ravel(),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    c = corpus.where(vec_ok(F.col(vec_col))).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("v")
    )
    scored = c.mapInPandas(score, "query_id long, neighbor_id long, cosine double")
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "nn_rank")
    )


def _centroid_matrix(centroids: DataFrame):
    """Collect the (tiny, by IVF design) centroid set into a normalized
    numpy matrix sorted by centroid_id — aggregate metadata, not data."""
    return _normalized_centroids(centroids.select("centroid_id", "cv").collect())


def _normalized_centroids(rows):
    """(ids, normalized matrix) of already-collected (centroid_id, cv)
    rows, sorted by centroid_id."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    if not rows:  # degenerate corpus: zero centroids, typed empty matrix
        return ids, np.zeros((0, 0), dtype=np.float64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, C / np.linalg.norm(C, axis=1, keepdims=True)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = None,
    with_score: bool = False,
    cmat: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    ``cmat``: an already-collected ``_centroid_matrix(centroids)`` tuple
    of (id vector, normalized centroid matrix). When given, ``centroids``
    is IGNORED entirely — the caller asserts cmat was collected from the
    same centroid frame (a cmat from a different frame would silently
    produce wrong assignments). ivf_topk/ivfpq_topk need the same matrix
    for their probe selection, so they collect once and pass it here —
    one driver action instead of two identical collects.

    One Arrow-batched GEMM per batch against the broadcast normalized
    centroid matrix — a NARROW map stage, zero shuffle, BLAS throughput.
    (The declarative alternative — corpus ⋈ broadcast(centroids) with a
    zip_with/aggregate cosine — pays n·k interpreted HOF evaluations and
    measured 60x worse at the 500k-row tier in SCALE.md.) Ties go to the
    lowest centroid_id (argmax picks the first maximum of the id-sorted
    matrix). Returns (id_col, v, centroid_id).

    round_decimals quantizes the cosine BEFORE the argmax: two engines
    computing the same double-precision cosine agree to ~1e-14, so an
    argmax over round(cos, 9) is decided identically with overwhelming
    probability — a cross-engine flip needs two cosines within ~1e-14
    of each other that ALSO straddle a 0.5e-9 rounding boundary, a
    measure-~1e-5 coincidence per near-tie (and a genuine tie at the
    1e-9 grain breaks to the lowest centroid_id on both sides). This is
    a probabilistic guarantee, not a certainty — accepted for the
    oracle-checkable spelling; None (the IVF fast path) keeps the raw
    argmax.
    """
    import numpy as np
    import pandas as pd

    cids, Cn = cmat if cmat is not None else _centroid_matrix(centroids)
    if len(cids) == 0:  # empty centroid set: nothing assignable
        schema = f"{id_col} bigint, v array<double>, centroid_id bigint"
        if with_score:
            schema += ", cos double"
        return df.sparkSession.createDataFrame([], schema)
    b = df.sparkSession.sparkContext.broadcast((cids, Cn))

    def assign(batches):
        ids_, Cm = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Cm.T
            if round_decimals is not None:
                S = np.round(S, round_decimals)
            best = np.argmax(S, axis=1)
            cols = {"id": pdf["id"].values, "v": pdf["v"], "centroid_id": ids_[best]}
            if with_score:  # don't widen the IVF hot path's Arrow batches
                cols["cos"] = S[np.arange(len(best)), best]
            yield pd.DataFrame(cols)

    v = df.where(vec_ok(F.col(vec_col))).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    schema = "id bigint, v array<double>, centroid_id bigint"
    if with_score:
        schema += ", cos double"
    out = v.mapInPandas(assign, schema)
    return out.withColumnRenamed("id", id_col)


def assign_top2(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 9,
) -> DataFrame:
    """Nearest AND second-nearest centroid per vector — the inputs a
    simplified silhouette needs. Same broadcast-GEMM narrow map stage as
    ivf_assign; cosines are quantized (round_decimals) before both
    argmaxes so the (cos desc, centroid_id asc) selection is decided
    identically in any engine. Returns (id_col, centroid_id, cos,
    centroid_id_2nd, cos_2nd); requires >= 2 centroids.
    """
    import numpy as np
    import pandas as pd

    cids, Cn = _centroid_matrix(centroids)
    if len(cids) < 2:
        # a runner-up centroid doesn't exist: silhouette-style consumers
        # have nothing to compute — empty result, stable schema (a raise
        # here would abort whole-pipeline runs over degenerate extracts)
        return df.sparkSession.createDataFrame(
            [],
            f"{id_col} bigint, centroid_id bigint, cos double,"
            " centroid_id_2nd bigint, cos_2nd double",
        )
    b = df.sparkSession.sparkContext.broadcast((cids, Cn))

    def assign(batches):
        ids_, Cm = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = np.round(Vn @ Cm.T, round_decimals)
            rows = np.arange(len(S))
            best = np.argmax(S, axis=1)  # ties -> lowest centroid_id
            cos1 = S[rows, best]
            S[rows, best] = -np.inf
            second = np.argmax(S, axis=1)  # next in (cos desc, id asc)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "centroid_id": ids_[best],
                    "cos": cos1,
                    "centroid_id_2nd": ids_[second],
                    "cos_2nd": S[rows, second],
                }
            )

    v = df.where(vec_ok(F.col(vec_col))).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    out = v.mapInPandas(
        assign,
        "id bigint, centroid_id bigint, cos double, centroid_id_2nd bigint, cos_2nd double",
    )
    return out.withColumnRenamed("id", id_col)


def make_centroids(df: DataFrame, every: int = 50, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic centroid seed set: every Nth vector by id.

    The k-means seed; `kmeans_centroids` refines it with Lloyd
    iterations. Used bare it keeps the operator fully reproducible for
    the correctness harness (no iteration, no float-order sensitivity).
    """
    return (
        df.filter((F.col(id_col) % every == 0) & vec_ok(F.col(vec_col)))
        # integer `div`, not float `/`: the id is an exact multiple of
        # `every`, so integer division is exact at ANY magnitude, while
        # float division rounds above 2^53 and the engines' double->int
        # casts then disagree (trunc vs round-half-away) — extreme-id tier
        .select(
            F.expr(f"{id_col} div {every}").cast("bigint").alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    )


def kmeans_centroids(
    df: DataFrame,
    every: int = 50,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the stride seed set.

    Distributed shape per iteration: broadcast the (k × dim) centroid
    matrix, one Arrow-batched pass over the corpus emitting PARTIAL
    per-centroid (count, sum-vector) rows — a map-side combine, so only
    n_partitions·k tiny rows ever reach the driver (that is aggregate
    metadata, not data; same posture as any .agg().collect()). The
    corpus itself never shuffles and is never collected. New centroid =
    re-normalized mean of its assigned normalized vectors; empty
    clusters keep their previous centroid. Deterministic given the data
    and seed set (argmin ties break to the lowest centroid_id; partial
    sums are reduced in sorted-partition order on the driver).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    seed = make_centroids(df, every, id_col, vec_col).collect()  # k rows — tiny by design
    if not seed:  # degenerate corpus: no seeds, empty centroid frame
        return spark.createDataFrame([], "centroid_id bigint, cv array<double>")
    cids = np.array([r.centroid_id for r in seed], dtype=np.int64)
    order = np.argsort(cids)
    cids = cids[order]
    C = np.array([list(r.cv) for r in seed], dtype=np.float64)[order]
    C = C / np.linalg.norm(C, axis=1, keepdims=True)

    v = df.where(vec_ok(F.col(vec_col))).select(
        F.spark_partition_id().alias("pid"), F.col(vec_col).cast("array<double>").alias("v")
    )

    for _ in range(max(0, iters)):
        bC = spark.sparkContext.broadcast(C)

        def partial_sums(batches):
            Cm = bC.value
            k, dim = Cm.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.array(pdf["v"].tolist(), dtype=np.float64)
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                assign = np.argmax(Vn @ Cm.T, axis=1)  # ties -> lowest index
                sums = np.zeros((k, dim))
                np.add.at(sums, assign, Vn)
                counts = np.bincount(assign, minlength=k)
                nz = np.where(counts > 0)[0]
                yield pd.DataFrame(
                    {
                        "pid": int(pdf["pid"].iloc[0]),
                        "cidx": nz.astype(np.int64),
                        "n": counts[nz].astype(np.int64),
                        "s": list(sums[nz]),
                    }
                )

        part = v.mapInPandas(partial_sums, "pid int, cidx long, n long, s array<double>").toPandas()
        part = part.sort_values(["cidx", "pid"], kind="mergesort")  # fixed reduce order
        newC = C.copy()
        for cidx, grp in part.groupby("cidx", sort=True):
            s = np.sum(np.array(grp["s"].tolist(), dtype=np.float64), axis=0)
            norm = np.linalg.norm(s)
            if norm > 0:
                newC[int(cidx)] = s / norm
        bC.destroy()
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC

    out = pd.DataFrame({"centroid_id": cids, "cv": list(C)})
    return spark.createDataFrame(out, schema="centroid_id bigint, cv array<double>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    every: int = 50,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: probe only the nprobe closest centroid
    buckets per query. The corpus⋈bucket join is an equi-join on
    centroid_id — at 100 TB the corpus would be written partitioned by
    centroid_id so probing prunes partitions at scan time.

    kmeans_iters > 0 refines the stride seed with spherical-k-means
    Lloyd rounds (better-balanced cells → higher recall per probe);
    0 keeps the raw deterministic stride seed.

    Returns (query_id, neighbor_id, cosine, nn_rank).
    """
    if kmeans_iters > 0:
        cents = kmeans_centroids(corpus, every, kmeans_iters, id_col, vec_col)
    else:
        cents = make_centroids(corpus, every, id_col, vec_col)
    # collect the centroid matrix ONCE; the assign pass and the probe
    # selection below share it (one driver action, not two). cents has
    # exactly one consumer (this collect), so no cache (round-8 ADVICE).
    cmat = _centroid_matrix(cents)
    assigned = ivf_assign(corpus, cents, id_col, vec_col, cmat=cmat)  # (vec_id, v, centroid_id)

    # probe selection: same Arrow GEMM shape as ivf_assign, top-nprobe
    # cells per query (stable argsort keeps ties on the lower centroid_id)
    import numpy as np
    import pandas as pd

    cids, Cn = cmat
    bq = corpus.sparkSession.sparkContext.broadcast((cids, Cn))
    npr = min(nprobe, len(cids))

    def probe(batches):
        ids_, Cm = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.float64)
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            top = np.argsort(-(Qn @ Cm.T), axis=1, kind="stable")[:, :npr]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["query_id"].values, npr),
                    "qv": [v for v in pdf["qv"] for _ in range(npr)],
                    "centroid_id": ids_[top].ravel(),
                }
            )

    q = queries.where(vec_ok(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    probes = q.mapInPandas(probe, "query_id bigint, qv array<double>, centroid_id bigint")

    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("v")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), F.round("cosine", 4).alias("cosine"), "nn_rank")
    )
