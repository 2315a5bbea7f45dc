"""Corpus-clustering face: distributed k-means assignment over the
embedding table, the workhorse behind SemDeDup-style semantic curation
(Abbas et al. 2023, arXiv:2303.09540) and topic-balanced mix planning.

The scale shape is the IVF coarse quantizer's: broadcast the tiny
(k x dim) centroid matrix, one Arrow-batched GEMM pass over the corpus
— a narrow map stage, zero shuffle — then a combiner-friendly groupBy
on the assigned centroid. The corpus never shuffles and is never
collected; only k-row centroid metadata crosses the driver.

Assignment is made engine-portable by quantizing the cosine to the
1e-9 grain before the argmax (see operators/similarity.py ivf_assign):
two engines' double-precision cosines agree to ~1e-14, so the rounded
argmax — ties to the lowest centroid_id — is decided identically, and
the whole clustering becomes value-exact under a SQL oracle.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this extends the engine-only curation face.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.similarity import ivf_assign, make_centroids
from etl_file_sync_spark.operators.similarity import vec_ok
from etl_file_sync_spark.queries.registry import register, t


@register(
    "cluster_kmeans_assign",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    c AS (
      SELECT vec_id // 50 AS centroid_id, v AS cv
      FROM e WHERE vec_id % 50 = 0
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             round(list_cosine_similarity(e.v, c.cv), 9) AS cos
      FROM e CROSS JOIN c
    ),
    best AS (
      SELECT vec_id, centroid_id, cos,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, centroid_id
             ) AS rn
      FROM scored
    )
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(((vec_id % 1000000007) + 1000000007) % 1000000007)
                % 1000000007 AS BIGINT) AS member_id_checksum,
           round(avg(cos), 4) AS avg_cohesion
    FROM best WHERE rn = 1
    GROUP BY centroid_id
    ORDER BY centroid_id
    """,
    "cluster",
    "kmeans",
    "embedding",
)
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-style cluster profile of the embedding corpus: every
    vector is assigned to its nearest stride centroid (deterministic
    k = n/50, the cells ivf_topk probes), and each
    cluster reports its size, exact member-id checksum, and mean
    cosine cohesion. One GEMM map pass + one partial-aggregated
    groupBy; the oracle recomputes the assignment relationally via a
    cross join that only exists at oracle scale."""
    emb = t(spark, sf_dir, "embeddings")
    assigned = ivf_assign(
        emb, make_centroids(emb, every=50), round_decimals=9, with_score=True
    )
    # modular checksum, not a raw id sum: full-range int64 ids (hash-
    # derived at cluster scale) overflow a BIGINT sum — non-ANSI Spark
    # wraps silently, DuckDB's HUGEINT->BIGINT cast errors (extreme-id
    # tier). Each term is floor-mod < 1e9; the DECIMAL fold is exact and
    # the final mod brings the checksum back to BIGINT at any row count.
    _P = 1_000_000_007
    term = F.pmod(F.col("vec_id"), F.lit(_P)).cast("decimal(38,0)")
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.pmod(F.sum(term), F.lit(_P)).cast("bigint").alias("member_id_checksum"),
            F.round(F.avg("cos"), 4).alias("avg_cohesion"),
        )
        .orderBy("centroid_id")
    )


@register(
    "cluster_silhouette",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    c AS (
      SELECT vec_id // 50 AS centroid_id, v AS cv
      FROM e WHERE vec_id % 50 = 0
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             round(list_cosine_similarity(e.v, c.cv), 9) AS cos
      FROM e CROSS JOIN c
    ),
    ranked AS (
      SELECT vec_id, centroid_id, cos,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, centroid_id
             ) AS rn
      FROM scored
    ),
    sil AS (
      SELECT b.vec_id, b.centroid_id,
             1 - b.cos AS a, 1 - s.cos AS bdist
      FROM ranked b JOIN ranked s
        ON b.vec_id = s.vec_id AND b.rn = 1 AND s.rn = 2
    )
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(avg(CASE WHEN greatest(a, bdist) = 0 THEN 0
                          ELSE (bdist - a) / greatest(a, bdist) END), 4)
             AS avg_silhouette
    FROM sil GROUP BY centroid_id ORDER BY centroid_id
    """,
    "cluster",
    "kmeans",
    "quality",
)
def cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: a = cosine
    distance to the own centroid, b = to the runner-up centroid, s =
    (b - a) / max(a, b) averaged over members — the standard cluster-
    quality diagnostic at corpus scale, where true pairwise silhouette
    is quadratic and nobody computes it. One GEMM map pass emits both
    nearest and second-nearest (operators/similarity.py assign_top2),
    then one partial-aggregated groupBy; the oracle re-derives top-2 by
    window rank over the cross join it can afford at oracle scale."""
    from etl_file_sync_spark.operators.similarity import assign_top2

    emb = t(spark, sf_dir, "embeddings")
    top2 = assign_top2(emb, make_centroids(emb, every=50))
    a = 1 - F.col("cos")
    b = 1 - F.col("cos_2nd")
    s = F.when(F.greatest(a, b) == 0, 0.0).otherwise((b - a) / F.greatest(a, b))
    return (
        top2.select("centroid_id", s.alias("s"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(F.avg("s"), 4).alias("avg_silhouette"),
        )
        .orderBy("centroid_id")
    )


def _cov_oracle_sql(d: int) -> str:
    """Programmatic oracle: two-pass centered covariance of the first
    ``d`` embedding dims, one wide row of upper-triangle entries."""
    xs = ",\n             ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}" for i in range(1, d + 1)
    )
    ms = ", ".join(f"avg(x{i}) AS m{i}" for i in range(1, d + 1))
    cells = ",\n           ".join(
        f"round(sum((x{i} - m{i}) * (x{j} - m{j})) / (max(n) - 1), 6) AS c{i}_{j}"
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    )
    return f"""
    WITH x AS (
      SELECT {xs}
      FROM embeddings
    ),
    m AS (SELECT {ms}, CAST(count(*) AS BIGINT) AS n FROM x)
    SELECT {cells}
    FROM x, m
    """


_COV_DIMS = 8


@register(
    "embed_covariance_entries",
    _cov_oracle_sql(_COV_DIMS),
    "embedding",
    "stats",
    "pca",
)
def embed_covariance_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample-covariance entries of the first 8 embedding
    dims, spelled as the repo's two-pass centered aggregate (means
    first — a 1-row broadcast — then centered cross-moments), so the
    algebra is cancellation-free and both engines agree to ulps. This
    is the value-exact oracled sibling that pins the covariance math
    behind the rows-only embed_pca_label_profile: the full-dim PCA
    consumes exactly this statistic, computed by the one-pass
    Gram-partials plan in operators/pca.py."""
    d = _COV_DIMS
    emb = t(spark, sf_dir, "embeddings")
    x = emb.select(
        *[
            F.element_at(F.col("embedding"), i).cast("double").alias(f"x{i}")
            for i in range(1, d + 1)
        ]
    )
    m = x.agg(
        *[F.avg(f"x{i}").alias(f"m{i}") for i in range(1, d + 1)],
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cent = x.crossJoin(F.broadcast(m))  # 1-row means dimension
    return cent.agg(
        *[
            F.round(
                F.sum(
                    (F.col(f"x{i}") - F.col(f"m{i}"))
                    * (F.col(f"x{j}") - F.col(f"m{j}"))
                )
                / (F.first("n") - 1),
                6,
            ).alias(f"c{i}_{j}")
            for i in range(1, d + 1)
            for j in range(i, d + 1)
        ]
    )


@register(
    "embed_pca_label_profile",
    None,  # rows-only: eigendecomposition is not SQL-expressible; the
    # covariance it consumes is value-oracled by embed_covariance_entries
    # and the fit/projection is pinned against direct numpy PCA in
    # tests/test_pca.py
    "embedding",
    "pca",
    "iterative",
)
def embed_pca_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label profile in the corpus's top principal components: fit
    a 4-component PCA with the one-pass distributed moment plan
    (operators/pca.py — per-partition (n, sum, Gram) partials, driver
    O(d^3) eigh at d=64, sign-fixed components), then a second map-only
    projection pass and a per-label aggregate of the first three PC
    coordinates, with the explained-variance ratios carried alongside.
    The corpus never shuffles and is never collected in either pass."""
    from etl_file_sync_spark.operators.pca import pca_fit, pca_project

    emb = t(spark, sf_dir, "embeddings")
    _pca_schema = (
        "label int, n_vecs bigint, mean_pc1 double, mean_pc2 double,"
        " mean_pc3 double, evr_1 double, evr_2 double, evr_3 double,"
        " evr_4 double"
    )
    # a sample covariance needs >= 2 non-null vectors; cheap limit-probe
    if emb.where(vec_ok(F.col("embedding"))).limit(2).count() < 2:
        return spark.createDataFrame([], _pca_schema)
    mean, comps, evals, total_var = pca_fit(emb, k=4)
    proj = pca_project(emb.select("label", "embedding"), mean, comps)
    out = (
        proj.select(
            "label",
            *[
                F.element_at(F.col("pcs"), i + 1).alias(f"pc{i + 1}")
                for i in range(3)
            ],
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            *[F.round(F.avg(f"pc{i + 1}"), 4).alias(f"mean_pc{i + 1}") for i in range(3)],
        )
    )
    for i in range(4):
        # an all-identical corpus has zero total variance: NULL ratios,
        # never NaN (the DuckDB x/0 convention)
        evr = (
            F.round(F.lit(float(evals[i] / total_var)), 6)
            if total_var > 0
            else F.lit(None).cast("double")
        )
        out = out.withColumn(f"evr_{i + 1}", evr)
    return out.orderBy("label")
