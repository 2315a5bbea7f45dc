"""Full-text search operators: inverted-index postings, BM25.

The keyword-retrieval face of the corpus engine — the lexical complement
to the embedding similarity path (operators/similarity.py). Everything is
built-in JVM expressions (explode / groupBy / broadcast join); no Python
touches the hot path.

Scale design (100 TB):
- the postings build is ONE explode + ONE partial-aggregated groupBy on
  (term, doc_id) — the canonical inverted-index shuffle. At cluster scale
  the postings frame is written bucketed by term so query-time lookups
  are a bucket-pruned scan, not a shuffle.
- query scoring never touches the full postings: the (tiny) query-term
  set is broadcast and the postings are semi-filtered to it BEFORE any
  join, so only the touched posting lists move. Corpus statistics
  (N, avgdl) ride along as a broadcast 1-row frame — no driver collect.
- top-k is orderBy+limit → TakeOrderedAndProject (per-partition heaps,
  no global sort).

Reference parity: the reference has no search surface at all (SURVEY.md
§2.2 — its 1,469 LoC are Kafka/FTP plumbing); this module is part of the
required-beyond-reference analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, term) token stream: whitespace split, empties dropped."""
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .where(F.length("term") > 0)
    )


def postings(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Inverted-index postings: (term, id, tf). One explode + one
    partial-aggregated groupBy — the only wide op in the index build."""
    return tokens(df, id_col, text_col).groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf"))


def term_doc_freq(post: DataFrame) -> DataFrame:
    """(term, df) document frequency from a postings frame."""
    return post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k documents for a bag-of-words query.

    Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5));
    tf term = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).

    Execution shape — index-free for a bounded query-term set: one
    NARROW projection computes per-doc dl and per-query-term tf as JVM
    array expressions (`size(filter(split(text)))`) — no token explode,
    no (term, id) shuffle, no inverted index. That (id, dl, tf…) frame
    (one row, |q|+2 ints per doc) is cached; corpus statistics
    (N, avgdl, df per term) reduce it to ONE broadcast scalar row, and
    scoring is a per-row expression over the same cache. The only wide
    ops are the scalar aggregate and the final top-k
    (TakeOrderedAndProject). At 100 TB this is two streaming passes over
    a q+2-column projection of the corpus — strictly less data movement
    than any postings build. For large/unbounded query sets (beyond ~32
    terms the projection gets wide), build `postings()` bucketed by term
    instead. Deterministic: ordered by (round(score,6) DESC, id) so
    engine ulp noise cannot reorder ranks.

    Cache lifecycle is the caller's (same contract as dedup._shingle_overlap):
    the result is lazy; long-lived sessions clearCache() between calls.

    Returns (doc_id, bm25, rnk) — bm25 rounded to 4 decimals.
    """
    from pyspark.sql import Window as W

    terms = list(dict.fromkeys(query_terms))  # dup query terms must not double-count
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    arr = F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)

    def _tf(term: str):  # single-arg lambda: a 2-arg lambda would receive the array index
        return F.size(F.filter(arr, lambda x: x == F.lit(term)))

    # the collection is token-BEARING docs: a zero-token document can
    # match nothing and must not dilute n_docs/avgdl (the oracle's dl
    # frame only ever held docs with >= 1 token; invisible until the
    # unicode-poked tier introduced empty/whitespace-only documents)
    per_doc = (
        df.select(
            F.col(id_col).alias("id"),
            F.size(arr).alias("dl"),
            *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
        )
        .where(F.col("dl") > 0)
        .cache()
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("double").alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    contribs = [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5))
            * (F.col(f"tf_{i}") * (k1 + 1.0))
            / (F.col(f"tf_{i}") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))
        for i in range(len(terms))
    ]
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    top = (
        per_doc.crossJoin(F.broadcast(stats))
        .where(
            F.col("tf_0") > 0
            if len(terms) == 1
            else F.greatest(*[F.col(f"tf_{i}") for i in range(len(terms))]) > 0
        )
        .withColumn("score", score)
        .orderBy(F.round("score", 6).desc(), F.col("id"))
        .limit(k)
        .withColumn(
            "rnk", F.row_number().over(W.orderBy(F.round("score", 6).desc(), F.col("id")))
        )
    )
    return top.select(
        F.col("id").alias(id_col), F.round("score", 4).alias("bm25"), "rnk"
    )

