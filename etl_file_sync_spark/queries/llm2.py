"""Second LLM-data batch: PII redaction, edit-distance fuzzy matching,
and near-dup cluster collapse (connected components)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.dedup import jaccard_oracle_ctes
from etl_file_sync_spark.queries.registry import register, t

# Simple, dialect-shared PII patterns (character classes + quantifiers).
EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redact",
    f"""
    WITH synth AS (
      SELECT c_custkey,
             'contact ' || translate(replace(c_name, '#', ''),
               'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')
               || '@example.com call 555-' ||
             lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' re ' || c_mktsegment AS msg
      FROM customer WHERE c_custkey <= 100)
    SELECT c_custkey,
           regexp_replace(regexp_replace(msg, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(msg, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(msg, '{PHONE_RE}')) AS INTEGER) AS n_phones
    FROM synth ORDER BY c_custkey
    """,
    "text",
    "pii",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of emails/phones with match counts —
    the standard pre-training privacy pass. Input PII is synthesized
    deterministically from the customer table so the oracle can restate
    the whole flow. Case folding is the ASCII contract (not lower():
    JVM vs utf8proc disagree on İ/Σ — operators/text.py ascii_lower)."""
    from etl_file_sync_spark.operators.text import ascii_lower

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    msg = F.concat(
        F.lit("contact "),
        ascii_lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
        F.lit("@example.com call 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" re "),
        F.col("c_mktsegment"),
    )
    synth = c.select("c_custkey", msg.alias("msg"))
    return synth.select(
        "c_custkey",
        F.regexp_replace(F.regexp_replace("msg", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>").alias("redacted"),
        F.size(F.expr(f"regexp_extract_all(msg, '{EMAIL_RE}', 0)")).alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(msg, '{PHONE_RE}', 0)")).alias("n_phones"),
    ).orderBy("c_custkey")


@register(
    "dedup_fuzzy_levenshtein",
    """
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 150)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
    "dedup",
    "fuzzy",
    "levenshtein",
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching, all-pairs VERIFIER on a bounded slice.

    Kept as the exhaustive cross-check for the canonical blocked path —
    see dedup_fuzzy_blocked (deletion-neighborhood blocking, equi-join,
    no cross join), which is the entity-resolution building block to use
    at scale.
    """
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 150).select("c_custkey", "c_name")
    a = c.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"))
    b = c.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("id_a", "id_b", "edit_dist")
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_fuzzy_blocked",
    """
    WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
    ci AS (SELECT id, name, unnest(range(0, length(name) + 1)) AS i FROM c),
    k AS (
      SELECT DISTINCT id, name,
             CASE WHEN i = 0 THEN name
                  ELSE substr(name, 1, i - 1) || substr(name, i + 1) END AS bkey
      FROM ci
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
      FROM k a JOIN k b ON a.bkey = b.bkey AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 1
    ORDER BY id_a, id_b
    """,
    "dedup",
    "fuzzy",
    "blocking",
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical fuzzy-match path: deletion-neighborhood blocking (every
    1-deletion variant is a block key — complete for edit distance <= 1),
    equi-join on the key, levenshtein only on candidates. Runs on the
    FULL customer table (no slice needed — no cross join anywhere); the
    oracle restates the identical blocking in SQL."""
    from etl_file_sync_spark.operators.dedup import fuzzy_blocked_pairs

    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return (
        fuzzy_blocked_pairs(c, "id", "name")
        .select("id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist"))
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_fuzzy_jw_blocked",
    """
    WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
    ci AS (SELECT id, name, unnest(range(0, length(name) + 1)) AS i FROM c),
    k AS (
      SELECT DISTINCT id, name,
             CASE WHEN i = 0 THEN name
                  ELSE substr(name, 1, i - 1) || substr(name, i + 1) END AS bkey
      FROM ci
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
      FROM k a JOIN k b ON a.bkey = b.bkey AND a.id < b.id
    )
    SELECT id_a, id_b, round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
    FROM cand WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.9
    ORDER BY id_a, id_b
    """,
    "dedup",
    "fuzzy",
    "jaro_winkler",
)
def dedup_fuzzy_jw_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler entity matching on the blocked plan (round 5): the
    same deletion-neighborhood candidate generator as dedup_fuzzy_blocked
    (complete for edit distance <= 1), scored by JW instead of raw edit
    distance — the prefix-weighted, length-normalized scorer record
    linkage actually ranks name-grain entities with. Spark has no JW
    builtin, so scoring is an Arrow-batched pandas UDF pinned bit-level
    to DuckDB's jaro_winkler_similarity (operators/dedup.py
    jaro_winkler_py; rounded to 6 dp in both engines), paid only on the
    blocked candidate set while every join stays JVM-side. Cost anatomy
    at sf0.1: ~956k candidate pairs, every one a true >=0.9 match on
    this synthetic name distribution (ids differing in one digit), so
    the query is pair-OUTPUT-bound like the other dedup emitters —
    score+sort of ~1M rows, not a blocking failure. The blocked frame
    is repartitioned by bkey (single-file source would otherwise run
    the explode and probe nearly single-threaded)."""
    from etl_file_sync_spark.operators.dedup import fuzzy_jw_blocked_pairs

    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return fuzzy_jw_blocked_pairs(c, "id", "name", threshold=0.9).orderBy("id_a", "id_b")


@register(
    "dedup_fuzzy_jw_nearest",
    """
    WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer
               WHERE c_custkey <= 300 AND c_name IS NOT NULL),
    scored AS (
      SELECT a.id AS id, b.id AS match_id,
             round(jaro_winkler_similarity(a.name, b.name), 6) AS jw,
             row_number() OVER (
               PARTITION BY a.id
               ORDER BY round(jaro_winkler_similarity(a.name, b.name), 6) DESC, b.id
             ) AS rn
      FROM c a JOIN c b ON a.id <> b.id
    )
    SELECT id, match_id, jw FROM scored WHERE rn = 1 ORDER BY id
    """,
    "dedup",
    "fuzzy",
    "jaro_winkler",
    "nearest",
)
def dedup_fuzzy_jw_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-JW-neighbor per entity on a bounded slice (c_custkey <=
    300; all-pairs is the VERIFIER grain, mirroring
    dedup_fuzzy_levenshtein — the scale path is dedup_fuzzy_jw_blocked).
    Catches matches BEYOND edit distance 1 (e.g. digit-block
    permutations) that the dist<=1 blocker by contract does not emit.
    Ties at the rounded-6dp grain break to the smallest candidate id in
    both engines, so the argmax is engine-portable."""
    from pyspark.sql import Window as W

    from etl_file_sync_spark.operators.dedup import jaro_winkler_col

    c = (
        t(spark, sf_dir, "customer")
        # an entity with a NULL name has nothing to fuzzy-match: out of
        # the frame in both engines (the Python scorer would otherwise
        # report jw=0.0 where DuckDB propagates NULL)
        .filter((F.col("c_custkey") <= 300) & F.col("c_name").isNotNull())
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    )
    a = c.select(F.col("id"), F.col("name").alias("name_a"))
    b = c.select(F.col("id").alias("match_id"), F.col("name").alias("name_b"))
    scored = (
        a.crossJoin(b)
        .filter(F.col("id") != F.col("match_id"))
        .withColumn("jw", F.round(jaro_winkler_col(F.col("name_a"), F.col("name_b")), 6))
    )
    w = W.partitionBy("id").orderBy(F.col("jw").desc(), "match_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "match_id", "jw")
        .orderBy("id")
    )


@register(
    "dedup_cluster_collapse",
    f"""
    WITH RECURSIVE {jaccard_oracle_ctes(0.5)},
    pairs AS (SELECT id_a, id_b FROM jpairs),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    sized AS (SELECT doc_id, cluster_id,
                     count(*) OVER (PARTITION BY cluster_id) AS cluster_size
              FROM comp)
    SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical,
           CAST(cluster_size AS INTEGER) AS cluster_size
    FROM sized WHERE cluster_size > 1 ORDER BY doc_id
    """,
    "dedup",
    "connected-components",
)
def dedup_cluster_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → per-cluster canonical doc.

    Jaccard pairs (exact, >=0.5) feed alternating large/small-star
    connected components (min-id labels); output is one row per clustered doc with its cluster id
    and survivor flag. Min-id labels are deterministic, so the oracle
    restates the whole thing: the same jaccard pair SQL + a recursive-
    CTE transitive closure with min-reachable-id labels — the iterative
    distributed algorithm is value-checked against exhaustive closure.
    """
    from etl_file_sync_spark.operators.cluster import dedup_clusters
    from etl_file_sync_spark.operators.dedup import jaccard_pairs

    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5)
    out = dedup_clusters(docs.select("doc_id", "lang"), pairs)
    wc = W.partitionBy("cluster_id")
    return (
        out.withColumn("cluster_size", F.count(F.lit(1)).over(wc).cast("int"))
        .filter(F.col("cluster_size") > 1)
        .select("doc_id", "cluster_id", "is_canonical", "cluster_size")
        .orderBy("doc_id")
    )


@register(
    "sample_hash_split",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::UBIGINT::BIGINT % 100 < 10
    ORDER BY doc_id
    """,
    "sampling",
    "reproducible",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% hash-bucket sample of documents (train/held-out
    split carving), md5-seeded so the kept set is engine-independent and
    value-exact against the oracle. Plan shape: a pushed-down filter, no
    shuffle. The xxhash64 spelling (hash_sample(hash_fn="xxhash")) costs
    less per row and stays the production default — determinism and rate
    bounds for it are asserted in tests — but is engine-seeded, so the
    md5 spelling owns the registry name (round-3 verdict)."""
    from etl_file_sync_spark.operators.text import hash_sample

    d = t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 10, hash_fn="md5").select("doc_id", "lang").orderBy("doc_id")


@register(
    "text_chunking",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 30),
    starts AS (
      SELECT doc_id, w, len(w) AS n, unnest(range(0, len(w), 24)) AS start
      FROM d),
    numbered AS (
      SELECT doc_id, start, w, n,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1 AS INTEGER) AS chunk_idx
      FROM starts WHERE start < n)
    SELECT doc_id AS id, chunk_idx,
           array_to_string(w[start+1:start+32], ' ') AS chunk_text,
           CAST(least(n - start, 32) AS INTEGER) AS n_chunk_tokens
    FROM numbered ORDER BY id, chunk_idx
    """,
    "text",
    "chunking",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token windows, 8 overlap) —
    the standard pre-embedding segmentation; tail windows kept."""
    from etl_file_sync_spark.operators.text import chunk_documents

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    return chunk_documents(d, chunk_tokens=32, overlap=8).orderBy("id", "chunk_idx")


@register(
    "text_contamination_check",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i+1:i+8], ' ') AS s
      FROM d, UNNEST(range(0, greatest(len(w) - 7, 1))) AS u(i)
      WHERE len(w) >= 8),
    eval_set AS (SELECT s FROM sh WHERE doc_id < 10),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10),
    hits AS (
      SELECT train.doc_id, count(DISTINCT train.s) AS n_shared_8grams
      FROM train JOIN eval_set ON train.s = eval_set.s
      GROUP BY train.doc_id)
    SELECT doc_id, n_shared_8grams FROM hits ORDER BY doc_id
    """,
    "text",
    "contamination",
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination detection: training docs sharing any
    8-gram with the held-out set (docs 0-9 stand in as the benchmark).
    The 8-gram join is the industry-standard contamination screen; at
    100 TB the eval-set shingles broadcast (benchmarks are tiny)."""
    from etl_file_sync_spark.operators.dedup import shingles

    docs = t(spark, sf_dir, "documents")
    sh = shingles(docs.filter(F.size(F.split("text", " ")) >= 8), n=8)
    eval_set = sh.filter(F.col("id") < 10).select("shingle").distinct()
    train = sh.filter(F.col("id") >= 10)
    return (
        train.join(F.broadcast(eval_set), "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.countDistinct("shingle").alias("n_shared_8grams"))
        .orderBy("doc_id")
    )
