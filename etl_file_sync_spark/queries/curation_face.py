"""Corpus-curation queries (round 5): Gopher-style quality rules, URL
canonicalization dedup, and perceptual-hash image near-dup — the three
filters a pretraining data pipeline runs between crawl and tokenizer.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this face extends the LLM-data-pipeline component set the north
star names as first-class. Cross-engine determinism follows the repo
convention: integer arithmetic end-to-end where possible, a single
division before each round(), identical expression structure in the
Spark build and the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints against module globals
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.queries.registry import register, t

# Gopher (Rae et al. 2021, arXiv:2112.11446) quality-filter subset that
# is exact-arithmetic checkable: word-count bounds, mean-word-length
# bounds, and the "contains >= 2 distinct stop words" gate. The corpus
# has no newlines, so the line-shape rules (bullet/ellipsis fractions)
# carry no signal here and are omitted rather than trivially passed.
_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "for"]
_MIN_WORDS, _MAX_WORDS = 40, 100_000
_MIN_MWL, _MAX_MWL = 3.0, 10.0
_MIN_STOP_KINDS = 2


@register(
    "text_gopher_rules",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             CAST(len(l) AS BIGINT) AS n_words,
             CAST(list_max(list_transform(l, x -> length(x))) AS BIGINT) AS max_word_len,
             round(list_sum(list_transform(l, x -> length(x))) * 1.0 / len(l), 4) AS mean_word_len,
             CAST(len(list_distinct(list_intersect(l,
                 ['the','a','of','to','and','in','is','for']))) AS BIGINT) AS n_stop_kinds
      FROM w
    )
    SELECT doc_id, source, n_words, mean_word_len, max_word_len, n_stop_kinds,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}) AS pass_word_count,
           (mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}) AS pass_word_len,
           (n_stop_kinds >= {_MIN_STOP_KINDS}) AS pass_stopwords,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
            AND mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}
            AND n_stop_kinds >= {_MIN_STOP_KINDS}) AS keep
    FROM m ORDER BY doc_id
    """,
    "curation",
    "quality-filter",
    "gopher",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1) per document: word
    count in [40, 100k], mean word length in [3, 10], and >= 2 distinct
    stop words — the pretraining pre-filter that runs BEFORE any dedup.
    One narrow map over `documents` (split + array-fold), zero shuffle,
    fully pushdown-friendly; the mean is the only division and happens
    once per row on exact integers, so the oracle reproduces every
    value. At 100 TB this is the cheapest pass in the pipeline —
    embarrassingly parallel, no state."""
    docs = t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0)
    lens = F.transform(words, lambda x: F.length(x))
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    m = docs.select(
        "doc_id",
        "source",
        F.size(words).cast("bigint").alias("n_words"),
        F.array_max(lens).cast("bigint").alias("max_word_len"),
        F.round(
            F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, x: a + x) * 1.0 / F.size(words), 4
        ).alias("mean_word_len"),
        F.size(F.array_distinct(F.array_intersect(words, stop))).cast("bigint").alias("n_stop_kinds"),
    )
    pass_wc = F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
    pass_mwl = F.col("mean_word_len").between(_MIN_MWL, _MAX_MWL)
    pass_stop = F.col("n_stop_kinds") >= _MIN_STOP_KINDS
    return m.select(
        "doc_id", "source", "n_words", "mean_word_len", "max_word_len", "n_stop_kinds",
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_word_len"),
        pass_stop.alias("pass_stopwords"),
        (pass_wc & pass_mwl & pass_stop).alias("keep"),
    ).orderBy("doc_id")


# URL canonicalization: the raw URLs are synthesized deterministically
# from (doc_id, source) with the noise a real crawl frontier carries —
# mixed-case hosts, explicit :443, utm_* tracking params, trailing
# slashes — and doc_id % 40 aliases many raw URLs to one logical page.
_RAW_URL_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN upper('www.' || source || '.example.com')
                  ELSE 'www.' || source || '.example.com' END
             || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
             || '/page/' || CAST(doc_id % 40 AS VARCHAR)
             || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
             || CASE CAST(doc_id % 3 AS INTEGER)
                  WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 40 AS VARCHAR)
                  WHEN 1 THEN '?id=' || CAST(doc_id % 40 AS VARCHAR)
                  ELSE '?id=' || CAST(doc_id % 40 AS VARCHAR) || '&utm_campaign=x'
                END AS url
      FROM documents
"""


@register(
    "dedup_url_canonical",
    f"""
    WITH raw AS (
      SELECT doc_id, 'https://' || url AS url FROM ({_RAW_URL_SQL})
    ),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(url), ':443', ''),
                   'utm_[a-z]+=[a-z0-9_]+&?', ''),
                 '[?&]$', ''),
               '/(\\?|$)', '\\1') AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_raw_urls,
           CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM canon GROUP BY canonical_url ORDER BY canonical_url
    """,
    "curation",
    "dedup",
    "url-canonicalization",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the CommonCrawl frontier step that
    collapses scheme-noise (case, default port 443, utm_* tracking
    params, trailing slash) before any content hash is computed. Raw
    URLs are synthesized from (doc_id, source) with all four noise
    kinds planted; canonicalization is the SAME four regexp/lower steps
    in both engines, then a groupBy keyed on the canonical string keeps
    the smallest doc_id (deterministic survivor rule). Narrow map +
    one combiner-friendly aggregation — at 100 TB the groupBy shuffles
    only (canonical_url, partial counts), never the documents."""
    docs = t(spark, sf_dir, "documents")
    pid = (F.col("doc_id") % 40).cast("string")
    host = F.concat(F.lit("www."), F.col("source"), F.lit(".example.com"))
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 3 == 0, F.upper(host)).otherwise(host),
            F.when(F.col("doc_id") % 5 == 0, ":443").otherwise(""),
            F.lit("/page/"), pid,
            F.when(F.col("doc_id") % 2 == 0, "/").otherwise(""),
            F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), pid))
            .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("?id="), pid))
            .otherwise(F.concat(F.lit("?id="), pid, F.lit("&utm_campaign=x"))),
        ).alias("url"),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), ":443", ""),
                "utm_[a-z]+=[a-z0-9_]+&?", ""),
            "[?&]$", ""),
        "/(\\?|$)", "$1")
    return (
        raw.select("doc_id", "url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw_urls"),
            F.countDistinct("url").cast("bigint").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


@register(
    "multimodal_phash_neardup",
    """
    WITH docs AS (SELECT doc_id AS d FROM documents WHERE doc_id < 80),
    grid AS (
      -- g = floor-mod(d, 8) and k = floor-DIV(d, 8), matching python's
      -- % and // in synth_quad_image for NEGATIVE ids too. DuckDB's //
      -- TRUNCATES toward zero on negatives (-17 // 8 = -2, python -3),
      -- so k is spelled (d - floormod(d,8)) // 8 — an exact multiple,
      -- where truncation and floor agree. The outer byte reduction is
      -- likewise floor-mod (extreme-id tier).
      SELECT d, x, y,
             (((((2 + ((d % 8) + 8) % 8) * x * x
                 + (3 + 2 * (((d % 8) + 8) % 8)) * y * y
                 + (((d % 8) + 8) % 8) * x * y
                 + CASE WHEN (5 * x + 3 * y) % 37 = 0
                        THEN 11 * ((d - ((d % 8) + 8) % 8) // 8)
                        ELSE 0 END) % 256) + 256) % 256) AS r
      FROM docs, generate_series(0, 15) xs(x), generate_series(0, 15) ys(y)
    ),
    blocks AS (
      SELECT d, (y // 2) * 8 + (x // 2) AS block_id, SUM(r) AS bsum
      FROM grid GROUP BY 1, 2
    ),
    tot AS (SELECT d, SUM(bsum) AS tsum FROM blocks GROUP BY 1),
    bits AS (
      SELECT b.d, b.block_id, CASE WHEN b.bsum * 64 > t.tsum THEN 1 ELSE 0 END AS bit
      FROM blocks b JOIN tot t USING (d)
    ),
    bands AS (
      SELECT d, block_id // 16 AS band,
             CAST(SUM(bit << (block_id % 16)) AS BIGINT) AS v
      FROM bits GROUP BY 1, 2
    ),
    h AS (
      SELECT d,
             MAX(CASE WHEN band = 0 THEN v END) AS b0,
             MAX(CASE WHEN band = 1 THEN v END) AS b1,
             MAX(CASE WHEN band = 2 THEN v END) AS b2,
             MAX(CASE WHEN band = 3 THEN v END) AS b3
      FROM bands GROUP BY 1
    )
    SELECT CAST(a.d AS BIGINT) AS doc_a, CAST(b.d AS BIGINT) AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.d < b.d
         AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 4
    ORDER BY doc_a, doc_b
    """,
    "curation",
    "multimodal",
    "perceptual-hash",
    "dedup",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection by perceptual average-hash: REAL PNG
    encode → decode round-trip (operators/multimodal.py synth_quad_image
    / image_ahash_bands), exact-integer 8×8 block aHash packed into four
    16-bit bands, band equi-join candidate generation (pigeonhole:
    Hamming ≤ 3 ⇒ some band equal), then exact Hamming ≤ 4 verify via
    xor + bit_count — the image-side twin of SimHash banding, run by
    operators/dedup.py simhash_near_pairs on the repacked hash. The
    oracle restates the pixel formula and every hash bit in exact
    integer SQL, so a decoder or pooling bug hash-mismatches. At scale
    the band join shuffles only (band, band value, doc_id, hash); per-band
    bucket sizes bound candidate pairs exactly as in LSH dedup."""
    from etl_file_sync_spark.operators import multimodal as M

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    # materialize the hash frame ONCE: both sides of the band self-join
    # would otherwise re-run the whole PNG encode->decode->hash pipeline
    # (and its source scan) — measured 3.6x tier growth at constant
    # output before this, 1.0x after. The frame is (doc_id, 4 ints);
    # at corpus scale this is exactly the LSH shingle-cache convention.
    h = M.image_ahash_bands(M.attach_quad_payload(docs)).localCheckpoint(eager=True)
    return _ahash_pairs(h).orderBy("doc_a", "doc_b")


def _ahash_pairs(h: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for the aHash band frame ``h`` of
    image_ahash_bands: the four 16-bit bands are packed back into one
    64-bit hash, so the SimHash 4x16-bit block banding joins on exactly
    these bands; Hamming <= 4 verifies."""
    from etl_file_sync_spark.operators.dedup import simhash_near_pairs

    packed = F.expr("band0 | shiftleft(band1, 16) | shiftleft(band2, 32) | shiftleft(band3, 48)")
    return simhash_near_pairs(
        h.select(F.col("doc_id").alias("id"), packed.alias("simhash")), max_hamming=4
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )


@register(
    "text_readability_profile",
    """
    WITH m AS (
      SELECT source,
             len(string_split(text, ' ')) AS w,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl,
             greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS sents
      FROM documents
    ),
    fl AS (
      SELECT source,
             206.835 - 1.015 * (w * 1.0 / sents) - 84.6 * (syl * 1.0 / w)
               AS flesch,
             w, syl
      FROM m
    ),
    per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             round(avg(flesch), 4) AS avg_flesch,
             CAST(sum(w) AS BIGINT) AS total_words,
             round(sum(syl) * 1.0 / sum(w), 6) AS syllables_per_word
      FROM fl GROUP BY source
    ),
    vocab AS (
      SELECT source,
             CAST(count(DISTINCT tok) AS BIGINT) AS distinct_words
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY source
    )
    SELECT p.source, p.n_docs, p.avg_flesch, p.syllables_per_word,
           p.total_words, v.distinct_words,
           round(v.distinct_words * 1.0 / p.total_words, 6) AS corpus_ttr
    FROM per_src p JOIN vocab v ON p.source = v.source
    ORDER BY p.source
    """,
    "text",
    "quality",
    "readability",
)
def text_readability_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source readability + lexical-diversity profile: mean Flesch
    reading ease (206.835 - 1.015 words/sentence - 84.6 syllables/word,
    syllables approximated as vowel-group runs — the standard
    dictionary-free heuristic) and corpus-level type-token ratio
    (distinct words across the whole source / total words — the grain
    per-doc text_token_stats cannot see). All counting is JVM regexp
    on integer counts; the only shuffles are the per-source aggregate
    and the combiner-friendly distinct over (source, token), both of
    which shrink with vocabulary, not corpus size."""
    docs = t(spark, sf_dir, "documents")
    m = docs.select(
        "source",
        F.size(F.split("text", " ")).alias("w"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).alias("syl"),
        F.greatest(
            F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)"))
        ).alias("sents"),
    )
    fl = m.select(
        "source",
        (
            F.lit(206.835)
            - 1.015 * (F.col("w") * 1.0 / F.col("sents"))
            - 84.6 * (F.col("syl") * 1.0 / F.col("w"))
        ).alias("flesch"),
        "w",
        "syl",
    )
    per_src = fl.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("flesch"), 4).alias("avg_flesch"),
        F.sum("w").cast("bigint").alias("total_words"),
        F.round(F.sum("syl") * 1.0 / F.sum("w"), 6).alias("syllables_per_word"),
    )
    vocab = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("bigint").alias("distinct_words"))
    )
    return (
        per_src.join(vocab, "source")
        .select(
            "source",
            "n_docs",
            "avg_flesch",
            "syllables_per_word",
            "total_words",
            "distinct_words",
            F.round(
                F.col("distinct_words") * 1.0 / F.col("total_words"), 6
            ).alias("corpus_ttr"),
        )
        .orderBy("source")
    )


@register(
    "text_char_entropy",
    """
    WITH cc AS (
      SELECT doc_id, source, c, CAST(count(*) AS BIGINT) AS k
      FROM (SELECT doc_id, source, unnest(string_split(text, '')) AS c
            FROM documents)
      GROUP BY doc_id, source, c
    ),
    n AS (
      SELECT doc_id, source, sum(k) AS n, sum(k * log2(k)) AS slk
      FROM cc GROUP BY doc_id, source
    ),
    h AS (SELECT source, log2(n) - slk / n AS ent FROM n)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(ent), 6) AS avg_entropy,
           round(min(ent), 6) AS min_entropy,
           round(max(ent), 6) AS max_entropy
    FROM h GROUP BY source ORDER BY source
    """,
    "text",
    "quality",
    "pandas-udf",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source profile of per-document character-distribution
    Shannon entropy, H = log2(n) - sum(k*log2 k)/n over exact character
    counts — the cheap gibberish/garbage detector (random byte soup
    scores near log2(alphabet); natural text sits well below). The
    Spark side computes H inside an Arrow-batched pandas UDF — a pure
    per-row scalar, so at 100 TB there is NO char-grain shuffle, only
    the per-source aggregate; the oracle restates it as the naive
    unnest-to-characters groupBy. Both sides fold the same <=
    alphabet-size float terms, far inside the round(6) guard."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def char_entropy(texts: pd.Series) -> pd.Series:
        import numpy as np

        def h(s: str) -> float:
            if not s:
                return 0.0
            counts = pd.Series(list(s)).value_counts().to_numpy(dtype="float64")
            n = counts.sum()
            return float(np.log2(n) - (counts * np.log2(counts)).sum() / n)

        return texts.map(h)

    docs = t(spark, sf_dir, "documents")
    # a NULL text has no character distribution: out of the profile in
    # both engines (the oracle's unnest drops it implicitly); the
    # UDF's falsy guard still covers the empty string
    h = docs.where(F.col("text").isNotNull()).select(
        "source", char_entropy("text").alias("ent")
    )
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("ent"), 6).alias("avg_entropy"),
            F.round(F.min("ent"), 6).alias("min_entropy"),
            F.round(F.max("ent"), 6).alias("max_entropy"),
        )
        .orderBy("source")
    )


@register(
    "text_heaps_law_fit",
    """
    WITH per_src AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    vocab AS (
      SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS v_types
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY source
    ),
    pts AS (
      SELECT ln(p.n_tokens) AS x, ln(v.v_types) AS y
      FROM per_src p JOIN vocab v ON p.source = v.source
    ),
    m AS (SELECT avg(x) AS mx, avg(y) AS my, CAST(count(*) AS BIGINT) AS np FROM pts),
    fit AS (
      SELECT np, mx, my,
             sum((x - mx) * (y - my)) AS sxy,
             sum((x - mx) * (x - mx)) AS sxx,
             sum((y - my) * (y - my)) AS syy
      FROM pts, m GROUP BY np, mx, my
    )
    SELECT np AS n_points,
           round(sxy / sxx, 6) AS beta,
           round(exp(my - sxy / sxx * mx), 4) AS k,
           round(sxy * sxy / (sxx * syy), 6) AS r2
    FROM fit
    """,
    "text",
    "quality",
    "vocab",
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(N) = k * N^beta of vocabulary growth across
    sources: each source contributes one (total tokens, distinct types)
    point; beta/k come from the closed-form log-log OLS (two-pass
    centered moments — means first, centered cross-moments second, the
    repo's cancellation-free convention) with the fit's r^2 alongside.
    The corpus-scale work is the combiner-friendly distinct over
    (source, token); the regression itself runs on the
    source-count-bounded point frame (20 rows here)."""
    docs = t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    vocab = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("bigint").alias("v_types"))
    )
    pts = per_src.join(vocab, "source").select(
        F.log("n_tokens").alias("x"), F.log("v_types").alias("y")
    )
    m = pts.agg(
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    fit = (
        pts.crossJoin(F.broadcast(m))  # 1-row means dimension
        .groupBy("np", "mx", "my")
        .agg(
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my"))).alias("sxy"),
            F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))).alias("sxx"),
            F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))).alias("syy"),
        )
    )
    return fit.select(
        F.col("np").alias("n_points"),
        F.round(F.col("sxy") / F.col("sxx"), 6).alias("beta"),
        F.round(F.exp(F.col("my") - F.col("sxy") / F.col("sxx") * F.col("mx")), 4).alias("k"),
        F.round(F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy")), 6).alias("r2"),
    )
