"""Round-4 curation additions: DSIR-style importance weighting.

Data Selection via Importance Resampling (Xie et al. 2023, public
arXiv:2302.03169) scores each document by the log-likelihood ratio of a
target language model over a corpus language model; documents that look
like the target domain score high and get up-weighted when sampling a
training mix. Re-expressed relationally: smoothed unigram models are two
combiner-friendly aggregations, the per-term log-ratio is a broadcast of
exact-integer counts, and per-document scores are one join + groupBy.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this extends the engine-only curation face.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_file_sync_spark.operators.dedup import jaccard_oracle_ctes
from etl_file_sync_spark.queries.registry import register, t


@register(
    "sample_dsir_weights",
    """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS c_all,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
      FROM toks GROUP BY term
    ),
    tot AS (
      SELECT CAST(sum(c_all) AS BIGINT) AS n_all,
             CAST(sum(c_tgt) AS BIGINT) AS n_tgt,
             CAST(count(*) AS BIGINT) AS v
      FROM tc
    ),
    w AS (
      SELECT term,
             ln(c_tgt + 1) - ln((SELECT n_tgt FROM tot) + (SELECT v FROM tot))
           - ln(c_all + 1) + ln((SELECT n_all FROM tot) + (SELECT v FROM tot)) AS lw
      FROM tc
    ),
    dt AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM toks
      GROUP BY doc_id, term
    )
    SELECT dt.doc_id, CAST(sum(dt.c) AS BIGINT) AS n_tokens,
           round(sum(dt.c * w.lw), 6) AS dsir_score
    FROM dt JOIN w ON dt.term = w.term
    GROUP BY dt.doc_id ORDER BY dt.doc_id
    """,
    "curation",
    "importance-sampling",
)
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights with target = English documents: per-doc
    sum of add-one-smoothed unigram log-likelihood ratios
    ln(P_en(w)/P_all(w)). Term models are exact-integer counts (two
    partial-aggregated groupBys over the token stream); the per-term
    log weight is computed once per VOCAB entry, not per token, and the
    doc score is one term-keyed join + groupBy — at 100 TB the vocab
    side is the small one and AQE broadcast-joins it."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tc = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("c_tgt"),
    )
    tot = tc.agg(
        F.sum("c_all").cast("bigint").alias("n_all"),
        F.sum("c_tgt").cast("bigint").alias("n_tgt"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    w = tc.crossJoin(F.broadcast(tot)).select(  # 1-row totals dimension
        "term",
        (
            F.log(F.col("c_tgt") + 1)
            - F.log(F.col("n_tgt") + F.col("v"))
            - F.log(F.col("c_all") + 1)
            + F.log(F.col("n_all") + F.col("v"))
        ).alias("lw"),
    )
    dt = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        dt.join(w, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.col("c") * F.col("lw")), 6).alias("dsir_score"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bpe_train_merges",
    None,  # iterative merge training has no SQL spelling; exact
    # pure-Python truth in tests/test_bpe.py pins every rule
    "tokenizer",
    "bpe",
    "iterative",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge rules learned from the documents corpus at a
    production-posture merge budget (num_merges=1000; the synthetic
    corpus's vocabulary early-stops training once no pair occurs twice):
    ONE combiner-friendly corpus pass reduces the corpus to its
    vocabulary-bounded (word, count) frame, collected once, then the
    merge loop runs driver-local with incremental pair-count updates
    (operators/bpe.py train_rules_local) — zero Spark jobs per merge, so
    the merge budget costs driver microseconds, not cluster round-trips.
    Deterministic (ties break lexicographically), so the rule list is
    stable across runs and engines."""
    from etl_file_sync_spark.operators.bpe import bpe_train

    return bpe_train(t(spark, sf_dir, "documents"), num_merges=1000)


@register(
    "text_bpe_apply_counts",
    None,  # token counts depend on the iteratively-learned rules; the
    # pure-Python tokenizer in tests/test_bpe.py pins every count
    "tokenizer",
    "bpe",
)
def text_bpe_apply_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with its own learned BPE rules and report
    per-document whitespace vs BPE token counts — the corpus-scale half
    of the tokenizer (operators/bpe.py bpe_tokenize): one Arrow-batched
    map pass with the rule list broadcast and per-batch word memoization.
    Training is one corpus pass + a driver-local merge loop (building
    this query costs exactly one extra Spark job); application is
    embarrassingly parallel — the split a 100 TB tokenization uses."""
    from etl_file_sync_spark.operators.bpe import bpe_tokenize, train_rules_local, word_count_frame

    docs = t(spark, sf_dir, "documents")
    wc = [(r["word"], r["cnt"]) for r in word_count_frame(docs).collect()]
    rules = [(l, r) for (_s, l, r, _m, _n) in train_rules_local(wc, 20)]
    return bpe_tokenize(docs, rules).orderBy("doc_id")


@register(
    "corpus_dedup_pipeline",
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
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN comp.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_clusters,
           CAST(sum(CASE WHEN comp.doc_id IS NOT NULL
                          AND comp.doc_id <> comp.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(count(*)
                - sum(CASE WHEN comp.doc_id IS NOT NULL
                            AND comp.doc_id <> comp.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN comp.doc_id IS NULL
                          OR comp.doc_id = comp.cluster_id
                         THEN doc.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.doc_id
    GROUP BY doc.source ORDER BY doc.source
    """,
    "dedup",
    "pipeline",
    "composed",
)
def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed near-dedup pipeline a corpus actually runs, end to
    end in one DAG: shingle-blocked Jaccard pairs (>=0.5) -> alternating
    -star connected components -> min-id canonical survivors -> a
    per-source retention report (docs, clustered, dropped, kept, kept
    chars). Every stage is the registered operator the face exposes
    individually (operators/dedup.py jaccard_pairs, operators/cluster.py
    dedup_clusters); this query pins that they COMPOSE — the oracle
    restates the full chain including jaccard_pairs'
    stop-shingle cut (MAX_DF_FRAC = 0.5; without it a boilerplate-heavy
    corpus would silently diverge, round-4 ADVICE) and the
    recursive-CTE closure. tests/test_scale_ops.py pins the agreement
    ON a boilerplate-heavy corpus where the cut actually fires."""
    from etl_file_sync_spark.operators.cluster import dedup_clusters
    from etl_file_sync_spark.operators.dedup import jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5)
    cl = dedup_clusters(docs.select("doc_id", "source", "n_chars"), pairs)
    # "in a cluster" = the doc's component has >1 member (singletons keep
    # their own id, so size is the flat way to tell them apart)
    sizes = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    flagged = cl.join(sizes, "cluster_id").select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("sz") > 1).alias("in_cluster"),
        ((F.col("sz") > 1) & ~F.col("is_canonical")).alias("dropped"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("in_cluster").cast("int")).cast("bigint").alias("n_in_clusters"),
            F.sum(F.col("dropped").cast("int")).cast("bigint").alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.col("dropped").cast("int")))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(~F.col("dropped"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "text_bigram_lm_kn",
    """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
      FROM documents
    ),
    pairs AS (
      SELECT source,
             unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS v,
             unnest(list_transform(range(1, len(tk)), i -> tk[i + 1])) AS w
      FROM toks
    ),
    inst AS (
      SELECT source, v, w, CAST(count(*) AS BIGINT) AS m
      FROM pairs GROUP BY source, v, w
    ),
    cvw AS (SELECT v, w, CAST(sum(m) AS BIGINT) AS c FROM inst GROUP BY v, w),
    cv AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS cv, CAST(count(*) AS BIGINT) AS n1p
      FROM cvw GROUP BY v
    ),
    cw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM cvw GROUP BY w),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cvw),
    ev AS (
      SELECT i.source, i.m,
             ln((cvw.c - 0.75) / cv.cv
                + (0.75 * cv.n1p / cv.cv) * (cw.n1w * 1.0 / (SELECT t FROM tt))) AS lp
      FROM inst i
      JOIN cvw ON i.v = cvw.v AND i.w = cvw.w
      JOIN cv ON i.v = cv.v
      JOIN cw ON i.w = cw.w
    )
    SELECT source,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(-sum(m * lp) / sum(m), 6) AS cross_entropy_nats,
           round(exp(-sum(m * lp) / sum(m)), 4) AS ppl
    FROM ev GROUP BY source ORDER BY source
    """,
    "text",
    "language-model",
    "kneser-ney",
)
def text_bigram_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney
    1995; Chen & Goodman 1999) with fixed discount d=0.75, evaluated as
    per-source training cross-entropy/perplexity — the smoothing every
    n-gram-LM quality filter actually ships (the unsmoothed
    text_unigram_ppl/text_bigram_ppl siblings break on unseen events;
    KN's continuation probability N1+(.w)/|bigram types| fixes exactly
    that). Observed training bigrams always have c >= 1 > d, so the
    (c-d)+ truncation never fires here and every probability is a
    composition of exact-integer-ratio divisions — identical doubles in
    both engines; ln and the per-source weighted sums ride the round(6)
    envelope. Plan: vocab-bounded model frames (bigram types), instance
    evaluation via three keyed equi-joins — all broadcastable at any
    corpus scale since the MODEL is vocabulary-bounded even at 100 TB."""
    toks = t(spark, sf_dir, "documents").select(
        "source",
        F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0).alias("tk"),
    )
    pairs = toks.select(
        "source",
        F.explode(
            F.when(F.size("tk") < 2, F.array().cast("array<struct<v:string,w:string>>")).otherwise(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(element_at(tk, i) AS v, element_at(tk, i + 1) AS w))"
                )
            )
        ).alias("p"),
    ).select("source", "p.v", "p.w")
    inst = pairs.groupBy("source", "v", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    cvw = inst.groupBy("v", "w").agg(F.sum("m").cast("bigint").alias("c")).cache()
    cv = cvw.groupBy("v").agg(
        F.sum("c").cast("bigint").alias("cv"),
        F.count(F.lit(1)).cast("bigint").alias("n1p"),
    )
    cw = cvw.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n1w"))
    tt = cvw.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    ev = (
        inst.join(cvw, ["v", "w"])
        .join(F.broadcast(cv), "v")
        .join(F.broadcast(cw), "w")
        .crossJoin(F.broadcast(tt))  # 1-row type-count dimension
        .select(
            "source",
            "m",
            F.log(
                (F.col("c") - F.lit(0.75)) / F.col("cv")
                + (F.lit(0.75) * F.col("n1p") / F.col("cv"))
                * (F.col("n1w") * F.lit(1.0) / F.col("t"))
            ).alias("lp"),
        )
    )
    return (
        ev.groupBy("source")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(-F.sum(F.col("m") * F.col("lp")) / F.sum("m"), 6).alias(
                "cross_entropy_nats"
            ),
            F.round(F.exp(-F.sum(F.col("m") * F.col("lp")) / F.sum("m")), 4).alias("ppl"),
        )
        .orderBy("source")
    )


@register(
    "text_hapax_profile",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM toks WHERE term <> '' GROUP BY source, term
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(c) AS BIGINT) AS tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS hapax_rate,
           round(count(*) * 1.0 / sum(c), 6) AS ttr
    FROM tf GROUP BY source ORDER BY source
    """,
    "text",
    "quality",
    "curation",
)
def text_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax legomena profile: vocabulary size, token count,
    hapax (frequency-1) and dis legomena (frequency-2) counts, hapax
    rate, and type-token ratio — the Zipf-tail companion to
    text_zipf_fit and text_heaps_law_fit (a corpus whose hapax rate
    collapses under growth is template-heavy; one that stays ~0.4-0.6
    is organic). Two combiner-friendly groupBys (source x term, then
    source); every emitted number is an exact integer ratio."""
    toks = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    tf = (
        toks.where(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum("c").cast("bigint").alias("tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("dis"),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)),
                6,
            ).alias("hapax_rate"),
            F.round(F.count(F.lit(1)) * 1.0 / F.sum("c"), 6).alias("ttr"),
        )
        .orderBy("source")
    )


@register(
    "text_code_detection",
    """
    WITH f AS (
      SELECT source, n_chars,
             length(text) - length(regexp_replace(text, '[{}();=<>\\[\\]]', '', 'g'))
               AS sym,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
             length(text) AS len
      FROM documents
    ),
    scored AS (
      SELECT source,
             round(sym * 1.0 / len, 6) AS symbol_ratio,
             round(dig * 1.0 / len, 6) AS digit_ratio,
             round(sym * 3.0 / len + dig * 1.0 / len, 6) AS code_score
      FROM f
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(symbol_ratio), 6) AS avg_symbol_ratio,
           round(avg(digit_ratio), 6) AS avg_digit_ratio,
           CAST(sum(CASE WHEN code_score > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_codeish,
           round(sum(CASE WHEN code_score > 0.05 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS codeish_rate
    FROM scored GROUP BY source ORDER BY source
    """,
    "text",
    "curation",
    "quality",
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic code-vs-prose detection per source: symbol density
    (braces/parens/operators), digit density, and a weighted code score
    with a fixed gate — the cheap first-pass router a mixed web corpus
    runs before language-ID or a learned classifier (code shards want
    different dedup and quality rules than prose). Pure JVM regexp
    counting (char-class strip + length diff, identical spelling in the
    oracle), one narrow map + one groupBy; the gate compares the
    6-decimal-rounded score so both engines route identically."""
    d = t(spark, sf_dir, "documents")
    strip_sym = F.regexp_replace(F.col("text"), r"[{}();=<>\[\]]", "")
    strip_dig = F.regexp_replace(F.col("text"), r"[0-9]", "")
    ln = F.length("text")
    f = d.select(
        "source",
        (ln - F.length(strip_sym)).alias("sym"),
        (ln - F.length(strip_dig)).alias("dig"),
        ln.alias("len"),
    )
    scored = f.select(
        "source",
        F.round(F.col("sym") * 1.0 / F.col("len"), 6).alias("symbol_ratio"),
        F.round(F.col("dig") * 1.0 / F.col("len"), 6).alias("digit_ratio"),
        F.round(
            F.col("sym") * 3.0 / F.col("len") + F.col("dig") * 1.0 / F.col("len"), 6
        ).alias("code_score"),
    )
    codeish = F.when(F.col("code_score") > 0.05, 1).otherwise(0)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("symbol_ratio"), 6).alias("avg_symbol_ratio"),
            F.round(F.avg("digit_ratio"), 6).alias("avg_digit_ratio"),
            F.sum(codeish).cast("bigint").alias("n_codeish"),
            F.round(F.sum(codeish) * 1.0 / F.count(F.lit(1)), 6).alias("codeish_rate"),
        )
        .orderBy("source")
    )


@register(
    "text_bigram_entropy_rate",
    """
    WITH toks AS (
      SELECT source, doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bi AS (
      SELECT source, w[i] AS w1, w[i + 1] AS w2
      FROM toks, unnest(range(1, len(w))) AS t(i)
      WHERE w[i] <> '' AND w[i + 1] <> ''
    ),
    c12 AS (
      SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM bi GROUP BY source, w1, w2
    ),
    c1 AS (
      SELECT source, w1, CAST(sum(c) AS BIGINT) AS c1 FROM c12
      GROUP BY source, w1
    )
    SELECT c12.source,
           CAST(sum(c12.c) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS vocab_bigrams,
           round(-sum(c12.c * ln(c12.c * 1.0 / c1.c1)) / sum(c12.c), 6)
             AS cond_entropy_nats,
           round(exp(-sum(c12.c * ln(c12.c * 1.0 / c1.c1)) / sum(c12.c)), 4)
             AS bigram_perplexity
    FROM c12 JOIN c1 ON c12.source = c1.source AND c12.w1 = c1.w1
    GROUP BY c12.source ORDER BY c12.source
    """,
    "text",
    "quality",
    "curation",
)
def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical bigram conditional entropy H(w2|w1) per source —
    -(1/T) sum c(w1,w2) ln(c(w1,w2)/c(w1)) — and its perplexity
    exp(H): the sequence-predictability companion to text_char_entropy
    (character grain) and text_bigram_lm_kn (a smoothed MODEL; this is
    the raw corpus statistic a smoothing choice is judged against).
    Within-doc adjacent pairs only; two combiner-friendly groupBys to
    the bigram-vocabulary grain; counts are exact integers so the
    entropy fold sits in the documented summation-order ulp class
    under round(6)/round(4).

    NULL-source assumption (round-8 ADVICE): the window respell below
    treats a NULL source as its own partition group, while the oracle's
    inner JOIN on c12.source = c1.source DROPS NULL-source rows. The
    generators never emit a NULL source and w1/w2 are filtered non-NULL,
    so the two agree on every current tier; the explicit non-NULL filter
    on `d` pins the assumption so a future NULL-injecting tier fails
    loudly here rather than diverging silently at the oracle."""
    d = (
        t(spark, sf_dir, "documents")
        # lockstep with the oracle's inner join, which drops NULL-source
        # rows; the window keeps NULL as a group (docstring note)
        .where(F.col("source").isNotNull())
        .select("source", F.split("text", " ").alias("w"))
    )
    paired = d.select(
        "source",
        F.expr(
            "filter(transform(w, (x, i) -> struct(x AS w1, get(w, i + 1) AS w2)),"
            " p -> p.w1 <> '' AND p.w2 IS NOT NULL AND p.w2 <> '')"
        ).alias("pairs"),
    )
    bi = paired.select("source", F.explode("pairs").alias("p")).select(
        "source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    c12 = bi.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # c1 as a WINDOW over (source, w1) rather than a re-aggregate + join:
    # the join spelling shuffled the bigram-vocab frame twice more (both
    # SMJ sides re-exchanged on (source, w1)) and re-executed the c12
    # subtree for the c1 input; the window needs ONE exchange on the same
    # key and no join. Each row's c1 is a SUM OF BIGINTs — exact in any
    # accumulation order — so every entropy term is bit-identical to the
    # join spelling's.
    j = c12.withColumn(
        "c1",
        F.sum("c").over(W.partitionBy("source", "w1")).cast("bigint"),
    )
    ent = -F.sum(F.col("c") * F.log(F.col("c") * 1.0 / F.col("c1"))) / F.sum("c")
    return (
        j.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.count(F.lit(1)).cast("bigint").alias("vocab_bigrams"),
            F.round(ent, 6).alias("cond_entropy_nats"),
            F.round(F.exp(ent), 4).alias("bigram_perplexity"),
        )
        .orderBy("source")
    )


@register(
    "sample_user_kfold",
    """
    WITH f AS (
      SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             ('0x' || substr(md5(user_id::VARCHAR || ':0'), 1, 8))::UBIGINT::BIGINT
               % 5 AS fold
      FROM events
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
               AS BIGINT) AS rev
      FROM f
    )
    SELECT CAST(f.fold AS BIGINT) AS fold,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           round(count(*) * 1.0 / tot.n_events, 6) AS event_share,
           round(sum(CASE WHEN f.event_type = 'purchase' THEN f.cents
                     ELSE 0 END) * 1.0 / tot.rev, 6) AS revenue_share
    FROM f, tot
    GROUP BY f.fold, tot.n_events, tot.rev ORDER BY fold
    """,
    "sampling",
    "mix",
    "decision",
)
def sample_user_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-level 5-fold assignment with a balance audit: fold =
    md5(user_id)%5, so every event of a user lands in ONE fold by
    construction — the leakage-safe split a per-user model needs, where
    the doc-level sample_hash_split would bleed a user's history across
    train and eval. Emits per-fold user/event counts and event/revenue
    shares (each should sit near 0.2; a skewed heavy-spender fold is
    exactly what this audit catches before training). The md5 spelling
    is the standardized engine-portable bucket (operators/text.py
    hash_sample contract)."""
    e = t(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("user_id").cast("string"), F.lit("0"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 5
    )
    f = e.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        fold.alias("fold"),
    )
    tot = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("rev"),
    )
    return (
        f.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .groupBy("fold", "n_events", "rev")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_ev"),
            F.round(F.count(F.lit(1)) * 1.0 / F.first("n_events"), 6).alias(
                "event_share"
            ),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                        0
                    )
                )
                * 1.0
                / F.first("rev"),
                6,
            ).alias("revenue_share"),
        )
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "n_users",
            F.col("n_ev").alias("n_events"),
            "event_share",
            "revenue_share",
        )
        .orderBy("fold")
    )
