"""Text-analysis operators for training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Each operator is a pure
DataFrame→DataFrame function over a text column, designed to run as a
single narrow stage (no shuffle) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny fixed stopword profiles for the heuristic language-ID operator.
# Deterministic, public-knowledge word lists (top function words).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"),
}

STOPWORDS = LANG_PROFILES["en"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (single-space corpus => plain split)."""
    return F.split(col if isinstance(col, Column) else F.col(col), " ")


# --- ASCII case-fold contract -------------------------------------------
# Full-Unicode case mapping is RUNTIME-DEPENDENT: the JVM implements
# SpecialCasing.txt (one-to-many upper('ß') = 'SS', context-sensitive
# Greek final sigma in lower()) while utf8proc/DuckDB applies simple
# one-to-one maps (upper('ß') = 'ẞ' U+1E9E, every Σ -> 'σ') and the two
# also disagree on Turkish İ (U+0130: JVM 'i'+U+0307 vs utf8proc 'i').
# A fingerprint, dedup key, or token count built on engine-native
# lower() is therefore NOT reproducible across runtimes — which defeats
# the point. The analysis path folds case for ASCII A-Z only (the
# deterministic subset every runtime agrees on); pipelines needing full
# Unicode casefold do it at ingest with a pinned ICU build. The
# unicode-poked tier sweep (tests/test_tiers.py) pins this
# contract engine-vs-oracle.
_A_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_A_LO = "abcdefghijklmnopqrstuvwxyz"

#: DuckDB spelling of the same fold, for oracle SQL: ASCII_LOWER_SQL.format(x=...)
ASCII_LOWER_SQL = f"translate({{x}}, '{_A_UP}', '{_A_LO}')"


def ascii_lower(col: Column | str) -> Column:
    """Fold ASCII A-Z to a-z; every other codepoint passes through."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.translate(c, _A_UP, _A_LO)


def ascii_upper(col: Column | str) -> Column:
    """Fold ASCII a-z to A-Z; every other codepoint passes through."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.translate(c, _A_LO, _A_UP)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: ASCII-folded lowercase,
    collapsed whitespace. ASCII fold (not engine lower()) so the sha256
    is bit-identical on every runtime — see the contract note above."""
    c = col if isinstance(col, Column) else F.col(col)
    return ascii_lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


#: the oracle spelling of normalize_text, shared by every dedup oracle.
#: trim(x, ' ') NOT bare trim(): DuckDB's bare trim strips Unicode
#: whitespace (U+3000 included) where Spark F.trim strips only ASCII
#: space — the exact divergence the unicode tier caught.
NORM_SQL = ASCII_LOWER_SQL.format(x="trim(regexp_replace(text, '\\s+', ' ', 'g'), ' ')")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add n_tokens / n_distinct_tokens / avg_token_len / ttr columns."""
    toks = tokens(text_col)
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn(
            "avg_token_len",
            F.round(
                F.aggregate(toks, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x))
                / F.size(toks),
                4,
            ),
        )
        .withColumn("ttr", F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4))
    )


# GPT-2-style pretokenizer classes, ASCII-simplified: letter runs, digit
# runs, and single non-alphanumeric marks each become one token. Portable
# POSIX-class-free regex so any engine counts identically.
BPE_SPLIT_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def with_bpe_token_estimate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add n_bpe_tokens: subword-budget estimate via a BPE-ish pretokenizer
    split (letter runs / digit runs / punctuation marks), the cheap stand-in
    for a real tokenizer when budgeting sequence lengths. Narrow JVM regex —
    no Python, no shuffle."""
    return df.withColumn(
        "n_bpe_tokens",
        F.size(F.expr(f"regexp_extract_all({text_col}, '{BPE_SPLIT_RE}', 0)")),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + type-token ratio +
    stopword presence — the standard cheap pre-filter before expensive
    model-based scoring in LLM data pipelines."""
    toks = tokens(text_col)
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS])))
    length_ok = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    score = F.round((length_ok + ttr + F.least(stop_hits / F.lit(4.0), F.lit(1.0))) / F.lit(3.0), 4)
    return df.withColumn("quality_score", score)


def with_lang_pred(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of stopword-profile hits.

    Ties resolve to the HIGHEST language code (deterministic — array_max
    over (hits, lang) structs compares hits first, then lang). Falls back
    to 'und' when no profile matches.
    """
    dist = F.array_distinct(tokens(text_col))
    scored = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(dist, F.array(*[F.lit(w) for w in words]))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_PROFILES.items())
        ]
    )
    best = F.array_max(F.filter(scored, lambda s: s["hits"] > 0))
    # array_max on struct compares field-by-field: hits first, then lang —
    # ties therefore resolve to the LAST lang alphabetically; invert via
    # sort_array desc on (hits, reversed lang) is overkill: accept (hits,
    # max lang) as the documented deterministic rule.
    return df.withColumn("lang_pred", F.coalesce(best["lang"], F.lit("und")))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: sha256 of the normalized text
    (cross-engine reproducible) plus a cheap 64-bit xxhash for joins."""
    norm = normalize_text(text_col)
    return df.withColumn("fp_sha", F.sha2(norm, 256)).withColumn("fp_xx64", F.xxhash64(norm))


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document (public heuristics
    from the Gopher/MassiveText data-quality literature):

    - n_words, top_word_frac (most frequent word's share),
    - dup_word_frac (share of words whose type occurs more than once),
    - dup_bigram_frac (share of bigram tokens whose bigram repeats).

    Distributed shape: explode → two partial-aggregated groupBys whose
    keys INCLUDE the doc id, so work stays proportional to corpus size
    and no key is hotter than the longest single document. Boilerplate-
    heavy docs (the ones dedup misses) light up on dup_*_frac.
    """
    toks = F.filter(tokens(text_col), lambda w: F.length(w) > 0)
    base = df.select(F.col(id_col).alias("id"), toks.alias("w"))
    grams = base.select(
        "id",
        F.explode(
            F.concat(
                F.transform(F.col("w"), lambda x: F.struct(F.lit("1").alias("kind"), x.alias("g"))),
                # slice to size-1 bigrams; the guard in sequence() plus the
                # slice handles 0/1-word docs (sequence(1,0) would DESCEND)
                F.slice(
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(F.size("w") - 1, F.lit(1))),
                        lambda i: F.struct(
                            F.lit("2").alias("kind"),
                            F.concat_ws(" ", F.get("w", i - 1), F.get("w", i)).alias("g"),
                        ),
                    ),
                    F.lit(1),
                    F.greatest(F.size("w") - 1, F.lit(0)),
                ),
            )
        ).alias("kg"),
    ).select("id", F.col("kg.kind").alias("kind"), F.col("kg.g").alias("g"))
    counts = grams.groupBy("id", "kind", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("id").agg(
        F.sum(F.when(F.col("kind") == "1", F.col("c"))).alias("n_words"),
        F.max(F.when(F.col("kind") == "1", F.col("c"))).alias("top_c"),
        F.sum(F.when((F.col("kind") == "1") & (F.col("c") > 1), F.col("c"))).alias("dup_c"),
        F.sum(F.when(F.col("kind") == "2", F.col("c"))).alias("n_bigrams"),
        F.sum(F.when((F.col("kind") == "2") & (F.col("c") > 1), F.col("c"))).alias("dup_bg_c"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(F.col("top_c") / F.col("n_words"), 4).alias("top_word_frac"),
        F.round(F.coalesce(F.col("dup_c"), F.lit(0)) / F.col("n_words"), 4).alias("dup_word_frac"),
        F.round(
            F.coalesce(F.col("dup_bg_c"), F.lit(0)) / F.nullif(F.col("n_bigrams"), F.lit(0)), 4
        ).alias("dup_bigram_frac"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_len: int = 512,
    bucket_width: int = 4096,
) -> DataFrame:
    """Sequence packing for pretraining: concatenate the token stream in
    id order and chunk it into fixed `max_len` blocks; report where each
    document lands. Returns (id, n_tokens, start_pack, start_offset,
    end_pack) — the index a packing dataloader needs.

    The global running token count is a TWO-PHASE prefix sum, not one
    global ordered window (which Spark executes in a single partition —
    the classic 100 TB deadend): per-bucket totals first (partial-
    aggregated, n_buckets rows), an exclusive prefix over that tiny
    frame, then an in-bucket cumulative window shifted by the bucket
    prefix. Output is bucket_width-invariant (asserted in tests) —
    bucketing is physical, never semantic. Assumes integral ids for
    range bucketing (dense ids give even buckets).
    """
    from pyspark.sql import Window as W

    toks = F.size(F.filter(tokens(text_col), lambda w: F.length(w) > 0))
    base = df.select(F.col(id_col).alias("id"), toks.cast("bigint").alias("n_tokens"))
    b = base.withColumn("bucket", F.floor(F.col("id") / bucket_width))
    btot = b.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_total"))
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    bpre = btot.select(
        "bucket", F.coalesce(F.sum("bucket_total").over(wb), F.lit(0)).alias("bucket_prefix")
    )
    wd = W.partitionBy("bucket").orderBy("id").rowsBetween(W.unboundedPreceding, -1)
    packed = (
        b.join(F.broadcast(bpre), "bucket")
        .withColumn(
            "prev_cum", F.col("bucket_prefix") + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0))
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.expr(f"prev_cum div {max_len}").alias("start_pack"),
            (F.col("prev_cum") % max_len).alias("start_offset"),
            F.greatest(
                F.expr(f"(prev_cum + n_tokens - 1) div {max_len}"),
                F.expr(f"prev_cum div {max_len}"),
            ).alias("end_pack"),
        )
    )
    return packed


def md5_stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling by md5 bucket — the corpus-
    rebalancing primitive (downsample the dominant language/source,
    keep the tail). A row survives iff the first 8 hex chars of
    md5(stratum:id), read as an integer, fall under rate·2³². Pure
    narrow JVM expressions (md5/conv), no shuffle, and portable:
    md5 is standardized, so any engine reproduces the exact sample
    (unlike seeded RNG or engine-specific hashes).
    """
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate)
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col(strata_col), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return df.filter(bucket < (rate * F.lit(float(2**32))).cast("bigint"))


def hash_sample(
    df: DataFrame, id_col: str, rate_pct: int, salt: int = 0, hash_fn: str = "xxhash"
) -> DataFrame:
    """Deterministic, reproducible sampling: keep rows whose 64-bit hash
    of (id, salt) falls in the lowest rate_pct% of the hash space.

    Unlike TABLESAMPLE/df.sample, the kept set is a pure function of ids
    — stable across runs, partitionings and cluster sizes, and different
    salts give independent samples. The standard trick for carving
    held-out splits from a 100 TB corpus.

    hash_fn: 'xxhash' (default, fastest — engine-internal values) or
    'md5' (first 8 hex chars of md5("<id>:<salt>") — standardized, so the
    kept set is reproducible by ANY engine and oracle-checkable).
    """
    if hash_fn == "xxhash":
        h = F.xxhash64(F.col(id_col), F.lit(salt))
    elif hash_fn == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(salt)))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return df.filter(F.pmod(h, F.lit(100)) < rate_pct)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-embedding segmentation in retrieval/training pipelines.

    Pure JVM: token array → stride-window starts via sequence() → explode.
    Output: (id, chunk_idx, chunk_text, n_chunk_tokens). The final
    partial window is kept (never drop tail tokens).
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    # token array materialized once per row; chunks are sliced to STRINGS
    # inside the per-start lambda BEFORE the explode — the previous shape
    # carried the whole token array alongside every exploded start row,
    # duplicating an n-element array n/stride times (O(n^2/stride) bytes:
    # a million-token doc would materialize ~50 GB of array copies)
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    # window starts: 0, stride, 2*stride... while start < n
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: s < n,
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias("chunk_text"),
            F.least(n - s, F.lit(chunk_tokens)).cast("int").alias("n_chunk_tokens"),
        ),
    )
    return base.select("id", F.posexplode(chunks).alias("chunk_idx", "c")).select(
        "id",
        "chunk_idx",
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
    )


def unigram_model(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus unigram LM: (term, n, logp) with p = count/total.

    Two partial-aggregated passes (term counts, then a broadcast 1-row
    total) — the train step of the cheapest perplexity proxy. No
    smoothing: scoring the training corpus itself never sees OOV, and
    unsmoothed probabilities keep the math reproducible in any engine.
    """
    tok = df.select(F.explode(tokens(text_col)).alias("term")).where(F.length("term") > 0)
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select("term", "n", F.log(F.col("n") / F.col("total")).alias("logp"))
    )


def unigram_doc_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc unigram log-likelihood: (id, n_tokens, avg_logp, ppl).

    avg_logp = sum(tf·ln p(term)) / n_tokens; ppl = exp(-avg_logp) — the
    standard perplexity proxy for corpus-quality gating (gibberish and
    rare-token spam score high-ppl, templated boilerplate low-ppl).

    Shape: per-doc term counts (one shuffle on (id, term)) joined to the
    model on term. The model frame is vocabulary-sized — broadcast here;
    at web-corpus vocab (~1e8 terms) the same join shuffle-hashes on
    term instead, and everything else is unchanged.
    """
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    model = unigram_model(df, id_col, text_col)
    return (
        tf.join(F.broadcast(model), "term")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (F.sum(F.col("tf") * F.col("logp")) / F.sum("tf")).alias("avg_logp"),
        )
        .select(
            "id",
            "n_tokens",
            F.round("avg_logp", 4).alias("avg_logp"),
            F.round(F.exp(-F.col("avg_logp")), 2).alias("ppl"),
        )
    )


def vocab_coverage(df: DataFrame, text_col: str = "text", min_count: int = 5) -> DataFrame:
    """Corpus vocabulary build + per-document OOV audit — the tokenizer-
    prep pass of a pretraining pipeline: vocab = tokens whose corpus
    occurrence count ≥ `min_count`; each document reports how many of its
    token OCCURRENCES fall outside that vocab.

    Returns (doc_id, n_tokens, n_oov, oov_rate).

    Scale shape: one explode → partial-aggregated groupBy(token) for the
    corpus counts (combiner-friendly — the "the" key arrives at the
    reducer as per-partition partials, not rows), one groupBy(token)
    re-join of occurrences to vocab membership, one groupBy(doc) rollup.
    The token-keyed join is the same shuffle the count already paid —
    at 100 TB both sides would be bucketed by token. No windows over
    skewed keys, no Python.
    """
    toks = (
        df.select(F.col("doc_id"), F.explode(tokens(text_col)).alias("tok"))
        .where(F.length("tok") > 0)
    )
    # (tok, n_in_doc) per doc: shrinks the join input from occurrences to
    # distinct (doc, tok) pairs before the vocab join.
    per_doc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n_occ"))
    corpus = per_doc.groupBy("tok").agg(F.sum("n_occ").alias("corpus_n"))
    joined = per_doc.join(corpus, "tok")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_tokens"),
            F.sum(F.when(F.col("corpus_n") < min_count, F.col("n_occ")).otherwise(F.lit(0))).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


# Fixed published-style weights for the logistic quality classifier —
# (bias, len_score, ttr, stop_frac). Deterministic constants so both
# engines compute the identical sigmoid input.
LOGISTIC_QUALITY_WEIGHTS = (-1.5, 0.8, 2.0, 1.5)


def quality_feature_exprs(text_col: str = "text"):
    """The quality-filter feature triple as column expressions:
    (len_score, ttr, stop_frac) — shared by fixed-weight inference
    (with_logistic_quality) and distributed IRLS training
    (operators/mlfit.py via quality_features), so the trainer learns in
    exactly the feature space the inference pass applies."""
    toks = tokens(text_col)
    n = F.size(toks)
    len_score = F.least(n.cast("double") / 100.0, F.lit(10.0))
    ttr = F.size(F.array_distinct(toks)) / n
    stop_frac = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n
    return len_score, ttr, stop_frac


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append len_score/ttr/stop_frac columns; rows with no tokens are
    dropped (their ratio features are undefined — 0/0)."""
    len_score, ttr, stop_frac = quality_feature_exprs(text_col)
    return (
        df.withColumn("len_score", len_score)
        .withColumn("ttr", ttr)
        .withColumn("stop_frac", stop_frac)
        .filter(F.col("ttr").isNotNull())
    )


def with_logistic_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model-based quality scoring as a vectorized inference pass: a
    logistic classifier over cheap text features (length score, type-
    token ratio, stopword fraction) with fixed weights — the shape of a
    fasttext/linear quality filter applied corpus-wide. Pure JVM
    expressions: at 100 TB this is a narrow map over the scan, no
    shuffle at all. Adds `quality_prob` = σ(w·x) rounded to 4 decimals.
    """
    len_score, ttr, stop_frac = quality_feature_exprs(text_col)
    w0, w1, w2, w3 = LOGISTIC_QUALITY_WEIGHTS
    z = F.lit(w0) + F.lit(w1) * len_score + F.lit(w2) * ttr + F.lit(w3) * stop_frac
    return df.withColumn("quality_prob", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4))


def bigram_doc_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc bigram-LM log-likelihood: (id, n_bigrams, avg_logp, ppl)
    with P(w_i | w_{i-1}) = corpus_count(w_{i-1} w_i) / corpus_count(
    w_{i-1} as a bigram left-context). Unsmoothed — scoring the training
    corpus never sees an unseen bigram, and the exact ratios keep the
    math engine-reproducible (same posture as unigram_doc_scores; the
    first-order upgrade catches word-salad that unigram frequency
    misses).

    Shape: one explode to bigram instances, per-doc (id, bigram) counts,
    corpus bigram counts + left-context counts derived from THEM (no
    second corpus pass), two joins on the bigram/left keys — all
    partial-aggregated groupBys; docs shorter than 2 tokens are absent
    by contract.

    Tokens here are NON-EMPTY split segments (a whitespace-only doc has
    zero bigram-able tokens, matching the oracle's list_filter) — the
    unicode-poked tier caught the unfiltered spelling emitting
    empty-string bigrams for space-only documents. The token array is
    materialized before the per-position lambda — element_at over the
    raw filter(split(text)) expression would re-tokenize the whole text
    per position, O(len^2) chars per doc (see dedup._token_windows).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.filter(tokens(text_col), lambda x: F.length(x) > 0).alias("_toks"),
    )
    toks = F.col("_toks")
    big = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
    )
    inst = base.where(F.size(toks) >= 2).select("id", F.explode(big).alias("bg"))
    tf = inst.groupBy("id", "bg").agg(F.count(F.lit(1)).alias("tf"))
    corpus = tf.groupBy("bg").agg(F.sum("tf").alias("n_bg"))
    left = corpus.select(
        F.split(F.col("bg"), " ").getItem(0).alias("lw"), "n_bg"
    ).groupBy("lw").agg(F.sum("n_bg").alias("n_left"))
    scored = (
        tf.join(corpus, "bg")
        .withColumn("lw", F.split(F.col("bg"), " ").getItem(0))
        .join(left, "lw")
        .withColumn("logp", F.log(F.col("n_bg") / F.col("n_left")))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            (F.sum(F.col("tf") * F.col("logp")) / F.sum("tf")).alias("avg_logp"),
        )
        .select(
            "id",
            "n_bigrams",
            F.round("avg_logp", 4).alias("avg_logp"),
            F.round(F.exp(-F.col("avg_logp")), 2).alias("ppl"),
        )
    )
