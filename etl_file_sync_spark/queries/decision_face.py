"""Decision-analytics queries (round 5): proportional allocation,
interval concurrency, survival analysis, MT evaluation, Pareto skyline,
embedding quantization, binomial confidence bounds, and calendar growth
— the planning/reporting layer a data-platform team runs on top of the
pipeline the engine already covers.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this face extends the LLM-data-pipeline component set the north
star names as first-class. Cross-engine determinism follows the repo
convention: integer arithmetic end-to-end where possible (money as
cents, time as epoch microseconds, counts as BIGINT), a single division
before each round(), and — where a transcendental is unavoidable
(Kaplan-Meier's cumulative product via exp/ln, BLEU's brevity penalty)
— an identically-spelled expression in both engines with round(6),
the same 1-ulp accepted risk the cosine queries document.

Scale posture: every global cumulative (sweep-line concurrency,
Kaplan-Meier at-risk and survival, skyline prefix-max) runs on the
bucketed two-phase plan from operators/rankstats.py — no
single-partition windows over data. Windows that DO run unbucketed are
over calendar- or enum-bounded frames (80 months, <=10 sources) and say
so in their docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.rankstats import (
    bucketed_cummax,
    bucketed_cumsums,
    grouped_bucketed_cumsum,
)
from etl_file_sync_spark.operators.similarity import vec_ok
from etl_file_sync_spark.queries.inputs import int8_codes, monthly_cents, user_lifetimes
from etl_file_sync_spark.queries.registry import register, t

_SEATS = 10_000  # sampling budget allocated across sources


@register(
    "alloc_largest_remainder",
    f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM c),
    q AS (
      SELECT source, n_docs,
             CAST((CAST({_SEATS} AS HUGEINT) * n_docs) // (SELECT t FROM tot)
               AS BIGINT) AS base_seats,
             CAST(CAST({_SEATS} AS HUGEINT) * n_docs
                  - ((CAST({_SEATS} AS HUGEINT) * n_docs) // (SELECT t FROM tot))
                    * (SELECT t FROM tot)
               AS BIGINT) AS remainder
      FROM c
    ),
    l AS (SELECT CAST({_SEATS} - sum(base_seats) AS BIGINT) AS leftover FROM q),
    r AS (
      SELECT q.*, row_number() OVER (ORDER BY remainder DESC, source) AS rn FROM q
    )
    SELECT source, n_docs, base_seats, remainder,
           CAST(base_seats
                + CASE WHEN rn <= (SELECT leftover FROM l) THEN 1 ELSE 0 END
             AS BIGINT) AS seats
    FROM r ORDER BY source
    """,
    "decision",
    "allocation",
    "largest-remainder",
)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 10k-document
    sampling budget across sources, proportional to corpus counts.
    Base seats are the floored integer quota ((K*n) div T — exact, no
    doubles anywhere), the K - sum(base) leftover seats go to the
    largest remainders (source ascending breaks ties). The only
    windows run on the per-source frame — enum-bounded (<= 10 rows at
    ANY corpus scale), so the plan is one groupBy plus driver-trivial
    arithmetic. The K*n product accumulates in exact DECIMAL(38,0)
    (HUGEINT oracle-side) — BIGINT would wrap at n ~ 9e14 docs, inside
    a 100 TB corpus's reach — and the quotient/remainder (each < K or
    < T) convert back to BIGINT."""
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    tot = c.agg(F.sum("n_docs").cast("bigint").alias("t"))
    # K*n in exact DECIMAL(38,0): at 100 TB a source can hold ~1e15+
    # docs, so the BIGINT product wraps silently in the non-ANSI
    # session; `div` on decimal operands returns the exact LONG
    # quotient (< K), and the remainder (< T) re-enters BIGINT.
    kn = f"CAST({_SEATS} AS DECIMAL(38,0)) * n_docs"
    q = c.crossJoin(F.broadcast(tot)).select(  # 1-row totals dimension
        "source",
        "n_docs",
        F.expr(f"({kn}) div t").cast("bigint").alias("base_seats"),
        F.expr(
            f"CAST(({kn}) - (({kn}) div t) * CAST(t AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("remainder"),
    )
    lo = q.agg((F.lit(_SEATS) - F.sum("base_seats")).cast("bigint").alias("leftover"))
    # window over the enum-bounded source frame (<= 10 rows) — not data
    rn = F.row_number().over(Window.orderBy(F.desc("remainder"), F.asc("source")))
    return (
        q.withColumn("rn", rn)
        .crossJoin(F.broadcast(lo))  # 1-row leftover dimension
        .select(
            "source",
            "n_docs",
            "base_seats",
            "remainder",
            (
                F.col("base_seats")
                + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
            ).cast("bigint").alias("seats"),
        )
        .orderBy("source")
    )


@register(
    "ops_max_concurrency",
    """
    WITH e AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + (600 + ((event_id % 600) + 600) % 600) * 1000000 AS e_us
      FROM events
    ),
    pts AS (
      SELECT event_type, s_us AS t, 1 AS d FROM e
      UNION ALL
      SELECT event_type, e_us AS t, -1 AS d FROM e
    ),
    g AS (
      SELECT event_type, t, CAST(sum(d) AS BIGINT) AS delta
      FROM pts GROUP BY event_type, t
    ),
    c AS (
      SELECT event_type, t,
             sum(delta) OVER (PARTITION BY event_type ORDER BY t) AS conc
      FROM g
    ),
    m AS (SELECT event_type, max(conc) AS mx FROM c GROUP BY event_type)
    SELECT c.event_type,
           CAST(m.mx AS BIGINT) AS max_concurrent,
           CAST(min(c.t) AS BIGINT) AS at_us
    FROM c JOIN m ON c.event_type = m.event_type AND c.conc = m.mx
    GROUP BY c.event_type, m.mx
    ORDER BY c.event_type
    """,
    "decision",
    "sweep-line",
    "distributed-rank",
)
def ops_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line maximum concurrency per event type: each event opens a
    session of 600 + pmod(event_id, 600) seconds (floor-mod, so the
    duration stays in [600, 1200) for NEGATIVE hash-range ids too — the
    oracle spells the ((x % k) + k) % k equivalent); +1/-1 endpoint deltas
    (half-open [start, end), so a session ending at t does not overlap
    one starting at t) aggregate per instant, then a per-type global
    running sum gives the live-session count and its max, with the
    earliest instant attaining it. The running sum is the bucketed
    two-phase plan grouped by event_type (operators/rankstats.py) —
    a type whose endpoints span every time bucket still never funnels
    through one task. All time is integer epoch microseconds."""
    e = t(spark, sf_dir, "events").where(
        # a session needs a type and a start time; NULLs would poison the
        # grouped rank plan (rankstats refuses NULL group/order keys)
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + (F.lit(600) + F.pmod(F.col("event_id"), F.lit(600))) * F.lit(1_000_000)
        ).alias("e_us"),
    )
    pts = e.select(
        "event_type", F.col("s_us").alias("t"), F.lit(1).alias("d")
    ).unionAll(e.select("event_type", F.col("e_us").alias("t"), F.lit(-1).alias("d")))
    g = pts.groupBy("event_type", "t").agg(F.sum("d").cast("bigint").alias("delta"))
    c = grouped_bucketed_cumsum(g, ["event_type"], "t", "delta", out_col="conc")
    # max concurrency + earliest instant attaining it: one struct-max agg
    best = c.groupBy("event_type").agg(
        F.max(F.struct(F.col("conc"), (-F.col("t")).alias("nt"))).alias("s")
    )
    return best.select(
        "event_type",
        F.col("s.conc").cast("bigint").alias("max_concurrent"),
        (-F.col("s.nt")).cast("bigint").alias("at_us"),
    ).orderBy("event_type")


def _risk_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per distinct user lifetime ``dur_s``: subjects ``c``, observed
    deaths ``d`` and the risk set ``n_risk`` (users whose lifetime is
    at least ``dur_s``), from an EXCLUSIVE bucketed prefix sum over the
    (duration, counts) frame — exact integers, no single-partition
    window."""
    g = user_lifetimes(spark, sf_dir).groupBy(F.col("dur_s").cast("bigint").alias("dur_s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("obs").cast("bigint").alias("d"),
    )
    tot = g.agg(F.sum("c").cast("bigint").alias("n"))
    cum = bucketed_cumsums(g, "dur_s", ["c"], inclusive=False)
    return cum.crossJoin(F.broadcast(tot)).select(  # 1-row totals dimension
        "dur_s",
        "c",
        "d",
        (F.col("n") - F.col("cum_c")).alias("n_risk"),
    )


@register(
    "stat_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id,
             (max(epoch_us(CAST(ts AS TIMESTAMP)))
              - min(epoch_us(CAST(ts AS TIMESTAMP)))) // 1000000 AS dur_s,
             CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS obs
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(dur_s AS BIGINT) AS dur_s,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(obs) AS BIGINT) AS d
      FROM u GROUP BY dur_s
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
    cum AS (
      SELECT dur_s, c, d,
             (SELECT n FROM tot)
               - coalesce(sum(c) OVER (ORDER BY dur_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM g
    ),
    s AS (
      SELECT dur_s, c, d, n_risk,
             sum(CASE WHEN d = n_risk THEN 0.0
                      ELSE ln((n_risk - d) * 1.0 / n_risk) END)
               OVER (ORDER BY dur_s) AS lns,
             sum(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY dur_s) AS zeros
      FROM cum
    )
    SELECT dur_s, c AS n_subjects, d AS n_events, CAST(n_risk AS BIGINT) AS n_at_risk,
           CASE WHEN zeros > 0 THEN 0.0 ELSE round(exp(lns), 6) END AS survival
    FROM s ORDER BY dur_s
    """,
    "stats",
    "survival",
    "distributed-rank",
)
def stat_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes: duration = seconds
    between a user's first and last event (integer epoch-us div), death
    observed iff the user ever hit an 'error' event, else right-
    censored at last sight. At-risk counts come from an EXCLUSIVE
    bucketed prefix sum over the (duration, counts) frame (exact
    integers); the survival product S(t) = prod(1 - d/n) is taken as
    exp of an INCLUSIVE bucketed prefix sum of ln factors. The bucketed
    plan associates the double additions differently from the oracle's
    sequential window sum, so cross-engine agreement is to a few ulps
    (plus the ln/exp libm skew), hidden by round(6) except on an exact
    rounding boundary — the cosine-quantization accepted-risk
    precedent, probabilistic not absolute. A group that
    extinguishes the risk set (d = n) pins survival to exactly 0.0
    from that duration on, avoiding ln(0) (Spark null vs DuckDB -inf).
    No single-partition window anywhere: both cumulatives are the
    two-phase bucketed plan from operators/rankstats.py."""
    fac = _risk_sets(spark, sf_dir).select(
        "dur_s",
        "c",
        "d",
        "n_risk",
        F.when(F.col("d") == F.col("n_risk"), F.lit(0.0))
        .otherwise(F.log((F.col("n_risk") - F.col("d")) * F.lit(1.0) / F.col("n_risk")))
        .alias("lnf"),
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias("zf"),
    )
    s = bucketed_cumsums(fac, "dur_s", ["lnf", "zf"], inclusive=True)
    return s.select(
        "dur_s",
        F.col("c").alias("n_subjects"),
        F.col("d").alias("n_events"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.when(F.col("cum_zf") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_lnf")), 6))
        .alias("survival"),
    ).orderBy("dur_s")


@register(
    "eval_corpus_bleu",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
      FROM documents
    ),
    cand AS (
      SELECT doc_id, list_slice(tk, 1, greatest(1, (4 * len(tk)) // 5)) AS tk
      FROM toks
    ),
    pair AS (
      SELECT c.doc_id, c.tk AS ct, r.tk AS rt
      FROM cand c JOIN toks r ON r.doc_id = xor(c.doc_id, 1)
    ),
    cu AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id, unnest(ct) AS tok FROM pair) GROUP BY doc_id, tok),
    ru AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id, unnest(rt) AS tok FROM pair) GROUP BY doc_id, tok),
    cb AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id,
                        unnest(list_transform(range(1, len(ct)),
                                              i -> ct[i] || ' ' || ct[i + 1])) AS tok
                 FROM pair) GROUP BY doc_id, tok),
    rb AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id,
                        unnest(list_transform(range(1, len(rt)),
                                              i -> rt[i] || ' ' || rt[i + 1])) AS tok
                 FROM pair) GROUP BY doc_id, tok),
    lens AS (
      SELECT CAST(sum(len(ct)) AS BIGINT) AS c_len,
             CAST(sum(len(rt)) AS BIGINT) AS r_len,
             CAST(sum(len(ct) - 1) AS BIGINT) AS tot2
      FROM pair
    ),
    u1 AS (SELECT CAST(coalesce(sum(least(cu.c, ru.c)), 0) AS BIGINT) AS clip1
           FROM cu JOIN ru ON cu.doc_id = ru.doc_id AND cu.tok = ru.tok),
    u2 AS (SELECT CAST(coalesce(sum(least(cb.c, rb.c)), 0) AS BIGINT) AS clip2
           FROM cb JOIN rb ON cb.doc_id = rb.doc_id AND cb.tok = rb.tok)
    SELECT lens.c_len, lens.r_len, u1.clip1, lens.c_len AS tot1, u2.clip2, lens.tot2,
           round(u1.clip1 * 1.0 / lens.c_len, 6) AS p1,
           round(u2.clip2 * 1.0 / lens.tot2, 6) AS p2,
           round(exp(least(0.0, 1.0 - lens.r_len * 1.0 / lens.c_len))
                 * sqrt((u1.clip1 * 1.0 / lens.c_len) * (u2.clip2 * 1.0 / lens.tot2)),
                 6) AS bleu2
    FROM lens, u1, u2
    """,
    "eval",
    "bleu",
    "mt-eval",
)
def eval_corpus_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU-2 (Papineni et al. 2002): candidate = each
    document truncated to its first max(1, floor(4n/5)) tokens,
    reference = the full text of its xor-1 partner document — a
    deterministic pairing with real partial n-gram overlap and a
    non-trivial brevity penalty (candidates are shorter by
    construction). Clipped counts are exact integer min(cand, ref)
    per (pair, n-gram) summed corpus-wide; the modified precisions
    divide once; the geometric mean is sqrt(p1*p2) (correctly-rounded,
    no exp/ln); only the brevity penalty's exp carries the documented
    1-ulp libm risk under round(6). Plan: two explode+groupBy passes
    keyed (doc_id, ngram) and an equi-join per n — shuffle-keyed on
    the pair, no broadcast of corpus-scale state, so the plan is the
    same at 100 TB. Every doc has >= 2 candidate tokens in this corpus;
    the size<2 bigram guard still handles short docs."""
    toks_col = F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0)
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", toks_col.alias("tk")
    )
    cand = toks.select(
        "doc_id",
        F.slice(
            F.col("tk"), 1, F.greatest(F.lit(1), F.expr("(4 * size(tk)) div 5"))
        ).alias("tk"),
    )
    ref = toks.select(F.col("doc_id").alias("r_id"), F.col("tk").alias("rt"))
    pair = cand.join(ref, F.col("r_id") == F.expr("doc_id ^ 1")).select(
        "doc_id", F.col("tk").alias("ct"), "rt"
    )

    def grams(col: str, n: int):
        if n == 1:
            return F.col(col)
        return F.when(F.size(F.col(col)) < 2, F.array().cast("array<string>")).otherwise(
            F.expr(
                f"transform(sequence(1, size({col}) - 1),"
                f" i -> concat(element_at({col}, i), ' ', element_at({col}, i + 1)))"
            )
        )

    def counts(src: DataFrame, col: str, n: int) -> DataFrame:
        return (
            src.select("doc_id", F.explode(grams(col, n)).alias("tok"))
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    def clipped(cn: DataFrame, rn: DataFrame, name: str) -> DataFrame:
        j = cn.alias("c").join(
            rn.alias("r"), ["doc_id", "tok"]
        )
        return j.agg(
            F.coalesce(F.sum(F.least(F.col("c.c"), F.col("r.c"))), F.lit(0))
            .cast("bigint")
            .alias(name)
        )

    p = pair.cache()  # lens + four n-gram passes consume it
    lens = p.agg(
        F.sum(F.size("ct")).cast("bigint").alias("c_len"),
        F.sum(F.size("rt")).cast("bigint").alias("r_len"),
        F.sum(F.size("ct") - 1).cast("bigint").alias("tot2"),
    )
    u1 = clipped(counts(p, "ct", 1), counts(p, "rt", 1), "clip1")
    u2 = clipped(counts(p, "ct", 2), counts(p, "rt", 2), "clip2")
    row = lens.crossJoin(u1).crossJoin(u2)  # three 1-row frames
    bp = F.exp(F.least(F.lit(0.0), F.lit(1.0) - F.col("r_len") * 1.0 / F.col("c_len")))
    p1 = F.col("clip1") * 1.0 / F.col("c_len")
    p2 = F.col("clip2") * 1.0 / F.col("tot2")
    return row.select(
        "c_len",
        "r_len",
        "clip1",
        F.col("c_len").alias("tot1"),
        "clip2",
        "tot2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
    )


@register(
    "ops_skyline_pareto",
    """
    WITH p AS (
      -- a part with a NULL metric cannot be dominance-compared: it
      -- leaves the skyline frame in both engines (NULL comparisons
      -- would otherwise make NOT EXISTS vacuously keep every row)
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT p_partkey, price_cents, p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    ORDER BY price_cents, p_partkey
    """,
    "decision",
    "skyline",
    "distributed-rank",
)
def ops_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of parts: minimize retail price (exact
    cents), maximize size. A part survives iff no other part is <= on
    price and >= on size with one strict; duplicate (price, size)
    points don't dominate each other and all stay. Instead of the
    oracle's quadratic NOT EXISTS, the engine exploits the 2-D
    structure: per distinct price keep the max size, take the STRICT-
    prefix running max of that over ascending price (bucketed two-phase
    cummax, operators/rankstats.py — no single-partition window, no
    all-pairs anywhere), then a part is skyline iff it beats every
    strictly-cheaper part's best size AND ties its own price's best.
    O(n log n)-ish shuffle work vs the oracle's O(n^2) — the 100 TB
    plan."""
    p = (
        t(spark, sf_dir, "part")
        # NULL metrics can't be dominance-compared — dropped (matching
        # the oracle guard; rankstats would refuse the NULL order key)
        .where(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
            F.col("p_size").cast("bigint").alias("p_size"),
        )
    )
    per_price = p.groupBy("price_cents").agg(F.max("p_size").alias("ms"))
    m = bucketed_cummax(
        per_price, "price_cents", "ms", out_col="m_strict", inclusive=False
    )
    return (
        p.join(m, "price_cents")
        .where(
            (F.col("m_strict").isNull() | (F.col("m_strict") < F.col("p_size")))
            & (F.col("p_size") == F.col("ms"))
        )
        .select("p_partkey", "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    )


@register(
    "embed_int8_quant",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(list_filter(embedding, x -> x <> 0)) > 0),
    m AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e
    ),
    q AS (
      SELECT vec_id, v, amax,
             CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> greatest(CAST(-127 AS BIGINT),
                         least(CAST(127 AS BIGINT),
                               CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT))))
             END AS qv
      FROM m
    )
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS dim,
           CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(qv, x -> abs(x)),
                            (a, b) -> a + b) AS BIGINT) AS q_l1,
           CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
           round(list_reduce(
                   [0.0] || list_transform(range(1, len(v) + 1),
                     i -> (v[i] - qv[i] * (amax / 127.0))
                          * (v[i] - qv[i] * (amax / 127.0))),
                   (a, b) -> a + b) / len(v), 10) AS mse
    FROM q ORDER BY vec_id
    """,
    "embedding",
    "quantization",
)
def embed_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column:
    scale = max|v|/127, q_i = clamp(floor(v_i/scale + 0.5), ±127),
    reporting the L1 mass of the quantized code (exact integer), the
    saturation count, and the reconstruction MSE. Cross-engine
    determinism without tolerance: float→double widening is exact,
    the scale division and each multiply/subtract are single IEEE
    ops, and the MSE fold is a SEQUENTIAL left fold in index order in
    BOTH engines (F.aggregate / list_reduce), so the sums are
    bit-identical — round(10) only trims display. Plan: one narrow
    mapPartitions-free projection per row, zero shuffle, zero UDF —
    embarrassingly parallel at any scale (this is the compression pass
    an ANN index build runs over 100 TB of vectors)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = (
        t(spark, sf_dir, "embeddings")
        # NULL vectors have nothing to quantize — dropped, matching the
        # engine-wide embedding-op posture and the oracle's guard
        .where(vec_ok(F.col("embedding")))
        .select("vec_id", v.alias("v"))
    )
    amax = F.array_max(F.transform(F.col("v"), F.abs))
    m = e.select("vec_id", "v", amax.alias("amax"))
    scale = F.col("amax") / F.lit(127.0)
    qv = int8_codes(scale)
    q = m.select("vec_id", "v", "amax", qv.alias("qv"))
    err = F.zip_with(
        F.col("v"),
        F.col("qv"),
        lambda x, qq: (x - qq * scale) * (x - qq * scale),
    )
    return q.select(
        "vec_id",
        F.size("v").cast("bigint").alias("dim"),
        F.aggregate(
            F.col("qv"), F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
        ).cast("bigint").alias("q_l1"),
        F.size(F.filter(F.col("qv"), lambda x: F.abs(x) == 127))
        .cast("bigint")
        .alias("n_sat"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda a, x: a + x) / F.size("v"), 10
        ).alias("mse"),
    ).orderBy("vec_id")


@register(
    "stat_wilson_ci",
    """
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS s
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, s,
           round(s * 1.0 / n, 6) AS p_hat,
           round((s + 1.9208 - 1.96 * sqrt(
                    CAST(CAST(s AS HUGEINT) * (n - s) AS DOUBLE) / n + 0.9604))
                 / (n + 3.8416), 6) AS wilson_lo,
           round((s + 1.9208 + 1.96 * sqrt(
                    CAST(CAST(s AS HUGEINT) * (n - s) AS DOUBLE) / n + 0.9604))
                 / (n + 3.8416), 6) AS wilson_hi
    FROM g ORDER BY event_type
    """,
    "stats",
    "binomial-ci",
)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for the per-event-type
    proportion of high-value events (value > 100). Bit-exact across
    engines with NO accepted risk: s and n are exact integers,
    s*(n-s) is an exact DECIMAL/HUGEINT product (BIGINT wraps past
    ~6e9 trials per group — real at 100 TB), the z constants (1.96, z²=3.8416,
    z²/2=1.9208, z²/4=0.9604) are identical decimal literals, and
    every remaining op — one division, sqrt (IEEE correctly-rounded),
    add, divide — is exact-rounded with an identical expression tree
    in both engines. One groupBy, enum-bounded output, no window."""
    g = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).cast("bigint").alias("s"),
    )
    # s*(n-s) wraps BIGINT past ~6e9 trials per group — real at 100 TB
    # event counts: exact DECIMAL product, one double conversion
    rad = F.sqrt(
        (
            F.col("s").cast("decimal(18,0)")
            * (F.col("n") - F.col("s")).cast("decimal(18,0)")
        ).cast("double")
        / F.col("n")
        + F.lit(0.9604)
    )
    den = F.col("n") + F.lit(3.8416)
    return g.select(
        "event_type",
        "n",
        "s",
        F.round(F.col("s") * 1.0 / F.col("n"), 6).alias("p_hat"),
        F.round((F.col("s") + F.lit(1.9208) - F.lit(1.96) * rad) / den, 6).alias("wilson_lo"),
        F.round((F.col("s") + F.lit(1.9208) + F.lit(1.96) * rad) / den, 6).alias("wilson_hi"),
    ).orderBy("event_type")


@register(
    "ts_period_growth",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT CAST(m.month AS TIMESTAMP) AS month, m.rev_cents,
           round((m.rev_cents - p.rev_cents) * 100.0 / p.rev_cents, 4) AS mom_pct,
           round((m.rev_cents - y.rev_cents) * 100.0 / y.rev_cents, 4) AS yoy_pct
    FROM m
    LEFT JOIN m p ON p.month = CAST(m.month - INTERVAL 1 MONTH AS DATE)
    LEFT JOIN m y ON y.month = CAST(m.month - INTERVAL 12 MONTH AS DATE)
    ORDER BY m.month
    """,
    "timeseries",
    "growth",
)
def ts_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth. Revenue is
    exact integer cents per calendar month; growth joins on the
    CALENDAR previous month / same-month-last-year (add_months), not an
    ordinal lag, so a gap month yields NULL rather than comparing
    against the wrong period. The monthly frame is calendar-bounded
    (~80 rows at ANY corpus scale — one row per month of history), so
    the self-joins are broadcast-trivial; the heavy lifting is the one
    groupBy over orders. Single division before each round(4)."""
    m = (
        monthly_cents(spark, sf_dir, "rev_cents")
        # calendar-bounded (~80 rows) but consumed by three branches
        # (base + prior-month + prior-year sides): cache so the orders
        # scan runs once, not 3x
        .cache()
    )
    p = m.select(F.col("month").alias("p_month"), F.col("rev_cents").alias("p_rev"))
    y = m.select(F.col("month").alias("y_month"), F.col("rev_cents").alias("y_rev"))
    return (
        m.join(
            F.broadcast(p),  # calendar-bounded (~80 rows)
            F.col("p_month") == F.add_months(F.col("month"), -1),
            "left",
        )
        .join(
            F.broadcast(y),
            F.col("y_month") == F.add_months(F.col("month"), -12),
            "left",
        )
        .select(
            F.col("month").cast("timestamp").alias("month"),
            "rev_cents",
            F.round(
                (F.col("rev_cents") - F.col("p_rev")) * 100.0 / F.col("p_rev"), 4
            ).alias("mom_pct"),
            F.round(
                (F.col("rev_cents") - F.col("y_rev")) * 100.0 / F.col("y_rev"), 4
            ).alias("yoy_pct"),
        )
        .orderBy("month")
    )


@register(
    "stat_nelson_aalen",
    """
    WITH u AS (
      SELECT user_id,
             (max(epoch_us(CAST(ts AS TIMESTAMP)))
              - min(epoch_us(CAST(ts AS TIMESTAMP)))) // 1000000 AS dur_s,
             CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS obs
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(dur_s AS BIGINT) AS dur_s,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(obs) AS BIGINT) AS d
      FROM u GROUP BY dur_s
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
    cum AS (
      SELECT dur_s, c, d,
             (SELECT n FROM tot)
               - coalesce(sum(c) OVER (ORDER BY dur_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM g
    ),
    s AS (
      SELECT dur_s, d, n_risk,
             sum(d * 1.0 / n_risk) OVER (ORDER BY dur_s) AS ch,
             sum(d * 1.0 / (n_risk * n_risk)) OVER (ORDER BY dur_s) AS vh
      FROM cum
    )
    SELECT dur_s, d AS n_events, CAST(n_risk AS BIGINT) AS n_at_risk,
           round(ch, 6) AS cum_hazard,
           round(vh, 6) AS var_hazard,
           round(exp(-ch), 6) AS surv_na
    FROM s WHERE d > 0 ORDER BY dur_s
    """,
    "stats",
    "survival",
    "distributed-rank",
)
def stat_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over _risk_sets, which
    stat_kaplan_meier also reads: H(t) = sum d/n over event times <= t,
    its standard variance estimator sum d/n², and the Fleming-Harrington
    survival exp(-H). At-risk counts are the exact-integer EXCLUSIVE
    bucketed prefix sums; the hazard terms are one division each and
    accumulate on the INCLUSIVE bucketed plan — the KM accepted-risk
    envelope (bucketed vs sequential double association + exp/ln libm
    ulps) under round(6)."""
    terms = _risk_sets(spark, sf_dir).select(
        "dur_s",
        "d",
        "n_risk",
        (F.col("d") * F.lit(1.0) / F.col("n_risk")).alias("hz"),
        (F.col("d") * F.lit(1.0) / (F.col("n_risk") * F.col("n_risk"))).alias("vz"),
    )
    s = bucketed_cumsums(terms, "dur_s", ["hz", "vz"], inclusive=True)
    return (
        s.where(F.col("d") > 0)
        .select(
            "dur_s",
            F.col("d").alias("n_events"),
            F.col("n_risk").cast("bigint").alias("n_at_risk"),
            F.round(F.col("cum_hz"), 6).alias("cum_hazard"),
            F.round(F.col("cum_vz"), 6).alias("var_hazard"),
            F.round(F.exp(-F.col("cum_hz")), 6).alias("surv_na"),
        )
        .orderBy("dur_s")
    )
