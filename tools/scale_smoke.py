"""Measured operator scaling across data tiers — writes SCALE.md.

Times the flagship LLM-pipeline operators at sf0.001 / sf0.01 / sf0.1
plus a synthesized sf0.1x10 tier: sf0.1 documents/embeddings replicated
10x with planted near/exact-dup groups of 10 (every original doc spawns
10 replicas, half byte-identical, half with a 1-token suffix — a
HEAVIER per-row dedup load than organic data, so growth factors are
conservative). A linear-ish sec ratio between 10x tiers — versus the
100x quadratic worst case for pair-producing operators — is the
evidence that candidate generation (LSH banding, blocking, bucketing),
not an all-pairs scan, carries the scale.

Timing is min-of-4 per (operator, tier); the first run absorbs
residual codegen. Run on an otherwise idle box — the ratios, not the
absolute seconds, are the signal.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from etl_file_sync_spark.catalog import TABLES, load_table  # noqa: E402
from etl_file_sync_spark.queries import REGISTRY  # noqa: E402
from etl_file_sync_spark.session import get_spark  # noqa: E402

OPS = [
    "dedup_exact_groups",
    "dedup_minhash_pairs",
    "dedup_embedding_srp",
    "sim_topk_ivf",
    "text_repetition_stats",
    "text_pack_sequences",
    "corpus_curation_gate",
    "text_bigram_novelty",
    "mix_sources_temperature",
    "search_bm25_topk",
    "text_unigram_ppl",
    "dedup_paragraph_segments",
    "sim_topk_pq",
    "dedup_span_stats",
    "sample_domain_cap",
    "sample_weighted_priority",
    "dedup_semantic_keep",
    "text_vocab_coverage",
    "sample_dup_weighted",
    "dq_snapshot_diff",
    "dedup_incremental_ingest",
    "behavior_transition_matrix",
    # round-4b: documents-grain ops on the distributed ranking plan
    "shard_plan_balanced",
    "sample_dsir_weights",
    "text_zipf_fit",
    # round-4b: orders-grain rank statistics (orders replicate in the
    # 10x tier with perturbed prices, so the distinct-value rank frame
    # really grows 10x)
    "stat_mannwhitney_u",
    "stat_ks_two_sample",
    "stat_gini_customer_spend",
    "stat_decile_bands",
    # round-4c: embeddings-grain clustering (embeddings replicate in the
    # 10x tier), divergence/eval over documents, basket self-join
    "cluster_kmeans_assign",
    "cluster_silhouette",
    "stat_js_divergence",
    "eval_roc_auc",
    "mba_pair_lift",
    # round-4d: tokenizer — training cost is vocabulary-bounded (grows
    # far slower than corpus bytes), application is a narrow map pass
    "text_bpe_train_merges",
    "text_bpe_apply_counts",
    # round-5: curation face (documents-grain narrow maps), perceptual-
    # hash banding (bounded 80-image fixture — flat by design), BH
    # (events-grain fact pass + aggregate-sized hypothesis window),
    # streaks (events-grain), NDCG (customer/orders-grain)
    "text_gopher_rules",
    "dedup_url_canonical",
    "multimodal_phash_neardup",
    "stat_bh_fdr",
    "behavior_streak_islands",
    "eval_ndcg_topk",
    "ts_seasonal_dow",
    # round-5 decision face: sweep-line + survival on the grouped/
    # bucketed cumulative plans (events-grain), skyline on the bucketed
    # strict-prefix cummax (part-grain), BLEU n-gram join passes
    # (documents-grain), int8 quantization (embeddings-grain narrow map)
    "ops_max_concurrency",
    "stat_kaplan_meier",
    "ops_skyline_pareto",
    "eval_corpus_bleu",
    "embed_int8_quant",
    # round-5 experiment/sketch face: log-rank + permutation run their
    # corpus-scale pass at the events grain then fan out on the user-
    # grain frame; CMS/PMI are vocab-bounded explode+groupBy passes
    "stat_logrank_test",
    "stat_permutation_test",
    "sketch_count_min",
    "text_pmi_collocations",
    # round-5 insight face: pandas-UDF DP (documents-grain), grouped
    # winsorized quantiles + RFM triple ranking (orders-grain on the
    # bucketed plans), KMV distinct sketch (documents-grain)
    "eval_rouge_l",
    "agg_rfm_segments",
    "stat_winsorized_mean",
    "sketch_kmv_distinct",
    "eval_conformal_interval",
    "eval_map_mrr",
    "stat_propensity_stratified_att",
    "behavior_markov_absorption",
    "stat_nelson_aalen",
    "sketch_kmv_jaccard",
    "text_bigram_lm_kn",
    "win_range_frame_rolling",
    "layout_zorder_buckets",
    "eval_langid_confusion",
    "stat_brown_forsythe",
    "sim_topk_int8",
    # round-5 inference/curation/PCA additions: Wasserstein on the
    # distinct-price bucketed plan (orders-grain), EB shrinkage
    # (lineitem-grain join+agg), mSPRT (events-grain then calendar-
    # bounded), readability/entropy (documents-grain narrow maps),
    # PCA (embeddings-grain one-pass moments + map-only projection)
    "stat_wasserstein_1d",
    "stat_eb_shrinkage",
    "stat_msprt_sequential",
    "text_readability_profile",
    "text_char_entropy",
    "embed_pca_label_profile",
    # round-5 hardening batches: events/orders/lineitem-grain exact
    # reductions (bayes/welch/jackknife/negbin/capture/cochran/mcnemar
    # fold to cells; HHI/Cramer/FD fold to bounded aggregate frames;
    # Ljung-Box/STL run on the calendar-bounded daily frame)
    "stat_bayes_ab_beta",
    "stat_welch_anova",
    "stat_jackknife_ratio",
    "ts_ljung_box",
    "stat_hhi_concentration",
    "stat_cramers_v_matrix",
    "dq_functional_dependency",
    "ts_stl_decompose_dow",
    # round-5 effects + insight-2 faces: the rank-machinery tests
    # (cliffs/CvM/energy fold to distinct-value cumsum frames), the
    # two-hop link-prediction join (support-thresholded, hub-capped),
    # and the doc-grain burstiness reduction
    "stat_cliffs_delta",
    "stat_energy_distance",
    "graph_adamic_adar",
    "text_term_burstiness",
    "behavior_ltv_cohort_curves",
    # batch 6: score-vocabulary cumsums, dense-rank successor join,
    # inverted-index candidate generation
    "eval_auprc",
    "dq_key_gaps",
    "rec_item_cosine",
    "rec_user_jaccard_topk",
    # batch 7: calendar-bounded recurrence + all-pairs-safe tau; AUC CI
    # rides the same rank pass as eval_roc_auc
    "ts_holt_winters_weekly",
    "stat_kendall_tau_daily",
    "eval_auc_hanley_ci",
    # batch 8: FK null-probe joins, bounded gains window, ordinal
    # trend fold, calendar-bounded PACF
    "dq_referential_integrity",
    "eval_lift_gains",
    "stat_cochran_armitage",
    "ts_pacf_durbin",
    # batch 9: rolling-distinct fan-out, percentile digests, centered
    # co-moment folds — all events/lineitem-grain
    "behavior_dau_stickiness",
    "funnel_time_to_convert",
    "stat_partial_correlation",
    # batch 10: weighted-quantile cumsum crossings, term-grain hapax
    # reduction, per-stratum moment folds
    "agg_weighted_median",
    "text_hapax_profile",
    "stat_smd_balance",
    # batch 11: regexp density maps, purchase-grain moment folds,
    # daily budget reduction
    "stat_tost_equivalence",
    "text_code_detection",
    "ops_error_budget_burn",
    "ts_pettitt_changepoint",
    "agg_log2_histogram",
    "stat_mood_median_test",
    "text_bigram_entropy_rate",
    "stat_g_test_independence",
    "eval_f1_threshold_sweep",
    "ts_backtest_seasonal_naive",
    "sample_user_kfold",
    "behavior_markov_attribution",
    "stat_bowker_symmetry",
    "eval_mcc",
    "stat_page_trend",
    "ts_variance_ratio",
    "behavior_new_vs_returning",
    "ml_split_quality",
    "stat_sign_test_weekly",
    "stat_breusch_pagan",
]

TIERS = ["sf0.001", "sf0.01", "sf0.1"]
ROOT = "/root/testdata"

# x100 spot-check (SPARK_GRAFT_SCALE_X100=1): the dup-pair emitters on
# 500k docs / 200k vectors with planted dup groups of 100
X100_OPS = [
    "dedup_exact_groups",
    "dedup_minhash_pairs",
    "dedup_embedding_srp",
    "dedup_span_stats",
    # round-5: pandas-UDF DP (pair-linear), KMV sketch (bottom-k only),
    # quantization (narrow map), KN LM (vocab-bounded model)
    "eval_rouge_l",
    "sketch_kmv_distinct",
    "embed_int8_quant",
    "text_bigram_lm_kn",
]


def synthesize_10x(spark, src_dir: str, out_dir: str, factor: int = 10) -> None:
    """Replicate documents/embeddings `factor`x with planted dup groups."""
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(factor).withColumnRenamed("id", "rep")
    docs = load_table(spark, src_dir, "documents")
    (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
            # half the replicas byte-identical (exact dups), half with a
            # one-token suffix (near dups a shingle/minhash path must catch)
            F.when(F.col("rep") % 2 == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", F.col("text"), F.concat(F.lit("v"), F.col("rep"))))
            .alias("text"),
            "lang",
            "source",
            F.length(F.col("text")).alias("n_chars"),
        )
        # cluster on doc_id (range partition + in-partition sort) so each
        # parquet row group carries narrow doc_id min/max stats and id-
        # range filters actually prune — the production layout posture
        # (layout_zorder_buckets); random repartition defeats pruning and
        # made the bounded-fixture phash cell read as 4.5x (r5 verdict)
        .repartitionByRange(32, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    emb = load_table(spark, src_dir, "embeddings")
    id_col = "vec_id" if "vec_id" in emb.columns else emb.columns[0]
    (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col(id_col) * factor + F.col("rep")).alias(id_col),
            *[c for c in emb.columns if c != id_col],
        )
        .repartitionByRange(32, id_col)
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )
    # orders: replicated too (distinct keys AND distinct prices grow, so
    # the rank-statistics ops see a genuinely larger rank frame — prices
    # shift by rep cents to multiply the distinct-value count)
    orders = load_table(spark, src_dir, "orders")
    (
        orders.crossJoin(F.broadcast(reps))
        .select(
            (F.col("o_orderkey") * factor + F.col("rep")).alias("o_orderkey"),
            (F.col("o_custkey") * factor + F.col("rep")).alias("o_custkey"),
            "o_orderstatus",
            (F.col("o_totalprice") + F.col("rep") * 0.01).alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "orders.parquet"))
    )
    # remaining tables: straight copies so any query can run on the tier
    for t in TABLES:
        src = os.path.join(src_dir, f"{t}.parquet")
        if t not in ("orders", "documents", "embeddings") and os.path.exists(src):
            dst = os.path.join(out_dir, f"{t}.parquet")
            shutil.copy2(src, dst) if os.path.isfile(src) else shutil.copytree(
                src, dst, dirs_exist_ok=True
            )


def bench_tier(spark, sf_dir: str) -> dict[str, tuple[float, int]]:
    res = {}
    for name in OPS:
        q = REGISTRY[name]
        # same per-query cache isolation as bench.py: operator-internal
        # caches from earlier ops must not donate eviction pressure
        spark.catalog.clearCache()
        best, rows = float("inf"), 0
        for _ in range(4):
            t0 = time.perf_counter()
            df = q.build(spark, sf_dir)
            rows = df.count()
            best = min(best, time.perf_counter() - t0)
        res[name] = (best, rows)
    return res


def main() -> None:
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    tiers: dict[str, dict] = {}
    for t in TIERS:
        tiers[t] = bench_tier(spark, os.path.join(ROOT, t))
    tenx = tempfile.mkdtemp(prefix="sf01x10_")
    try:
        synthesize_10x(spark, os.path.join(ROOT, "sf0.1"), tenx)
        tiers["sf0.1x10"] = bench_tier(spark, tenx)
    finally:
        shutil.rmtree(tenx, ignore_errors=True)

    lines = [
        "# SCALE — measured operator scaling across data tiers",
        "",
        "Generated by `python tools/scale_smoke.py` (local[32]). The",
        "sf0.1x10 tier replicates sf0.1 documents/embeddings 10x with",
        "planted near/exact-dup groups of 10 — a HEAVIER per-row dedup",
        "load than organic data, so these growth factors are conservative.",
        "A linear-ish sec ratio between 10x tiers (vs the 100x quadratic",
        "worst case for pair-producing ops) is the evidence that the",
        "candidate-generation paths (LSH banding, blocking, bucketing),",
        "not all-pairs scans, carry the scale.",
        "",
        "| operator | " + " | ".join(TIERS + ["sf0.1x10"]) + " | 10x growth (last step) |",
        "|---|" + "---|" * (len(TIERS) + 2),
    ]
    for name in OPS:
        cells = []
        for t in TIERS + ["sf0.1x10"]:
            sec, rows = tiers[t][name]
            cells.append(f"{round(sec, 2)}s / {rows}r")
        growth = tiers["sf0.1x10"][name][0] / max(tiers["sf0.1"][name][0], 1e-9)
        lines.append(f"| {name} | " + " | ".join(cells) + f" | {round(growth, 1)}x |")

    lines += [
        "",
        "Measurement notes: this box swings ~2x run-to-run; any single",
        "growth cell at or above ~2x is re-measured in isolation before",
        "it drives a rewrite (r3/r4 precedent: Mann-Whitney, snapshot-",
        "diff; the sweep threshold is >=2.0x so boundary cells cannot",
        "escape — r5's dedup_exact_groups 2.2x cell sat exactly on the",
        "old >2.2x cutoff and was missed).",
        "Since round 6 the 10x tier synthesis clusters documents/",
        "embeddings on their id key (repartitionByRange +",
        "sortWithinPartitions) so row-group min/max stats are narrow and",
        "id-range filters prune — the production layout posture",
        "(layout_zorder_buckets). This removed the r5",
        "multimodal_phash_neardup 4.5x fixture-layout artifact: the",
        "bounded 80-image fixture's doc_id < 80 scan now touches one row",
        "group instead of all of them.",
        "Round-6 isolated re-measures (fresh 10x tier, min-of-4, quiet",
        "box) of every cell >=2.0x in that round's regen:",
        "sample_domain_cap 1.17x, dq_snapshot_diff 1.36x,",
        "sample_dsir_weights 1.41x, stat_js_divergence 1.57x,",
        "text_bpe_apply_counts 1.58x, dedup_url_canonical 1.76x,",
        "eval_corpus_bleu 1.98x, text_pmi_collocations 1.99x,",
        "text_readability_profile 1.55x, text_char_entropy 1.64x,",
        "stat_kendall_tau_daily 1.58x — all noise, cleared.",
        "ts_backtest_seasonal_naive held 2.45x and was a real plan",
        "defect: its calendar-bounded daily frame fed three branches",
        "uncached, re-running the orders groupBy scan 3x — cached, the",
        "cell re-measures 0.8x. multimodal_phash_neardup's r5 4.5x was",
        "likewise real: the band self-joins re-ran the PNG hash",
        "pipeline 8x; localCheckpoint'd, it re-measures 1.3x.",
        "dedup_exact_groups (r5 boundary 2.2x) re-measures 1.2-1.3x.",
        "Post-DECIMAL-promotion regen (late r6): four cells >=2.0x",
        "(dedup_exact_groups 2.4x, text_unigram_ppl 2.1x,",
        "eval_corpus_bleu 2.1x, sample_domain_cap 2.0x) all re-measure",
        "in isolation at 1.06x / 1.42x / 1.90x / 1.32x — noise, cleared;",
        "no regression from the exact-DECIMAL accumulators.",
        "Post-ingest-contract regen (late r6, after the non-finite",
        "sanitization + exact-revenue rewrite): boundary cells either",
        "carry a same-round isolated clearance (dedup_exact_groups,",
        "sample_domain_cap, dq_snapshot_diff, sample_dsir_weights,",
        "eval_corpus_bleu) or re-measure in isolation now:",
        "text_vocab_coverage 1.38x, eval_rouge_l 1.78x — noise,",
        "cleared; the contract projection costs nothing measurable",
        "(bench 180-query total 152.1s vs 152.6s pre-change).",
        "",
        "## Integer-overflow envelope (round-6 audit)",
        "",
        "Wall-clock growth is not the only 100 TB failure mode: the non-ANSI",
        "session wraps BIGINT silently, so any n^2-scale integer product is a",
        "latent correctness bug at cluster scale even though every test tier is",
        "orders of magnitude below the ceiling. A sweep of sum-of-squares and",
        "cross-multiplied aggregates found twelve such sites — squared per-user",
        "cents (Cohen's d, diff-in-differences), squared row-grain deviations",
        "(Brown-Forsythe, BH/Holm z-prep), squared counts (negative-binomial",
        "fit, term burstiness), the KS ECDF cross-multiply |cumA*nB - cumB*nA|,",
        "the Gini rank-weighted sum rank*cents, Cohen's-kappa marginal products",
        "with an n*n denominator, the CUSUM window cross-multiply",
        "n*S_k - k*total, Wilson's s*(n-s), and the seasonal-DOW",
        "sum_cents*total_days cross-multiply. At 1e9+ keys these reach",
        "1e24-1e26 against BIGINT's 9.2e18. Each now accumulates in exact",
        "DECIMAL(37/38,0) — matching the DuckDB oracle's HUGEINT — and",
        "converts to double exactly once, so tier outputs are bit-identical",
        "while the 100 TB path cannot wrap. The magnitude-stress tier",
        "(the stress entry of tools/tiers.py, x1000 money; tests/test_tiers.py)",
        "re-runs all 350 oracle comparisons at overflow-triggering",
        "magnitudes as the empirical detector for any new site. Remaining",
        "BIGINT sums (plain cents totals, counts) peak around 1e17-1e18 with",
        ">10x headroom and are documented per-query where they approach it;",
        "alloc_largest_remainder's K*n quota product (the last documented",
        "envelope, wrapping at ~9e14 documents) was promoted late in r6 and",
        "is pinned exact at n~4e15 where the BIGINT spelling provably wraps",
        "(tests/test_decision_face.py envelope test) — zero known",
        "envelopes remain.",
        "",
        "## Two-decade growth — 100x tier (late r6 snapshot)",
        "",
        "One decade cannot separate O(n) from O(n^1.5); two can.",
        "tools/scale_two_decades.py applies the 10x planting transform",
        "twice (500k documents / 200k embeddings at x100) and times the",
        "candidate-generating operators at sf0.1 / x10 / x100, min-of-3.",
        "LINEAR scaling is a 10x time step per decade; an all-pairs",
        "defect is a ~100x step. Every operator lands at or below",
        "linear on BOTH decades even though the planted dup-group",
        "closure multiplies PAIR OUTPUT ~100-180x in decade 2 (the rows",
        "column keeps that denominator honest — e.g. SRP emits 69.7M",
        "pairs in 11.5s, minhash 27.3M in 8.3s):",
        "",
        "| operator | sf0.1 | x10 | x100 | decade1 | decade2 |",
        "|---|---|---|---|---|---|",
        "| dedup_exact_groups | 0.32s / 4992r | 0.41s / 29952r | 0.71s / 154752r | 1.3x | 1.7x |",
        "| dedup_minhash_pairs | 2.45s / 256r | 3.0s / 250600r | 8.29s / 27306568r | 1.2x | 2.8x |",
        "| dedup_simhash_pairs | 2.57s / 512r | 2.6s / 228340r | 20.36s / 22071398r | 1.0x | 7.8x |",
        "| dedup_embedding_srp | 4.02s / 2000r | 5.37s / 380000r | 11.48s / 69700000r | 1.3x | 2.1x |",
        "| dedup_paragraph_segments | 0.4s / 4458r | 0.47s / 44880r | 0.95s / 451675r | 1.2x | 2.0x |",
        "| sim_topk_ivf | 1.08s / 250r | 1.1s / 2500r | 3.03s / 25000r | 1.0x | 2.8x |",
        "| sim_topk_pq | 2.25s / 250r | 2.93s / 2500r | 20.66s / 25000r | 1.3x | 7.1x |",
        "| search_bm25_topk | 0.49s / 10r | 0.6s / 10r | 1.15s / 10r | 1.2x | 1.9x |",
        "| corpus_curation_gate | 1.66s / 2266r | 1.89s / 15401r | 9.8s / 86516r | 1.1x | 5.2x |",
        "",
        "## Hot-key skew sensitivity (round-7 snapshot)",
        "",
        "Uniform vs Zipfian key distribution at IDENTICAL row count",
        "(tools/skew_growth.py on sf0.01; skew rules from",
        "tools/tiers.py skew entry — 80% of events on one user, half the orders",
        "on one customer, 30% of lineitems on one part, 80% of documents",
        "on one source; warm-up pass first, run alone). Ratio isolates",
        "hot-key cost at fixed volume: ~1x = shuffles don't concentrate",
        "on the hot key or AQE re-splits it; >>1x = straggler/state",
        "blowup candidate. Every measured operator lands 0.56-1.56x —",
        "inside this box's documented 2x noise band, no blowup. Oracle",
        "parity on the skewed tier is 350/350 green",
        "(tests/test_tiers.py -k skew). The mildly-elevated rows are the",
        "per-user ordered windows (inter-event gaps 1.56x, retention",
        "1.54x, running windows 1.28x): per-entity ORDER is inherently",
        "one task per entity, so a bot account holding 80% of a 100 TB",
        "corpus WOULD straggle there — the mitigation is the standard",
        "per-entity admission cap (sample_user_event_cap: deterministic",
        "first-N-per-user, run BEFORE sequence analytics), not a salt,",
        "because salting cannot preserve per-entity order.",
        "",
        "| query | uniform s | skewed s | ratio |",
        "|---|---|---|---|",
        "| sessionize_events | 2.07 | 1.76 | 0.85x |",
        "| funnel_user_conversion | 2.20 | 2.05 | 0.93x |",
        "| funnel_time_to_convert | 3.32 | 1.84 | 0.56x |",
        "| behavior_top_paths | 1.40 | 0.96 | 0.69x |",
        "| behavior_transition_matrix | 1.23 | 1.03 | 0.83x |",
        "| behavior_streak_islands | 0.96 | 1.17 | 1.21x |",
        "| behavior_inter_event_gaps | 1.34 | 2.10 | 1.56x |",
        "| behavior_last_touch_attribution | 2.53 | 2.01 | 0.80x |",
        "| behavior_dau_stickiness | 1.75 | 1.55 | 0.89x |",
        "| retention_cohorts | 1.50 | 2.31 | 1.54x |",
        "| rec_item_cosine | 4.78 | 2.69 | 0.56x |",
        "| rec_user_jaccard_topk | 3.90 | 2.28 | 0.58x |",
        "| sample_domain_cap | 0.51 | 0.70 | 1.37x |",
        "| q03_shipping_priority | 2.24 | 1.96 | 0.88x |",
        "| q09_nation_year_profit | 2.38 | 2.95 | 1.24x |",
        "| q18_large_volume_customer | 0.78 | 1.10 | 1.42x |",
        "| win_running_sum | 2.98 | 3.83 | 1.28x |",
    ]
    # BPE merge-count scaling (round-5 verdict ask): training cost must
    # scale with the MERGE BUDGET, not merge_budget x vocabulary — the
    # incremental driver-local trainer re-scans only the words containing
    # each merged pair. Measured on a synthetic 200k-type vocabulary
    # (every count >=2 so every pair has support >=2 and the full budget
    # is spent; the sf testdata corpus has only ~31 distinct words).
    # The one corpus-scale Spark pass (word_count_frame) is excluded —
    # it is identical at every merge budget, which is the point.
    import random

    from etl_file_sync_spark.operators.bpe import train_rules_local

    rng = random.Random(11)
    vocab: dict[str, int] = {}
    while len(vocab) < 200_000:
        w = "".join(rng.choice("abcdefghijkl") for _ in range(rng.randint(10, 16)))
        if w not in vocab:
            vocab[w] = 2 + len(vocab) % 7
    pairs_in = list(vocab.items())
    lines += [
        "",
        "## BPE merge-count scaling (driver-local trainer, 200k-type vocabulary)",
        "",
        "Each budget is a fresh end-to-end train; the one-time vocabulary",
        "indexing (~2.6M pair inserts, paid identically at every budget)",
        "dominates the small budgets, so the scale signal is the MARGINAL",
        "ms/merge between consecutive budgets — flat-to-falling marginal",
        "cost = merge-budget scaling, not budget x vocabulary. A production",
        "30k-merge run costs driver seconds, with ZERO Spark jobs after the",
        "single corpus-scale word-count pass.",
        "",
        "| num_merges | driver sec (incl. one-time indexing) | marginal ms/merge vs prev row |",
        "|---|---|---|",
    ]
    prev_m, prev_sec = 0, 0.0
    for m in (100, 1_000, 10_000, 30_000):
        t0 = time.perf_counter()
        rules = train_rules_local(pairs_in, m)
        sec = time.perf_counter() - t0
        assert len(rules) == m, f"budget not spent: {len(rules)}/{m}"
        marginal = "—" if prev_m == 0 else f"{round((sec - prev_sec) / (m - prev_m) * 1000, 2)}"
        lines.append(f"| {m} | {round(sec, 2)}s | {marginal} |")
        prev_m, prev_sec = m, sec

    if os.environ.get("SPARK_GRAFT_SCALE_X100"):
        hundo = tempfile.mkdtemp(prefix="sf01x100_")
        try:
            synthesize_10x(spark, os.path.join(ROOT, "sf0.1"), hundo, factor=100)
            lines += [
                "",
                "## 100x spot-check (500k docs / 200k vectors, dup groups of 100)",
                "",
                "Pair emission is output-bound, not comparison-bound — the",
                "candidate generators stay linear while the PAIR OUTPUT grows",
                "quadratically inside planted dup groups (groups of 100 emit",
                "C(100,2) pairs each). sec/output-row is the scale signal here.",
                "",
                "| operator | sec | output rows |",
                "|---|---|---|",
            ]
            for name in X100_OPS:
                spark.catalog.clearCache()
                best, rows = float("inf"), 0
                for _ in range(2):
                    t0 = time.perf_counter()
                    rows = REGISTRY[name].build(spark, hundo).count()
                    best = min(best, time.perf_counter() - t0)
                lines.append(f"| {name} | {round(best, 2)}s | {rows} |")
        finally:
            shutil.rmtree(hundo, ignore_errors=True)
    lines.append("")
    Path(__file__).resolve().parent.parent.joinpath("SCALE.md").write_text("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
