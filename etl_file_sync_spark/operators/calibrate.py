"""MinHash-LSH parameter calibration (SURVEY.md §7.4 risk 6).

The banding S-curve: a pair with true Jaccard s becomes an LSH candidate
with probability P(s) = 1 - (1 - s^r)^b  (b bands × r rows, b·r = total
permutations). Parameter choice trades recall at the target threshold
against candidate volume (≈ cost). This module picks (b, r) analytically
and estimates the resulting candidate count from a SAMPLE of the corpus
— so a 100 TB run sizes its shuffle before paying for it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def _ipow(x: float, n: int) -> float:
    """x**n by right-to-left binary exponentiation — a FIXED chain of
    IEEE multiplies, so any engine spelling the same chain (the oracle
    SQL does, as square-and-multiply CTEs) reproduces the result
    bit-for-bit. libm pow() is implementation-defined in the last ulp,
    which is exactly what a value-hash correctness check cannot have."""
    r = 1.0
    base = x
    while n > 0:
        if n & 1:
            r *= base
        n >>= 1
        if n:
            base *= base
    return r


def candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(pair with Jaccard s shares >=1 band) under the banding model."""
    return 1.0 - _ipow(1.0 - _ipow(s, rows), bands)


@dataclass(frozen=True)
class LSHPlan:
    bands: int
    rows_per_band: int
    num_perm: int
    recall_at_threshold: float
    false_positive_at_half_threshold: float
    est_candidate_pairs: int | None = None


def choose_lsh_params(
    threshold: float,
    num_perm: int = 64,
    min_recall: float = 0.9,
) -> LSHPlan:
    """Pick the (bands, rows) factorization of num_perm with the fewest
    bands (fewest candidates) that still reaches min_recall at the
    threshold. Falls back to the highest-recall factorization if none
    reaches it."""
    # generated in ascending-bands order: fewest bands (fewest candidates) first
    factorizations = [(b, num_perm // b) for b in range(1, num_perm + 1) if num_perm % b == 0]
    best = None
    for b, r in factorizations:
        recall = candidate_probability(threshold, b, r)
        if recall >= min_recall:
            best = (b, r, recall)
            break
    if best is None:
        b, r = max(factorizations, key=lambda br: candidate_probability(threshold, br[0], br[1]))
        best = (b, r, candidate_probability(threshold, b, r))
    b, r, recall = best
    return LSHPlan(
        bands=b,
        rows_per_band=r,
        num_perm=num_perm,
        recall_at_threshold=round(recall, 4),
        false_positive_at_half_threshold=round(candidate_probability(threshold / 2, b, r), 4),
    )


def estimate_candidates(
    df: DataFrame,
    plan: LSHPlan,
    sample_pct: int = 10,
    hash_fn: str = "xxhash",
) -> LSHPlan:
    """Run the banding on the 3-shingle signatures of a deterministic
    hash-sample of the documents and extrapolate the candidate-pair count
    to the full corpus (pairs scale ~quadratically with corpus size at
    fixed duplication rate). hash_fn seeds both the
    sample and the signatures ('md5' makes the whole estimate
    reproducible by any engine — the registry query's oracle recomputes
    it in DuckDB)."""
    from dataclasses import replace

    from etl_file_sync_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
    from etl_file_sync_spark.operators.text import hash_sample

    sample = hash_sample(df, "doc_id", sample_pct, hash_fn=hash_fn)
    sig = minhash_signatures(sample, plan.num_perm, hash_fn=hash_fn)
    n_cand = minhash_lsh_candidates(sig, plan.bands, plan.rows_per_band).count()
    scale = (100.0 / sample_pct) ** 2
    return replace(plan, est_candidate_pairs=int(n_cand * scale))
