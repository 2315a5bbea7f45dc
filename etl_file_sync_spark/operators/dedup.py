"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (100 TB):
- exact dedup is one hash-shuffle on a 64-char digest — the canonical
  groupBy; AQE splits skewed digests (identical boilerplate docs).
- pairwise Jaccard only ever runs on CANDIDATE pairs. The all-pairs
  verifier below is for oracle-checkable correctness at small SF; the
  scale path is MinHash→LSH banding→bucket equi-join, which shuffles
  (band_id, band_hash) instead of O(n²) pairs.
- text paths are built-in expressions (xxhash64, array ops, bit ops) — no
  Python in the hot path; the embedding paths use Arrow-batched numpy
  (one BLAS GEMM per batch/bucket-pair), never row-at-a-time Python.
"""

from __future__ import annotations

import functools
import operator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.similarity import vec_ok

from etl_file_sync_spark.operators.text import normalize_text


# --- the candidate-pair core ------------------------------------------
# Every pair generator below is block -> candidates -> verify: rows that
# share a block key meet in ONE keyed self-join (_self_pairs; banded
# signatures go through _band_pairs first), and only those candidates
# are scored (_verify). The join shuffles on the key space, never the
# O(n^2) pair space.


def _self_pairs(frame: DataFrame, key_cols, carry=(), count_as: str | None = None) -> DataFrame:
    """Keyed self-join of ``frame`` (an ``id`` column plus ``key_cols``):
    one row per unordered id pair per shared key, id_a < id_b, projected
    to (id_a, id_b) plus ``<c>_a``/``<c>_b`` for every ``carry`` column.
    With ``count_as``, one row per pair instead: (id_a, id_b, count_as)
    with its number of shared keys, aggregated straight off the join."""
    a, b = frame.alias("a"), frame.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    joined = a.join(b, functools.reduce(operator.and_, [*on, F.col("a.id") < F.col("b.id")]))
    pair = (F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if count_as is not None:
        return joined.groupBy(*pair).agg(F.count(F.lit(1)).alias(count_as))
    carried = [F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in ("a", "b") for c in carry]
    return joined.select(*pair, *carried)


def _band_pairs(frame: DataFrame, bands: list[str], carry=()) -> DataFrame:
    """Banded candidates: rows agreeing on ANY band become a pair. Each
    SQL expression in ``bands`` is one band value; the (band, bval)
    structs are exploded and self-joined, so the join shuffles on
    (band, bval) — the scale-out alternative to all-pairs. Returns
    distinct (id_a, id_b, carried...) with id_a < id_b. One F.expr for
    all bands: a Column spelling per band element cost one py4j round
    trip each per build (192 for the SRP layout)."""
    structs = ", ".join(f"named_struct('band', {i}, 'bval', {b})" for i, b in enumerate(bands))
    stacked = frame.select("id", *carry, F.expr(f"inline(array({structs}))"))
    return _self_pairs(stacked, ["band", "bval"], carry).distinct()


def _verify(
    cand: DataFrame,
    attrs: DataFrame | None,
    name: str,
    score: Column,
    keep: Column,
    digits: int | None = None,
    extra=(),
) -> DataFrame:
    """Score candidate pairs: join ``attrs`` (``id`` plus per-row
    attributes) onto both sides as ``<col>_a``/``<col>_b`` (None when
    the candidates already carry them), compute ``score`` as ``name``,
    keep the rows where ``keep`` holds, and project (id_a, id_b, *extra,
    name) with ``name`` rounded to ``digits`` when given. The attribute
    joins run on the candidate set only, after it has been deduped on
    the narrow (id_a, id_b) pair."""
    if attrs is not None:
        for s in ("a", "b"):
            side = attrs.select(*[F.col(c).alias(f"{c}_{s}") for c in attrs.columns])
            cand = cand.join(side, f"id_{s}")
    out = F.col(name) if digits is None else F.round(name, digits).alias(name)
    return cand.withColumn(name, score).filter(keep).select("id_a", "id_b", *extra, out)


def _token_windows(
    df: DataFrame, id_col: str, text_col: str, width: int, last: Column, stride: int = 1
) -> tuple[DataFrame, Column]:
    """(base, windows): ``base`` is (id, _toks) with the space-split token
    array, ``windows`` the array of ``width``-token strings starting every
    ``stride`` tokens, window starts 0..``last`` (a Column over ``_toks``).

    The token array is materialized in its own projection BEFORE the
    per-window lambda: an expression referenced inside a higher-order
    -function lambda is re-evaluated per element, so slicing
    ``split(text)`` directly would re-split the whole text once per
    position — O(len^2) chars per document, 2.2 GB of splitting for one
    112 KB document (the monster-doc tier measured 27 s/doc; a
    million-token web page would take days). CollapseProject keeps the
    boundary because the alias is non-cheap and multiply referenced.
    """
    base = df.select(F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks"))
    toks = F.col("_toks")
    windows = F.transform(
        F.sequence(F.lit(0), last),
        # stride 1 spells i + 1: no i * 1 term in the per-element lambda
        lambda i: F.concat_ws(" ", F.slice(toks, (i if stride == 1 else i * stride) + 1, width)),
    )
    return base, windows


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group exact duplicates by content digest; keep the min id as canonical.

    Returns (keep_id, n_copies) — one row per distinct content.
    """
    return (
        df.select(F.col(id_col), F.sha2(normalize_text(text_col), 256).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    base, grams = _token_windows(df, id_col, text_col, n, F.greatest(F.size("_toks") - n, F.lit(0)))
    return base.select("id", F.explode(F.array_distinct(grams)).alias("shingle")).where(
        F.length("shingle") > 0
    )


def jaccard_oracle_ctes(threshold: float, max_df_frac: float = 0.5) -> str:
    """DuckDB CTE chain restating ``jaccard_pairs`` INCLUDING its
    stop-shingle cut — the one oracle spelling every jaccard-derived
    oracle composes (ends in ``jpairs(id_a, id_b, jaccard)``).

    The cut is load-bearing for parity, not an optimization detail: on
    organic tiers no shingle crosses a 0.5 document frequency so a
    cut-less oracle happens to agree, but one corpus-wide boilerplate
    line (or the constant-text degenerate tier) makes the engine drop
    the hot shingles while a cut-less oracle builds a near-complete
    pair graph — wrong AND quadratic (its recursive consumers then
    enumerate walks over a clique). Mirrors jaccard_pairs exactly:
    df counted per distinct (doc, shingle) against max_df_frac * ALL
    documents (strict >), per-doc sizes counted AFTER the cut."""
    return f"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh_all AS (
      SELECT DISTINCT doc_id AS id, array_to_string(w[i+1:i+3], ' ') AS s
      FROM d, UNNEST(range(0, greatest(len(w) - 2, 1))) AS u(i)
      WHERE array_to_string(w[i+1:i+3], ' ') <> ''
    ),
    hot AS (
      SELECT s FROM sh_all GROUP BY s
      HAVING count(*) > {max_df_frac} * (SELECT count(*) FROM documents)
    ),
    sh AS (SELECT id, s FROM sh_all WHERE s NOT IN (SELECT s FROM hot)),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT id_a, id_b, c * 1.0 / (sa.n_sh + sb.n_sh - c) AS jaccard
      FROM common JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= {threshold}
    )"""


def _shingle_overlap(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df_frac: float | None
) -> tuple[DataFrame, DataFrame]:
    """(common, sizes): ``common`` is (id_a, id_b, n_common) — the shared
    hashed-shingle count of every doc pair with at least one shared
    shingle, from one self-join on the shingle — and ``sizes`` is (id, n)
    per-doc shingle counts. Shingles in more than ``max_df_frac`` of all
    docs are cut first (None: no cut); sizes count after the cut.

    Shape: the hot-shingle set is a partial-agg groupBy filtered to the
    (by construction tiny) over-threshold keys and removed with a
    broadcast anti-join — never a window over the full shingle frame,
    which would shuffle every row just to drop a handful of keys.
    Per-doc set sizes are a second partial-agg groupBy, joined onto the
    (already aggregated, much smaller) pair frame by the verify step.

    Cache lifecycle is the CALLER's: the result is lazy, so this
    operator cannot unpersist the shingle cache; long-lived sessions
    should clearCache() between invocations (bench.py does) or
    checkpoint instead.
    """
    # The shingle STRING only matters for equality — collapse it to an
    # 8-byte xxhash64 right after the explode, so the cache, the hot-set
    # aggregation, and above all the self-join shuffle move fixed-width
    # bigints instead of ~20-byte strings. A within-doc or cross-doc
    # collision would perturb one pair's intersection count; at 2^64
    # key space that is a ~1e-11 event corpus-wide.
    sh = shingles(df, id_col, text_col, n).select("id", F.xxhash64("shingle").alias("shingle"))
    # Cache BEFORE the stop-shingle cut: the hot-set scan, the per-doc
    # sizes, and both self-join sides all replay from this one explode
    # pass; caching after the cut would recompute the explode for the
    # hot scan and again for the cache fill (the r2 3.3x regression).
    # The anti-join itself is a broadcast hash probe over in-memory
    # rows, so replaying it per consumer costs no shuffle or scan.
    sh = sh.cache()
    if max_df_frac is not None:
        n_docs = df.count()  # parquet footer metadata for raw tables, not a data scan
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > F.lit(float(max_df_frac) * n_docs))
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    return _self_pairs(sh, ["shingle"], count_as="n_common"), sizes


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df_frac: float | None = 0.5,
) -> DataFrame:
    """All candidate pairs with shingle-Jaccard >= threshold (id_a < id_b).

    Exact verifier: join on shared shingles, count common, divide by union
    size. Output: (id_a, id_b, jaccard). At scale, feed this only LSH
    candidates (see minhash_lsh_candidates); with a selective shingle space
    the shared-shingle join is itself the pruning step.

    Stop-shingle cut: shingles present in more than `max_df_frac` of all
    docs (boilerplate headers, license blurbs) are dropped BEFORE the
    self-join — a hot shingle shared by f docs contributes f² join rows,
    so one boilerplate line repeated corpus-wide turns the join quadratic.
    Jaccard is then computed over the retained shingle universe (per-doc
    sizes counted after the cut — standard stopword-removal semantics).
    At small SF no shingle crosses a 0.5 df, so the cut is a no-op there;
    pass None to disable.
    """
    common, sizes = _shingle_overlap(df, id_col, text_col, n, max_df_frac)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return _verify(common, sizes, "jaccard", jac, F.col("jaccard") >= threshold, 4)


def deletion_neighborhood_keys(df: DataFrame, id_col: str = "id", name_col: str = "name") -> DataFrame:
    """1-deletion neighborhood block keys (SymSpell-style blocking).

    Each string emits itself plus every single-character-deletion variant
    as a block key. Two strings at Levenshtein distance <= 1 ALWAYS share
    a key (substitution at p: both delete p; insertion/deletion: the
    longer string's deletion equals the shorter string itself), so an
    equi-join on the key is a COMPLETE candidate generator for
    edit distance <= 1 — with per-variant blocks instead of hot prefix blocks.
    Returns (id, bkey); rows are distinct by construction — array_distinct
    dedupes variants inside each row, so no global distinct (and no
    shuffle) is needed, and the name column stays out of the frame so the
    self-join below moves only (id, bkey).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
    name = F.col("name")
    variants = F.transform(
        F.sequence(F.lit(0), F.length(name)),
        lambda i: F.when(i == F.lit(0), name).otherwise(
            F.concat(F.substring(name, F.lit(1), i - 1), F.substring(name, i + 1, F.length(name)))
        ),
    )
    return base.select("id", F.explode(F.array_distinct(variants)).alias("bkey"))


def _dist1_pairs(
    df: DataFrame, id_col: str, name_col: str, name: str, score: Column, keep: Column
) -> DataFrame:
    """Fuzzy name matching WITHOUT an all-pairs cross join: every pair
    within edit distance 1 (deletion-neighborhood blocking, complete for
    that radius — see deletion_neighborhood_keys) is a candidate, and
    ``score`` over name_a/name_b verifies it. Output: (id_a, id_b, name),
    id_a < id_b.

    The split of concerns is standard record linkage: BLOCKING bounds
    the candidate set (recall is the blocker's contract — dist<=1 here;
    widen with q-gram/LSH blocks for looser matching), the SCORER ranks
    and thresholds candidates.
    """
    # cache: both sides of the self-join scan this frame; without it the
    # explode + per-variant substring codegen runs twice (a 100 TB run
    # would checkpoint to cluster storage instead).
    # repartition BY BLOCK KEY before caching: the explode inherits the
    # source's partitioning (often one small file = ONE partition), so
    # without it the self-join probe and the pair emission run nearly
    # single-threaded; hashing on bkey both parallelizes and co-locates
    # equal keys (measured 2.5x on the JW scorer at sf0.1, 10s -> 4s)
    keys = deletion_neighborhood_keys(df, id_col, name_col).repartition("bkey").cache()
    # dedup candidates on the narrow (id_a, id_b) pair BEFORE touching
    # names: the distinct's shuffle then moves two longs per row, and the
    # name lookup joins run on the (much smaller) deduped pair set.
    cand = _self_pairs(keys, ["bkey"]).distinct()
    names = df.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
    return _verify(cand, names, name, score, keep)


def fuzzy_blocked_pairs(df: DataFrame, id_col: str = "id", name_col: str = "name") -> DataFrame:
    """Pairs within Levenshtein distance 1: (id_a, id_b, edit_dist),
    id_a < id_b. Blocking is complete for that radius only; for larger
    radii chain deletions or fall back to q-gram/LSH blocking."""
    lev = F.levenshtein("name_a", "name_b")
    return _dist1_pairs(df, id_col, name_col, "edit_dist", lev, F.col("edit_dist") <= 1)


def jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity, pinned to DuckDB's exact semantics so
    the scored pairs are value-oracle-checkable (0 mismatches > 1e-12
    over 40k randomized pairs vs jaro_winkler_similarity, incl. the
    DuckDB quirk that an EMPTY side scores 0.0 even for '' == ''):
    standard Jaro (match window floor(max/2)-1 clamped at 0, half
    transpositions), Winkler prefix boost p=0.1 over the first <=4
    chars, applied only when jaro > 0.7."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(max(l1, l2) // 2 - 1, 0)
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, ch in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0
    if j > 0.7:
        pfx = 0
        for a, b in zip(s1, s2):
            if a == b and pfx < 4:
                pfx += 1
            else:
                break
        j += pfx * 0.1 * (1.0 - j)
    return j


def jaro_winkler_np(s1s, s2s):
    """Batch Jaro-Winkler over two equal-length string sequences,
    bit-identical to :func:`jaro_winkler_py` (same IEEE operations in
    the same order — asserted exhaustively in tests/test_operators.py)
    but vectorized across the batch with numpy: the only sequential
    loop is over the <= max-name-length character positions of s1, so
    a 1M-pair candidate set scores in numpy time instead of 1M Python
    calls (measured ~6x on the sf0.1 blocked-candidate batch).

    Greedy window matching runs one argmax per (char position, batch);
    transpositions scatter matched chars into rank order; prefix boost
    is a 4-column cumprod. Memory is bounded by chunking in the caller
    (jaro_winkler_col scores <= 65536 rows per chunk)."""
    import numpy as np

    n = len(s1s)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    la = np.fromiter((len(x) for x in s1s), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in s2s), dtype=np.int64, count=n)
    live = (la > 0) & (lb > 0)
    if not live.any():
        return out
    L1, L2 = int(la.max()), int(lb.max())
    # one bulk encode of the NUL-padded concatenation (~12x the per-row
    # encode loop); NUL never appears in real tokens and is masked by
    # the length bounds everywhere below anyway
    A = np.frombuffer(
        "".join(s.ljust(L1, "\0") for s in s1s).encode("utf-32-le"), dtype=np.uint32
    ).reshape(n, L1)
    B = np.frombuffer(
        "".join(s.ljust(L2, "\0") for s in s2s).encode("utf-32-le"), dtype=np.uint32
    ).reshape(n, L2)

    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    jidx = np.arange(L2)[None, :]
    m1 = np.zeros((n, L1), dtype=bool)
    m2 = np.zeros((n, L2), dtype=bool)
    for i in range(L1):
        lo = np.maximum(0, i - w)[:, None]
        hi = np.minimum(lb, i + w + 1)[:, None]
        cand = (
            (jidx >= lo)
            & (jidx < hi)
            & (B == A[:, i : i + 1])
            & ~m2
            & (live & (i < la))[:, None]
        )
        found = cand.any(axis=1)
        j_star = cand.argmax(axis=1)
        m2[np.flatnonzero(found), j_star[found]] = True
        m1[:, i] = found

    m = m1.sum(axis=1)
    scored = live & (m > 0)
    if not scored.any():
        return out
    # transpositions: scatter matched chars into rank order, then count
    # rank-aligned mismatches (integer // 2, matching the scalar code)
    mm = int(m.max())
    M1 = np.zeros((n, mm), dtype=np.uint32)
    M2 = np.zeros((n, mm), dtype=np.uint32)
    r1 = np.cumsum(m1, axis=1) - 1
    r2 = np.cumsum(m2, axis=1) - 1
    rows1, cols1 = np.nonzero(m1)
    M1[rows1, r1[rows1, cols1]] = A[rows1, cols1]
    rows2, cols2 = np.nonzero(m2)
    M2[rows2, r2[rows2, cols2]] = B[rows2, cols2]
    rank_valid = np.arange(mm)[None, :] < m[:, None]
    t = ((M1 != M2) & rank_valid).sum(axis=1) // 2

    ms = m.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        j = (ms / la + ms / lb + (ms - t) / ms) / 3.0
    # Winkler boost over the first <= 4 common prefix chars
    P = min(4, L1, L2)
    if P > 0:
        eq = (A[:, :P] == B[:, :P]) & (np.arange(P)[None, :] < np.minimum(la, lb)[:, None])
        pfx = np.cumprod(eq, axis=1).sum(axis=1)
    else:
        pfx = np.zeros(n, dtype=np.int64)
    boost = j > 0.7
    j = np.where(boost, j + pfx * 0.1 * (1.0 - j), j)
    out[scored] = j[scored]
    return out


def jaro_winkler_col(a, b, single_eval: bool = False):
    """Arrow-batched Jaro-Winkler column over two string columns.

    Spark has no JW builtin (levenshtein only), so this is the
    documented pandas-UDF escape hatch — applied AFTER candidate
    blocking, never over a raw corpus, so the Python cost is paid on
    the (small) candidate set while the joins stay JVM-side.

    single_eval marks the UDF non-deterministic (it IS deterministic —
    the marker is purely an optimizer fence): when the scored column
    feeds BOTH a filter and the output projection, CollapseProject
    otherwise inlines the deterministic UDF into each consumer and the
    plan evaluates it TWICE (two ArrowEvalPython nodes — once over all
    candidates for the filter, again over survivors for the output).
    Set it whenever the score is filtered on; the only cost is losing
    cross-UDF optimizations that don't apply here (plan-asserted in
    tests/test_plans.py)."""

    @F.pandas_udf("double")
    def _jw(s1: pd.Series, s2: pd.Series) -> pd.Series:
        import numpy as np

        a = s1.fillna("").tolist()
        b = s2.fillna("").tolist()
        # chunk to bound the (rows x maxlen) match tensors
        parts = [
            jaro_winkler_np(a[i : i + 65536], b[i : i + 65536])
            for i in range(0, len(a), 65536)
        ] or [np.zeros(0, dtype=np.float64)]
        return pd.Series(np.concatenate(parts), index=s1.index, dtype="float64")

    fn = _jw.asNondeterministic() if single_eval else _jw
    return fn(a, b)


def fuzzy_jw_blocked_pairs(
    df: DataFrame, id_col: str = "id", name_col: str = "name", threshold: float = 0.9
) -> DataFrame:
    """Jaro-Winkler fuzzy matching over the edit-distance-1 candidates of
    fuzzy_blocked_pairs. JW rather than raw edit distance is the scorer
    of choice for name-grain entities (prefix-weighted, length-
    normalized). Output: (id_a, id_b, jw) with jw rounded to 6 dp so
    both engines' doubles agree at the comparison grain; id_a < id_b.
    """
    jw = F.round(jaro_winkler_col(F.col("name_a"), F.col("name_b"), single_eval=True), 6)
    return _dist1_pairs(df, id_col, name_col, "jw", jw, F.col("jw") >= threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    hash_fn: str = "xxhash",
) -> DataFrame:
    """MinHash signatures: num_perm seeded min-hashes per doc.

    One explode + one groupBy(id) with num_perm min() aggregates — a single
    shuffle on the doc id, partial-aggregated map-side. Returns
    (id, sig ARRAY<BIGINT>[num_perm]).

    hash_fn: 'xxhash' (default, fastest — engine-internal values) or
    'md5' (first 8 hex chars of md5(shingle:perm) as an integer — md5 is
    standardized, so signatures are reproducible by ANY engine and the
    whole MinHash→LSH pipeline becomes value-exact oracle-checkable).
    """
    sh = shingles(df, id_col, text_col, n)
    # one F.expr per permutation (not nested Column ops): the 64-perm
    # Column spelling cost ~500+ py4j round trips per build; the SQL
    # strings parse to the identical expressions (xxhash64 with an INT
    # seed literal / conv-substring-md5 over concat_ws with a string
    # literal), so signatures are bit-identical.
    if hash_fn == "xxhash":
        hexp = lambda p: f"xxhash64(shingle, {p})"  # noqa: E731
    elif hash_fn == "md5":
        hexp = lambda p: (  # noqa: E731
            f"CAST(conv(substring(md5(concat_ws(':', shingle, '{p}')), 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    aggs = [F.expr(f"min({hexp(p)})").alias(f"h{p}") for p in range(num_perm)]
    sig = sh.groupBy("id").agg(*aggs)
    arr = ", ".join(f"h{p}" for p in range(num_perm))
    return sig.select("id", F.expr(f"array({arr})").alias("sig"))


def minhash_lsh_candidates(
    sig_df: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    Each band hashes its signature elements directly as numeric columns
    (no string concat in the hot path); `sig[i]` is the zero-based
    getItem. Returns distinct (id_a, id_b) with id_a < id_b.
    """
    elems = [[f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)] for b in range(bands)]
    return _band_pairs(sig_df, [f"xxhash64({', '.join(e)})" for e in elems])


def exact_collapse(df: DataFrame, id_col: str, key) -> tuple[DataFrame, DataFrame]:
    """Collapse byte-identical rows before a near-dup pipeline.

    Returns (reps, membership): `reps` keeps one representative row (the
    min id) per distinct `key` value; `membership` maps (_rep, _member)
    for every input row. Identical rows are the LSH worst case — they
    collide in EVERY band, so a cluster of k identical docs costs
    k²·bands candidate rows; collapsing first makes that cost k·0 and is
    exactly what a production 100 TB pipeline does (exact dedup pass
    before near-dedup). expand_pairs() restores the full pair set, so
    collapse is output-invariant.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    keyed = df.select(F.col(id_col).alias("_m"), key_col.alias("_k"))
    # membership WITHOUT collect_list: a mega-cluster of identical
    # boilerplate (the exact skew case this pass targets) would pile
    # millions of ids into one aggregation row. min() partial-aggregates
    # map-side; the join back fans out to (_rep, _member) rows that stay
    # distributed, and AQE splits the hot key if one digest dominates.
    reps_map = keyed.groupBy("_k").agg(F.min("_m").alias("_rep"))
    membership = keyed.join(reps_map, "_k").select("_rep", F.col("_m").alias("_member"))
    reps = df.join(
        reps_map.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )
    return reps, membership


def expand_pairs(
    pairs: DataFrame,
    membership: DataFrame,
    score_col: str,
    exact_score,
    max_group_pairs: int | None = None,
) -> DataFrame:
    """Inverse of exact_collapse for pair outputs: map representative
    pairs back to all member pairs, and emit intra-cluster pairs (the
    byte-identical ones) with the exact-match score. Pair identity
    (id_a < id_b) is preserved; no pair is emitted twice because each id
    belongs to exactly one cluster.

    max_group_pairs caps the quadratic blow-up: full expansion of a
    k-member cluster costs C(k,2) intra pairs (and k·m cross pairs
    against an m-member cluster) — a pathological 10⁶-copy cluster
    (think: 10⁶ crawls of an empty page) would emit ~5·10¹¹ rows from
    one group. With the cap set, clusters whose intra-pair count would
    exceed it switch to REPRESENTATIVE form: intra pairs become the
    (rep, member) star (k−1 rows — the same dedup decision, since every
    member is an exact copy of the rep), and cross pairs keep only the
    representative. Below the cap the pair contract is unchanged.
    None (default) expands everything.
    """
    if max_group_pairs is not None:
        import math

        # largest k with C(k,2) <= max_group_pairs
        size_cutoff = (1 + math.isqrt(1 + 8 * max_group_pairs)) // 2
        sized = membership.join(
            membership.groupBy("_rep").agg(F.count(F.lit(1)).alias("_k")), "_rep"
        )
        small = sized.filter(F.col("_k") <= size_cutoff).select("_rep", "_member")
        big = sized.filter(F.col("_k") > size_cutoff)
        # cross expansion: capped clusters participate via their rep only
        cross_members = small.unionByName(
            big.select("_rep", F.col("_rep").alias("_member")).distinct()
        )
        # intra for capped clusters: the (rep, member) star — rep is the
        # min id, so id_a < id_b holds by construction
        star = big.filter(F.col("_member") != F.col("_rep")).select(
            F.col("_rep").alias("id_a"),
            F.col("_member").alias("id_b"),
            F.lit(exact_score).cast("double").alias(score_col),
        )
    else:
        small = cross_members = membership
        star = None
    ma = cross_members.select(F.col("_rep").alias("id_a"), F.col("_member").alias("_a"))
    mb = cross_members.select(F.col("_rep").alias("id_b"), F.col("_member").alias("_b"))
    cross = (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            F.col(score_col),
        )
    )
    x, y = small.alias("x"), small.alias("y")
    intra = x.join(
        y, (F.col("x._rep") == F.col("y._rep")) & (F.col("x._member") < F.col("y._member"))
    ).select(
        F.col("x._member").alias("id_a"),
        F.col("y._member").alias("id_b"),
        F.lit(exact_score).cast("double").alias(score_col),
    )
    out = cross.unionByName(intra)
    return out.unionByName(star) if star is not None else out


def _collapsed(
    df: DataFrame,
    id_col: str,
    ok: Column,
    content: Column,
    core,
    score_col: str,
    max_group_pairs: int | None,
    checkpoint: bool = False,
) -> DataFrame:
    """exact_collapse → ``core`` → expand_pairs: run the pair pipeline
    ``core`` (a function of the representative frame) on byte-identical
    ``content`` once, then re-expand. Rows where ``ok`` is false
    (content that never pairs) stay singleton clusters, so the collapse
    is output-invariant: identical content pairs at exactly 1.0 either
    way, but costs linear instead of quadratic·bands on exact-dup
    clusters. ``checkpoint`` truncates the reps and membership lineage
    (see srp_near_dup_pairs); max_group_pairs bounds the re-expansion of
    pathological exact-dup clusters (see expand_pairs)."""
    singleton = F.concat(F.lit("_s"), F.col(id_col).cast("string"))
    key = F.when(ok, F.sha2(content, 256)).otherwise(singleton)
    reps, membership = exact_collapse(df, id_col, key)
    if checkpoint:
        reps = reps.localCheckpoint(eager=True)
        membership = membership.localCheckpoint(eager=True)
    return expand_pairs(core(reps), membership, score_col, 1.0, max_group_pairs)


def _minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    bands: int,
    threshold: float,
    hash_fn: str,
) -> DataFrame:
    """minhash_dedup_pairs without the exact collapse."""
    sig = minhash_signatures(df, id_col, text_col, n, num_perm, hash_fn).cache()
    cand = minhash_lsh_candidates(sig, bands, num_perm // bands)
    agree = F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    est = F.size(agree) / F.lit(num_perm)
    return _verify(cand, sig, "est_jaccard", est, F.col("est_jaccard") >= threshold, 4)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash",
    max_group_pairs: int | None = None,
) -> DataFrame:
    """Full MinHash near-dup pipeline: exact-collapse → signatures → LSH
    candidates → signature-similarity estimate filter. Returns
    (id_a, id_b, est_jaccard).

    The collapse pre-groups byte-identical texts (sha2 digest) and runs
    LSH on unique texts only (identical texts have identical signatures,
    so their pairs score exactly 1.0 either way). Null/empty texts have
    no shingles and never pair, so they stay singletons. max_group_pairs
    bounds the re-expansion of pathological exact-dup clusters (see
    expand_pairs).
    """
    ok = F.length(F.coalesce(F.col(text_col), F.lit(""))) > 0
    return _collapsed(
        df,
        id_col,
        ok,
        F.col(text_col),
        lambda reps: _minhash_pairs(reps, id_col, text_col, n, num_perm, bands, threshold, hash_fn),
        "est_jaccard",
        max_group_pairs,
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash",
) -> DataFrame:
    """SimHash over word tokens (majority vote per bit of token hashes).

    Computed as one explode + one groupBy(id) with `bits` signed-count
    aggregates — all JVM bit-ops, partial-aggregated. Returns
    (id, simhash BIGINT).

    hash_fn: 'xxhash' (default, 64-bit, engine-internal values) or 'md5'
    (60-bit token hash from the first 15 hex chars — standardized, so
    any engine reproduces the exact simhash; bits is forced to 60 to
    stay inside signed-64 range in every engine's integer parser).
    """
    toks = df.select(F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    if hash_fn == "xxhash":
        h = toks.withColumn("th", F.xxhash64("tok"))
    elif hash_fn == "md5":
        bits = min(bits, 60)
        h = toks.withColumn(
            "th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # one F.expr per aggregate (and ONE for the bit recombination) —
    # the Column-op spelling of this 60-64-term tree cost ~10k py4j
    # round trips ≈ 2.5 s of driver time PER BUILD (cProfile; bench
    # times include build). The SQL strings parse to the identical
    # Catalyst expressions: CASE WHEN (shiftright(th,i) & 1) = 1 THEN 1
    # ELSE -1 END under sum, and the left-associative Add chain of
    # CASE WHEN b_i > 0 THEN shiftleft(1L,i) ELSE 0L END terms.
    bit_aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(th, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = h.groupBy("id").agg(*bit_aggs)
    terms = [
        (
            f"(CASE WHEN b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            "ELSE CAST(0 AS BIGINT) END)"
            if i < 63
            else
            # Long.MIN_VALUE spelled as an expression: the bare literal
            # -9223372036854775808 would parse as (- DECIMAL) and overflow
            f"(CASE WHEN b{i} > 0 THEN CAST(-9223372036854775807 AS BIGINT) - CAST(1 AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
        )
        for i in range(bits)
    ]
    return votes.select("id", F.expr(" + ".join(terms)).alias("simhash"))


def simhash_near_pairs(sim_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via 4×16-bit block banding.

    Pigeonhole: hamming <= 3 over 64 bits => at least one of the four
    16-bit blocks is identical; the band join on (block_idx, block_value)
    finds all such candidates without the O(n²) pair space, then
    bit_count(XOR) verifies. Returns (id_a, id_b, hamming).
    """
    blocks = [f"shiftright(simhash, {i * 16}) & 65535" for i in range(4)]
    cand = _band_pairs(sim_df, blocks, carry=("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return _verify(cand, None, "hamming", hamming, F.col("hamming") <= max_hamming)


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    blocks: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold (id_a < id_b). EXACT.

    Distributed block-pair GEMM — no driver materialization: vectors are
    hashed into `blocks` buckets, every unordered bucket pair (i<=j)
    becomes one applyInPandas group whose task GEMMs bucket_i × bucket_j
    (one BLAS call per task). Each vector is replicated blocks+1 times
    (explode, no driver round-trip); total FLOPs stay O(n²/2) but spread
    over blocks·(blocks+1)/2 even tasks — set blocks ≈ sqrt(2·cores) so
    every executor core gets one GEMM. An unordered pair lands in exactly
    one group (its blocks sorted), so output is exact and duplicate-free.

    This is the verifier for thresholds INSIDE the background cosine
    bulk, where LSH cannot separate candidates (in/out pairs differ by
    ~1e-3 cosine). For the production near-dup regime (threshold >= ~0.8,
    duplicates well above the bulk) use srp_near_dup_pairs, which prunes
    the O(n²) pair space with signed-random-projection LSH first.
    """
    import numpy as np
    import pandas as pd

    v = df.where(vec_ok(F.col(vec_col))).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).alias("blk"),
    )
    # role a: this vector's block is the LOWER block of the pair
    a_rep = v.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(blocks - 1))).alias("bj"),
        "id",
        "v",
        F.lit("a").alias("role"),
    )
    # role b: this vector's block is the UPPER block of the pair
    b_rep = v.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        "id",
        "v",
        F.lit("b").alias("role"),
    )
    both = a_rep.unionByName(b_rep)

    def gemm(key, pdf):
        bi, bj = key
        a = pdf[pdf["role"] == "a"]
        b = pdf[pdf["role"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        A = np.array(a["v"].tolist(), dtype=np.float64)
        B = np.array(b["v"].tolist(), dtype=np.float64)
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        S = An @ Bn.T
        ia, jb = np.where(S >= threshold)
        ids_a = a["id"].values[ia]
        ids_b = b["id"].values[jb]
        cos = S[ia, jb]
        if bi == bj:  # same set on both sides: keep each unordered pair once
            keep = ids_a < ids_b
            ids_a, ids_b, cos = ids_a[keep], ids_b[keep], cos[keep]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos})

    out = both.groupBy("bi", "bj").applyInPandas(gemm, "id_a long, id_b long, cosine double")
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def srp_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 192,
    seed: int = 7,
) -> DataFrame:
    """Signed-random-projection bit signatures for cosine LSH.

    A (dim × n_planes) Gaussian plane matrix is generated deterministically
    on the driver (tiny) and broadcast; each Arrow batch does ONE GEMM
    against it and emits the sign bits. Returns (id, sig ARRAY<BIGINT>)
    with one 0/1 element per plane — the same layout minhash_lsh_candidates
    bands over, so the banding/bucket-join machinery is shared.

    P(bit match) = 1 - angle/pi, so SRP-LSH separates well when duplicate
    cosine >> background cosine (the production near-dup regime).
    """
    import numpy as np
    import pandas as pd

    df = df.where(vec_ok(F.col(vec_col)))  # NULL vectors carry no geometry
    probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe is None:  # empty corpus
        return df.sparkSession.createDataFrame([], "id long, sig array<bigint>")
    dim = probe["d"]
    planes = np.random.default_rng(seed).standard_normal((dim, n_planes))
    b_planes = df.sparkSession.sparkContext.broadcast(planes)

    def sign_bits(batches):
        P = b_planes.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            bits = (V @ P >= 0).astype(np.int64)  # (batch, n_planes)
            yield pd.DataFrame({"id": pdf["id"].values, "sig": list(bits)})

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    return v.mapInPandas(sign_bits, "id long, sig array<bigint>")


def _srp_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, n_planes: int, bands: int, seed: int
) -> DataFrame:
    """srp_near_dup_pairs without the exact collapse."""
    from etl_file_sync_spark.operators.similarity import cosine_expr

    # both band sides of the candidate self-join consume the signatures;
    # checkpointing runs the SRP GEMM once instead of once per side
    # (measured interleaved: 6.1 -> 4.7 s min-of-4 with the collapse
    # checkpoints; outputs frame-equal)
    sig = srp_signatures(df, id_col, vec_col, n_planes, seed).localCheckpoint(eager=True)
    cand = minhash_lsh_candidates(sig, bands, n_planes // bands)
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    cos = cosine_expr(F.col("v_a"), F.col("v_b"))
    return _verify(cand, v, "cosine", cos, F.col("cosine") >= threshold, 4)


def srp_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 192,
    bands: int = 16,
    seed: int = 7,
    max_group_pairs: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via SRP-LSH candidates + exact verify.

    The 100 TB path: bit signatures → band bucket equi-join (shuffles on
    (band, band_hash), never the O(n²) pair space) → exact cosine on the
    candidates only (JVM zip_with fold — the candidate set is tiny).
    Approximate-recall by nature (tuned ≥0.99 at threshold 0.9 with the
    defaults: 16 bands × 12 bits); use embedding_dup_pairs when the
    threshold sits inside the background cosine bulk.

    Byte-identical vectors are collapsed first (grouped on a digest of
    the raw array) so replicas cost one signature instead of colliding
    in every band; identical vectors pair at cosine exactly 1.0. Zero-
    norm vectors have null cosine (never pair) and stay singletons.
    max_group_pairs bounds the re-expansion (see expand_pairs).
    """
    vd = F.col(vec_col).cast("array<double>")
    norm_sq = F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x)
    # checkpoint (the r6 phash lesson): reps feeds THREE consumers (the
    # signature GEMM and both exact-verify sides) and membership three
    # more (expand's ma/mb/intra) — without the checkpoint each
    # broadcast-subtree job re-executes the collapse shuffle + per-row
    # sha digest (stage probe: ~9 broadcast jobs re-running the shared
    # lineage, most of this query's CPU). Exchange reuse does not fire
    # across these subtrees because the broadcast sides re-plan the
    # lineage without an exchange.
    return _collapsed(
        df,
        id_col,
        norm_sq > 0,
        F.concat_ws(",", F.col(vec_col).cast("array<string>")),
        lambda reps: _srp_pairs(reps, id_col, vec_col, threshold, n_planes, bands, seed),
        "cosine",
        max_group_pairs,
        checkpoint=True,
    )


def paragraph_segments(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", seg_tokens: int = 20
) -> DataFrame:
    """Fixed-width token segments ("paragraphs") per document:
    (id, seg_idx, seg). Only complete segments are emitted — the ragged
    tail is never dedup material. Built with slice() over the token
    array (no per-token explode; one array op per row, then one explode
    per segment; see _token_windows)."""
    n_segs = F.floor(F.size("_toks") / seg_tokens).cast("int")
    base, segs = _token_windows(df, id_col, text_col, seg_tokens, n_segs - 1, stride=seg_tokens)
    return base.where(n_segs > 0).select("id", F.posexplode(segs).alias("seg_idx", "seg"))


def paragraph_dup_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", seg_tokens: int = 20
) -> DataFrame:
    """Per-document segment-level dedup audit — the CCNet/RefinedWeb-style
    paragraph dedup pass at fixed token grain. The FIRST occurrence of
    each segment text (ordered by (id, seg_idx)) is canonical; later
    occurrences are duplicates slated for removal.

    Returns (id, n_segs, n_dup_segs, tokens_removed, dup_frac).

    Scale shape: one shuffle on the segment text (the row_number window;
    at 100 TB hash the segment to a 128-bit digest first so the shuffle
    key is fixed-width), then one partial-agg groupBy(id). No pairwise
    joins anywhere — segment dedup is linear, which is exactly why
    pretraining pipelines run it before any fuzzy doc-level pass.
    """
    from pyspark.sql import Window as W

    segs = paragraph_segments(df, id_col, text_col, seg_tokens)
    w = W.partitionBy("seg").orderBy("id", "seg_idx")
    flagged = segs.withColumn("dup", F.row_number().over(w) > 1)
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.col("dup").cast("long")).alias("n_dup_segs"),
        )
        .select(
            "id",
            "n_segs",
            "n_dup_segs",
            (F.col("n_dup_segs") * seg_tokens).alias("tokens_removed"),
            F.round(F.col("n_dup_segs") / F.col("n_segs"), 4).alias("dup_frac"),
        )
    )


def ngram_span_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", window: int = 8
) -> DataFrame:
    """Cross-document substring-duplication audit (the span-level exact
    dedup of "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022, re-expressed relationally): every `window`-token
    sliding span of every doc, counted as duplicated when the identical
    span also appears in at least one OTHER doc.

    Returns (id, n_windows, n_dup_windows, dup_frac) — docs shorter than
    `window` tokens report 0/0/0.0.

    Shape: one explode of size ~|tokens| per doc, one distinct+groupBy
    over the span key for cross-doc counts, one broadcast-ish semi join
    back. The span string is the join key in both engines, so the result
    is value-exact oracle-checkable; a 100 TB run would hash spans to
    bigints first (see _shingle_overlap) and accept the ~1e-11 collision.
    """
    base, spans = _token_windows(df, id_col, text_col, window, F.size("_toks") - window)
    occ = (
        base.where(F.size("_toks") >= window)
        .select("id", F.explode(spans).alias("span"))
        # three consumers (shared-set, dup counts, totals) — one explode
        # pass. Cache lifecycle is the CALLER's (see _shingle_overlap).
        .cache()
    )
    shared = (
        occ.distinct()
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= 2)
        .select("span")
    )
    dup = occ.join(shared, "span", "left_semi").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    totals = occ.groupBy("id").agg(F.count(F.lit(1)).alias("n_windows"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(totals, "id", "left")
        .join(dup, "id", "left")
        .select(
            "id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directional shingle containment |A∩B| / |A| — catches quotes,
    excerpts, and test-set contamination that symmetric Jaccard misses
    (a 50-token quote inside a 5000-token doc has tiny Jaccard but
    containment ≈ 1 in the quote's direction).

    Returns (id_a, id_b, n_common, containment) for ordered pairs where
    the SMALLER side's containment crosses `threshold` — containment is
    max(c/|A|, c/|B|), reported with id_a < id_b. Same shuffle shape as
    jaccard_pairs (one hashed-shingle self-join, never all-pairs), but
    without the stop-shingle cut.
    """
    common, sizes = _shingle_overlap(df, id_col, text_col, n, None)
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    keep = F.col("containment") >= threshold
    return _verify(common, sizes, "containment", cont, keep, 4, ["n_common"])


def semantic_dedup_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    sign_bits: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023) with a
    DETERMINISTIC blocking key: vectors are bucketed by the sign pattern
    of their first `sign_bits` coordinates (the zero-cost stand-in for
    the paper's k-means cell assignment — same contract: candidates are
    compared only within a cluster), pairwise exact cosine runs inside
    each bucket only, and a vector is DROPPED when some same-bucket
    vector with a SMALLER id is within `threshold` cosine (min-id
    survivor rule — greedy, order-deterministic, and exactly restatable
    in SQL, which keeps the whole operator value-oracle-checkable —
    unlike seeded k-means).

    Returns (id, bucket, status 'keep'|'drop') for every input vector.

    Scale shape: the bucket equi-join bounds pair work at O(Σ b²) over
    bucket sizes — at 100 TB raise `sign_bits` (k buckets = 2^bits) the
    same way SemDeDup raises k; the join/cosine/aggregation are all JVM
    expressions (zip_with / aggregate), no Python, no cross join.
    """
    bucket = F.concat_ws(
        "", *[(F.col(vec_col)[i] > 0).cast("int").cast("string") for i in range(sign_bits)]
    )
    # NULL vectors carry no semantics to compare — dropped up front,
    # matching the engine-wide embedding-op posture (and the oracle's
    # embedding IS NOT NULL guard)
    df = df.where(vec_ok(F.col(vec_col)))
    # Norm is computed ONCE per vector here — recomputing it per pair
    # would re-run a 64-element aggregate 2× for every candidate pair.
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        bucket.alias("bucket"),
        F.sqrt(
            F.aggregate(
                F.col(vec_col).cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("nrm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("nrm_a") * F.col("nrm_b"))
    cand = _self_pairs(v, ["bucket"], carry=("v", "nrm"))
    dominated = (
        _verify(cand, None, "cos", cos, F.col("cos") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        v.join(dominated.withColumn("_drop", F.lit(1)), "id", "left")
        .select(
            "id",
            "bucket",
            F.when(F.col("_drop").isNotNull(), "drop").otherwise("keep").alias("status"),
        )
    )
