"""Poked data tiers as one declarative table, plus their synthesizer.

Each ``TIERS`` entry is data: where the tier's rows come from (a
testdata directory, or another tier for a composed chain), the SQL
that rewrites some of its tables (every other table is copied), the
sanity checks a synthesized tier must pass, and how the oracle sweep
in tests/test_tiers.py treats it (query subset, comparator, oracle
views, known divergences). The comment above each entry says which
divergence class the tier hunts and what it has caught.

A rewrite is a DuckDB query over views named after the source tables
(so a rewrite may join its own table, as the boundary tier's
neighbour-duplication does); a list of queries writes the table as a
directory of part files; a callable builds the query from the open
connection (the null_opt projection needs the source's DESCRIBE).
Synthesis is deterministic, so both engines read byte-identical
parquet and any oracle divergence is a real semantic difference.

Triage a new tier by adding one entry and running
``pytest tests/test_tiers.py -m slow -k <tier>``.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import unicodedata
from dataclasses import dataclass, field
from typing import Callable, Union

import duckdb

from etl_file_sync_spark.catalog import DEFAULT_SF_DIR, TABLES
from etl_file_sync_spark.queries import REGISTRY

# the organic testdata tiers sit next to the catalog's default tier
SF0001 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
SF001 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")

ORACLED = tuple(sorted(n for n, q in REGISTRY.items() if q.oracle is not None))
ORACLE_LESS = tuple(sorted(n for n, q in REGISTRY.items() if q.oracle is None))

Rewrite = Union[str, list, Callable[[duckdb.DuckDBPyConnection], str]]


@dataclass(frozen=True)
class Tier:
    rewrite: dict[str, Rewrite] = field(default_factory=dict)
    #: a testdata directory, or the name of the tier this one rewrites
    source: str = SF0001
    #: (SQL boolean over the synthesized tables, message when it is false)
    checks: tuple[tuple[str, str], ...] = ()
    #: queries swept for oracle parity
    queries: tuple[str, ...] = ORACLED
    #: oracle-less queries that must run and emit no NULL cell
    rows_only: tuple[str, ...] = ()
    #: every registered query must also run crash-free, schema-stable, NaN-free
    survives: bool = False
    #: compare with the relaxed comparator (all-NULL-on-both columns skip dtype)
    relaxed: bool = False
    #: oracle views read non-finite floats as NULL (the engine's scan contract)
    finite_oracle: bool = False
    #: query -> reason it is skipped on this tier
    known_divergent: dict[str, str] = field(default_factory=dict)


def _replace(table: str, **exprs: str) -> str:
    """``SELECT * REPLACE (<expr> AS <col>, ...)``: poke columns in place."""
    cols = ", ".join(f"{e} AS {c}" for c, e in exprs.items())
    return f"SELECT * REPLACE ({cols}) FROM {table}"


def _case(col: str, key: str, mod: int, pokes: dict[int, str]) -> str:
    """Rows whose ``key % mod`` is a poked class get that class's SQL value."""
    whens = " ".join(f"WHEN {key} % {mod} = {k} THEN {v}" for k, v in pokes.items())
    return f"CASE {whens} ELSE {col} END"


def _lit(s: str | None) -> str:
    return "NULL" if s is None else "'" + s.replace("'", "''") + "'"


# ---- rewrites shared by more than one tier ----------------------------

_SKEW = {
    "events": _replace(
        "events", user_id="CASE WHEN event_id % 5 != 0 THEN CAST(7 AS BIGINT) ELSE user_id END"
    ),
    "orders": _replace(
        "orders", o_custkey="CASE WHEN o_orderkey % 2 = 0 THEN CAST(1 AS BIGINT) ELSE o_custkey END"
    ),
    "lineitem": _replace(
        "lineitem",
        l_partkey="CASE WHEN l_orderkey % 10 < 3 THEN CAST(1 AS BIGINT) ELSE l_partkey END",
    ),
    "documents": _replace(
        "documents", source="CASE WHEN doc_id % 5 != 2 THEN 'src0' ELSE source END"
    ),
}


def _xid(col: str) -> str:
    """f(id) = -(id+1) when id % 5 = 0, 2^62 + id when id % 5 = 1, else id."""
    return (
        f"CASE WHEN {col} % 5 = 0 THEN -({col} + 1) "
        f"WHEN {col} % 5 = 1 THEN 4611686018427387904 + {col} ELSE {col} END"
    )


_NBSP, _IDEO, _ZWJ, _RLM = "\xa0", "\u3000", "\u200d", "\u200f"
_NFC = "café résumé naïve"
# doc_id % 97 -> (mode, payload): 'set' replaces the text outright;
# 'append' adds the payload after a plain ASCII space so the organic
# prefix (and every ASCII-only convention) keeps a foothold in the row.
# Invisible separators are spelled as escapes and the NFD class is
# derived with unicodedata so the codepoints survive any transcoding.
_DOC_POKES = {
    3: ("set", ""),  # empty string (not NULL) -> zero tokens
    7: ("set", "   "),  # whitespace-only
    11: ("set", f"data{_NBSP}engine{_NBSP}spark row"),  # NBSP inside one "word"
    13: ("append", _NFC),  # NFC precomposed accents
    17: ("append", unicodedata.normalize("NFD", _NFC)),  # same words, NFD
    19: ("append", "straße MAß GROSS"),  # upper(ß) is one-to-many 'SS'
    23: ("append", "İstanbul ılık I i"),  # Turkish dotted/dotless i
    29: ("append", "数据处理引擎的规模"),  # unspaced CJK
    31: ("append", f"שלום עליכם{_RLM}"),  # Hebrew + right-to-left mark
    37: ("append", f"\U0001f469{_ZWJ}\U0001f469{_ZWJ}\U0001f467 \U0001f680 "
                   "\U0001d518\U0001d52b\U0001d526"),  # ZWJ family, astral fraktur
    41: ("append", "z\u0301\u0302\u0303\u0304\u0305\u0306\u0307algo"),  # zalgo stack
    43: ("set", "\t\n mixed\twhitespace\nlines \r\n"),  # control whitespace
    47: ("append", "⅛ ½ Ⅻ ﬁﬂ ŉ"),  # fractions, numeral, ligatures, apostrophe-n
    53: ("append", "Σίσυφος ΟΔΥΣΣΕΥΣ"),  # final sigma and an all-caps sigma word
    59: ("append", f"{_IDEO}wide{_IDEO}space{_IDEO}"),  # ideographic spaces
}
# visually identical, byte-different: distinct tokens to any exact matcher
assert _DOC_POKES[17][1] != _DOC_POKES[13][1]

# columns the null_opt tier keeps (join keys / row identity); one_row
# orders by the alphabetically first of them
_KEEP = {
    "region": {"r_regionkey"},
    "nation": {"n_nationkey", "n_regionkey"},
    "customer": {"c_custkey", "c_nationkey"},
    "supplier": {"s_suppkey", "s_nationkey"},
    "part": {"p_partkey"},
    "orders": {"o_orderkey", "o_custkey"},
    "lineitem": {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"},
    "events": {"event_id", "user_id"},
    "documents": {"doc_id"},
    "embeddings": {"vec_id"},
}


def _null_opt(table: str, con: duckdb.DuckDBPyConnection) -> str:
    """Keep the key columns; every other column becomes a typed NULL."""
    cols = con.sql(f"DESCRIBE SELECT * FROM {table}").fetchall()
    proj = ", ".join(
        c if c in _KEEP[table] else f"CAST(NULL AS {typ}) AS {c}" for c, typ, *_ in cols
    )
    return f"SELECT {proj} FROM {table}"


# unique row key per table: the shuffled tier's permutation and file
# split are both deterministic functions of it
_ROW_KEY = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _shuffle(table: str) -> list[str]:
    """Bucket by one md5 hex digit into 3 part files, permute within a
    bucket by the full digest: both stable across runs and engines."""
    key = " || ':' || ".join(f"CAST({k} AS VARCHAR)" for k in _ROW_KEY[table])
    return [
        f"SELECT * FROM {table} WHERE (ascii(substr(md5({key}), 1, 1)) % 3) = {i} "
        f"ORDER BY md5({key})"
        for i in range(3)
    ]


_BOUNDARY_DUP = """
    SELECT a.{id},
           CASE WHEN a.{id} % {mod} = 1 AND b.{col} IS NOT NULL
                THEN b.{col} ELSE a.{col} END AS {col}, {rest}
    FROM {table} a LEFT JOIN {table} b ON b.{id} = a.{id} - 1
    ORDER BY 1
"""

TIERS: dict[str, Tier] = {
    # Boundary/tie: every cut lands ON an edge, every rank has a tie.
    # The organic tiers are continuous-uniform: no two rows tie and no
    # value sits on a boundary, so `>` vs `>=`, [start, end) window
    # edges, rank tiebreaks, percentile-interpolation midpoints and
    # half-up vs half-even rounding are all invisible (the shuffled tier
    # only catches nondeterminism that organic ties realize; there are
    # none). This tier forces the tie at every cut:
    # * events.ts: 12.5 % snapped to a 6-hour grid (exact-equal
    #   collisions, also within one user), 12.5 % to the 15-minute grid
    #   (exact tumbling-window starts), ~6 % to midnight: duplicate event
    #   times (ORDER BY ts alone no longer defines an order), session gaps
    #   exactly at the timeout, day-boundary events for cohort/retention
    #   cutoffs, as-of join ties at exactly-equal timestamps;
    # * events.value: round(v)+0.5 (the half-integer rounding cliff and
    #   the percentile-interpolation midpoint), floor(v/25)*25 (a coarse
    #   grid -> ties at every quantile cut, equi-depth edge and top-k
    #   threshold), round(v,1)+0.05 (the cents cliff under IEEE doubles);
    # * orders.o_totalprice on thousand/five-hundred grids (+0.5 on one
    #   class) so revenue rankings tie exactly AT top-k cuts;
    #   o_orderdate -> first-of-month for date_trunc / BETWEEN edges;
    # * lineitem: l_discount pinned to exactly 0.05 / 0.07 (the TPC-H q6
    #   BETWEEN edges), l_quantity to exactly 24 (the q6 `< 24` edge),
    #   l_shipdate to month starts, l_extendedprice to half-integers;
    # * documents: every doc_id % 13 == 1 gets the TEXT of doc_id-1
    #   (n_chars recomputed): exact-duplicate pairs crossing source/lang,
    #   so dedup keep-best reps tie on every text metric and
    #   leakage/containment hit jaccard == 1.0 exactly;
    # * embeddings: every vec_id % 4 == 1 gets the VECTOR of vec_id-1:
    #   cosine exactly 1.0 pairs — top-k ties at the cut, near-dup
    #   thresholds hit with equality, identical LSH band hashes.
    # A query that orders through a tie without a deterministic
    # tiebreak, or whose oracle disagrees with the engine about which
    # side of an edge a boundary value falls on, mismatches here and
    # nowhere else.
    "boundary": Tier(
        rewrite={
            "events": _replace(
                "events",
                ts="""CASE WHEN event_id % 8 = 0 THEN time_bucket(INTERVAL 6 HOUR, ts)
                           WHEN event_id % 8 = 4 THEN time_bucket(INTERVAL 15 MINUTE, ts)
                           WHEN event_id % 16 = 1 THEN date_trunc('day', ts)
                           ELSE ts END""",
                value="""CAST(CASE WHEN event_id % 7 = 0 THEN round(value, 0) + 0.5
                                   WHEN event_id % 7 = 1 THEN floor(value / 25) * 25
                                   WHEN event_id % 17 = 2 THEN round(value, 1) + 0.05
                                   ELSE value END AS DOUBLE)""",
            ) + " ORDER BY 1",
            "orders": _replace(
                "orders",
                o_totalprice="""CAST(CASE
                    WHEN o_orderkey % 3 = 0 THEN floor(o_totalprice / 1000) * 1000 + 0.5
                    WHEN o_orderkey % 3 = 1 THEN floor(o_totalprice / 500) * 500
                    ELSE o_totalprice END AS DOUBLE)""",
                o_orderdate="""CASE WHEN o_orderkey % 5 = 0
                                    THEN date_trunc('month', o_orderdate)
                                    ELSE o_orderdate END""",
            ) + " ORDER BY 1",
            "lineitem": _replace(
                "lineitem",
                l_discount="""CAST(CASE WHEN l_orderkey % 4 = 0 THEN 0.05
                                        WHEN l_orderkey % 4 = 1 THEN 0.07
                                        ELSE l_discount END AS DOUBLE)""",
                l_quantity="CAST(CASE WHEN l_orderkey % 3 = 0 THEN 24.0 ELSE l_quantity END AS DOUBLE)",
                l_shipdate="""CASE WHEN l_orderkey % 6 = 0
                                   THEN date_trunc('month', l_shipdate) ELSE l_shipdate END""",
                l_extendedprice="""CAST(CASE WHEN l_orderkey % 8 = 2
                                             THEN round(l_extendedprice, 0) + 0.5
                                             ELSE l_extendedprice END AS DOUBLE)""",
            ) + " ORDER BY 1",
            "documents": _BOUNDARY_DUP.format(
                table="documents", id="doc_id", mod=13, col="text",
                rest="""a.lang, a.source,
                        length(CASE WHEN a.doc_id % 13 = 1 AND b.text IS NOT NULL
                                    THEN b.text ELSE a.text END) AS n_chars""",
            ),
            "embeddings": _BOUNDARY_DUP.format(
                table="embeddings", id="vec_id", mod=4, col="embedding", rest="a.label"
            ),
        },
        checks=(
            ("SELECT count(*) - count(DISTINCT ts) > 50 FROM events",
             "tier has no timestamp ties"),
            ("SELECT count(*) - count(DISTINCT (user_id, ts)) > 5 FROM events",
             "tier has no within-user ts ties"),
            ("SELECT count(*) > 100 FROM embeddings a JOIN embeddings b"
             " ON a.vec_id = b.vec_id + 1 AND a.embedding = b.embedding",
             "tier has no duplicate vectors"),
        ),
    ),
    # Numerical conditioning: huge ADDITIVE offsets, organic spreads
    # (events.value and c_acctbal + 1e9, o_totalprice + 1e8). A
    # multiplicative scale (the stress tier) leaves the relative
    # conditioning of every second-moment statistic unchanged; an
    # additive offset is the cancellation killer: spreads stay ~1e2
    # while means move to 1e9, so the textbook one-pass spellings
    # (Σx² − (Σx)²/n, Σxy − ΣxΣy/n, θ̄ − θ) subtract ~1e21-scale terms and
    # cancel ~15 of 16 significant digits; what remains is summation-
    # order noise, which differs between Spark's 32-partition tree merge
    # and DuckDB's accumulation order. A stably-spelled statistic
    # (centered two-pass algebra, Welford-merge built-ins like
    # var_samp/corr/regr_*, exact integer-cents sums, point-estimate-
    # anchored resampling deviations) stays in lockstep; an unstable one
    # diverges here and nowhere else. This is a 100 TB concern:
    # cluster-scale accumulations routinely carry 1e18+ magnitudes
    # (epoch-nanos, lifetime counters, global byte totals). Rank/order
    # machinery is immune (the offset is monotone), integer-cents money
    # paths stay exact (1e11 cents squared-sums fit DECIMAL(38,0)), and
    # both engines read byte-identical doubles, so any divergence is a
    # real algorithm-stability finding, never noise.
    # First contact: 350/351 green; stat_jackknife_ratio's replicate
    # moments (Σθ²_g − G·θ̄² and θ̄ − θ at θ ~ 1e10 cents) diverged in the
    # 4th decimal and were respelled anchored on d_g = θ_g − θ, which is
    # bit-identical in both engines because every input is an exact BIGINT.
    "conditioning": Tier(
        rewrite={
            "events": _replace("events", value="CAST(value + 1.0e9 AS DOUBLE)"),
            "customer": _replace("customer", c_acctbal="CAST(c_acctbal + 1.0e9 AS DOUBLE)"),
            "orders": _replace("orders", o_totalprice="CAST(o_totalprice + 1.0e8 AS DOUBLE)"),
        },
        checks=(
            ("SELECT avg(value) > 1.0e9 * 0.99 FROM events", "offset missing"),
            ("SELECT max(value) - min(value) < 1e6 FROM events",
             "spread not organic — offset must be additive"),
        ),
    ),
    # Constant/zero-variance: every MEASURE column is one constant, the
    # categorical drivers collapse to one level, every document is the
    # SAME text (9 distinct tokens, so vocabulary statistics are tiny but
    # nonzero) and every embedding the SAME 64-dim vector (cosine with
    # itself exactly 1.0), with a zero-vector class at vec_id % 53 = 0.
    # The organic tiers always carry healthy variance, so the ~150
    # statistics queries only exercise the sd > 0 / multi-category /
    # distinct-text happy path. Real pipelines hit zero variance
    # routinely (a feed stuck on one price, a single-tenant slice, a
    # template page crawled a million times, a collapsed embedding
    # model). Divergence classes hunted:
    # * sd = 0 denominators: z-scores, correlations, effect sizes, CUPED,
    #   variance ratios, silhouette (a = b = 0), calibration slopes —
    #   0/0 is NaN-vs-NULL-vs-Infinity territory where Spark (non-ANSI),
    #   DuckDB (ieee_floating_point_ops) and numpy all have opinions;
    # * single-category margins: chi-square/G-test with one level, Markov
    #   chains with one state, funnels with no conversion step, crosstabs
    #   of width 1 — the data-dependent-df gates must fold;
    # * total ties: every rank/percentile/midrank over identical values,
    #   top-k with all scores equal (tie-break determinism);
    # * total duplication: all documents in ONE dedup group — the pair
    #   expansion caps and keep-best tie-breaks carry the whole tier;
    # * zero-norm vectors: cosine 0/0 — the vector hygiene predicate must
    #   treat "no direction" like "no value";
    # * degenerate fits: Zipf/Heaps log-log with a constant x, IRLS with
    #   constant features and one label, PCA of an all-zeros covariance.
    # Every numeric literal is CAST: a bare 1234.56 is DECIMAL in DuckDB
    # and would change the parquet column type away from the organic
    # DOUBLE (the tier must poke VALUES, never types).
    # dedup_embedding_srp's oracle was assumption-based until round 7 (it
    # restated the planted pairs); the boundary tier's duplicate-vector
    # twins forced the semantic respell — the oracle brute-forces every
    # (organic ∪ planted) pair at the 0.9 threshold, so parity holds on
    # every tier (here: the full C(2(n-z), 2) clique). The closed-form
    # truth test in tests/test_tier_truths.py stays as an engine-only
    # invariant.
    "constant": Tier(
        rewrite={
            "documents": _replace(
                "documents",
                text="'the quick brown fox jumps over the lazy dog near the quiet river bank'",
                n_chars="CAST(length('the quick brown fox jumps over the lazy dog near the"
                " quiet river bank') AS BIGINT)",
                lang="'en'",
                source="'src0'",
            ),
            "embeddings": _replace(
                "embeddings",
                embedding="CASE WHEN vec_id % 53 = 0 THEN [CAST(0.0 AS FLOAT) FOR i IN range(64)]"
                " ELSE [CAST((i % 7) - 3 AS FLOAT) / 10.0 FOR i IN range(64)] END",
                label="1",
            ),
            "events": _replace("events", value="CAST(42.0 AS DOUBLE)", event_type="'view'"),
            "orders": _replace(
                "orders", o_totalprice="CAST(1234.56 AS DOUBLE)", o_orderpriority="'3-MEDIUM'"
            ),
            "lineitem": _replace(
                "lineitem",
                l_quantity="CAST(25.0 AS DOUBLE)",
                l_extendedprice="CAST(2000.0 AS DOUBLE)",
                l_discount="CAST(0.05 AS DOUBLE)",
                l_tax="CAST(0.04 AS DOUBLE)",
            ),
            "customer": _replace("customer", c_acctbal="CAST(500.0 AS DOUBLE)"),
            "supplier": _replace("supplier", s_acctbal="CAST(500.0 AS DOUBLE)"),
            "part": _replace("part", p_retailprice="CAST(1000.0 AS DOUBLE)"),
        },
        checks=(
            ("SELECT (SELECT count(DISTINCT text) FROM documents) = 1"
             " AND (SELECT count(DISTINCT value) FROM events) = 1"
             " AND (SELECT count(DISTINCT event_type) FROM events) = 1",
             "tier is not constant"),
            ("SELECT count(*) > 0 FROM embeddings WHERE vec_id % 53 = 0",
             "tier poked no zero vectors"),
        ),
    ),
    # Extreme ids: every entity-id space goes through one injective remap
    # (_xid: id%5==0 -> -(id+1), id%5==1 -> 2^62+id) applied to both
    # sides of every FK pair (events.event_id/user_id, vec_id, doc_id,
    # o_orderkey == l_orderkey, o_custkey == c_custkey), so referential
    # integrity, row counts, measures and timestamps are untouched and
    # ID SPACE is the only variable. Organic ids are small, dense and
    # non-negative, so three assumptions are never exercised:
    # * SIGN — F.pmod(id, k) is non-negative while SQL `%` takes the
    #   dividend's sign in both engines; truncating vs floor division,
    #   sign-blind regexes, left-shifting negatives (hash-derived int64
    #   ids, routine at cluster scale, are negative half the time);
    # * SENTINEL ENCODING — the streaming replay marked its flush
    #   sentinels with user_id < 0 and callers filtered `user_id >= 0`,
    #   silently dropping real negative users (engine) that the oracle
    #   kept;
    # * MAGNITUDE — id sums and id*k arithmetic near ±2^63 wrap silently
    #   under non-ANSI Spark while DuckDB errors; float division of ids
    #   above 2^53 rounds before the engines' differing double->int
    #   casts. The 2^62 branch keeps existing +1e5/+1e8 offsets
    #   representable, isolating convention divergence from universal
    #   overflow (ids entering arithmetic must be range-checked or spelled
    #   in DECIMAL — the admission doctrine).
    # First contact: 336/351 — fifteen failures across seven defect
    # classes, all fixed by defined conventions (COVERAGE.md round-7
    # notes): floor-mod (pmod / ((x%k)+k)%k) for every id-derived
    # parameter and class selector; exact integer division for id-derived
    # labels and hierarchy parents (decimal-prefix by STRING); modular
    # checksums instead of raw id sums; mask-first left shifts; sign-aware
    # regexes; floor-grain quotients instead of round() at .xx5
    # boundaries; and the streaming flush sentinel re-encoded as ONE
    # reserved id (Long.MIN_VALUE).
    "extremeid": Tier(
        rewrite={
            "events": _replace("events", event_id=_xid("event_id"), user_id=_xid("user_id")),
            "embeddings": _replace("embeddings", vec_id=_xid("vec_id")),
            "documents": _replace("documents", doc_id=_xid("doc_id")),
            "orders": _replace("orders", o_orderkey=_xid("o_orderkey"), o_custkey=_xid("o_custkey")),
            "lineitem": _replace("lineitem", l_orderkey=_xid("l_orderkey")),
            "customer": _replace("customer", c_custkey=_xid("c_custkey")),
        },
        checks=(
            ("SELECT count(*) FILTER (user_id < 0) > 50"
             " AND count(*) FILTER (user_id >= 4611686018427387904) > 50 FROM events",
             "id space not extreme"),
            ("SELECT count(*) = 0 FROM lineitem l LEFT JOIN orders o"
             " ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL",
             "remap broke referential integrity"),
        ),
    ),
    # High-cardinality categories: the alphabet is not an enum. ~1/3 of
    # events carry a per-row suffixed type ('view#137'; the observed
    # alphabet grows from 5 to ~290 at sf0.001 while the organic types
    # still dominate), ~1/4 of documents a suffixed lang and ~1/4 a
    # suffixed source. Organic alphabets are tiny (5 event types, 4
    # langs, 5 sources), so a spelling that is only correct — or only
    # BOUNDED — for a small closed enum looks healthy everywhere else;
    # cardinality explosion (an ID embedded in a category field, a
    # user-agent in a type field) is a classic silent analytics
    # incident. Classes hunted: parity of group-by/pivot/argmax whose
    # ORACLE hard-codes the organic alphabet; funnels/attribution/
    # language-ID treating novel categories by contract identically in
    # both engines; and driver-side pulls documented as "enum-bounded"
    # (Markov kernels are k² cells) that must stay bounded by an explicit
    # ADMISSION rule. First contact caught three defects:
    # behavior_markov_absorption CRASHED (a target-only sink type made the
    # Jacobi update's empty sum() return int 0, which createDataFrame
    # rejects for DoubleType — fixed with a float-typed empty sum plus an
    # admission cap, _collect_kernel, failing fast past 300 states for
    # both Markov pulls); and scalar_url_extract's oracle regexes were
    # fragment-blind twice over (lang='zh#1' embeds '#', so the query must
    # stop at the fragment; source='web#7' puts the fragment in the host
    # position, so there is no query at all and parse_url gives NULL) —
    # respelled with the ^[^#]* fragment anchor and nullif('').
    "highcard": Tier(
        rewrite={
            "events": _replace(
                "events",
                event_type="CASE WHEN event_id % 3 = 0"
                " THEN event_type || '#' || CAST(event_id % 137 AS VARCHAR) ELSE event_type END",
            ),
            "documents": _replace(
                "documents",
                lang="CASE WHEN doc_id % 4 = 1"
                " THEN lang || '#' || CAST(doc_id % 53 AS VARCHAR) ELSE lang END",
                source="CASE WHEN doc_id % 4 = 2"
                " THEN source || '#' || CAST(doc_id % 53 AS VARCHAR) ELSE source END",
            ),
        },
        checks=(
            ("SELECT count(DISTINCT event_type) > 100 FROM events", "event alphabet not exploded"),
            ("SELECT count(DISTINCT lang) > 50 AND count(DISTINCT source) > 50 FROM documents",
             "doc alphabets not exploded"),
        ),
    ),
    # Malformed/heterogeneous JSON in events.props: schema-on-read under
    # producer bugs. Organic props are uniformly tidy '{"k": <int>}', so
    # get_json_object / parse_json VARIANT / json_extract only ran the
    # happy path. Poked: syntactically broken payloads, valid JSON of the
    # wrong shape, wrong types at the extracted path, escapes/surrogates,
    # deep nesting, a BOM prefix and NULLs. Any divergence is a genuine
    # JSON-semantics difference: error-vs-NULL on malformed input,
    # string->int coercion ('12.7': non-ANSI Spark casts to NULL, DuckDB
    # CAST errors or rounds), VARIANT vs JSON-text typing. The first run
    # CRASHED both engines (plain parse_json aborts the job on the first
    # malformed payload, DuckDB's json_extract errors the oracle); fixed
    # by TRY semantics as the contract (try_parse_json / try_variant_get
    # engine-side, json_valid guards oracle-side) plus the shared
    # numeric-string truncation convention for path casts ('12.7' -> 12
    # like Spark's non-ANSI string->int; boolean and overflow -> NULL).
    # There is deliberately NO duplicate-key poke ('{"k":1,"k":2}'):
    # Spark's variant builder REJECTS duplicate-key objects, DuckDB's
    # parser dedups last-wins and Jackson's get_json_object streams
    # first-wins — three engines, three answers, no SQL-expressible
    # mirror. Duplicate-key producers are a DLQ concern upstream.
    "json": Tier(
        rewrite={
            "events": _replace("events", props=_case("props", "event_id", 229, {
                k: _lit(v) for k, v in {
                    3: "not json",  # bare words
                    7: "",  # empty string
                    11: '{"k": 1',  # truncated object
                    13: "[1, 2, 3]",  # valid JSON, wrong shape (array)
                    17: "null",  # JSON null literal
                    19: '{"k": "12.7"}',  # string number at the int path
                    23: '{"k": true}',  # boolean at the int path
                    29: '{"k": null}',  # JSON null at the path
                    31: '{"k": {"nested": 5}}',  # object at the scalar path
                    37: '{"k": 99999999999999999999}',  # 20-digit overflow integer
                    43: '{"k": "\\ud83d\\ude00"}',  # escaped surrogate pair (emoji)
                    47: '{"a": {"b": {"c": {"d": {"e": {"k": 7}}}}}}',  # deep, no $.k
                    53: '\ufeff{"k": 9}',  # BOM-prefixed object
                    59: None,  # NULL props
                    61: "42",  # valid JSON scalar
                    67: '{"k": 1e3}',  # scientific-notation JSON number
                    71: '{"k": 12.0}',  # decimal-point JSON number
                    # round-7 pokes: zones where the engines' NATIVE casts
                    # diverge — the shared grammar convention
                    # (functions/numcast.py) keeps all of these in lockstep
                    73: '{"k": "1e3"}',  # quoted sci string: Spark NULL, DuckDB 1000
                    79: '{"k": "12.99999999999999999"}',  # lexical 12 vs double 13
                    83: '{"k": 12345678.0}',  # Jackson "1.2345678E7", VARIANT "12345678"
                    89: '{"k": 0.0009}',  # Jackson "9.0E-4", VARIANT/DuckDB "0.0009"
                    97: '{"k": "1d"}',  # Java double suffix: Spark 1.0, DuckDB NULL
                    101: '{"k": "1_000"}',  # underscore: DuckDB 1000, Spark NULL
                    103: '{"k": 1e400}',  # double overflow -> Infinity rendering
                    107: '{"k": "  +12.9  "}',  # padded signed decimal string
                    109: '{"k": "\\u000b12"}',  # control-char padding ([\x01-\x20] trim)
                }.items()
            })),
        },
        checks=(
            ("SELECT count(*) FILTER (props IS NULL) > 0"
             " AND count(*) FILTER (props IS NOT NULL AND NOT json_valid(props)) > 0 FROM events",
             "tier synthesis poked no bad JSON"),
        ),
    ),
    # Monster documents: tail-document robustness. doc_id % 499 = 3 is its
    # text repeated 150x; doc_id % 499 = 7 a single 60,000-character token
    # (minified JS / base64 blob, no whitespace). Organic documents
    # average ~50 tokens, so every per-document array expression (token
    # stats, shingles, n-grams, the BPE pretokenizer, entropy,
    # fingerprints, segment dedup) only sees tiny rows; tail documents
    # are where per-row quadratic spellings, array-size limits and regex
    # backtracking hide (a 100 TB web corpus has million-token documents
    # in every shard). The sweep checks byte parity, and its wall-clock
    # is the robustness signal: a per-doc quadratic spelling turns a 150x
    # longer document into a ~20,000x slower row. 150 repeats (~7.5k
    # tokens) show any O(len²) ENGINE spelling as a ~150x-per-doc blowup
    # (the shingle family's in-lambda re-split was caught at 27 s/doc)
    # while keeping the ORACLES' own O(len²) list-slice spellings
    # (UNNEST(range) x w[i:i+k] — test infrastructure) in minutes, not
    # the 40+ the sweep took at 400 repeats.
    "monsterdoc": Tier(
        rewrite={
            "documents": _replace(
                "documents",
                text="CASE WHEN doc_id % 499 = 3 THEN trim(repeat(text || ' ', 150), ' ')"
                " WHEN doc_id % 499 = 7 THEN repeat('z', 60000) ELSE text END",
            ),
        },
        checks=(
            ("SELECT max(length(text)) > 50000"
             " AND max(len(string_split(text, ' ')) = 1 AND length(text) >= 60000)"
             " FROM documents",
             "tier synthesis planted no monsters"),
        ),
    ),
    # Negative/zero/sub-cent money: refunds (negated), partial refunds,
    # zeros and sub-cent magnitudes in o_totalprice (o_orderkey % 241),
    # events.value (event_id % 239), and returned / fully discounted /
    # zero-priced lineitems (l_orderkey % 233). Organic money is strictly
    # positive and cent-aligned, so every sign-sensitive spelling ran on
    # the happy half of the number line; refunds and chargebacks make
    # negative money routine. Classes hunted: floor-vs-truncate integer
    # division (DuckDB `//` and F.floor agree at floor; CAST(x/y AS INT)
    # truncates toward zero — off by one on negatives), ln/sqrt of
    # aggregates that can go negative (Spark NULL where DuckDB ERRORS),
    # rounding of negative halves, rank/percentile over signed values.
    # The first run was 350/350 green — the floor spellings, exact
    # DECIMAL cents accumulation and complete-case measures already held
    # on signed money — so the tier ships as a pure regression guard.
    "refunds": Tier(
        rewrite={
            "orders": _replace("orders", o_totalprice=_case("o_totalprice", "o_orderkey", 241, {
                3: "-o_totalprice",  # full refund
                7: "0.0",  # zero-value order
                11: "0.004",  # sub-cent: rounds to 0 cents
                13: "-0.004",  # negative sub-cent
                17: "-(o_totalprice / 2)",  # partial refund
            })),
            "events": _replace("events", value=_case("value", "event_id", 239, {
                3: "-value", 7: "0.0", 11: "-0.004",
            })),
            "lineitem": _replace(
                "lineitem",
                l_extendedprice=_case("l_extendedprice", "l_orderkey", 233, {
                    3: "-l_extendedprice", 7: "l_extendedprice", 11: "0.0",
                }),
                l_discount=_case("l_discount", "l_orderkey", 233, {
                    3: "l_discount", 7: "1.0", 11: "l_discount",
                }),
                l_tax=_case("l_tax", "l_orderkey", 233, {3: "l_tax", 7: "0.0", 11: "l_tax"}),
            ),
        },
        checks=(
            ("SELECT count(*) FILTER (o_totalprice < 0) > 0"
             " AND count(*) FILTER (o_totalprice = 0) > 0"
             " AND count(*) FILTER (o_totalprice <> 0 AND abs(o_totalprice) < 0.005) > 0"
             " FROM orders",
             "tier poked no refund shapes"),
            ("SELECT count(*) FILTER (l_extendedprice < 0) > 0"
             " AND count(*) FILTER (l_discount = 1.0) > 0 FROM lineitem",
             "tier poked no lineitem refunds"),
        ),
    ),
    # Row-order / partitioning invariance: the same ROWS with every
    # accident of physical layout gone — rows permuted by key-md5 and
    # each table split across 3 part files by an md5 bucket (a DIRECTORY
    # of part files, which spark.read.parquet consumes like one file).
    # On a 1000-executor cluster partition composition and scan order are
    # scheduling accidents; a correct operator's result is a pure
    # function of the input RELATION. A query leaning on incidental row
    # order (F.first without ordering, an order-sensitive collect_list
    # consumer, a window or top-k missing a deterministic tiebreaker)
    # agrees with DuckDB on the pristine tier but flips here, because
    # DuckDB's deterministic SQL answer does not move with the layout.
    # The engine-level twin of the rank-machinery partitioning-invariance
    # property tests (tests/test_properties.py).
    "shuffled": Tier(rewrite={t: _shuffle(t) for t in TABLES}),
    # Hot-key skew: Zipfian keys, organic values. 80 % of events on ONE
    # user (7), half the orders on ONE customer (1), 30 % of lineitems on
    # ONE part (1), 80 % of documents on ONE source — values, timestamps
    # and text untouched, so key distribution is the only variable.
    # Organic tiers are uniform, so every groupBy/join/window runs with
    # balanced partitions and every per-entity aggregate stays small;
    # production corpora are Zipfian (one bot account, one template
    # domain, one SKU), and 100 TB turns a hot key into a straggler task
    # or an unbounded per-entity state (collect_list per user). Classes
    # hunted: per-entity sequence machinery (funnels, Markov chains,
    # sessionization, streaks, attribution paths) agreeing element for
    # element on the giant group; distinct/rank machinery where one group
    # dwarfs the rest (stickiness, retention denominators, domain-cap
    # sampling far over the cap). The scale half (does the hot key
    # straggle?) lives in tools/skew_growth.py, the plan assertions and
    # SCALE.md; this tier pins that the MATH stays identical.
    "skew": Tier(
        rewrite=_SKEW,
        checks=(
            ("SELECT count(*) FILTER (user_id = 7) * 1.0 / count(*) > 0.75 FROM events",
             "tier is not skewed (hot-user share <= 0.75)"),
        ),
    ),
    # Magnitude stress: o_totalprice and events.value x1000, computed once
    # by DuckDB into the parquet so no multiplication seam exists between
    # the engines. The non-ANSI session WRAPS BIGINT silently while
    # DuckDB accumulates in HUGEINT; here per-row cents reach ~5e10 and
    # squared-cents sums 1e19-1e21, past the 9.2e18 ceiling, so any
    # n²-scale integer product still spelled in BIGINT diverges here and
    # only here. The round-6 DECIMAL promotions (squared cents in Cohen's
    # d / DiD / Brown-Forsythe / BH / Holm, the KS and CUSUM
    # cross-multiplies, the Gini rank-weighted sum, the kappa marginal
    # products — SCALE.md) are what this tier proves out.
    "stress": Tier(
        rewrite={
            "orders": _replace("orders", o_totalprice="o_totalprice * 1000"),
            "events": _replace("events", value="value * 1000"),
        },
    ),
    # Time edges: events.ts (event_id % 211), o_orderdate (o_orderkey %
    # 223) and l_shipdate (l_orderkey % 227) carry calendar edges — the
    # exact epoch (the classic default-initialized value), pre-epoch
    # negative microseconds, a leap day, the 2038 rollover, 1700/1899
    # dates, a non-leap century (2100-03-01) and far-future values. The
    # organic tiers span one tidy month of events and six TPC-H years, so
    # date_trunc / datediff / day-of-week / daily spines only saw
    # friendly positive-epoch dates. Poked values stay inside [1677-09-21,
    # 2262-04-11], the pandas ns envelope the comparison converts
    # through, so the harness is never what breaks (hence 1700, not the
    # Julian-gap 1582). The first run found two classes, each fixed by a
    # contract: WATERMARK POISONING (one 2262 event advanced the global
    # watermark past every real window and five stateful streaming
    # queries late-dropped 2-15 rows each — fixed by the event-time
    # admission window, streaming/replay.py ADMIT_MIN_TS/ADMIT_MAX_TS,
    # mirrored in every watermarked oracle) and SPINE BLOWUP (gapfill/
    # resample spines over the observed min/max span grew 4,000x from
    # one corrupt timestamp — fixed by the bounded-gapfill contract,
    # operators/timeseries.py).
    "timeedge": Tier(
        rewrite={
            "events": _replace("events", ts=_case("ts", "event_id", 211, {
                3: "TIMESTAMP '1970-01-01 00:00:00'",  # exact epoch
                7: "TIMESTAMP '1969-12-31 23:59:59.999999'",  # negative microseconds
                11: "TIMESTAMP '2000-02-29 12:34:56.789012'",  # century leap day
                13: "TIMESTAMP '2038-01-19 03:14:08'",  # past the 32-bit rollover
                17: "TIMESTAMP '2262-01-01 00:00:00'",  # near the pandas ns ceiling
                23: "TIMESTAMP '2024-01-15 00:00:00'",  # exact midnight
                29: "TIMESTAMP '1900-01-06 06:06:06.000001'",  # pre-1970 century
            })),
            "orders": _replace("orders", o_orderdate=_case("o_orderdate", "o_orderkey", 223, {
                3: "DATE '1700-03-01'",  # proleptic vs Julian leap day
                7: "DATE '1899-12-31'",
                11: "DATE '1970-01-01'",
                13: "DATE '2100-03-01'",  # day after the non-leap century February
                17: "DATE '2262-01-01'",
            })),
            "lineitem": _replace("lineitem", l_shipdate=_case("l_shipdate", "l_orderkey", 227, {
                3: "TIMESTAMP '1970-01-01 00:00:00'",
                7: "TIMESTAMP '1969-07-20 20:17:40'",
                11: "TIMESTAMP '2200-06-15 12:00:00'",
            })),
        },
        checks=(
            ("SELECT year(min(ts)) <= 1900 AND year(max(ts)) >= 2262"
             " AND count(*) FILTER (ts < TIMESTAMP '1970-01-02') > 0 FROM events",
             "tier synthesis poked no time edges"),
        ),
    ),
    # Unicode / empty strings: documents.text (doc_id % 97) and
    # customer.c_name (c_custkey % 53) carry adversarial-but-legal UTF-8.
    # The organic corpus is pure ASCII, so every string function
    # (length/lower/upper/split/regexp/substring) only ran where JVM and
    # utf8proc semantics coincide. Any divergence is a genuine string-
    # semantics difference: Spark's JVM applies full SpecialCasing
    # (upper('ß') = 'SS', context-sensitive final sigma, 'İ' -> 'i' +
    # U+0307), DuckDB's utf8proc simple one-to-one maps (upper('ß') = 'ẞ',
    # every Σ -> 'σ', 'İ' -> 'i'); or an unguarded empty-string /
    # zero-token division. The first run found 6 divergences, fixed by
    # two mirrored conventions: the ASCII case-fold contract
    # (operators/text.py ascii_lower/ascii_upper + trim(x, ' ') oracle
    # spelling, since DuckDB's trim() strips Unicode whitespace where
    # Spark's strips ASCII space), and zero-token documents leaving the
    # collection (BM25's n_docs/avgdl count token-bearing docs; the bigram
    # LM filters empty split segments like its oracle).
    "unicode": Tier(
        rewrite={
            "documents": _replace("documents", text="CASE WHEN text IS NOT NULL THEN "
                + _case("text", "doc_id", 97, {
                    k: _lit(p) if mode == "set" else f"text || ' ' || {_lit(p)}"
                    for k, (mode, p) in _DOC_POKES.items()
                }) + " END"),
            "customer": _replace("customer", c_name="CASE WHEN c_name IS NOT NULL THEN "
                + _case("c_name", "c_custkey", 53, {
                    5: _lit("Customer Ünïcode#000000005"), 9: "''", 21: _lit("straßeİΣ customer"),
                }) + " END"),
        },
        checks=(
            ("SELECT count(*) FILTER (octet_length(encode(text)) > length(text)) > 40"
             " FROM documents", "tier synthesis poked no non-ASCII text"),
            ("SELECT count(*) FILTER (text = '') > 0 FROM documents",
             "tier synthesis produced no empty-string docs"),
        ),
    ),
    # Composed tiers: pairwise interactions of the single-variable
    # families (round-7 verdict #3). Every convention was derived one
    # family at a time with every other variable organic, so a spelling
    # can be right under ties AND under skew yet wrong when the ties sit
    # INSIDE the dominant group, or bounded for ASCII monsters but
    # quadratic in bytes for multi-byte ones.
    #
    # extremeid x skew: the extreme-id remap, then a hot-key rekey whose
    # hot ids live in the extreme bands — the 80 %-owner user is NEGATIVE
    # (-6, the image of organic user 5), the 50 %-owner customer is 2^62+1
    # (the image of custkey 1); part ids are not remapped. Exercises the
    # sentinel re-encode (user_id < 0 is real data, C14) with a dominant
    # negative entity, the per-entity admission cap (C30) on a negative
    # hot key, floor-mod bucketing (C10) where the modal bucket is the
    # negative class, and id checksums/products (C12/C6) at 2^62 times
    # half the corpus. The selectors run at synthesis only and use pmod
    # spellings so the hot fractions stay stable on remapped ids.
    "extremeid_skew": Tier(
        source="extremeid",
        rewrite={
            "events": _replace(
                "events",
                user_id="CASE WHEN ((event_id % 5) + 5) % 5 != 0"
                " THEN CAST(-6 AS BIGINT) ELSE user_id END",
            ),
            "orders": _replace(
                "orders",
                o_custkey="CASE WHEN ((o_orderkey % 2) + 2) % 2 = 0"
                " THEN CAST(4611686018427387905 AS BIGINT) ELSE o_custkey END",
            ),
            "lineitem": _replace(
                "lineitem",
                l_partkey="CASE WHEN ((l_orderkey % 10) + 10) % 10 < 3"
                " THEN CAST(1 AS BIGINT) ELSE l_partkey END",
            ),
            "documents": _replace(
                "documents",
                source="CASE WHEN ((doc_id % 5) + 5) % 5 != 2 THEN 'src0' ELSE source END",
            ),
        },
        checks=(
            ("SELECT count(*) FILTER (user_id = -6) * 1.0 / count(*) > 0.75 FROM events",
             "negative hot user not dominant"),
            ("SELECT count(*) FILTER (o_custkey = 4611686018427387905) * 1.0 / count(*) > 0.45"
             " FROM orders", "huge hot customer not dominant"),
        ),
    ),
    # ties x skew: the boundary snap, then the skew rekey (a pure chain):
    # 80 % of events belong to ONE user AND sit on 6-hour/15-minute grids
    # with exact-duplicate times inside that user. Exercises every rank/
    # session/as-of tiebreak (C27, C33's deterministic-tiebreak rule)
    # inside a single dominant partition — the tie set is the whole
    # corpus and the giant group's element order is carried by event_id
    # alone.
    "ties_skew": Tier(
        source="boundary",
        rewrite=_SKEW,
        checks=(
            ("SELECT count(*) FILTER (user_id = 7) * 1.0 / count(*) > 0.75 FROM events",
             "hot user not dominant"),
            ("SELECT count(*) > 10 FROM (SELECT ts FROM events WHERE user_id = 7"
             " GROUP BY ts HAVING count(*) > 1)",
             "no duplicate timestamps inside the hot user"),
        ),
    ),
    # unicode x monster: the Unicode pokes, then monster documents that
    # are both multi-byte — the repeat monster's unit gets a mixed
    # CJK/sharp-s/combining payload appended before the repeat, and the
    # blob is repeat('ß数', 30000) (~60k chars, ~150k bytes) instead of
    # ASCII 'z's. Exercises the ASCII fold contract (C20/C21) and every
    # per-document array expression (C24's bound-array rule) at monster
    # length in CHARACTERS while the byte length is ~2.5x larger — where a
    # per-BYTE quadratic or a JVM-vs-utf8proc length disagreement hides
    # from both parents. 400 repeats (vs monsterdoc's 150): at sf0.001 the
    # repeat monster's doc_id (3) is also unicode class 3 (text ''), so
    # the unit is just the payload — ~11k chars / ~18k bytes.
    "unicode_monster": Tier(
        source="unicode",
        rewrite={
            "documents": _replace(
                "documents",
                text="CASE WHEN doc_id % 499 = 3"
                " THEN trim(repeat(text || ' straße café 数据处理 Σίσυφος ', 400), ' ')"
                " WHEN doc_id % 499 = 7 THEN repeat('ß数', 30000) ELSE text END",
            ),
        },
        checks=(
            ("SELECT max(length(text)) > 8000 AND bool_and(strlen(text) > length(text))"
             " FROM documents WHERE doc_id % 499 IN (3, 7)",
             "no multi-byte monster document"),
        ),
    ),
    # Degenerate tiers: inputs a real pipeline WILL see — an empty
    # extract, a single surviving row, a sparse extract where every
    # optional (non-key) column is a typed NULL (keys kept so joins keep
    # their join keys). Every registered query must not crash (no
    # driver-side IndexError/KeyError/ZeroDivision, no ANSI aborts, no
    # unresolved pivot columns), keep the column names it has on real
    # data (a pivot inferring its columns changes shape on empty input)
    # and emit no NaN/Inf (div-by-zero surfaces as NULL, the oracle's
    # semantics). Every oracled query must also agree with DuckDB, where
    # empty-aggregate semantics (NULL sums, collapsed unnest ranges,
    # grand-total grouping sets) and NULL conventions (size/len of NULL,
    # concat_ws vs string_agg, NULL ordering, NULL-input drops) diverge
    # unless the query was written carefully. The relaxed comparator: an
    # all-NULL BIGINT column round-trips as float64 NaN through
    # .toPandas()/.df(), a representation artifact, not an engine
    # difference. null_opt joined the parity sweep late in round 6; its
    # first run exposed 45 silent NULL-convention divergences
    # (size(NULL)=-1 via the legacy.sizeOfNull flip, unmirrored NULL-text/
    # vector drops, concat_ws-vs-string_agg, to_json null-field dropping,
    # NULL-label eval rows, NULL-ts streaming rows), each since made
    # deliberate and identical in both engines.
    "empty": Tier(
        rewrite={t: f"SELECT * FROM {t} LIMIT 0" for t in TABLES},
        survives=True,
        relaxed=True,
        known_divergent={
            # Spark's ROLLUP/CUBE/GROUPING SETS over an EMPTY relation emit
            # zero rows; DuckDB (per the SQL standard) still emits the ()
            # grand-total row. Upstream Spark semantics, not a query bug —
            # on any non-empty input they agree.
            q: "documented engine-level degenerate divergence"
            for q in ("agg_rollup", "agg_cube", "agg_grouping_id")
        },
    ),
    "one_row": Tier(
        rewrite={t: f"SELECT * FROM {t} ORDER BY {sorted(_KEEP[t])[0]} LIMIT 1" for t in TABLES},
        survives=True,
        relaxed=True,
    ),
    "null_opt": Tier(
        rewrite={t: functools.partial(_null_opt, t) for t in TABLES},
        survives=True,
        relaxed=True,
    ),
    # Non-finite money: NaN (o_orderkey % 997 = 5) and Infinity (= 11) in
    # o_totalprice. The non-ANSI session casts NaN -> 0 and Infinity ->
    # Long.MaxValue SILENTLY, so one corrupt upstream double would inject
    # 9.2 quintillion cents into every revenue aggregate (DuckDB at least
    # aborts the cast). The engine's contract (catalog._sanitize_doubles):
    # non-finite floats are NULL at the scan chokepoint; the oracle views
    # apply the same contract (CASE WHEN isfinite(x) THEN x END), pinning
    # that the engine on raw corrupt data equals the oracle on sanitized
    # data. The first run found 14 divergences: rank/percentile machinery
    # receiving partial-NULL measures (rankstats refuses NULL order keys;
    # DuckDB windows rank them) — fixed by the observed-values convention
    # (filter NULL measures in both engines) across the Mann-Whitney/
    # Kruskal/KS/Mood/Dunn/energy/Wasserstein/trimmed/winsorized/
    # equi-depth/conformal/Brown-Forsythe family — and NULL-revenue days
    # breaking the daily-series recursions (Pettitt, Holt-Winters) —
    # fixed by the unobserved-days-leave-the-series convention.
    "nonfinite": Tier(
        rewrite={
            "orders": _replace(
                "orders",
                o_totalprice="CASE WHEN o_orderkey % 997 = 5 THEN 'NaN'::DOUBLE"
                " WHEN o_orderkey % 997 = 11 THEN 'Infinity'::DOUBLE ELSE o_totalprice END",
            ),
        },
        checks=(
            ("SELECT count(*) > 0 FROM orders"
             " WHERE isnan(o_totalprice) OR NOT isfinite(o_totalprice)",
             "tier synthesis poked no non-finite values"),
        ),
        relaxed=True,
        finite_oracle=True,
    ),
    # Element-NULL vectors: every vec_id % 97 == 3 embedding's third
    # coordinate is NULL (6 vectors at sf0.001). The null_opt tier nulls
    # WHOLE columns; an array with NULL *elements* is the layout a sparse
    # featurizer or a bad join produces. Such vectors are as uncomparable
    # as NULL vectors (NULL dot/norm; DuckDB's list_cosine_similarity
    # ABORTS on them), so similarity.vec_ok drops both up front and every
    # embedding oracle carries the matching `embedding IS NOT NULL AND
    # len(list_filter(embedding, x -> x IS NULL)) = 0` guard. The first
    # run found 7 divergences (DuckDB aborts; row-count drift from
    # Spark's incidental NULL-band drops). The approximate ANN paths have
    # no SQL oracle: their contract is no crash and no NULL id/score.
    "element_null": Tier(
        rewrite={
            "embeddings": _replace(
                "embeddings",
                embedding="""CASE WHEN vec_id % 97 = 3
                    THEN list_transform(range(len(embedding)),
                         i -> CASE WHEN i = 2 THEN NULL ELSE embedding[i + 1] END)::FLOAT[]
                    ELSE embedding END""",
            ),
        },
        checks=(
            ("SELECT count(*) > 0 FROM embeddings"
             " WHERE len(list_filter(embedding, x -> x IS NULL)) > 0",
             "tier synthesis produced no element-NULL vectors"),
        ),
        queries=(
            "agg_embedding_centroids", "cluster_kmeans_assign", "cluster_silhouette",
            "dedup_embedding_pairs", "dedup_embedding_srp", "dedup_semantic_keep",
            "embed_covariance_entries", "embed_int8_quant", "sim_mmr_rerank",
            "sim_topk_bruteforce", "sim_topk_int8", "text_hashed_embedding_topk",
        ),
        rows_only=("sim_topk_ivf", "sim_topk_ivfpq", "sim_topk_pq"),
        relaxed=True,
    ),
    # The organic sf0.01 tier, the contract's correctness scale: quantile
    # bucket boundaries, tie landscapes and rounding cliffs are
    # data-dependent, so a query can be green at sf0.001 (the fast
    # tests/test_queries_oracle.py) and flip at sf0.01.
    "sf01": Tier(source=SF001, rows_only=ORACLE_LESS),
}


def _scan(root: str, table: str) -> str:
    """DuckDB scan of one tier table: a parquet file or a directory of parts."""
    p = os.path.join(root, f"{table}.parquet")
    return f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"read_parquet('{p}')"


def connect(root: str, finite: bool = False) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of the tier at ``root``;
    ``finite`` reads non-finite floating values as NULL."""
    con = duckdb.connect()
    for t in TABLES:
        repl = ""
        if finite:
            cols = con.sql(f"DESCRIBE SELECT * FROM {_scan(root, t)}").fetchall()
            guards = [
                f"CASE WHEN isfinite({c}) THEN {c} END AS {c}"
                for c, typ, *_ in cols
                if typ in ("DOUBLE", "FLOAT")
            ]
            repl = f" REPLACE ({', '.join(guards)})" if guards else ""
        con.execute(f"CREATE VIEW {t} AS SELECT *{repl} FROM {_scan(root, t)}")
    return con


def synthesize(tier: str, dst: str, src: str | None = None) -> str:
    """Write all ten tables of ``tier`` under ``dst`` and return ``dst``.
    ``src`` replaces the testdata directory at the root of the tier's
    source chain."""
    spec = TIERS[tier]
    if spec.source in TIERS:
        with tempfile.TemporaryDirectory(prefix=f"{tier}_") as mid:
            return _write(spec, synthesize(spec.source, mid, src), dst)
    return _write(spec, src or spec.source, dst)


def _write(spec: Tier, src: str, dst: str) -> str:
    os.makedirs(dst, exist_ok=True)
    with connect(src) as con:
        for t in TABLES:
            s, d = os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
            rw = spec.rewrite.get(t)
            if rw is None:
                shutil.copy2(s, d) if os.path.isfile(s) else shutil.copytree(s, d)
            elif isinstance(rw, list):
                os.makedirs(d, exist_ok=True)
                for i, q in enumerate(rw):
                    con.execute(f"COPY ({q}) TO '{d}/part-{i}.parquet' (FORMAT PARQUET)")
            else:
                q = rw(con) if callable(rw) else rw
                con.execute(f"COPY ({q}) TO '{d}' (FORMAT PARQUET)")
    return dst


def check(tier: str, root: str) -> list[str]:
    """Messages of the tier's sanity checks that fail on ``root``."""
    with connect(root) as con:
        return [msg for sql, msg in TIERS[tier].checks if not con.sql(sql).fetchone()[0]]
