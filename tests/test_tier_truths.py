"""Tier-specific truth tests: invariants a poked tier makes checkable
beyond oracle parity (closed forms, contracts, admission caps). Each
class holds one tier's tests and binds ``tier`` to that tier's
directory (tools/tiers.py; the sweep is tests/test_tiers.py)."""

from __future__ import annotations

import pytest

from etl_file_sync_spark.catalog import TABLES
from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import assert_frames_match
from tools.tiers import SF001

pytestmark = pytest.mark.slow

REPEATS = 150  # the monsterdoc tier's repeat count


def _tier(name):
    @pytest.fixture
    def tier(self, tier_dir):
        return tier_dir(name)

    return tier


def _duck(name):
    @pytest.fixture
    def duck(self, tier_duck):
        return tier_duck(name)

    return duck


class TestBoundary:
    def test_rollup_avg_floor_grain_on_sf01_boundary(self, spark, tier_dir):
        """Rounding-boundary regression pinned at the SCALE it appeared:
        the sf0.01-sourced boundary tier aligns one hourly group's
        sum(cents)/count so the average's 4th decimal lands exactly on .5,
        where Spark's BigDecimal HALF_UP (on the double's exact binary
        expansion) and DuckDB's round disagree by 1e-4. avg_value is
        therefore reported at the FLOOR grain (floor(x·10^4)/10^4) —
        deterministic on identical doubles — in both spellings; this test
        re-runs the parity on that exact tier (the sf0.001 sweep in
        tests/test_tiers.py never realizes the alignment)."""
        import duckdb as _dd

        d = tier_dir("boundary", src=SF001)
        con = _dd.connect()
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/{name}.parquet')"
            )
        q = REGISTRY["rollup_reaggregation"]
        assert_frames_match(q.build(spark, d), con.sql(q.oracle))
        con.close()
        spark.catalog.clearCache()


class TestConstant:
    tier = _tier("constant")

    def test_srp_constant_tier_closed_form(self, spark, tier):
        """On the constant tier the SRP pipeline's exact answer is known in
        closed form: originals ∪ planted = 2n vectors, z of each zeroed
        (no direction ⇒ never pair), every remaining pair has cosine
        exactly 1.0 ⇒ output must be ALL C(2(n-z), 2) pairs at cosine 1.0.
        This pins that the LSH banding loses nothing when every vector
        collides in every band AND that the exact-collapse + expand path
        (identical vectors collapse to one representative each) reproduces
        the full pair set."""
        import duckdb as _dd

        out = REGISTRY["dedup_embedding_srp"].build(spark, tier).toPandas()
        con = _dd.connect()
        n, z = con.execute(
            f"""
            SELECT count(*),
                   count(*) FILTER (len(list_filter(embedding, x -> x <> 0)) = 0)
            FROM read_parquet('{tier}/embeddings.parquet')
            """
        ).fetchone()
        con.close()
        m = 2 * (n - z)
        assert len(out) == m * (m - 1) // 2
        assert (out["cosine"] == 1.0).all()
        assert (out["id_a"] < out["id_b"]).all()
        spark.catalog.clearCache()


class TestExtremeid:
    tier = _tier("extremeid")

    def test_negative_users_survive_streaming_outer_joins(self, spark, tier):
        """The flush sentinel is ONE reserved id (Long.MIN_VALUE), not a
        sign class: real negative user ids must flow through the
        watermarked outer joins and appear in results. Pins the silent-drop
        defect the old `user_id >= 0` filter caused."""
        out = REGISTRY["stream_full_outer_join"].build(spark, tier).toPandas()
        assert (out["user_id"] < 0).any(), "negative users were dropped"
        assert (out["user_id"] != -(2**63)).all(), "sentinel leaked into results"


class TestHighcard:
    tier = _tier("highcard")
    duck = _duck("highcard")

    def test_markov_admission_cap_fails_fast(self, spark):
        """The Markov kernel pull must REFUSE an exploded ALPHABET with a
        clear admission error, never OOM the driver — but must ADMIT a
        dense kernel over a legitimate taxonomy: the cap is on distinct
        observed states k (<= 300), not on kernel cells, which grow with
        corpus density at a fixed alphabet (round-7 ADVICE). The pull
        stays bounded either way (limit(k_max^2+1) rides the collect)."""
        from etl_file_sync_spark.queries.behavior import (
            _MAX_MARKOV_STATES,
            _collect_kernel,
        )

        # exploded alphabet: a chain over k_max+5 states -> admission error
        big = spark.range(_MAX_MARKOV_STATES + 5).selectExpr(
            "CAST(id AS STRING) AS f", "CAST(id + 1 AS STRING) AS t",
            "CAST(1.0 AS DOUBLE) AS p"
        )
        with pytest.raises(ValueError, match="admission|alphabet|cells"):
            _collect_kernel(big, "test")
        # DENSE kernel on a sane alphabet: 250 states, all 62,500 cells
        # observed — a legitimate taxonomy on a dense corpus must pass
        dense = spark.range(250 * 250).selectExpr(
            "CAST(id % 250 AS STRING) AS f",
            "CAST(CAST(id / 250 AS BIGINT) AS STRING) AS t",
            "CAST(1.0 AS DOUBLE) AS p",
        )
        assert len(_collect_kernel(dense, "test")) == 250 * 250
        small = spark.range(7).selectExpr(
            "CAST(id AS STRING) AS f", "CAST(id + 1 AS STRING) AS t",
            "CAST(1.0 AS DOUBLE) AS p"
        )
        assert len(_collect_kernel(small, "test")) == 7

    def test_markov_sink_transient_stays_zero_float(self, spark, tmp_path):
        """A target-only sink type (reachable, no outgoing transitions)
        must hold h = 0.0 — float-typed, so createDataFrame accepts it —
        matching the oracle's self-loop augmentation. Pins the empty-sum
        int-0 crash the highcard tier caught."""
        import pandas as pd

        d = tmp_path / "toy"
        d.mkdir()
        rows = []
        # user 1: view -> error (absorbing), user 2: view -> dead_end (sink)
        for i, (uid, et, off) in enumerate([
            (1, "view", 0), (1, "error", 60), (2, "view", 0), (2, "dead_end", 60),
            (3, "view", 0), (3, "purchase", 60),
        ]):
            rows.append((i, pd.Timestamp("2024-01-05") + pd.Timedelta(seconds=off + i),
                         uid, et, 1.0, "{}"))
        pd.DataFrame(rows, columns=[
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ]).to_parquet(d / "events.parquet")
        out = {
            r["state"]: r["p_error_before_purchase"]
            for r in REGISTRY["behavior_markov_absorption"].build(spark, str(d)).collect()
        }
        assert out["dead_end"] == 0.0
        assert isinstance(out["dead_end"], float)
        assert out["error"] == 1.0
        assert out["purchase"] == 0.0
        # view splits 1/3 error, 1/3 purchase, 1/3 sink -> h = 1/3
        assert out["view"] == pytest.approx(1 / 3, abs=1e-6)

    def test_markov_on_sf001_highcard_alphabet_within_cap(self, spark, tier, duck):
        """The sf0.001 highcard tier's OBSERVED event alphabet sits inside
        the 300-state admission cap, so the Markov queries must take the
        PARITY branch there (the sweep in tests/test_tiers.py covers them); this
        test pins that the sweep's green Markov rows are parity evidence,
        not vacuous skips."""
        k, = duck.execute(
            "SELECT count(DISTINCT event_type) FROM events"
        ).fetchone()
        from etl_file_sync_spark.queries.behavior import _MAX_MARKOV_STATES

        assert k <= _MAX_MARKOV_STATES, (
            f"sf0.001 highcard alphabet grew past the cap ({k}) — the module "
            "sweep's Markov rows are now admission errors, update this pin"
        )

    def test_markov_admission_on_sf01_highcard(self, spark, tier_dir):
        """Highcard x scale interaction (round-7 ADVICE): the highcard
        REWRITE suffixes ~1/3 of events with event_id % 137, so the
        observed alphabet GROWS with row count toward 5 + 5*137 = 690
        types — past the 300-state admission cap at sf0.01. The Markov
        queries must behave by CONTRACT at every scale: full oracle parity
        while the observed alphabet is admissible, a clean fail-fast
        admission error (never an OOM or a silent wrong answer) once it is
        not. This exercises the cap against the scaled tier the sf0.001
        sweep cannot reach."""
        import duckdb as _duckdb

        d = tier_dir("highcard", src=SF001)
        con = _duckdb.connect()
        k, = con.execute(
            "SELECT count(DISTINCT event_type) FROM "
            f"read_parquet('{d}/events.parquet')"
        ).fetchone()
        from etl_file_sync_spark.queries.behavior import _MAX_MARKOV_STATES

        for name in ("behavior_markov_absorption", "behavior_markov_attribution"):
            q = REGISTRY[name]
            if k <= _MAX_MARKOV_STATES:
                for t_name in TABLES:
                    con.execute(
                        f"CREATE OR REPLACE VIEW {t_name} AS SELECT * FROM "
                        f"read_parquet('{d}/{t_name}.parquet')"
                    )
                assert_frames_match(q.build(spark, d), con.sql(q.oracle))
            else:
                with pytest.raises(ValueError, match="admission|alphabet"):
                    q.build(spark, d).collect()
        con.close()
        spark.catalog.clearCache()


class TestJson:
    tier = _tier("json")

    def test_try_parse_never_aborts(self, spark, tier):
        """The don't-kill-the-job contract: the VARIANT query completes over
        every poke class and yields one row per input id — malformed
        payloads become NULL extractions, not exceptions."""
        out = REGISTRY["scalar_variant_ops"].build(spark, tier).toPandas()
        assert len(out) == 500
        poked_bad = [i for i in range(500) if i % 229 in (3, 7, 11)]
        assert out.set_index("event_id").loc[poked_bad, "k_val"].isna().all()

    def test_truncation_convention(self, spark, tier):
        """'12.7' at the path casts to 12 in BOTH engines (the shared
        grammar convention's double-parse + trunc spelling)."""
        out = REGISTRY["scalar_variant_ops"].build(spark, tier).toPandas()
        string_num = [i for i in range(500) if i % 229 == 19]
        got = out.set_index("event_id").loc[string_num, "k_val"]
        assert (got == 12).all()

    def test_grammar_convention_divergence_zones(self, spark, tier):
        """The round-7 pokes sit exactly where the NATIVE casts disagree
        (quoted '1e3', near-integer decimal strings, Java E-notation
        rendering, '1d'/'1_000' single-engine parses): the shared grammar
        convention must give the same defined answer through the VARIANT
        route — the tier-wide oracle sweep pins the other two routes."""
        out = REGISTRY["scalar_variant_ops"].build(spark, tier).toPandas()
        idx = out.set_index("event_id")["k_val"]
        expect = {73: 1000, 79: 13, 83: 12345678, 89: 0, 97: None,
                  101: None, 103: None, 107: 12, 109: 12}
        for cls, want in expect.items():
            ids = [i for i in range(500) if i % 229 == cls]
            got = idx.loc[ids]
            if want is None:
                assert got.isna().all(), f"class {cls}: {got.tolist()}"
            else:
                assert (got == want).all(), f"class {cls}: {got.tolist()}"

    def test_num_str_int_engine_matches_model(self, spark):
        """Spark side of the grammar convention == the Python model on the
        probe battery (native-cast skew cases included); the DuckDB side
        is pinned by tests/test_convention_properties.py on random text."""
        from etl_file_sync_spark.functions.numcast import num_str_int, py_num_str_int

        cases = [
            "12.7", "-12.7", "12.99999999999999999", "1e3", "1E+3",
            "+5", "-0.5", ".5", "12.", "  12  ", "　12　", "12.7.3",
            "0.004", "99999999999999999999", "2147483648", "-2147483648",
            "2147483647", "-2147483649", "2147483647.999", "-2147483648.9",
            "true", "", "abc", "nan", "inf", "NaN", "Infinity", "-Infinity",
            "9e999", "-9e999", "007", "+.5", "-.", ".", "+.", "..", "+", "-",
            "--5", "1_000", "0x10", "0x1p3", "1d", "1f", "1D",
            "12abc", "12.abc", " +12.9\t\n", "12,7", "\x0b12", "\x1f12",
            "00.5", "12e", "e3", ". 5", "5 .",
        ]
        cases = sorted(set(cases))
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(c,) for c in cases], "s string")
        got = {r.s: r.k for r in df.select("s", num_str_int(F.col("s")).alias("k")).collect()}
        for c in cases:
            assert got[c] == py_num_str_int(c), f"{c!r}: {got[c]} != {py_num_str_int(c)}"


class TestMonsterdoc:
    tier = _tier("monsterdoc")

    def test_monster_rows_flow_through_token_stats(self, spark, tier):
        """The repeated-text monster reports ~REPEATS x its source's token
        count and the blob reports exactly one token — per-row array ops
        hold at tail grain."""
        out = (
            REGISTRY["text_token_stats"].build(spark, tier).toPandas().set_index("doc_id")
        )
        assert out.loc[3, "n_tokens"] >= REPEATS * 40
        assert out.loc[7, "n_tokens"] == 1


class TestNonfinite:
    nan_dir = _tier("nonfinite")

    def test_ingest_contract_blocks_silent_wrap(self, spark, nan_dir):
        """The raw non-ANSI cast turns Infinity into Long.MaxValue cents;
        the sanitized catalog scan must never let that value exist."""
        from pyspark.sql import functions as F

        from etl_file_sync_spark.catalog import load_table

        mx = (
            load_table(spark, nan_dir, "orders")
            .agg(F.max(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("mx"))
            .collect()[0]["mx"]
        )
        assert mx < 10**15, f"non-finite price leaked into cents: {mx}"


class TestRefunds:
    tier = _tier("refunds")

    def test_signed_cents_sum_is_exact(self, spark, tier):
        """Refund rows subtract exactly: the signed integer-cents total over
        the poked tier equals the independently computed pandas sum."""
        import pandas as pd

        from pyspark.sql import functions as F

        from etl_file_sync_spark.catalog import load_table

        got = (
            load_table(spark, tier, "orders")
            .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("c"))
            .collect()[0]["c"]
        )
        import numpy as np

        pdf = pd.read_parquet(f"{tier}/orders.parquet")
        # HALF_UP away from zero like Spark's round (pandas .round is
        # half-EVEN): trunc(x + sign(x)*0.5)
        v = pdf["o_totalprice"].to_numpy() * 100
        want = int(np.trunc(v + np.where(v >= 0, 0.5, -0.5)).astype("int64").sum())
        assert got == want


class TestTimeedge:
    tier = _tier("timeedge")

    def test_watermark_not_poisoned(self, spark, tier):
        """One far-future event must not late-drop the rest of the stream:
        with the admission window, the streamed exactly-once dedup output
        equals the admitted batch relation row-for-row."""
        from pyspark.sql import functions as F

        from etl_file_sync_spark.catalog import load_table
        from etl_file_sync_spark.streaming.replay import ADMIT_MAX_TS, ADMIT_MIN_TS

        q = REGISTRY["stream_dedup_exactly_once"]
        got = q.build(spark, tier).count()
        want = (
            load_table(spark, tier, "events")
            .where(
                (F.col("ts") >= F.lit(ADMIT_MIN_TS).cast("timestamp"))
                & (F.col("ts") < F.lit(ADMIT_MAX_TS).cast("timestamp"))
            )
            .count()
        )
        assert got == want

    def test_bounded_spine_stays_bounded(self, spark, tier):
        """The gapfill spine is the declared reporting window — 31 days per
        key — no matter how corrupt the input timestamps are."""
        from pyspark.sql import functions as F

        out = REGISTRY["ts_gapfill_interpolate"].build(spark, tier)
        per_key = out.groupBy("key" if "key" in out.columns else "user_id").count()
        mx = per_key.agg(F.max("count")).collect()[0][0]
        assert mx == 31, f"spine leaked outside the reporting window: {mx} days"


class TestUnicode:
    def test_ascii_fold_contract(self, spark):
        """The fold maps exactly A-Z and leaves every special-casing
        codepoint alone — the property both runtimes agree on."""
        from pyspark.sql import functions as F

        from etl_file_sync_spark.operators.text import ascii_lower, ascii_upper

        row = (
            spark.range(1)
            .select(
                ascii_lower(F.lit("Straße İ ΟΔΥΣΣΕΥΣ ŉ ABCz")).alias("lo"),
                ascii_upper(F.lit("straße ı ςσ ŉ abcZ")).alias("up"),
            )
            .collect()[0]
        )
        assert row["lo"] == "straße İ ΟΔΥΣΣΕΥΣ ŉ abcz"
        assert row["up"] == "STRAßE ı ςσ ŉ ABCZ"
