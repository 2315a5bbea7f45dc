"""Property-based depth for the round-6 mirrored conventions.

The poked-tier sweeps pin the conventions on fixed payload classes;
these hypothesis tests pin them on RANDOM inputs, engine-vs-engine
without Spark: the DuckDB oracle spelling of each convention must equal
an independent pure-Python model on arbitrary strings. (The Spark side
of each convention is pinned by the tier sweeps and the
test_ascii_fold_contract unit test — these properties close the
oracle-spelling half.)
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

pytestmark = pytest.mark.unit

_A_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_A_LO = "abcdefghijklmnopqrstuvwxyz"
_FOLD = str.maketrans(_A_UP, _A_LO)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


# arbitrary unicode minus surrogates (not encodable to UTF-8 for DuckDB)
# and NUL (DuckDB varchar rejects embedded NUL)
_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(_TEXT)
def test_ascii_fold_oracle_spelling_matches_python(duck, s):
    """translate(x, A-Z, a-z) in DuckDB == str.translate ASCII fold —
    and fully Unicode-insensitive (every non-A-Z codepoint untouched)."""
    got = duck.execute(
        f"SELECT translate(?, '{_A_UP}', '{_A_LO}')", [s]
    ).fetchone()[0]
    assert got == s.translate(_FOLD)


@settings(max_examples=200, deadline=None)
@given(_TEXT)
def test_ascii_trim_oracle_spelling_matches_python(duck, s):
    """trim(x, ' ') strips exactly ASCII spaces (DuckDB's bare trim()
    strips Unicode whitespace — the unicode tier caught U+3000)."""
    got = duck.execute("SELECT trim(?, ' ')", [s]).fetchone()[0]
    assert got == s.strip(" ")


# The numeric-string grammar convention (functions/numcast.py): the
# round-6 spelling modeled Spark's native cast with float(), but
# Spark's non-ANSI string->int is LEXICAL (CAST('1e3' AS INT) = NULL,
# CAST('12.99999999999999999' AS INT) = 12) and its string->double
# accepts Java-isms ('1d', '0x1p3') DuckDB rejects, while DuckDB
# accepts '1_000' Spark rejects — so round 7 replaced reliance on
# either native cast with an explicit shared grammar implemented
# identically in both engines. These properties pin the DuckDB
# spelling to the Python model; the Spark side is pinned by the
# battery in tests/test_tier_truths.py.

_NUMISH = st.one_of(
    st.integers(-(10**25), 10**25).map(str),
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
    st.sampled_from([
        "true", "false", "12.7", "-12.7", "", "abc",
        "1e3", "1E+3", "12.99999999999999999",  # the r6 ADVICE cases
        "99999999999999999999", "0.004", "-0.5", "nan", "inf",
        "Infinity", "-Infinity", "NaN", "9e999", "-9e999",
        "1d", "1f", "1D", "0x1p3", "0x10", "1_000",  # native-cast skew
        ".", "-.", "+.", ".5", "12.", "+", "-", "..",
        " 12 ", "\x0b12", "\x1f12", "\t+12.9\n", "　12", " 12",
        "007", "00.5", "12.7.3", "12abc", "12,7", "12e", "e3",
        "2147483647", "2147483648", "-2147483648", "-2147483649",
        "2147483647.999", "-2147483648.9",
    ]),
    _TEXT,
)


@settings(max_examples=400, deadline=None)
@given(_NUMISH)
def test_num_int_oracle_spelling_matches_model(duck, s):
    """num_int_sql(x) in DuckDB == py_num_str_int, for integral,
    decimal, scientific, control-padded, Java-suffixed, underscored,
    boolean-word, overflow and junk strings alike."""
    from etl_file_sync_spark.functions.numcast import num_int_sql, py_num_str_int

    got = duck.execute(f"SELECT {num_int_sql('$1')}", [s]).fetchone()[0]
    want = py_num_str_int(s)
    assert got == want, f"{s!r}: {got} != {want}"
