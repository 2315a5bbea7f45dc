"""The numeric-string → INT convention, one spelling for both engines.

Schema-on-read JSON extraction ends in a string-to-int cast, and the
two engines' native casts genuinely disagree at the edges:

* Spark's non-ANSI string→int is a LEXICAL truncator: it rejects
  exponents (CAST('1e3' AS INT) = NULL) and truncates the written
  digits (CAST('12.99999999999999999' AS INT) = 12), accepts Java-isms
  like '1d' / '0x1p3' in its string→double path, and trims every
  codepoint ≤ 0x20.
* DuckDB's CAST rounds ('12.7' → 13), errors on overflow, accepts
  underscore separators ('1_000' → 1000), and trims only standard
  whitespace.

No spelling of one engine's native cast reproduces the other, so the
engine DEFINES the convention and both sides implement it explicitly:

1. trim leading/trailing ASCII control chars and space ([\\x01-\\x20]);
2. the trimmed string must match the shared grammar
   ``[+-]? ( digits [. digits*] | . digits ) [eE [+-] digits]`` —
   no Infinity/NaN words, no hex floats, no type suffixes, no
   underscores;
3. parse as double (identical nearest-double in both engines),
   truncate toward zero;
4. non-finite (e.g. '9e999') or outside INT32 → NULL; junk → NULL.

This also makes every JSON-number extraction route agree: Jackson
(get_json_object) renders doubles in Java E-notation ("1.2345678E7"),
VARIANT renders non-exponent decimals exactly ("12345678"), and DuckDB
json_extract_string expands decimals ("12345678.0") — all three match
the grammar and parse back to the same double, so the composed
json→string→int result is identical everywhere. Pinned by
tests/test_convention_properties.py (oracle spelling vs the Python
model on random strings), tests/test_tier*.py (engine vs oracle
on the poked tier, plus the Spark-side battery).

Reference parity: the reference parses payloads with json.loads and
int() coercion per row (message.py:69); this is the declarative,
engine-neutral restatement of that surface.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: chars Spark's cast trims that the grammar therefore trims too
TRIM_RE = r"^[\x01-\x20]+|[\x01-\x20]+$"

#: the shared numeric-string grammar (anchored; both regex engines agree)
NUM_RE = r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$"

_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


def num_str_int(col: Column | str) -> Column:
    """Spark side of the convention: grammar-guarded double parse,
    truncate toward zero, NULL on junk/non-finite/INT32 overflow."""
    c = col if isinstance(col, Column) else F.col(col)
    t = F.regexp_replace(c, TRIM_RE, "")
    d = F.when(t.rlike(NUM_RE), t.cast("double"))
    in_range = (d > F.lit(float(_INT_MIN - 1))) & (d < F.lit(float(_INT_MAX + 1)))
    return F.when(in_range, d.cast("int"))


def num_int_sql(expr: str) -> str:
    """DuckDB oracle spelling of the same convention, applied to a SQL
    string expression. Single-quoted regex literals: DuckDB passes the
    backslashes through to RE2 untouched."""
    t = f"regexp_replace({expr}, '{TRIM_RE}', '', 'g')"
    return (
        f"CASE WHEN regexp_matches({t}, '{NUM_RE}') "
        f"THEN TRY_CAST(trunc(TRY_CAST({t} AS DOUBLE)) AS INTEGER) END"
    )


def py_num_str_int(s: str | None) -> int | None:
    """Pure-Python model of the convention, for property tests."""
    if s is None:
        return None
    t = re.sub(TRIM_RE, "", s)
    if not re.match(NUM_RE, t):
        return None
    f = float(t)
    if math.isinf(f) or math.isnan(f):
        return None
    tr = math.trunc(f)
    if not (_INT_MIN <= tr <= _INT_MAX):
        return None
    return tr
