"""No new copied code in the package.

A query grown by copying the previous one leaves the same lines in two
places, and a fix to one copy misses the other. This test counts the
package's copied lines and fails when the count rises above CEILING.

How a line is counted: for each ``.py`` file under
``etl_file_sync_spark/``, drop blank lines, comment-only lines and the
lines of multi-line string literals (docstrings, oracle SQL), and strip
the rest. A kept line is *copied* when it lies in a window of WINDOW
consecutive kept lines whose text occurs at least twice in the package.
The fix for a failure is one shared definition that the copies call;
raising CEILING is a change to this check and is recorded in CHANGES.md.
No Spark session is needed.
"""

from __future__ import annotations

import io
import tokenize
from collections import Counter
from pathlib import Path

import pytest

pytestmark = pytest.mark.unit

PACKAGE = Path(__file__).resolve().parent.parent / "etl_file_sync_spark"
WINDOW = 6
CEILING = 80


def _kept_lines(path: Path) -> list[tuple[int, str]]:
    """(line number, stripped text) of each line of code in ``path``."""
    src = path.read_text()
    in_string = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.STRING and tok.end[0] > tok.start[0]:
            in_string.update(range(tok.start[0], tok.end[0] + 1))
    return [
        (i, line.strip())
        for i, line in enumerate(src.splitlines(), 1)
        if line.strip() and not line.strip().startswith("#") and i not in in_string
    ]


def copied_runs() -> list[str]:
    """``file:first-last`` of each run of copied lines in the package;
    a run is a maximal stretch of consecutive kept lines that are all
    copied."""
    files = {p: _kept_lines(p) for p in sorted(PACKAGE.rglob("*.py"))}

    def windows(kept):
        return [tuple(s for _, s in kept[j : j + WINDOW]) for j in range(len(kept) - WINDOW + 1)]

    seen = Counter(w for kept in files.values() for w in windows(kept))
    runs = []
    for path, kept in files.items():
        copied = set()
        for j, w in enumerate(windows(kept)):
            if seen[w] > 1:
                copied.update(range(j, j + WINDOW))
        start = None
        for k in range(len(kept) + 1):
            if k in copied and start is None:
                start = k
            elif k not in copied and start is not None:
                rel = path.relative_to(PACKAGE.parent)
                runs.append((f"{rel}:{kept[start][0]}-{kept[k - 1][0]}", k - start))
                start = None
    return runs


def test_copied_lines_stay_under_ceiling():
    runs = copied_runs()
    total = sum(n for _, n in runs)
    assert total <= CEILING, (
        f"{total} copied lines (ceiling {CEILING}); give each copy one shared definition:\n"
        + "\n".join(f"{where} ({n} lines)" for where, n in runs)
    )
