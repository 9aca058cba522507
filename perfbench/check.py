"""Output checks shared by the orchestrator and the Spark worker.

``normalize`` is the comparison rule of ``scripts/check_oracle.py``:
columns in sorted-name order, NaN made comparable, rows sorted by
``repr`` — exact and order-insensitive, no float tolerance.
"""

from __future__ import annotations

import math


def normalize(rows, colnames) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare(got_cols, got_rows, want_cols, want_norm) -> str | None:
    """None when the result matches, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_norm):
        return f"rowcount {len(got_rows)} != {len(want_norm)}"
    got = normalize(got_rows, got_cols)
    if got != want_norm:
        bad = [(a, b) for a, b in zip(got, want_norm) if a != b][:2]
        return f"value mismatch, first diffs: {bad}"
    return None


def corrupt(want_norm: list[tuple]) -> list[tuple]:
    """A copy of an oracle answer with one value changed (self-check)."""
    if not want_norm:
        return [("corrupted",)]
    first = list(want_norm[0])
    v = first[0]
    first[0] = (v + 1) if isinstance(v, (int, float)) and not isinstance(
        v, bool) else f"{v}#corrupted"
    return [tuple(first)] + list(want_norm[1:])
