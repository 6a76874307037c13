"""Output comparisons for the correctness checks.

Rows are canonicalized with ``tools/oracle_check.normalize`` (the repo's
type-sensitive value canonicalization for oracle diffs), so a check here
passes exactly when that tool would report OK.
"""

from __future__ import annotations

from tools.oracle_check import normalize


def compare_rows(
    got_rows: list[dict], got_cols: list[str], want_rows: list[dict], want_cols: list[str]
) -> list[str]:
    """Problems found comparing two row sets order-insensitively; an empty
    list means they match (same columns, row count and values)."""
    problems = []
    if sorted(got_cols) != sorted(want_cols):
        problems.append(f"SCHEMA got={sorted(got_cols)} want={sorted(want_cols)}")
    if len(got_rows) != len(want_rows):
        problems.append(f"ROWS got={len(got_rows)} want={len(want_rows)}")
    if not problems:
        a = normalize(got_rows, got_cols)
        b = normalize(want_rows, got_cols)
        n_diff = sum(1 for x, y in zip(a, b) if x != y)
        if n_diff:
            example = next((x, y) for x, y in zip(a, b) if x != y)
            problems.append(f"VALUES {n_diff} rows differ, e.g. {example}")
    return problems


def compare_count(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, generator planted {want}"]


def recall_at_k(exact: list[dict], approx: list[dict], k: int = 5) -> float:
    """Mean over queries of |approx top-k ∩ exact top-k| / |exact top-k|."""
    want: dict = {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    if not want:
        return 0.0
    return sum(
        len(want[q] & got.get(q, set())) / min(k, len(want[q])) for q in want
    ) / len(want)
