"""The correctness comparisons catch planted wrong rows."""

import datetime as dt

from perfbench.checks import compare_count, compare_rows, recall_at_k

COLS = ["id", "score", "day"]
ROWS = [
    {"id": 1, "score": 0.5, "day": dt.date(2024, 1, 1)},
    {"id": 2, "score": 1.25, "day": dt.date(2024, 1, 2)},
    {"id": 3, "score": None, "day": None},
]


def test_same_rows_in_any_order_and_column_order_match():
    want = [dict(reversed(list(r.items()))) for r in reversed(ROWS)]
    assert compare_rows(ROWS, COLS, want, list(reversed(COLS))) == []


def test_planted_wrong_row_is_caught():
    bad = [dict(r) for r in ROWS]
    bad[1]["score"] = 1.2500001
    problems = compare_rows(ROWS, COLS, bad, COLS)
    assert len(problems) == 1 and problems[0].startswith("VALUES 1 rows differ")


def test_type_change_is_caught():
    bad = [dict(r) for r in ROWS]
    bad[0]["id"] = "1"
    assert compare_rows(ROWS, COLS, bad, COLS)


def test_missing_row_and_schema_are_caught():
    assert compare_rows(ROWS, COLS, ROWS[:2], COLS) == ["ROWS got=3 want=2"]
    assert compare_rows(ROWS, COLS, ROWS, ["id", "score", "other"])[0].startswith("SCHEMA")


def test_compare_count():
    assert compare_count("x", 3, 3) == []
    assert compare_count("x", 3, 4) == ["x: got 3, generator planted 4"]


def test_recall_at_k():
    exact = [{"query_id": q, "neighbor_id": n} for q in (0, 1) for n in range(5)]
    approx = [{"query_id": 0, "neighbor_id": n} for n in range(5)] + [
        {"query_id": 1, "neighbor_id": n} for n in (0, 1, 7, 8, 9)
    ]
    assert recall_at_k(exact, approx) == (1.0 + 0.4) / 2


def test_trace_checks_catch_dropped_rows_and_documents():
    from perfbench import gen
    from perfbench.workloads import CorpusVector, MedallionEtl

    med = MedallionEtl("unused", 1)
    med.props = {f"{t}_dups": 2 for t in gen.RAW_TABLE_NAMES}
    assert med.trace_checks({"check.rows_dropped": 8}) == {"rows_dropped": []}
    assert med.trace_checks({"check.rows_dropped": 9})["rows_dropped"]
    cv = CorpusVector("unused", 1)
    cv.outputs["corpus_prep"] = ([{"doc_id": i} for i in range(5)], ["doc_id"])
    assert cv.trace_checks({"check.docs_kept": [5]}) == {"docs_kept": []}
    assert cv.trace_checks({"check.docs_kept": [4]})["docs_kept"]
