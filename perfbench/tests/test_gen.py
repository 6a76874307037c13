"""Generator determinism, seed sensitivity and planted properties."""

import csv
import hashlib
import os

import pyarrow.parquet as pq

from perfbench import gen


def _digest(d: str) -> dict[str, str]:
    """Relative path -> sha256 of every file under ``d``."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            path = os.path.join(root, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(d: str, seed: int) -> dict:
    props = gen.medallion(os.path.join(d, "raw"), seed, scale=0.2)
    props.update(gen.documents(d, seed, 300))
    props.update(gen.embeddings(d, seed, 300))
    return props


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert _write_all(a, 5) == _write_all(b, 5)
    assert len(_digest(a)) == 6 and _digest(a) == _digest(b)


def test_other_seed_changes_every_file(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_all(a, 5)
    _write_all(b, 6)
    da, db = _digest(a), _digest(b)
    assert da.keys() == db.keys() and all(da[f] != db[f] for f in da)


def test_medallion_planted_counts(tmp_path):
    raw = str(tmp_path / "raw")
    props = gen.medallion(raw, 3, scale=0.2)
    with open(os.path.join(raw, "bookings.csv")) as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == props["bookings_unique"] + props["bookings_dups"]
    unique = {tuple(r.values()) for r in rows}
    assert len(unique) == props["bookings_unique"]
    assert sum(r["currency"] == "GBP" for r in {tuple(r.items()): r for r in rows}.values()) >= props["bookings_gbp"]
    bad = {r["booking_id"] for r in rows if r["booking_date"] in gen.MALFORMED}
    assert len(bad) == props["bookings_malformed_booking_date"]


def test_documents_planted_duplicates_and_no_rounding_ties(tmp_path):
    props = gen.documents(str(tmp_path), 9, 500)
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pylist()
    texts = [d["text"] for d in docs]
    assert len(docs) == 500
    assert len(set(texts)) == props["distinct_texts"] <= 500 - int(500 * gen.EXACT_DUP_FRAC)
    assert not any(gen._quality_tie(t.split()) for t in texts)
    assert all(d["n_chars"] == len(d["text"]) for d in docs)


def test_quality_tie_detects_halfway_scores():
    # 7 tokens, 6 punctuation chars in 32 chars: 0.07 + 0.3 * 26/32 = 0.31375
    assert gen._quality_tie("w10!! w200$$ w300#@ w4 w5 w66 w7".split())
    assert not gen._quality_tie("w100!! w200$$ w300#@ w4 w5 w66 w7".split())


def test_embeddings_are_unit_vectors_with_labels(tmp_path):
    gen.embeddings(str(tmp_path), 2, 100)
    t = pq.read_table(str(tmp_path / "embeddings.parquet")).to_pylist()
    assert len(t) == 100 and {len(r["embedding"]) for r in t} == {gen.EMB_DIM}
    assert all(abs(sum(x * x for x in r["embedding"]) - 1) < 1e-4 for r in t)
    assert {r["label"] for r in t} <= set(range(gen.EMB_CLUSTERS))
