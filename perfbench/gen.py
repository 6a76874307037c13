"""Seeded input generators, one per workload.

Every generator is a pure function of ``(out_dir, seed, size)``: the same
arguments write byte-identical files (numpy ``default_rng`` draws, fixed
vocabularies, CSV rows in generation order, parquet written without
statistics-dependent options). Each returns the input properties it
planted, so the correctness checks can compare the program's output with
counts the generator knows.

- ``medallion`` writes the four reference-shaped raw CSVs
  (``schemas.RAW_TABLES``) with the FIXTURES.md section A defects.
- ``documents`` writes a ``documents.parquet`` corpus with planted exact
  and near duplicates and a low-quality share.
- ``embeddings`` writes a clustered ``embeddings.parquet`` (dim 64).
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# medallion_etl: raw CSVs
# ---------------------------------------------------------------------------

#: ~65k CSV rows, so about 30% of a warm pass scales with rows (measured
#: on 4 cores: ~9 s of fixed planning and scheduling per pass plus
#: ~0.056 s per 1k rows; see perfbench/README.md)
MEDALLION_SIZES = {
    "bookings": 36_000,
    "apartments": 4_500,
    "user_viewing": 18_000,
    "users": 9_000,
}
RAW_TABLE_NAMES = ("apartment_attributes", "apartments", "bookings", "user_viewing")
DUP_FRAC = 0.03  # exact duplicate rows appended to every table
MALFORMED_DATE_FRAC = 0.01  # per date column
ORPHAN_FRAC = 0.02  # bookings whose apartment_id matches no apartment
BOUNDARY_USERS = 100  # planted users per side of the 30-day M7 boundary
CURRENCIES = (("USD", 0.50), ("EUR", 0.30), ("INR", 0.15), ("GBP", 0.05))
STATUSES = (("confirmed", 0.70), ("canceled", 0.20), ("pending", 0.10))
CITIES = tuple(f"City{i:02d}" for i in range(60))
BASE_DATE = dt.date(2024, 1, 1)
DATE_SPAN_DAYS = 180
MALFORMED = ("31-12-2024", "2024/13/45", "99/99/9999", "not a date")


def _choice(rng: np.random.Generator, table, n: int) -> np.ndarray:
    names = np.array([name for name, _ in table])
    return names[rng.choice(len(table), size=n, p=[p for _, p in table])]


def _fmt_dates(days: np.ndarray) -> list[str]:
    return [(BASE_DATE + dt.timedelta(days=int(d))).strftime("%d/%m/%Y") for d in days]


def _malform(rng: np.random.Generator, col: list[str]) -> int:
    """Overwrite a MALFORMED_DATE_FRAC share of ``col`` in place; return
    how many entries were overwritten."""
    idx = rng.choice(len(col), size=int(len(col) * MALFORMED_DATE_FRAC), replace=False)
    bad = rng.integers(0, len(MALFORMED), size=len(idx))
    for i, b in zip(idx.tolist(), bad.tolist()):
        col[i] = MALFORMED[b]
    return len(idx)


def _write_csv(
    path: str, header: list[str], columns: list, rng: np.random.Generator
) -> tuple[int, int]:
    """Write rows plus a DUP_FRAC share of exact duplicates, in shuffled
    order; return (rows an exact dedup removes, distinct rows). The first
    also counts any row the draws happened to repeat."""
    rows = list(zip(*columns))
    n_dup = int(len(rows) * DUP_FRAC)
    dup_idx = rng.choice(len(rows), size=n_dup, replace=False)
    rows.extend(rows[i] for i in dup_idx.tolist())
    order = rng.permutation(len(rows))
    with open(path, "w", newline="") as fh:
        writer = csv.writer(fh, lineterminator="\n")
        writer.writerow(header)
        writer.writerows(rows[i] for i in order.tolist())
    n_unique = len(set(rows))
    return len(rows) - n_unique, n_unique


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> list[str]:
    cents = rng.integers(int(lo * 100), int(hi * 100), size=n)
    return [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]


def _bools(rng: np.random.Generator, n: int, p: float = 0.5) -> list[str]:
    return ["true" if b else "false" for b in (rng.random(n) < p).tolist()]


def medallion(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write apartment_attributes/apartments/bookings/user_viewing CSVs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_apt = int(MEDALLION_SIZES["apartments"] * scale)
    n_bkg = int(MEDALLION_SIZES["bookings"] * scale)
    n_view = int(MEDALLION_SIZES["user_viewing"] * scale)
    n_users = int(MEDALLION_SIZES["users"] * scale)
    props: dict = {"dup_frac": DUP_FRAC, "malformed_date_frac": MALFORMED_DATE_FRAC}

    apt_ids = np.arange(1, n_apt + 1)
    # city popularity is skewed: city i has weight 1/(i+1)
    w = 1.0 / np.arange(1, len(CITIES) + 1)
    city = np.array(CITIES)[rng.choice(len(CITIES), size=n_apt, p=w / w.sum())]
    attrs = [
        apt_ids.tolist(),
        rng.choice(["Studio", "1BHK", "2BHK", "3BHK"], size=n_apt).tolist(),
        [f"Bright flat {i} near the station" for i in apt_ids.tolist()],
        rng.choice(["Wifi,Parking", "Wifi", "Pool,Gym,Wifi", ""], size=n_apt).tolist(),
        rng.integers(1, 4, size=n_apt).tolist(),
        rng.integers(0, 5, size=n_apt).tolist(),
        _money(rng, 0, 999, n_apt),
        _bools(rng, n_apt, 0.8),
        _bools(rng, n_apt, 0.3),
        [f"${p}" for p in rng.integers(300, 5000, size=n_apt).tolist()],
        rng.choice(["Monthly", "Weekly"], size=n_apt).tolist(),
        rng.integers(200, 3000, size=n_apt).tolist(),
        [f"{i} Main Street" for i in apt_ids.tolist()],
        city.tolist(),
        [f"S{int(c[4:]) % 20:02d}" for c in city.tolist()],
        [f"{x:.6f}" for x in rng.uniform(25, 48, size=n_apt).tolist()],
        [f"{x:.6f}" for x in rng.uniform(-124, -70, size=n_apt).tolist()],
    ]
    props["apartment_attributes_dups"], props["apartment_attributes_unique"] = _write_csv(
        os.path.join(out_dir, "apartment_attributes.csv"),
        [f.name for f in _schema("apartment_attributes")], attrs, rng,
    )

    listed = _fmt_dates(rng.integers(0, DATE_SPAN_DAYS, size=n_apt))
    props["apartments_malformed_listing_created_on"] = _malform(rng, listed)
    apts = [
        apt_ids.tolist(),
        [f"Listing {i}" for i in apt_ids.tolist()],
        rng.choice(["Airbnb", "Zillow", "Booking", "Vrbo"], size=n_apt).tolist(),
        _money(rng, 30, 2000, n_apt),
        _choice(rng, CURRENCIES, n_apt).tolist(),
        listed,
        _bools(rng, n_apt, 0.9),
        _fmt_dates(rng.integers(0, DATE_SPAN_DAYS, size=n_apt)),
    ]
    props["apartments_dups"], props["apartments_unique"] = _write_csv(
        os.path.join(out_dir, "apartments.csv"),
        [f.name for f in _schema("apartments")], apts, rng,
    )

    # bookings: user ids skewed (square of a uniform draw favours low ids)
    n_plain = n_bkg - 4 * BOUNDARY_USERS
    user = (n_users * rng.random(n_plain) ** 2).astype(np.int64) + 1
    apt = rng.integers(1, n_apt + 1, size=n_plain)
    orphan = rng.random(n_plain) < ORPHAN_FRAC
    apt[orphan] = n_apt + 1 + rng.integers(0, 1000, size=int(orphan.sum()))
    bdate = rng.integers(0, DATE_SPAN_DAYS, size=n_plain)
    status = _choice(rng, STATUSES, n_plain)
    # planted M7 boundary: per user two confirmed bookings exactly 30
    # (repeat) or 31 (not repeat) days apart, on user ids nobody else has
    first = rng.integers(0, DATE_SPAN_DAYS - 31, size=2 * BOUNDARY_USERS)
    gap = np.repeat([30, 31], BOUNDARY_USERS)
    b_user = np.repeat(n_users + 1 + np.arange(2 * BOUNDARY_USERS), 2)
    b_date = np.stack([first, first + gap], axis=1).reshape(-1)
    user = np.concatenate([user, b_user])
    apt = np.concatenate([apt, rng.integers(1, n_apt + 1, size=len(b_user))])
    bdate = np.concatenate([bdate, b_date])
    status = np.concatenate([status, np.full(len(b_user), "confirmed")])
    checkin = bdate + rng.integers(0, 60, size=n_bkg)
    checkout = checkin + rng.integers(0, 15, size=n_bkg)  # 0 = same-day stay
    currency = _choice(rng, CURRENCIES, n_bkg)
    cols = {
        "booking_date": _fmt_dates(bdate),
        "checkin_date": _fmt_dates(checkin),
        "checkout_date": _fmt_dates(checkout),
    }
    # the planted boundary rows keep valid booking dates
    for name, col in cols.items():
        head = col[:n_plain]
        props[f"bookings_malformed_{name}"] = _malform(rng, head)
        cols[name] = head + col[n_plain:]
    bookings = [
        np.arange(1, n_bkg + 1).tolist(),
        user.tolist(),
        apt.tolist(),
        cols["booking_date"],
        cols["checkin_date"],
        cols["checkout_date"],
        _money(rng, 20, 5000, n_bkg),
        currency.tolist(),
        status.tolist(),
    ]
    props["bookings_dups"], props["bookings_unique"] = _write_csv(
        os.path.join(out_dir, "bookings.csv"),
        [f.name for f in _schema("bookings")], bookings, rng,
    )
    props["bookings_gbp"] = int((currency == "GBP").sum())
    props["bookings_orphan"] = int(orphan.sum())
    props["boundary_users_per_side"] = BOUNDARY_USERS

    viewed = _fmt_dates(rng.integers(0, DATE_SPAN_DAYS, size=n_view))
    props["user_viewing_malformed_viewed_at"] = _malform(rng, viewed)
    views = [
        rng.integers(1, n_users + 1, size=n_view).tolist(),
        rng.integers(1, n_apt + 1, size=n_view).tolist(),
        viewed,
        _bools(rng, n_view, 0.2),
        rng.choice(["Contact", "Book Now", "Save for Later"], size=n_view).tolist(),
    ]
    props["user_viewing_dups"], props["user_viewing_unique"] = _write_csv(
        os.path.join(out_dir, "user_viewing.csv"),
        [f.name for f in _schema("user_viewing")], views, rng,
    )
    props["rows_in"] = sum(props[f"{t}_dups"] + props[f"{t}_unique"] for t in RAW_TABLE_NAMES)
    return props


def _schema(table: str):
    from lab_etl_batch_data_processing_pipeline__spark.schemas import RAW_TABLES

    return RAW_TABLES[table].fields


# ---------------------------------------------------------------------------
# corpus_vector: documents + embeddings parquet
# ---------------------------------------------------------------------------

#: fixed vocabulary, so the seed changes which words a document draws and
#: never the md5 order of the words (that order sets the Jaccard blocks)
VOCAB = tuple(f"w{i}" for i in range(4000))
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
PUNCT = ("!!", "$$", "#@", "%%", "&*", "??")
LANGS = (("en", 0.4), ("de", 0.15), ("fr", 0.15), ("es", 0.15), ("zh", 0.15))
EXACT_DUP_FRAC = 0.08
NEAR_DUP_FRAC = 0.08
LOW_QUALITY_FRAC = 0.15
NEAR_DUP_MIN_JACCARD = 0.5


def _quality_tie(words: list[str]) -> bool:
    """True when ``text.doc_stats``' quality score of this document lies
    exactly halfway between two 4-decimal values. Spark and DuckDB round
    such ties differently (the oracle disagrees on the last digit), so
    the generator never emits them; the exact score uses the same
    formula in rational arithmetic."""
    text = " ".join(words)
    n = len(words)
    n_stop = sum(w in STOPWORDS for w in words)
    n_punct = sum(not (ch.isascii() and (ch.isalnum() or ch.isspace())) for ch in text)
    score = (
        Fraction(min(n, 50), 50) * Fraction(1, 2)
        + (1 - min(Fraction(n_punct, len(text)), Fraction(1))) * Fraction(3, 10)
        + min(Fraction(n_stop * 5, n), Fraction(1)) * Fraction(1, 5)
    )
    return min(score, Fraction(1)) * 10**4 % 1 == Fraction(1, 2)


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb)


def _base_doc(rng: np.random.Generator, zipf_w: np.ndarray, low: bool) -> list[str]:
    """A high-quality document (30-89 tokens, ~20% stopwords) or a
    low-quality one (4-11 tokens, no stopwords, punctuation runs)."""
    if low:
        k = int(rng.integers(4, 12))
        words = [VOCAB[i] for i in rng.choice(len(VOCAB), size=k, p=zipf_w)]
        for pos in rng.integers(0, k, size=int(rng.integers(2, 5))).tolist():
            words[pos] = words[pos] + PUNCT[int(rng.integers(0, len(PUNCT)))]
    else:
        k = int(rng.integers(30, 90))
        words = [VOCAB[i] for i in rng.choice(len(VOCAB), size=k, p=zipf_w)]
        for pos in np.flatnonzero(rng.random(k) < 0.2).tolist():
            words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return words


def documents(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write documents.parquet: base docs, then planted exact duplicates
    (same text, new id) and near duplicates (token-set Jaccard >= 0.5 with
    an earlier doc), interleaved by a seeded permutation of doc ids."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_exact = int(n_docs * EXACT_DUP_FRAC)
    n_near = int(n_docs * NEAR_DUP_FRAC)
    n_base = n_docs - n_exact - n_near
    zipf_w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    zipf_w /= zipf_w.sum()
    texts: list[list[str]] = []
    n_low = 0
    for _ in range(n_base):
        low = rng.random() < LOW_QUALITY_FRAC
        n_low += low
        words = _base_doc(rng, zipf_w, low)
        while _quality_tie(words):
            words = _base_doc(rng, zipf_w, low)
        texts.append(words)
    for _ in range(n_exact):
        texts.append(list(texts[int(rng.integers(0, n_base))]))
    for _ in range(n_near):
        src = texts[int(rng.integers(0, n_base))]
        while True:
            words = list(src)
            for pos in rng.integers(0, len(words), size=max(1, len(words) // 12)).tolist():
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if _jaccard(words, src) >= NEAR_DUP_MIN_JACCARD and not _quality_tie(words):
                break
        texts.append(words)
    order = rng.permutation(n_docs)
    text = [" ".join(texts[i]) for i in order.tolist()]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(_choice(rng, LANGS, n_docs).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {
        "docs": n_docs,
        "exact_dup_frac": EXACT_DUP_FRAC,
        "near_dup_frac": NEAR_DUP_FRAC,
        "near_dup_min_jaccard": NEAR_DUP_MIN_JACCARD,
        "low_quality_docs": n_low,
        "distinct_texts": len(set(text)),
    }


EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_JITTER = 0.35


def embeddings(out_dir: str, seed: int, n_vecs: int) -> dict:
    """Write embeddings.parquet: unit vectors drawn as seeded cluster
    centres plus Gaussian jitter (the label is the cluster)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    centres = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, size=n_vecs)
    vecs = centres[label] + EMB_JITTER * rng.standard_normal((n_vecs, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_vecs * EMB_DIM + 1, EMB_DIM), pa.int32()),
                pa.array(vecs.reshape(-1), pa.float32()),
            ),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"))
    return {
        "vectors": n_vecs,
        "dim": EMB_DIM,
        "clusters": EMB_CLUSTERS,
        "jitter": EMB_JITTER,
    }
