"""Property-based checks (SURVEY.md §5 item 4) over randomized inputs.

hypothesis drives the data; each property is a semantic invariant an
operator must hold for *any* input, not just fixtures. Spark jobs are
slow per example, so max_examples is kept small — the value is in the
randomized shapes (dupes, ties, empty groups), not the volume.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from lab_etl_batch_data_processing_pipeline__spark.operators import (
    cleaning,
    dedup_fuzzy,
    metrics,
)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),                      # user_id
        st.dates(dt.date(2024, 1, 1), dt.date(2024, 3, 31)),        # booking_date
        st.sampled_from(["confirmed", "canceled", "pending"]),      # status
    ),
    min_size=1,
    max_size=30,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_repeat_rate_bounded_0_100(spark, rows):
    df = spark.createDataFrame(
        [(u, d, s) for u, d, s in rows],
        "user_id int, booking_date date, booking_status string",
    )
    out = metrics.repeat_customer_rate_monthly(
        df, "user_id", "booking_date", status_col="booking_status"
    ).collect()
    for r in out:
        assert 0.0 <= r.repeat_rate_pct <= 100.0
        assert r.repeat_customers <= r.total_customers


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_dedup_exact_idempotent_and_bounded(spark, rows):
    df = spark.createDataFrame(
        [(u, d, s) for u, d, s in rows],
        "user_id int, booking_date date, booking_status string",
    )
    once = cleaning.dedup_exact(df)
    n1 = once.count()
    assert n1 <= df.count()
    assert cleaning.dedup_exact(once).count() == n1
    # dedup result is a subset of the input rows
    assert once.exceptAll(df).count() == 0


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_dedup_by_keys_one_row_per_key(spark, rows):
    df = spark.createDataFrame(
        [(u, d, s) for u, d, s in rows],
        "user_id int, booking_date date, booking_status string",
    )
    out = cleaning.dedup_by_keys(df, ["user_id"])
    assert out.count() == df.select("user_id").distinct().count()


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c"), min_size=0, max_size=40
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_jaccard_bounds_and_exact_dup_is_one(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(len(texts), texts[0])],
        "doc_id long, text string",
    )
    pairs = dedup_fuzzy.jaccard_near_dups(docs, threshold=0.0).collect()
    for p in pairs:
        assert 0.0 <= p.jaccard <= 1.0
    # the injected exact duplicate pairs at jaccard == 1 (if it has tokens)
    if texts[0].strip():
        match = [p for p in pairs if p.doc_id_a == 0 and p.doc_id_b == len(texts)]
        assert match and match[0].jaccard == 1.0


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 25), st.integers(1, 25)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_match_union_find(spark, edges):
    """The recursive contraction must agree with a reference union-find
    on arbitrary graphs (chains, cliques, forests, multi-edges)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    got = {
        r.node_id: r.component_id for r in graph.connected_components(df).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 4),                 # user
            st.sampled_from(["A", "B", "C"]),  # state
            st.integers(0, 50),                # ts
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd2_matches_python_reference(spark, rows):
    """SCD2 compression must agree with a sequential reference: dedupe
    consecutive states per user (ordered by ts with a monotonic
    tiebreaker), close each version at the next change."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    data = [(u, s, t, i) for i, (u, s, t) in enumerate(rows)]
    expected = []
    by_user = {}
    for u, s, t, i in sorted(data, key=lambda r: (r[0], r[2], r[3])):
        by_user.setdefault(u, []).append((s, t))
    for u, seq in by_user.items():
        changes = [seq[0]] + [
            cur for prev, cur in zip(seq, seq[1:]) if cur[0] != prev[0]
        ]
        for v, ((s, t), nxt) in enumerate(zip(changes, changes[1:] + [None])):
            expected.append(
                (u, s, t, nxt[1] if nxt else None, v + 1, nxt is None)
            )

    df = spark.createDataFrame(
        data, "user_id long, state string, ts long, event_id long"
    )
    got = [
        (r.user_id, r.state, r.valid_from, r.valid_to, r.version, r.is_current)
        for r in scd.scd2_history(df, "user_id", "state", "ts", ("event_id",)).collect()
    ]
    # None-safe total order: valid_to is None on the current version, and
    # same-timestamp duplicate states can make two rows tie through
    # valid_from then compare valid_to int-vs-None (crashes bare sorted()).
    def key(t):
        return tuple(str(x) for x in t)

    assert sorted(got, key=key) == sorted(expected, key=key)


@given(
    n_tokens=st.integers(0, 60),
    max_tokens=st.integers(2, 12),
    overlap=st.integers(0, 6),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunking_reconstructs_token_stream(spark, n_tokens, max_tokens, overlap):
    """Dropping the first `overlap` tokens of every chunk after the
    first must reconstruct the document's token stream exactly — the
    invariant that makes overlapped chunks safe to detokenize/join."""
    from hypothesis import assume

    from lab_etl_batch_data_processing_pipeline__spark.operators import text

    assume(overlap < max_tokens)
    tokens = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(tokens))], "doc_id long, text string")
    chunks = sorted(
        (r.chunk_id, r.chunk_text)
        for r in text.chunk_documents(df, max_tokens, overlap).collect()
    )
    rebuilt = []
    for cid, chunk_text in chunks:
        toks = chunk_text.split(" ") if chunk_text else []
        rebuilt.extend(toks if cid == 1 else toks[overlap:])
    assert rebuilt == tokens


text_strategy = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8",
            categories=("L", "N", "P", "Z", "Cc", "Cf"),
        ),
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=text_strategy)
@settings(**SETTINGS)
def test_normalize_text_is_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) for arbitrary unicode —
    canonicalization must be a projection onto its own fixed points, or
    re-running the corpus-prep stage would keep changing bytes."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import text as t

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )
    once = t.normalize_text(df).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    twice = t.normalize_text(once)
    for r in twice.collect():
        assert not r.changed, (texts[r.doc_id], r.norm_text)


@given(texts=st.lists(st.text(max_size=40), min_size=1, max_size=6))
@settings(**SETTINGS)
def test_char_lm_scores_are_probabilities(spark, texts):
    """avg_char_prob in [0, 1]; n_grams == max(len-2, 0) in chars; docs
    with identical text get identical scores (pure function of corpus)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import text as t

    rows = [(i, s) for i, s in enumerate(texts)] + [
        (100 + i, s) for i, s in enumerate(texts)  # duplicate block
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in t.char_lm_familiarity(df).collect()}
    for i, s in enumerate(texts):
        r = out[i]
        assert 0.0 <= r.avg_char_prob <= 1.0
        assert r.n_grams == max(len(s.lower()) - 2, 0)
        assert (r.n_grams, r.sum_micro_p) == (
            out[100 + i].n_grams,
            out[100 + i].sum_micro_p,
        )


@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # key
            st.integers(min_value=0, max_value=500),        # ts
            st.integers(min_value=-50, max_value=50),       # value
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_resample_ffill_invariants(spark, obs):
    """For any observation set: grid is dense per key; filled values
    never invent numbers (every non-NULL value was observed for that
    key); observed ticks carry an observed value; leading gaps are NULL."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.windows import (
        resample_ffill,
    )

    rows = [(k, float(t), float(v), i) for i, (k, t, v) in enumerate(obs)]
    df = spark.createDataFrame(rows, "k long, ts double, v double, eid long")
    out = resample_ffill(df, "k", "ts", "v", 50, tiebreak_col="eid").collect()
    per_key_vals = {}
    for k, t, v, _ in rows:
        per_key_vals.setdefault(k, set()).add(v)
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r)
    for k, ticks in by_key.items():
        ts_list = [r.tick_ts for r in ticks]
        # dense ascending grid at the interval
        assert ts_list == list(range(min(ts_list), max(ts_list) + 1, 50))
        seen_value = False
        for r in sorted(ticks, key=lambda r: r.tick_ts):
            if r.value is not None:
                seen_value = True
                assert r.value in per_key_vals[k]  # never invented
            else:
                assert not seen_value  # NULLs only before first observation
            if r.is_observed:
                assert r.value is not None


@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(-1e6, 1e6)), min_size=1, max_size=40
    )
)
@settings(**SETTINGS)
def test_histogram_partitions_all_non_null_rows(spark, vals):
    from lab_etl_batch_data_processing_pipeline__spark.operators.profiling import (
        histogram,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    non_null = [v for v in vals if v is not None]
    if not non_null:
        with pytest.raises(ValueError):
            histogram(df, "v", 4)
        return
    out = histogram(df, "v", 4).collect()
    assert sum(r.n_rows for r in out) == len(non_null)
    assert all(r.n_rows >= 0 for r in out)
    # bins tile [min, max] without gaps
    if len(out) > 1:
        for a, b in zip(out, out[1:]):
            assert a.hi == pytest.approx(b.lo)


@given(
    old_rows=st.lists(
        st.tuples(
            st.integers(0, 15),                          # key
            st.one_of(st.none(), st.integers(0, 3)),     # v1 (nullable)
            st.sampled_from(["a", "b"]),                 # v2
        ),
        max_size=25,
        unique_by=lambda r: r[0],
    ),
    new_rows=st.lists(
        st.tuples(
            st.integers(0, 15),
            st.one_of(st.none(), st.integers(0, 3)),
            st.sampled_from(["a", "b"]),
        ),
        max_size=25,
        unique_by=lambda r: r[0],
    ),
)
@settings(**SETTINGS)
def test_snapshot_diff_matches_python_reference(spark, old_rows, new_rows):
    """snapshot_diff must agree with the obvious dict-based diff for any
    pair of keyed snapshots, including NULL transitions — and the
    hash_compare form must agree with the exact form."""
    expected = {}
    old_map = {r[0]: r[1:] for r in old_rows}
    new_map = {r[0]: r[1:] for r in new_rows}
    for k in old_map.keys() | new_map.keys():
        if k not in old_map:
            expected[k] = "added"
        elif k not in new_map:
            expected[k] = "removed"
        elif old_map[k] != new_map[k]:
            expected[k] = "changed"
    schema = "k long, v1 int, v2 string"
    old = spark.createDataFrame(old_rows or [], schema)
    new = spark.createDataFrame(new_rows or [], schema)
    for hash_compare in (False, True):
        got = {
            r.k: r.change_type
            for r in cleaning.snapshot_diff(
                old, new, ["k"], hash_compare=hash_compare
            ).collect()
        }
        assert got == expected, hash_compare


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["ant", "bee", "cat", "dog", "elk", "fox"]),
            min_size=1, max_size=6,
        ).map(" ".join),
        min_size=2, max_size=14,
    ),
    split=st.integers(2, 5),
)
@settings(**SETTINGS)
def test_incremental_dedup_invariants(spark, texts, split):
    """For any corpus split into existing/incoming: survivors are a
    subset of incoming; no survivor is an exact (normalized) duplicate
    of an existing doc or of a smaller-id survivor; and re-running the
    increment against existing ∪ survivors drops everything (idempotent
    absorption)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    existing_rows = [r for r in rows if r[0] % split != 0]
    incoming_rows = [r for r in rows if r[0] % split == 0]
    if not existing_rows or not incoming_rows:
        return
    schema = "doc_id long, text string"
    existing = spark.createDataFrame(existing_rows, schema)
    incoming = spark.createDataFrame(incoming_rows, schema)
    surv = dedup_fuzzy.incremental_dedup(existing, incoming, threshold=0.9)
    surv_rows = [(r.doc_id, r.text) for r in surv.collect()]
    incoming_ids = {r[0] for r in incoming_rows}
    assert {i for i, _ in surv_rows} <= incoming_ids
    norm = lambda t: " ".join(t.lower().split())  # noqa: E731
    existing_norms = {norm(t) for _, t in existing_rows}
    seen = set()
    for i, t in sorted(surv_rows):
        assert norm(t) not in existing_norms, "survivor duplicates corpus"
        assert norm(t) not in seen, "survivor duplicates earlier survivor"
        seen.add(norm(t))
    # absorption: merging survivors into the corpus kills the whole batch
    merged = existing.unionByName(surv)
    again = dedup_fuzzy.incremental_dedup(merged, incoming, threshold=0.9)
    assert again.count() == 0


ts_value_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),                      # key
        st.integers(min_value=0, max_value=500),                    # ts seconds
        st.floats(min_value=0.0, max_value=100.0,
                  allow_nan=False, allow_infinity=False),           # value
    ),
    min_size=1,
    max_size=25,
)


@given(obs=ts_value_rows)
@settings(**SETTINGS)
def test_resample_interpolate_invariants(spark, obs):
    """Interpolated ticks lie BETWEEN their anchors (inequality holds
    even under the truncating div), observed ticks echo their own
    fixed-point value, and the grid has no holes."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.windows import (
        resample_interpolate,
    )

    rows = [(k, float(t), v, i) for i, (k, t, v) in enumerate(obs)]
    df = spark.createDataFrame(
        rows, "k long, ts double, value double, event_id long"
    )
    out = resample_interpolate(
        df, "k", "ts", "value", interval_seconds=10, scale=64,
        tiebreak_col="event_id",
    ).collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r)
    for key, ticks in by_key.items():
        ticks.sort(key=lambda r: r.tick_ts)
        # dense grid, no holes
        assert [r.tick_ts for r in ticks] == list(
            range(ticks[0].tick_ts, ticks[-1].tick_ts + 1, 10)
        )
        # first and last tick are observed (grid spans observations)
        assert ticks[0].is_observed and ticks[-1].is_observed
        obs_vals = [r.value_s for r in ticks if r.is_observed]
        lo, hi = min(obs_vals), max(obs_vals)
        for r in ticks:
            assert lo <= r.value_s <= hi
        # every gap value between its nearest enclosing anchors
        anchors = [(r.tick_ts, r.value_s) for r in ticks if r.is_observed]
        for r in ticks:
            if r.is_observed:
                continue
            prev = max(a for a in anchors if a[0] < r.tick_ts)
            nxt = min(a for a in anchors if a[0] > r.tick_ts)
            assert min(prev[1], nxt[1]) <= r.value_s <= max(prev[1], nxt[1])


@given(obs=ts_value_rows)
@settings(**SETTINGS)
def test_time_weighted_avg_bounds(spark, obs):
    """num/den imply min(v_s) <= TWAP <= max(v_s) among held
    observations; single-obs keys report NULL ppm and zero den."""
    import datetime as dt2

    from lab_etl_batch_data_processing_pipeline__spark.operators.windows import (
        time_weighted_avg,
    )

    t0 = dt2.datetime(2024, 1, 1)
    rows = [
        (k, t0 + dt2.timedelta(seconds=t), v, i)
        for i, (k, t, v) in enumerate(obs)
    ]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp_ntz, value double, event_id long"
    )
    got = time_weighted_avg(
        df, "k", "ts", "value", scale=64, tiebreak_col="event_id"
    ).collect()
    per_key_vals: dict[int, list[int]] = {}
    for k, t, v in obs:
        per_key_vals.setdefault(k, []).append(round(v * 64))
    for r in got:
        vals = per_key_vals[r.key]
        assert r.n_obs == len(vals)
        if r.twap_den == 0:
            assert r.twap_ppm is None
        else:
            twap = r.twap_num / r.twap_den
            assert min(vals) - 1e-9 <= twap <= max(vals) + 1e-9


@given(rows=st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=0, max_value=100),
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=0, max_size=40,
))
@settings(**SETTINGS)
def test_conversion_funnel_monotone_and_reference(spark, rows):
    """Stage counts are non-increasing, and match a brute-force python
    replay of the recursive first-anchor rule."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.sessions import (
        conversion_funnel,
    )

    df = spark.createDataFrame(
        [(u, float(t), k) for u, t, k in rows],
        "user_id long, ts double, event_type string",
    )
    stages = ["view", "click", "purchase"]
    got = {r.stage_idx: r.n_users
           for r in conversion_funnel(df, "user_id", "ts", "event_type", stages).collect()}
    # python reference
    expected = []
    per_user: dict[int, list] = {}
    for u, t, k in rows:
        per_user.setdefault(u, []).append((t, k))
    counts = []
    anchors = {}
    for si, stage in enumerate(stages):
        nxt = {}
        for u, evs in per_user.items():
            if si > 0 and u not in anchors:
                continue
            floor_t = anchors[u] if si > 0 else None
            cand = [t for t, k in evs
                    if k == stage and (floor_t is None or t > floor_t)]
            if cand:
                nxt[u] = min(cand)
        anchors = nxt
        counts.append(len(nxt))
    assert [got[i + 1] for i in range(3)] == counts
    assert counts[0] >= counts[1] >= counts[2]


@given(vals=st.lists(
    st.tuples(st.sampled_from(["a", "b"]),
              st.floats(min_value=0.0, max_value=1000.0,
                        allow_nan=False, allow_infinity=False)),
    min_size=1, max_size=30,
))
@settings(**SETTINGS)
def test_mad_outliers_matches_python_reference(spark, vals):
    from lab_etl_batch_data_processing_pipeline__spark.operators.profiling import (
        mad_outliers,
    )

    df = spark.createDataFrame(vals, "k string, v double")
    got = {r.key: (r.n_rows, r.med_s, r.mad_s, r.n_outliers)
           for r in mad_outliers(df, "k", "v", scale=1, k=3).collect()}

    def lower_median(xs):
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1]

    per: dict[str, list[int]] = {}
    for k, v in vals:
        # python round() is half-even; replicate engine HALF_UP for
        # non-negative doubles
        import math
        per.setdefault(k, []).append(math.floor(v + 0.5))
    for k, xs in per.items():
        med = lower_median(xs)
        devs = [abs(x - med) for x in xs]
        mad = lower_median(devs)
        n_out = sum(1 for d in devs if d > 3 * mad)
        assert got[k] == (len(xs), med, mad, n_out)


# ---------------------------------------------------------------- wave 6-8


balance_strategy = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=25
)


@given(deltas=balance_strategy)
@settings(**SETTINGS)
def test_floored_balance_matches_python_loop(spark, deltas):
    """The closed form prefix - min(0, running-min prefix) must equal
    the stateful loop max(0, bal + d) on ANY delta sequence."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    df = spark.createDataFrame(
        [("u", i, d) for i, d in enumerate(deltas)], ["g", "t", "d"]
    )
    got = [
        r.balance
        for r in windows.floored_running_balance(df, "g", "t", "d").collect()
    ]
    bal, want = 0, []
    for d in deltas:
        bal = max(0, bal + d)
        want.append(bal)
    assert got == want


attribution_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=120),        # minutes offset
        st.sampled_from(["view", "click", "purchase"]), # type
    ),
    min_size=1,
    max_size=25,
)


@given(rows=attribution_strategy)
@settings(**SETTINGS)
def test_attribution_conserves_ppm_per_conversion(spark, rows):
    """Total credit must equal exactly 1e6 x (conversions with >= 1
    in-window touch), for ANY event shape (the largest-remainder
    conservation law)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import sessions

    base = dt.datetime(2024, 1, 1)
    data = [
        (u, base + dt.timedelta(minutes=m), t, i)
        for i, (u, m, t) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["u", "ts", "et", "id"])
    out = sessions.multi_touch_attribution(
        df, "u", "ts", "et", "id", "purchase", lookback_hours=1
    ).collect()
    total_credit = sum(r.credit_ppm for r in out)
    # python reference: count conversions with >= 1 strict-window touch
    convs = [(u, ts, i) for (u, ts, t, i) in data if t == "purchase"]
    touches = [(u, ts) for (u, ts, t, i) in data if t != "purchase"]
    lo = dt.timedelta(hours=1)
    n_credited = sum(
        1
        for (u, cts, _) in convs
        if any(tu == u and cts - lo <= tts < cts for (tu, tts) in touches)
    )
    assert total_credit == 1_000_000 * n_credited


ks_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(min_value=0, max_value=20),
    ),
    min_size=2,
    max_size=30,
)


@given(rows=ks_strategy)
@settings(**SETTINGS)
def test_ks_gate_matches_bruteforce_ecdf(spark, rows):
    """d_scaled must equal the brute-force max over sample points of
    |cum_a * n_b - cum_b * n_a| for ANY two samples."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    df = spark.createDataFrame(
        [("k", g, v) for g, v in rows], ["g", "grp", "v"]
    )
    out = profiling.ks_gate(df, "g", "grp", "v", "A", "B").collect()
    a = sorted(v for g, v in rows if g == "A")
    b = sorted(v for g, v in rows if g == "B")
    if not a or not b:
        assert out == []
        return
    pts = sorted(set(a) | set(b))
    want = max(
        abs(
            sum(1 for x in a if x <= p) * len(b)
            - sum(1 for x in b if x <= p) * len(a)
        )
        for p in pts
    )
    assert len(out) == 1 and out[0].d_scaled == want


equidepth_strategy = st.lists(
    st.integers(min_value=-100, max_value=100), min_size=1, max_size=40
)


@given(vals=equidepth_strategy)
@settings(**SETTINGS)
def test_equidepth_partitions_everything_exactly_once(spark, vals):
    """Bucket counts must sum to n, bucket sums to the total, bucket
    ranges must not overlap (min of bucket i+1 >= max of bucket i)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    df = spark.createDataFrame([("k", v) for v in vals], ["g", "v"])
    out = sorted(
        profiling.equidepth_histogram(df, "g", "v", k=4).collect(),
        key=lambda r: r.bucket,
    )
    assert sum(r.n_rows for r in out) == len(vals)
    assert sum(r.sum_v for r in out) == sum(vals)
    for lo_r, hi_r in zip(out, out[1:]):
        assert hi_r.min_v >= lo_r.max_v


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 12)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered orientation must count exactly the triangles a
    brute-force O(n^3) enumeration finds, per node, on arbitrary small
    graphs (self-loops and parallel/reversed duplicate edges included —
    the operator normalizes them away)."""
    from itertools import combinations

    from lab_etl_batch_data_processing_pipeline__spark.operators import graph

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj: dict[int, set[int]] = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected: dict[int, int] = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                expected[n] = expected.get(n, 0) + 1

    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: r.n_triangles
        for r in graph.triangle_counts(df, "src", "dst").collect()
    }
    assert got == expected  # nodes in no triangle are absent on both sides


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)),
        min_size=1,
        max_size=25,
    ),
    iterations=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_pagerank_matches_python_reference(spark, edges, iterations):
    """The fixed-iteration integer PageRank must agree BIT-FOR-BIT with
    a sequential Python replica of its arithmetic rule (ranks start at
    2^20; edge contribution = (85*r div 100) div outdeg; new rank =
    base + sum) on arbitrary digraphs, dangling nodes included."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph

    dedup = {(a, b) for a, b in edges}
    scale = 1 << 20
    base = 15 * scale // 100
    nodes = sorted({n for e in dedup for n in e})
    outdeg: dict[int, int] = {}
    for a, _ in dedup:
        outdeg[a] = outdeg.get(a, 0) + 1
    ranks = {n: scale for n in nodes}
    for _ in range(iterations):
        in_sum = {n: 0 for n in nodes}
        for a, b in dedup:
            in_sum[b] += (85 * ranks[a] // 100) // outdeg[a]
        ranks = {n: base + in_sum[n] for n in nodes}

    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node_id: r.rank_fp
        for r in graph.pagerank(df, iterations=iterations).collect()
    }
    assert got == ranks


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 10), st.integers(1, 10)),
        min_size=1,
        max_size=35,
    )
)
@settings(**SETTINGS)
def test_clustering_coefficients_match_bruteforce(spark, edges):
    """coeff_ppm must equal (2e6*tri) div (d*(d-1)) with brute-force
    triangles and dedup'd degrees, every node present, degree-1 -> 0."""
    from itertools import combinations

    from lab_etl_batch_data_processing_pipeline__spark.operators import graph

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj: dict[int, set[int]] = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri: dict[int, int] = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                tri[n] = tri.get(n, 0) + 1
    expected = {
        n: (
            len(adj[n]),
            tri.get(n, 0),
            (2 * 1_000_000 * tri.get(n, 0)) // (len(adj[n]) * (len(adj[n]) - 1))
            if len(adj[n]) >= 2
            else 0,
        )
        for n in adj
    }

    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: (r.degree, r.n_triangles, r.coeff_ppm)
        for r in graph.clustering_coefficients(df).collect()
    }
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 10), st.integers(1, 10)),
        min_size=1,
        max_size=35,
    ),
    k=st.integers(2, 4),
    rounds=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_kcore_matches_python_peel(spark, edges, k, rounds):
    """Fixed-round k-core must match a sequential peel replica: per
    round, survivors are nodes with degree >= k in the live-induced
    subgraph; output reports each final survivor's degree within the
    final survivor-induced edges (0 for isolated survivors)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}

    def degs(es):
        d: dict[int, int] = {}
        for a, b in es:
            d[a] = d.get(a, 0) + 1
            d[b] = d.get(b, 0) + 1
        return d

    live_e = set(simple)
    alive: set[int] = set()
    for _ in range(rounds):
        alive = {n for n, c in degs(live_e).items() if c >= k}
        live_e = {(a, b) for a, b in live_e if a in alive and b in alive}
    final_d = degs(live_e)
    expected = {n: final_d.get(n, 0) for n in alive}

    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: r.core_degree
        for r in graph.kcore(df, k=k, rounds=rounds).collect()
    }
    assert got == expected


@given(
    prefix=st.text(alphabet="abcdef", max_size=30),
    shared=st.text(alphabet="ghijkl", min_size=11, max_size=25),
    suffix=st.text(alphabet="mnopqr", max_size=30),
)
@settings(**SETTINGS)
def test_winnowing_guarantee_shared_span_shares_fingerprint(
    spark, prefix, shared, suffix
):
    """The winnowing guarantee (MOSS): any verbatim match of length >=
    k+window-1 (8+4-1=11 here) must share at least one selected
    fingerprint, wherever the span sits in either document — the
    property that makes the ~2/(w+1) sampling safe for copy detection.
    Disjoint alphabets keep the only common k-grams inside the planted
    span."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import dedup_fuzzy

    doc_a = f"{prefix}{shared}"
    doc_b = f"{shared}{suffix}"
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    fps = dedup_fuzzy.winnowing_fingerprints(docs, k=8, window=4).collect()
    by_doc = {1: set(), 2: set()}
    for r in fps:
        by_doc[r.doc_id].add(r.fingerprint)
    assert by_doc[1] & by_doc[2], (
        f"shared span of len {len(shared)} produced no common fingerprint"
    )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),                    # user_id
            st.sampled_from(["view", "click"]),   # event_type
            st.integers(0, 1_000_000),            # epoch seconds (~11 days)
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_streaming_counts_match_batch_on_random_streams(spark, rows):
    """Stream/batch parity under randomization: a bounded availableNow
    replay of the watermarked tumbling-window count (complete mode, so
    nothing evicts) must equal the per-(epoch-aligned 6h window, type)
    Python count on arbitrary event streams — out-of-order arrival,
    duplicate timestamps, and window-boundary values included.
    Timestamps build from epoch seconds (timestamp_seconds), so the
    check is timezone-free."""
    import shutil as sh
    import tempfile

    from lab_etl_batch_data_processing_pipeline__spark.streaming import jobs

    expected: dict[tuple[int, str], int] = {}
    for _, t, s in rows:
        key = ((s // 21600) * 21600, t)
        expected[key] = expected.get(key, 0) + 1

    events = spark.createDataFrame(
        rows, "user_id int, event_type string, s long"
    ).select("user_id", "event_type", F.timestamp_seconds("s").alias("ts"))
    d = tempfile.mkdtemp(prefix="stream-prop-")
    try:
        events.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(
            "user_id int, event_type string, ts timestamp"
        ).parquet(d)
        out = jobs.streaming_event_type_counts(stream, ts_col="ts")
        sink = jobs.replay_to_memory(
            out, "prop_counts", "complete", state_partitions=4
        )
        got = {
            (r.window_start_sec, r.event_type): r.n_events
            for r in sink.collect()
        }
    finally:
        sh.rmtree(d, ignore_errors=True)
    assert got == expected


@given(
    lefts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)),
        min_size=1,
        max_size=25,
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50), st.integers(0, 100)),
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_python_reference(spark, lefts, rights):
    """As-of semantics on random inputs: every left row survives and
    carries the payload of the LATEST right row at-or-before its
    timestamp for its key (ties on timestamp -> highest tiebreak),
    NULL when none exists — duplicate keys, timestamps, and exact
    ts collisions included."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import asof

    left_rows = [(i, k, t) for i, (k, t) in enumerate(lefts)]
    left = spark.createDataFrame(left_rows, "lid int, k int, t long")
    right = spark.createDataFrame(rights, "k int, rt long, val int") if rights else (
        spark.createDataFrame([], "k int, rt long, val int")
    )

    expected = {}
    for lid, k, t in left_rows:
        best = None
        for rk, rt, val in rights:
            if rk == k and rt <= t:
                cand = (rt, val)
                if best is None or cand > best:
                    best = cand
        expected[lid] = best  # (rt, val) or None

    out = asof.asof_join(
        left, right, on="k", left_ts="t", right_ts="rt", right_tiebreak="val"
    ).collect()
    assert len(out) == len(left_rows)
    got = {
        r.lid: (None if r.val_right is None else (r.rt_right, r.val_right))
        for r in out
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),    # key
            st.integers(0, 40),   # start
            st.integers(0, 40),   # end
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_interval_coverage_matches_python_sweep(spark, rows):
    """Interval-union analysis vs a sequential sweep: overlapping or
    touching [s, e) intervals merge into islands; covered is the union
    length, span is max end - min start, gaps the difference. Inverted
    and zero-length intervals drop; keys with no valid interval emit
    nothing. Random inputs include duplicates, containment, and exact
    touch (s == prev end, which must MERGE under half-open semantics)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import ranges

    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, s, e in rows:
        if e > s:
            by_key.setdefault(k, []).append((s, e))
    expected = {}
    for k, ivs in by_key.items():
        ivs.sort()
        islands = []
        for s, e in ivs:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        covered = sum(e - s for s, e in islands)
        span = max(e for _, e in ivs) - min(s for s, _ in ivs)
        expected[k] = (len(ivs), len(islands), covered, span, span - covered)

    df = spark.createDataFrame(rows, "key int, s long, e long")
    got = {
        r.key: (r.n_intervals, r.n_islands, r.covered, r.span, r.gap_total)
        for r in ranges.interval_coverage(df, "key", "s", "e").collect()
    }
    assert got == expected


@given(
    ids=st.lists(st.integers(1, 10_000), unique=True, min_size=1, max_size=30),
    data=st.data(),
    seq_len=st.sampled_from([4, 16, 64]),
    buckets=st.sampled_from([1, 4, 64]),
)
@settings(**SETTINGS)
def test_pack_offsets_matches_python_prefix_sum(spark, ids, data, seq_len, buckets):
    """The two-phase packer must equal a sequential replica of its own
    rule bit-for-bit: order docs by (md5-byte bucket, md5(id), id),
    prefix-sum whitespace token counts, bin by seq_len — so the
    parallel two-phase prefix sum can never drift from the single
    global ordering it claims to implement (zero-token docs and bucket
    boundary collisions included)."""
    import hashlib
    import math

    from lab_etl_batch_data_processing_pipeline__spark.operators import text

    texts = [
        data.draw(st.text(alphabet="ab \t", max_size=20), label=f"text{i}")
        for i in ids
    ]
    rows = list(zip(ids, texts))

    order = []
    for doc_id, body in rows:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        bucket = math.floor(int(h[:2], 16) / (256 / buckets))
        order.append((bucket, h, doc_id, len(body.split())))
    order.sort()
    expected, run = {}, 0
    for bucket, h, doc_id, n in order:
        expected[doc_id] = (n, run, run // seq_len)
        run += n

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.start_offset, r.seq_bin)
        for r in text.pack_offsets(
            df, seq_len=seq_len, buckets=buckets
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Stateful/temporal family vs sequential Python replicas (r12 verdict task
# 3): SCD2 compression, CDC merge, point-in-time join, incremental
# aggregate maintenance, and the native session_window rollup. The only
# randomized check these semantics-heavy operators had before was the
# fixture-bound oracle; these pin the rules themselves on arbitrary
# inputs (ties, NULL states, deletes of absent keys, boundary gaps).
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),                    # entity key
            st.sampled_from(["a", "b", None]),    # state (NULL first-class)
            st.integers(0, 20),                   # observation ts (ties likely)
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_scd2_history_matches_sequential_replica(spark, rows):
    """scd2_history must equal a sequential replica of its own rule on
    arbitrary streams: per key order by (ts, tiebreaker), collapse
    null-safe consecutive repeats into their first observation, emit
    half-open validity ranges with per-key versions and an open
    (valid_to NULL, is_current) last version."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    data = [(k, s, t, i) for i, (k, s, t) in enumerate(rows)]

    bykey: dict[int, list] = {}
    for k, s, t, i in data:
        bykey.setdefault(k, []).append((t, i, s))
    expected = {}
    for k, obs in bykey.items():
        obs.sort(key=lambda o: (o[0], o[1]))
        changes = [obs[0]]
        for o in obs[1:]:
            if o[2] != changes[-1][2]:  # None == None -> not a change
                changes.append(o)
        for v, (t, i, s) in enumerate(changes, start=1):
            nxt = changes[v][0] if v < len(changes) else None
            expected[(k, v)] = (s, t, nxt, nxt is None)

    df = spark.createDataFrame(data, "k int, state string, ts long, tid long")
    out = scd.scd2_history(df, "k", "state", "ts", order_cols=("tid",)).collect()
    got = {
        (r["k"], r.version): (r.state, r.valid_from, r.valid_to, r.is_current)
        for r in out
    }
    assert got == expected


@given(
    snap=st.dictionaries(st.integers(1, 8), st.integers(0, 100), max_size=8),
    changes=st.dictionaries(
        st.integers(1, 10),  # keys 9-10 exercise insert-via-changelog
        st.lists(
            st.tuples(st.integers(0, 100), st.booleans()),  # (value, is_delete)
            min_size=1,
            max_size=3,
        ),
        max_size=8,
    ),
)
@settings(**SETTINGS)
def test_apply_changelog_matches_sequential_merge(spark, snap, changes):
    """apply_changelog must equal the sequential MERGE rule: per key the
    highest-seq change wins, a delete removes the key (deleting an
    absent key is a no-op), an upsert replaces or inserts the row, and
    untouched keys keep their snapshot row."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    final = dict(snap)
    for k, batch in changes.items():
        value, is_delete = batch[-1]  # seqs 1..n in list order: last wins
        if is_delete:
            final.pop(k, None)
        else:
            final[k] = value

    snap_df = spark.createDataFrame(
        list(snap.items()) or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())
    change_rows = [
        (k, value, seq, "D" if is_delete else "U")
        for k, batch in changes.items()
        for seq, (value, is_delete) in enumerate(batch, start=1)
    ]
    if not change_rows:
        change_rows = [(None, None, None, None)]
    ch_df = spark.createDataFrame(
        change_rows, "k int, v int, seq int, op string"
    ).filter(F.col("k").isNotNull())

    got = {
        r["k"]: r.v
        for r in scd.apply_changelog(snap_df, ch_df, ["k"], "seq").collect()
    }
    assert got == final


@given(
    versions=st.dictionaries(
        st.integers(1, 4),
        st.sets(st.integers(0, 20), min_size=1, max_size=5),
        min_size=1,
        max_size=4,
    ),
    facts=st.lists(
        st.tuples(st.integers(1, 5), st.integers(-2, 25)),  # key 5: no dim
        min_size=1,
        max_size=20,
    ),
)
@settings(**SETTINGS)
def test_point_in_time_join_matches_sequential_lookup(spark, versions, facts):
    """point_in_time_join must attach exactly the version whose half-open
    range [valid_from, valid_to) contains the fact ts — facts before the
    key's first version (or with no dim key at all) keep NULL columns,
    boundary facts at valid_to land in the NEXT version."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    dim_rows = []
    lookup: dict[int, list] = {}
    for k, froms in versions.items():
        ordered = sorted(froms)
        for v, vf in enumerate(ordered, start=1):
            vt = ordered[v] if v < len(ordered) else None
            dim_rows.append((k, vf, vt, f"s{v}", v))
            lookup.setdefault(k, []).append((vf, vt, f"s{v}", v))

    expected = {}
    for fid, (k, ts) in enumerate(facts):
        hit = (None, None)
        for vf, vt, state, v in lookup.get(k, []):
            if vf <= ts and (vt is None or ts < vt):
                hit = (state, v)
        expected[fid] = (k, ts, *hit)

    dim = spark.createDataFrame(
        dim_rows, "k int, valid_from int, valid_to int, state string, version int"
    )
    fact_df = spark.createDataFrame(
        [(k, ts, fid) for fid, (k, ts) in enumerate(facts)],
        "k int, ts int, fid int",
    )
    out = scd.point_in_time_join(fact_df, dim, "k", "ts").collect()
    got = {r.fid: (r["k"], r.ts, r.state, r.version) for r in out}
    assert got == expected
    assert len(out) == len(facts)  # disjoint ranges: never a fanout


@given(
    snap=st.lists(
        st.tuples(
            st.integers(1, 8),
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(-50, 100),  # negative cents: refunds must subtract
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda r: r[0],
    ),
    changes=st.dictionaries(
        st.integers(1, 10),
        st.lists(
            st.tuples(
                st.sampled_from(["g1", "g2", "g3"]),
                st.integers(-50, 100),
                st.booleans(),
            ),
            min_size=1,
            max_size=2,
        ),
        max_size=6,
    ),
)
@settings(**SETTINGS)
def test_incremental_agg_maintenance_matches_full_recompute(spark, snap, changes):
    """incremental_agg_maintenance must be bit-identical to the full
    recompute (apply the changelog sequentially, re-aggregate from
    scratch) in BOTH forms: bootstrap (base_agg=None) and steady-state
    (base_agg = the previously materialized view) — including group
    moves, inserts of new keys, deletes, and groups whose count reaches
    zero dropping out."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    rows = {k: (g, c) for k, g, c in snap}
    for k, batch in changes.items():
        g, c, is_delete = batch[-1]
        if is_delete:
            rows.pop(k, None)
        else:
            rows[k] = (g, c)
    expected: dict[str, list] = {}
    for g, c in rows.values():
        agg = expected.setdefault(g, [0, 0])
        agg[0] += 1
        agg[1] += c
    expected = {g: (n, s) for g, (n, s) in expected.items() if n > 0}

    snap_df = spark.createDataFrame(list(snap), "k int, grp string, cents long")
    change_rows = [
        (k, g, c, seq, "D" if is_delete else "U")
        for k, batch in changes.items()
        for seq, (g, c, is_delete) in enumerate(batch, start=1)
    ]
    if not change_rows:
        change_rows = [(None, None, None, None, None)]
    ch_df = spark.createDataFrame(
        change_rows, "k int, grp string, cents long, seq int, op string"
    ).filter(F.col("k").isNotNull())

    boot = scd.incremental_agg_maintenance(
        snap_df, ch_df, ["k"], "seq", "grp", F.col("cents")
    )
    got = {r.grp: (r.n_rows, r.sum_cents) for r in boot.collect()}
    assert got == expected

    base = (
        snap_df.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents"))
    )
    steady = scd.incremental_agg_maintenance(
        snap_df, ch_df, ["k"], "seq", "grp", F.col("cents"), base_agg=base
    )
    got2 = {r.grp: (r.n_rows, r.sum_cents) for r in steady.collect()}
    assert got2 == expected


@given(
    events=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 40)),  # (user, epoch sec)
        min_size=1,
        max_size=30,
    ),
    gap=st.integers(2, 6),
)
@settings(**SETTINGS)
def test_session_window_matches_sequential_gap_split(spark, events, gap):
    """Spark's native F.session_window must equal the sequential gap
    rule the engine's DuckDB oracle uses: per user sort, a new event
    joins the session iff ts <= last_ts + gap — the boundary is
    INCLUSIVE (an event exactly gap after the last one still merges;
    hypothesis found the [(1,0),(1,2)], gap=2 counterexample against a
    strict-< replica, matching the oracle's `diff > gap` split rule) —
    and end = last event + gap."""
    byuser: dict[int, list] = {}
    for u, t in events:
        byuser.setdefault(u, []).append(t)
    expected = set()
    for u, ts in byuser.items():
        ts.sort()
        start = prev = ts[0]
        n = 1
        for t in ts[1:]:
            if t - prev <= gap:
                prev = t
                n += 1
            else:
                expected.add((u, start, prev + gap, n))
                start = prev = t
                n = 1
        expected.add((u, start, prev + gap, n))

    df = spark.createDataFrame(events, "user_id int, epoch int").withColumn(
        "ts", F.timestamp_seconds("epoch")
    )
    out = (
        df.groupBy("user_id", F.session_window("ts", f"{gap} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("s"),
            F.col("w.end").cast("long").alias("e"),
            "n_events",
        )
        .collect()
    )
    got = {(r.user_id, r.s, r.e, r.n_events) for r in out}
    assert got == expected


# ---------------------------------------------------------------------------
# Order-statistics / run-length / contribution family vs sequential
# replicas (round 13, second wave): ewma, 2-D skyline, weighted median,
# Pareto head, calendar-range rolling sum, streak islands. Same pattern
# as the graph/stateful waves — the replica implements the documented
# rule sequentially and must agree bit-for-bit.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),     # key
            st.integers(0, 10),    # order ts (ties likely)
            st.integers(-20, 20),  # integer-valued measure (exact fixpoint)
        ),
        min_size=1,
        max_size=25,
    ),
    window_rows=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_ewma_matches_sequential_replica(spark, rows, window_rows):
    """windows.ewma must equal its documented rule sequentially: over
    the trailing window ordered by (ts, tiebreaker), row i (oldest=0)
    weighs 2^i on the 256-fixpointed value; den = 2^m - 1; ewma_ppm =
    floor of the one double divide under the same parenthesization."""
    import math

    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    data = [(k, t, i, float(v)) for i, (k, t, v) in enumerate(rows)]
    bykey: dict[int, list] = {}
    for k, t, i, v in data:
        bykey.setdefault(k, []).append((t, i, v))
    expected = {}
    for k, obs in bykey.items():
        obs.sort()
        for j in range(len(obs)):
            frame = obs[max(0, j - window_rows + 1) : j + 1]
            num = sum(
                int(round(v * 256)) * (1 << i) for i, (_, _, v) in enumerate(frame)
            )
            den = (1 << len(frame)) - 1
            t, i, _ = obs[j]
            expected[(k, t, i)] = (
                len(frame),
                num,
                den,
                math.floor((1000000.0 * num) / den),
            )

    df = spark.createDataFrame(
        data, "k int, t int, i int, value double"
    )
    out = windows.ewma(df, "k", ["t", "i"], "value", window_rows=window_rows)
    got = {
        (r["k"], r.t, r.i): (r.n_in_window, r.ewma_num, r.ewma_den, r.ewma_ppm)
        for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 6)),   # max dimension
            st.one_of(st.none(), st.integers(0, 6)),   # min dimension
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_skyline2d_matches_bruteforce_dominance(spark, rows):
    """The frontier-reduction skyline must return exactly the rows the
    O(n^2) dominance scan keeps: no other row with mx >= and mn <= and
    one strict; NULL in either dimension excludes the row; frontier-tie
    rows all survive."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import joins

    data = [(i, mx, mn) for i, (mx, mn) in enumerate(rows)]
    clean = [(i, mx, mn) for i, mx, mn in data if mx is not None and mn is not None]
    expected = {
        i
        for i, mx, mn in clean
        if not any(
            (mx2 >= mx and mn2 <= mn and (mx2 > mx or mn2 < mn))
            for j, mx2, mn2 in clean
            if j != i
        )
    }

    df = spark.createDataFrame(data, "row_id int, mx int, mn int")
    got = {r.row_id for r in joins.skyline2d(df, "mx", "mn").collect()}
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),    # key
            st.integers(-10, 10), # value (scale=1 integral)
            st.integers(0, 5),    # weight (zeros exercised)
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_weighted_median_matches_sequential_selection(spark, rows):
    """profiling.weighted_median must pick the smallest value whose
    running weight reaches half the key total (2*cum >= total), with
    zero-total keys present and NULL."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    bykey: dict[int, list] = {}
    for k, v, w in rows:
        bykey.setdefault(k, []).append((v, w))
    expected = {}
    for k, obs in bykey.items():
        total = sum(w for _, w in obs)
        med = None
        if total > 0:
            cum = 0
            for v, w in sorted(obs):
                cum += w
                if 2 * cum >= total:
                    med = v
                    break
        expected[k] = (total, med)

    df = spark.createDataFrame(rows, "k int, v int, w int")
    out = profiling.weighted_median(df, "k", "v", "w", scale=1)
    got = {r.key: (r.total_weight, r.wmedian_s) for r in out.collect()}
    assert got == expected


@given(
    lines=st.lists(
        st.tuples(
            st.integers(1, 6),        # entity
            st.integers(0, 10000),    # price in cents
            st.sampled_from([0, 5, 10]),  # discount in hundredths
        ),
        min_size=1,
        max_size=25,
    ),
    frac_ppm=st.sampled_from([300_000, 800_000, 1_000_000]),
)
@settings(**SETTINGS)
def test_revenue_pareto_matches_sequential_replica(spark, lines, frac_ppm):
    """metrics.revenue_pareto must equal the sequential rule: per-entity
    decimal revenue (price x (1 - discount)) rounded half-up to cents,
    ranked on (cents DESC, entity ASC), in_head by exact integer
    cross-multiplication of the running total."""
    from decimal import ROUND_HALF_UP, Decimal

    from lab_etl_batch_data_processing_pipeline__spark.operators import metrics

    per: dict[int, Decimal] = {}
    for e, cents, disc in lines:
        rev = (Decimal(cents) / 100) * (1 - Decimal(disc) / 100)
        per[e] = per.get(e, Decimal(0)) + rev
    ranked = sorted(
        ((int((rev.quantize(Decimal("0.01"), ROUND_HALF_UP)) * 100), e)
         for e, rev in per.items()),
        key=lambda rc: (-rc[0], rc[1]),
    )
    total = sum(c for c, _ in ranked)
    expected, cum = {}, 0
    for rank, (cents, e) in enumerate(ranked, start=1):
        cum += cents
        expected[e] = (cents, rank, cum, cum * 1_000_000 <= total * frac_ppm)

    df = spark.createDataFrame(
        [(e, Decimal(c) / 100, Decimal(d) / 100) for e, c, d in lines],
        "entity int, price decimal(18,2), discount decimal(4,2)",
    )
    out = metrics.revenue_pareto(df, "entity", "price", "discount",
                                 top_frac_ppm=frac_ppm)
    got = {
        r.entity: (r.revenue_cents, r.rank, r.cum_cents, r.in_head)
        for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),    # key
            st.integers(0, 20),   # day offset from 2024-01-01
            st.integers(-50, 100),  # integral amount (exact in decimal)
        ),
        min_size=1,
        max_size=25,
    ),
    window_days=st.integers(1, 8),
)
@settings(**SETTINGS)
def test_rolling_window_sum_matches_calendar_replica(spark, rows, window_days):
    """windows.rolling_window_sum must equal the sequential calendar
    rule: one output row per (key, active day) with the amount sum and
    row count over the trailing window_days CALENDAR days — days with
    no rows age out (the RANGE-frame semantics a ROWS frame breaks)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    base = dt.date(2024, 1, 1)
    daily: dict[tuple, list] = {}
    for k, off, amt in rows:
        daily.setdefault((k, off), []).append(amt)
    expected = {}
    for (k, off), amts in daily.items():
        win_amt = win_rows = 0
        for (k2, off2), amts2 in daily.items():
            if k2 == k and off - window_days + 1 <= off2 <= off:
                win_amt += sum(amts2)
                win_rows += len(amts2)
        expected[(k, base + dt.timedelta(days=off))] = (
            float(sum(amts)),
            len(amts),
            float(win_amt),
            win_rows,
        )

    df = spark.createDataFrame(
        [(k, base + dt.timedelta(days=off), amt) for k, off, amt in rows],
        "k int, day date, amount long",
    )
    out = windows.rolling_window_sum(df, "k", "day", "amount",
                                     window_days=window_days)
    got = {
        (r["k"], r.day_date): (r.day_amount, r.day_rows,
                               r.rolling_amount, r.rolling_rows)
        for r in out.collect()
    }
    assert got == expected


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),                  # user
            st.integers(0, 10),                 # ts (ties -> tiebreaker)
            st.sampled_from(["a", "b", "c"]),   # event type
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_event_streaks_match_sequential_islands(spark, events):
    """sessions.event_streaks must equal the sequential run-length scan:
    per user order by (ts, tiebreaker), split runs on type change, then
    per type report total events, run count, and the longest run."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import sessions

    data = [(u, t, i, typ) for i, (u, t, typ) in enumerate(events)]
    byuser: dict[int, list] = {}
    for u, t, i, typ in data:
        byuser.setdefault(u, []).append((t, i, typ))
    per_type: dict[str, list] = {}
    for u, obs in byuser.items():
        obs.sort()
        run_type, run_len = None, 0
        for _, _, typ in obs:
            if typ == run_type:
                run_len += 1
            else:
                if run_type is not None:
                    per_type.setdefault(run_type, []).append(run_len)
                run_type, run_len = typ, 1
        per_type.setdefault(run_type, []).append(run_len)
    expected = {
        typ: (sum(runs), len(runs), max(runs)) for typ, runs in per_type.items()
    }

    df = spark.createDataFrame(data, "u int, ts long, eid long, typ string")
    out = sessions.event_streaks(df, "u", "ts", "typ", tiebreak_col="eid")
    got = {
        r.event_type: (r.n_events, r.n_runs, r.max_run_len) for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(-50, 50)),
        min_size=1,
        max_size=25,
    ),
    p_lo=st.integers(0, 40),
    p_hi=st.integers(60, 100),
)
@settings(**SETTINGS)
def test_winsorized_stats_match_sequential_selection(spark, rows, p_lo, p_hi):
    """profiling.winsorized_stats must equal the sequential rule: cuts
    are lower empirical quantiles by position max(1, ceil(n*p/100)),
    the clamped sum is exact integer — including single-row keys and
    p_lo == 0 (position clamps to 1)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    bykey: dict[int, list] = {}
    for k, v in rows:
        bykey.setdefault(k, []).append(v)
    expected = {}
    for k, vs in bykey.items():
        vs.sort()
        n = len(vs)
        lo = vs[max(1, (n * p_lo + 99) // 100) - 1]
        hi = vs[max(1, (n * p_hi + 99) // 100) - 1]
        expected[k] = (n, lo, hi, sum(max(lo, min(hi, v)) for v in vs))

    df = spark.createDataFrame(rows, "k int, v long")
    out = profiling.winsorized_stats(df, "k", "v", p_lo=p_lo, p_hi=p_hi)
    got = {r.key: (r.n, r.lo_cut, r.hi_cut, r.wins_sum) for r in out.collect()}
    assert got == expected


# ---------------------------------------------------------------------------
# Drift/profiling gate family vs sequential replicas (round 13, third
# wave): Gini-Simpson diversity, Benford screen, seasonal-naive
# backtest, two-window level shift, HHI concentration, FD profiler.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 3), st.sampled_from(["a", "b", "c", "d"])),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_categorical_diversity_matches_exact_rationals(spark, rows):
    """gini_ppm must equal floor(1e6 * (n^2 - sum c_i^2) / n^2) with
    exact integer counts — 0 for single-category keys."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    counts: dict[int, dict] = {}
    for k, c in rows:
        counts.setdefault(k, {}).setdefault(c, 0)
        counts[k][c] += 1
    expected = {}
    for k, cs in counts.items():
        n = sum(cs.values())
        sumsq = sum(c * c for c in cs.values())
        expected[k] = (n, len(cs), (1_000_000 * (n * n - sumsq)) // (n * n))

    df = spark.createDataFrame(rows, "k int, cat string")
    out = profiling.categorical_diversity(df, "k", "cat")
    got = {r.key: (r.n_rows, r.n_categories, r.gini_ppm) for r in out.collect()}
    assert got == expected


@given(
    cents=st.lists(st.integers(0, 200_000), min_size=1, max_size=30)
)
@settings(**SETTINGS)
def test_benford_gate_matches_digit_histogram(spark, cents):
    """benford_gate must equal the sequential rule: first digit of the
    integer cents for values >= 1.00, truncating-ppm observed shares,
    the hard expected-ppm constants, all 9 digits present (0 rows for
    unseen digits) — including the all-excluded corpus (total 0)."""
    from decimal import Decimal

    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling
    from lab_etl_batch_data_processing_pipeline__spark.operators.profiling import (
        _BENFORD_PPM,
    )

    kept = [c for c in cents if c >= 100]
    n_by_digit = {d: 0 for d in range(1, 10)}
    for c in kept:
        n_by_digit[int(str(c)[0])] += 1
    total = len(kept)
    expected = {}
    for d in range(1, 10):
        obs = (1_000_000 * n_by_digit[d]) // total if total > 0 else 0
        expected[d] = (
            n_by_digit[d], obs, _BENFORD_PPM[d], abs(obs - _BENFORD_PPM[d])
        )

    df = spark.createDataFrame(
        [(Decimal(c) / 100,) for c in cents], "v decimal(18,2)"
    )
    out = profiling.benford_gate(df, "v")
    got = {
        r.digit: (r.n_obs, r.obs_ppm, r.exp_ppm, r.dev_ppm) for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),     # key
            st.integers(0, 15),    # day offset
            st.integers(-20, 50),  # integral value (negatives gate WAPE)
        ),
        min_size=1,
        max_size=30,
    ),
    season=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_seasonal_backtest_matches_sequential_scoring(spark, rows, season):
    """seasonal_naive_backtest must equal the sequential rule: daily
    totals, score only days whose d-season day EXISTS, BIGINT error
    mass, WAPE NULL unless the scored actual mass is positive."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    base = dt.date(2024, 1, 1)
    daily: dict[tuple, int] = {}
    for k, off, v in rows:
        daily[(k, off)] = daily.get((k, off), 0) + v
    expected = {}
    for (k, off), v in daily.items():
        prev = daily.get((k, off - season))
        if prev is None:
            continue
        n, ae, act = expected.get(k, (0, 0, 0))
        expected[k] = (n + 1, ae + abs(v - prev), act + v)
    expected = {
        k: (n, ae, act, (1_000_000 * ae) // act if act > 0 else None)
        for k, (n, ae, act) in expected.items()
    }

    df = spark.createDataFrame(
        [(k, base + dt.timedelta(days=off), v) for k, off, v in rows],
        "k int, day date, v long",
    )
    out = windows.seasonal_naive_backtest(df, "k", "day", "v", season_days=season)
    got = {
        r.key: (r.n_scored, r.sum_abs_err, r.sum_actual, r.wape_ppm)
        for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),     # key
            st.integers(0, 12),    # ts (ties -> tiebreaker)
            st.integers(-20, 20),  # value
        ),
        min_size=1,
        max_size=24,
    ),
    window=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_level_shift_matches_sequential_argmax(spark, rows, window):
    """level_shift must equal the sequential two-window scan: only
    positions with BOTH windows full score, score = |sum_next -
    sum_prev|, reported shift is the earliest maximal position in the
    (ts, tiebreaker) order; keys with < 2*window rows emit nothing."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    data = [(k, t, i, v) for i, (k, t, v) in enumerate(rows)]
    bykey: dict[int, list] = {}
    for k, t, i, v in data:
        bykey.setdefault(k, []).append((t, i, v))
    expected = {}
    for k, obs in bykey.items():
        obs.sort()
        vals = [v for _, _, v in obs]
        best = None
        for j in range(window, len(vals) - window + 1):
            sp = sum(vals[j - window : j])
            sn = sum(vals[j : j + window])
            cand = (-abs(sn - sp), obs[j][0], obs[j][1], sp, sn)
            if best is None or cand < best:
                best = cand
        if best is not None:
            score, ts, _, sp, sn = -best[0], best[1], best[2], best[3], best[4]
            expected[k] = (ts, score, sp, sn)

    df = spark.createDataFrame(data, "k int, ts long, tid long, v long")
    out = windows.level_shift(df, "k", "ts", "v", window=window,
                              tiebreak_col="tid")
    got = {
        r.key: (r.shift_ts, r.score, r.sum_prev, r.sum_next)
        for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),                 # group
            st.integers(1, 5),                 # entity
            st.integers(-1000, 5000),          # amount cents
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_concentration_hhi_matches_exact_rationals(spark, rows):
    """hhi_ppm must equal (1e6 * sum c_i^2) div total^2 on exact
    integer cents per entity, NULL when the total is exactly zero."""
    from decimal import Decimal

    from lab_etl_batch_data_processing_pipeline__spark.operators import metrics

    per: dict[tuple, int] = {}
    for g, e, c in rows:
        per[(g, e)] = per.get((g, e), 0) + c
    expected = {}
    for (g, _), c in sorted(per.items()):
        n, tot, sumsq = expected.get(g, (0, 0, 0))
        expected[g] = (n + 1, tot + c, sumsq + c * c)
    expected = {
        g: (n, tot, (1_000_000 * sumsq) // (tot * tot) if tot != 0 else None)
        for g, (n, tot, sumsq) in expected.items()
    }

    df = spark.createDataFrame(
        [(g, e, Decimal(c) / 100) for g, e, c in rows],
        "grp int, ent int, amt decimal(18,2)",
    )
    out = metrics.concentration_hhi(df, "grp", "ent", "amt")
    got = {
        r.group: (r.n_entities, r.total_cents, r.hhi_ppm) for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),                          # a
            st.one_of(st.none(), st.integers(1, 3)),    # b (NULL lhs groups)
            st.one_of(st.none(), st.integers(1, 3)),    # c (NULL rhs ignored)
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_fd_report_matches_sequential_violation_scan(spark, rows):
    """fd_report must equal the sequential scan per candidate: groups
    by LHS (NULL groups as a value), a group violates iff it holds >1
    distinct NON-NULL RHS value, violating-row mass counts every row
    of violating groups."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    def scan(lhs_of):
        groups: dict = {}
        for a, b, c in rows:
            g = groups.setdefault(lhs_of(a, b), [set(), 0])
            if c is not None:
                g[0].add(c)
            g[1] += 1
        n_viol = sum(1 for s, _ in groups.values() if len(s) > 1)
        viol_rows = sum(n for s, n in groups.values() if len(s) > 1)
        return (len(groups), n_viol, viol_rows, n_viol == 0)

    expected = {
        "a->c": scan(lambda a, b: a),
        "a,b->c": scan(lambda a, b: (a, b)),
    }

    df = spark.createDataFrame(rows, "a int, b int, c int")
    out = profiling.fd_report(df, [(["a"], "c"), (["a", "b"], "c")])
    got = {
        r.fd: (r.n_groups, r.n_violating_groups, r.n_violating_rows, r.holds)
        for r in out.collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Behavioral-analytics family vs sequential replicas (round 13, fourth
# wave): rank family, Markov transitions, cohort retention, RFM
# segmentation, top session paths.
# ---------------------------------------------------------------------------


def _ntile(n_rows: int, n_tiles: int, rn: int) -> int:
    """SQL NTILE: first (n mod t) tiles get ceil(n/t) rows, rest floor."""
    q, r = divmod(n_rows, n_tiles)
    big = r * (q + 1)
    if rn <= big:
        return (rn - 1) // (q + 1) + 1
    return r + (rn - big - 1) // q + 1 if q else n_tiles


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 2),     # partition
            st.integers(0, 5),     # value (ties -> unique id breaks)
        ),
        min_size=1,
        max_size=25,
    ),
    n_tiles=st.integers(2, 5),
)
@settings(**SETTINGS)
def test_rank_stats_match_sequential_rank_family(spark, rows, n_tiles):
    """windows.rank_stats over a TOTAL order (unique tiebreak last) must
    equal the positional definitions: ntile's uneven-split rule,
    pct_rank = (rn-1)/(n-1), cume_dist = rn/n, dense_rank = rn."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    data = [(p, v, i) for i, (p, v) in enumerate(rows)]
    bypart: dict[int, list] = {}
    for p, v, i in data:
        bypart.setdefault(p, []).append((v, i))
    expected = {}
    for p, obs in bypart.items():
        obs.sort()
        n = len(obs)
        for rn, (v, i) in enumerate(obs, start=1):
            expected[i] = (
                _ntile(n, n_tiles, rn),
                (rn - 1) / (n - 1) if n > 1 else 0.0,
                rn / n,
                rn,
            )

    df = spark.createDataFrame(data, "p int, v int, id long")
    out = windows.rank_stats(df, "p", ["v", "id"], n_tiles=n_tiles)
    got = {
        r.id: (r.bucket, r.pct_rank, r.cume_dist, r.dense_rank)
        for r in out.collect()
    }
    assert got == expected


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),                 # user
            st.integers(0, 10),                # ts
            st.sampled_from(["a", "b", "c"]),  # type
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_event_transitions_match_sequential_lead_pairs(spark, events):
    """sessions.event_transitions must equal the sequential rule:
    consecutive (ts, tiebreak)-ordered pairs per user, sequence ends
    dropped, p_ppm = floor(1e6 * n / from-type total)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import sessions

    data = [(u, t, i, typ) for i, (u, t, typ) in enumerate(events)]
    byuser: dict[int, list] = {}
    for u, t, i, typ in data:
        byuser.setdefault(u, []).append((t, i, typ))
    counts: dict[tuple, int] = {}
    for obs in byuser.values():
        obs.sort()
        for (_, _, a), (_, _, b) in zip(obs, obs[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    from_totals: dict[str, int] = {}
    for (a, _), n in counts.items():
        from_totals[a] = from_totals.get(a, 0) + n
    expected = {
        (a, b): (n, (1_000_000 * n) // from_totals[a])
        for (a, b), n in counts.items()
    }

    df = spark.createDataFrame(data, "u int, ts long, eid long, typ string")
    out = sessions.event_transitions(df, "u", "ts", "typ", tiebreak_col="eid")
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.p_ppm)
        for r in out.collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 6),     # user
            st.integers(0, 14),    # month offset from 2024-01
            st.integers(0, 28),    # day in month; 0 => NULL timestamp
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_cohort_retention_matches_sequential_matrix(spark, rows):
    """metrics.cohort_retention must equal the sequential rule: cohort
    = first active month, months_since by integer month index,
    retention_ppm truncating, months_since=0 has n_active == n_cohort.
    NULL timestamps (day == 0 in the generator) are IGNORED by the
    declared contract: they form no cell, and an all-NULL user drops
    out of the matrix entirely (r13 ADVICE pin — the generator plants
    both mixed NULL/non-NULL users and all-NULL users)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import metrics

    cohort: dict[int, int] = {}
    active: set = set()
    for u, off, day in rows:
        if day == 0:
            continue  # NULL timestamp: no cell, no cohort anchor
        cohort[u] = min(cohort.get(u, off), off)
        active.add((u, off))
    if not active:  # every generated row was NULL: empty matrix
        df = spark.createDataFrame(
            [(u, None) for u, _, _ in rows], "u int, odate date"
        )
        assert metrics.cohort_retention(df, "u", "odate").count() == 0
        return
    sizes: dict[int, int] = {}
    for u, c in cohort.items():
        sizes[c] = sizes.get(c, 0) + 1
    cells: dict[tuple, int] = {}
    for u, off in active:
        key = (cohort[u], off - cohort[u])
        cells[key] = cells.get(key, 0) + 1
    expected = {
        (dt.date(2024 + c // 12, 1 + c % 12, 1), since): (
            n, sizes[c], (1_000_000 * n) // sizes[c]
        )
        for (c, since), n in cells.items()
    }

    df = spark.createDataFrame(
        [
            (u, dt.date(2024 + off // 12, 1 + off % 12, day) if day else None)
            for u, off, day in rows
        ],
        "u int, odate date",
    )
    out = metrics.cohort_retention(df, "u", "odate")
    got = {
        (r.cohort_month, r.months_since): (r.n_active, r.n_cohort, r.retention_ppm)
        for r in out.collect()
    }
    assert got == expected
    for (_, since), (n_active, n_cohort, _) in got.items():
        if since == 0:
            assert n_active == n_cohort


@given(
    orders=st.lists(
        st.tuples(
            st.integers(1, 8),       # user
            st.integers(0, 60),      # day offset
            st.integers(0, 10000),   # amount cents
        ),
        min_size=1,
        max_size=30,
    ),
    n_tiles=st.integers(2, 4),
)
@settings(**SETTINGS)
def test_rfm_segments_match_sequential_ntiles(spark, orders, n_tiles):
    """metrics.rfm_segments must equal the sequential rule: recency =
    days from the user's last order to the corpus max date, exact cent
    sums, NTILE over the documented total orders with the user-id
    tiebreak, scores inverted so best = n_tiles."""
    from decimal import Decimal

    from lab_etl_batch_data_processing_pipeline__spark.operators import metrics

    base = dt.date(2024, 1, 1)
    per: dict[int, list] = {}
    for u, off, cents in orders:
        per.setdefault(u, []).append((off, cents))
    anchor = max(off for _, off, _ in orders)
    triples = {
        u: (
            anchor - max(off for off, _ in obs),
            len(obs),
            sum(c for _, c in obs),
        )
        for u, obs in per.items()
    }
    users = list(triples)
    n = len(users)

    def tile_of(order_key):
        ranked = sorted(users, key=order_key)
        return {
            u: _ntile(n, n_tiles, rn)
            for rn, u in enumerate(ranked, start=1)
        }

    r_t = tile_of(lambda u: (triples[u][0], u))
    f_t = tile_of(lambda u: (-triples[u][1], u))
    m_t = tile_of(lambda u: (-triples[u][2], u))
    inv = lambda t: n_tiles + 1 - t  # noqa: E731
    expected = {
        u: (
            triples[u][0],
            triples[u][1],
            triples[u][2],
            inv(r_t[u]),
            inv(f_t[u]),
            inv(m_t[u]),
            inv(r_t[u]) * 100 + inv(f_t[u]) * 10 + inv(m_t[u]),
        )
        for u in users
    }

    df = spark.createDataFrame(
        [
            (u, base + dt.timedelta(days=off), Decimal(c) / 100)
            for u, off, c in orders
        ],
        "u int, odate date, amount decimal(18,2)",
    )
    out = metrics.rfm_segments(df, "u", "odate", "amount", n_tiles=n_tiles)
    got = {
        r.user: (
            r.recency_days, r.frequency, r.monetary_cents,
            r.r_score, r.f_score, r.m_score, r.rfm,
        )
        for r in out.collect()
    }
    assert got == expected


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),                 # user
            st.integers(0, 5000),              # ts seconds
            st.sampled_from(["a", "b", "c"]),  # type
        ),
        min_size=1,
        max_size=30,
    ),
    max_len=st.integers(1, 4),
    k=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_top_paths_match_sequential_mining(spark, events, max_len, k):
    """sessions.top_paths must equal the sequential rule: 30-min-gap
    sessions (> gap splits), first max_len types joined with '>', top-k
    on the (n_sessions DESC, path ASC) total order."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import sessions

    gap_s = 30 * 60
    data = [(u, t, i, typ) for i, (u, t, typ) in enumerate(events)]
    byuser: dict[int, list] = {}
    for u, t, i, typ in data:
        byuser.setdefault(u, []).append((t, i, typ))
    counts: dict[str, int] = {}
    for obs in byuser.values():
        obs.sort()
        sessions_types: list = []
        cur = [obs[0][2]]
        prev_t = obs[0][0]
        for t, _, typ in obs[1:]:
            if t - prev_t > gap_s:
                sessions_types.append(cur)
                cur = []
            cur.append(typ)
            prev_t = t
        sessions_types.append(cur)
        for s in sessions_types:
            path = ">".join(s[:max_len])
            counts[path] = counts.get(path, 0) + 1
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    df = spark.createDataFrame(data, "u int, ts long, eid long, typ string")
    out = sessions.top_paths(
        df.withColumn("tsv", F.timestamp_seconds("ts")),
        "u", "tsv", "typ", gap_minutes=30, max_len=max_len, k=k,
        tiebreak_col="eid",
    )
    got = [(r.path, r.n_sessions) for r in out.collect()]
    assert got == expected


# ---------------------------------------------------------------------------
# Sketch / sampling family (round 13, fifth wave): Bloom semi-filter
# invariants under a deliberately tiny bitmap, and the exact stratified
# sampler vs its md5-ranking replica.
# ---------------------------------------------------------------------------


@given(
    build_keys=st.sets(st.integers(0, 200), min_size=1, max_size=30),
    probe_extra=st.sets(st.integers(201, 400), max_size=30),
    m_bits=st.sampled_from([64, 128, 256]),
    k=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_bloom_semi_filter_never_false_negative(spark, build_keys,
                                                probe_extra, m_bits, k):
    """The Bloom prune's load-bearing invariant at any sizing: EVERY
    build-side key survives the probe (no false negatives — a lost key
    silently drops join rows), and the kept set never grows beyond the
    probe input. m_bits is deliberately tiny so collisions and false
    positives actually occur."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import joins

    build = spark.createDataFrame([(x,) for x in build_keys], "key long")
    words = joins.bloom_filter_build(build, "key", m_bits=m_bits, k=k)
    assert len(words) == m_bits // 64

    probe_keys = sorted(build_keys | probe_extra)
    fact = spark.createDataFrame([(x,) for x in probe_keys], "key long")
    kept = {
        r.key
        for r in joins.bloom_semi_filter(
            fact, "key", words, m_bits=m_bits, k=k
        ).collect()
    }
    assert build_keys <= kept          # no false negatives, ever
    assert kept <= set(probe_keys)     # pure filter: nothing invented


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),     # stratum
            st.integers(0, 1000),  # id (unique-ified below)
        ),
        min_size=1,
        max_size=30,
    ),
    n_per=st.integers(1, 4),
    salt=st.sampled_from(["", "s1", "rotate-2"]),
)
@settings(**SETTINGS)
def test_stratified_sample_exact_matches_md5_ranking(spark, rows, n_per, salt):
    """stratified_sample_exact must equal the sequential rule: within
    each stratum rank by (md5(salt || '|' ... actually concat_ws of
    salt and id string), id) and keep the first n — exact counts,
    order- and parallelism-independent, salt-rotatable."""
    import hashlib

    from lab_etl_batch_data_processing_pipeline__spark.operators import cleaning

    data = list({(s, i) for s, i in rows})  # unique (stratum, id) pairs
    bystratum: dict[int, list] = {}
    for s, i in data:
        h = hashlib.md5(f"{salt}|{i}".encode()).hexdigest()
        bystratum.setdefault(s, []).append((h, i))
    expected = set()
    for s, ranked in bystratum.items():
        ranked.sort()
        expected |= {(s, i) for _, i in ranked[:n_per]}

    df = spark.createDataFrame(data, "stratum int, id long")
    out = cleaning.stratified_sample_exact(df, ["stratum"], "id", n_per, salt=salt)
    got = {(r.stratum, r["id"]) for r in out.collect()}
    assert got == expected


# ---------------------------------------------------------------------------
# Hand-rolled bit/hash operators (round 13, sixth wave): z-order
# interleave, portable SimHash, canonical MD5 fingerprint — the three
# places the engine does raw bit arithmetic that a typo would silently
# corrupt while staying plausible.
# ---------------------------------------------------------------------------


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)),
        min_size=1,
        max_size=25,
    ),
    bits=st.sampled_from([4, 8, 16]),
)
@settings(**SETTINGS)
def test_zorder_value_matches_python_interleave(spark, pairs, bits):
    """layout.zorder_value must equal the sequential Morton interleave
    of the low `bits` bits: a's bit i lands at 2i, b's at 2i+1."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import layout

    def morton(a: int, b: int) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    data = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    expected = {i: morton(a, b) for i, a, b in data}
    df = spark.createDataFrame(data, "rid int, a long, b long")
    out = df.select(
        "rid", layout.zorder_value(F.col("a"), F.col("b"), bits=bits).alias("z")
    )
    got = {r.rid: r.z for r in out.collect()}
    assert got == expected


_WORDS = ["alpha", "beta", "gamma", "delta", "x", "Y"]


def _simhash_replica(text: str) -> int:
    """The sequential SimHash definition: per distinct lowercase token,
    60 bits from the md5 prefix; sketch bit b set iff a strict majority
    of tokens carry it; an empty doc sketches to 0."""
    import hashlib

    toks = list(dict.fromkeys(w for w in text.lower().split() if w))
    counts = [0] * 60
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for b in range(60):
            counts[b] += (h >> (59 - b)) & 1
    sk = 0
    for b in range(60):
        if 2 * counts[b] > len(toks):
            sk |= 1 << (59 - b)
    return sk


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), max_size=8),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_simhash_portable_matches_md5_replica(spark, docs):
    """The 60-bit SimHash (packed-counter aggregate form) must equal the
    sequential definition (:func:`_simhash_replica`)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import dedup_fuzzy

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    expected = {i: _simhash_replica(text) for i, text in rows}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in dedup_fuzzy.simhash(df).collect()}
    assert got == expected


def test_simhash_counters_do_not_overflow_on_large_documents(spark):
    """A document with more distinct tokens than a 15-bit counter holds
    (70,000; about half of them set each bit) must still sketch to the
    sequential definition — the packed per-bit counters may not carry
    into their neighbours."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import dedup_fuzzy

    text = " ".join(f"w{i}" for i in range(70_000))
    expected = _simhash_replica(text)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    assert expected != 0
    assert dedup_fuzzy.simhash(df).first().simhash == expected


@given(
    texts=st.lists(
        st.text(alphabet="aB \t\ncd!", max_size=20),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_fingerprint_matches_md5_of_canonical_text(spark, texts):
    """text.fingerprint must equal md5(lower -> collapse whitespace ->
    trim) computed sequentially — the cross-engine exact-dup key."""
    import hashlib
    import re

    from lab_etl_batch_data_processing_pipeline__spark.operators import text as text_ops

    rows = [(i, t) for i, t in enumerate(texts)]
    expected = {
        i: hashlib.md5(
            re.sub(r"\s+", " ", t.lower()).strip().encode()
        ).hexdigest()
        for i, t in rows
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.fingerprint
        for r in text_ops.fingerprint(df).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Skew-remedy equivalence + cumulative prefix (round 13, seventh wave).
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),      # key (few keys -> heavy per-key mass)
            st.integers(-100, 100),  # integral amount (exact through decimal)
        ),
        min_size=1,
        max_size=30,
    ),
    salt=st.sampled_from([2, 4, 16]),
)
@settings(**SETTINGS)
def test_salted_agg_equals_direct_groupby_randomized(spark, rows, salt):
    """skew.salted_agg's load-bearing contract on ANY input: the
    two-phase salted aggregation is value-identical to the direct
    groupBy — count and sums both — at any salt width. (The fixture
    test pins one shape; this pins the algebra.)"""
    from lab_etl_batch_data_processing_pipeline__spark.operators import skew

    expected: dict[int, list] = {}
    for k, a in rows:
        agg = expected.setdefault(k, [0, 0])
        agg[0] += 1
        agg[1] += a
    expected = {k: (n, float(s)) for k, (n, s) in expected.items()}

    df = spark.createDataFrame(rows, "k int, amt long")
    out = skew.salted_agg(df, ["k"], sum_cols=["amt"], salt=salt)
    got = {r["k"]: (r.n_rows, r.sum_amt) for r in out.collect()}
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),       # key
            st.integers(0, 10),      # order ts (ties -> tiebreak id)
            st.integers(-100, 100),  # integral amount
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_running_totals_match_sequential_prefix_sums(spark, rows):
    """windows.running_totals must equal the sequential prefix scan
    over the (ts, tiebreak) total order: seq = position, running
    amount = exact prefix sum (decimal-exact, so integral inputs give
    exact doubles)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    data = [(k, t, i, a) for i, (k, t, a) in enumerate(rows)]
    bykey: dict[int, list] = {}
    for k, t, i, a in data:
        bykey.setdefault(k, []).append((t, i, a))
    expected = {}
    for k, obs in bykey.items():
        obs.sort()
        run = 0
        for seq, (t, i, a) in enumerate(obs, start=1):
            run += a
            expected[(k, t, i)] = (seq, float(run))

    df = spark.createDataFrame(data, "k int, t int, i int, amt long")
    out = windows.running_totals(df, "k", ["t", "i"], "amt")
    got = {
        (r["k"], r.t, r.i): (r.seq, r.running_amount) for r in out.collect()
    }
    assert got == expected


# --- r14 wave: the last uncovered algorithmic families (r13 verdict
# task 7) — spatial radius join vs an O(n²) planar scan, and fuzzy
# linkage vs a full DP replica with planted same-block typos.


@given(
    pts=st.lists(
        st.tuples(
            st.integers(-30, 30),  # lat (microdegree grid, negatives
            st.integers(-30, 30),  # lon  exercise floor-division cells)
        ),
        min_size=1,
        max_size=25,
    ),
    radius=st.integers(1, 15),
)
@settings(**SETTINGS)
def test_radius_pairs_matches_quadratic_scan(spark, pts, radius):
    """geo.radius_pairs must equal the O(n²) planar-distance scan
    EXACTLY — recall 1.0 (the 3x3 cell neighborhood covers every pair
    within radius, a geometric guarantee, not probabilistic) AND
    precision 1.0 (the integer dist² verify admits nothing outside).
    Negative coordinates pin floor-division cell snapping; duplicate
    coordinates pin the dist2 == 0 self-pair edge."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import geo

    expected = {}
    for i, (la, lo) in enumerate(pts):
        for j in range(i + 1, len(pts)):
            lb, ob = pts[j]
            d2 = (la - lb) ** 2 + (lo - ob) ** 2
            if d2 <= radius * radius:
                expected[(i, j)] = d2

    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "id long, lat long, lon long",
    )
    out = geo.radius_pairs(df, "id", "lat", "lon", radius, sort=False)
    got = {(r.id_a, r.id_b): r.dist2 for r in out.collect()}
    assert got == expected


def test_radius_pairs_exact_boundary_and_cell_edges(spark):
    """Determinism at the two geometric edges: a pair at EXACTLY the
    radius is in (dist² == r², <=); one microdegree past is out; and a
    pair straddling a grid-cell border (each point in a different cell)
    is still found via the 3x3 neighborhood."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import geo

    r = 10
    df = spark.createDataFrame(
        [
            (1, 0, 0),
            (2, r, 0),       # exactly radius from 1 -> in
            (3, r + 1, 0),   # one past radius from 1 -> out vs 1
            (4, -1, -1),     # adjacent cell across the (0,0) border
        ],
        "id long, lat long, lon long",
    )
    got = {
        (x.id_a, x.id_b): x.dist2
        for x in geo.radius_pairs(df, "id", "lat", "lon", r, sort=False).collect()
    }
    assert got == {
        (1, 2): r * r,
        (2, 3): 1,
        (1, 4): 2,
    }


def _lev(a: str, b: str) -> int:
    """Plain DP Levenshtein — the sequential replica for fuzzy_pairs."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        cur = [i]
        for j, cb in enumerate(b, start=1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    data=st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=4, max_size=8),  # base word
            st.integers(0, 2),       # planted same-block edits
            st.integers(0, 10_000),  # edit placement seed
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_fuzzy_pairs_matches_dp_replica_on_planted_typos(spark, data):
    """linkage.fuzzy_pairs (first-char blocking) must equal the full
    DP-Levenshtein replica over every same-block pair — so blocking
    recall on planted typos is 1.0 BY CONSTRUCTION here (each planted
    variant substitutes only at positions >= 2, preserving the block
    key and a true distance <= max_distance), and the reported
    distances are exact (pinning both the 3-arg early-abandon
    levenshtein and the length prune as output-invariant)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import linkage

    alphabet = "abc"
    records = []
    for base, n_edits, seed in data:
        records.append(base)
        if n_edits:
            chars = list(base)
            for e in range(n_edits):
                pos = 1 + (seed + e * 7) % (len(chars) - 1)
                cur = chars[pos]
                chars[pos] = alphabet[
                    (alphabet.index(cur) + 1 + seed) % len(alphabet)
                    if cur in alphabet
                    else 0
                ]
                if chars[pos] == cur:  # substitution must change the char
                    chars[pos] = alphabet[(alphabet.index(cur) + 1) % 3]
            records.append("".join(chars))

    max_d = 2
    expected = {}
    for i, a in enumerate(records):
        for j in range(i + 1, len(records)):
            b = records[j]
            if a[0] != b[0]:
                continue  # different block: out of the declared pair space
            d = _lev(a, b)
            if d <= max_d:
                expected[(i, j)] = d

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(records)], "rid long, name string"
    )
    out = linkage.fuzzy_pairs(
        df,
        "rid",
        "name",
        [F.substring(F.col("name"), 1, 1)],
        max_distance=max_d,
        sort=False,
    )
    got = {(r.id_a, r.id_b): r.distance for r in out.collect()}
    assert got == expected
    # every planted typo shares its base's block and sits within
    # max_distance, so it MUST have been recalled
    rid = 0
    for base, n_edits, _ in data:
        if n_edits:
            pair = (rid, rid + 1)
            assert pair in got and 1 <= got[pair] <= max_d
            rid += 2
        else:
            rid += 1


@given(
    pts=st.lists(
        st.tuples(st.integers(-25, 25), st.integers(-25, 25)),
        min_size=1,
        max_size=20,
    ),
    radius=st.integers(1, 12),
)
@settings(**SETTINGS)
def test_radius_degree_matches_quadratic_scan(spark, pts, radius):
    """geo.radius_degree (the corpus-sized collapse that never
    materializes the quadratic pair list) must equal the per-point
    degree/min-dist² derived from the O(n²) scan; points with no
    neighbor are absent."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import geo

    expected: dict[int, tuple[int, int]] = {}
    for i, (la, lo) in enumerate(pts):
        for j in range(i + 1, len(pts)):
            lb, ob = pts[j]
            d2 = (la - lb) ** 2 + (lo - ob) ** 2
            if d2 <= radius * radius:
                for node in (i, j):
                    n, m = expected.get(node, (0, d2))
                    expected[node] = (n + 1, min(m, d2))

    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "id long, lat long, lon long",
    )
    out = geo.radius_degree(df, "id", "lat", "lon", radius)
    got = {r.id: (r.n_neighbors, r.min_dist2) for r in out.collect()}
    assert got == expected


@given(
    data=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=3, max_size=6),
            st.integers(0, 2),
            st.integers(0, 10_000),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_fuzzy_match_degree_matches_dp_replica(spark, data):
    """linkage.fuzzy_match_degree must equal the per-record
    (n_matches, min_distance) derived from the full same-block DP
    replica — the entity-sized collapse of fuzzy_pairs; records with
    no match absent."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import linkage

    alphabet = "ab"
    records = []
    for base, n_edits, seed in data:
        records.append(base)
        if n_edits:
            chars = list(base)
            for e in range(n_edits):
                pos = 1 + (seed + e * 3) % (len(chars) - 1)
                chars[pos] = alphabet[(alphabet.index(chars[pos]) + 1) % 2]
            records.append("".join(chars))

    max_d = 2
    expected: dict[int, tuple[int, int]] = {}
    for i, a in enumerate(records):
        for j in range(i + 1, len(records)):
            b = records[j]
            if a[0] != b[0]:
                continue
            d = _lev(a, b)
            if d <= max_d:
                for node in (i, j):
                    n, m = expected.get(node, (0, d))
                    expected[node] = (n + 1, min(m, d))

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(records)], "rid long, name string"
    )
    out = linkage.fuzzy_match_degree(
        df, "rid", "name", [F.substring(F.col("name"), 1, 1)], max_distance=max_d
    )
    got = {r.rid: (r.n_matches, r.min_distance) for r in out.collect()}
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),    # group (few-valued, the helper's case)
            st.integers(-5, 5),   # value (ties -> unique id breaks)
        ),
        min_size=1,
        max_size=40,
    ),
    grouped=st.booleans(),
)
@settings(**SETTINGS)
def test_global_rank_two_phase_matches_single_window(spark, rows, grouped):
    """windows.global_rank_two_phase must be BIT-IDENTICAL to the
    single-task window it replaces (r16 verdict task 2): same
    row_number over the same total order, same group totals, same
    running sum on the cum path — rank is a pure function of the total
    order, so partition boundaries must not show through. Covers both
    the mono-id rank-only path and the cum_col path, grouped and
    global."""
    from pyspark.sql import Window

    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, v int, id long").repartition(5)
    order = [F.col("v").desc(), F.col("id").asc()]
    groups = ["g"] if grouped else []
    w = (
        Window.partitionBy(*groups).orderBy(*order)
        if grouped
        else Window.orderBy(*order)
    )
    w_tot = Window.partitionBy(*groups) if grouped else Window.partitionBy()
    expect = {
        r.id: (r.rn, r.tot, r.cum)
        for r in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count(F.lit(1)).over(w_tot).alias("tot"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum"),
        ).collect()
    }
    # rank-only (mono-id) path
    got = {
        r["id"]: (r["__grank"], r["__gtotal"])
        for r in windows.global_rank_two_phase(
            df, order, group_cols=groups, num_partitions=4
        ).collect()
    }
    assert got == {i: (rn, tot) for i, (rn, tot, _) in expect.items()}
    # cum path (pid-window) — also checks the running sum
    got_cum = {
        r["id"]: (r["__grank"], r["__gtotal"], r["__gcum"])
        for r in windows.global_rank_two_phase(
            df, order, group_cols=groups, cum_col="v", num_partitions=4
        ).collect()
    }
    assert got_cum == expect
    # __gsum is the per-group total of the cum column
    sums: dict[int, int] = {}
    for g, v, _ in data:
        key = g if grouped else 0
        sums[key] = sums.get(key, 0) + v
    for r in windows.global_rank_two_phase(
        df, order, group_cols=groups, cum_col="v", num_partitions=4
    ).collect():
        assert r["__gsum"] == sums[r["g"] if grouped else 0]
    # key_cols narrow/join-back path (r18): bit-identical again, and
    # the payload column survives the join-back untouched. Ungrouped,
    # "g" is payload so the narrow plan + key-join engages; grouped,
    # (g, v, id) is the whole frame and the call falls through to the
    # plain plan — both directions of the engage test.
    gmap = {i: g for g, _, i in data}
    got_kc = {
        r["id"]: (r["__grank"], r["__gtotal"], r["__gcum"], r["g"])
        for r in windows.global_rank_two_phase(
            df,
            order,
            group_cols=groups,
            cum_col="v",
            num_partitions=4,
            key_cols=["v", "id"],
        ).collect()
    }
    assert got_kc == {
        i: (rn, tot, cum, gmap[i]) for i, (rn, tot, cum) in expect.items()
    }
