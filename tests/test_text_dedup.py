from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lab_etl_batch_data_processing_pipeline__spark.operators import dedup_fuzzy, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = "the quick brown fox jumps over the lazy dog and runs far away now"
    return spark.createDataFrame(
        [
            (1, base),
            (2, near),                      # near-duplicate of 1
            (3, "completely different words entirely unrelated content here yes"),
            (4, base),                      # exact duplicate of 1
            (5, "  the   quick brown fox jumps over the lazy dog and runs far away today "),
        ],
        "doc_id long, text string",
    )


def test_doc_stats(spark):
    df = spark.createDataFrame([(1, "The cat, and a dog!")], "doc_id long, text string")
    r = text.doc_stats(df).first()
    assert r.n_tokens == 5
    assert r.n_stopwords == 3  # the, and, a
    assert r.n_punct == 2  # comma + bang
    assert 0.0 <= r.quality_score <= 1.0


def test_doc_stats_whitespace_robust(spark):
    df = spark.createDataFrame([(1, "  a  b  ")], "doc_id long, text string")
    assert text.doc_stats(df).first().n_tokens == 2


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of york"),
            (2, "der hund und die katze und der"),
            (3, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_fingerprint_normalizes_whitespace_and_case(docs):
    fps = {r.doc_id: r.fingerprint for r in text.fingerprint(docs).collect()}
    assert fps[1] == fps[4] == fps[5]  # exact + whitespace-variant duplicates
    assert fps[1] != fps[2]


def test_exact_dup_clusters(docs):
    clusters = {
        r.canonical_doc_id: r.n_docs for r in text.exact_dup_clusters(docs).collect()
    }
    assert clusters[1] == 3 and clusters[2] == 1 and clusters[3] == 1


def test_jaccard_near_dups_finds_pair(docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup_fuzzy.jaccard_near_dups(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] > 0.8  # 13/15 shared distinct tokens
    assert pairs[(1, 4)] == 1.0
    assert not any(3 in p for p in pairs)


def test_minhash_signature_properties(docs):
    sigs = {r.doc_id: r.signature for r in dedup_fuzzy.minhash_signatures(docs).collect()}
    assert len(sigs[1]) == 32
    assert sigs[1] == sigs[4]  # identical text -> identical signature
    overlap_near = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    overlap_far = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert overlap_near > overlap_far


def test_minhash_near_dups(docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup_fuzzy.minhash_near_dups(docs, threshold=0.4).collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert not any(3 in p for p in pairs)


def test_jaccard_block_key_spreads_shared_prefix(spark):
    """The straggler scenario: every doc starts with 'the' but shares no
    content. A positional block key puts all 30 docs in ONE block
    (quadratic verify); the min-md5-token key must spread them."""
    docs = spark.createDataFrame(
        [
            (i, "the " + " ".join(f"tok{i}word{j}" for j in range(10)))
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    keys = docs.select(
        dedup_fuzzy.jaccard_block_tok(
            F.split(F.lower(F.col("text")), r"\s+")
        ).alias("k")
    )
    n_distinct = keys.select(F.countDistinct("k")).first()[0]
    assert n_distinct >= 25  # deterministic (md5); would be 1 positionally
    # and no spurious near-dup pairs are emitted for disjoint docs
    assert dedup_fuzzy.jaccard_near_dups(docs, threshold=0.1).count() == 0


def test_jaccard_salt_is_output_invariant(spark):
    """The triangle-decomposition salt balances the verify stage; it must
    never change WHICH pairs come out (the oracle runs unsalted SQL)."""
    docs = text_table(spark)
    base = dedup_fuzzy.jaccard_near_dups(docs, threshold=0.3, salt=1)
    for s in (2, 8):
        salted = dedup_fuzzy.jaccard_near_dups(docs, threshold=0.3, salt=s)
        assert salted.exceptAll(base).count() == 0
        assert base.exceptAll(salted).count() == 0


def test_near_dup_degree_matches_pair_aggregation(spark):
    docs = text_table(spark)
    pairs = dedup_fuzzy.jaccard_near_dups(docs, threshold=0.3).collect()
    expect: dict[int, tuple[int, float]] = {}
    for r in pairs:
        for d in (r.doc_id_a, r.doc_id_b):
            n, m = expect.get(d, (0, 0.0))
            expect[d] = (n + 1, max(m, r.jaccard))
    got = {
        r.doc_id: (r.n_near_dups, r.max_jaccard)
        for r in dedup_fuzzy.near_dup_degree(docs, threshold=0.3).collect()
    }
    assert got == expect


def test_jaccard_block_stats_accounting(spark):
    """Per-block candidate accounting (the pre-flight dense-corpus check):
    pair counts must be exactly C(n_docs, 2) per block, and the total must
    bound the verify-stage join size on the real fixture."""
    docs = text_table(spark)
    stats = dedup_fuzzy.jaccard_block_stats(docs).collect()
    for r in stats:
        assert r.n_candidate_pairs == r.n_docs * (r.n_docs - 1) // 2
    total_candidates = sum(r.n_candidate_pairs for r in stats)
    # Regression pin: the sf0.001 documents fixture is dense by design —
    # if the blocking scheme changes, this number moves and the bench
    # consequences need re-measuring (SCALE.md "Jaccard verify cost").
    assert total_candidates == pinned_candidate_total(spark)


def text_table(spark):
    from lab_etl_batch_data_processing_pipeline__spark.sources import read_parquet

    return read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")


def pinned_candidate_total(spark):
    # 500 docs, dense ~35-token vocabulary: the min-md5 block key admits
    # 52 052 of the 124 750 possible pairs (measured 2026-08-13).
    return 52_052


def test_jaccard_blocked_recall_floor(spark):
    """Recall gate (the ann_lsh_recall pattern): blocked Jaccard must keep
    >= 35% of the true >=0.3 pairs on the dense fixture. Catches a future
    blocking change that silently reverts to a low-recall key."""
    docs = text_table(spark).select("doc_id", "text")
    blocked = dedup_fuzzy.jaccard_near_dups(docs, threshold=0.3).count()
    a, b = docs.alias("a"), docs.alias("b")
    toks = lambda side: F.array_distinct(  # noqa: E731
        F.filter(F.split(F.lower(F.col(f"{side}.text")), r"\s+"), lambda x: x != F.lit(""))
    )
    inter = F.size(F.array_intersect(toks("a"), toks("b")))
    union = F.size(toks("a")) + F.size(toks("b")) - inter
    true_pairs = (
        a.crossJoin(b)  # 50 docs -> 1225 pairs: fine in a test, never in an operator
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(F.round(inter / union, 6) >= 0.3)
        .count()
    )
    assert true_pairs > 0
    assert blocked / true_pairs >= 0.35


def test_simhash_hamming_locality(docs):
    import math

    sk = {r.doc_id: r.simhash for r in dedup_fuzzy.simhash(docs).collect()}
    assert sk[1] == sk[4]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sk[1], sk[2]) < hamming(sk[1], sk[3])


def test_corpus_prep_funnel(spark):
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    good = "the quick brown fox jumps over the lazy dog and it runs to the hills today"
    docs = spark.createDataFrame(
        [
            (1, good, "en", "s1"),
            (2, good, "en", "s2"),                      # exact dup of 1 -> dropped
            (3, good.replace("today", "now"), "en", "s3"),  # near dup -> dropped
            (4, "!!! ??? !!!", "en", "s4"),             # punctuation soup -> quality gate
            (5, "completely different text about the engine and its many tests in it", "en", "s5"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = corpus_prep(docs, min_quality=0.5, jaccard_threshold=0.5)
    assert [r.doc_id for r in out.collect()] == [1, 5]
    assert out.columns == ["doc_id", "text", "lang", "source", "quality_score"]


def test_corpus_prep_optional_repetition_gate(spark):
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and then it sleeps", "en", "s1"),
            (2, "spam and spam and spam and spam and spam and spam and spam", "en", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    without_gate = corpus_prep(docs, min_quality=0.3, jaccard_threshold=0.9)
    assert {r.doc_id for r in without_gate.collect()} == {1, 2}
    gated = corpus_prep(
        docs, min_quality=0.3, jaccard_threshold=0.9, max_dup_2gram_frac=0.3
    )
    assert {r.doc_id for r in gated.collect()} == {1}  # boilerplate doc dropped
    assert gated.columns == without_gate.columns


def test_corpus_prep_releases_cache_on_gc(spark):
    """The plan-internal persist must not outlive the returned frame
    (executor-memory leak in a long-lived session otherwise)."""
    import gc
    import time

    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    docs = spark.createDataFrame(
        [(i, f"some text number {i} with words", "en", "s") for i in range(20)],
        "doc_id long, text string, lang string, source string",
    )
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    out = corpus_prep(docs, min_quality=0.0)
    out.count()
    assert len(sc._jsc.sc().getRDDStorageInfo()) > before
    del out
    gc.collect()
    for _ in range(20):  # unpersist is async on the JVM side
        if len(sc._jsc.sc().getRDDStorageInfo()) == before:
            break
        time.sleep(0.25)
    assert len(sc._jsc.sc().getRDDStorageInfo()) == before


def test_winnowing_fingerprints_detect_shared_content(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, "PREFIX " + base),     # shared content, shifted offsets
            (3, "zzzz completely unrelated words qqqq xxxx yyyy wwww vvvv"),
        ],
        "doc_id long, text string",
    )
    fps = dedup_fuzzy.winnowing_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    # winnowing guarantee: long shared spans share fingerprints even shifted
    assert len(by_doc[1] & by_doc[2]) > 5
    assert not (by_doc[1] & by_doc[3])


def test_near_dup_route_decision(spark):
    """Routing pre-flight: exact candidate count vs budget decides the
    near-dup strategy. The sf0.001 fixture is dense by design, so a
    small budget must route it to MinHash; a generous one stays exact."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import near_dup_route

    docs = text_table(spark).select("doc_id", "text")
    strategy, n = near_dup_route(docs, budget=1_000)
    assert strategy == "minhash"
    assert n == pinned_candidate_total(spark)
    strategy_hi, n_hi = near_dup_route(docs, budget=10**12)
    assert strategy_hi == "exact" and n_hi == n


def test_corpus_prep_dense_routing_matches_exact_above_budget(spark):
    """An un-triggered budget must be a no-op: same rows, same plan
    family as the unrouted funnel (the oracle-checked form)."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    docs = text_table(spark)
    exact = corpus_prep(docs, min_quality=0.0, jaccard_threshold=0.5)
    routed = corpus_prep(
        docs, min_quality=0.0, jaccard_threshold=0.5, near_dup_pair_budget=10**12
    )
    assert [r.doc_id for r in exact.collect()] == [r.doc_id for r in routed.collect()]


def test_corpus_prep_dense_routing_recall(spark):
    """Recall gate for the routed funnel (the ann_lsh_recall pattern):
    when the budget trips and the near-dup stage runs banded MinHash,
    the docs it removes must cover a floor fraction of the docs the
    exact blocked-Jaccard funnel removes. Pins both that the routing
    actually fires on the dense fixture (a broken route would produce
    near-identical outputs AND trip the n_removed_routed check) and
    that the approximate path's quality doesn't silently collapse."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    docs = text_table(spark)
    survivors = lambda df: {r.doc_id for r in df.collect()}  # noqa: E731
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    exact_kept = survivors(corpus_prep(docs, min_quality=0.0, jaccard_threshold=0.3))
    routed_kept = survivors(
        corpus_prep(
            docs, min_quality=0.0, jaccard_threshold=0.3,
            near_dup_pair_budget=1_000,
        )
    )
    exact_drops = all_ids - exact_kept
    routed_drops = all_ids - routed_kept
    assert exact_drops, "fixture no longer dense enough to exercise the gate"
    assert routed_drops, "routed funnel removed nothing: MinHash path broken"
    recall = len(exact_drops & routed_drops) / len(exact_drops)
    assert recall >= 0.5, f"routed near-dup recall collapsed: {recall:.3f}"


def test_precomputed_sketch_matches_inline(spark):
    """The shared-artifact contract: jaccard_near_dups / near_dup_degree /
    jaccard_block_stats fed a precomputed token_sketch must return
    byte-identical results to the inline-tokenizing form — the invariant
    that lets bench materialize ONE sketch per corpus generation while
    the driver's vanilla session tokenizes inline."""
    docs = text_table(spark)
    sketch = dedup_fuzzy.token_sketch(docs)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dedup_fuzzy.jaccard_near_dups(docs, threshold=0.3)) == rows(
        dedup_fuzzy.jaccard_near_dups(docs, threshold=0.3, sketch=sketch)
    )
    assert rows(dedup_fuzzy.near_dup_degree(docs, threshold=0.3)) == rows(
        dedup_fuzzy.near_dup_degree(docs, threshold=0.3, sketch=sketch)
    )
    assert rows(dedup_fuzzy.jaccard_block_stats(docs)) == rows(
        dedup_fuzzy.jaccard_block_stats(docs, sketch=sketch)
    )


def test_precomputed_sigs_match_inline(spark):
    """Same contract for the MinHash side: minhash_near_dups /
    minhash_bucket_dedup fed precomputed signatures (same
    num_hashes/shingle_size) must match the inline form."""
    docs = text_table(spark)
    for shingle in (3, 1):
        sigs = dedup_fuzzy.minhash_signatures(
            docs, num_hashes=32, shingle_size=shingle
        )

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        assert rows(
            dedup_fuzzy.minhash_near_dups(docs, threshold=0.3, shingle_size=shingle)
        ) == rows(
            dedup_fuzzy.minhash_near_dups(
                docs, threshold=0.3, shingle_size=shingle, sigs=sigs
            )
        )
        assert rows(
            dedup_fuzzy.minhash_bucket_dedup(docs, threshold=0.5, shingle_size=shingle)
        ) == rows(
            dedup_fuzzy.minhash_bucket_dedup(
                docs, threshold=0.5, shingle_size=shingle, sigs=sigs
            )
        )


def test_corpus_prep_with_sketch_matches_plain(spark):
    """corpus_prep fed the full-corpus sketch/sigs artifacts must return
    the same survivors as the self-sketching form (the funnel restricts
    the artifacts to the exact-dedup survivor set by semi-join), on both
    the exact and the dense-routed paths; normalize=True must refuse the
    artifacts (they reflect pre-normalization text)."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    docs = text_table(spark)
    sketch = dedup_fuzzy.token_sketch(docs)
    sigs = dedup_fuzzy.minhash_signatures(docs, num_hashes=32, shingle_size=1)
    plain = [tuple(r) for r in corpus_prep(docs, min_quality=0.0).collect()]
    with_sketch = [
        tuple(r) for r in corpus_prep(docs, min_quality=0.0, sketch=sketch).collect()
    ]
    assert plain == with_sketch
    routed_plain = [
        tuple(r)
        for r in corpus_prep(
            docs, min_quality=0.0, near_dup_pair_budget=1_000
        ).collect()
    ]
    routed_art = [
        tuple(r)
        for r in corpus_prep(
            docs, min_quality=0.0, near_dup_pair_budget=1_000,
            sketch=sketch, sigs=sigs,
        ).collect()
    ]
    assert routed_plain == routed_art
    with pytest.raises(ValueError, match="normalize"):
        corpus_prep(docs, normalize=True, sketch=sketch)


def test_incremental_dedup_semantics(spark):
    """Pins the asymmetric contract: existing docs block ANY incoming
    match (even with a larger id), incoming blocks only larger-id
    incoming, exact dups of the corpus drop in stage 1, and the batch
    keeps its own min-id canonical. Sketch-fed and inline forms agree."""
    base = "the quick brown fox jumps over the lazy dog today"
    near = "the quick brown fox jumps over the lazy dog now"
    existing = spark.createDataFrame(
        [(5, base), (7, "completely unrelated corpus content here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (1, near),                    # near-dup of existing 5 (larger id!) -> dropped
            (2, "  THE quick brown fox jumps over the lazy dog today "),  # exact dup of 5 -> dropped
            (3, "fresh new content about something else entirely"),
            (4, "fresh new content about something else entirely"),  # exact dup of 3 -> 3 survives
            # near-dup of 3 (adds one token whose md5 is not the new min,
            # so the pair shares its block) -> dropped by the smaller id
            (6, "fresh new content about something else entirely extra"),
        ],
        "doc_id long, text string",
    )
    out = dedup_fuzzy.incremental_dedup(existing, incoming, threshold=0.5)
    assert [r.doc_id for r in out.collect()] == [3]
    sk_all = dedup_fuzzy.token_sketch(
        existing.unionByName(incoming)
    )
    out2 = dedup_fuzzy.incremental_dedup(
        existing, incoming, threshold=0.5,
        existing_sketch=sk_all.filter("doc_id IN (5, 7)"),
        incoming_sketch=sk_all.filter("doc_id NOT IN (5, 7)"),
    )
    assert [r.doc_id for r in out2.collect()] == [3]


def test_artifact_param_mismatch_raises(spark, docs, tmp_path):
    """ADVICE r8: a precomputed sketch/signature artifact built with
    different params must fail loudly at plan time, not silently dedup
    with wrong blocks — params ride as column metadata (and survive the
    parquet round-trip the shared-artifact contract depends on)."""
    sketch = dedup_fuzzy.token_sketch(docs, length_bucket=10)
    with pytest.raises(ValueError, match="length_bucket"):
        dedup_fuzzy.jaccard_near_dups(docs, length_bucket=5, sketch=sketch)
    with pytest.raises(ValueError, match="length_bucket"):
        dedup_fuzzy.jaccard_block_stats(docs, length_bucket=5, sketch=sketch)
    with pytest.raises(ValueError, match="length_bucket"):
        dedup_fuzzy.incremental_dedup(
            docs, docs, length_bucket=5, existing_sketch=sketch
        )
    # the stamp must survive materialization: that's the artifact path
    p = str(tmp_path / "sketch.parquet")
    sketch.write.parquet(p)
    reread = spark.read.parquet(p)
    with pytest.raises(ValueError, match="length_bucket"):
        dedup_fuzzy.jaccard_near_dups(docs, length_bucket=5, sketch=reread)

    sigs = dedup_fuzzy.minhash_signatures(docs, num_hashes=32, shingle_size=3)
    with pytest.raises(ValueError, match="num_hashes"):
        dedup_fuzzy.minhash_near_dups(docs, num_hashes=16, bands=8, sigs=sigs)
    with pytest.raises(ValueError, match="shingle_size"):
        dedup_fuzzy.minhash_near_dups(docs, shingle_size=2, sigs=sigs)
    # a signature frame stamped with another hash family (the retired
    # xxhash64 one) is refused, not banded as if it were md5
    stamp = dict(sigs.schema["signature"].metadata[dedup_fuzzy.ARTIFACT_META_KEY])
    stamp["portable"] = False
    foreign = sigs.withMetadata(
        "signature", {dedup_fuzzy.ARTIFACT_META_KEY: stamp}
    )
    with pytest.raises(ValueError, match="portable"):
        dedup_fuzzy.minhash_bucket_dedup(docs, sigs=foreign)


def test_incremental_dedup_same_id_cross_side(spark):
    """ADVICE r8: the existing-vs-incoming near guard keys on the SIDE
    flag, not id inequality — an incoming doc that reuses an existing
    doc's id is still blocked by that existing doc."""
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "now")
    existing = spark.createDataFrame([(1, base)], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(1, near), (2, "totally different unrelated words entirely here")],
        "doc_id long, text string",
    )
    kept = dedup_fuzzy.incremental_dedup(existing, incoming, threshold=0.5)
    assert [r.doc_id for r in kept.collect()] == [2]


def _hot_block_docs(spark):
    """Six docs engineered into ONE (len_bucket, block_tok) block: every
    doc contains `shared`, the token with the smallest md5 among all
    tokens used, so it is everyone's block_tok; equal token counts put
    them in the same len_bucket. Two near-dup families (1,2) and (3,4)
    agree within-family on the second-min token; 5 and 6 are unrelated
    fillers that blow the block population past the cap."""
    import hashlib as _h

    pool = [f"tok{i}" for i in range(40)]
    pool.sort(key=lambda t: _h.md5(t.encode()).hexdigest())
    shared = pool[0]  # min md5 -> block_tok for every doc
    fam_a = pool[1:6]      # second-min of family A docs: pool[1]
    fam_b = pool[6:11]     # family B shares pool[6] ... but pool[1] < pool[6]
    # family B must NOT contain pool[1..5]; its second-min is pool[6]
    rows = [
        (1, " ".join([shared] + fam_a)),
        (2, " ".join([shared] + fam_a[:4] + [pool[30]])),
        (3, " ".join([shared] + fam_b)),
        (4, " ".join([shared] + fam_b[:4] + [pool[31]])),
        (5, " ".join([shared] + pool[11:16])),
        (6, " ".join([shared] + pool[16:21])),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_block_cap_splits_hot_block(spark):
    """block_cap sub-splits an oversized block on the second-min md5
    token: total candidate space shrinks while within-family near-dup
    pairs (which agree on the second-min token) all survive — the
    'output-invariance where threshold permits' contract on a fixture
    where every true pair shares its sub-block."""
    docs = _hot_block_docs(spark)

    def pairs(**kw):
        return sorted(
            (r.doc_id_a, r.doc_id_b)
            for r in dedup_fuzzy.jaccard_near_dups(
                docs, threshold=0.6, **kw
            ).collect()
        )

    uncapped = pairs()
    assert uncapped == [(1, 2), (3, 4)], uncapped
    # cap below the block population: split happens, true pairs survive
    assert pairs(block_cap=3) == uncapped
    # cap above the population: sub-blocking is a no-op by construction
    assert pairs(block_cap=100) == uncapped
    # sketch path produces identical results under the cap
    sk = dedup_fuzzy.token_sketch(docs)
    assert pairs(block_cap=3, sketch=sk) == uncapped
    # degree passthrough
    deg = {
        r.doc_id: r.n_near_dups
        for r in dedup_fuzzy.near_dup_degree(
            docs, threshold=0.6, block_cap=3
        ).collect()
    }
    assert deg == {1: 1, 2: 1, 3: 1, 4: 1}


def test_block_cap_actually_prunes_candidates(spark):
    """The capped join must consider FEWER candidate pairs: cross-family
    pairs leave the pair space entirely (different sub-blocks). Checked
    at threshold=0 where every candidate surfaces."""
    docs = _hot_block_docs(spark)
    all_pairs = dedup_fuzzy.jaccard_near_dups(docs, threshold=0.0).count()
    capped_pairs = dedup_fuzzy.jaccard_near_dups(
        docs, threshold=0.0, block_cap=3
    ).count()
    assert all_pairs == 15  # C(6,2): one hot block
    assert capped_pairs < all_pairs


def test_block_cap_incremental_dedup(spark):
    """incremental_dedup under block_cap: sub-blocking population is the
    corpus + surviving batch, both sides split identically, and a large
    cap reproduces the uncapped output."""
    docs = _hot_block_docs(spark)
    existing = docs.filter("doc_id <= 3")
    incoming = docs.filter("doc_id > 3")

    def kept(**kw):
        return [
            r.doc_id
            for r in dedup_fuzzy.incremental_dedup(
                existing, incoming, threshold=0.6, **kw
            ).collect()
        ]

    # doc 4 is a near-dup of existing doc 3; 5 and 6 are unrelated
    assert kept() == [5, 6]
    assert kept(block_cap=100) == [5, 6]
    # cap=3: (3,4) still share a sub-block -> 4 still blocked
    assert kept(block_cap=3) == [5, 6]


def test_block_cap_requires_block_tok2(spark):
    """A pre-sub-blocking sketch artifact (no block_tok2 column) must
    raise when block_cap is requested rather than silently splitting on
    NULLs."""
    docs = _hot_block_docs(spark)
    old_sketch = dedup_fuzzy.token_sketch(docs).drop("block_tok2")
    with pytest.raises(ValueError, match="block_tok2"):
        dedup_fuzzy.jaccard_near_dups(docs, block_cap=3, sketch=old_sketch)
    with pytest.raises(ValueError, match="block_tok2"):
        dedup_fuzzy.incremental_dedup(
            docs.filter("doc_id <= 3"), docs.filter("doc_id > 3"),
            block_cap=3, existing_sketch=old_sketch,
        )


def test_duplicate_spans_keep_first(spark):
    """Substring-level dedup semantics: a 20-token run copied across
    docs is reported (and removed) in every doc except its minimum-id
    home; subset copies count too; disjoint docs untouched."""
    shared = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "intro tokens here " + shared + " tail one"),
            (2, "totally different beginning " + shared + " other ending words"),
            (3, "nothing in common with anyone at all whatsoever"),
            (4, shared),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        tuple(r) for r in dedup_fuzzy.duplicate_spans(docs, k=8, min_len=15).collect()
    )
    assert spans == [(2, 4, 20), (4, 1, 20)]
    cleaned = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_spans, r.text)
        for r in dedup_fuzzy.remove_duplicate_spans(docs, k=8, min_len=15).collect()
    }
    assert cleaned[1] == (25, 0, 0, ("intro tokens here " + shared + " tail one"))
    assert cleaned[2] == (26, 20, 1, "totally different beginning other ending words")
    assert cleaned[3][1:3] == (0, 0)
    assert cleaned[4] == (20, 20, 1, "")


def test_duplicate_spans_min_len_and_short_docs(spark):
    """Runs shorter than min_len are not reported; docs shorter than k
    tokens emit no grams (and survive removal untouched); empty text is
    safe."""
    short_shared = " ".join(f"s{i}" for i in range(10))  # 10 < min_len=15
    docs = spark.createDataFrame(
        [
            (1, "a b c " + short_shared),
            (2, short_shared + " x y z"),
            (3, "tiny doc"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    assert dedup_fuzzy.duplicate_spans(docs, k=8, min_len=15).count() == 0
    out = {r.doc_id: r for r in
           dedup_fuzzy.remove_duplicate_spans(docs, k=8, min_len=15).collect()}
    assert out[2].n_removed == 0 and out[2].text.endswith("x y z")
    assert out[3].n_tokens == 2 and out[4].n_tokens == 0
    # min_len low enough: the 10-gram run IS removed from doc 2 only
    spans = sorted(
        tuple(r)
        for r in dedup_fuzzy.duplicate_spans(docs, k=8, min_len=10).collect()
    )
    assert spans == [(2, 1, 10)]


def test_corpus_prep_substring_stage(spark):
    """corpus_prep(substring_min_len=...) composes the substring-removal
    stage after doc-level dedup: equals the manual composition of
    corpus_prep -> remove_duplicate_spans, schema unchanged."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = corpus_prep(docs, min_quality=0.0)
    fused = corpus_prep(docs, min_quality=0.0, substring_min_len=15)
    assert fused.columns == base.columns
    manual = (
        base.drop("text")
        .join(
            dedup_fuzzy.remove_duplicate_spans(base, min_len=15).select(
                "doc_id", "text"
            ),
            "doc_id",
        )
        .select(*base.columns)
    )
    assert sorted(map(tuple, fused.collect())) == sorted(map(tuple, manual.collect()))
    # the stage actually removes something on the dense fixture
    removed = fused.join(base, "doc_id").filter(
        fused["text"] != base["text"]
    ).count()
    assert removed > 0


def test_containment_finds_subset_jaccard_misses(spark):
    """A short doc pasted verbatim into a much longer one: Jaccard
    ~ |A|/|B| stays under any useful threshold, containment is 1.0 —
    and the inverted-index blocking (A's min shingle in B's set) finds
    the pair with probability 1 for full containment."""
    quote = "the quick brown fox jumps over the lazy dog every single morning"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote + " " + filler.upper().lower()),
            (3, "совершенно другой текст без общих слов вообще ни одного"),
        ],
        ["doc_id", "text"],
    )
    pairs = dedup_fuzzy.containment_near_dups(docs, threshold=0.9).collect()
    assert [(r.doc_id, r.contained_in, r.containment) for r in pairs] == [
        (1, 2, 1.0)
    ]
    # symmetric Jaccard at the same bar sees nothing
    jac = dedup_fuzzy.jaccard_near_dups(docs, threshold=0.9).collect()
    assert jac == []


def test_containment_degree_collapses_pairs(spark):
    """Degree form = groupBy over the identical pair space."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    deg = {
        r.doc_id: (r.n_containers, r.max_containment)
        for r in dedup_fuzzy.containment_degree(docs, threshold=0.5).collect()
    }
    # doc 1's shingles all appear in 2 and 3; doc 3 is contained in 2
    assert deg[1] == (2, 1.0)
    assert deg[3][0] >= 1


def test_containment_prune_keeps_longest_host(spark):
    """quote ⊂ host: the quote drops, the host survives; exact clones
    keep the min id; chains drop every absorbed doc in ONE pass."""
    quote = "the quick brown fox jumps over the lazy dog every single morning"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote),
            (3, filler + " " + quote),       # clone of 2 -> id 3 drops
            (4, "совершенно другой текст без общих слов вообще ни одного"),
        ],
        ["doc_id", "text"],
    )
    kept = [
        r.doc_id
        for r in dedup_fuzzy.containment_prune(docs, threshold=0.9).collect()
    ]
    assert kept == [2, 4]
