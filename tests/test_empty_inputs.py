"""Empty-input robustness: at 100 TB, empty slices/partitions/filters
are routine — every core operator must return an empty (or
correctly-degenerate) result instead of crashing, and operators whose
semantics genuinely require data must refuse with a clear ValueError."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lab_etl_batch_data_processing_pipeline__spark.operators import (
    cleaning,
    dedup_fuzzy,
    graph,
    scd,
    similarity,
    text,
)
from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep


@pytest.fixture(scope="module")
def empty(spark):
    return {
        "docs": spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string"
        ),
        "emb": spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        ),
        "pairs": spark.createDataFrame([], "doc_id_a long, doc_id_b long"),
        "events": spark.createDataFrame(
            [], "user_id long, state string, ts long, event_id long"
        ),
    }


def test_text_operators_return_empty(spark, empty):
    docs = empty["docs"]
    assert text.doc_stats(docs).count() == 0
    assert text.normalize_text(docs).count() == 0
    assert text.char_lm_familiarity(docs).count() == 0
    assert text.mixture_sample(docs, 1000).count() == 0
    assert text.pack_offsets(docs, 512).count() == 0
    assert text.pack_bins(docs, 256).count() == 0
    assert text.chunk_documents(docs, 32, 8).count() == 0
    assert text.decontaminate(docs, docs, 8).count() == 0


def test_dedup_and_funnel_return_empty(spark, empty):
    docs = empty["docs"]
    assert dedup_fuzzy.jaccard_near_dups(docs, "doc_id", "text").count() == 0
    assert dedup_fuzzy.minhash_near_dups(docs, "doc_id", "text").count() == 0
    assert corpus_prep(docs).count() == 0
    assert graph.connected_components(empty["pairs"]).count() == 0
    assert graph.dup_clusters(empty["pairs"]).count() == 0
    assert scd.scd2_history(empty["events"], "user_id", "state", "ts").count() == 0


def test_similarity_empty_behavior(spark, empty, tmp_path):
    emb = empty["emb"]
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    assert similarity.cosine_topk_bruteforce(emb, queries).count() == 0
    # LSH sizes its weight matrix from the corpus: with no vector to size
    # it from, the search has no neighbours rather than no plan
    assert similarity.cosine_topk_lsh(emb, queries).count() == 0
    one = spark.createDataFrame([(0, [1.0, 0.5])], "query_id long, embedding array<float>")
    assert similarity.cosine_topk_lsh(emb, one).count() == 0
    assert similarity.quantize_embeddings(emb).count() == 0
    # codebook training over nothing is meaningless -> loud refusal,
    # never a NoneType crash
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.build_pq_index(emb, str(tmp_path / "pq"), m=4, ksub=2)


def test_audit_operators_degenerate_but_valid(spark, empty):
    docs = empty["docs"]
    m = cleaning.table_manifest(docs, ["doc_id", "text"]).first()
    assert m.n_rows == 0 and m.n_nulls == 0
    rep = cleaning.expectation_report(
        docs, [{"name": "nn", "kind": "not_null", "column": "doc_id"}]
    ).first()
    assert rep.n_violations == 0 and rep.passed


def test_r8_operators_empty_behavior(spark, empty):
    from lab_etl_batch_data_processing_pipeline__spark.operators import linkage

    docs = empty["docs"]
    # incremental dedup: empty batch -> empty; empty corpus -> batch
    # survives its own internal dedup only
    assert dedup_fuzzy.incremental_dedup(docs, docs).count() == 0
    some = spark.createDataFrame(
        [(1, "a b c", "en", "s")], "doc_id long, text string, lang string, source string"
    )
    assert dedup_fuzzy.incremental_dedup(some, docs).count() == 0
    assert dedup_fuzzy.incremental_dedup(docs, some).count() == 1
    # sparse similarity: empty corpus -> empty (n_docs=0 prunes all)
    assert text.tfidf_cosine_topk(docs).count() == 0
    # snapshot diff: both empty -> empty; one side empty -> all added/removed
    e = spark.createDataFrame([], "k long, v string")
    s = spark.createDataFrame([(1, "x")], "k long, v string")
    assert cleaning.snapshot_diff(e, e, ["k"]).count() == 0
    assert [r.change_type for r in cleaning.snapshot_diff(e, s, ["k"]).collect()] == ["added"]
    assert [r.change_type for r in cleaning.snapshot_diff(s, e, ["k"]).collect()] == ["removed"]
    # CDC: empty changelog is identity; empty snapshot applies inserts
    ch = spark.createDataFrame([], "k long, v string, seq int, op string")
    assert [tuple(r) for r in scd.apply_changelog(s, ch, ["k"], "seq").collect()] == [(1, "x")]
    ins = spark.createDataFrame([(2, "y", 1, "I")], "k long, v string, seq int, op string")
    assert [tuple(r) for r in scd.apply_changelog(e, ins, ["k"], "seq").collect()] == [(2, "y")]
    # linkage over empty records -> empty
    assert linkage.fuzzy_pairs(docs, "doc_id", "text", ["lang"]).count() == 0
    assert linkage.fuzzy_match_degree(docs, "doc_id", "text", ["lang"]).count() == 0
    # spatial radius join over empty points -> empty (r14: both forms)
    from lab_etl_batch_data_processing_pipeline__spark.operators import geo

    pts = spark.createDataFrame([], "id long, lat long, lon long")
    assert geo.radius_pairs(pts, "id", "lat", "lon", 10).count() == 0
    assert geo.radius_degree(pts, "id", "lat", "lon", 10).count() == 0
    # a single point has no pair and no degree row
    one = spark.createDataFrame([(1, 0, 0)], "id long, lat long, lon long")
    assert geo.radius_pairs(one, "id", "lat", "lon", 10).count() == 0
    assert geo.radius_degree(one, "id", "lat", "lon", 10).count() == 0


def test_r9_fourth_wave_empty_behavior(spark, empty):
    from lab_etl_batch_data_processing_pipeline__spark.operators import (
        profiling,
        sessions,
        windows,
    )

    ev = spark.createDataFrame(
        [], "user_id long, ts double, value double, event_id long, event_type string"
    )
    assert windows.resample_interpolate(
        ev, "user_id", "ts", "value", interval_seconds=10, tiebreak_col="event_id"
    ).count() == 0
    assert windows.rank_stats(ev, "event_type", ["value", "event_id"]).count() == 0
    assert profiling.mad_outliers(ev, "event_type", "value").count() == 0
    # funnel: stage rows still emit, all zero
    out = sessions.conversion_funnel(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()
    assert [(r.stage_idx, r.n_users) for r in out] == [(1, 0), (2, 0), (3, 0)]
