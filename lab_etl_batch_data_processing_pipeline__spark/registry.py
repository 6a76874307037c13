"""Query registry: the driver contract's implementation module.

``__spark_entry__.py`` at the repo root is a thin shim re-exporting
this module's ``entry`` / ``queries`` / ``oracle_sql``, so the entry
file stays a thin, stable contract while the wrappers and helpers live
here in the package with the rest of the engine.

Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` maps every implemented operator (SURVEY.md §2 metrics M1-M7,
joins J1-J4, cleaning P1, plus the north-star text/dedup/similarity/JSON
extensions) onto the driver testdata; ``oracle_sql()`` gives the DuckDB
twin for each SQL-expressible query. Column names/aliases match exactly
between the Spark and oracle sides (the driver hashes values after sorting
columns by name).

Determinism notes (why these queries oracle-match bit-for-bit):
- money/measure aggregates are ROUNDed (2dp) so parallel-sum low-bit noise
  cannot flip the hash;
- integer arithmetic everywhere else (datediff, counts) is exact;
- every ranking window carries an explicit id tiebreak;
- vector dot products use sequential left-to-right folds on both engines;
- DuckDB aggregate outputs are CAST to BIGINT to match Spark's LongType.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_etl_batch_data_processing_pipeline__spark.operators import (
    asof,
    cleaning,
    dedup_fuzzy,
    joins,
    metrics,
    multimodal,
    profiling,
    quality,
    ranges,
    sessions,
    similarity,
    skew,
    text,
)
from lab_etl_batch_data_processing_pipeline__spark.functions import json_funcs
from lab_etl_batch_data_processing_pipeline__spark.operators.graph import _ckpt
from lab_etl_batch_data_processing_pipeline__spark import artifacts as _art
from lab_etl_batch_data_processing_pipeline__spark.artifacts import _t
from lab_etl_batch_data_processing_pipeline__spark import oracles as _oracles
from lab_etl_batch_data_processing_pipeline__spark.oracles import MIXTURE_WEIGHTS
from lab_etl_batch_data_processing_pipeline__spark.sources import (
    ensure_timestamp,
    read_csv,
)

SF0001 = "/root/testdata/sf0.001"

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
LINEITEM_NONKEYS = [
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: weekly popular locations (M3) — 3-table join + windowed agg."""
    return q_popular_locations_weekly(spark, SF0001)


# ---------------------------------------------------------------------------
# The seven reference metrics (SURVEY.md §2.4) on the testdata mapping
# (FIXTURES.md §B): orders≈bookings, o_orderstatus='F'≈confirmed,
# l_partkey≈apartment_id, o_orderdate≈checkin, l_shipdate≈checkout.
# ---------------------------------------------------------------------------


def q_avg_price_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: weekly average order price."""
    return metrics.avg_listing_price_weekly(
        _t(spark, sf_dir, "orders"), "o_orderdate", "o_totalprice"
    )


def _booking_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⟕orders 'confirmed' view: checkin=o_orderdate, checkout=l_shipdate."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "inner"
    ).filter(F.col("o_orderstatus") == "F")


def q_occupancy_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: monthly occupancy, reference denominator semantics."""
    return metrics.occupancy_rate_monthly(
        _booking_lines(spark, sf_dir), "o_orderdate", "l_shipdate", "l_partkey"
    )


def q_popular_locations_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: bookings per (week, nation) via customer→nation dims.

    Broadcast-hint discipline (the graph.py first-level rule): nation is
    25 rows by construction — hard hint. customer SCALES with the data
    (billions of rows at 100 TB), so it gets NO hard hint — F.broadcast
    is obeyed regardless of size and would OOM; AQE still broadcasts it
    at runtime whenever it actually fits."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left"
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
    return metrics.popular_locations_weekly(
        joined, "o_orderdate", "n_name", "o_orderstatus", "F"
    )


def q_top_listings_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (global-sort form): weekly revenue per part."""
    return metrics.top_revenue_weekly(
        _t(spark, sf_dir, "lineitem"),
        "l_shipdate",
        "l_partkey",
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
    )


def q_top_listings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (explicit top-k window form): top 3 parts per week."""
    return metrics.top_revenue_weekly_topk(
        _t(spark, sf_dir, "lineitem"),
        "l_shipdate",
        "l_partkey",
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
        k=3,
    )


def q_bookings_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: confirmed orders + spend per customer."""
    return metrics.bookings_per_user(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_totalprice", "o_orderstatus", "F"
    )


def q_avg_duration_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: monthly average order→ship duration in days."""
    return metrics.avg_duration_monthly(
        _booking_lines(spark, sf_dir), "o_orderdate", "l_shipdate"
    )


def q_repeat_rate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: monthly repeat-customer rate (30-day window, LAG per customer)."""
    return metrics.repeat_customer_rate_monthly(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderdate",
        tiebreak_col="o_orderkey",
        status_col="o_orderstatus",
        confirmed_value="F",
    )


# ---------------------------------------------------------------------------
# Curated denormalization (J1-J4) + cleaning (P1) on testdata.
# ---------------------------------------------------------------------------


def q_curated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-J4 chain: orders⟕customer⟕nation⟕region, projected.

    Broadcast-hint discipline: nation (25 rows) and region (5 rows) are
    bounded by construction — hard hints. customer scales with the data,
    so NO hard hint (F.broadcast is obeyed regardless of size — at 100 TB
    that's a driver OOM, the graph.py first-level lesson); AQE converts
    the join to broadcast at runtime whenever customer actually fits,
    which the plan test pins on the final adaptive plan."""
    orders = _t(spark, sf_dir, "orders").alias("o")
    customer = _t(spark, sf_dir, "customer").alias("c")
    nation = _t(spark, sf_dir, "nation").alias("n")
    region = _t(spark, sf_dir, "region").alias("r")
    return (
        orders.join(customer, F.col("o.o_custkey") == F.col("c.c_custkey"), "left")
        .join(F.broadcast(nation), F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left")
        .join(F.broadcast(region), F.col("n.n_regionkey") == F.col("r.r_regionkey"), "left")
        .select(
            F.col("o.o_orderkey").alias("order_id"),
            F.col("o.o_custkey").alias("customer_id"),
            F.col("c.c_name").alias("customer_name"),
            F.col("c.c_mktsegment").alias("segment"),
            F.col("n.n_name").alias("nation"),
            F.col("r.r_name").alias("region"),
            F.col("o.o_orderstatus").alias("order_status"),
            F.to_date(F.col("o.o_orderdate")).alias("order_date"),
            F.col("o.o_totalprice").alias("total_price"),
            F.col("o.o_orderpriority").alias("order_priority"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: full-row exact dedup on lineitem."""
    return cleaning.dedup_exact(_t(spark, sf_dir, "lineitem"))


def q_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-subset dedup: one row per (orderkey, linenumber)."""
    return cleaning.dedup_by_keys(_t(spark, sf_dir, "lineitem"), LINEITEM_KEYS)


# ---------------------------------------------------------------------------
# North-star extensions: JSON, text analysis, fingerprint/dedup, similarity.
# ---------------------------------------------------------------------------


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + per-type rollup over events.props."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_type",
        "value",
        json_funcs.json_get_int(F.col("props"), "k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 2).alias("avg_value"),
            F.sum("k").alias("total_k"),
            F.round(F.avg("k"), 2).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_stats(_t(spark, sf_dir, "documents"))


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.exact_dup_clusters(_t(spark, sf_dir, "documents"))


def q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked token-set Jaccard, reported as per-doc near-dup degree
    (n_near_dups, max_jaccard). Same blocking + exact verify as the pair
    form — the degrees pin the full pair set (any missing/extra pair
    changes a count) — but the output is corpus-sized: on the dense
    fixture the raw pair list is quadratic (4.77 M pairs from 5 000 docs
    at sf0.1), and materializing + globally sorting it measures 2x the
    cost of computing it (see dedup_fuzzy.near_dup_degree)."""
    return dedup_fuzzy.near_dup_degree(
        _t(spark, sf_dir, "documents"), threshold=0.3,
        sketch=_doc_sketch(spark, sf_dir),
    )


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dups: md5-derived base hashes + an inlined
    universal-hash family, so DuckDB reproduces the exact signatures,
    band buckets, and estimated-Jaccard values."""
    return dedup_fuzzy.minhash_near_dups(
        _t(spark, sf_dir, "documents"), threshold=0.4,
        sigs=_doc_sigs(spark, sf_dir, num_hashes=32, shingle_size=3),
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by association lift (the PMI
    ranking without the monotonic log), lift as floor-1e6 fixed point
    computed in identically-parenthesized IEEE doubles on both engines."""
    return text.pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, top_k=50
    )


def q_containment_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-shingle containment (|A∩B|/|A| >= 0.5), reported as
    per-doc degree (n_containers, max_containment) — the subset/superset
    dedup modality Jaccard misses. The oracle replicates the
    inverted-index blocking (A's min-md5 shingle ∈ B's shingle set), so
    both the candidate recall and the verify arithmetic are pinned."""
    return dedup_fuzzy.containment_degree(
        _t(spark, sf_dir, "documents"), threshold=0.5
    )


def q_part_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity RESOLUTION (not just matching): connected components over
    the blocked edit-distance pair space — the cluster ids a linkage
    pipeline actually outputs (one canonical entity per component).
    Same pair generator as fuzzy_part_match, same label contraction as
    near_dup_clusters; the oracle transitively closes the identical
    pair space with a recursive CTE."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import (
        graph,
        linkage,
    )

    pairs = linkage.fuzzy_pairs(
        _t(spark, sf_dir, "part"),
        "p_partkey",
        "p_name",
        ["p_brand", F.element_at(F.split(F.col("p_name"), " "), 2)],
        max_distance=2,
        sort=False,
    )
    return graph.connected_components(
        pairs, "id_a", "id_b", assume_unique_pairs=True
    ).orderBy("node_id")


def q_containment_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment dedup ACTION: surviving doc ids after dropping
    every doc >= 0.8 shingle-contained in an absorbing doc (more
    shingles, or smaller id at equal size). One-pass absorb rule judged
    against the original corpus — a single declarative plan; the oracle
    replicates blocking, rule, and tiebreak exactly."""
    return dedup_fuzzy.containment_prune(
        _t(spark, sf_dir, "documents"), threshold=0.8
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash sketches (md5-derived token bits — bit-for-bit
    reproducible in DuckDB)."""
    return dedup_fuzzy.simhash(_t(spark, sf_dir, "documents")).orderBy("doc_id")


# Offline artifact & cache layer: lives in the package (artifacts.py);
# re-bound here because query bodies, bench, and tests address these
# names through this module.
_query_vectors = _art._query_vectors
_ground_truth_topk = _art._ground_truth_topk


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 5 query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_bruteforce(emb, _query_vectors(emb), k=5)


def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank: the brute-force cosine top-5 candidate
    lists re-scored by the cross-encoder-style pairwise stage
    (similarity.crossencoder_rerank — the one brief-adjacent gap the
    r17 verdict left in the similarity family). vec_id aligns with
    doc_id in the testdata, so the candidate ids address the documents
    table directly; the scorer is the deterministic integer
    lexical-interaction stand-in, so the DuckDB twin hashes the whole
    output including ce_score and rerank_pos."""
    emb = _t(spark, sf_dir, "embeddings")
    cand = similarity.cosine_topk_bruteforce(emb, _query_vectors(emb), k=5)
    return similarity.crossencoder_rerank(cand, _t(spark, sf_dir, "documents"))


def q_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate LSH-bucketed cosine top-k. 3 planes / 8 tables
    matches the wide-angle neighbor geometry of the testdata embeddings
    (top-5 cosine ~0.3): measured recall@5 is 0.6-1.0 across SFs. The
    hyperplane weights are md5-derived, so the bucket assignment — and
    therefore the whole top-k output — has a DuckDB value-hash twin;
    ann_lsh_recall still pins approximation quality."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(
        emb, _query_vectors(emb), k=5, num_planes=3, num_tables=8
    )


def _ann_recall(exact: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    """Per-query recall invariant: recall_ok = |approx ∩ exact| >= floor*k.

    Oracle-checkable without the oracle reproducing the approximate path:
    DuckDB recomputes the exact neighbor sets (n_exact) and asserts
    recall_ok TRUE — if the ANN path degrades below the floor, the Spark
    side emits FALSE and the value hash mismatches.
    """
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .na.fill(0, ["n_hit"])
        .select(
            "query_id",
            "n_exact",
            (F.col("n_hit") >= F.lit(floor) * F.col("n_exact")).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 floor (0.4) for the exact config q_ann_cosine_lsh runs.
    Measured per-query recall is 0.6-1.0 across sf0.001/0.01/0.1."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = _ground_truth_topk(spark, sf_dir, k=5)
    approx = similarity.cosine_topk_lsh(
        emb, _query_vectors(emb), k=5, num_planes=3, num_tables=8
    ).select("query_id", "neighbor_id")
    return _ann_recall(exact, approx, floor=0.4)


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 floor (0.2: every query finds a true neighbor) for the
    exact config q_ann_cosine_ivf runs, probing the same materialized
    index. Measured per-query recall is 0.2-1.0 across SFs."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = _ground_truth_topk(spark, sf_dir, k=5)
    approx = similarity.cosine_topk_ivf(
        emb, _query_vectors(emb), k=5, nlist=8, nprobe=3,
        index_dir=_ivf_index_dir(sf_dir),
    ).select("query_id", "neighbor_id")
    return _ann_recall(exact, approx, floor=0.2)


def q_ann_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 floor (0.8) of the int8-quantized brute-force path vs the
    exact float path. int8 rounding barely perturbs cosine order, so the
    floor is tight — a quantizer bug (scale drift, overflow) fails this
    loudly. DuckDB oracle recomputes the exact neighbor sets and asserts
    recall_ok TRUE (same invariant form as ann_lsh_recall)."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = _ground_truth_topk(spark, sf_dir, k=5)
    approx = similarity.cosine_topk_quantized(emb, _query_vectors(emb), k=5).select(
        "query_id", "neighbor_id"
    )
    return _ann_recall(exact, approx, floor=0.8)


def q_ann_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF×PQ probe against the materialized FAISS-style index
    (similarity.cosine_topk_ivfpq): centroid ranking picks nprobe of
    nlist cells, the coded index is STATICALLY partition-pruned to those
    cells (probed cell ids are dimension-sized, collected for an isin
    pushdown), candidates score as m-byte codes via the per-query LUT,
    and the shortlist re-ranks exactly. The two pruning levers compose:
    nprobe/nlist of the corpus read × 16 B per candidate. Cells, codes
    and codebooks all come from the deterministic exact-integer Lloyd
    since r10, so the whole composed probe is value-hash checked
    against a DuckDB twin (_ivfpq_sql: IVF cell chain + PQ chain +
    probed-cell LUT scoring + exact re-rank); quality stays pinned by
    ann_ivfpq_recall below."""
    emb = _t(spark, sf_dir, "embeddings")
    p = _IVFPQ_PARAMS
    return similarity.cosine_topk_ivfpq(
        emb, _query_vectors(emb), k=5, nlist=p["nlist"], nprobe=p["nprobe"],
        m=p["m"], ksub=p["ksub"], rerank=p["rerank"],
        index_dir=_ivfpq_index_dir(sf_dir),
    )


def q_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 floor (0.2: every query finds a true neighbor — the same
    floor as the plain-IVF gate, since the cell restriction dominates
    and the PQ distortion is repaired by the exact re-rank) for the
    exact config q_ann_cosine_ivfpq runs, probing the same index.
    Measured per-query recall 0.2-1.0 across sf0.001/0.01/0.1."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = _ground_truth_topk(spark, sf_dir, k=5)
    p = _IVFPQ_PARAMS
    approx = similarity.cosine_topk_ivfpq(
        emb, _query_vectors(emb), k=5, nlist=p["nlist"], nprobe=p["nprobe"],
        m=p["m"], ksub=p["ksub"], rerank=p["rerank"],
        index_dir=_ivfpq_index_dir(sf_dir),
    ).select("query_id", "neighbor_id")
    return _ann_recall(exact, approx, floor=0.2)


def q_ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k against a materialized PQ index
    (similarity.cosine_topk_pq): the corpus scans as m=16 one-byte codes
    (16 B/vector vs 256 B float32 — 16x less memory/bandwidth, the
    billion-scale RAM lever), each pair scores via the per-query LUT,
    and the top-100 PQ shortlist is exactly re-ranked. Codebooks AND
    codes come from the deterministic grouped exact-integer Lloyd since
    r10 (_det_pq_fit — one pass trains all m sub-quantizers), so the
    whole probe is value-hash checked against a DuckDB twin; quality
    stays pinned by ann_pq_recall below, mechanics by
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    p = _PQ_PARAMS
    return similarity.cosine_topk_pq(
        emb, _query_vectors(emb), k=5, m=p["m"], ksub=p["ksub"],
        rerank=p["rerank"], index_dir=_pq_index_dir(sf_dir),
    )


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 floor (0.6) for the exact config q_ann_cosine_pq runs,
    probing the same materialized index. Measured per-query recall with
    the top-100 exact re-rank is 0.8-1.0 across sf0.001/0.01/0.1; the
    PQ-only shortlist (no re-rank) sits at 0.2-0.8 on this fixture's
    near-random embedding geometry — the re-rank stage is what makes PQ
    production-usable, and this gate pins the composed pipeline."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = _ground_truth_topk(spark, sf_dir, k=5)
    p = _PQ_PARAMS
    approx = similarity.cosine_topk_pq(
        emb, _query_vectors(emb), k=5, m=p["m"], ksub=p["ksub"],
        rerank=p["rerank"], index_dir=_pq_index_dir(sf_dir),
    ).select("query_id", "neighbor_id")
    return _ann_recall(exact, approx, floor=0.6)


def _events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with the ts column normalized to TimestampType, whatever the
    parquet generation stored (nanos long, TIMESTAMP_NTZ micros, or an
    instant timestamp — see sources.ensure_timestamp)."""
    events = _t(spark, sf_dir, "events")
    return events.withColumn("ts_utc", ensure_timestamp(events, "ts"))


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (12h gap) per user: count + duration per session."""
    return sessions.session_stats(
        _events_ts(spark, sf_dir), "user_id", "ts_utc",
        gap_minutes=720, tiebreak_col="event_id",
    )


def q_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement profile over the events stream."""
    return sessions.user_engagement(
        _events_ts(spark, sf_dir), "user_id", "ts_utc", "event_type"
    )


def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_frequencies(_t(spark, sf_dir, "documents"), min_count=5)


def q_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.word_ngrams(_t(spark, sf_dir, "documents"), n=2, min_count=5)


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids, with the vector serialized to a fixed-6dp CSV
    string: the driver's canonicalizer sorts/hashes scalar cells only
    (array cells raise ``unhashable type``), and %.6f is the one float
    rendering Spark's format_string and DuckDB's printf agree on
    bit-for-bit (elements are already ROUNDed to 6dp upstream)."""
    cent = similarity.label_centroids(_t(spark, sf_dir, "embeddings"))
    return cent.select(
        "label",
        F.concat_ws(
            ",", F.transform("centroid", lambda v: F.format_string("%.6f", v))
        ).alias("centroid"),
        "n_vectors",
    ).orderBy("label")


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (week, returnflag): subtotals + grand total in one pass
    (Catalyst expands grouping sets; one shuffle)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    week = F.to_date(F.date_trunc("week", F.col("l_shipdate"))).alias("week_start")
    return (
        lineitem.rollup(week, F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue"),
        )
        .orderBy(
            F.col("week_start").asc_nulls_first(), F.col("return_flag").asc_nulls_first()
        )
    )


def q_events_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-parse from_json + filter on the parsed field (pushdown-style
    pre-filter the multi-key twin of events_json's get_json_object path)."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_type", json_funcs.json_struct(F.col("props"), "k INT").alias("p")
    ).select("event_type", F.col("p.k").alias("k"))
    return (
        parsed.filter(F.col("k") >= 90)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_high"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's most recent
    view event at-or-before it (second resolution for oracle parity)."""
    ev = _events_ts(spark, sf_dir).withColumn("sec", F.col("ts_utc").cast("long"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("sec").alias("purchase_sec"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("sec").alias("view_sec"),
        F.col("event_id").alias("view_id"),
    )
    joined = asof.asof_join(
        purchases, views, on="user_id",
        left_ts="purchase_sec", right_ts="view_sec", right_tiebreak="view_id",
        suffix="_m",
    )
    return joined.select(
        "purchase_id", "user_id", "purchase_sec",
        F.col("view_id_m").alias("view_id"),
        F.col("view_sec_m").alias("view_sec"),
    ).orderBy("purchase_id")


def q_salted_status_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation over the 3-value (maximally skewed)
    status key; equivalent to the direct groupBy, verified by the oracle."""
    out = skew.salted_agg(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], ["o_totalprice"], salt=16
    )
    return out.orderBy("o_orderstatus")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked embedding-cosine near-dup pairs (sim >= 0.2).

    Runs the default (scale-correct) salted block-key equi-join — the
    mode a 100 TB corpus needs; ``broadcast_right=True`` remains the
    explicit small-corpus opt-in and is covered in
    tests/test_similarity.py."""
    return similarity.cosine_near_dups(
        _t(spark, sf_dir, "embeddings"),
        block_col="label",
        threshold=0.2,
    )


#: semantic_dedup gate threshold — chosen so the sf fixtures both keep
#: and drop vectors (~40% drop; the gate is vacuous at a threshold
#: nothing crosses — measured: 0.5 drops ~0, 0.2 drops ~75%)
_SEMANTIC_DEDUP_T = 0.3


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level corpus prune (similarity.semantic_dedup — the
    SemDeDup recipe): IVF cells (shared materialized index when built),
    per-cell greedy min-id survivors at cosine >= 0.3. Invariant-gate
    oracle row (the _ann_recall pattern) computed by
    similarity.semantic_dedup_gate: Spark RE-VERIFIES the structural
    characterization that uniquely pins the greedy output with exact
    JVM-side cosine joins; DuckDB recomputes n_vecs and asserts the
    booleans TRUE. A survivor-structure regression flips a boolean and
    the value hash."""
    emb = _t(spark, sf_dir, "embeddings")
    p = _IVF_PARAMS
    rep = similarity.semantic_dedup(
        emb, threshold=_SEMANTIC_DEDUP_T, nlist=p["nlist"],
        max_iter=p["max_iter"], index_dir=_ivf_index_dir(sf_dir),
    )
    return similarity.semantic_dedup_gate(emb, rep, _SEMANTIC_DEDUP_T)


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: connected components of the strong
    (>= 0.6) Jaccard pair graph via iterative hash-to-min label
    propagation (operators/graph.py). Pair lists only say "a looks like
    b" — keeping one doc per cluster needs the transitive closure, and
    the oracle checks it with a recursive CTE, so the iterative
    algorithm is value-hash-checked, not rows-only."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph

    pairs = dedup_fuzzy.jaccard_near_dups(
        _t(spark, sf_dir, "documents"), threshold=0.6, sort=False,
        sketch=_doc_sketch(spark, sf_dir),
    )
    # the pair generator emits each undirected pair once (a < b), so the
    # edge-dedup shuffle is skippable (see connected_components)
    return graph.connected_components(pairs, assume_unique_pairs=True)



def q_transaction_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer HITS — hubs & authorities (graph.hits,
    3 rounds, 2^20 fixed point, L-infinity renormalization) — over the
    DIRECTED customer->supplier purchase graph (distinct pairs via
    orders x lineitem; node id = 2*custkey / 2*suppkey+1 keeps the key
    spaces disjoint). The mutual-reinforcement layer pagerank's single
    importance score does not give: on this bipartite graph hub score
    ranks customers by the strength of the suppliers they buy from,
    authority score ranks suppliers by the strength of their buyers —
    every customer has auth_fp 0 and every supplier hub_fp 0 by
    construction. Every step is truncating-BIGINT arithmetic (exact
    sums, single-row max renorms), so the FIFTH iterative graph
    algorithm also carries a full value-hash oracle: DuckDB unrolls
    the same rounds as chained ar/a/hr/h CTEs and must match
    bit-for-bit."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    return hits(edges, iterations=3)


def q_transaction_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (graph.bfs_hops, 5 seeds, 4 hops)
    over the SYMMETRIZED customer<->supplier purchase graph — the
    "link distance from trusted seeds" quality signal of graph-based
    corpus filtering (keep documents within k hops of a trusted core),
    here reading as co-purchase distance from the five smallest node
    ids. The sixth iterative graph algorithm with a full value-hash
    oracle: BFS is pure set algebra (frontier join, distinct,
    anti-join, union) with a deterministic k-row seed rule, so the
    DuckDB unrolled frontier/dist CTE chain must match bit-for-bit.
    Per round one edge-scaled equi-join + node-scaled anti-join;
    per-round frames checkpointed (fork rule), lag unpersist;
    early-exits on an empty frontier."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.graph import bfs_hops

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    # one-pass symmetrize (the connected_components rule): a union of
    # two selects would run the lineitem-orders join twice — Spark does
    # not dedupe common subtrees across union branches
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return bfs_hops(edges, n_seeds=5, max_hops=4)


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity ranges of each user's event-type state (operators/
    scd.py): consecutive repeats collapse, versions count per user,
    valid_to is NULL on the open version. Timestamps surface as epoch
    micros so the row is encoding- and timezone-independent. One shuffle:
    both window passes share the user_id partitioning."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    ev = _events_ts(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts_utc"))
    return scd.scd2_history(
        ev, "user_id", "event_type", "ts_us", order_cols=("event_id",)
    )


def q_event_type_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew profile of the events stream by event_type
    (operators/profiling.py) — the pre-flight number SCALE.md's salting
    decisions act on. Broadcast single-row total; ranking window runs
    after a distributed top-k."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    return profiling.key_skew(_t(spark, sf_dir, "events"), ["event_type"], top_k=10)


def q_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch gate (the cardinality_gate pattern for
    approx_percentile): per order status, exact p50/p90 plus a boolean
    asserting the approximate answer (accuracy=1000) lands within 2% of
    exact. DuckDB recomputes the exact side and asserts TRUE, so sketch
    parameter drift flips the value hash. At 100 TB approx_percentile is
    the profiling default — mergeable partials instead of a full sort —
    and this row keeps it honest."""
    orders = _t(spark, sf_dir, "orders")
    exact = F.expr("percentile(o_totalprice, array(0.5, 0.9))")
    approx = F.expr("approx_percentile(o_totalprice, array(0.5, 0.9), 1000)")
    agg = orders.groupBy("o_orderstatus").agg(
        exact.alias("e"), approx.alias("a")
    )
    within = lambda i: (  # noqa: E731
        F.abs(F.element_at("a", i) - F.element_at("e", i))
        <= F.lit(0.02) * F.abs(F.element_at("e", i))
    )
    return agg.select(
        "o_orderstatus",
        F.element_at("e", 1).alias("p50_exact"),
        F.element_at("e", 2).alias("p90_exact"),
        (within(1) & within(2)).alias("quantile_ok"),
    ).orderBy("o_orderstatus")


def q_session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE gap-based session operator (F.session_window, the
    declarative form Structured Streaming shares) pinned against the
    classic LAG-flag SQL sessionization in the oracle: same 12 h gap as
    the manual `sessionization` row, so the two formulations cross-check.
    session_window end = last event + gap by definition; epochs surface
    as micros for encoding independence."""
    ev = _events_ts(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts_utc", "12 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON via Spark 4 VariantType: parse_json once into the binary
    variant encoding, typed try_variant_get extraction — the modern
    engine path for semi-structured columns (vs the string-walking
    get_json_object row events_json and the schema'd from_json row
    events_json_struct; all three rollups agree)."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("total_k"),
            F.round(F.avg("k"), 2).alias("avg_k"),
            F.round(F.avg("value"), 2).alias("avg_value"),
        )
        .orderBy("event_type")
    )


def q_rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-calendar-day revenue per order status via a RANGE
    window frame over an integer day index (operators/windows.py
    rolling_window_sum) — rows-frames silently stretch across date gaps;
    range-frames are the correct calendar semantics. Daily pre-aggregate
    first, so the frame slides over day-grain rows."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    return windows.rolling_window_sum(
        _t(spark, sf_dir, "orders"),
        "o_orderstatus",
        "o_orderdate",
        "o_totalprice",
        window_days=7,
    )


# MIXTURE_WEIGHTS lives in the package oracles module (shared by the
# Spark queries and the DuckDB oracle strings)


def q_corpus_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data mixing — the production form of corpus_mixture:
    explicit per-source target shares of the 60k-token budget
    (5:4:3:2:1 over five sources; everything else weight 0 and
    excluded). Same deterministic md5-Bernoulli keep decision, so the
    summary is bit-stable across engines and cluster sizes."""
    sampled = text.mixture_sample(
        _t(spark, sf_dir, "documents"),
        budget_tokens=60_000,
        weights=MIXTURE_WEIGHTS,
    )
    return (
        sampled.groupBy("source", "keep_thresh")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("source")
    )


def q_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-batch pipeline — the north-star composition:
    corpus funnel (quality gate -> exact dedup -> near-dup removal) ->
    context-window chunking (32 tokens, 8 overlap) -> sequence packing
    (512-token bins via the two-phase distributed prefix sum). Every
    stage is an already-oracle-checked operator; this row hash-checks
    their COMPOSITION, so a survivor-set, chunk-boundary, or offset
    regression anywhere in the chain surfaces here even if each unit row
    stays green. chunk_key = doc_id*1000 + chunk_id (chunk counts are
     3 digits at these chunk sizes)."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    corpus = corpus_prep(
        _t(spark, sf_dir, "documents"), min_quality=0.7, jaccard_threshold=0.5,
        sketch=_doc_sketch(spark, sf_dir),
    )
    # sort=False + an EAGER localCheckpoint: the packer's plan references
    # the chunk stream in multiple subtrees (in-bucket windows, bucket
    # totals, offsets join), and within one job those subtrees race to
    # populate a lazy cache — each re-executing the whole funnel
    # (measured 34 s vs ~15 s single-pass at sf0.1). Checkpointing the
    # chunk-key frame (tiny: two columns, chunk-count rows) runs the
    # funnel exactly once and truncates its lineage out of pack's plan;
    # the checkpoint blocks are GC'd with the returned frame.
    chunks = text.chunk_documents(corpus, max_tokens=32, overlap=8, sort=False)
    keyed = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("chunk_key"),
        "chunk_text",
    )
    keyed = _ckpt(keyed)
    return text.pack_offsets(
        keyed, seq_len=512, id_col="chunk_key", text_col="chunk_text"
    ).withColumnRenamed("doc_id", "chunk_key")


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-stage training-data composition — the full pre-training intake:
    corpus funnel (quality gate -> exact dedup -> near-dup removal) ->
    eval-set decontamination (8-gram overlap vs the every-50th-doc
    benchmark slice, broadcast digest join) -> weighted token-budget
    mixture sampling (5:4:3:2:1 over a 500-token budget). A 0.5 quality
    gate (vs corpus_prep's 0.7) keeps all five weighted sources populated
    on the fixture so every stage does real work; the tight budget makes
    the heaviest source genuinely downsample. The per-source keep
    thresholds depend on the CLEAN corpus's token totals, so a
    survivor-set or contamination regression anywhere upstream shifts the
    realized rates and hash-mismatches here even if each unit row stays
    green. localCheckpoint: the corpus feeds three plan subtrees
    (decontamination's gram/total sides + the survivor join) which would
    otherwise each re-run the funnel (the q_training_batches lesson).
    Checkpoint FIRST, then project: corpus_prep ties its internal cache
    releases to its returned frame's lifetime, so `.select()` before the
    checkpoint would drop the only reference and release the funnel
    caches mid-materialization — measured 39 s vs 4 s at sf0.1."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    docs = _t(spark, sf_dir, "documents")
    funnel = corpus_prep(
        docs, min_quality=0.5, jaccard_threshold=0.5,
        sketch=_doc_sketch(spark, sf_dir),
    )
    corpus = _ckpt(funnel).select("doc_id", "text", "source")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    clean_ids = (
        text.decontaminate(corpus, benchmark, n=8)
        .filter(~F.col("is_contaminated"))
        .select("doc_id")
    )
    clean = corpus.join(clean_ids, "doc_id", "left_semi")
    sampled = text.mixture_sample(
        clean, budget_tokens=500, weights=MIXTURE_WEIGHTS
    )
    return (
        sampled.groupBy("source", "keep_thresh")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("source")
    )


def q_recipe_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage training_mix composition expressed as DATA — a
    declarative recipe (plans/recipe.py training_mix_recipe) instead of
    hand-built DataFrame code. Shares q_training_mix's oracle, so the
    interpreter is pinned to produce value-identical results to the
    imperative form — the governance story: the full training-data
    intake is a reviewable, diffable dict. Hash-equality with
    q_training_mix is also pinned in tests/test_recipe.py. The shared
    token-sketch artifact slots in as a frame_arg when built (bench
    path); absent, the funnel tokenizes inline (driver path) — values
    identical either way (test_precomputed_sketch_matches_inline)."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.recipe import (
        run_recipe,
        training_mix_recipe,
    )

    sketch_path = (
        os.path.join(_toksketch_dir(sf_dir), "sketch")
        if _doc_sketch(spark, sf_dir) is not None
        else None
    )
    recipe = training_mix_recipe(
        sf_dir, MIXTURE_WEIGHTS, sketch_path=sketch_path
    )
    return run_recipe(spark, recipe, execute_outputs=False)["rtm_mix"]


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three modalities end-to-end over the deterministic synthetic
    media table (sources/media_synth.py: real PNG / PCM16 WAV / BI_RGB
    AVI payloads, LCG content): image_features + audio_features +
    sample_video_frames run their Arrow-batched mapInPandas decoders and
    the result rolls up per modality. Rows-only at the driver — testdata
    ships no media table and DuckDB has no codecs; pixel/sample
    correctness is pinned by the golden decode tests
    (tests/test_sources_multimodal_streaming.py)."""
    from lab_etl_batch_data_processing_pipeline__spark.sources import media_synth

    # content is seed-deterministic, so the cache never goes stale
    media_dir = _art.materialize(
        _art.cache_dir("media", "v1-n40"),
        lambda tmp: media_synth.synthetic_media(
            spark, n_per_modality=40
        ).write.parquet(tmp),
    )
    media = spark.read.parquet(media_dir).repartition(4)
    base = media.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.length("payload")).alias("payload_bytes"),
    )
    feats = (
        multimodal.image_features(media)
        .select(
            F.lit("image").alias("modality"),
            F.col("mean_intensity").alias("signal"),
        )
        .unionByName(
            multimodal.audio_features(media).select(
                F.lit("audio").alias("modality"),
                F.col("rms_level").alias("signal"),
            )
        )
        .unionByName(
            multimodal.sample_video_frames(media, every_nth=2, max_frames=3).select(
                F.lit("video").alias("modality"),
                F.col("frame_mean").alias("signal"),
            )
        )
    )
    rollup = feats.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_feature_rows"),
        F.round(F.avg("signal"), 6).alias("avg_signal"),
    )
    return base.join(rollup, "modality").orderBy("modality")


def q_parquet_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-upsert round-trip (sources.writers.upsert_parquet): write
    orders month-partitioned, upsert a batch that bumps 1995-03 prices
    by 10% (exact decimal arithmetic), read the dataset back and roll it
    up per month. The DuckDB oracle computes the post-upsert state
    straight from the base table, so a merge bug — lost update, replay
    duplication, wrong-partition rewrite — hash-mismatches. Cached per
    testdata generation (artifacts.materialize); the upsert itself is
    replay-idempotent (pinned in tests)."""
    from lab_etl_batch_data_processing_pipeline__spark.sources.writers import (
        upsert_parquet,
    )


    def build(tmp: str) -> None:
        base = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("amount"),
            F.lit(0).alias("version"),
        )
        upsert_parquet(
            spark, tmp, base, ["o_orderkey"], "version",
            partition_by=["order_month"],
        )
        updates = base.filter(F.col("order_month") == "1995-03").select(
            "o_orderkey",
            "order_month",
            (F.col("amount") * F.lit("1.10").cast("decimal(3,2)"))
            .cast("decimal(18,4)")
            .alias("amount"),
            F.lit(1).alias("version"),
        )
        upsert_parquet(
            spark, tmp, updates, ["o_orderkey"], "version",
            partition_by=["order_month"],
        )

    ds_dir = _art.materialize(_art.cache_dir("upsert", _gen_tag(sf_dir)), build)
    return (
        spark.read.parquet(ds_dir)
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("amount"), 2).cast("double").alias("revenue"),
        )
        .orderBy("order_month")
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (text.chunk_documents): 32-token windows,
    8-token overlap — the corpus-to-batch step RAG indexes and
    context-bounded training consume. Map-only with one Generate;
    fan-out bounded at ceil(n/stride) rows per doc."""
    return text.chunk_documents(
        _t(spark, sf_dir, "documents"), max_tokens=32, overlap=8
    )


def q_doc_tokens_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token accounting: word tokens + symbol tokens per document
    (regex split, the standard cheap token-count proxy)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.col("text"), F.lit(r"\w+"), 0)
    syms = F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0)
    return docs.select(
        "doc_id",
        F.size(words).alias("n_word_tokens"),
        F.size(syms).alias("n_symbol_tokens"),
        (F.size(words) + F.size(syms)).alias("approx_tokens"),
    )


# Build parameters for the benched IVF index; part of the cache tag so a
# parameter change invalidates the materialized artifact.
_IVF_PARAMS = _art._IVF_PARAMS
_PQ_PARAMS = _art._PQ_PARAMS
_IVFPQ_PARAMS = _art._IVFPQ_PARAMS
_ivf_index_dir = _art._ivf_index_dir
_pq_index_dir = _art._pq_index_dir
_ivfpq_index_dir = _art._ivfpq_index_dir
_gen_tag = _art._gen_tag
_TOKSKETCH_LB = _art._TOKSKETCH_LB
_MINHASH_SIG_VARIANTS = _art._MINHASH_SIG_VARIANTS
_toksketch_dir = _art._toksketch_dir
_minhash_sig_dir = _art._minhash_sig_dir
_doc_sketch = _art._doc_sketch
_doc_sigs = _art._doc_sigs
sweep_stale_caches = _art.sweep_stale_caches


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 source-layer parity, end-to-end: write a CSV copy of supplier
    (cached per testdata generation), read it back through the engine's
    schema'd CSV reader, and hash-match the parquet truth (the DuckDB
    oracle reads the parquet directly). Exercises header handling,
    quoting, and declared-schema parsing including exact double
    round-trips of s_acctbal."""
    pq = _t(spark, sf_dir, "supplier")
    csv_dir = _art.materialize(
        _art.cache_dir("csv", _gen_tag(sf_dir, "supplier.parquet")),
        lambda tmp: pq.write.option("header", "true").csv(tmp),
    )
    return read_csv(spark, csv_dir, pq.schema, header=True).orderBy("s_suppkey")


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink parity, end-to-end (Spark 4 NATIVE xml data
    source — no external spark-xml): write an XML copy of supplier
    (cached per generation like csv_roundtrip), read
    it back through the engine's schema'd XML reader, and hash-match
    the parquet truth — covers the interchange format regulated
    estates still mandate, including exact double round-trips of
    s_acctbal through XML text."""
    from lab_etl_batch_data_processing_pipeline__spark.sources import (
        read_xml,
        write_xml,
    )

    pq = _t(spark, sf_dir, "supplier")
    xml_dir = _art.materialize(
        _art.cache_dir("xml", _gen_tag(sf_dir, "supplier.parquet")),
        lambda tmp: write_xml(pq, tmp, row_tag="supplier", root_tag="suppliers"),
    )
    return read_xml(
        spark, xml_dir, row_tag="supplier", schema=pq.schema
    ).orderBy("s_suppkey")


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-interchange round-trip: export documents as JSON-Lines (the
    format every public LLM corpus ships in), read it back through the
    engine's schema'd JSONL reader, and hash-match the parquet truth —
    exercises JSON string escaping (newlines, quotes, unicode) through a
    full write→read cycle. Cached per testdata generation like
    csv_roundtrip."""
    from lab_etl_batch_data_processing_pipeline__spark.sources import (
        read_jsonl,
        write_jsonl,
    )

    pq = _t(spark, sf_dir, "documents")
    jl_dir = _art.materialize(
        _art.cache_dir("jsonl", _gen_tag(sf_dir, "documents.parquet")),
        lambda tmp: write_jsonl(pq, tmp),
    )
    return read_jsonl(spark, jl_dir, pq.schema).orderBy("doc_id")


def q_curated_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-layer partition pruning, end-to-end and driver-checked:
    write the curated join parquet partitioned by order month (the
    SCALE.md curated layout — writers.write_parquet partition_by), read
    it back through a month predicate Spark satisfies by directory
    pruning (PartitionFilters + a DPP case are pinned in
    tests/test_plans.py), and aggregate the slice. The DuckDB oracle
    computes the same month straight from the base tables, so a pruning
    bug that drops or duplicates a partition hash-mismatches. The write
    is cached per testdata generation (artifacts.materialize)."""
    from lab_etl_batch_data_processing_pipeline__spark.sources import write_parquet

    def build(tmp: str) -> None:
        curated = q_curated_join(spark, sf_dir).withColumn(
            "order_month", F.date_format("order_date", "yyyy-MM")
        )
        write_parquet(curated, tmp, partition_by=["order_month"])

    out_dir = _art.materialize(_art.cache_dir("curated", _gen_tag(sf_dir)), build)
    sliced = spark.read.parquet(out_dir).filter(F.col("order_month") == "1995-03")
    return (
        sliced.groupBy("order_status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("total_price").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
            F.countDistinct("customer_id").alias("n_customers"),
        )
        .orderBy("order_status")
    )


def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S4 end-to-end: write supplier to embedded Derby through the
    engine's JDBC sink, read it back through the *partitioned* JDBC scan
    (4 bound-split tasks, the at-scale read shape — helper_func.py:36-63
    is the reference's single-connection equivalent), and hash-match the
    parquet truth. Derby ships on Spark's classpath, so this is a real
    database round-trip with zero external services."""
    from lab_etl_batch_data_processing_pipeline__spark.sources import (
        read_jdbc,
        write_jdbc,
    )

    pq = _t(spark, sf_dir, "supplier")
    tag = os.path.basename(os.path.normpath(sf_dir))
    # Embedded Derby allows ONE booted instance per database directory;
    # a pid-scoped path keeps concurrent harness processes (bench +
    # correctness gate) from colliding on the boot lock. Stale dirs from
    # dead processes are swept at startup (sweep_stale_caches).
    db = _art.cache_dir("derby", f"{tag}-{os.getpid()}", "db")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # Overwrite-write every run: the write path IS half the test, and the
    # table is dimension-sized (supplier ~ SF x 10k rows).
    write_jdbc(pq, url, "supplier_rt", mode="overwrite", properties=props)
    return read_jdbc(
        spark,
        url,
        "supplier_rt",
        properties=props,
        partition_column="s_suppkey",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=4,
    ).orderBy("s_suppkey")


def q_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 oracle row: dd/MM/yyyy strings (formatted from o_orderdate, with
    deliberately malformed rows injected every 97th key) parsed back to
    DateType via cleaning.normalize_dates. Proves the ANSI-safe
    try_to_date path — the reference's string-reformat approach
    (curated_tranformation.py:141-146) throws under Spark 4 ANSI mode on
    the malformed rows; here they become NULL (SURVEY.md §7.4 risk 1)."""
    orders = _t(spark, sf_dir, "orders")
    raw = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("31/02/2024 oops"))
        .otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
        .alias("booking_date"),
    )
    return cleaning.normalize_dates(raw, ["booking_date"]).orderBy("o_orderkey")


def q_currency_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+J1+P3 end-to-end: the literal in-memory rates dimension
    (sources.memory_table, curated_tranformation.py:121-125) broadcast-
    joined onto orders with a derived USD amount. Per-row IEEE double
    multiply — no aggregation — so the values are bit-identical across
    engines without rounding tricks."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import enrich

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.element_at(
            F.array(F.lit("USD"), F.lit("EUR"), F.lit("INR")),
            (F.col("o_custkey") % 3).cast("int") + 1,
        ).alias("currency"),
        F.col("o_totalprice").alias("amount"),
    )
    rates = enrich.default_exchange_rates(spark)
    return enrich.convert_currency(orders, rates, "amount", "amount_usd").orderBy(
        "o_orderkey"
    )


def q_csv_single_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 sink parity: a presentation-layer summary (3 rows) written
    through write_csv_single_file (the explicit coalesce(1) opt-in the
    reference hard-codes for every output, helper_func.py:31) and read
    back through the schema'd CSV reader; the oracle recomputes the
    summary from the source directly."""
    from pyspark.sql import types as T

    from lab_etl_batch_data_processing_pipeline__spark.sources import (
        write_csv_single_file,
    )

    orders = _t(spark, sf_dir, "orders")
    summary = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )
    out_dir = _art.cache_dir("csv_single", os.path.basename(os.path.normpath(sf_dir)))
    write_csv_single_file(summary, out_dir)
    schema = T.StructType(
        [
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("revenue", T.DoubleType()),
        ]
    )
    return read_csv(spark, out_dir, schema, header=True).orderBy("o_orderstatus")


def q_metric_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: one metric (M5) computed through the temp-view + spark.sql
    entry form the reference uses for its whole metric layer
    (present_summary.py:81-181). The DSL twin is bookings_per_user; this
    row pins the SQL-text path with its own oracle."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import metrics_sql

    curated = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.when(F.col("o_orderstatus") == "F", F.lit("confirmed"))
        .otherwise(F.lit("other"))
        .alias("booking_status"),
    )
    return metrics_sql.run_metric_sql(spark, "total_bookings_per_user", curated)


# Monotonic suffix for memory-sink table names: one streaming query per
# (process, invocation) — repeat calls (bench warmup + timed run) must not
# collide on the sink name or a still-registered temp view.
def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with the normalized
    event-time column. Streaming readers cannot infer schemas; borrow
    the batch reader's. The file-stream source requires a directory
    path (it derives basePath from the path itself, so a bare file is
    rejected): stream the containing dir, select the table via
    pathGlobFilter."""
    batch = _t(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return stream.withColumn("ts_utc", ensure_timestamp(stream, "ts"))


def q_streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 driver-checked streaming row: a REAL Structured Streaming job —
    file source -> watermark -> event-time tumbling window aggregate ->
    memory sink, availableNow trigger — over the events table, returning
    the sink table. Complete output mode evicts nothing, so a bounded
    replay equals the batch aggregate exactly and the DuckDB twin is a
    plain epoch-floor GROUP BY: streaming gets a value-hash oracle, not a
    rows-only check. Append-mode lateness/eviction semantics are pinned
    separately in tests (test_sources_multimodal_streaming.py). At scale
    the memory sink is the verification vehicle only — production lands
    in a kafka/parquet sink; the aggregate itself (the part that carries
    state) is identical.
    """
    from lab_etl_batch_data_processing_pipeline__spark.streaming import (
        replay_to_memory,
        streaming_event_type_counts,
    )

    agg = streaming_event_type_counts(_events_stream(spark, sf_dir), ts_col="ts_utc")
    # replay_to_memory keeps only the newest sink registered: a long bench
    # session invokes this repeatedly (warmup + timed), and complete-mode
    # memory sinks hold their full contents on the driver until dropped.
    return replay_to_memory(agg, "stream_event_counts", "complete").orderBy(
        "window_start_sec", "event_type"
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming SESSION windows, oracle-checked: file source ->
    watermark -> F.session_window stateful aggregate (open sessions
    merge in the state store) -> memory sink, availableNow. Complete
    output mode evicts nothing, so the bounded replay equals the batch
    gap-sessionization exactly — the same LAG-flag SQL oracle that pins
    the batch session_window_rollup row (12 h gap), making Spark's
    streaming session-state machinery value-hash-checked, not
    rows-only. Append-mode closure/eviction is the production form;
    complete is the verification vehicle (see
    streaming_session_windows docstring for the mode contract)."""
    from lab_etl_batch_data_processing_pipeline__spark.streaming import (
        replay_to_memory,
        streaming_session_windows,
    )

    sess = streaming_session_windows(
        _events_stream(spark, sf_dir), "ts_utc", gap="12 hours"
    )
    return (
        replay_to_memory(sess, "stream_sessions", "complete")
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming exact dedup, oracle-checked: file source ->
    watermark -> ``dropDuplicates`` on (user_id, event_type) in exact
    mode (state = one entry per distinct key; the bounded-state
    ``within_watermark=True`` form is the unbounded-stream variant, see
    streaming_dedup's docstring) -> memory sink, availableNow.
    Projecting ONLY
    the dedup-key columns before the sink removes the one
    nondeterminism ``dropDuplicates`` has (which payload row survives
    per key); the surviving key set equals batch DISTINCT no matter how
    the bounded replay slices into micro-batches — state carries seen
    keys across batches, and nothing arrives late relative to a
    watermark learned inside the same run. Collapsed per event_type,
    the row equals DuckDB's COUNT(DISTINCT user_id) GROUP BY
    event_type. Micro-batch/state semantics of the same operator are
    pinned in test_streaming_dedup (two-batch replay over one
    checkpoint)."""
    from lab_etl_batch_data_processing_pipeline__spark.streaming import (
        replay_to_memory,
        streaming_dedup,
    )

    deduped = streaming_dedup(
        _events_stream(spark, sf_dir).select("user_id", "event_type", "ts_utc"),
        ["user_id", "event_type"],
        "ts_utc",
    ).select("user_id", "event_type")
    return (
        replay_to_memory(deduped, "stream_dedup", "append")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
        .orderBy("event_type")
    )


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 STREAM-STREAM interval join, oracle-checked: clicks and
    purchases stream separately (two file sources over the same events
    table), both watermarked, joined on user within a 1-hour
    attribution range — the time bound is what lets Spark expire
    buffered rows and run unbounded streams in bounded state. A bounded
    availableNow replay processes each side in one batch, so no row is
    ever late relative to a watermark learned in the same run and the
    pair set equals the batch interval join exactly — DuckDB's plain
    range-predicate join is the value-hash twin. The fourth streaming
    modality with an oracle row (windowed agg, session windows, dedup,
    now stream-stream join)."""
    from lab_etl_batch_data_processing_pipeline__spark.streaming import (
        replay_to_memory,
        streaming_click_attribution,
    )

    clicks = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    attributed = streaming_click_attribution(
        clicks, purchases, ts_col="ts_utc",
        attribution_window="1 hour", watermark_delay="1 hour",
    )
    return (
        # state_partitions=8: the interval join keeps FOUR state stores
        # per shuffle partition and the replay's state volume is tiny —
        # 32 batch-width partitions paid ~6.6 s of pure store-commit
        # overhead (receipt in replay_to_memory's docstring + SCALE.md)
        replay_to_memory(
            attributed, "stream_attribution", "append", state_partitions=8
        )
        .select(
            "user_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
        )
        .orderBy("user_id", "click_us", "purchase_us")
    )


def q_streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 CUSTOM stateful streaming operator, oracle-checked: file
    source -> ``applyInPandasWithState`` running per-user event totals
    (streaming/jobs.py streaming_user_totals: Arrow-batched, one long of
    state per user, update output mode) -> memory sink, availableNow.
    The counter is monotone, so the FINAL total per user is
    max(total_events) over the update stream no matter how the bounded
    replay slices into micro-batches — which is what makes a custom
    state-store operator value-hash checkable against DuckDB's plain
    GROUP BY count. Restart/checkpoint semantics of the same operator
    are pinned in tests (test_stateful_streaming_totals_survive_restart).
    At scale: state is hash-partitioned by user across executors and one
    long per key, so the state store stays tiny at billions of users."""
    from lab_etl_batch_data_processing_pipeline__spark.streaming import (
        replay_to_memory,
        streaming_user_totals,
    )

    totals = streaming_user_totals(
        _events_stream(spark, sf_dir).drop("ts_utc"), user_col="user_id"
    )
    return (
        # state_partitions=8: one state store (and one Python
        # state-server round) per shuffle partition per micro-batch —
        # state volume here is ~1.5k longs, so 32 CPU-width stores are
        # pure commit overhead (the replay_to_memory attribution
        # precedent: 9.6 s -> 3.0 s; this row measured 18.9 s -> ~2 s
        # in-bench once the store count tracks state volume)
        replay_to_memory(totals, "stream_user_totals", "update",
                         state_partitions=8)
        .groupBy("user_id")
        .agg(F.max("total_events").alias("n_events"))
        .orderBy("user_id")
    )


prebuild_indexes = _art.prebuild_indexes


def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k against a materialized inverted file
    (built on first call, probe-only afterwards). The coarse quantizer
    is the deterministic exact-integer Lloyd since r10
    (similarity.build_ivf_index), so the DuckDB twin replicates
    the WHOLE path — normalization fix-point, 4 unrolled Lloyd rounds,
    cell assignment, centroid ranking, in-cell exact cosine — and the
    probe output is value-hash checked (r9 verdict task 4); recall
    stays pinned by ann_ivf_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_ivf(
        emb, _query_vectors(emb), k=5, nlist=8, nprobe=3,
        index_dir=_ivf_index_dir(sf_dir),
    )


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving value over the trailing 8
    events (windows.ewma): power-of-two weights + fixed-point values
    make num/den exact BIGINTs on any engine, ewma_ppm a floor of one
    deterministic double divide. Events carry no NULL values in this
    corpus; under NULLs the engine's collect_list would shrink the
    frame where the oracle's list() keeps slots (documented operator
    precondition)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    ev = _events_ts(spark, sf_dir)
    return (
        windows.ewma(ev, "user_id", ["ts_utc", "event_id"], "value")
        .select(
            "user_id", "event_id", "n_in_window",
            "ewma_num", "ewma_den", "ewma_ppm",
        )
        .orderBy("user_id", "event_id")
    )


def q_customer_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join (operators/geo.py): grid-cell blocking
    (recall exactly 1.0 — geometry, not hashing) + exact integer
    microdegree verify, collapsed to the per-point neighbor degree
    (848 K pairs at sf0.1 would be the quadratic-in-density list).
    Coordinates are derived deterministically from c_custkey (the
    testdata ships no geo columns; the reference stores lat/lon
    DecimalType(9,6) it never queries — this is the operator that
    would). The oracle is the BRUTE-FORCE O(n²) join: blocking must
    lose nothing, so brute force is the strictest possible twin."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import geo

    ck = F.col("c_custkey").cast("long")  # int32 * 104729 would overflow
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        (ck * 7919 % 5000000).alias("lat_udeg"),
        (ck * 104729 % 5000000).alias("lon_udeg"),
    )
    return geo.radius_degree(
        pts, "c_custkey", "lat_udeg", "lon_udeg", radius_udeg=250000
    )


def q_transaction_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank (graph.pagerank, 5 rounds,
    2^20 fixed point) over the bidirectional customer<->supplier
    co-transaction graph (distinct pairs via orders x lineitem; node id
    = 2*custkey / 2*suppkey+1 keeps the key spaces disjoint). Every
    step is truncating-BIGINT arithmetic, so an ITERATIVE algorithm
    gets a full value-hash oracle: DuckDB unrolls the same five rounds
    as chained CTEs and must match bit-for-bit."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.graph import (
        pagerank,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # One-pass symmetrize (the connected_components / transaction_reach
    # rule, guide §2.4): the old union-of-two-selects form executed the
    # lineitem x orders join subtree TWICE (Spark does not dedupe common
    # subtrees across union branches) plus a pre-union distinct — one
    # full extra fact-fact join and one extra shuffle inside pagerank's
    # static edge checkpoint job. explode(array(fwd, rev)) reads the
    # join output once; pagerank's own edge distinct canonicalizes the
    # set, so the final edge frame — and every rank — is identical
    # (distinct∘sym∘distinct == distinct∘sym).
    pairs = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("c"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return pagerank(edges, iterations=5).orderBy("node_id")


def q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, cents(value)) —
    the multi-dimensional layout key zorder_write sorts by before a
    columnar write so file min/max stats prune on either column (the
    write + footer-stats receipt is in SCALE.md; this row pins the bit
    interleave itself bit-for-bit against DuckDB)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.layout import (
        zorder_value,
    )

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_value(
            F.col("user_id"), F.round(F.col("value") * 100).cast("long")
        ).alias("zvalue"),
    ).orderBy("event_id")


def q_bloom_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join pruning gate (joins.bloom_filter_build /
    bloom_semi_filter): a 128 KiB bitmap over the filtered orders keys
    pre-filters lineitem before any join exchange — the classic 100 TB
    shuffle reduction. The gate pins the two properties that make the
    prune safe: NO false negatives (every exact-semi-join row passes
    the bloom), and the false-positive volume under the design bound
    (1% of the non-matching rows; theoretical rate at this key count is
    far lower). DuckDB recomputes the exact counts and emits TRUE for
    both booleans — a bloom regression (wrong hash, wrong bit math,
    dropped word) flips a boolean and the value hash."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.joins import (
        bloom_prune_gate,
    )

    li = _t(spark, sf_dir, "lineitem")
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
        .distinct()
    )
    return bloom_prune_gate(li, dim, "l_orderkey")


def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative order count + exact running spend."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    return windows.running_totals(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        ["o_orderdate", "o_orderkey"],
        "o_totalprice",
    )


def q_status_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value quartiles per status (exact linear interpolation —
    matches DuckDB quantile_cont bit-for-bit)."""
    orders = _t(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))")
    return (
        orders.groupBy("o_orderstatus")
        .agg(pct.alias("p"))
        .select(
            "o_orderstatus",
            F.element_at("p", 1).alias("p25"),
            F.element_at("p", 2).alias("p50"),
            F.element_at("p", 3).alias("p75"),
        )
        .orderBy("o_orderstatus")
    )


def q_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score normalization (window form; the
    applyInPandas twin is pinned against this in tests)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    return windows.zscore_normalize(
        _t(spark, sf_dir, "events"), "event_type", "value", ["event_id"]
    )


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: shared-fingerprint doc pairs double
    as a copy-span detector; md5-based so fully oracle-checkable."""
    fps = dedup_fuzzy.winnowing_fingerprints(
        _t(spark, sf_dir, "documents"), k=8, window=4
    )
    return (
        fps.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
        .orderBy("doc_id")
    )


def q_customers_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join coverage: per-segment counts of customers with and
    without any 'F' order (left_semi / left_anti against the same subquery)."""
    customer = _t(spark, sf_dir, "customer")
    confirmed = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
    )
    with_orders = (
        customer.join(confirmed, customer.c_custkey == confirmed.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_confirmed"))
    )
    without_orders = (
        customer.join(confirmed, customer.c_custkey == confirmed.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_confirmed"))
    )
    return (
        with_orders.join(without_orders, "c_mktsegment", "outer")
        .na.fill(0, ["n_with_confirmed", "n_without_confirmed"])
        .orderBy("c_mktsegment")
    )


def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (the reference's unfinished validation TODO,
    helper_func.py:50-51, done for real): per-column rows/nulls/distincts
    in one unpivot + single hash aggregate."""
    return cleaning.profile_columns(_t(spark, sf_dir, "orders"))


def q_brand_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (INTERSECT / EXCEPT, distinct semantics): brands of
    large parts vs premium parts, tagged by membership."""
    part = _t(spark, sf_dir, "part")
    large = part.filter(F.col("p_size") >= 30).select("p_brand").distinct()
    premium = (
        part.filter(F.col("p_retailprice") >= 1400.0).select("p_brand").distinct()
    )
    tag = lambda df, m: df.select(F.lit(m).alias("membership"), "p_brand")  # noqa: E731
    return (
        tag(large.intersect(premium), "both")
        .unionAll(tag(large.subtract(premium), "large_only"))
        .unionAll(tag(premium.subtract(large), "premium_only"))
        .orderBy("membership", "p_brand")
    )


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (year, status) + grouping_id: all 4 grouping sets in one
    shuffle (Catalyst expand), decimal-exact revenue."""
    orders = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").alias("yr")
    return (
        orders.cube(yr, F.col("o_orderstatus").alias("status"))
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(
            F.col("gid"), F.col("yr").asc_nulls_first(), F.col("status").asc_nulls_first()
        )
    )


def q_orders_shipped_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range join (bucketed): per order, lineitems shipped anywhere
    in [orderdate, orderdate+7d]. Right side pre-aggregated per day so the
    bucket join is vs ~|days| rows, not |lineitem| (ranges.py)."""
    daily = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("ship_day"))
        .agg(F.count(F.lit(1)).alias("n_ship"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("start_day"),
        F.date_add(F.to_date("o_orderdate"), 7).alias("end_day"),
    )
    joined = ranges.date_range_join(
        orders, daily, "start_day", "end_day", "ship_day", how="left"
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.coalesce(F.sum("n_ship"), F.lit(0)).alias("n_shipped"))
        .orderBy("o_orderkey")
    )


def q_nation_top_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax (max_by with struct tiebreak): richest customer per nation,
    deterministic under balance ties."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.expr("max_by(c_custkey, struct(c_acctbal, c_custkey))").alias(
                "top_custkey"
            ),
            F.max("c_acctbal").alias("top_acctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_acctbal_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles of customers by balance within segment; averages
    via decimal sums so parallel merge order can't flip low bits.
    r17 rewrite: the quartile comes from windows.rank_stats' two-phase
    distributed rank instead of a 5-way Window.partitionBy(segment) —
    one window task per market segment would funnel 20 % of all
    customers each at 100 TB; values are bit-identical (rank is a pure
    function of the (c_acctbal, c_custkey) total order)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows as _w

    return (
        _w.rank_stats(
            _t(spark, sf_dir, "customer").select(
                "c_mktsegment", "c_acctbal", "c_custkey"
            ),
            "c_mktsegment",
            ["c_acctbal", "c_custkey"],
            n_tiles=4,
        )
        .select(
            "c_mktsegment",
            F.col("bucket").alias("quartile"),
            F.col("c_acctbal").cast("decimal(18,4)").alias("_bal"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("_bal").cast("double") / F.count(F.lit(1))).alias("avg_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


def q_nation_custkey_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per nation, the 5 smallest customer keys as a
    sorted array (collect_list -> array_sort -> slice; sort makes the
    nondeterministic collect order irrelevant). Serialized to a CSV string
    for the driver compare (array cells are unhashable to its
    canonicalizer); integer rendering is engine-independent."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.array_sort(F.collect_list("c_custkey")), 1, 5),
                    lambda k: k.cast("string"),
                ),
            ).alias("first_custkeys"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("c_nationkey")
    )


def q_orders_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar breadth: order volume and decimal-exact average price per
    weekday (Spark dayofweek is Sunday=1; DuckDB's is Sunday=0)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.dayofweek("o_orderdate").alias("weekday"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_price"),
        )
        .orderBy("weekday")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the classic wide-aggregate scan
    (8 aggregates, 2 group keys, pushed-down date filter). Money sums in
    DECIMAL(18,4) then rounded; averages as decimal-sum / count."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("2001-05-01").cast("date")
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    # Factors are exact 2dp values, so cast each BEFORE multiplying and
    # stay in decimal end-to-end. Casting the double triple-product to
    # decimal(18,4) instead hits genuine ..50 midpoints (the product has 6
    # decimal digits) where engines' tie-rounding diverges row by row.
    one = F.lit(1.0).cast("decimal(3,2)")
    p2 = F.col("l_extendedprice").cast("decimal(18,2)")
    d2 = F.col("l_discount").cast("decimal(4,2)")
    t2 = F.col("l_tax").cast("decimal(4,2)")
    disc_price = p2 * (one - d2)
    charge = p2 * (one - d2) * (one + t2)
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / n).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (rational idf, bit-exact ranking;
    ties break on the token string)."""
    from pyspark.sql import Window

    weights = text.tfidf(_t(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        weights.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", F.round("tfidf", 6).alias("tfidf"))
        .orderBy("doc_id", "rank")
    )


def q_corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment (md5-prefix ranges):
    per-(source, split) document counts prove stability and proportions."""
    assigned = text.split_assign(_t(spark, sf_dir, "documents"))
    return (
        assigned.groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type matrix via pivot (explicit value list so the
    plan is a single pass — pivot without values costs an extra distinct
    scan to discover columns)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
        .orderBy("user_id")
    )


def q_part_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long via Spark-native UNPIVOT (DataFrame.unpivot / melt):
    part's numeric attributes become (p_partkey, attr, val) rows — the
    inverse surface of events_pivot and the shape feeding generic
    per-attribute profiling (cleaning.profile_columns uses the same
    primitive internally). Map-only fan-out of rows x attrs; no shuffle
    until the terminal sort."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retailprice"),
        )
        .unpivot(["p_partkey"], ["size", "retailprice"], "attr", "val")
        .orderBy("p_partkey", "attr")
    )


def q_docs_per_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group quota sampling: first 3 docs per source by
    doc_id (the downsampling shape used for per-source corpus quotas —
    one shuffle on the quota key, early filter after the ranking window)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("source", "doc_id")
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates: duplicate-line and duplicate-n-gram
    fractions per document (map-only projection)."""
    return text.repetition_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: 8-gram overlap of every document against
    a 'benchmark' slice (every 50th doc), md5-digest equi-join with the
    benchmark side broadcast. n=8 (not the classic 13) because the
    fixture docs are short."""
    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return text.decontaminate(docs, benchmark, n=8).orderBy("doc_id")


def q_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing offsets over the md5-shuffled corpus: per document
    its global start offset on the token axis and its 2048-token training
    bin. The global running sum is a two-phase prefix sum (64-way bucket
    windows + broadcast bucket offsets, text.pack_offsets) — never a
    single-task global window; the oracle reproduces it with one
    SUM() OVER (ORDER BY ...), so every per-doc offset is hash-checked."""
    return text.pack_offsets(
        _t(spark, sf_dir, "documents"), seq_len=2048
    ).orderBy("doc_id")


def q_cardinality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality gate — the recall-gate pattern applied to sketches:
    per event_type, the exact distinct-user count plus a boolean asserting
    the HyperLogLog estimate (approx_count_distinct, rsd 5%) lands within
    3x rsd of exact. The sketch itself is engine-specific by design; the
    *invariant* is portable — DuckDB recomputes the exact side and asserts
    TRUE, so an HLL regression (parameter drift, wrong column) flips the
    value hash. At 100 TB the approx path is the profiling default
    (mergeable partials, no distinct shuffle); this row keeps it honest.
    Sketch mechanics (hll_sketch_agg partial merge) are pinned in
    tests/test_sketches.py."""
    agg = _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("__approx"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("__approx") - F.col("n_exact"))
            <= F.lit(0.15) * F.col("n_exact")
        ).alias("card_ok"),
    ).orderBy("event_type")


def q_heavy_hitters_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch gate — the recall-gate pattern applied to
    Spark 4's approx_top_k (DataSketches frequent-items): the EXACT
    top-5 corpus tokens (count desc, token tiebreak) each asserted
    present in the approx top-20. At 100 TB the sketch is the profiling
    default (mergeable partials, no full token shuffle for a dashboard
    top-N); this row keeps it honest the same way cardinality_gate pins
    HLL and quantile_gate pins approx_percentile. DuckDB recomputes the
    exact side and asserts TRUE."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("token")
        )
    )
    exact5 = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "token")
        .limit(5)
    )
    approx_items = (
        toks.agg(F.expr("approx_top_k(token, 20)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("token"))
    )
    return (
        exact5.join(
            approx_items.withColumn("__hit", F.lit(True)), "token", "left"
        )
        .select(
            "token",
            "n_exact",
            F.coalesce(F.col("__hit"), F.lit(False)).alias("hh_ok"),
        )
        .orderBy(F.col("n_exact").desc(), "token")
    )


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (the pre-training data-mixing step):
    equalize sources under a 60k-token global budget via deterministic
    md5-Bernoulli downsampling, reported as per-source kept docs/tokens
    plus the integer keep threshold (rate = keep_thresh/65536). Every
    decision is a pure projection on the doc id, so the sample — and
    this summary — is bit-stable across engines and cluster sizes."""
    sampled = text.mixture_sample(
        _t(spark, sf_dir, "documents"), budget_tokens=60_000
    )
    return (
        sampled.groupBy("source", "keep_thresh")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("source")
    )


def q_recipe_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative recipe runner in the oracle-checked surface
    (plans/recipe.py): a dict-defined pipeline — parquet sources, a
    keyed-dedup op step, a filter op step, a SQL aggregation step —
    interpreted into one Catalyst plan and hash-matched against DuckDB
    running the equivalent SQL directly. Proves the interpretation layer
    adds nothing and loses nothing; cross-step pushdown and sink
    execution are pinned in tests/test_recipe.py."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.recipe import run_recipe

    recipe = {
        "tables": {
            "r_orders": {"format": "parquet", "path": f"{sf_dir}/orders.parquet"},
            "r_customer": {
                "format": "parquet",
                "path": f"{sf_dir}/customer.parquet",
            },
        },
        "steps": [
            {
                "name": "r_deduped",
                "op": "dedup_by_keys",
                "input": "r_orders",
                "args": {"keys": ["o_orderkey"], "order_by": ["o_orderdate"]},
            },
            {
                "name": "r_confirmed",
                "op": "filter",
                "input": "r_deduped",
                "args": {"condition": "o_orderstatus = 'F'"},
            },
            {
                "name": "r_metric",
                "sql": """
                    SELECT c.c_mktsegment AS segment,
                           CAST(COUNT(*) AS BIGINT) AS n_orders,
                           CAST(ROUND(SUM(CAST(o.o_totalprice
                                              AS DECIMAL(18,4))), 2)
                                AS DOUBLE) AS revenue
                    FROM r_confirmed o JOIN r_customer c
                      ON o.o_custkey = c.c_custkey
                    GROUP BY 1 ORDER BY 1
                """,
            },
        ],
    }
    return run_recipe(spark, recipe, execute_outputs=False)["r_metric"]


def q_events_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event values resampled onto a 6-hour grid with
    forward-fill (windows.resample_ffill): last observation per tick
    (event_id tiebreak), gaps carry the last known value, leading gaps
    stay NULL. The gap-filling twin rolling_revenue_7d's RANGE frames
    deliberately aren't — dashboards/feature stores need "value as of
    every tick". Summarized per user (grid size, observed ticks, filled
    ticks, value checksum) so the driver row stays compact while every
    tick's fill decision feeds the hash."""
    ev = _events_ts(spark, sf_dir)
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    grid = windows.resample_ffill(
        ev, "user_id", "ts_utc", "value", interval_seconds=21_600,
        tiebreak_col="event_id",
    )
    return (
        grid.groupBy(F.col("key").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.col("is_observed").cast("long")).alias("n_observed"),
            F.sum(
                (~F.col("is_observed") & F.col("value").isNotNull()).cast("long")
            ).alias("n_filled"),
            # decimal accumulation: float SUM is order-dependent in the
            # low bits; rounding each tick to 3dp then summing exactly
            # makes the checksum partitioning-invariant
            F.sum(
                F.round(F.col("value"), 3).cast("decimal(18,3)")
            ).cast("double").alias("value_sum"),
        )
        .orderBy("user_id")
    )


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 12-bin histogram of o_totalprice
    (profiling.histogram): min/max pre-pass fixes the width, one hash
    aggregate on the bin index counts, empty bins emitted for stable
    plotting shape. DuckDB recomputes the identical binning."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    return profiling.histogram(_t(spark, sf_dir, "orders"), "o_totalprice", 12)


def q_tables_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content manifests (cleaning.table_manifest) for orders + supplier:
    order-independent BIT_XOR fold of 60-bit md5 row hashes plus row and
    null counts — the cross-engine "did the migration keep every row"
    fingerprint. XOR (not SUM) because Spark wraps 64-bit sums while
    DuckDB widens to HUGEINT; XOR is closed over bigint on both. The
    DuckDB oracle recomputes the digests byte-identically, so the row
    pins the whole manifest machinery, not just counts. Columns are
    int/string/date only (float-to-string formatting is engine-specific
    — documented restriction)."""
    orders = cleaning.table_manifest(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"],
        table_name="orders",
    )
    supplier = cleaning.table_manifest(
        _t(spark, sf_dir, "supplier"),
        ["s_suppkey", "s_name", "s_nationkey"],
        table_name="supplier",
    )
    return orders.unionByName(supplier).orderBy("table")


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFD bin-packing audit (text.pack_bins + pack_bins_summary):
    first-fit-decreasing packs docs into 256-token bins inside 8
    independent hash-bucket domains; the summary emits per-bucket
    (n_docs, total_tokens, bins_ok) where bins_ok is the any-fit
    packing invariant triple (no overfill, >= volume lower bound,
    <= the more-than-half-full upper bound). DuckDB recomputes the
    exact doc/token totals and asserts TRUE — a lost doc, overfilled
    bin, or fragmented packing hash-mismatches without the oracle
    replaying FFD. Waste-vs-pack_offsets and determinism pinned in
    tests/test_text_quality.py."""
    packed = text.pack_bins(
        _t(spark, sf_dir, "documents"), seq_len=256, num_buckets=8
    )
    return text.pack_bins_summary(packed, seq_len=256)


def q_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over orders (cleaning.
    expectation_report): not-null/unique keys, status domain, price
    range, date-format regex, and referential integrity to customer —
    all row-local rules fused into ONE aggregate pass, plus one groupBy
    (unique) and one broadcast anti-join (foreign key). The DuckDB twin
    recomputes every violation count, so a silently-weakened gate
    hash-mismatches."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return cleaning.expectation_report(
        orders,
        [
            {"name": "orderkey_not_null", "kind": "not_null", "column": "o_orderkey"},
            {"name": "orderkey_unique", "kind": "unique", "column": "o_orderkey"},
            {
                "name": "status_in_domain",
                "kind": "in_set",
                "column": "o_orderstatus",
                "values": ["F", "O", "P"],
            },
            {
                "name": "price_positive",
                "kind": "range",
                "column": "o_totalprice",
                "min": 0.0,
            },
            {
                "name": "priority_format",
                "kind": "regex",
                "column": "o_orderpriority",
                "pattern": "^[1-5]-[A-Z ]+$",
            },
            {
                "name": "custkey_references_customer",
                "kind": "foreign_key",
                "column": "o_custkey",
                "ref": "customer",
                "ref_column": "c_custkey",
            },
        ],
        ref_tables={"customer": customer},
    )


def q_char_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM familiarity over the corpus (text.
    char_lm_familiarity): self-trained conditional char probabilities,
    integer micro-prob accumulation (no order-dependent float sums), so
    the quality signal that separates prose from gibberish is fully
    hash-checkable against DuckDB. Discrimination behavior (English >>
    shuffled chars) is pinned in tests/test_text_quality.py."""
    return text.char_lm_familiarity(
        _t(spark, sf_dir, "documents"), n=3
    ).orderBy("doc_id")


def q_doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization pass (text.normalize_text): zero-width/
    control stripping, CRLF->LF, whitespace collapse, NFC composition
    (the one Arrow-batched pandas_udf step — Spark has no built-in
    normalizer). The fixture corpus is ASCII, so the value proven at the
    driver is that both engines agree the text survives the whole chain
    byte-exact with changed=false everywhere; non-ASCII behavior
    (decomposed accents, ZWSP, BEL, CRLF) is pinned by golden unit tests
    in tests/test_text_quality.py — the pii_scrub pattern."""
    return text.normalize_text(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction counts over the corpus (regexp projection; the
    fixture corpus is PII-free, so the value proven here is that both
    engines agree the counts are zero and the text survives byte-exact —
    synthetic-PII behavior is pinned in tests/test_text_quality.py)."""
    return text.pii_scrub(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-corpus funnel: quality gate -> exact dedup -> near-dup
    removal, oracle-checked end-to-end (plans/corpus.py)."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    return corpus_prep(
        _t(spark, sf_dir, "documents"), min_quality=0.7, jaccard_threshold=0.5,
        sketch=_doc_sketch(spark, sf_dir),
    )


def q_corpus_prep_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of the corpus funnel: same stages as corpus_prep
    plus the dense-corpus self-defense — a pre-flight exact count of the
    blocked-Jaccard verify pairs routes dense corpora through banded
    MinHash-LSH instead of the quadratic verify join (plans/corpus.py
    near_dup_route). The 1M budget routes the dense sf0.1 fixture
    (~4.8M candidate pairs) to MinHash while staying exact on sparse
    corpora. Value-hash oracled on BOTH branches (the routed path runs
    the md5 MinHash family, and the DuckDB twin replicates the routing
    count, the exact pair join AND the banded bucket-canonical dedup,
    picking the branch with the same 1M budget); the recall gate vs the
    exact funnel in tests/test_text_dedup.py still pins routed-path
    quality."""
    from lab_etl_batch_data_processing_pipeline__spark.plans.corpus import corpus_prep

    return corpus_prep(
        _t(spark, sf_dir, "documents"),
        min_quality=0.7,
        jaccard_threshold=0.5,
        near_dup_pair_budget=1_000_000,
        sketch=_doc_sketch(spark, sf_dir),
        sigs=_doc_sigs(spark, sf_dir, num_hashes=32, shingle_size=1),
    )


def q_customer_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-n stratified sample (cleaning.
    stratified_sample_exact): 10 customers per market segment ranked by
    md5 of the key — unlike sampleBy, per-stratum counts are exact, the
    draw is order/parallelism-independent, and the md5 ranking is
    engine-portable so the SAMPLE ITSELF hash-matches DuckDB row for
    row."""
    return cleaning.stratified_sample_exact(
        _t(spark, sf_dir, "customer"), ["c_mktsegment"], "c_custkey", 10
    ).orderBy("c_custkey")


def q_orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (scd.apply_changelog) — the MERGE-on-ingest
    semantic as one union + one key-hashed ranking window: a seq-1 batch
    updates every 4th order's status to 'X', a seq-2 batch deletes every
    6th order; highest sequence wins per key, deletes remove the key,
    untouched keys keep their snapshot row. Fully SQL-expressible, so
    the merged snapshot is hash-checked end-to-end."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    orders = _t(spark, sf_dir, "orders")
    upd = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("seq", F.lit(1))
        .withColumn("op", F.lit("U"))
    )
    dele = (
        orders.filter(F.col("o_orderkey") % 6 == 0)
        .withColumn("seq", F.lit(2))
        .withColumn("op", F.lit("D"))
    )
    return scd.apply_changelog(
        orders, upd.unionByName(dele), ["o_orderkey"], "seq"
    ).orderBy("o_orderkey")


def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.py): per-part fuzzy-match
    degree over blocked edit distance — blocks on (brand, name noun),
    verifies levenshtein <= 2 with the length prune and Spark's
    early-abandoning 3-arg levenshtein, and collapses to the
    entity-sized (p_partkey, n_matches, min_distance) report instead of
    the 220 k-pair list the sf0.1 fixture would produce. Edit distance
    is the same classic DP in both engines, so the degrees hash-match
    DuckDB exactly."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import linkage

    return linkage.fuzzy_match_degree(
        _t(spark, sf_dir, "part"),
        "p_partkey",
        "p_name",
        ["p_brand", F.element_at(F.split(F.col("p_name"), " "), 2)],
        max_distance=2,
    )


def q_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine (sources.read_csv_quarantine): a CSV
    copy of supplier plus three deliberately-broken lines (bad int, bad
    double, junk line) parsed in PERMISSIVE mode with corrupt-record
    capture. Returns good ∪ quarantined rows — quarantined rows keep
    their partially-parsed fields AND the raw line (raw_record) — so the
    oracle pins BOTH that no good row was lost or altered and that every
    bad line landed in quarantine with exactly the fields the parser
    could salvage. FAILFAST would kill the job; DROPMALFORMED would
    silently lose the three lines; this is the production contract."""
    pq = _t(spark, sf_dir, "supplier")

    def build(tmp: str) -> None:
        pq.write.option("header", "true").csv(tmp)
        # injected bad part file; first line is a header (header=true
        # skips the first line of EVERY part file)
        with open(os.path.join(tmp, "part-bad.csv"), "w") as fh:
            fh.write(
                "s_suppkey,s_name,s_nationkey,s_acctbal\n"
                "999901,Bad#1,notanint,5.5\n"
                "999903,Bad#3,7,notadouble\n"
                "garbage line without commas\n"
            )

    dir_ = _art.materialize(
        _art.cache_dir("csvq", _gen_tag(sf_dir, "supplier.parquet")), build
    )
    from lab_etl_batch_data_processing_pipeline__spark.sources import read_csv_quarantine

    good, bad = read_csv_quarantine(spark, dir_, pq.schema, header=True)
    both = good.withColumn("raw_record", F.lit(None).cast("string")).unionByName(
        bad.withColumnRenamed("_corrupt_record", "raw_record")
    )
    return both.orderBy(
        F.col("s_suppkey").asc_nulls_last(), F.col("raw_record").asc_nulls_first()
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-vs-corpus dedup (dedup_fuzzy.incremental_dedup) — the
    daily-ingest shape: every 10th doc plays the incoming batch, the
    rest the already-clean corpus; survivors are incoming docs that are
    neither exact-fingerprint nor Jaccard>=0.5 near duplicates of the
    corpus or of an earlier surviving batch doc. The pair space is
    strictly batch-sided (never corpus x corpus). Both stages replay
    exactly in DuckDB, so the full survivor set is hash-checked. Reads
    the shared token-sketch artifact when built; the % 10 predicate
    prunes it to each side without re-tokenizing. block_cap=200 splits
    the fixture's one degenerate ~300-doc block (boilerplate min-md5
    token) on the second-min token — the oracle reproduces the split
    exactly, so the capped survivor set is still value-hash-checked."""
    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    sk = _doc_sketch(spark, sf_dir)
    kwargs = {}
    if sk is not None:
        kwargs = {
            "existing_sketch": sk.filter(F.col("doc_id") % 10 != 0),
            "incoming_sketch": sk.filter(F.col("doc_id") % 10 == 0),
        }
    return dedup_fuzzy.incremental_dedup(
        existing, incoming, threshold=0.5, block_cap=200, **kwargs
    )


_quality_weights_dir = _art._quality_weights_dir
_QUALITY_LABEL_T = _art._QUALITY_LABEL_T
_quality_labels = _art._quality_labels


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality classifier (operators/quality.py): hashed
    char-trigram + one-hot length features, hard-sigmoid logistic
    regression trained fully in-Spark with exact integer arithmetic —
    bit-deterministic across reruns/partitionings, which is what lets
    this row be hash-gated at all. Weak labels = the heuristic
    quality_score >= 0.8 (the corpus's own quality-gate signal). Gate
    row per class: the DuckDB twin recomputes the label populations
    exactly and asserts acc_ok TRUE; measured per-class accuracy is
    0.93-0.99 across SFs vs the 0.8 floor, so a training or scoring
    regression flips a boolean and the value hash."""
    docs = _t(spark, sf_dir, "documents")
    labels = _quality_labels(docs)
    feats = quality.hashed_char_ngram_features(docs)
    wdir = _quality_weights_dir(sf_dir)
    wfile = os.path.join(wdir, "weights.json")
    if os.path.isfile(os.path.join(wdir, "_BUILT")):
        with open(wfile) as fh:
            weights = json.load(fh)
    else:
        weights = quality.train_quality_classifier(feats, labels)
    # LEFT join from labels so the denominator is ALL labeled docs, not
    # just featurizable ones: a doc whose normalized text is shorter
    # than the n-gram width yields no feature rows (score_quality
    # cannot score it) and counts as a miss here — the DuckDB twin's
    # n_docs is computed over all documents, so an inner join would
    # hash-mismatch the moment the regenerated corpus contains one
    # sub-3-char doc.
    scored = labels.join(
        quality.score_quality(feats, weights), "doc_id", "left"
    )
    per = (
        scored.groupBy(F.col("y").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("pred").cast("int") == F.col("y"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_ok"),
        )
        .select(
            "label",
            "n_docs",
            (F.col("n_ok") >= F.lit(0.8) * F.col("n_docs")).alias("acc_ok"),
        )
        .orderBy("label")
    )
    return per


def q_dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring-level duplicate spans (dedup_fuzzy.
    duplicate_spans) — the exact-substring dedup modality (Lee et al.
    2022) the doc-level family (exact/Jaccard/MinHash/SimHash) cannot
    express: verbatim repeated runs of >= 15 tokens across different
    docs, located by a sorted k-gram fingerprint join + gaps-and-islands
    run merge (no suffix array, no pair space). Keep-first semantics:
    the minimum-id doc owning a gram keeps it; every span row points at
    a removable copy. Fully deterministic md5 gram hashing, so the span
    set value-hash-matches the DuckDB window-function twin."""
    return dedup_fuzzy.duplicate_spans(
        _t(spark, sf_dir, "documents"), k=8, min_len=15
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned-text form of dup_span_report (dedup_fuzzy.
    remove_duplicate_spans): per doc, tokens covered by a qualifying
    cross-doc span are removed (the span's min-id home keeps its copy)
    and the whitespace-normalized cleaned text is emitted with
    before/removed/span counts — the full post-removal corpus is
    value-hash-checked, not just the accounting."""
    return dedup_fuzzy.remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), k=8, min_len=15
    )


def q_tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-3 neighbors per document (text.
    tfidf_cosine_topk): similarity WITHOUT embeddings via the inverted-
    index token join, frequency-pruned vocabulary, and 2^-20 fixed-point
    integer dot/norm sums — fully order-invariant, so the whole sparse
    similarity join hash-matches DuckDB."""
    return text.tfidf_cosine_topk(_t(spark, sf_dir, "documents"), k=3)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink parity, end-to-end: write an ORC copy of part
    (cached per testdata generation like csv_roundtrip),
    read it back through the engine's ORC reader, and hash-match the
    parquet truth — covers the second big columnar interchange format
    (Hive-lineage estates) through a full write→scan cycle including
    exact double round-trips of p_retailprice."""
    from lab_etl_batch_data_processing_pipeline__spark.sources import read_orc, write_orc

    pq = _t(spark, sf_dir, "part")
    orc_dir = _art.materialize(
        _art.cache_dir("orc", _gen_tag(sf_dir, "part.parquet")),
        lambda tmp: write_orc(pq, tmp),
    )
    return read_orc(spark, orc_dir).orderBy("p_partkey")


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (cleaning.snapshot_diff) — the change-audit
    primitive between two loads: which keys were added, removed, or
    changed. Two deterministic slices of orders simulate consecutive
    snapshots (old = keys not divisible by 3; new = keys not divisible
    by 5, with every 7th key's status flipped), so the full-outer
    classification — including the null-safe changed test — is
    SQL-expressible and hash-checked. One shuffle per side on the key;
    the hash_compare=True form (8-byte row digests instead of full rows
    in the shuffle) is pinned equal in tests/test_cleaning.py."""
    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 3 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return cleaning.snapshot_diff(
        old, new, ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_totalprice"],
    ).orderBy("o_orderkey")


def q_hll_union_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch-MERGE gate — the property cardinality_gate does not
    cover: distributed partial sketches (hll_sketch_agg per event_type,
    DataSketches HLL) union-merged WITHOUT touching raw data
    (hll_union_agg) into the overall distinct-user estimate. This is the
    reaggregation story at 100 TB: per-partition/per-day sketches are
    tiny mergeable state, so rollups across any dimension slice never
    re-scan events. Exact counts are hash-checked; each estimate
    asserts within 5% of exact (lgConfigK=12 → rsd ≈1.6%, and
    DataSketches is exact in sparse mode at fixture cardinalities) — a
    sketch/merge regression flips a boolean and the value hash."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.hll_sketch_agg("user_id").alias("__sk"),
    )
    gate = (
        lambda est, exact: F.abs(est - exact) <= F.lit(0.05) * exact
    )
    per_rows = per.select(
        F.col("event_type").alias("scope"),
        "n_exact",
        gate(F.hll_sketch_estimate("__sk"), F.col("n_exact")).alias("hll_ok"),
    )
    merged = per.agg(F.hll_union_agg("__sk").alias("__msk")).select(
        F.hll_sketch_estimate("__msk").alias("__est")
    )
    overall = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    all_row = overall.crossJoin(F.broadcast(merged)).select(
        F.lit("ALL").alias("scope"),
        "n_exact",
        gate(F.col("__est"), F.col("n_exact")).alias("hll_ok"),
    )
    return per_rows.unionByName(all_row).orderBy("scope")


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase pairs (joins.basket_pairs): parts
    appearing together in >= 2 orders, the frequent-2-itemset layer of
    association mining. Self-join strictly WITHIN baskets (order key
    equi-join + item <), so the pair space is sum C(order_size, 2) —
    bounded by the per-order line cap, never corpus x corpus; support
    counts map-side combine. Full deterministic pair set (support
    desc, then the pair), value-hash-checked."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import joins

    return joins.basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2,
    ).orderBy(F.col("n_baskets").desc(), "item_a", "item_b")


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item triangle participation in the co-purchase graph
    (graph.triangle_counts over joins.basket_pairs edges): items whose
    co-buy neighborhoods close into 3-cliques — the community-density
    signal behind 'frequently bought together' bundles. Degree-ordered
    orientation (Suri-Vassilvitskii) bounds the wedge fan-out at
    O(m^1.5) and makes hub items wedge DESTINATIONS, never apexes —
    the 'curse of the last reducer' fix. The oracle enumerates the
    SAME triangle set id-ordered (per-node counts are orientation-
    independent), so the hash pins the result, not the plan."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph, joins

    edges = joins.basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2,
    )
    return (
        graph.triangle_counts(edges, "item_a", "item_b")
        .select(F.col("node").alias("item"), "n_triangles")
        .orderBy("item")
    )


def q_user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-WEIGHTED average event value
    (windows.time_weighted_avg): each observation weighs its holding
    time until the next — the TWAP statistic bursty sampling breaks
    plain AVG on. Exact across engines: unix-microsecond BIGINT
    timestamps (no float epoch), millisecond holding times via
    truncating div on non-negative deltas, fixed-point values —
    num/den are exact BIGINTs, twap_ppm one deterministic double
    divide under the ewma_ppm rule (NULL for single-observation
    users)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    ev = _events_ts(spark, sf_dir)
    return (
        windows.time_weighted_avg(
            ev, "user_id", "ts_utc", "value", scale=1024,
            tiebreak_col="event_id",
        )
        .withColumnRenamed("key", "user_id")
    )


def q_events_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event values resampled onto the 6-hour grid with LINEAR
    interpolation between anchors (windows.resample_interpolate) — the
    trending-quantity companion to events_resampled's forward-fill.
    Exact across engines: observations fix-point to round(value*1024)
    BIGINTs, every gap tick is (prev_s*(next_t-t) + next_s*(t-prev_t))
    div (next_t-prev_t) with non-negative operands, so there is NO
    float anywhere in the path and the per-user integer checksums
    hash-match DuckDB bit-for-bit. Grid spans each user's observed
    ticks, so no tick ever extrapolates."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    ev = _events_ts(spark, sf_dir)
    grid = windows.resample_interpolate(
        ev, "user_id", "ts_utc", "value",
        interval_seconds=21_600, scale=1024, tiebreak_col="event_id",
    )
    return (
        grid.groupBy(F.col("key").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.col("is_observed").cast("long")).alias("n_observed"),
            F.sum((~F.col("is_observed")).cast("long")).alias("n_interp"),
            F.sum(
                F.when(~F.col("is_observed"), F.col("value_s")).otherwise(F.lit(0))
            ).alias("interp_sum"),
            F.sum(
                F.when(F.col("is_observed"), F.col("value_s")).otherwise(F.lit(0))
            ).alias("obs_sum"),
        )
        .orderBy("user_id")
    )


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage conversion funnel view -> click -> purchase
    (sessions.conversion_funnel): stage i counts users whose FIRST
    qualifying stage-i event lands strictly after their first
    qualifying stage-(i-1) event — the recursive anchor rule real
    product funnels use (an early click before any view neither
    advances nor poisons). The reference has no path-ordered metric at
    all (its M-metrics are flat aggregates,
    scripts/aws/curate_data_etl_job.py:1-120); this is the canonical
    one. One shrinking min-aggregate per stage, user-keyed joins, no
    windows — AQE broadcasts the later anchors as they shrink."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import sessions

    ev = _events_ts(spark, sf_dir)
    return sessions.conversion_funnel(
        ev, "user_id", "ts_utc", "event_type", ["view", "click", "purchase"]
    )


def q_orders_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full rank-function family in one window pass (windows.rank_stats):
    ntile quartile + percent_rank + cume_dist + dense_rank per order
    within its priority class, ordered by (o_totalprice, o_orderkey) —
    the unique tiebreak makes ntile's tie-splitting deterministic on
    any engine. percent_rank/cume_dist are ratios of small exact ints,
    so the doubles are bit-identical cross-engine. Covers the §2.5
    window surface beyond LAG/row_number (acctbal_ntile pins ntile
    only; this row pins all four sharing one sort)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    orders = _t(spark, sf_dir, "orders")
    return (
        windows.rank_stats(
            orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
            "o_orderpriority",
            ["o_totalprice", "o_orderkey"],
            n_tiles=4,
        )
        .select(
            "o_orderkey", "o_orderpriority", "bucket",
            "pct_rank", "cume_dist", "dense_rank",
        )
        .orderBy("o_orderkey")
    )


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier gate per event type
    (profiling.mad_outliers): robust anomaly screen in EXACT integer
    arithmetic — lower-median selection by position (no interpolation),
    fixed-point values, integer deviation compare — so the per-type
    outlier counts hash-match DuckDB exactly. The robust twin of
    zscore_events' mean/stddev normalization (which outliers themselves
    distort); at 100 TB the same shape runs on approx_percentile
    partials with THIS exact form as its correctness oracle."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    return (
        profiling.mad_outliers(
            _t(spark, sf_dir, "events"), "event_type", "value",
            scale=1024, k=3,
        )
        .withColumnRenamed("key", "event_type")
    )


def q_customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort-retention matrix over orders
    (metrics.cohort_retention): customers grouped by first-order month,
    counted in every month they return — the growth-analytics view the
    reference's repeat-rate metric (M7) only summarizes. Exact across
    engines: calendar-month dates, pure INTEGER month arithmetic for
    months_since (no months_between float), retention_ppm one
    truncating BIGINT division."""
    return metrics.cohort_retention(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate"
    )


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (metrics.rfm_segments): per-customer recency /
    frequency / monetary quartile scores over orders — the classic CRM
    scoring grid. Exact: DATE-arithmetic recency, DECIMAL(18,2)-cents
    BIGINT monetary (the pricing_summary money rule), NTILE over
    globally deterministic total orders (metric, then custkey
    tiebreak). Full per-customer output, value-hash-checked."""
    return metrics.rfm_segments(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice",
    ).withColumnRenamed("user", "custkey")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (sessions.event_transitions): how often type A is
    immediately followed by B, with exact ppm row probabilities.
    Deterministic: one LEAD window over (ts, event_id), truncating
    BIGINT division — alphabet²-sized output, hash-checked."""
    return sessions.event_transitions(
        _events_ts(spark, sf_dir), "user_id", "ts_utc", "event_type",
        tiebreak_col="event_id",
    )


def q_session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session opening paths (sessions.top_paths): the most
    common first-5-event type sequences of 30-minute-gap sessions —
    path mining over the same sessionization the per-session stats
    use. Event order is pinned at whole-second resolution plus the
    event_id tiebreak (the sessionization-oracle rule: sub-second
    timestamp order is engine-representation noise, seconds + unique
    id is a total order), and the top-k cut rides
    (n_sessions DESC, path ASC)."""
    ev = _events_ts(spark, sf_dir).withColumn(
        "sec", F.col("ts_utc").cast("long")
    )
    return sessions.top_paths(
        ev, "user_id", "sec", "event_type",
        gap_minutes=30, max_len=5, k=20, tiebreak_col="event_id",
    )


def q_user_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Gini–Simpson diversity of event types
    (profiling.categorical_diversity): probability two random events
    differ in type — the log-free diversity index, exact rational
    arithmetic in BIGINTs (Shannon entropy's ln() libm bits differ
    across engines; (n² − Σc²)/n² does not)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    return (
        profiling.categorical_diversity(
            _t(spark, sf_dir, "events"), "user_id", "event_type"
        )
        .withColumnRenamed("key", "user_id")
    )


def q_copurchase_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (joins.basket_triples):
    part triples bought together in >= 2 orders — the bundle layer
    above copurchase_pairs. Candidate space strictly within baskets
    (Σ C(basket_size, 3), bounded by the per-order line cap), support
    counts map-side combine; full deterministic triple set."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import joins

    return joins.basket_triples(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2,
    )


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration exact-integer k-means over the embeddings table
    (clustering.kmeans_assign, k=8, 3 Lloyd iterations): the corpus
    clustering stage (topic buckets / coarse quantizers / SemDeDup
    cells) as an ITERATIVE algorithm with a full value-hash oracle —
    like transaction_pagerank, no float enters either engine after the
    fix-point, so assignment and distances hash identically. Assignment
    is map-only against k broadcast centroid literals; each update is
    one (cluster, dim)-keyed aggregate with a k*dim-sized driver
    collect (the IVF-index contract)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import clustering

    return clustering.kmeans_assign(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        k=8, iters=3,
    ).withColumnRenamed("id", "vec_id")


def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend (windows.linear_trend): least-squares
    slope of event value over time, exact — x anchored at each user's
    first event in truncating hours, y fix-pointed, moment sums carried
    as DECIMAL(38,0) (cross terms overflow BIGINT at corpus scale),
    slope_ppm one truncating division (both engines truncate toward
    zero, verified on negatives — slopes ARE negative here)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    ev = _events_ts(spark, sf_dir)
    return windows.linear_trend(
        ev, "user_id", "ts_utc", "value", scale=1024, x_unit_seconds=3600
    ).withColumnRenamed("key", "user_id")


def q_part_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto contribution analysis over parts (metrics.revenue_pareto):
    rank parts by discounted revenue, mark the head carrying 80 % of
    the total. Exact: pricing_summary money rule into BIGINT cents,
    integer cross-multiplied head test (no division, DECIMAL(38,0)
    operands). The part dimension is NOT bounded — parts scale
    linearly with the data (TPC-H sf100k ≈ 20B parts) — so rank and
    running sum ride the two-phase distributed rank
    (windows.global_rank_two_phase), never a single-task global
    window (r17 rewrite; bit-identical, oracle unchanged)."""
    return metrics.revenue_pareto(
        _t(spark, sf_dir, "lineitem"), "l_partkey", "l_extendedprice",
        "l_discount", top_frac_ppm=800_000,
    ).withColumnRenamed("entity", "l_partkey")


def q_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / WAU / MAU over events (sessions.rolling_active_users):
    distinct users in the trailing 1 / 7 / 28 days per active day.
    The calendar day is TZ-FREE epoch-day arithmetic (floor(epoch_sec /
    86400) days from 1970-01-01 — the events_resampled rule: deriving
    days from instants via the session timezone would shift under the
    driver's hostile-tz probe). Explode factor = window size, distinct
    counts exact; at scale the HLL twin replaces them with this form as
    oracle."""
    ev = _events_ts(spark, sf_dir)
    day = F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.floor(F.col("ts_utc").cast("long") / 86400).cast("int"),
    )
    return sessions.rolling_active_users(
        ev.withColumn("day", day), "user_id", "day",
        windows_days=(1, 7, 28),
    )


def q_copurchase_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients over the co-purchase graph
    (graph.clustering_coefficients on joins.basket_pairs edges):
    2*tri/(deg*(deg-1)) per item in truncating ppm — the
    community-tightness layer above copurchase_triangles, exact
    integer arithmetic end to end. Degree-1 items report 0."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph, joins

    edges = joins.basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2,
    )
    return (
        graph.clustering_coefficients(edges, "item_a", "item_b")
        .withColumnRenamed("node", "item")
    )


def q_price_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over lineitem extended prices
    (profiling.benford_gate): observed vs expected first-significant-
    digit shares — the fabricated-data / unit-mixup smell test. First
    digits come from an integer peel over DECIMAL(18,2) cents (a
    chained CASE on descending powers of ten — no log10 float, no
    per-row string formatting); expected shares are ppm CONSTANTS;
    all divisions truncating BIGINT. Always 9 rows."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    return profiling.benford_gate(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


def q_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel hop timing view -> click -> purchase
    (sessions.funnel_timing): conversion_funnel's recursive anchor rule
    plus exact seconds-to-convert per hop — whole-second anchors, BIGINT
    delta sums, truncating-ms averages. Stage 1's timing columns are
    NULL (no previous anchor)."""
    ev = _events_ts(spark, sf_dir)
    return sessions.funnel_timing(
        ev, "user_id", "ts_utc", "event_type", ["view", "click", "purchase"]
    )


def q_purchase_pit_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (scd.point_in_time_join): each purchase event
    picks up the SCD2 browse-state version (built from the user's
    non-purchase events) valid AT the purchase instant — the query SCD2
    history exists for, and the one place is_current would silently
    rewrite history. Half-open validity ranges on BIGINT micros; facts
    before a user's first browse version keep NULL state (LEFT join).
    One equi-join + range filter; fact x versions blowup bounded per
    key by the state-change count."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    ev = _events_ts(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts_utc"))
    browse = ev.filter(F.col("event_type") != "purchase")
    dim = scd.scd2_history(
        browse.select("user_id", "event_type", "ts_us", "event_id"),
        "user_id", "event_type", "ts_us", order_cols=("event_id",),
    ).drop("is_current")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id"
    )
    return (
        scd.point_in_time_join(facts, dim, "user_id", "ts_us")
        .select(
            "user_id", "ts_us", "event_id",
            F.col("state").alias("browse_state"), "version",
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


def q_orders_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance under the CDC
    batch (scd.incremental_agg_maintenance): the orders_cdc_apply
    fixture (every 4th order's status -> 'X' at seq 1, every 6th
    deleted at seq 2) maintains revenue-by-status by subtracting the
    affected keys' old contributions and adding their new ones. This
    self-contained registry form BOOTSTRAPS the base view from the
    snapshot (base_agg=None — one aggregate, unavoidable in a single
    query); the steady-state refresh passes the previously
    materialized view as base_agg, and then the snapshot is touched
    only through the changed-keys semi-join (pinned equivalent in
    tests). Integer cents make the delta merge bit-identical to a full
    recompute, which is exactly what the DuckDB oracle does (apply the
    changelog, re-aggregate from scratch) — so the hash check IS the
    incremental-vs-full equivalence proof."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import scd

    orders = _t(spark, sf_dir, "orders")
    upd = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("seq", F.lit(1))
        .withColumn("op", F.lit("U"))
    )
    dele = (
        orders.filter(F.col("o_orderkey") % 6 == 0)
        .withColumn("seq", F.lit(2))
        .withColumn("op", F.lit("D"))
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return scd.incremental_agg_maintenance(
        orders, upd.unionByName(dele), ["o_orderkey"], "seq",
        "o_orderstatus", cents,
    ).withColumnRenamed("n_rows", "n_orders").withColumnRenamed(
        "sum_cents", "revenue_cents"
    )


def q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peel over the co-purchase graph (graph.kcore,
    k=2, 4 rounds): iteratively drop items whose surviving co-buy
    degree falls below k — the dense-bundle nucleus the raw pair list
    hides. Third iterative algorithm with a full value-hash oracle
    (unrolled peel rounds in DuckDB, the pagerank pattern); survivors
    report their degree within the final survivor-induced subgraph."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph, joins

    edges = joins.basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2,
    )
    return (
        graph.kcore(edges, "item_a", "item_b", k=2, rounds=4)
        .withColumnRenamed("node", "item")
    )


def q_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities over the co-purchase
    graph (graph.label_propagation, 3 synchronous rounds, ties to the
    smallest label): the community layer the pair list / components /
    k-core stack does not give — two dense co-buy clusters joined by
    one bridge edge are ONE component but TWO communities. Fourth
    iterative algorithm with a full value-hash oracle (unrolled
    count/pick CTE pairs in DuckDB, the pagerank pattern); integer
    labels only, so the 3-round output hashes identically."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import graph, joins

    edges = joins.basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2,
    )
    return (
        graph.label_propagation(edges, "item_a", "item_b", rounds=3)
        .withColumnRenamed("node", "item")
    )


def q_price_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag
    (profiling.weighted_median): the smallest price cents at which half
    the QUANTITY sold sits at or below — the volume-aware center plain
    median misreports when quantities vary. Exact: DECIMAL cents
    values, integral BIGINT weights, selection by cumulative-weight
    position (2*cum >= total, no interpolation); equal-price tie order
    cannot change the result (the cut lands inside the tie run)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return profiling.weighted_median(
        li, "l_returnflag", "price_cents", "qty", scale=1
    ).withColumnRenamed("key", "l_returnflag")


def q_revenue_growth_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order revenue growth (metrics.period_growth):
    DECIMAL-cents monthly totals, one LAG over the calendar-bounded
    month frame, truncating ppm growth (negative months need no
    special casing — both engines truncate toward zero)."""
    return metrics.period_growth(
        _t(spark, sf_dir, "orders"), "o_orderdate", "o_totalprice"
    )


def q_monthly_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per month across
    customers (metrics.concentration_hhi): sum-of-squared-shares in
    exact rationals — cents squared carried as DECIMAL(38,0) (BIGINT
    overflows at corpus scale), one truncating ppm division. The
    money-precision sibling of user_type_diversity's Gini-Simpson."""
    orders = _t(spark, sf_dir, "orders")
    return metrics.concentration_hhi(
        orders, F.to_date(F.date_trunc("month", F.col("o_orderdate"))),
        "o_custkey", "o_totalprice",
    ).withColumnRenamed("group", "month")


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-touch attribution (sessions.multi_touch_attribution):
    every purchase splits exactly 1e6 ppm of credit equally across the
    user's non-purchase touches in the strict 72h lookback, largest
    remainder to the earliest touches (ts, event_id order) so the
    per-conversion sum is exactly 1,000,000 — no float shares. The
    oracle hash pins the conservation law. One user-keyed shuffle with
    the range predicate inside the join; pair space bounded by the
    lookback width."""
    ev = _events_ts(spark, sf_dir).select(
        "user_id", "ts_utc", "event_type", "event_id"
    )
    return sessions.multi_touch_attribution(
        ev, "user_id", "ts_utc", "event_type", "event_id",
        conversion_type="purchase", lookback_hours=72,
    )


def q_user_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning actives (sessions.first_seen_rate): per
    active day, distinct actives, first-time actives, and the new share
    in truncating ppm. Calendar day is tz-free epoch-day arithmetic
    (the events_resampled rule); counts exact; actives >= 1 on every
    emitted row so the ppm div never sees zero."""
    ev = _events_ts(spark, sf_dir)
    day = F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.floor(F.col("ts_utc").cast("long") / 86400).cast("int"),
    )
    return sessions.first_seen_rate(ev.withColumn("day", day), "user_id", "day")


def q_events_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiler (profiling.fd_report) over events:
    does event_id determine event_type (a key check), does user_id
    (clearly violated), does event_type determine user_id (clearly
    violated)? Exact g3-style violation mass — groups with >1 distinct
    RHS and the rows inside them; one hash aggregate per candidate."""
    return profiling.fd_report(
        _t(spark, sf_dir, "events"),
        [
            (["event_id"], "event_type"),
            (["user_id"], "event_type"),
            (["event_type"], "user_id"),
        ],
    )


def q_events_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence gate (profiling.chi_square_gate) between
    event_type and tz-free weekday (epoch-day mod 7): per-cell
    ((O*N - r*c)^2 * 1e6) div (r*c*N) in DECIMAL(38,0)/HUGEINT, summed
    per event_type — the drift gate that flags a weekday-skewed event
    mix. One data-sized hash aggregate builds the contingency table;
    everything after is |a|x|b|-sized."""
    ev = _events_ts(spark, sf_dir).withColumn(
        "dow", F.expr("(unix_micros(ts_utc) div 86400000000) % 7")
    )
    return profiling.chi_square_gate(ev, "event_type", "dow").withColumnRenamed(
        "a", "event_type"
    )


def q_price_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price rollup per return flag (profiling.
    winsorized_stats): clamp below p05 / above p95 (lower empirical
    quantiles by position, ceil(n*p/100) — pure selection) and report
    the clamped cents sum — the outlier-robust total. DECIMAL cents,
    BIGINT sums; tie order cannot move a cut value."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return profiling.winsorized_stats(
        li, "l_returnflag", "price_cents", p_lo=5, p_hi=95
    ).withColumnRenamed("key", "l_returnflag")


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto front (joins.skyline2d): parts no other part
    dominates on (maximize p_size, minimize price) — frontier reduction
    (per-size MIN price, then a dimension-sized running-min sweep, then
    a broadcast semi-join back), never the O(n^2) dominance self-join.
    Prices compare in DECIMAL cents; ties on a frontier point all
    belong to the skyline."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return joins.skyline2d(part, "p_size", "price_cents").orderBy("p_partkey")


def q_revenue_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest (windows.seasonal_naive_backtest):
    predict each day's per-priority order revenue with the value 7 days
    earlier, report exact BIGINT error mass and truncating-ppm WAPE —
    the baseline every forecaster must beat. Scoring joins (key, day)
    to (key, day-7), so calendar gaps score only when both endpoints
    exist. DECIMAL-cents daily totals."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return windows.seasonal_naive_backtest(
        orders, "o_orderpriority", "day", "cents", season_days=7
    ).withColumnRenamed("key", "o_orderpriority")


def q_events_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest level shift per event type (windows.level_shift): the
    position where the next-8 value sum differs most from the prev-8
    sum — exact two-window changepoint score, equal window lengths so
    no mean division. BIGINT micros timestamps (tz-free), DECIMAL-cents
    values, earliest-maximum argmax on the (ts, event_id) total
    order."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    ev = _events_ts(spark, sf_dir).select(
        "event_type",
        F.unix_micros("ts_utc").alias("ts_us"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return (
        windows.level_shift(
            ev, "event_type", "ts_us", "cents", window=8,
            tiebreak_col="event_id",
        )
        .withColumnRenamed("key", "event_type")
        .withColumnRenamed("shift_ts", "shift_ts_us")
    )


def q_user_balance_floored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floored running balance per user (windows.floored_running_balance):
    purchases spend, other events earn, and the balance floors at zero
    (a spend against an empty balance is lost, not borrowed). The
    stateful per-row loop in closed form: prefix - min(0, running-min
    prefix) — two window passes over one user partitioning, no
    iteration. DECIMAL-cents deltas, (ts, event_id) total order."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import windows

    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    ev = _events_ts(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts_utc").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", -cents)
        .otherwise(cents)
        .alias("delta_cents"),
    )
    return (
        windows.floored_running_balance(
            ev, "user_id", "ts_us", "delta_cents", tiebreak_col="event_id"
        )
        .withColumnRenamed("key", "user_id")
        .withColumnRenamed("ts", "ts_us")
    )


def q_price_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth price histogram per return flag (profiling.
    equidepth_histogram): 8 near-equal-count buckets by pure rank
    arithmetic ((rn-1)*k div n — NOT NTILE, whose remainder rule
    differs), each with exact min/max/sum in cents. Tie runs are
    interchangeable so every bucket aggregate is tie-order-invariant."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return profiling.equidepth_histogram(
        li, "l_returnflag", "price_cents", k=8
    ).withColumnRenamed("key", "l_returnflag")


def q_price_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift gate (profiling.
    ks_gate): per return flag, the largest ECDF gap between open ('O')
    and finished ('F') line items' price distributions — binning-free
    drift detection. Integer form: d = |cum_a*n_b - cum_b*n_a| maximized
    over distinct cents values (the sup of step ECDFs sits on a sample
    point), DECIMAL-cleared ppm, smallest-value argmax. Keys missing
    either cohort emit nothing (KS undefined)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return profiling.ks_gate(
        li, "l_returnflag", "l_linestatus", "price_cents", "O", "F"
    ).withColumnRenamed("key", "l_returnflag")


def q_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth distribution (sessions.session_depth_hist): how
    many 12h-gap sessions hold 1, 2, ... 10+ events, share in
    truncating ppm — depth 1 IS the bounce rate. Same session rule as
    the sessionization row (whole-second + event_id total order), so
    the oracle reuses that CTE shape; depth counts are provably
    tie-order-invariant."""
    return sessions.session_depth_hist(
        _events_ts(spark, sf_dir), "user_id", "ts_utc",
        gap_minutes=720, tiebreak_col="event_id", max_depth=10,
    )


def q_supplier_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based incremental batch ingest round-trip (sources.
    read_incremental + commit_manifest): the supplier table lands as
    two parquet batches; ingest 1 sees only batch 1, commits the
    manifest, batch 2 lands, ingest 2 reads ONLY the new files. Rows
    tag which ingest returned them, so a re-read (duplicate tag-2 rows)
    or a skip hash-mismatches the oracle's parity-derived expectation.
    The batch fixture is cached per generation; the manifest flow runs
    per call in a process-private staging dir (driver-side file copies
    are fixture plumbing, not the operator — production files LAND in
    the watched directory)."""
    import tempfile

    from lab_etl_batch_data_processing_pipeline__spark.sources import (
        commit_manifest,
        read_incremental,
    )

    sup = _t(spark, sf_dir, "supplier")

    def build(tmp: str) -> None:
        sup.filter(F.col("s_suppkey") % 2 == 0).write.parquet(
            os.path.join(tmp, "batch1")
        )
        sup.filter(F.col("s_suppkey") % 2 == 1).write.parquet(
            os.path.join(tmp, "batch2")
        )

    fix_dir = _art.materialize(
        _art.cache_dir("incr", _gen_tag(sf_dir, "supplier.parquet")), build
    )
    stage = tempfile.mkdtemp(prefix="incr_ingest_")
    try:
        manifest = os.path.join(stage, "ingest.manifest")
        data_dir = os.path.join(stage, "landing")
        os.makedirs(data_dir)
        shutil.copytree(
            os.path.join(fix_dir, "batch1"), os.path.join(data_dir, "batch1")
        )
        df1, new1 = read_incremental(
            spark, data_dir, manifest, schema=sup.schema
        )
        batch1 = _ckpt(df1.withColumn("ingest_batch", F.lit(1)))
        commit_manifest(manifest, new1)
        shutil.copytree(
            os.path.join(fix_dir, "batch2"), os.path.join(data_dir, "batch2")
        )
        df2, new2 = read_incremental(
            spark, data_dir, manifest, schema=sup.schema
        )
        batch2 = _ckpt(df2.withColumn("ingest_batch", F.lit(2)))
        commit_manifest(manifest, new2)
    finally:
        # a failed read/checkpoint must not leak the staging copy
        shutil.rmtree(stage, ignore_errors=True)
    return batch1.unionByName(batch2).orderBy("s_suppkey")


def q_orders_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation gate (cleaning.reconcile_totals): per
    order status, does o_totalprice equal the sum of the order's line
    charges p*(1-disc)*(1+tax)? Exact decimal end-to-end (the
    pricing_summary money rule: cast factors BEFORE multiplying), the
    difference scaled to integer micro-units — the cast truncates
    nothing because the decimal's own scale makes it integer-valued.
    Orders with no lines reconcile against 0 (full total = mismatch
    mass, not an exclusion). The synthetic generator does NOT maintain
    this invariant, so the gate reports real mismatch mass — which is
    exactly what makes the hash check meaningful."""
    one = F.lit(1.0).cast("decimal(3,2)")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (one - F.col("l_discount").cast("decimal(4,2)"))
            * (one + F.col("l_tax").cast("decimal(4,2)"))
        ).alias("charge"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
    )
    return cleaning.reconcile_totals(
        orders, li, "o_orderkey", "total", "charge",
        group_col="o_orderstatus", line_key_col="l_orderkey",
    ).withColumnRenamed("group", "o_orderstatus")


def q_user_activity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage per user (ranges.interval_coverage):
    each event opens a half-open 30-minute activity lease; overlapping
    leases merge (a plain SUM(duration) double-counts), islands and
    gaps report exactly. Whole-second integer sweep — one running-max
    window marks island starts (touching intervals merge: half-open
    semantics)."""
    ev = _events_ts(spark, sf_dir)
    s = F.col("ts_utc").cast("long")
    base = ev.select(
        "user_id", s.alias("s"), (s + 1800).alias("e")
    )
    return ranges.interval_coverage(
        base, "user_id", "s", "e"
    ).withColumnRenamed("key", "user_id")


def q_event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length streak analysis (sessions.event_streaks): per event
    type, total events, number of consecutive-run islands, and the
    longest run — the consecutiveness question (longest error burst)
    transitions don't answer. LAG + running-sum islands on the
    (micros, event_id) total order."""
    ev = _events_ts(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts_utc").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return sessions.event_streaks(
        ev, "user_id", "ts_us", "event_type", tiebreak_col="event_id"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry key mapped to its query builder ``fn(spark, sf_dir)``.

    The key order is part of the public contract: callers may read the
    keys in this order, so keys are never reordered and new ones go at
    the end. Every key has a DuckDB twin in :func:`oracle_sql`, and
    ``tests/test_entry_contract.py::test_spot_oracle_parity`` checks each
    one against it.
    """
    return {
        "transaction_reach": q_transaction_reach,
        "events_json_struct": q_events_json_struct,
        "revenue_rollup": q_revenue_rollup,
        "repetition_stats": q_repetition_stats,
        "decontamination": q_decontamination,
        "pii_scrub": q_pii_scrub,
        "corpus_mixture": q_corpus_mixture,
        "event_type_skew": q_event_type_skew,
        "session_window_rollup": q_session_window_rollup,
        "scd2_user_state": q_scd2_user_state,
        "doc_normalize": q_doc_normalize,
        "char_lm_scores": q_char_lm_scores,
        "ann_cosine_topk": q_ann_cosine_topk,
        "curated_join": q_curated_join,
        "popular_locations_weekly": q_popular_locations_weekly,
        "transaction_hits": q_transaction_hits,
        "avg_price_weekly": q_avg_price_weekly,
        "top_listings_topk": q_top_listings_topk,
        "csv_single_file": q_csv_single_file,
        "doc_stats": q_doc_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "language_id": q_language_id,
        "simhash": q_simhash,
        "label_centroids": q_label_centroids,
        "running_totals": q_running_totals,
        "salted_status_agg": q_salted_status_agg,
        "user_engagement": q_user_engagement,
        "corpus_splits": q_corpus_splits,
        "asof_purchase_view": q_asof_purchase_view,
        "curated_partition_scan": q_curated_partition_scan,
        "customer_rfm": q_customer_rfm,
        "orders_rank_stats": q_orders_rank_stats,
        "acctbal_ntile": q_acctbal_ntile,
        "part_revenue_pareto": q_part_revenue_pareto,
        "semantic_dedup": q_semantic_dedup,
        "corpus_prep_auto": q_corpus_prep_auto,
        "embedding_kmeans": q_embedding_kmeans,
        "active_users_rolling": q_active_users_rolling,
        "copurchase_clustering": q_copurchase_clustering,
        "price_benford": q_price_benford,
        "funnel_timing": q_funnel_timing,
        "purchase_pit_state": q_purchase_pit_state,
        "orders_cdc_incremental_agg": q_orders_cdc_incremental_agg,
        "price_weighted_median": q_price_weighted_median,
        "revenue_growth_monthly": q_revenue_growth_monthly,
        "monthly_revenue_hhi": q_monthly_revenue_hhi,
        "streaming_dedup": q_streaming_dedup,
        "containment_prune": q_containment_prune,
        "events_zorder": q_events_zorder,
        "part_entity_clusters": q_part_entity_clusters,
        "copurchase_communities": q_copurchase_communities,
        "orders_by_weekday": q_orders_by_weekday,
        "nation_custkey_list": q_nation_custkey_list,
        "repeat_rate_monthly": q_repeat_rate_monthly,
        "occupancy_monthly": q_occupancy_monthly,
        "bookings_per_user": q_bookings_per_user,
        "avg_duration_monthly": q_avg_duration_monthly,
        "metric_sql_view": q_metric_sql_view,
        "date_normalize": q_date_normalize,
        "currency_convert": q_currency_convert,
        "dedup_exact": q_dedup_exact,
        "dedup_keys": q_dedup_keys,
        "csv_roundtrip": q_csv_roundtrip,
        "jdbc_roundtrip": q_jdbc_roundtrip,
        "sessionization": q_sessionization,
        "top_listings_weekly": q_top_listings_weekly,
        "events_json": q_events_json,
        "token_frequencies": q_token_frequencies,
        "word_bigrams": q_word_bigrams,
        "doc_tokens_regex": q_doc_tokens_regex,
        "events_pivot": q_events_pivot,
        "docs_per_source_quota": q_docs_per_source_quota,
        "brand_setops": q_brand_setops,
        "status_percentiles": q_status_percentiles,
        "zscore_events": q_zscore_events,
        "customers_semi_anti": q_customers_semi_anti,
        "revenue_cube": q_revenue_cube,
        "orders_shipped_7d": q_orders_shipped_7d,
        "nation_top_customer": q_nation_top_customer,
        "multimodal_features": q_multimodal_features,
        "transaction_pagerank": q_transaction_pagerank,
        "copurchase_kcore": q_copurchase_kcore,
        "events_mad_outliers": q_events_mad_outliers,
        "price_winsorized": q_price_winsorized,
        "customer_cohort_retention": q_customer_cohort_retention,
        "price_ks_drift": q_price_ks_drift,
        "supplier_incremental_ingest": q_supplier_incremental_ingest,
        "orders_reconcile": q_orders_reconcile,
        "user_activity_coverage": q_user_activity_coverage,
        "event_streaks": q_event_streaks,
        "dup_span_report": q_dup_span_report,
        "containment_near_dups": q_containment_near_dups,
        "pmi_collocations": q_pmi_collocations,
        "copurchase_pairs": q_copurchase_pairs,
        "bloom_join_gate": q_bloom_join_gate,
        "customer_radius_join": q_customer_radius_join,
        "streaming_attribution": q_streaming_attribution,
        "ann_cosine_lsh": q_ann_cosine_lsh,
        "ann_cosine_ivf": q_ann_cosine_ivf,
        "ann_cosine_pq": q_ann_cosine_pq,
        "ann_cosine_ivfpq": q_ann_cosine_ivfpq,
        "ann_lsh_recall": q_ann_lsh_recall,
        "ann_ivf_recall": q_ann_ivf_recall,
        "ann_pq_recall": q_ann_pq_recall,
        "ann_ivfpq_recall": q_ann_ivfpq_recall,
        "ann_quantized_recall": q_ann_quantized_recall,
        "revenue_seasonal_backtest": q_revenue_seasonal_backtest,
        "events_level_shift": q_events_level_shift,
        "user_balance_floored": q_user_balance_floored,
        "price_equidepth": q_price_equidepth,
        "session_depth": q_session_depth,
        "events_ewma": q_events_ewma,
        "customer_stratified_sample": q_customer_stratified_sample,
        "quality_classifier": q_quality_classifier,
        "xml_roundtrip": q_xml_roundtrip,
        "substring_dedup": q_substring_dedup,
        "purchase_attribution": q_purchase_attribution,
        "user_first_seen": q_user_first_seen,
        "events_fd_check": q_events_fd_check,
        "events_chi2": q_events_chi2,
        "part_skyline": q_part_skyline,
        "events_interpolated": q_events_interpolated,
        "conversion_funnel": q_conversion_funnel,
        "user_value_twap": q_user_value_twap,
        "copurchase_triangles": q_copurchase_triangles,
        "event_transitions": q_event_transitions,
        "session_top_paths": q_session_top_paths,
        "user_type_diversity": q_user_type_diversity,
        "copurchase_triples": q_copurchase_triples,
        "user_value_trend": q_user_value_trend,
        "corpus_prep": q_corpus_prep,
        "recipe_training_mix": q_recipe_training_mix,
        "heavy_hitters_gate": q_heavy_hitters_gate,
        "streaming_sessions": q_streaming_sessions,
        "orders_cdc_apply": q_orders_cdc_apply,
        "fuzzy_part_match": q_fuzzy_part_match,
        "incremental_dedup": q_incremental_dedup,
        "tfidf_cosine_topk": q_tfidf_cosine_topk,
        "hll_union_gate": q_hll_union_gate,
        "csv_quarantine": q_csv_quarantine,
        "orders_snapshot_diff": q_orders_snapshot_diff,
        "orc_roundtrip": q_orc_roundtrip,
        "near_dup_jaccard": q_near_dup_jaccard,
        "minhash_near_dups": q_minhash_near_dups,
        "near_dup_clusters": q_near_dup_clusters,
        "streaming_user_totals": q_streaming_user_totals,
        "recipe_metric": q_recipe_metric,
        "embedding_near_dups": q_embedding_near_dups,
        "streaming_event_counts": q_streaming_event_counts,
        "training_batches": q_training_batches,
        "training_mix": q_training_mix,
        "orders_expectations": q_orders_expectations,
        "pack_bins": q_pack_bins,
        "events_resampled": q_events_resampled,
        "part_unpivot": q_part_unpivot,
        "tables_manifest": q_tables_manifest,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "price_histogram": q_price_histogram,
        "pricing_summary": q_pricing_summary,
        "tfidf_top_terms": q_tfidf_top_terms,
        "quantile_gate": q_quantile_gate,
        "events_variant": q_events_variant,
        "doc_chunks": q_doc_chunks,
        "rolling_revenue_7d": q_rolling_revenue_7d,
        "parquet_upsert_roundtrip": q_parquet_upsert_roundtrip,
        "corpus_mixture_weighted": q_corpus_mixture_weighted,
        "cardinality_gate": q_cardinality_gate,
        "pack_offsets": q_pack_offsets,
        "winnowing": q_winnowing,
        "orders_profile": q_orders_profile,
        "ann_rerank": q_ann_rerank,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twin of every queries() key — the
    driver runs these against the same parquet tables and hash-compares
    with the Spark results. Bodies live in the package oracles module
    (lab_etl_batch_data_processing_pipeline__spark/oracles.py); this re-export keeps the driver
    contract (entry / queries / oracle_sql in __spark_entry__) intact."""
    return _oracles.oracle_sql()
