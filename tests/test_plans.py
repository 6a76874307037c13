"""Physical-plan regression tests: the properties SCALE.md claims
(pushdown, pruning, broadcast, partial aggregation) must stay true.
These guard against silent plan regressions — a correct-but-shuffling
plan is a bug at 100 TB even when values match."""

from __future__ import annotations

import pytest
import re

import __spark_entry__ as entrymod
from conftest import SF, formatted_plan


def test_status_filter_is_pushed_to_scan(spark):
    plan = formatted_plan(entrymod.queries()["bookings_per_user"](spark, SF))
    assert "EqualTo(o_orderstatus,F)" in plan, "status filter not pushed to parquet"


def test_column_pruning_reads_only_needed_columns(spark):
    plan = formatted_plan(entrymod.queries()["bookings_per_user"](spark, SF))
    scan_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderdate" not in scan_schema and "o_orderpriority" not in scan_schema


def test_dimension_joins_broadcast(spark):
    # Hint discipline: nation/region are bounded-by-construction -> hard
    # hints visible in the STATIC plan; customer scales with data -> no
    # hard hint (a hint would OOM at 100 TB), but AQE must still convert
    # its join to broadcast at runtime when it fits — pinned on the FINAL
    # adaptive plan after execution.
    df = entrymod.queries()["curated_join"](spark, SF)
    static = formatted_plan(df)
    assert static.count("BroadcastHashJoin LeftOuter BuildRight") >= 2
    df.collect()  # materialize so the adaptive plan is final
    full = formatted_plan(df)
    assert "isFinalPlan=true" in full
    final = full.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin LeftOuter BuildRight") == 3
    assert "SortMergeJoin" not in final  # fact side must not shuffle


def test_metrics_use_partial_aggregation(spark):
    plan = formatted_plan(entrymod.queries()["avg_price_weekly"](spark, SF))
    # partial + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2


def test_enrichment_has_no_shuffle(spark):
    from lab_etl_batch_data_processing_pipeline__spark.operators import enrich

    df = spark.createDataFrame(
        [(1, "USD", 10.0)], "id int, currency string, price double"
    )
    out = enrich.convert_currency(
        df, enrich.default_exchange_rates(spark), "price", "price_usd"
    )
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan
    # the only exchange allowed is the broadcast itself
    assert all(
        "BroadcastExchange" in l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l
    )


def test_asof_join_single_shuffle(spark):
    from lab_etl_batch_data_processing_pipeline__spark.operators import asof

    left = spark.createDataFrame([(1, "A", 10)], "id int, k string, t long")
    right = spark.createDataFrame([("A", 5, 1.0)], "k string, rt long, v double")
    plan = formatted_plan(
        asof.asof_join(left, right, on="k", left_ts="t", right_ts="rt")
    )
    # no join operator at all — the asof is a window over the unioned sides
    # (AQE's formatted plan hides the single hash exchange pre-execution)
    assert "Join" not in plan
    assert "Window" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from lab_etl_batch_data_processing_pipeline__spark.sources.writers import (
        write_bucketed_table,
    )

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v1")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS v2")
    write_bucketed_table(left, "t_bucket_l", ["k"], num_buckets=8, sort_cols=["k"])
    write_bucketed_table(right, "t_bucket_r", ["k"], num_buckets=8, sort_cols=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bucket_l").join(spark.table("t_bucket_r"), "k")
        plan = formatted_plan(joined)
        # co-located sort-merge join: no shuffle on either side
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_l")
        spark.sql("DROP TABLE IF EXISTS t_bucket_r")


def test_range_join_is_equi_join_not_nested_loop(spark):
    # the bucketed form must compile to a hash/sort-merge equi-join —
    # BroadcastNestedLoopJoin here would be O(|L|x|R|) at scale
    plan = formatted_plan(entrymod.queries()["orders_shipped_7d"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_pair_scoring_parallelizes(spark):
    # small-corpus mode: right side broadcast, left side repartitioned —
    # pair scoring must not inherit the single input split of a tiny file
    df = entrymod.queries()["embedding_near_dups"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "RoundRobinPartitioning" in plan


def test_winnowing_uses_rowwise_window_not_array_lambdas(spark):
    # explode + window-min: the all-array HOF form re-evaluates the gram
    # array per window after alias inlining (quadratic per document)
    plan = formatted_plan(entrymod.queries()["winnowing"](spark, SF))
    assert "Window" in plan
    assert "Generate" in plan


def test_repetition_stats_is_map_only_with_generate_barrier(spark):
    # one Generate (the projection-collapse barrier), zero shuffles
    # besides the ensure-parallelism round robin: the stats must stay a
    # map-side projection at any corpus size
    plan = formatted_plan(entrymod.queries()["repetition_stats"](spark, SF))
    assert "Generate" in plan
    # allowed: the terminal rangepartitioning for orderBy only
    assert "hashpartitioning" not in plan and "RoundRobin" not in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    # corpus gram stream must probe a broadcast benchmark set — the
    # corpus itself never shuffles for the contamination join
    plan = formatted_plan(entrymod.queries()["decontamination"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_has_no_shuffle(spark):
    plan = formatted_plan(entrymod.queries()["pii_scrub"](spark, SF))
    assert "hashpartitioning" not in plan and "RoundRobin" not in plan


def test_jaccard_degree_aggregates_before_doc_shuffle(spark):
    # the degree form must partial-aggregate the exploded pair stream
    # (map-side combine) before the one doc_id exchange — shuffling raw
    # pair rows would be quadratic traffic on dense corpora
    plan = formatted_plan(entrymod.queries()["near_dup_jaccard"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Generate" in plan  # the pair-stream explode


def test_mixture_sample_broadcasts_thresholds(spark):
    # the per-source threshold dimension must come back as a broadcast —
    # the corpus side of the mixing join never shuffles; the only hash
    # exchange is the dimension-sized (source) token-total aggregate
    plan = formatted_plan(entrymod.queries()["corpus_mixture"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.fixture(scope="module")
def curated_partitioned(spark, tmp_path_factory):
    """Curated layer written the way SCALE.md prescribes: parquet
    partitioned by booking month (writers.write_parquet partition_by)."""
    from pyspark.sql import functions as F

    from lab_etl_batch_data_processing_pipeline__spark.sources import writers

    path = str(tmp_path_factory.mktemp("curated") / "orders_curated")
    df = entrymod.queries()["curated_join"](spark, SF).withColumn(
        "order_month", F.date_format("order_date", "yyyy-MM")
    )
    writers.write_parquet(df, path, partition_by=["order_month"])
    return path


def test_curated_scan_prunes_partitions(spark, curated_partitioned):
    """A month predicate on the curated layer must become a
    PartitionFilter (directory pruning — zero IO for other months), not
    a post-scan data filter. SURVEY §4's answer to the reference's
    unpartitioned storage."""
    from pyspark.sql import functions as F

    scan = spark.read.parquet(curated_partitioned).filter(
        F.col("order_month") == "1995-03"
    )
    plan = formatted_plan(scan)
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines, "no PartitionFilters entry in scan node"
    assert "order_month" in scan_lines[0] and "1995-03" in scan_lines[0]
    # the month predicate must NOT survive as a row-level filter
    assert "Filter (" not in plan or "order_month" not in next(
        (l for l in plan.splitlines() if l.strip().startswith("Condition")), ""
    )


def test_curated_scan_dynamic_partition_pruning(spark, curated_partitioned):
    """DPP: joining the month-partitioned curated table to a small month
    dimension filtered on an attribute must inject a runtime partition
    filter (dynamicpruningexpression) — the broadcast result prunes fact
    partitions before they are read."""
    from pyspark.sql import functions as F

    fact = spark.read.parquet(curated_partitioned)
    dim = (
        fact.select("order_month")
        .distinct()
        .withColumn("quarter", F.substring("order_month", 6, 2).cast("int"))
    )
    dim_filtered = dim.filter(F.col("quarter") == 3).select("order_month")
    joined = fact.join(F.broadcast(dim_filtered), "order_month").groupBy(
        "order_status"
    ).count()
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), (
        "no dynamic partition pruning filter injected on the curated scan"
    )


#: registry keys whose first call builds a cache, and the cache family
#: each publishes through artifacts.materialize
_CACHED_BUILDS = {
    "curated_partition_scan": "curated",
    "parquet_upsert_roundtrip": "upsert",
    "supplier_incremental_ingest": "incr",
    "csv_roundtrip": "csv",
    "xml_roundtrip": "xml",
    "jsonl_roundtrip": "jsonl",
    "orc_roundtrip": "orc",
    "csv_quarantine": "csvq",
    "multimodal_features": "media",
    "ann_ivf_recall": "ann_gt",
}


@pytest.mark.parametrize("key", list(_CACHED_BUILDS))
def test_curated_partition_scan_marker_gates_the_write(
    spark, tmp_path, monkeypatch, key
):
    """Every cached build is marker-gated: the first call publishes its
    cache with a _BUILT marker, and a second call is a pure READ that
    rewrites no file of the cache tree. For the curated partition scan
    the cached read is also partition-pruned with no write node in the
    returned plan (an unpassable gate once made every call re-run the
    curated join + 80-partition write, ~85% of the key's time)."""
    import glob
    import os

    from lab_etl_batch_data_processing_pipeline__spark import artifacts

    monkeypatch.setattr(artifacts, "_REPO_ROOT", str(tmp_path))
    query = entrymod.queries()[key]
    query(spark, SF).collect()
    cache = os.path.join(artifacts._REPO_ROOT, ".cache")
    family = os.path.join(cache, _CACHED_BUILDS[key])
    assert len(glob.glob(os.path.join(family, "*", "_BUILT"))) == 1

    def snapshot(d):
        files = {}
        for root, _, names in os.walk(d):
            for n in names:
                p = os.path.join(root, n)
                st = os.stat(p)
                files[p] = (st.st_mtime_ns, st.st_size)
        return files

    before = snapshot(cache)
    df = query(spark, SF)
    df.collect()
    assert snapshot(cache) == before, (
        f"marker-gated call of {key} rewrote its cache"
    )
    if key != "curated_partition_scan":
        return
    plan = formatted_plan(df)
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines and "order_month" in scan_lines[0] and "1995-03" in scan_lines[0]
    assert "WriteFiles" not in plan
    assert "InsertIntoHadoopFsRelation" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, tmp_path):
    """At 100 TB a selective dim-filtered shuffle join should inject a
    runtime bloom filter on the fact side (rows failing might_contain
    drop BEFORE the shuffle). The 10 GB application-side scan threshold
    keeps it out of small local runs, so the test lowers that one to
    prove the engine's plan shape actually activates. (The creation-side
    threshold is a MAX — the dim side must be small — so it stays at its
    default.)"""
    from pyspark.sql import functions as F

    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(100_000).select(
        F.col("id"), (F.col("id") % 1000).alias("k"), F.rand(7).alias("v")
    ).write.parquet(fact_p)
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("cat")
    ).write.parquet(dim_p)
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "1b"
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("cat") == 3)
        joined = fact.join(dim, "k").groupBy("cat").count()
        plan = formatted_plan(joined)
        assert "might_contain" in plan, (
            "no runtime bloom filter injected on the fact scan side"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_chunking_is_map_only(spark):
    """chunk_documents must stay a projection + one Generate — no
    exchange anywhere (the orderBy is the caller's, not the operator's)."""
    from lab_etl_batch_data_processing_pipeline__spark.operators import text

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    out = text.chunk_documents(docs, max_tokens=2, overlap=1)
    # strip the terminal presentation sort before plan inspection
    plan = formatted_plan(out.limit(10**9))
    body = plan.split("Sort")[0]
    assert "Generate" in plan
    assert "Exchange hashpartitioning" not in body


def test_session_window_single_shuffle(spark):
    """The native session_window aggregate: partial agg -> ONE user-key
    hash exchange -> MergingSessions -> final agg (the only other
    exchange is the terminal presentation sort's range partitioning)."""
    plan = formatted_plan(
        entrymod.queries()["session_window_rollup"](spark, SF)
    )
    assert "MergingSessions" in plan
    hash_exchanges = [
        l for l in plan.splitlines() if "hashpartitioning(" in l
    ]
    assert len(hash_exchanges) == 1 and "user_id" in hash_exchanges[0]


def test_weighted_median_single_shuffle(spark):
    """The r13 rewrite's claim: ONE key-hash exchange total — the two
    windows share it and the conditional-aggregate selection runs on
    the window's output partitioning without re-shuffling (the pre-r13
    filter + row_number + join-back form shuffled and scanned the
    projection twice)."""
    plan = formatted_plan(entrymod.queries()["price_weighted_median"](spark, SF))
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hash_exchanges) == 1 and "key" in hash_exchanges[0]
    assert "Join" not in plan  # selection is an aggregate, not a join-back


def test_scd2_single_shuffle_shared_by_both_windows(spark):
    """scd2_history's SCALE claim: both window passes (change detect +
    range close) reuse ONE user-key hash partitioning — no second
    exchange, no join."""
    plan = formatted_plan(entrymod.queries()["scd2_user_state"](spark, SF))
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hash_exchanges) == 1 and "user_id" in hash_exchanges[0]
    assert "Join" not in plan


def test_cdc_apply_single_shuffle_no_join(spark):
    """apply_changelog's MERGE shape: union + ONE ranking window hashed
    on the key — never a snapshot-vs-changes join (which would shuffle
    both sides separately and double the exchange mass at 100 TB)."""
    plan = formatted_plan(entrymod.queries()["orders_cdc_apply"](spark, SF))
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hash_exchanges) == 1 and "o_orderkey" in hash_exchanges[0]
    assert "Join" not in plan
    assert "Union" in plan


def test_mad_outliers_single_shuffle_no_joins(spark):
    """The r13 rewrite's claim: median and MAD picks are min-over-WHEN
    window aggregates sharing ONE key-hash exchange — no join-backs,
    no re-scan (the pre-r13 form scanned the input three times and
    shuffled three times for bit-identical values)."""
    plan = formatted_plan(entrymod.queries()["events_mad_outliers"](spark, SF))
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hash_exchanges) == 1
    assert "Join" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1


def test_winsorized_single_shuffle_no_joins(spark):
    """r13 rewrite pin (same idiom as weighted_median/mad_outliers):
    cut picks ride min-over-WHEN window aggregates on the ONE key-hash
    exchange; no join back to a second scan."""
    plan = formatted_plan(entrymod.queries()["price_winsorized"](spark, SF))
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hash_exchanges) == 1
    assert "Join" not in plan
    assert plan.split("\n\n")[0].count("Scan parquet") == 1


def test_cohort_retention_single_scan_no_joins(spark):
    """r13 rewrite pin: collect_set(month) per user -> map-side explode
    to cells -> dimension-sized aggregate + cohort window. ONE scan,
    ONE data-sized (user) exchange, the rest month²-grain; no join back
    to the user frame (the pre-r13 form scanned the input three times)."""
    plan = formatted_plan(
        entrymod.queries()["customer_cohort_retention"](spark, SF)
    )
    assert "Join" not in plan
    assert plan.split("\n\n")[0].count("Scan parquet") == 1
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    data_sized = [l for l in hash_exchanges if "user" in l]
    assert len(data_sized) == 1 and len(hash_exchanges) == 3
    # r14 NULL-contract pin: the ignore-NULL-timestamps filter must
    # reach the scan as a pushed source filter (filtering the raw ts
    # column), not sit post-scan on the derived month expression
    assert "PushedFilters: [IsNotNull(o_orderdate)]" in plan


def test_normalize_text_is_map_only(spark):
    # zero-width/control strip + CRLF + collapse + NFC pandas_udf: one
    # projection chain, no shuffle besides the terminal orderBy range
    plan = formatted_plan(entrymod.queries()["doc_normalize"](spark, SF))
    assert "hashpartitioning" not in plan
    assert "ArrowEvalPython" in plan  # the NFC step is Arrow-batched


def test_char_lm_scoring_join_broadcasts_prob_table(spark):
    # the gram-probability table (alphabet^n-bounded) must broadcast
    # into the corpus gram stream — the scoring side never hash-shuffles
    # on gram; gram exchanges are allowed only for the COUNT aggregates
    plan = formatted_plan(entrymod.queries()["char_lm_scores"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Generate") >= 2  # barrier explode + gram explode


def test_pq_probe_broadcasts_lut_and_shortlist(spark):
    # probe path: per-query LUT broadcast into the encoded corpus, then
    # the rerank shortlist + query vectors broadcast into the corpus —
    # the corpus-sized sides never shuffle for any of the three joins
    q = entrymod.queries()["ann_cosine_pq"]
    plan = formatted_plan(q(spark, SF))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 3
    assert "SortMergeJoin" not in plan


def test_resample_windows_share_key_partitioning(spark):
    # the (key, tick) ranking window and the per-key ffill window are
    # both hash exchanges in the key family; the grid sequence explode
    # appears as a Generate over the dimension-sized span frame
    plan = formatted_plan(entrymod.queries()["events_resampled"](spark, SF))
    assert "Generate" in plan
    assert "Window" in plan


def test_histogram_counts_use_partial_aggregation(spark):
    # bin counting must map-side combine before the one bin-key exchange
    plan = formatted_plan(entrymod.queries()["price_histogram"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_orc_scan_pushes_filters_and_prunes_columns(spark):
    """ORC scans must keep the parquet pushdown story: predicate reaches
    the ORC reader, untouched columns stay out of ReadSchema."""
    import os
    from lab_etl_batch_data_processing_pipeline__spark.sources import read_orc, write_orc

    entrymod.queries()["orc_roundtrip"](spark, SF)  # materialize the cache
    tag = entrymod._gen_tag(SF, "part.parquet")
    orc_dir = os.path.join(
        os.path.dirname(os.path.abspath(entrymod.__file__)), ".cache", "orc", tag
    )
    df = read_orc(spark, orc_dir).filter("p_size > 20").select("p_partkey", "p_size")
    plan = formatted_plan(df)
    assert "PushedFilters" in plan and "p_size" in plan.split("PushedFilters", 1)[1]
    scan_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "p_name" not in scan_schema and "p_retailprice" not in scan_schema


def test_snapshot_diff_is_single_join_no_cartesian(spark):
    plan = formatted_plan(entrymod.queries()["orders_snapshot_diff"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Join type:") == 1, (
        "snapshot_diff must be exactly one keyed full-outer join"
    )
    assert "FullOuter" in plan


def test_tfidf_cosine_has_no_cartesian_and_partial_aggs(spark):
    """The sparse similarity join must stay an equi-join on token (no
    cartesian product) with map-side partial aggregation on the integer
    dot sums. The only nested-loop joins allowed are the deliberate
    single-row n_docs broadcasts (the tfidf no-precount pattern)."""
    plan = formatted_plan(entrymod.queries()["tfidf_cosine_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    # every BNLJ must be the bounded single-row count join
    detail = plan.split("Join type:")
    for seg in detail[1:]:
        if seg.lstrip().startswith("Cross"):
            assert "n_docs" in seg.splitlines()[1], (
                "cross join with a non-single-row side"
            )
    assert "HashAggregate" in plan


def test_duplicate_spans_single_gram_shuffle_no_cartesian(spark):
    """The substring-dedup pipeline must stay a LINEAR pipeline of
    shuffles: no cartesian/nested-loop join anywhere, exactly one
    gram-keyed window (the min-doc marking pass — NOT the measured-slower
    groupBy + join-back shape, which scans and gram-generates the corpus
    twice) plus the per-doc islands window."""
    plan = formatted_plan(entrymod.queries()["dup_span_report"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # both windows present, no self-join of the gram table
    assert plan.count("Window") >= 2
    assert "Join type:" not in plan, (
        "span marking must be the window-min form, not a gram self-join"
    )
    # one scan of documents only (the window form's whole point);
    # formatted mode lists each node twice (tree + detail section)
    assert plan.count("Scan parquet") <= 2


def test_remove_duplicate_spans_map_side_removal(spark):
    """Cleaned-text removal joins each doc with its own span list once —
    one equi-join on doc_id, no token-row explosion joins, no cartesian."""
    plan = formatted_plan(entrymod.queries()["substring_dedup"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Scan parquet") <= 4  # spans pass + doc rejoin (x2 each)


def test_containment_no_cartesian_slim_postings(spark):
    """The containment pipeline must stay equi-joins: posting join +
    two set-fetch joins, never a cartesian/nested-loop; the shingle-set
    arrays must NOT ride the exploded posting side (the measured 19 s ->
    1.2 s fix) — pinned by the posting join carrying no array-typed key
    columns."""
    plan = formatted_plan(entrymod.queries()["containment_near_dups"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Generate" in plan  # the barrier + posting explode


def test_pagerank_reuses_checkpointed_statics(spark):
    """The unrolled 5-round plan must read the checkpointed edge/node
    RDDs (ExistingRDD scans), not re-execute the orders x lineitem
    edge-building join per round."""
    plan = formatted_plan(entrymod.queries()["transaction_pagerank"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the edge-building parquet join happens before the checkpoint, so
    # the terminal plan contains NO parquet scan at all
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan


def test_bloom_probe_is_filter_not_join(spark):
    """The bloom membership test must be expression work on a broadcast
    one-row bitmap (a single bounded nested-loop), never a shuffle of
    the fact side against the key set."""
    from pyspark.sql import functions as F

    from lab_etl_batch_data_processing_pipeline__spark.operators.joins import (
        bloom_filter_build,
        bloom_semi_filter,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    dim = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    words = bloom_filter_build(dim, "l_orderkey", m_bits=1 << 14)
    plan = formatted_plan(bloom_semi_filter(li, "l_orderkey", words))
    # exactly one nested-loop: the bounded 1-row bitmap broadcast
    # (formatted mode lists each node twice — tree + detail section)
    assert plan.count("BroadcastNestedLoop") <= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "shiftright" in plan  # the bit test reached the filter


def test_zorder_value_hand_interleave(spark):
    from pyspark.sql import functions as F

    from lab_etl_batch_data_processing_pipeline__spark.operators.layout import (
        zorder_value,
    )

    df = spark.createDataFrame([(3, 1), (0, 0), (5, 2)], ["a", "b"])
    out = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", zorder_value(F.col("a"), F.col("b"), bits=4).alias("z")
        ).collect()
    }
    # a=0b11, b=0b01 -> bits z0=a0=1, z1=b0=1, z2=a1=1, z3=b1=0 -> 0b0111
    assert out[(3, 1)] == 0b0111
    assert out[(0, 0)] == 0
    # a=0b101, b=0b010 -> z0=1 z1=0 z2=0 z3=1 z4=1 z5=0 -> 0b011001 = 25
    assert out[(5, 2)] == 0b011001


def test_zorder_write_narrows_file_ranges(spark, tmp_path):
    """The clustering receipt on a balanced 64x64 grid: after
    zorder_write, per-file min/max spans on BOTH dimensions cover far
    less than the full domain (which is what lets footer stats prune
    scans on either column) — a single-column sort would give full-
    domain spans on the other dimension. (Dimensions of very unequal
    bit width degrade toward a single-column sort on the wide one —
    the standard z-order caveat; pad/scale dims before interleaving.)"""
    import glob as _g

    import pyarrow.parquet as pq

    from lab_etl_batch_data_processing_pipeline__spark.operators.layout import (
        zorder_write,
    )

    grid = spark.range(64 * 64).selectExpr(
        "id", "id % 64 AS a", "id DIV 64 AS b"
    )
    dest = str(tmp_path / "zordered")
    zorder_write(grid, dest, "a", "b", bits=6, n_files=8)

    spans_a, spans_b = [], []
    for f in _g.glob(f"{dest}/*.parquet"):
        md = pq.read_metadata(f)
        cols = {md.schema.column(c).name: c for c in range(md.num_columns)}
        for name, spans in (("a", spans_a), ("b", spans_b)):
            lo = min(md.row_group(i).column(cols[name]).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(cols[name]).statistics.max
                     for i in range(md.num_row_groups))
            spans.append(hi - lo)
    assert len(spans_a) >= 4
    # full domain span is 63. repartitionByRange SAMPLES its boundaries,
    # so a couple of files may straddle z-quadrant seams (and under a
    # one-column sort the OTHER dimension would span ~63 in EVERY
    # file) — the pinned property is that most files stay within ~half
    # the domain on BOTH dimensions.
    for spans in (spans_a, spans_b):
        narrow = sum(1 for s in spans if s <= 40)
        assert narrow >= len(spans) - 2, spans


def test_attribution_is_one_keyed_join_no_cartesian(spark):
    """Multi-touch attribution must join touches to conversions as ONE
    user-keyed equi-join with the lookback range as a join filter —
    never a cartesian/BNLJ pair enumeration."""
    plan = formatted_plan(
        entrymod.queries()["purchase_attribution"](spark, SF)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Join type:") == 1, (
        "attribution must be exactly one keyed touch-conversion join"
    )
    assert "HashAggregate" in plan


def test_skyline_is_frontier_semi_join_not_dominance_self_join(spark):
    """The skyline must run as frontier reduction: a hash aggregate on
    the max dimension, then a broadcast LEFT SEMI join back — the O(n²)
    NOT-EXISTS dominance form (what the oracle runs) must never appear
    as a cartesian/BNLJ in the Spark plan."""
    plan = formatted_plan(entrymod.queries()["part_skyline"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "HashAggregate" in plan


def test_chi_square_single_data_sized_aggregate(spark):
    """The chi-square gate's only data-sized pass is the contingency
    cell build; the densify joins (distinct-a x distinct-b grid, left
    join of observed cells) and margin windows all run over
    dimension-sized frames. The identical observed-cells subtrees must
    collapse to exchange reuse, not three scans of the fact table."""
    plan = formatted_plan(entrymod.queries()["events_chi2"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Window" in plan
    # the obs aggregate feeds grid-a, grid-b, and the left join — the
    # checkpointed cells frame must keep the FACT scan single-pass
    # (without it Catalyst re-plans each consumer as its own scan)
    assert "Scan parquet" not in plan, (
        "densify must read the checkpointed obs frame, not rescan facts"
    )
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


# ---------------------------------------------------------------------------
# Plan-shape regression gate over the most expensive bench keys.
#
# The invariants SCALE.md claims for the hot keys must hold in the STATIC
# plan on every run. The key list is pinned (the ten slowest keys of a
# once-measured full registry run, plus the ANN family whose crossJoins
# carry a documented allowance) rather than read from a timing file, so
# the gate is deterministic under git.
#
# BNLJ allowance: a formatted plan prints each operator in the tree AND in
# the operator-detail section, so one physical BroadcastNestedLoopJoin
# counts twice. Allowed BNLJs are exclusively broadcast 1-row frames
# (hyperplane weights, PQ codebooks, IVF centroid tables — see
# operators/similarity.py) whose build side is constant-size at any SF.
# ---------------------------------------------------------------------------

# key -> max allowed BroadcastNestedLoopJoin mentions in the formatted plan
# (2 mentions == 1 physical operator). Every other key must have zero.
_PLAN_GATE_KEYS = {
    "embedding_kmeans": 0,
    "near_dup_clusters": 0,
    "transaction_pagerank": 0,
    "training_batches": 0,
    "training_mix": 0,
    "copurchase_triangles": 0,
    "streaming_user_totals": 0,
    "recipe_training_mix": 0,
    "doc_normalize": 0,
    "corpus_prep": 0,
    # ANN family: documented 1-row broadcast side-data crossJoins only.
    "ann_cosine_topk": 2,   # 1 physical: broadcast query-matrix frame
    "ann_cosine_lsh": 4,    # 2 physical: hyperplane weights x (corpus, queries)
    "ann_cosine_ivf": 4,    # 2 physical: centroid table x (corpus, queries)
    "ann_cosine_pq": 2,     # 1 physical: codebook frame
    "ann_cosine_ivfpq": 4,  # 2 physical: centroids + codebooks
}


@pytest.mark.parametrize("key", sorted(_PLAN_GATE_KEYS))
def test_hot_key_plan_shape(registry_builds, key):
    # sf0.001: plan SHAPE is SF-independent for these keys
    plan = registry_builds.plan(key)
    assert "CartesianProduct" not in plan, f"{key}: cartesian product appeared"
    bnlj = plan.count("BroadcastNestedLoopJoin")
    assert bnlj <= _PLAN_GATE_KEYS[key], (
        f"{key}: {bnlj} BroadcastNestedLoopJoin mentions "
        f"(allowed {_PLAN_GATE_KEYS[key]} — only documented 1-row "
        "side-data frames may nested-loop-join)"
    )
    # no row-at-a-time Python in any hot path: BatchEvalPython is the
    # classic 100x regression; Arrow forms (ArrowEvalPython / mapInPandas
    # / FlatMapGroupsInPandas) are the only sanctioned Python operators.
    assert "BatchEvalPython" not in plan, (
        f"{key}: row-at-a-time Python UDF in a hot-path plan"
    )


def test_benford_densify_does_not_inline_digit_case_into_filter(spark):
    """The union-densify form: no join exists, so no isnotnull(join key)
    constraint can push below the count aggregate and inline the
    16-branch digit CASE (with its per-branch decimal cents math) into
    a pre-scan Filter — the measured 6x data-stage regression of the
    left-join form."""
    plan = formatted_plan(entrymod.queries()["price_benford"](spark, SF))
    assert "Join type:" not in plan, "benford must stay join-free"
    filter_lines = [
        l for l in plan.splitlines() if "isnotnull(CASE" in l
    ]
    assert not filter_lines, "digit CASE re-inlined into a null filter"


# ---------------------------------------------------------------------------
# Standing all-registry pushdown audit (r14 verdict task 3).
#
# The r14 round ran a one-off programmatic audit of all 167 formatted
# plans and found zero filters sitting above a file scan with empty
# PushedFilters — this is that audit folded into the suite, so any
# future operator that regresses pushdown fails CI instead of waiting
# for the next manual audit. The regression fixture that motivated it:
# pre-f68abd0, customer_cohort_retention filtered NULL months ABOVE the
# scan (on the derived month column) and its orders scan showed
# `PushedFilters: []`; the rewrite moved the null guard to o_orderdate
# so it reaches the scan. This gate would have flagged exactly that.
#
# Scope: only FILE-source scans (parquet/csv/orc/json/text) are gated —
# post-checkpoint RDD scans (`Scan ExistingRDD`) have no pushdown API
# and legitimately carry filters above them, so they are excluded by
# construction rather than by allowlist.
# ---------------------------------------------------------------------------

_TREE_NODE_RE = re.compile(r"^[\s:+\-*]*([A-Za-z][\w ]*?)\s*\((\d+)\)\s*$")
_SCAN_DETAIL_RE = re.compile(r"^\((\d+)\)\s+Scan (\w+)")
# pass-through unary wrappers between a Filter and the scan it reads
_PASSTHROUGH = {"ColumnarToRow", "InputAdapter", "WholeStageCodegen"}
_FILE_SOURCES = {"parquet", "csv", "orc", "json", "text"}


#: first-argument column of each pushed predicate, e.g.
#: 'GreaterThan(o_totalprice,100.0)' -> o_totalprice; nested wrappers
#: (Not/Or/And) don't match at their own paren (next char is another
#: call, not an identifier followed by ',' or ')').
_PUSHED_COL_RE = re.compile(r"\(([A-Za-z_][A-Za-z0-9_.]*)[,)]")
#: conjunct shapes a file source could push if handed them: a bare
#: column (no cast, no derived expression) under a null test, a
#: comparison against a column-free literal, an IN literal list, or a
#: string prefix/suffix/contains probe. Anything else (derived exprs,
#: casts, UDF-ish calls) is treated as legitimately un-pushable.
_PUSHABLE_CONJUNCT_RES = (
    re.compile(r"^isnot?null\((\w+)#\d+[A-Za-z]*\)$"),
    re.compile(r"^(\w+)#\d+[A-Za-z]*\s*(?:=|>|<|>=|<=|<=>)\s*[^#()]+$"),
    re.compile(r"^(\w+)#\d+[A-Za-z]*\s+IN\s+\([^#()]*\)$"),
    re.compile(r"^(?:StartsWith|EndsWith|Contains)\((\w+)#\d+[A-Za-z]*,\s*[^#()]*\)$"),
)


def _strip_outer_parens(p: str) -> str:
    """Strip balanced outer paren pairs: '((a AND b))' -> 'a AND b'."""
    while p.startswith("(") and p.endswith(")"):
        depth = 0
        balanced = True
        for j, ch in enumerate(p):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0 and j < len(p) - 1:
                balanced = False
                break
        if not balanced:
            return p
        p = p[1:-1].strip()
    return p


def _split_conjuncts(cond: str) -> list[str]:
    """Flatten a Condition string into its AND-tree leaves: split on
    top-level ' AND ' (paren depth 0), strip each part's outer parens,
    and recurse — Spark prints nested binary ANDs, so a flat 3-conjunct
    condition reads '((a AND b) AND c)'."""
    cond = _strip_outer_parens(cond.strip())
    parts, depth, start = [], 0, 0
    i = 0
    while i < len(cond):
        ch = cond[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and cond.startswith(" AND ", i):
            parts.append(cond[start:i])
            i += 5
            start = i
            continue
        i += 1
    parts.append(cond[start:])
    if len(parts) == 1:
        return [_strip_outer_parens(parts[0].strip())]
    out: list[str] = []
    for p in parts:
        out.extend(_split_conjuncts(p))
    return out


def _pushable_conjunct_col(conjunct: str) -> str | None:
    """The column name if this conjunct has a shape a file source could
    push (see _PUSHABLE_CONJUNCT_RES); None if it is derived/complex."""
    for rx in _PUSHABLE_CONJUNCT_RES:
        m = rx.match(conjunct)
        if m:
            return m.group(1)
    return None


def unpushed_filter_scans(plan: str) -> list[tuple[str, str, str]]:
    """(filter_node, scan_node, why) triples where a Filter sits
    directly above a file-source scan and pushdown has drifted:

    - ``why == 'PushedFilters: []'`` — nothing at all was pushed even
      though a predicate exists at scan level (the original r14 gate);
    - ``why == 'pushable conjunct not pushed: <c>'`` — PushedFilters is
      non-empty, but the Filter carries a top-level conjunct of a
      plainly pushable shape (bare scan column vs literal / null test /
      IN list / string probe) whose column appears in neither
      PushedFilters nor PartitionFilters — one conjunct reached the
      scan and a pushable sibling silently didn't (r15 verdict task 5).

    Scans with no PushedFilters line (no pushdown API, e.g. text) are
    exempt from the partial check by construction."""
    lines = plan.splitlines()
    # 1) detail sections, keyed by node id: scan kind, raw
    #    PushedFilters/PartitionFilters payloads, Filter Condition text
    empty_push: set[str] = set()
    pushed_raw: dict[str, str] = {}
    scan_kind: dict[str, str] = {}
    conditions: dict[str, str] = {}
    cur_scan = None
    cur_filter = None
    for ln in lines:
        m = _SCAN_DETAIL_RE.match(ln)
        if m:
            cur_scan, cur_filter = m.group(1), None
            scan_kind[cur_scan] = m.group(2).lower()
            continue
        fm = re.match(r"^\((\d+)\) Filter\b", ln)
        if fm:
            cur_filter, cur_scan = fm.group(1), None
            continue
        if ln.startswith("(") and ") " in ln[:8]:
            cur_scan = cur_filter = None  # a different node's section
        if cur_scan is not None:
            st = ln.strip()
            if st == "PushedFilters: []":
                empty_push.add(cur_scan)
            elif st.startswith("PushedFilters: ["):
                pushed_raw[cur_scan] = (
                    pushed_raw.get(cur_scan, "") + st[len("PushedFilters: ") :]
                )
            elif st.startswith("PartitionFilters: ["):
                # partition predicates are consumed here, not in
                # PushedFilters — count them as pushed
                pushed_raw[cur_scan] = (
                    pushed_raw.get(cur_scan, "")
                    + st[len("PartitionFilters: ") :]
                )
        if cur_filter is not None:
            st = ln.strip()
            if st.startswith("Condition : "):
                conditions[cur_filter] = st[len("Condition : ") :]
    # 2) tree walk: preorder; a unary node's child is the next tree line
    tree: list[tuple[str, str]] = []
    for ln in lines:
        if ln.startswith("=="):
            continue
        m = _TREE_NODE_RE.match(ln)
        if m:
            tree.append((m.group(1).strip(), m.group(2)))
        if not ln.strip():
            break  # tree section ends at the first blank line
    bad: list[tuple[str, str, str]] = []
    for i, (name, fid) in enumerate(tree):
        if name != "Filter":
            continue
        j = i + 1
        while j < len(tree) and tree[j][0] in _PASSTHROUGH:
            j += 1
        if j >= len(tree):
            continue
        child, cid = tree[j]
        if not (child.startswith("Scan ") and scan_kind.get(cid) in _FILE_SOURCES):
            continue
        if cid in empty_push:
            bad.append((f"Filter ({fid})", f"{child} ({cid})", "PushedFilters: []"))
            continue
        raw = pushed_raw.get(cid)
        if raw is None:
            continue  # no pushdown line at all: source has no API
        # PushedFilters uses predicate-call syntax (EqualTo(col,v));
        # PartitionFilters uses expression syntax (col#9 = EU) — the
        # union of both extractions covers either payload
        pushed_cols = set(_PUSHED_COL_RE.findall(raw))
        pushed_cols.update(m.group(1) for m in re.finditer(r"(\w+)#\d+", raw))
        for conjunct in _split_conjuncts(conditions.get(fid, "")):
            col = _pushable_conjunct_col(conjunct)
            if col is not None and col not in pushed_cols:
                bad.append(
                    (
                        f"Filter ({fid})",
                        f"{child} ({cid})",
                        f"pushable conjunct not pushed: {conjunct}",
                    )
                )
    return bad


# key -> documented reason a filter may legitimately sit above a scan
# with nothing pushed. Empty today: every registry plan pushes at least
# one predicate whenever a filter touches a file scan. Add entries ONLY
# with a why-it-cannot-push justification.
_PUSHDOWN_AUDIT_ALLOW: dict[str, str] = {}


@pytest.fixture(scope="module")
def all_registry_plans(registry_builds):
    """Formatted static plans for EVERY registry key at sf0.001 (plan
    shape is SF-independent; builders that run eager probe jobs run
    them at the tiny SF), reusing the parity test's builds."""
    return {key: registry_builds.plan(key) for key in entrymod.queries()}


def test_every_registry_plan_pushes_filters(all_registry_plans):
    violations = {}
    for key, plan in all_registry_plans.items():
        if key in _PUSHDOWN_AUDIT_ALLOW:
            continue
        bad = unpushed_filter_scans(plan)
        if bad:
            violations[key] = bad
    assert not violations, (
        "filter above a file scan with PushedFilters: [] — the predicate "
        f"never reached the scan: {violations}"
    )


def test_unpushed_filter_parser_detects_the_bad_shape():
    """Self-test for the audit parser: a gate that silently parses
    nothing passes everything, so pin BOTH directions on synthetic
    formatted-plan text — the pre-f68abd0 cohort shape (Filter above a
    parquet scan with PushedFilters: []) must be detected; the fixed
    shape (non-empty PushedFilters) and an RDD scan must not be."""
    bad = """== Physical Plan ==
* HashAggregate (4)
+- * Filter (3)
   +- * ColumnarToRow (2)
      +- Scan parquet  (1)

(1) Scan parquet
Output [2]: [o_custkey#1, o_orderdate#2]
Batched: true
Location: InMemoryFileIndex [file:/x/orders.parquet]
PushedFilters: []
ReadSchema: struct<o_custkey:bigint,o_orderdate:date>

(3) Filter [codegen id : 1]
Input [2]: [o_custkey#1, o_orderdate#2]
Condition : isnotnull(date_trunc(month, o_orderdate#2))
"""
    hits = unpushed_filter_scans(bad)
    assert hits == [("Filter (3)", "Scan parquet (1)", "PushedFilters: []")]

    good = bad.replace(
        "PushedFilters: []", "PushedFilters: [IsNotNull(o_orderdate)]"
    )
    assert unpushed_filter_scans(good) == []

    rdd = """== Physical Plan ==
* Filter (2)
+- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [1]: [node_id#1]

(2) Filter
Condition : isnotnull(node_id#1)
"""
    assert unpushed_filter_scans(rdd) == []


def test_unpushed_filter_parser_detects_partial_pushdown_drift():
    """r15 verdict task 5: the gate must also catch PARTIAL drift — a
    non-empty PushedFilters that silently omits a pushable sibling
    conjunct (bare scan column vs literal). Both directions pinned on
    synthetic formatted-plan text, plus the legitimate negatives: a
    derived-expression conjunct is not flaggable, and a partition-
    column conjunct consumed by PartitionFilters counts as pushed."""
    partial = """== Physical Plan ==
* HashAggregate (4)
+- * Filter (3)
   +- * ColumnarToRow (2)
      +- Scan parquet  (1)

(1) Scan parquet
Output [3]: [o_custkey#1L, o_orderdate#2, o_status#3]
Batched: true
Location: InMemoryFileIndex [file:/x/orders.parquet]
PartitionFilters: [isnotnull(o_region#9), (o_region#9 = EU)]
PushedFilters: [IsNotNull(o_orderdate)]
ReadSchema: struct<o_custkey:bigint,o_orderdate:date>

(3) Filter [codegen id : 1]
Input [3]: [o_custkey#1L, o_orderdate#2, o_status#3]
Condition : ((isnotnull(o_orderdate#2) AND (o_status#3 = F)) AND (length(o_status#3) > 0))
"""
    hits = unpushed_filter_scans(partial)
    assert hits == [
        (
            "Filter (3)",
            "Scan parquet (1)",
            "pushable conjunct not pushed: o_status#3 = F",
        )
    ], hits  # the derived length(...) conjunct must NOT be flagged

    fixed = partial.replace(
        "PushedFilters: [IsNotNull(o_orderdate)]",
        "PushedFilters: [IsNotNull(o_orderdate), EqualTo(o_status,F)]",
    )
    assert unpushed_filter_scans(fixed) == []

    # a partition-column conjunct above the scan is consumed by
    # PartitionFilters, not PushedFilters — must not be flagged
    part_cond = partial.replace(
        "Condition : ((isnotnull(o_orderdate#2) AND (o_status#3 = F)) AND (length(o_status#3) > 0))",
        "Condition : (isnotnull(o_orderdate#2) AND (o_region#9 = EU))",
    )
    assert unpushed_filter_scans(part_cond) == []

    # a source with no PushedFilters line at all (no pushdown API,
    # e.g. text) is exempt from the partial check by construction
    no_api = """== Physical Plan ==
* Filter (2)
+- Scan text  (1)

(1) Scan text
Output [1]: [value#1]
Location: InMemoryFileIndex [file:/x/docs.txt]
ReadSchema: struct<value:string>

(2) Filter
Condition : (value#1 = hello)
"""
    assert unpushed_filter_scans(no_api) == []

# ---------------------------------------------------------------------------
# Standing all-registry global-window audit (r16 verdict task 3).
#
# The r17 round retired the last single-task global/few-valued rank
# windows (customer_rfm, part_revenue_pareto, orders_rank_stats,
# acctbal_ntile → windows.global_rank_two_phase). This gate keeps the
# shape retired: any registry plan that runs a Window on a
# SinglePartition exchange — the physical signature of
# ``Window.orderBy`` with an empty partition spec, which funnels the
# whole frame through ONE task at 100 TB — fails CI unless the key is
# allowlisted with a documented size bound for the frame that reaches
# the window. The sweep log's "WindowExec: No Partition Defined"
# warnings are now a structural test instead of noise.
#
# Scope notes: the detector anchors on the EXCHANGE, not the window
# count — stacked windows over one sort flag as one site; a global
# window whose input needs no exchange because it is already reduced
# to a single partition (e.g. a rank over ``limit(k)`` output, the
# profiling top-k shape) is legitimately dimension-sized and does not
# flag by construction.
# ---------------------------------------------------------------------------

#: nodes that preserve the child's partitioning on the walk from a
#: Window down to the exchange that feeds it (all unary, all narrow)
_WINDOW_PASSTHROUGH = {
    "Sort",
    "Project",
    "Filter",
    "InputAdapter",
    "WholeStageCodegen",
    "ColumnarToRow",
    "Window",
    "WindowGroupLimit",
}


def global_window_exchanges(plan: str) -> set[str]:
    """Node ids of SinglePartition exchanges that feed a Window through
    partitioning-preserving nodes only — each is one single-task
    window site in the plan."""
    lines = plan.splitlines()
    tree: list[tuple[str, str]] = []
    for ln in lines:
        if ln.startswith("=="):
            continue
        m = _TREE_NODE_RE.match(ln)
        if m:
            tree.append((m.group(1).strip(), m.group(2)))
        if not ln.strip():
            break  # tree section ends at the first blank line
    single: set[str] = set()
    cur = None
    for ln in lines:
        m = re.match(r"^\((\d+)\) Exchange\b", ln)
        if m:
            cur = m.group(1)
            continue
        if ln.startswith("(") and ") " in ln[:8]:
            cur = None  # a different node's detail section
        if cur and ln.strip().startswith("Arguments: SinglePartition"):
            single.add(cur)
    sites: set[str] = set()
    for i, (name, _nid) in enumerate(tree):
        if name != "Window":
            continue
        j = i + 1
        while j < len(tree) and tree[j][0] in _WINDOW_PASSTHROUGH:
            j += 1
        if j < len(tree) and tree[j][0] == "Exchange" and tree[j][1] in single:
            sites.add(tree[j][1])
    return sites


# key -> (max allowed single-task window sites, documented size bound
# of the frame the window sees). Every entry must name WHY the frame
# is dimension-sized, not data-scaled; grow a count ONLY with a new
# justification. The r17 audit over all 169 plans found exactly these.
_GLOBAL_WINDOW_ALLOW: dict[str, tuple[int, str]] = {
    "pack_offsets": (
        1,
        "phase-2 running offsets over per-BUCKET totals — <= 256 rows "
        "(one md5 byte drives the bucket), operators/text.py pack_offsets",
    ),
    "training_batches": (
        1,
        "same pack_offsets phase-2 shape inside training-sequence "
        "packing: buckets-row frame, never documents",
    ),
    "corpus_mixture": (
        1,
        "equal-share branch counts SOURCES (per-source aggregate "
        "frame, source dimension) — operators/text.py mixture_sample",
    ),
    "revenue_growth_monthly": (
        1,
        "LAG over calendar-MONTH totals — frame bounded by the "
        "calendar, operators/metrics.py period_growth",
    ),
    "price_benford": (
        1,
        "share denominator over the 9-row first-digit frame — "
        "operators/profiling.py benford",
    ),
    "session_depth": (
        1,
        "share denominator over the depth histogram (<= max_depth "
        "rows, default 20) — operators/sessions.py session_depth",
    ),
    "events_chi2": (
        1,
        "row/col/grand totals over the |a|x|b| contingency grid — "
        "alphabet-squared frame, operators/profiling.py chi2",
    ),
    "part_skyline": (
        1,
        "frontier min over DISTINCT bucketed max_col values (the "
        "groupBy key) — dimension-sized by the operator's documented "
        "bucket-first contract, operators/joins.py skyline",
    ),
}


def test_no_single_task_windows_over_data_scaled_frames(all_registry_plans):
    """r16 verdict task 3: no registry plan may run a Window over a
    SinglePartition exchange unless the key documents a dimension-size
    bound in _GLOBAL_WINDOW_ALLOW (and then no MORE sites than
    documented). The four r17 rank-family rewrites must stay clean —
    their two-phase offsets ride a bounded self-JOIN precisely so this
    gate needs no entry for them."""
    violations = {}
    for key, plan in all_registry_plans.items():
        n = len(global_window_exchanges(plan))
        allowed = _GLOBAL_WINDOW_ALLOW.get(key, (0, ""))[0]
        if n > allowed:
            violations[key] = (n, allowed)
    assert not violations, (
        "single-task global window over a possibly data-scaled frame "
        "(sites > allowlisted): {v} — rewrite onto "
        "windows.global_rank_two_phase (or the pack_offsets two-phase "
        "prefix sum) or document the frame's size bound in "
        "_GLOBAL_WINDOW_ALLOW".format(v=violations)
    )
    for key in ("customer_rfm", "part_revenue_pareto",
                "orders_rank_stats", "acctbal_ntile"):
        assert key not in _GLOBAL_WINDOW_ALLOW
        assert not global_window_exchanges(all_registry_plans[key])


def test_global_window_detector_detects_the_bad_shape():
    """Self-test for the audit parser, both directions on synthetic
    formatted-plan text: the retired shape (Window over Sort over
    Exchange SinglePartition) must be detected, stacked windows over
    one exchange must count ONCE, and the healthy shapes — a
    hash-partitioned window, a single-partition exchange feeding a
    global AGGREGATE — must not flag."""
    bad = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- Window (4)
   +- * Sort (3)
      +- Exchange (2)
         +- Scan parquet  (1)

(2) Exchange
Input [2]: [a#1, b#2]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]
"""
    assert global_window_exchanges(bad) == {"2"}

    stacked = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- Window (5)
   +- Window (4)
      +- * Sort (3)
         +- Exchange (2)
            +- Scan parquet  (1)

(2) Exchange
Input [2]: [a#1, b#2]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]
"""
    assert global_window_exchanges(stacked) == {"2"}

    partitioned = bad.replace(
        "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]",
        "Arguments: hashpartitioning(g#1L, 32), ENSURE_REQUIREMENTS, [plan_id=12]",
    )
    assert global_window_exchanges(partitioned) == set()

    # the global-aggregate shape: Exchange SinglePartition feeding a
    # HashAggregate (map-side combine already reduced the frame) —
    # there is no Window above it, so it must not flag
    agg = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- * HashAggregate (4)
   +- Exchange (3)
      +- * HashAggregate (2)
         +- Scan parquet  (1)

(3) Exchange
Input [1]: [sum#9L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
"""
    assert global_window_exchanges(agg) == set()
