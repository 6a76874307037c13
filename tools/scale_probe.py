"""Synthesized-10x scale probe for the structural claims SCALE.md makes
about the expensive operator families: block_cap sub-blocking,
containment slim postings, substring dedup gram shuffle, semantic-dedup
cell sizing (r9 claims), ANN probe paths + CC (r11 task 5), the
iterative/graph/funnel family — pagerank, triangles, k-means,
corpus_prep (r12) — and the stateful/temporal family — SCD2
compression, CDC merge, point-in-time join, native session windows
(r13, key-strided events synth).

No sf1.0 testdata exists, so this builds one: 10 replicas of the sf0.1
documents/embeddings tables, ids shifted per replica and every TOKEN
namespaced with a replica suffix ("the" -> "the_r3"). Namespacing makes
the replica universes token-disjoint, so the 10x corpus decomposes into
10 independent copies of the sf0.1 problem — the ORGANIC-growth shape
(10x more blocks at the same block-size distribution, including 10
copies of the fixture's ~3k-doc degenerate boilerplate block for the
block_cap path). A probe that instead replicated text verbatim would
multiply the per-doc near-dup density itself — the measured output
would grow ~100x by construction and say nothing about the operators.
The TPC-H side (graph ops) gets the same treatment: 10 key-strided
replicas of the orders/lineitem join columns — 10 disjoint transaction
universes, so the co-transaction and co-purchase graphs grow by nodes
and edges (organic), not by density.

Usage: python tools/scale_probe.py [base_sf_dir] [op_substr ...]
Trailing args filter ops by substring (e.g. `pagerank triangles`);
no filter runs everything. Run with SPARK_GRAFT_DRIVER_MEM=16g: the
probe packs 10x data into ONE local JVM whose heap plays executor for
32 task threads — the 4g session default (sized for sf0.1) heap-OOMs
on the 10x funnel/graph ops. Both scales run in the same JVM either
way, so the measured ratios are heap-size-fair. Prints one JSON line:
{op: {"sf0.1": [s, s], "x10": [s, s], "ratio_steady": r,
"out_rows": [n, n10]}} — two timed runs per scale in one warm JVM;
ratio_steady = x10 run2 / sf0.1 run2.

Knobs (r14): SPARK_GRAFT_PROBE_REPLICAS=100 runs the second decade
(labels become "x100"); the `cc_edges` op self-scales x1/x10/x100 by
edge striding in one invocation. For the 100x decades also set
SPARK_GRAFT_DRIVER_JAVA_OPTS="-XX:+UnlockDiagnosticVMOptions
-XX:GCLockerRetryAllocationCount=100" — at default GCLocker settings
32 task threads inside JNI-critical sections can fail tasks
spuriously mid-cache-write (SCALE.md Round-14, one-JVM capacity
finding).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lab_etl_batch_data_processing_pipeline__spark.session import get_spark
from lab_etl_batch_data_processing_pipeline__spark.operators import (
    clustering,
    dedup_fuzzy,
    graph,
    joins,
    metrics,
    profiling,
    scd,
    similarity,
    windows,
)
from lab_etl_batch_data_processing_pipeline__spark.plans import corpus as corpus_plans

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# SPARK_GRAFT_PROBE_REPLICAS=100 runs the 100x decade (r13 verdict task
# 6: the apply_changelog / CC trends needed a second decade to rule out
# superlinearity hiding inside one) — the synth dir tag and the recipe
# marker both carry the value, so decades never cross-contaminate.
REPLICAS = int(os.environ.get("SPARK_GRAFT_PROBE_REPLICAS", "10"))
ID_STRIDE = 10_000_000
XN = f"x{REPLICAS}"  # the scaled label in the report ("x10" / "x100")

# Probe input/base frames are localCheckpoints, and DataFrame.unpersist
# is a SILENT NO-OP on those (measured r18 — see graph._unckpt): before
# r18 every retired decade's strided input stayed pinned for the rest
# of the sweep, so later decades ran against a shrunken storage pool /
# fuller checkpoint disk (exactly the resource the DISK_ONLY capacity
# runs are squeezed on). All probe releases go through graph._unckpt.


def synth_dir(base_sf: str) -> str:
    st = os.stat(os.path.join(base_sf, "documents.parquet"))
    tag = (
        f"{os.path.basename(os.path.normpath(base_sf))}"
        f"-{int(st.st_mtime)}-{st.st_size}-x{REPLICAS}"
    )
    return os.path.join(_REPO_ROOT, ".cache", "scaleprobe", tag)


def _recipe_valid(out: str, recipe: dict) -> bool:
    """Gate a synth dir on its FULL build recipe, not a bare sentinel:
    the pre-r14 'ok' marker recorded no params, so changing REPLICAS,
    ID_STRIDE, or the slim column projection silently reused a stale
    corpus and produced wrong scale ratios (r13 ADVICE). A marker that
    is missing, unreadable, legacy-format, or records ANY differing
    param invalidates the dir (these dirs are cheap to rebuild, so stale
    always rebuilds)."""
    try:
        with open(os.path.join(out, "_BUILT")) as fh:
            return json.load(fh) == recipe
    except (OSError, ValueError):
        return False


def _stamp_recipe(out: str, recipe: dict) -> None:
    with open(os.path.join(out, "_BUILT"), "w") as fh:
        json.dump(recipe, fh, sort_keys=True)


def _fresh_dir(out: str, recipe: dict) -> bool:
    """True if the dir must be (re)built; clears any stale build, and
    sweeps SIBLING synth dirs superseded by a newer testdata generation
    of the same sf/replica count (the tag carries mtime+size, so every
    driver-regenerated testdata orphans the previous round's synth —
    at x100 that is multi-GB per family; same hygiene as
    artifacts._sweep_stale_cache, applied here because the probe, not
    prebuild_indexes, owns this cache family)."""
    import shutil

    parent = os.path.dirname(out)
    name = os.path.basename(out)  # '<sf>-<mtime>-<size>-xN[-suffix]'
    # Derive (sf, family-suffix) by matching the known '-<mtime>-<size>-
    # xN' tail, NOT by split('-') position: the sf tag may itself carry
    # dashes, and pre-r14 legacy dirs ('<sf>-<mtime>-<size>', no xN
    # segment) must still be recognized and swept or their multi-GB
    # contents leak forever (r14 ADVICE). The sf group is ANCHORED to
    # the known tag shape ('sf' + digits/dots, optional LETTER-LED
    # alphanumeric dash segments) rather than a greedy '.+' — a greedy
    # group could backtrack a '-<digits>'-ending sf tag into absorbing
    # the mtime segment and mis-group siblings (r15 ADVICE). Segments
    # are letter-led so the group still cannot absorb the pure-digit
    # mtime segment, but a versioned family tag like 'sf0.1-v2-...'
    # groups and retires instead of leaking with log noise on every
    # sweep (r16 ADVICE); non-matching siblings are logged, never
    # silently skipped forever.
    tail_re = re.compile(
        r"^(?P<sf>sf[\d.]+(?:-[a-z][a-z0-9]*)*)-\d+-\d+(?:-x\d+(?P<fam>(?:-\w+)?))?$"
    )
    m = tail_re.match(name)
    sf = m.group("sf") if m else name.split("-", 1)[0]
    fam = (m.group("fam") or "") if m else ""
    if os.path.isdir(parent):
        for sib in os.listdir(parent):
            if sib == name:
                continue
            sm = tail_re.match(sib)
            if not sm:
                print(
                    f"WARNING: synth sibling {sib!r} does not match the "
                    "'<sf>-<mtime>-<size>[-xN[-fam]]' tag shape — left "
                    "in place, clean up manually if it is stale",
                    file=sys.stderr,
                )
                continue
            if sm.group("sf") != sf:
                continue
            sib_fam = sm.group("fam")  # None = legacy pre-r14 (no xN)
            if sib_fam is None or sib_fam == fam:
                shutil.rmtree(os.path.join(parent, sib), ignore_errors=True)
    if _recipe_valid(out, recipe):
        return False
    shutil.rmtree(out, ignore_errors=True)
    return True


_DOCS_RECIPE = {
    "replicas": REPLICAS,
    "stride": ID_STRIDE,
    "columns": ["doc_id", "text(token-namespaced)", "lang", "source"],
}


def build_synth(spark, base_sf: str) -> str:
    out = synth_dir(base_sf)
    if not _fresh_dir(out, _DOCS_RECIPE):
        return out
    docs = spark.read.parquet(os.path.join(base_sf, "documents.parquet"))
    reps = spark.range(REPLICAS).select(F.col("id").alias("r"))
    big_docs = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("r") * ID_STRIDE).alias("doc_id"),
        F.array_join(
            F.transform(
                F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit("")),
                lambda t: F.concat(t, F.lit("_r"), F.col("r").cast("string")),
            ),
            " ",
        ).alias("text"),
        "lang",
        "source",
    )
    big_docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    emb = spark.read.parquet(os.path.join(base_sf, "embeddings.parquet"))
    big_emb = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("r") * ID_STRIDE).alias("vec_id"),
        # small per-replica rotation keeps within-replica neighbor
        # structure intact without making replicas exact duplicates
        F.transform(
            F.col("embedding"),
            lambda x: x + F.col("r").cast("float") * F.lit(0.001),
        ).alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    big_emb.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    _stamp_recipe(out, _DOCS_RECIPE)
    return out


_TPCH_RECIPE = {
    "replicas": REPLICAS,
    "stride": ID_STRIDE,
    "columns": [
        "o_orderkey", "o_custkey", "o_orderdate",
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_returnflag", "l_extendedprice", "l_quantity",
    ],
}


def build_synth_tpch(spark, base_sf: str) -> str:
    """Key-strided replicas of the orders/lineitem columns the graph
    AND selection-family probes read (slim projections keep the synth
    build IO-proportional; parquet column pruning keeps each probe's
    scan limited to its own columns). Striding every key by
    r*ID_STRIDE makes the replica transaction universes disjoint: the
    co-transaction graph gains REPLICAS x nodes and edges at the SAME
    degree distribution — organic growth, not densification (verbatim
    replication would multiply every node's degree by REPLICAS and the
    wedge volume by REPLICAS² by construction). The r14 additions ride
    the same shape: o_orderdate / l_returnflag / prices stay unstrided,
    so cohort months and return-flag groups keep their cardinality
    while rows-per-group grow REPLICAS x — the per-key selection
    stress the weighted_median / winsorized / cohort claims make."""
    out = synth_dir(base_sf) + "-tpch"
    if not _fresh_dir(out, _TPCH_RECIPE):
        return out
    reps = spark.range(REPLICAS).select(F.col("id").alias("r"))
    orders = spark.read.parquet(os.path.join(base_sf, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    orders.crossJoin(reps).select(
        (F.col("o_orderkey") + F.col("r") * ID_STRIDE).alias("o_orderkey"),
        (F.col("o_custkey") + F.col("r") * ID_STRIDE).alias("o_custkey"),
        "o_orderdate",
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet")
    )
    li = spark.read.parquet(os.path.join(base_sf, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_returnflag", "l_extendedprice", "l_quantity",
    )
    li.crossJoin(reps).select(
        (F.col("l_orderkey") + F.col("r") * ID_STRIDE).alias("l_orderkey"),
        (F.col("l_partkey") + F.col("r") * ID_STRIDE).alias("l_partkey"),
        (F.col("l_suppkey") + F.col("r") * ID_STRIDE).alias("l_suppkey"),
        "l_returnflag", "l_extendedprice", "l_quantity",
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet")
    )
    _stamp_recipe(out, _TPCH_RECIPE)
    return out


def _events_slim(spark, sf_dir: str):
    """The slim event projection the stateful + selection probes read:
    (user_id, event_id, ts_us BIGINT, event_type, value) with ts
    normalized to epoch micros at read time (sources.ensure_timestamp)
    so both scales feed identical BIGINT-keyed plans regardless of
    parquet ts encoding. ``value`` rides along unchanged per replica
    for the mad_outliers probe (r14): the per-type value distribution
    is identical at both scales, so the MAD cuts are scale-invariant
    and only the selection volume grows."""
    from lab_etl_batch_data_processing_pipeline__spark.sources import (
        ensure_timestamp,
        read_parquet,
    )

    ev = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros(ensure_timestamp(ev, "ts")).alias("ts_us"),
        "event_type",
        "value",
    )


_EVENTS_RECIPE = {
    "replicas": REPLICAS,
    "stride": ID_STRIDE,
    "columns": ["user_id", "event_id", "ts_us", "event_type", "value"],
}


def build_synth_events(spark, base_sf: str) -> str:
    """Key-strided replicas of the slim event projection: user_id and
    event_id stride by r*ID_STRIDE, timestamps/types/values stay —
    REPLICAS disjoint user universes with the SAME per-user event-count
    and state-change distributions (organic growth for the stateful
    family: REPLICAS x keys at flat per-key version counts, the shape
    that keeps SCD2/PIT linear; verbatim replication would multiply
    per-user observation density and the PIT fact x version mass by
    REPLICAS² by construction)."""
    out = synth_dir(base_sf) + "-events"
    if not _fresh_dir(out, _EVENTS_RECIPE):
        return out
    reps = spark.range(REPLICAS).select(F.col("id").alias("r"))
    _events_slim(spark, base_sf).crossJoin(reps).select(
        (F.col("user_id") + F.col("r") * ID_STRIDE).alias("user_id"),
        (F.col("event_id") + F.col("r") * ID_STRIDE).alias("event_id"),
        "ts_us",
        "event_type",
        "value",
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    _stamp_recipe(out, _EVENTS_RECIPE)
    return out


def timed(fn, runs: int = 2):
    times, rows = [], None
    for _ in range(runs):
        t0 = time.time()
        rows = fn()
        times.append(round(time.time() - t0, 2))
    return times, rows


def main() -> None:
    args = sys.argv[1:]
    base_sf = "/root/testdata/sf0.1"
    if args and (os.path.sep in args[0] or os.path.isdir(args[0])):
        base_sf = args.pop(0)
    op_filters = args  # substring match on op names; empty = all

    def want(op: str) -> bool:
        return not op_filters or any(s in op for s in op_filters)

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    big = build_synth(spark, base_sf)

    scales = {
        "sf0.1": (
            spark.read.parquet(os.path.join(base_sf, "documents.parquet")),
            spark.read.parquet(os.path.join(base_sf, "embeddings.parquet")),
        ),
        XN: (
            spark.read.parquet(os.path.join(big, "documents.parquet")),
            spark.read.parquet(os.path.join(big, "embeddings.parquet")),
        ),
    }
    # one materialized sketch per scale (the shared-artifact shape);
    # sketch build time is reported separately from the ops that use it
    sketches = {}
    report: dict[str, dict] = {}

    def record(op, scale, times, rows):
        report.setdefault(op, {})[scale] = times
        report[op].setdefault("out_rows", []).append(rows)
        # incremental receipt on stderr: a crash mid-probe (e.g. heap
        # exhaustion at 10x in one small local JVM) still identifies the
        # last completed op
        print(f"PROBE {op} {scale} {times} rows={rows}", file=sys.stderr)

    for scale, (docs, emb) in scales.items():
        sk = None
        needs_sketch = any(
            want(op)
            for op in ("jaccard_near_dups_capped", "near_dup_clusters_cc")
        ) or ("cc_capacity" in op_filters and scale == "sf0.1")
        if want("token_sketch_build") or needs_sketch:
            t, n = timed(
                lambda: dedup_fuzzy.token_sketch(docs)
                .localCheckpoint(eager=True)
                .count(),
                runs=1,
            )
            sk = dedup_fuzzy.token_sketch(docs).localCheckpoint(eager=True)
            record("token_sketch_build", scale, t, n)
            sketches[scale] = sk

        if want("jaccard_near_dups_capped"):
            t, n = timed(
                lambda: dedup_fuzzy.jaccard_near_dups(
                    docs, threshold=0.5, sort=False, sketch=sk, block_cap=200
                ).count()
            )
            record("jaccard_near_dups_capped", scale, t, n)

        if want("containment_degree"):
            t, n = timed(
                lambda: dedup_fuzzy.containment_degree(docs, threshold=0.5).count()
            )
            record("containment_degree", scale, t, n)

        if want("substring_dedup"):
            t, n = timed(
                lambda: dedup_fuzzy.remove_duplicate_spans(
                    docs, k=8, min_len=15
                ).count()
            )
            record("substring_dedup", scale, t, n)

        nlist = 8 if scale == "sf0.1" else 8 * REPLICAS  # cells stay executor-sized
        if want("semantic_dedup"):
            t, n = timed(
                lambda: similarity.semantic_dedup(
                    emb, threshold=0.9, nlist=nlist
                ).count()
            )
            record("semantic_dedup", scale, t, n)

        # --- r11 verdict task 5 additions: ANN probe paths + CC ---

        # Fixed 5-vector query set at both scales (the corpus grows 10x,
        # the query volume doesn't — the serving shape). vec_id < 5
        # lands entirely in replica 0 of the synth, by construction.
        qv = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        # LSH bucket join (the benched portable config: 3 planes /
        # 8 tables). Claim under test: candidate volume ~ corpus
        # bucket-collision mass, linear in corpus size at fixed planes.
        if want("ann_cosine_lsh_portable"):
            t, n = timed(
                lambda: similarity.cosine_topk_lsh(
                    emb, qv, k=5, num_planes=3, num_tables=8, portable=True
                ).count()
            )
            record("ann_cosine_lsh_portable", scale, t, n)

        # IVF: build scaled like semantic_dedup (nlist 8 -> 80 keeps
        # cells executor-sized); probe timed against a checkpointed
        # index — the at-scale operating shape (offline build, online
        # probe). Claim under test: probe cost ~ nprobe cells, NOT the
        # whole corpus.
        if want("ann_ivf_probe") or want("ivf_index_build_det"):
            t0 = time.time()
            inv, cent = (
                f.localCheckpoint(eager=True)
                for f in similarity.build_ivf_index(emb, nlist=nlist)
            )
            record(
                "ivf_index_build_det", scale, [round(time.time() - t0, 2)], nlist
            )
            t, n = timed(
                lambda: similarity.cosine_topk_ivf_probe(
                    inv, cent, qv, k=5, nprobe=3
                ).count()
            )
            record("ann_ivf_probe", scale, t, n)

        # Connected components over the strong-pair graph (the
        # near_dup_clusters shape: >= 0.6 Jaccard pairs, quotient
        # contraction CC). Claim under test: rounds ~ log(diameter),
        # per-round frames quotient-sized — cost ~ edge count.
        if want("near_dup_clusters_cc"):
            pairs = dedup_fuzzy.jaccard_near_dups(
                docs, threshold=0.6, sort=False, sketch=sk
            )
            t, n = timed(
                lambda: graph.connected_components(
                    pairs, assume_unique_pairs=True
                ).count()
            )
            record("near_dup_clusters_cc", scale, t, n)

        # --- r12 additions: iterative / graph / funnel families ---

        # k-means assignment (the embedding_kmeans bench shape: k=8,
        # 3 Lloyd iterations). Claim under test: cost ~ rows x k x
        # iters — linear in corpus size at fixed k; the per-iteration
        # driver collect stays k x dim regardless of scale.
        if want("embedding_kmeans"):
            t, n = timed(
                lambda: clustering.kmeans_assign(
                    emb, "vec_id", "embedding", k=8, iters=3
                ).count()
            )
            record("embedding_kmeans", scale, t, n)

        # Corpus-prep funnel (quality gate -> exact dedup -> blocked
        # Jaccard near-dedup; the corpus_prep bench shape). Claim under
        # test: every stage is one shuffle over frames that shrink down
        # the funnel, and the (len-bucket, min-md5-token) block key is
        # token-namespace-local — block SIZES stay flat at 10x, so the
        # verify join grows by block COUNT (linear), never by density.
        if want("corpus_prep_funnel"):

            def run_funnel(d=docs):
                out = corpus_plans.corpus_prep(d)
                return out.count()

            t, n = timed(run_funnel)
            record("corpus_prep_funnel", scale, t, n)

    # --- r13 additions: the stateful/temporal family (SCD2, CDC merge,
    # point-in-time join, native session windows) ---
    events_scales = {}
    stateful_ops = (
        "scd2_history", "cdc_apply", "pit_join", "session_window",
        "mad_outliers",
    )
    if any(want(op) for op in stateful_ops):
        ep = build_synth_events(spark, base_sf)
        events_scales = {
            "sf0.1": _events_slim(spark, base_sf),
            XN: spark.read.parquet(os.path.join(ep, "events.parquet")),
        }
    for scale, ev in events_scales.items():
        ev = ev.localCheckpoint(eager=True)  # synth cost out of the timings

        # SCD2 compression (the scd2_user_state bench shape). Claim
        # under test: one hash shuffle on user_id, BOTH window passes
        # reuse it — cost ~ observation rows, no per-version joins.
        if want("scd2_history"):
            t, n = timed(
                lambda: scd.scd2_history(
                    ev, "user_id", "event_type", "ts_us",
                    order_cols=("event_id",),
                ).count()
            )
            record("scd2_history", scale, t, n)

        # CDC merge (the orders_cdc_apply shape on event_id keys: every
        # 4th row updated at seq 1, every 6th deleted at seq 2). Claim
        # under test: union + ONE ranking window hashed on the key —
        # cost ~ snapshot + change rows, per-key frames stay tiny.
        if want("cdc_apply"):
            upd = (
                ev.filter(F.col("event_id") % 4 == 0)
                .withColumn("event_type", F.lit("X"))
                .withColumn("seq", F.lit(1))
                .withColumn("op", F.lit("U"))
            )
            dele = (
                ev.filter(F.col("event_id") % 6 == 0)
                .withColumn("seq", F.lit(2))
                .withColumn("op", F.lit("D"))
            )
            changes = upd.unionByName(dele)
            t, n = timed(
                lambda: scd.apply_changelog(
                    ev, changes, ["event_id"], "seq"
                ).count()
            )
            record("cdc_apply", scale, t, n)

        # Point-in-time join (the purchase_pit_state shape: browse-state
        # SCD2 dim, purchase facts). Claim under test: fact x version
        # blowup bounded per key by that key's STATE-CHANGE count — with
        # disjoint replica users both sides grow 10x at flat per-user
        # version counts, so the join is linear, never quadratic.
        if want("pit_join"):
            browse = ev.filter(F.col("event_type") != "purchase")
            dim = scd.scd2_history(
                browse, "user_id", "event_type", "ts_us",
                order_cols=("event_id",),
            ).drop("is_current").localCheckpoint(eager=True)
            facts = ev.filter(F.col("event_type") == "purchase").select(
                "user_id", "ts_us", "event_id"
            )
            t, n = timed(
                lambda: scd.point_in_time_join(
                    facts, dim, "user_id", "ts_us"
                ).count()
            )
            record("pit_join", scale, t, n)

        # Native gap session windows (the session_window_rollup shape,
        # 12 h gap). Claim under test: ONE shuffle on the session key,
        # merge work ~ events per user — linear in rows.
        if want("session_window"):
            t, n = timed(
                lambda: ev.withColumn("ts", F.timestamp_micros("ts_us"))
                .groupBy(
                    "user_id", F.session_window("ts", "12 hours").alias("w")
                )
                .agg(F.count(F.lit(1)).alias("n_events"))
                .count()
            )
            record("session_window", scale, t, n)

        # MAD outlier gate (the events_mad_outliers bench shape; r13
        # single-pass rewrite). Claim under test: ONE scan — the
        # row_number/count window pass and the deviation re-aggregation
        # both reuse the same key-hash exchange; replicas keep the
        # per-type value distribution, so cost ~ rows at flat key
        # cardinality, and out_rows (one per event type) stays flat.
        if want("mad_outliers"):
            t, n = timed(
                lambda: profiling.mad_outliers(
                    ev, "event_type", "value", scale=1024, k=3
                ).count()
            )
            record("mad_outliers", scale, t, n)

    tpch_scales = {}
    graph_ops = (
        "transaction_pagerank", "copurchase_triangles",
        "copurchase_kcore", "copurchase_clustering",
    )
    selection_tpch_ops = (
        "weighted_median", "winsorized_stats", "cohort_retention",
    )
    if any(want(op) for op in graph_ops + selection_tpch_ops):
        tp = build_synth_tpch(spark, base_sf)
        tpch_scales = {
            "sf0.1": (
                spark.read.parquet(os.path.join(base_sf, "orders.parquet")),
                spark.read.parquet(os.path.join(base_sf, "lineitem.parquet")),
            ),
            XN: (
                spark.read.parquet(os.path.join(tp, "orders.parquet")),
                spark.read.parquet(os.path.join(tp, "lineitem.parquet")),
            ),
        }
    for scale, (orders, li) in tpch_scales.items():
        # Integer PageRank over the bidirectional customer<->supplier
        # co-transaction graph (the transaction_pagerank bench shape:
        # 5 rounds). Claim under test: cost ~ edges x rounds — the
        # checkpointed static frames keep per-round work edge-sized, so
        # 10x edges => ~10x wall, not round-compounding lineage growth.
        if want("transaction_pagerank"):
            # one-pass explode symmetrize — mirrors the registry query
            # (r18 optimization round: the union form executed the
            # lineitem x orders join twice)
            pairs = li.join(
                orders, li["l_orderkey"] == orders["o_orderkey"]
            ).select(
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
            t, n = timed(lambda: graph.pagerank(edges, iterations=5).count())
            record("transaction_pagerank", scale, t, n)

        # Degree-ordered triangle counting over co-purchase edges (the
        # copurchase_triangles bench shape). Claim under test: the
        # Suri-Vassilvitskii orientation bounds wedge volume at
        # O(m^1.5) — with DISJOINT replica universes m grows 10x at
        # flat degree distribution, so wall grows ~10x (sum of 10
        # independent m^1.5 problems), NOT 10^1.5 = 32x (what a single
        # densified graph would pay).
        if want("copurchase_triangles"):
            edges = joins.basket_pairs(
                li, "l_orderkey", "l_partkey", min_support=2
            )
            t, n = timed(
                lambda: graph.triangle_counts(edges, "item_a", "item_b").count()
            )
            record("copurchase_triangles", scale, t, n)

        # --- r14 additions: the last two graph ops without receipts ---

        # Fixed-round k-core peel (the copurchase_kcore bench shape:
        # k=2, 4 rounds). Claim under test: each peel round is one
        # degree aggregate + one semi-join over the surviving edges —
        # cost ~ edges x rounds; with disjoint replica universes the
        # peel order inside each replica is identical, so survivors
        # scale exactly linearly.
        if want("copurchase_kcore"):
            edges = joins.basket_pairs(
                li, "l_orderkey", "l_partkey", min_support=2
            )
            t, n = timed(
                lambda: graph.kcore(
                    edges, "item_a", "item_b", k=2, rounds=4
                ).count()
            )
            record("copurchase_kcore", scale, t, n)

        # Local clustering coefficients (copurchase_clustering shape).
        # Claim under test: one degree aggregate + one node join on top
        # of the degree-ordered O(m^1.5) triangle plan — same organic
        # scaling argument as triangles (disjoint universes: 10 summed
        # m^1.5 problems, not (10m)^1.5).
        if want("copurchase_clustering"):
            edges = joins.basket_pairs(
                li, "l_orderkey", "l_partkey", min_support=2
            )
            t, n = timed(
                lambda: graph.clustering_coefficients(
                    edges, "item_a", "item_b"
                ).count()
            )
            record("copurchase_clustering", scale, t, n)

        # --- r14 additions: the r13 single-pass selection rewrites
        # (plan-shape pins existed; these are their measured receipts).

        # Quantity-weighted median per return flag (the
        # price_weighted_median bench shape). Claim under test: the
        # r13 rewrite's single scan + one key-hash shuffle — the
        # cumulative-weight window and the picks join both ride the
        # same exchange; 3 flag groups at REPLICAS x rows each, so
        # wall ~ rows and out_rows stays 3.
        if want("weighted_median"):
            li_cents = li.select(
                "l_returnflag",
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("price_cents"),
                F.col("l_quantity").cast("long").alias("qty"),
            )
            t, n = timed(
                lambda: profiling.weighted_median(
                    li_cents, "l_returnflag", "price_cents", "qty", scale=1
                ).count()
            )
            record("weighted_median", scale, t, n)

        # Winsorized rollup per return flag (the price_winsorized bench
        # shape). Same single-pass claim: p05/p95 cut selection and the
        # clamped re-aggregation share one exchange.
        if want("winsorized_stats"):
            li_w = li.select(
                "l_returnflag",
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("price_cents"),
            )
            t, n = timed(
                lambda: profiling.winsorized_stats(
                    li_w, "l_returnflag", "price_cents", p_lo=5, p_hi=95
                ).count()
            )
            record("winsorized_stats", scale, t, n)

        # Cohort retention over orders (the customer_cohort_retention
        # bench shape). Claim under test: the r13 collapse to ONE
        # data-sized shuffle (groupBy user + collect_set month);
        # strided custkeys at unstrided months = REPLICAS x users in
        # the SAME month grid, so the cell matrix (out_rows) stays
        # flat while n_active scales — organic cohort growth.
        if want("cohort_retention"):
            t, n = timed(
                lambda: metrics.cohort_retention(
                    orders, "o_custkey", "o_orderdate"
                ).count()
            )
            record("cohort_retention", scale, t, n)

    # Edge-strided CC decades (r13 verdict task 6): CC's claim is
    # cost ~ edges, and the 10x receipt rode a docs re-run. This probe
    # isolates the CC loop itself: build the >=0.6 Jaccard pair graph
    # ONCE at sf0.1, checkpoint it, then stride the EDGE LIST by
    # replica (disjoint doc-id universes -> component structure
    # repeats per replica, diameter flat) and time CC at 1x/10x/100x
    # in one JVM. Superlinearity inside either decade shows up as
    # ratio >> factor.
    if want("cc_edges"):
        docs01 = scales["sf0.1"][0]
        sk01 = sketches.get("sf0.1")
        # block_cap=200 (the production sub-blocking path): WITHOUT it
        # the sf0.1 fixture's ~3k-doc boilerplate block yields its full
        # quadratic pair list — measured 4,347,066 edges over ~4.7k
        # nodes — and striding THAT x100 (435M edges) exceeds what one
        # local JVM can hold as a pinned localCheckpoint while also
        # running a 32-way min-aggregation over 2x edges (measured:
        # AGGREGATE_OUT_OF_MEMORY at 16g in level-1; a cluster shards
        # the same frame across executors — capacity, not
        # superlinearity; receipts in SCALE.md Round-14).
        pairs01 = dedup_fuzzy.jaccard_near_dups(
            docs01, threshold=0.6, sort=False, sketch=sk01, block_cap=200
        )
        pa, pb = pairs01.columns[:2]  # (doc_id_a, doc_id_b)
        # Deterministic 10% edge sample: even capped, the boilerplate
        # sub-blocks keep the sf0.1 graph at 3.3M edges, so x100 of the
        # full base (331M) is still one-JVM-infeasible (see above).
        # 10% by edge hash -> decades run at 331k / 3.3M / 33M edges,
        # the top matching the full base's measured-feasible x10 mass.
        base_pairs = (
            pairs01.select(pa, pb)
            .filter(F.pmod(F.hash(pa, pb), F.lit(10)) == 0)
            .localCheckpoint(eager=True)
        )
        print(f"PROBE cc_edges base edges={base_pairs.count()}", file=sys.stderr)
        for factor in (1, 10, 100):
            reps = spark.range(factor).select(F.col("id").alias("r"))
            big_pairs = (
                base_pairs.crossJoin(reps)
                .select(
                    (F.col(pa) + F.col("r") * ID_STRIDE).alias(pa),
                    (F.col(pb) + F.col("r") * ID_STRIDE).alias(pb),
                )
                .repartition(32)
                .localCheckpoint(eager=True)
            )
            t, n = timed(
                lambda: graph.connected_components(
                    big_pairs, assume_unique_pairs=True
                ).count()
            )
            record("cc_edges", f"x{factor}", t, n)
            graph._unckpt(big_pairs)

    # pagerank_edges: the cc_edges protocol applied to pagerank (r14
    # verdict task 2: 2.93x @ 10x organic was the steepest receipt
    # without a second decade). The co-transaction edge list is built
    # ONCE at sf0.1, checkpointed, then id-strided x1/x10/x100 into
    # disjoint replica universes (degree distribution flat, rank mass
    # per replica identical) and pagerank(5 rounds) timed per decade.
    if (
        want("pagerank_edges")
        or want("kcore_dense")
        or want("lpa_edges")
        or want("hits_edges")
        or want("bfs_edges")
        or want("bfs_organic")
        or ("bfs_capacity" in op_filters)
    ):
        o01 = spark.read.parquet(os.path.join(base_sf, "orders.parquet"))
        li01 = spark.read.parquet(os.path.join(base_sf, "lineitem.parquet"))
        pr_pairs = (
            li01.join(o01, li01["l_orderkey"] == o01["o_orderkey"])
            .select(
                (F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"),
            )
            .distinct()
        )
        pr_base = (
            pr_pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
            .union(
                pr_pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
            )
            .localCheckpoint(eager=True)
        )
        print(
            f"PROBE pagerank_edges base edges={pr_base.count()}",
            file=sys.stderr,
        )
        for factor in (1, 10, 100):
            reps = spark.range(factor).select(F.col("id").alias("r"))
            # the strided frame honors SPARK_GRAFT_CKPT_STORAGE like the
            # operator internals: at x100 (117M edges) a MEMORY_AND_DISK
            # checkpoint of this probe INPUT occupies the storage-
            # protected region and starves the 32-thread execution pool
            # (measured: UNABLE_TO_ACQUIRE_MEMORY at 16g) — the same
            # one-JVM squeeze the operator knob exists for.
            big_edges = graph._ckpt(
                pr_base.crossJoin(reps)
                .select(
                    (F.col("src") + F.col("r") * ID_STRIDE).alias("src"),
                    (F.col("dst") + F.col("r") * ID_STRIDE).alias("dst"),
                )
                .repartition(32)
            )
            if want("pagerank_edges"):
                t, n = timed(
                    lambda: graph.pagerank(big_edges, iterations=5).count()
                )
                record("pagerank_edges", f"x{factor}", t, n)
            # lpa_edges: label propagation (3 sync rounds) on the same
            # dense strided frame — the birth receipt for the r15
            # operator (per-round join + count agg + per-node top-1
            # window; claim: cost ~ edges x rounds).
            if want("lpa_edges"):
                t, n = timed(
                    lambda: graph.label_propagation(
                        big_edges, "src", "dst", rounds=3
                    ).count()
                )
                record("lpa_edges", f"x{factor}", t, n)
            # hits_edges: integer HITS (3 rounds) on the same dense
            # strided frame — the birth receipt for the r16 operator
            # (per half-step: one score join + one hash agg + one
            # single-row max broadcast; claim: cost ~ edges x rounds;
            # the bidirectional frame makes every node both hub and
            # authority, a denser exercise than the bipartite bench
            # graph).
            if want("hits_edges"):
                t, n = timed(
                    lambda: graph.hits(
                        big_edges, "src", "dst", iterations=3
                    ).count()
                )
                record("hits_edges", f"x{factor}", t, n)
            # bfs_edges: seeded BFS hop distance (5 seeds, 4 hops) on
            # the same dense strided frame — the birth receipt for the
            # r17 operator. The five smallest node ids all live in
            # replica 0 (later replicas are offset by ID_STRIDE), so
            # out_rows stays FLAT by construction — the claim under
            # test is the per-round cost model: each round's dominant
            # join streams the FULL edge list against the frontier, so
            # wall ~ edges x rounds even at a fixed reached set (the
            # mad_outliers flat-out_rows convention).
            if want("bfs_edges"):
                t, n = timed(
                    lambda: graph.bfs_hops(
                        big_edges, "src", "dst", n_seeds=5, max_hops=4
                    ).count()
                )
                record("bfs_edges", f"x{factor}", t, n)
            # bfs_organic: the r17 verdict's organic-growth companion
            # to bfs_edges — same base graph, but INTERLEAVE-strided
            # (id*factor + r, replica = id mod factor) instead of
            # offset-strided, so the 5*factor globally-smallest node
            # ids are EXACTLY the five smallest ids of every replica
            # universe: bfs_hops(n_seeds=5*factor) seeds each replica
            # identically and the reached set grows linearly with the
            # replicas (out_rows = factor x base reach), matching how
            # the sf-receipts pin linear output on organic graphs —
            # while bfs_edges keeps pinning the flat-out_rows
            # per-round cost model. No operator change: the seed rule
            # stays "k smallest ids", the probe just arranges the id
            # space so that rule lands per-replica.
            if want("bfs_organic"):
                big_il = graph._ckpt(
                    pr_base.crossJoin(reps)
                    .select(
                        (F.col("src") * factor + F.col("r")).alias("src"),
                        (F.col("dst") * factor + F.col("r")).alias("dst"),
                    )
                    .repartition(32)
                )
                t, n = timed(
                    lambda: graph.bfs_hops(
                        big_il, "src", "dst",
                        n_seeds=5 * factor, max_hops=4,
                    ).count()
                )
                record("bfs_organic", f"x{factor}", t, n)
                graph._unckpt(big_il)
            # kcore_dense: the k-core peel on the SAME dense strided
            # frame — the capacity-grade kcore receipt (the co-purchase
            # kcore_edges base is only 3.6k edges) and the at-scale
            # exercise of the r15 eager-unpersist loop hygiene.
            if want("kcore_dense"):
                t, n = timed(
                    lambda: graph.kcore(
                        big_edges, "src", "dst", k=2, rounds=4
                    ).count()
                )
                record("kcore_dense", f"x{factor}", t, n)
            graph._unckpt(big_edges)
        # bfs_capacity: EXPLICIT-ONLY (exact token, never in a default
        # sweep) — the cc_capacity convention applied to BFS (r17
        # verdict task 7's "next decade for the newest operators"):
        # one x1000 stride of the dense frame = 1.17B directed edges
        # through 4 BFS rounds in the one 16g JVM, single run. Seeds
        # interleave-strided like bfs_organic so the reached set is
        # organic (factor x base) at capacity scale too.
        # SPARK_GRAFT_BFS_CAP_FACTOR overrides the stride.
        if "bfs_capacity" in op_filters:
            factor = int(os.environ.get("SPARK_GRAFT_BFS_CAP_FACTOR", "1000"))
            reps = spark.range(factor).select(F.col("id").alias("r"))
            print(
                f"PROBE bfs_capacity factor={factor} "
                f"ckpt_storage={os.environ.get('SPARK_GRAFT_CKPT_STORAGE')}",
                file=sys.stderr,
            )
            big_cap = graph._ckpt(
                pr_base.crossJoin(reps)
                .select(
                    (F.col("src") * factor + F.col("r")).alias("src"),
                    (F.col("dst") * factor + F.col("r")).alias("dst"),
                )
                .repartition(128)
            )
            t, n = timed(
                lambda: graph.bfs_hops(
                    big_cap, "src", "dst",
                    n_seeds=5 * factor, max_hops=4,
                ).count(),
                runs=1,
            )
            record("bfs_capacity", f"x{factor}", t, n)
            graph._unckpt(big_cap)
        graph._unckpt(pr_base)

    # kcore_edges / clustering_edges: the same edge-strided two-decade
    # protocol for the two remaining graph loops with only a 10x
    # organic receipt (r15). The co-purchase pair list is built ONCE at
    # sf0.1 (basket_pairs min_support=2), checkpointed, id-strided into
    # disjoint universes; per-replica peel order and triangle structure
    # are identical, so out_rows must scale exactly linearly.
    if want("kcore_edges") or want("clustering_edges"):
        li01 = spark.read.parquet(os.path.join(base_sf, "lineitem.parquet"))
        cp_base = graph._ckpt(
            joins.basket_pairs(li01, "l_orderkey", "l_partkey", min_support=2)
        )
        print(
            f"PROBE copurchase strided base edges={cp_base.count()}",
            file=sys.stderr,
        )
        for factor in (1, 10, 100):
            reps = spark.range(factor).select(F.col("id").alias("r"))
            big_cp = graph._ckpt(
                cp_base.crossJoin(reps)
                .select(
                    (F.col("item_a") + F.col("r") * ID_STRIDE).alias("item_a"),
                    (F.col("item_b") + F.col("r") * ID_STRIDE).alias("item_b"),
                )
                .repartition(32)
            )
            if want("kcore_edges"):
                t, n = timed(
                    lambda: graph.kcore(
                        big_cp, "item_a", "item_b", k=2, rounds=4
                    ).count()
                )
                record("kcore_edges", f"x{factor}", t, n)
            if want("clustering_edges"):
                t, n = timed(
                    lambda: graph.clustering_coefficients(
                        big_cp, "item_a", "item_b"
                    ).count()
                )
                record("clustering_edges", f"x{factor}", t, n)
            graph._unckpt(big_cp)
        graph._unckpt(cp_base)

    # kmeans_emb / semdedup_emb: the edge-strided two-decade protocol
    # applied to the EMBEDDINGS family (r15 verdict task 7 — kmeans and
    # semantic_dedup were the largest components whose scale evidence
    # was single-decade organic). The sf0.1 embeddings table (2k x 64)
    # is checkpointed once, then replicated x1/x10/x100 with DISJOINT
    # vec_id universes AND a deterministic per-replica SIGN FLIP of
    # each dimension (parity of xxhash64(r, dim_index) — NOT murmur3
    # F.hash, whose low bit is visibly correlated across small
    # consecutive inputs: measured r=0/1/2 all agreeing on dims 0-2,
    # which would leave replica clouds mutually near-dup): sign flips
    # preserve every intra-replica dot product exactly (s_i^2 = 1), so
    # each replica's neighbor structure is identical to the base, while
    # cross-replica cosines collapse to +-O(1/sqrt(64)) noise — far
    # below the 0.9 dedup threshold. Organic growth in embedding space,
    # not densification (the +0.001*r shift of the x10 synth keeps
    # replicas mutual near-dups; fine for kmeans wall-clock, wrong for
    # a dedup-structure claim). Claims under test: kmeans cost ~ rows x
    # k x iters with a k x dim driver collect per iteration; semantic
    # dedup cost ~ rows x cell_size x dim with nlist scaled to the
    # factor so cells stay executor-sized (the documented operating
    # shape) — out_rows exactly linear for both (one row per vector).
    # kmeans runs a FOURTH decade (x1000 = 2M vectors): the sf0.1 base
    # is only 2k x 64, so x100 (200k rows, ~0.4 s of real work for 32
    # cores x 3 iterations) is still fixed-job-overhead-bound and the
    # wall reads FLAT — the x1000 leg is where data outgrows overhead
    # and the rows-linear claim becomes measurable. semantic_dedup
    # stops at x100: its nlist-scaled in-memory cell build is the
    # offline-index path at larger sizes (own receipts, artifacts.py).
    if want("kmeans_emb") or want("semdedup_emb"):
        emb01 = spark.read.parquet(os.path.join(base_sf, "embeddings.parquet"))
        emb_base = graph._ckpt(emb01.select("vec_id", "embedding"))
        print(f"PROBE emb strided base vecs={emb_base.count()}", file=sys.stderr)
        for factor in (1, 10, 100, 1000):
            if factor == 1000 and not want("kmeans_emb"):
                continue
            reps = spark.range(factor).select(F.col("id").alias("r"))
            big_emb = graph._ckpt(
                emb_base.crossJoin(reps)
                .select(
                    (F.col("vec_id") + F.col("r") * ID_STRIDE).alias("vec_id"),
                    F.transform(
                        "embedding",
                        lambda x, i: (
                            x
                            * (
                                F.lit(1)
                                - F.lit(2)
                                * F.pmod(F.xxhash64(F.col("r"), i), F.lit(2))
                            ).cast("float")
                        ).cast("float"),
                    ).alias("embedding"),
                )
                .repartition(32)
            )
            if want("kmeans_emb"):
                t, n = timed(
                    lambda: clustering.kmeans_assign(
                        big_emb, "vec_id", "embedding", k=8, iters=3
                    ).count()
                )
                record("kmeans_emb", f"x{factor}", t, n)
            if want("semdedup_emb") and factor <= 100:
                t, n = timed(
                    lambda: similarity.semantic_dedup(
                        big_emb, threshold=0.9, nlist=8 * factor
                    ).count()
                )
                record("semdedup_emb", f"x{factor}", t, n)
            graph._unckpt(big_emb)
        graph._unckpt(emb_base)

    # rank_twophase / rank_twophase_cum: strided decades for the r17
    # global-rank rewrite (r16 verdict tasks 2+5 — customer_rfm,
    # part_revenue_pareto, orders_rank_stats, acctbal_ntile replaced
    # their single-task global / 5-way windows with
    # windows.global_rank_two_phase). The sf0.1 orders frame
    # (o_orderkey, o_orderpriority, totalprice cents) is checkpointed
    # once, then id-strided into disjoint orderkey universes at
    # UNCHANGED price distribution and the SAME 5 priority classes —
    # every replica interleaves into the global rank order, so this is
    # organic growth of the ranked frame, not per-replica isolation:
    # the rank genuinely spans all rows. Claims under test: the
    # mono-id path (rank_twophase: range shuffle -> in-partition
    # position -> broadcast offsets; the rank_stats/rfm/ntile shape,
    # grouped by the 5 priority classes) and the cum path
    # (rank_twophase_cum: + the deterministic rank-bucket prefix pass
    # for the running sum — r18 rewrite, was a pid-hash window in r17;
    # the revenue_pareto shape, ungrouped) both scale ~linearly in
    # rows — the single-task sort they replaced serializes the whole
    # frame through one core. out_rows must be exactly linear (one per
    # input row). The x1000 leg (150M rows) is where data outgrows
    # fixed job overhead — the sf0.1 base is only 150k rows, so x100
    # still reads partly overhead-bound (the kmeans_emb story).
    # rank_twophase_cum_narrow (r18): the cum path on the TWO-column
    # (key-only) frame — revenue_pareto's exact registry shape, where
    # key_cols covers the whole frame so the narrow plan IS the plan
    # and there is NO payload join-back. Separates the join-back's two
    # full-frame shuffles (the rank_twophase_cum worst case, a shape
    # no registry query currently uses) from the bucketed running-sum
    # machinery itself.
    if want("rank_twophase") or want("rank_twophase_cum_narrow"):
        o01 = spark.read.parquet(os.path.join(base_sf, "orders.parquet"))
        rk_base = graph._ckpt(
            o01.select(
                "o_orderkey",
                "o_orderpriority",
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("cents"),
            )
        )
        print(
            f"PROBE rank_twophase base rows={rk_base.count()}", file=sys.stderr
        )
        for factor in (1, 10, 100, 1000):
            reps = spark.range(factor).select(F.col("id").alias("r"))
            big_rk = graph._ckpt(
                rk_base.crossJoin(reps)
                .select(
                    (F.col("o_orderkey") + F.col("r") * ID_STRIDE).alias(
                        "o_orderkey"
                    ),
                    "o_orderpriority",
                    "cents",
                )
                .repartition(32)
            )
            if want("rank_twophase"):
                t, n = timed(
                    lambda: windows.global_rank_two_phase(
                        big_rk,
                        [F.col("cents").desc(), F.col("o_orderkey").asc()],
                        group_cols=["o_orderpriority"],
                    ).count()
                )
                record("rank_twophase", f"x{factor}", t, n)
                t, n = timed(
                    lambda: windows.global_rank_two_phase(
                        big_rk,
                        [F.col("cents").desc(), F.col("o_orderkey").asc()],
                        cum_col="cents",
                        # r18: same 3-col input frame as the r17
                        # receipt (comparable decades), but the narrow
                        # key_cols plan engages — the checkpoint
                        # carries only (cents, o_orderkey) and
                        # o_orderpriority rides the payload join-back,
                        # the trim the r17 verdict task 3 prescribed
                        key_cols=["cents", "o_orderkey"],
                    ).count()
                )
                record("rank_twophase_cum", f"x{factor}", t, n)
            if want("rank_twophase_cum_narrow"):
                nrw = big_rk.select("o_orderkey", "cents")
                t, n = timed(
                    lambda: windows.global_rank_two_phase(
                        nrw,
                        [F.col("cents").desc(), F.col("o_orderkey").asc()],
                        cum_col="cents",
                    ).count()
                )
                record("rank_twophase_cum_narrow", f"x{factor}", t, n)
            graph._unckpt(big_rk)
        graph._unckpt(rk_base)

    # rerank_docs: birth receipt for the r18 cross-encoder rerank
    # stage (ann_rerank). The candidate list is FIXED (|q| x k = 25
    # rows from the base embeddings, checkpointed once); the DOCUMENT
    # table strides by whole-table replicas whose ids never match the
    # candidates. Claim under test: wall is linear in corpus rows and
    # nothing else — the operator's only data-scaled work is streaming
    # the doc table against the BROADCAST candidate list (plus the
    # broadcast semi-join collecting the |q| query texts); the Arrow
    # scoring pass and the per-query window run on the fixed
    # |q| x k rows whatever the corpus size. out_rows must stay
    # EXACTLY 25 at every decade.
    if want("rerank_docs"):
        docs01 = spark.read.parquet(os.path.join(base_sf, "documents.parquet"))
        emb01 = spark.read.parquet(os.path.join(base_sf, "embeddings.parquet"))
        qv01 = emb01.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        cand01 = similarity.cosine_topk_bruteforce(
            emb01, qv01, k=5
        ).localCheckpoint(eager=True)
        print(
            f"PROBE rerank_docs candidates={cand01.count()}", file=sys.stderr
        )
        for factor in (1, 10, 100, 1000):
            reps = spark.range(factor).select(F.col("id").alias("r"))
            big_docs = graph._ckpt(
                docs01.crossJoin(reps)
                .select(
                    (F.col("doc_id") + F.col("r") * ID_STRIDE).alias("doc_id"),
                    "text",
                )
                .repartition(32)
            )
            t, n = timed(
                lambda: similarity.crossencoder_rerank(
                    cand01, big_docs
                ).count()
            )
            record("rerank_docs", f"x{factor}", t, n)
            graph._unckpt(big_docs)
        graph._unckpt(cand01)

    # cc_capacity: EXPLICIT-ONLY (exact token, never in a default sweep)
    # — the r14 one-JVM ceiling retry (verdict task 6). Reproduces the
    # 435M-edge configuration that hit AGGREGATE_OUT_OF_MEMORY at 16g
    # (FULL capped base pairs, no 10% sample, x100 id-stride), intended
    # to run under the new hooks:
    #   SPARK_GRAFT_DRIVER_JAVA_OPTS  (GC tuning, e.g. G1 region size)
    #   SPARK_GRAFT_CKPT_STORAGE=DISK_ONLY  (per-level CC frames +
    #     symmetrized-edge persist go disk-only, freeing the unified
    #     pool for the 32-thread min-aggregation)
    # SPARK_GRAFT_CC_CAP_FACTOR overrides the stride (default 100).
    if "cc_capacity" in op_filters:
        docs01 = scales["sf0.1"][0]
        sk01 = sketches.get("sf0.1")
        cap_pairs = dedup_fuzzy.jaccard_near_dups(
            docs01, threshold=0.6, sort=False, sketch=sk01, block_cap=200
        )
        pa, pb = cap_pairs.columns[:2]
        base_pairs = cap_pairs.select(pa, pb).localCheckpoint(eager=True)
        n_base = base_pairs.count()
        factor = int(os.environ.get("SPARK_GRAFT_CC_CAP_FACTOR", "100"))
        print(
            f"PROBE cc_capacity base edges={n_base} factor={factor} "
            f"ckpt_storage={os.environ.get('SPARK_GRAFT_CKPT_STORAGE')}",
            file=sys.stderr,
        )
        reps = spark.range(factor).select(F.col("id").alias("r"))
        big_pairs = graph._ckpt(
            base_pairs.crossJoin(reps)
            .select(
                (F.col(pa) + F.col("r") * ID_STRIDE).alias(pa),
                (F.col(pb) + F.col("r") * ID_STRIDE).alias(pb),
            )
            .repartition(64)
        )
        graph._unckpt(base_pairs)
        t, n = timed(
            lambda: graph.connected_components(
                big_pairs, assume_unique_pairs=True
            ).count(),
            runs=1,
        )
        record("cc_capacity", f"x{factor}", t, n)
        graph._unckpt(big_pairs)

    for op, d in report.items():
        if "sf0.1" in d and XN in d:
            d["ratio_steady"] = round(d[XN][-1] / max(d["sf0.1"][-1], 1e-9), 2)
            # min-based ratio: on 10x inputs a single run can eat a major
            # GC pause (measured: triangles x10 run2 = 2.4x run1 in the
            # same JVM), so min-over-runs is the robust steady estimator
            d["ratio_min"] = round(min(d[XN]) / max(min(d["sf0.1"]), 1e-9), 2)
    for strided in (
        "cc_edges", "pagerank_edges", "kcore_edges", "clustering_edges",
        "kcore_dense", "lpa_edges", "hits_edges", "kmeans_emb",
        "semdedup_emb",
    ):
        d = report.get(strided)
        if not d:
            continue
        for hi, lo, label in (
            ("x10", "x1", "ratio_x10"),
            ("x100", "x1", "ratio_x100"),
            ("x1000", "x1", "ratio_x1000"),
        ):
            if hi in d and lo in d:
                d[label] = round(min(d[hi]) / max(min(d[lo]), 1e-9), 2)
    print(json.dumps({"base": base_sf, "replicas": REPLICAS, "ops": report}))


if __name__ == "__main__":
    main()
