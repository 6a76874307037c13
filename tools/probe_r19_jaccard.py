"""r19 measurement probe: candidate-pair composition of every blocked-
Jaccard verify stage in the bench (guide §1 — measure before touching).

For each bench key's pair-space configuration this reports, at sf0.1:
  - n_cand   : candidate pairs reaching the verify intersect
               (post block equi-join + size-ratio prune)
  - n_true   : pairs passing the final rounded-Jaccard threshold
  - histogram of exact Jaccard over the candidates (0.1 buckets)

The histogram is what decides whether an output-invariant per-pair
prefilter (an exact upper bound on |A∩B| cheaper than the full
intersect) can prune enough candidates to pay for itself: a mass of
candidates well under the threshold = prunable; candidates piled at or
above it = the verify cost is inherent.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entry
from lab_etl_batch_data_processing_pipeline__spark.session import get_spark
from lab_etl_batch_data_processing_pipeline__spark.operators import dedup_fuzzy, text, cleaning


def pair_space(prepared, threshold):
    """Replicate jaccard_near_dups' candidate join (no salt needed for
    counting — salt is output-invariant) and return the candidate frame
    with exact jaccard per pair.

    The candidate count is faithful only while ``block_cap=None`` (the
    default): this join omits the ``sub_tok`` key that ``_with_sub_tok``
    adds, so with sub-blocking armed it overcounts the candidates."""
    a = prepared.alias("a")
    b = prepared.alias("b")
    sa, sb = F.size(F.col("a.tok_set")), F.size(F.col("b.tok_set"))
    pairs = a.join(
        b,
        on=(
            (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.block_tok") == F.col("b.block_tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        ),
    ).filter(F.least(sa, sb) >= F.lit(threshold - 1e-6) * F.greatest(sa, sb))
    inter = F.size(F.array_intersect(F.col("a.tok_set"), F.col("b.tok_set")))
    union = sa + sb - inter
    return pairs.select(
        sa.alias("sa"), sb.alias("sb"),
        F.round(inter / union, 6).alias("j"),
    )


def report(name, prepared, threshold):
    t0 = time.perf_counter()
    cand = pair_space(prepared, threshold)
    agg = cand.groupBy(
        F.least(F.floor(F.col("j") * 10), F.lit(9)).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("j") >= threshold).cast("long")).alias("n_true"),
        F.avg(F.col("sa") + F.col("sb")).alias("avg_sz2"),
    ).orderBy("bucket").collect()
    n_cand = sum(r["n"] for r in agg)
    n_true = sum(r["n_true"] for r in agg)
    wall = time.perf_counter() - t0
    print(f"\n=== {name} (t={threshold}) wall={wall:.1f}s")
    print(f"  candidates={n_cand:,}  true={n_true:,} ({100.0*n_true/max(n_cand,1):.1f}%)")
    for r in agg:
        print(f"  j in [{r['bucket']/10:.1f},{(r['bucket']+1)/10:.1f}): "
              f"{r['n']:>10,}  avg(sa+sb)={r['avg_sz2']:.0f}")


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r19-jaccard-probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = entry._t(spark, sf_dir, "documents")
    sketch = dedup_fuzzy.token_sketch(docs).persist()
    sketch.count()

    # near_dup_jaccard: full corpus, t=0.3
    report("near_dup_jaccard", sketch, 0.3)
    # near_dup_clusters: full corpus, t=0.6
    report("near_dup_clusters", sketch, 0.6)

    # corpus funnel (corpus_prep/training_batches q=0.7; training_mix q=0.5),
    # pair space over the exact-dedup survivors at t=0.5
    for q in (0.7, 0.5):
        stats = text.doc_stats(docs).select("doc_id", "quality_score")
        kept = (
            docs.select("doc_id", "text")
            .join(stats, "doc_id")
            .filter(F.col("quality_score") >= q)
        )
        fp = kept.join(text.fingerprint(kept, "doc_id", "text"), "doc_id")
        exact_unique = cleaning.dedup_by_keys(
            fp, ["fingerprint"], order_by=["doc_id"]
        ).drop("fingerprint")
        sub = sketch.join(exact_unique.select("doc_id"), "doc_id", "left_semi")
        report(f"corpus_prep q={q}", sub, 0.5)

    sketch.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
