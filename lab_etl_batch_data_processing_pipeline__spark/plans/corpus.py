"""LLM training-corpus preparation pipeline (north-star flagship).

The standard pre-training data funnel, composed from this engine's
operators, all Catalyst-optimizable:

  documents
    → quality gate        (doc_stats score >= min_quality; cheap per-row
                           projection, applied FIRST so every later stage
                           touches fewer rows)
    → exact dedup         (md5 fingerprint, deterministic min-doc_id
                           survivor; shuffles 16-byte digests, not bodies)
    → near-dup removal    (blocked token-set Jaccard pairs; the LOWER
                           doc_id of each pair survives)

Every stage is SQL-expressible, so the whole funnel is oracle-checked
end-to-end (query key ``corpus_prep``). At 100 TB the same composition
holds — the stages are each one shuffle, and the funnel order minimizes
the bytes entering each shuffle.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import cleaning, dedup_fuzzy, text


def _unpersist_with(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Release ``cached`` when ``result`` is garbage-collected.

    A plan-internal ``persist()`` has no natural unpersist point — the
    caller consumes the returned frame lazily, possibly many times. Tying
    the release to the result's lifetime gives exactly the right scope:
    the cache lives while the result is reachable, and a long-lived
    session does not accumulate dead cache entries (CacheManager entries
    are never GC'd on their own).

    Caller footgun: KEEP A REFERENCE to the returned frame itself while
    materializing anything derived from it. Chaining straight through
    (``corpus_prep(...).select(...).localCheckpoint()``) makes the
    returned frame garbage immediately, the finalizer releases the
    funnel caches mid-materialization, and the orderBy's range-sampling
    + main passes re-run the whole funnel uncached — measured 39 s vs
    4 s at sf0.1. Materialize (or checkpoint) via a held reference
    first, project after.
    """

    def release(cached=cached):
        try:
            cached.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release

    weakref.finalize(result, release)
    return result


def near_dup_route(
    documents: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_bucket: int = 10,
    sketch: DataFrame | None = None,
) -> tuple[str, int]:
    """Pre-flight routing decision for the funnel's near-dup stage:
    returns ``("exact" | "minhash", n_candidate_pairs)``.

    ``jaccard_block_stats`` gives the EXACT verify-join size the blocked
    Jaccard path would pay (sum over blocks of C(n_docs, 2)) for one
    cheap aggregate over the doc sketches — no bodies shuffle, no pair
    materializes. When that exceeds ``budget``, the corpus is dense and
    brute-forcing the quadratic block is the wrong plan: route to banded
    MinHash-LSH, whose candidate set is bounded by the band S-curve
    instead of the block density. This is the self-defense SCALE.md
    promises — at 100 TB a dense block must be discovered at plan time,
    not at hour three of the verify join.
    """
    n = (
        dedup_fuzzy.jaccard_block_stats(
            documents, id_col, text_col, length_bucket, sketch=sketch
        )
        .agg(F.sum("n_candidate_pairs").alias("n"))
        .first()["n"]
    ) or 0
    return ("minhash" if n > budget else "exact", int(n))


def corpus_prep(
    documents: DataFrame,
    min_quality: float = 0.7,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("lang", "source"),
    max_dup_2gram_frac: float | None = None,
    near_dup_pair_budget: int | None = None,
    normalize: bool = False,
    sketch: DataFrame | None = None,
    sigs: DataFrame | None = None,
    substring_min_len: int | None = None,
    substring_k: int = 8,
) -> DataFrame:
    """Return the cleaned corpus: columns (doc_id, text, *keep_cols,
    quality_score), quality-gated, exact- and near-deduplicated.

    ``max_dup_2gram_frac`` optionally adds the Gopher-style repetition
    gate (text.repetition_stats) to the cheap per-row filter stage:
    boilerplate/spam docs leave the funnel before any shuffle happens.

    ``near_dup_pair_budget`` arms the dense-corpus self-defense: before
    the near-dup verify join, :func:`near_dup_route` counts the exact
    candidate pairs the blocked-Jaccard path would verify; past the
    budget the stage runs banded MinHash-LSH instead (the md5 MinHash
    family, so the routed output has a DuckDB twin too). The default
    ``None`` keeps the exact path unconditionally (query key
    ``corpus_prep``); the routed form is value-hash oracled on both
    branches as ``corpus_prep_auto`` and recall-gated against the exact
    form in tests (the ``ann_lsh_recall`` pattern).

    ``normalize=True`` prepends :func:`text.normalize_text` as stage 0
    (zero-width/control strip, CRLF->LF, whitespace collapse, NFC):
    byte-variant spellings of the same content then share fingerprints
    and token sets, so dedup catches them — without it a ZWSP-polluted
    copy of a document survives every dedup stage forever. Opt-in so
    the oracle-checked default funnel stays byte-exact on its input.

    ``sketch`` / ``sigs`` take the corpus's precomputed
    dedup_fuzzy.token_sketch / minhash_signatures artifacts (full-corpus;
    the funnel semi-join-restricts them to the exact-dedup survivor set)
    so the near-dup stage skips re-tokenizing text the pipeline has
    already sketched. ``sigs`` must match the funnel's dense-route
    parameters (num_hashes=32, shingle_size=1). Incompatible with
    ``normalize=True`` — normalization changes the text the sketch
    would have to reflect.

    ``substring_min_len`` arms the final intake stage: cross-document
    SUBSTRING-level dedup (dedup_fuzzy.remove_duplicate_spans) over the
    doc-level survivors — verbatim runs of >= ``substring_min_len``
    tokens repeated from a smaller-id doc are cut out of the text
    (keep-first), the removal the doc-level funnel cannot express
    because both docs survive it. Runs AFTER near-dedup so the gram
    join never pays for docs the funnel already dropped. Output text
    becomes whitespace-normalized (the removal operator's canonical
    form); off by default to keep the oracle-checked funnel byte-exact.
    """
    if normalize and (sketch is not None or sigs is not None):
        raise ValueError(
            "corpus_prep: precomputed sketch/sigs reflect the raw text and "
            "cannot be combined with normalize=True"
        )
    if normalize:
        documents = (
            text.normalize_text(documents, id_col, text_col)
            .withColumnRenamed("norm_text", text_col)
            .join(
                documents.select(
                    F.col(id_col).alias("doc_id"), *keep_cols
                ),
                "doc_id",
            )
            .select("doc_id", text_col, *keep_cols)
        )
        id_col = "doc_id"
    stats = text.doc_stats(documents, id_col, text_col).select(
        "doc_id", "quality_score"
    )
    kept = (
        documents.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"), *keep_cols
        )
        .join(stats, "doc_id")
        .filter(F.col("quality_score") >= min_quality)
    )
    if max_dup_2gram_frac is not None:
        rep = text.repetition_stats(documents, id_col, text_col).select(
            "doc_id", "dup_2gram_frac"
        )
        kept = (
            kept.join(rep, "doc_id")
            .filter(F.col("dup_2gram_frac") <= max_dup_2gram_frac)
            .drop("dup_2gram_frac")
        )

    fingerprinted = kept.join(
        text.fingerprint(kept, "doc_id", "text"), "doc_id"
    )
    # The exact-deduped set feeds three consumers (both sides of the
    # near-dup self-join and the final anti-join); persisting it avoids
    # re-running the quality gate + dedup chain per consumer. Storage is
    # the post-gate corpus projection — the smallest frame in the funnel.
    exact_unique = (
        cleaning.dedup_by_keys(fingerprinted, ["fingerprint"], order_by=["doc_id"])
        .drop("fingerprint")
        .persist()
    )

    # Restrict the shared full-corpus artifacts to the survivor set: the
    # sketch rows are doc-local, so a doc_id semi-join (ids only, no
    # bodies) is exact — and far cheaper than re-tokenizing survivors.
    sub_sketch = sub_sigs = None
    if sketch is not None:
        sub_sketch = sketch.join(
            exact_unique.select("doc_id"), "doc_id", "left_semi"
        )
    if sigs is not None:
        sub_sigs = sigs.join(
            exact_unique.select("doc_id"), "doc_id", "left_semi"
        )

    strategy = "exact"
    if near_dup_pair_budget is not None:
        strategy, _ = near_dup_route(
            exact_unique, near_dup_pair_budget, sketch=sub_sketch
        )
    if strategy == "minhash":
        # A corpus dense enough to trip the budget makes even the banded
        # candidate JOIN quadratic (every bucket holds a large corpus
        # fraction), so the routed path is the pair-free bucket-canonical
        # form. shingle_size=1: the signature reflects the SAME unigram
        # token-set similarity the exact path thresholds on (3-gram
        # shingles measure sequence overlap — a much stricter similarity
        # — and the recall gate vs the exact funnel fails).
        to_drop = dedup_fuzzy.minhash_bucket_dedup(
            exact_unique,
            "doc_id",
            "text",
            threshold=jaccard_threshold,
            shingle_size=1,
            sigs=sub_sigs,
        ).persist()
    else:
        # sort=False: the pairs feed a distinct + anti-join, and a sorted
        # pair list would range-sample (= re-execute) the pair pipeline.
        near_pairs = dedup_fuzzy.jaccard_near_dups(
            exact_unique, "doc_id", "text", threshold=jaccard_threshold,
            sort=False, sketch=sub_sketch,
        )
        to_drop = (
            near_pairs.select(F.col("doc_id_b").alias("doc_id")).distinct().persist()
        )
    # to_drop is persisted in both branches for the same reason as
    # exact_unique: the terminal orderBy range-samples its child, which
    # would otherwise execute the whole near-dup pipeline a second time
    # just to pick sort boundaries. The cache holds doc ids only — the
    # smallest frame in the funnel.
    result = exact_unique.join(to_drop, "doc_id", "left_anti")
    if substring_min_len is not None:
        cleaned = dedup_fuzzy.remove_duplicate_spans(
            result, "doc_id", "text", k=substring_k, min_len=substring_min_len
        ).select("doc_id", "text")
        result = (
            result.drop("text")
            .join(cleaned, "doc_id")
            .select("doc_id", "text", *keep_cols, "quality_score")
        )
    result = result.orderBy("doc_id")
    return _unpersist_with(_unpersist_with(result, exact_unique), to_drop)
