"""Near-duplicate detection operators (north-star extension): blocked
n-gram Jaccard, MinHash + LSH banding, SimHash.

Design for 100 TB: never form the O(n^2) pair space. Every operator here
generates candidate pairs through an equi-join on a blocking/bucket key
(Catalyst turns that into an ordinary shuffled hash join), then verifies
only the candidates.

- :func:`jaccard_near_dups`     deterministic blocking + exact Jaccard
  verify; fully SQL-expressible (oracle-checkable).
- :func:`minhash_signatures` / :func:`minhash_near_dups`   classic
  shingle -> minhash -> band -> bucket-join LSH.
- :func:`simhash` token-hash sign-sum sketch; hamming-close pairs are
  near-dups.

MinHash and SimHash share one hash family: the base hash is md5-derived
(first 60 bits of the digest); MinHash re-seeds it with an inlined
universal-hash family ``(a_i * h + b_i) mod (2^31 - 1)``. Every term is
plain integer arithmetic on a standard md5, so any engine reproduces
the sketches bit-for-bit — this is what makes the operators
oracle-checkable (same pattern as the md5 winnowing fingerprints below).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_funcs import normalized_text
from .layout import ensure_parallelism

#: Modulus of the MinHash universal-hash family: the Mersenne prime
#: 2^31 - 1. Base hashes and multipliers are < 2^31, so a_i * h < 2^62
#: never overflows a signed 64-bit long (ANSI-mode safe in Spark, and
#: identical in any engine with int64 arithmetic).
MINHASH_P = 2_147_483_647

#: StructField-metadata key under which sketch/signature builders stamp
#: their build params. Column metadata rides the Spark schema into
#: parquet footers and back, so a materialized artifact still carries it.
ARTIFACT_META_KEY = "spark_graft_build"


def _artifact_meta(df: DataFrame, col_name: str) -> dict | None:
    """Build params stamped on ``col_name``, or None if absent."""
    for field in df.schema.fields:
        if field.name == col_name:
            meta = field.metadata or {}
            return meta.get(ARTIFACT_META_KEY)
    return None


def _check_artifact(df: DataFrame, col_name: str, expected: dict, what: str) -> None:
    """Fail loudly when a precomputed artifact was built with different
    params than the consumer assumes — the silent-wrong-results failure
    mode of sharing sketches across operators (same contract as the ANN
    index ``_BUILT`` sentinels, similarity.py). Artifacts built by this
    module carry their params as column metadata (free to check — no
    job); hand-built frames without the stamp are accepted as-is, with
    the param contract on the caller."""
    meta = _artifact_meta(df, col_name)
    if meta is None:
        return
    mismatched = {
        k: (meta.get(k), v) for k, v in expected.items() if meta.get(k) != v
    }
    if mismatched:
        detail = ", ".join(
            f"{k}: artifact={a!r} consumer={c!r}" for k, (a, c) in mismatched.items()
        )
        raise ValueError(
            f"precomputed {what} artifact build params mismatch ({detail}); "
            f"rebuild the artifact or pass matching parameters"
        )


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the MinHash hash family.

    Derived from md5 of fixed strings (no RNG state), so the Spark
    expression and any oracle SQL can inline the exact same literals.
    """
    pairs = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:15], 16)
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:15], 16)
        pairs.append((a % (MINHASH_P - 1) + 1, b % MINHASH_P))
    return pairs


def _md5_hash31(col):
    """Portable 31-bit base hash: first 60 md5 bits mod (2^31 - 1)."""
    return (
        F.conv(F.substring(F.md5(col), F.lit(1), F.lit(15)), 16, 10).cast("long")
        % MINHASH_P
    )


def _token_set(text_col):
    """Distinct lowercase whitespace tokens (the comparison universe)."""
    return F.array_distinct(
        F.filter(F.split(F.lower(text_col), r"\s+"), lambda x: x != F.lit(""))
    )


def jaccard_block_tok(toks):
    """Jaccard blocking token: MIN over the token array of md5(token) —
    a 1-hash MinHash band. Uniformly distributed across documents (unlike
    any positional token choice) and engine-portable. NULL for an empty
    token array."""
    return F.array_min(F.transform(toks, lambda t: F.md5(t)))


def token_sketch(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_bucket: int = 10,
) -> DataFrame:
    """The per-document Jaccard sketch every blocked-Jaccard consumer
    shares: (doc_id, tok_set array<long>, len_bucket, block_tok).

    Factored out of :func:`jaccard_near_dups` so the sketch can be
    computed ONCE per corpus and passed to
    jaccard_near_dups/near_dup_degree/jaccard_block_stats via their
    ``sketch`` parameter — or materialized as a per-corpus parquet
    artifact (the IVF/PQ offline-index pattern) and read by all of
    them. Tokenize+hash is the dominant map-side cost of every one of
    those operators, and at 100 TB re-tokenizing the corpus per
    consumer multiplies the most expensive scan in the pipeline.

    Columns:
    - ``tok_set``  — distinct xxhash64 of the distinct lowercase
      whitespace tokens (the verify stage intersects 64-bit hashes, not
      strings; set sizes are collision-exact for any real vocabulary)
    - ``len_bucket`` — floor(|tokens| / length_bucket), half of the
      blocking key
    - ``block_tok`` — MIN over tokens of md5(token) (a 1-hash MinHash
      band, uniformly distributed); NULL for an empty/whitespace-only
      doc, which drops it from every pair space via NULL-join semantics
    - ``block_tok2`` — SECOND-smallest md5(token) (NULL when the doc has
      fewer than two distinct tokens): the sub-blocking key consumers
      use to split super-blocks when ``block_cap`` is set
    """
    # _token_set is the single definition of the comparison universe —
    # sketch-vs-inline byte equivalence (pinned by
    # test_precomputed_sketch_matches_inline) depends on every consumer
    # tokenizing through it
    toks = _token_set(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.transform(toks, lambda t: F.xxhash64(t))).alias(
            # build-param stamp: consumers fail loudly on a mismatched
            # artifact instead of silently deduping with wrong blocks
            "tok_set",
            metadata={ARTIFACT_META_KEY: {"length_bucket": length_bucket}},
        ),
        F.floor(F.size(toks) / length_bucket).alias("len_bucket"),
        jaccard_block_tok(toks).alias("block_tok"),
        F.when(
            F.size(toks) >= 2,
            F.element_at(F.array_sort(F.transform(toks, lambda t: F.md5(t))), 2),
        ).alias("block_tok2"),
    )


def _with_sub_tok(prepared: DataFrame, block_cap: int | None) -> DataFrame:
    """Append the sub-blocking key ``sub_tok``: '' everywhere when
    ``block_cap`` is None (sub-blocking off — the key is a no-op in the
    equi-join), else the doc's second-min md5 token WITHIN blocks whose
    population exceeds ``block_cap`` and '' in bounded blocks.

    This bounds the worst-case pair space of the blocked-Jaccard family:
    a pathological corpus (one boilerplate token as everyone's min-md5
    token) otherwise produces a single block with a quadratic verify
    space that salting can parallelize but not shrink. Splitting a
    super-block on the second-min token divides its pair space into the
    sum of sub-block squares — a TOTAL-work reduction, at a recall cost:
    a true pair whose two docs disagree on the second-min token is lost.
    For J(A,B) = s the second-min of the union falls in the intersection
    with probability ≈ s (the 1-hash MinHash collision rate, again), so
    within capped blocks candidate recall goes from s to ≈ s² — the
    standard banding trade, taken only where the block is degenerate.
    The split is data-dependent but deterministic (population counts),
    so an oracle reproduces it exactly.

    One extra shuffle: the block-population aggregate joined back on the
    block key (block-count-sized — tiny next to the pair space it cuts).
    """
    if block_cap is None:
        return prepared.withColumn("sub_tok", F.lit(""))
    if "block_tok2" not in prepared.columns:
        raise ValueError(
            "block_cap requires a sketch with the block_tok2 column — "
            "rebuild the token_sketch artifact (older artifacts predate "
            "sub-blocking)"
        )
    sizes = prepared.groupBy("len_bucket", "block_tok").agg(
        (F.count(F.lit(1)) > block_cap).alias("__over")
    )
    return (
        # left join: NULL-block_tok rows (empty docs) never equi-match the
        # size table but must stay present (they simply never pair)
        prepared.join(sizes, ["len_bucket", "block_tok"], "left")
        .withColumn(
            "sub_tok",
            F.when(
                F.col("__over"), F.coalesce(F.col("block_tok2"), F.lit(""))
            ).otherwise(F.lit("")),
        )
        .drop("__over")
    )


def jaccard_near_dups(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    length_bucket: int = 10,
    salt: int = 8,
    sort: bool = True,
    sketch: DataFrame | None = None,
    block_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact token-set Jaccard, with deterministic blocking.

    Blocking key = (distinct-token-count bucket, min-md5-token): two docs
    can only pair if they share both. That keeps the join an equi-join (one
    shuffle on the block key) and bounds the verify set; Jaccard is then
    computed exactly with integer set arithmetic. Docs whose Jaccard >=
    threshold but which land in different blocks are missed — that recall
    trade-off is what MinHash-LSH (below) fixes probabilistically at scale.

    The block token is the MIN over the doc's tokens of md5(token) — a
    1-hash MinHash band. For a candidate pair the collision probability
    equals its Jaccard (fine above any useful threshold), while the key
    itself is uniformly distributed: no "every document starting with
    'the' shares a block" hot key, which is what a positional key degrades
    to at corpus scale (one straggler block with quadratic verify cost).
    md5 (not xxhash64) keeps the key engine-portable for the oracle.

    ``salt`` bounds the *verify-stage* skew (output-invariant, so the
    oracle is untouched): on a dense corpus one block can hold most of
    the docs, and a plain equi-join computes that block's entire
    quadratic pair space in ONE task — a single-core straggler that AQE
    cannot split, because skew-join looks at join *input* sizes (a few
    thousand rows) while the blowup is in the join *output*. The fix is
    the classic triangle decomposition: each doc gets a salt bucket
    i = hash(id) % salt, side A is replicated across (i, j) for all j,
    side B across (i, j) for all i, and the join key gains (i, j) — a
    pair lands in exactly one of salt^2 tasks, so the block's pair space
    runs at salt^2-way parallelism for a salt-fold input replication of
    the (tiny) doc-sketch side. Measured at sf0.1 on the dense fixture:
    4.8 M verifies, one 2996-doc block.

    ``sort=False`` skips the final global sort. Use it whenever the
    pairs feed another operator (aggregate, anti-join): a DataFrame
    ``orderBy`` range-partitions by *sampling its child*, which executes
    the whole pair pipeline a second time — measured 2x wall on the
    dense fixture (3.0 s unsorted count vs 6.2 s sorted materialize at
    sf0.1). Only a terminal, order-sensitive consumer should pay that.

    ``sketch`` takes a precomputed :func:`token_sketch` (possibly
    parquet-materialized) and skips tokenization entirely — the shared-
    artifact shape for pipelines where several consumers sketch the same
    corpus. The caller is responsible for the sketch covering exactly
    the intended document set (restrict with a semi-join when deduping
    a filtered subset). Sketches built by :func:`token_sketch` carry
    their ``length_bucket`` as column metadata; a mismatch with this
    call's parameter raises, unstamped hand-built sketches are trusted.

    ``block_cap`` (off by default) bounds the worst-case pair space by
    splitting blocks of more than ``block_cap`` docs on the second-min
    md5 token — see :func:`_with_sub_tok` for the recall trade.
    """
    if sketch is not None:
        _check_artifact(
            sketch, "tok_set", {"length_bucket": length_bucket}, "token_sketch"
        )
        cols = ["doc_id", "tok_set", "len_bucket", "block_tok"]
        if "block_tok2" in sketch.columns:
            cols.append("block_tok2")
        prepared = ensure_parallelism(sketch.select(*cols))
    else:
        prepared = token_sketch(
            ensure_parallelism(documents), id_col, text_col, length_bucket
        )
    prepared = _with_sub_tok(prepared, block_cap)
    # Triangle-decomposition salt (see docstring): a pair (x, y) with
    # buckets (i, j) matches exactly once, in the (i, j) task.
    bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt))
    fanout = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    a = prepared.select(
        "*", bucket.alias("salt_a"), fanout.alias("salt_b")
    ).alias("a")
    b = prepared.select(
        "*", fanout.alias("salt_a"), bucket.alias("salt_b")
    ).alias("b")
    sa, sb = F.size(F.col("a.tok_set")), F.size(F.col("b.tok_set"))
    pairs = a.join(
        b,
        on=(
            (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.block_tok") == F.col("b.block_tok"))
            & (F.col("a.sub_tok") == F.col("b.sub_tok"))
            & (F.col("a.salt_a") == F.col("b.salt_a"))
            & (F.col("a.salt_b") == F.col("b.salt_b"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        ),
        # Size-ratio prune (output-invariant): J(A,B) <= min/max of the set
        # sizes, so pairs failing min >= t*max can never reach the
        # threshold. Two int comparisons kill a candidate before the
        # intersection is computed. The 1e-6 slack keeps pairs whose true
        # Jaccard sits just under t but ROUNDS to t (the filter downstream
        # compares the 6dp-rounded value).
    ).filter(
        F.least(sa, sb) >= F.lit(threshold - 1e-6) * F.greatest(sa, sb)
    )
    # array_intersect is hash-based (O(|a|+|b|)); inputs are already
    # distinct so its size is exactly |A∩B|.
    inter = F.size(F.array_intersect(F.col("a.tok_set"), F.col("b.tok_set")))
    union = sa + sb - inter
    out = pairs.select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.round(inter / union, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return out.orderBy("doc_id_a", "doc_id_b") if sort else out


def near_dup_degree(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    length_bucket: int = 10,
    salt: int = 8,
    sketch: DataFrame | None = None,
    block_cap: int | None = None,
) -> DataFrame:
    """Per-document near-duplicate degree: (doc_id, n_near_dups,
    max_jaccard); docs with no near-dup are absent.

    The summary a cleaning pipeline actually consumes — "which docs have
    how many near-dups" — without materializing the pair list, which is
    *quadratic in the duplicate density*, not the corpus size: on the
    dense sf0.1 fixture 5 000 docs produce 4.77 M true pairs at t=0.3,
    so emitting (let alone globally sorting) the pairs costs more than
    finding them. This computes the identical pair space (same blocking,
    same exact Jaccard — any missing or extra pair changes some doc's
    count, so an oracle diff on the degrees pins the pair set), then
    collapses it with one explode + hash aggregate keyed by doc_id:
    map-side combine reduces salt-task-local pairs before the one
    doc_id shuffle, output is corpus-sized, and the global sort is over
    |docs| rows instead of |pairs|.
    """
    pairs = jaccard_near_dups(
        documents, id_col, text_col, threshold, length_bucket, salt,
        sort=False, sketch=sketch, block_cap=block_cap,
    )
    sides = pairs.select(
        F.explode(F.array("doc_id_a", "doc_id_b")).alias(id_col), "jaccard"
    )
    return (
        sides.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_near_dups"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy(id_col)
    )


def jaccard_block_stats(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_bucket: int = 10,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Per-block candidate accounting for the Jaccard blocking scheme:
    (len_bucket, block_tok, n_docs, n_candidate_pairs), largest first.

    The pre-flight check for :func:`jaccard_near_dups` at scale: run
    this (one cheap aggregate over the doc sketches) BEFORE paying for
    the verify stage. ``sum(n_candidate_pairs)`` is the exact verify
    cost, and a block holding a large share of the corpus means the
    corpus is dense — route it through banded MinHash
    (:func:`minhash_near_dups`) or raise the threshold rather than
    brute-forcing a quadratic block (SCALE.md documents the trade)."""
    if sketch is not None:
        _check_artifact(
            sketch, "tok_set", {"length_bucket": length_bucket}, "token_sketch"
        )
        # column-pruned read of the shared sketch: tok_set never loads
        prepared = sketch.select("doc_id", "len_bucket", "block_tok")
    else:
        toks = _token_set(F.col(text_col))
        prepared = documents.select(
            F.col(id_col).alias("doc_id"),
            F.floor(F.size(toks) / length_bucket).alias("len_bucket"),
            jaccard_block_tok(toks).alias("block_tok"),
        )
    prepared = prepared.filter(F.col("block_tok").isNotNull())
    return (
        prepared.groupBy("len_bucket", "block_tok")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "len_bucket",
            "block_tok",
            "n_docs",
            (F.col("n_docs") * (F.col("n_docs") - 1) / 2)
            .cast("long")
            .alias("n_candidate_pairs"),
        )
        .orderBy(F.desc("n_candidate_pairs"), "len_bucket", "block_tok")
    )


def containment_near_dups(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 3,
    sort: bool = True,
) -> DataFrame:
    """Asymmetric containment pairs: (doc_id, contained_in, containment)
    where containment = |A ∩ B| / |A| >= threshold — "this fraction of
    doc A's shingles also appear in doc B".

    The one-sided overlap modality Jaccard structurally misses: a short
    doc fully embedded in a much longer one (a quoted article inside a
    page, a README pasted into a repo dump) has Jaccard ≈ |A|/|B| → 0
    but containment 1.0. Corpus-intake pipelines dedup on containment
    for exactly that subset/superset case (the reference has no dedup
    at all — capability beyond `spark-job/apps/curated_tranformation.py`).

    The comparison universe is the ``shingle_size``-word shingle set
    (:func:`_shingles`), NOT unigram tokens: on template-generated or
    domain-narrow corpora unigram vocabularies overlap almost totally
    (measured on the dense fixture: every doc is >= 0.9
    unigram-contained in hundreds of others, while only the 50 true
    clone pairs reach 0.5 at 3-shingles), so word order has to be part
    of the unit for containment to discriminate.

    Blocking must be asymmetric too: the symmetric min-md5 block of
    :func:`jaccard_near_dups` misses true containments outright,
    because a superset B's min shingle can come from content A doesn't
    have — the pair never shares a block. Instead this is an
    INVERTED-INDEX equi-join: side A contributes ONE row keyed by its
    min-md5 shingle (a 1-hash MinHash draw), side B explodes to one
    row per distinct shingle. If A's containment in B is c, A's min
    shingle falls in the intersection with probability exactly c —
    candidate recall ≈ the containment itself, the same probabilistic
    trade the Jaccard block makes, and exact (recall 1.0) for full
    containment.

    Scale shape, three narrow stages (measured 19.2 s -> 3.4 s at
    sf0.1 by NOT carrying shingle arrays through the exploded join):

    1. candidates — A (doc_id, n, block_tok) equi-joined against the
       slim inverted index (shingle, doc_id, n): one row per distinct
       shingle occurrence, a few dozen bytes each (the same fanout
       ``tfidf_cosine_topk`` pays — crucially WITHOUT the shingle-set
       array, which an exploded fat row would replicate df(s) times).
       The size prune (|B| >= t*|A| up to rounding slack) runs here,
       before any array exists.
    2. fetch — the surviving (a, b) candidate pairs equi-join the
       doc->shingle-set table twice, so each set array crosses the
       wire once per CANDIDATE, not once per posting.
    3. verify — one hash-based array_intersect per candidate.

    Join *output* per key in stage 1 is (#A docs whose min is s) x
    df(s): the A-side key is a uniform md5 draw, so even a boilerplate
    shingle key degrades to ONE A-doc scanning df(s) slim rows —
    linear per doc, never quadratic in the corpus, and AQE's skew
    split applies because join output ~ join input.
    """
    out = _containment_pairs(
        documents, id_col, text_col, threshold, shingle_size
    ).select("doc_id", "contained_in", "containment")
    return out.orderBy("doc_id", "contained_in") if sort else out


def _containment_base(
    documents: DataFrame, id_col: str, text_col: str, shingle_size: int
) -> DataFrame:
    """ONE corpus scan shared by the containment family: (doc_id, n,
    tok_set, md5s) where ``n`` = distinct shingle count (the oracle's
    ``len(a.sh)`` — counted over shingle STRINGS, before hashing),
    ``tok_set`` = xxhash64 ids for the set-intersection verify, and
    ``md5s`` = per-shingle md5 for blocking.

    Generate-barriers (measured footgun: HOF lambdas re-inline aliased
    expressions per element — the tokenizing split() would otherwise be
    re-evaluated once per shingle, O(len^2)/doc): materialize the token
    array, then the shingle array, each ONCE per row, and build every
    downstream expression off the attribute. Measured 14-19 s -> ~3 s
    at sf0.1 on the dense fixture."""
    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda x: x != F.lit("")
    )
    pre = ensure_parallelism(documents).select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(toks)).alias("t")
    )
    # identical shingle universe to _shingles (pinned by the oracle)
    sh_expr = _shingle_expr(F.col("t"), shingle_size)
    return pre.select(
        "doc_id", F.explode(F.array(sh_expr)).alias("sh")
    ).select(
        "doc_id",
        F.size("sh").alias("n"),
        F.array_distinct(
            F.transform(F.col("sh"), lambda s: F.xxhash64(s))
        ).alias("tok_set"),
        F.transform(F.col("sh"), lambda s: F.md5(s)).alias("md5s"),
    )


def _containment_pairs(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_size: int,
) -> DataFrame:
    """Containment pair space WITH both set sizes: (doc_id,
    contained_in, n_a, n_b, containment), containment >= threshold.
    :func:`containment_near_dups` projects the public triple;
    :func:`containment_prune` consumes n_a/n_b directly so the absorb
    rule costs no second corpus scan or size re-join."""
    base = _containment_base(documents, id_col, text_col, shingle_size)
    sets = base.select("doc_id", "tok_set")
    a = base.select(
        "doc_id",
        F.col("n").alias("n_a"),
        F.array_min("md5s").alias("block_tok"),
    ).alias("a")
    idx = base.select(
        F.col("doc_id").alias("b_doc"),
        F.col("n").alias("n_b"),
        F.explode("md5s").alias("tok"),
    ).alias("b")
    cands = (
        a.join(
            idx,
            on=(
                (F.col("a.block_tok") == F.col("b.tok"))
                & (F.col("a.doc_id") != F.col("b.b_doc"))
            ),
        )
        .filter(F.col("b.n_b") >= F.lit(threshold - 1e-6) * F.col("a.n_a"))
        .select(F.col("a.doc_id").alias("doc_id"), "b.b_doc", "a.n_a", "b.n_b")
    )
    fetched = (
        cands.join(sets.withColumnRenamed("doc_id", "__ad"),
                   F.col("doc_id") == F.col("__ad"))
        .withColumnRenamed("tok_set", "a_set")
        .join(
            sets.select(
                F.col("doc_id").alias("__bd"), F.col("tok_set").alias("b_set")
            ),
            F.col("b_doc") == F.col("__bd"),
        )
    )
    inter = F.size(F.array_intersect(F.col("a_set"), F.col("b_set")))
    return fetched.select(
        "doc_id",
        F.col("b_doc").alias("contained_in"),
        "n_a",
        "n_b",
        F.round(inter / F.col("n_a"), 6).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def containment_degree(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 3,
) -> DataFrame:
    """Per-document containment report: (doc_id, n_containers,
    max_containment) — how many other docs hold >= threshold of this
    doc's shingles, and the strongest such overlap. Docs contained
    nowhere are absent.

    Same pair space as :func:`containment_near_dups` (any missing or
    extra pair changes some doc's count, so a degree oracle pins the
    pair set) collapsed by one hash aggregate on the contained side —
    output is corpus-sized even when the duplicate-dense pair list is
    not, the same argument as :func:`near_dup_degree`."""
    pairs = containment_near_dups(
        documents, id_col, text_col, threshold, shingle_size, sort=False
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_containers"),
            F.round(F.max("containment"), 6).alias("max_containment"),
        )
        .orderBy("doc_id")
    )


def _shingle_expr(toks_col, n: int = 3):
    """Distinct word n-gram shingle array over an ALREADY-TOKENIZED
    array column. The single definition of the shingle universe — every
    consumer (:func:`_shingles`, the containment family's barrier'd
    builder) MUST route through here: the expression is byte-pinned by
    the DuckDB ``_CONTAINMENT_PREP`` twin, and a drift in any one copy
    would silently break the containment oracles."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks_col) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks_col, i, n)))
    )


def _shingles(text_col, n: int = 3):
    """Word n-gram shingle set over normalized text (distinct)."""
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda x: x != F.lit(""))
    return _shingle_expr(toks, n)


def _sig_params(num_hashes: int, shingle_size: int) -> dict:
    """Build params stamped on (and checked against) MinHash signatures.
    ``portable`` stays a constant True: it names the md5 hash family, so
    signatures materialized before the xxhash64 family was retired
    still validate and any frame stamped ``portable: False`` is refused."""
    return {"num_hashes": num_hashes, "shingle_size": shingle_size, "portable": True}


def minhash_signatures(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: array of ``num_hashes`` minima.

    Each shingle is hashed once (md5-derived 31-bit); the signature
    element i is the min over the doc's shingle set of the i-th
    re-seeded hash. Computed as two
    chained projections with higher-order functions — no shuffle, no
    UDF, no exploding the shingle set into rows (an explode would
    multiply the scan by ~|shingles|).

    The whole signature comes from ONE fold over the shingle array
    (``aggregate`` with an array-of-minima accumulator): each shingle is
    string-hashed once, then cheaply re-seeded per slot with pure
    integer arithmetic. Two rejected formulations, both measured: the
    per-seed ``array_min(transform(...))`` form re-evaluates the shingle
    construction per seed after projection collapsing (~30x slower at 5k
    docs); an explode + groupBy with num_hashes ``min`` columns triggers
    a wide-aggregate codegen blowup (~25s of fixed compile cost per
    query regardless of data size).
    """
    documents = ensure_parallelism(documents)
    sh = _shingles(F.col(text_col), shingle_size)
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in minhash_params(num_hashes)
        ]
    )
    sig = F.aggregate(
        F.transform(sh, _md5_hash31),
        F.expr(f"array_repeat({MINHASH_P}L, {num_hashes})"),
        lambda acc, h: F.zip_with(
            acc, params, lambda m, p: F.least(m, (p["a"] * h + p["b"]) % MINHASH_P)
        ),
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        sig.alias(
            # build-param stamp (the token_sketch/_check_artifact contract):
            # LSH consumers reject signatures built with other params
            "signature",
            metadata={ARTIFACT_META_KEY: _sig_params(num_hashes, shingle_size)},
        ),
        F.size(sh).alias("n_shingles"),
    )


def _banded(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """Explode per-doc signatures into ``bands`` (band_id, band_hash) rows.

    Bounded fan-out (``bands`` rows per doc); the band hash (md5) covers
    the band's ``r`` consecutive signature slots, so an equi-join or
    groupBy on (band_id, band_hash) realizes the classic LSH bucket
    structure."""
    return sigs.select(
        "doc_id",
        "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.struct(
                    band.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(F.col("signature"), band * r + 1, r),
                                lambda x: x.cast("string"),
                            ),
                        ),
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "signature", "band.band_id", "band.band_hash")


def _signatures(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_size: int,
    sigs: DataFrame | None,
) -> DataFrame:
    """The LSH consumers' signature input: ``sigs`` checked against the
    consumer's params when precomputed, else built inline."""
    if sigs is None:
        return minhash_signatures(
            documents, id_col, text_col, num_hashes, shingle_size
        )
    _check_artifact(
        sigs, "signature", _sig_params(num_hashes, shingle_size),
        "minhash_signatures",
    )
    return ensure_parallelism(sigs)


def pick_bands(num_hashes: int, threshold: float) -> int:
    """Pick the band count whose LSH S-curve midpoint ``(1/b)^(1/r)``
    (r = num_hashes/b) lands closest to ``threshold`` — the standard
    tuning rule for banded MinHash (Leskovec et al., Mining of Massive
    Datasets ch. 3)."""
    candidates = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
    return min(candidates, key=lambda b: abs((1.0 / b) ** (b / num_hashes) - threshold))


def minhash_bucket_dedup(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_size: int = 3,
    threshold: float = 0.5,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup drop set by LSH-bucket canonicalization: (doc_id,) of
    every doc that shares some band bucket with a smaller doc_id.

    The shape that survives a PATHOLOGICALLY dense corpus — where even
    the banded candidate JOIN is quadratic because every bucket holds a
    large corpus fraction. This never forms a pair: per (band_id,
    band_hash) bucket one groupBy finds the min doc_id, one bucket-keyed
    join marks everyone else, and the output is at most corpus-sized.
    Cost is linear in docs x bands at ANY duplicate density (measured at
    sf0.1: 1.6 s vs 14 s for the pair-verify form on the same corpus).

    Trade-off vs :func:`minhash_near_dups`: no signature verify, so
    precision is the band S-curve's candidate probability, not an
    estimated-Jaccard cut; ``threshold`` steers it by picking the band
    count whose S-curve midpoint is closest (:func:`pick_bands`). The
    greedy min-id canonical is deterministic, and every bucket's minimum
    survives, so the drop set can never be the whole corpus.
    """
    if bands is None:
        bands = pick_bands(num_hashes, threshold)
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    sigs = _signatures(documents, id_col, text_col, num_hashes, shingle_size, sigs)
    banded = _banded(sigs, bands, r).select("doc_id", "band_id", "band_hash")
    bucket_min = banded.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("min_id")
    )
    return (
        banded.join(bucket_min, ["band_id", "band_hash"])
        .filter(F.col("doc_id") > F.col("min_id"))
        .select("doc_id")
        .distinct()
    )


def minhash_near_dups(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    threshold: float = 0.5,
    sort: bool = True,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band signatures, bucket-join, verify.

    rows-per-band r = num_hashes/bands; candidate probability for true
    Jaccard s is 1-(1-s^r)^bands (the classic S-curve). The banding explode
    produces ``bands`` rows per doc (bounded fan-out), the bucket join is an
    equi-join on (band_id, band_hash), and verification re-estimates
    similarity from the full signatures (estimated Jaccard = fraction of
    matching signature slots).

    ``sigs`` takes precomputed :func:`minhash_signatures` output
    (possibly parquet-materialized) built with the SAME
    num_hashes/shingle_size — signatures are the dominant cost
    (one string-hash per shingle over the whole corpus), so sharing one
    materialized signature table across every LSH consumer is the
    at-scale shape (the token_sketch contract).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    sigs = _signatures(documents, id_col, text_col, num_hashes, shingle_size, sigs)
    banded = _banded(sigs, bands, r).select(
        "doc_id", "signature", "band_id", "band_hash"
    )

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            on=(
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda m: m == 1,
        )
    ) / F.lit(float(num_hashes))
    out = candidates.select(
        "doc_id_a", "doc_id_b", F.round(est, 6).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)
    return out.orderBy("doc_id_a", "doc_id_b") if sort else out


def simhash(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash over the token set: bit b of the sketch is the sign of
    the sum over tokens of (+1 if token-hash bit b else -1).

    60-bit sketch from the first 60 md5 bits of each token —
    engine-independent, oracle-checkable. Shape: explode tokens to ROWS
    (no bit fan-out), then ONE hash aggregate per doc over 30
    packed-counter longs — each long carries 2 31-bit bit-popcounts, so
    the 60 per-bit counts sum as 30 ordinary SUM columns (plus a token
    COUNT), and a final projection decodes sign bits into the sketch:
    ``s_b > 0  <=>  2 * popcount_b > n_tokens``. One shuffle of 32 tiny
    columns instead of a 60x row fan-out through a (doc, bit) aggregate
    + second shuffle. The two rejected shapes, both measured: a HOF fold
    with a 60-counter array accumulator pays ~7 s of one-time
    whole-stage-codegen (giant generated class near janino's method-size
    cliff); 60 *separate* SUM columns in one HashAggregate pays a similar
    compile tax (the round-1 wide-aggregate receipt in SCALE.md).

    A 31-bit counter cannot overflow: a Spark array holds fewer than
    2^31 elements, so no document has more than 2^31 - 1 distinct
    tokens, and the high counter keeps each packed sum under 2^62.
    Near-dups have hamming-close sketches; pairing is a bucket join on
    sketch prefixes (not materialized here).
    """
    width, slots, n_packs = 31, 2, 30  # 60 counters: 2 x 31-bit per long
    toks = _token_set(F.col(text_col))
    base = ensure_parallelism(
        documents.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    )
    rows = base.select("doc_id", F.explode("toks").alias("t")).select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), F.lit(1), F.lit(15)), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Counter c (= bit index b, 0..59) lives in long b//slots at slot
    # b%slots. Constant shift distances, so plain SQL operators work.
    packs = [
        F.expr(
            " + ".join(
                f"(((h >> {59 - (j * slots + i)}) & 1) << {width * i})"
                for i in range(slots)
            )
        ).alias(f"p{j}")
        for j in range(n_packs)
    ]
    agged = (
        rows.select("doc_id", *packs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"p{j}").alias(f"p{j}") for j in range(n_packs)],
        )
    )
    mask = (1 << width) - 1
    sketch = F.expr(
        " + ".join(
            f"(CASE WHEN 2 * ((p{b // slots} >> {width * (b % slots)})"
            f" & {mask}) > n THEN {1 << (59 - b)}L ELSE 0L END)"
            for b in range(60)
        )
    ).alias("simhash")
    sketches = agged.select("doc_id", sketch)
    # Empty/whitespace-only docs have no token rows: restore them with
    # the all-negative-sums sketch (0).
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(sketches, "doc_id", "left")
        .na.fill(0, ["simhash"])
    )


def winnowing_fingerprints(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-char gram of the normalized text, keep the minimum hash per sliding
    window of ``window`` grams, emit the distinct selected hashes.

    Guarantees every match of length >= k+window-1 shares a fingerprint,
    while storing only ~2/(window+1) of the gram hashes. Output is one row
    per (doc_id, fingerprint) — join on fingerprint to find copy spans.
    Hashes are md5 prefixes (strings) so the operator is engine-portable
    and oracle-checkable, unlike xxhash-based sketches.

    Shape: posexplode grams to rows, then the per-window minimum is a
    window-function ``min`` over ``ROWS BETWEEN CURRENT ROW AND window-1
    FOLLOWING``. The all-array form (array_min over slice inside a
    transform lambda) re-evaluates the whole gram array per window after
    Catalyst alias inlining — O(n^2) hashes per document — and the row
    form also distributes: per-doc work is bounded, the shuffle key is
    doc_id, and long documents never build giant in-memory arrays.
    """
    norm = normalized_text(F.col(text_col))
    n_grams = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    grams = (
        ensure_parallelism(documents).select(
            F.col(id_col).alias("doc_id"),
            norm.alias("_norm"),
            n_grams.alias("n_grams"),
        )
        .select(
            "doc_id",
            "_norm",
            "n_grams",
            F.explode(F.sequence(F.lit(1), F.col("n_grams"))).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            "n_grams",
            F.md5(F.col("_norm").substr(F.col("pos"), F.lit(k))).alias("gram"),
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.select(
            "doc_id",
            "pos",
            "n_grams",
            F.min("gram").over(win).alias("fingerprint"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - (window - 1), F.lit(1)))
        .select("doc_id", "fingerprint")
        .distinct()
    )


def _span_tokens(text_col):
    """The substring-dedup token universe: whitespace tokens of the
    canonical text WITH POSITIONS preserved (unlike :func:`_token_set`,
    which is a distinct set). Empty docs yield an empty array."""
    return F.filter(
        F.split(normalized_text(text_col), " "), lambda x: x != F.lit("")
    )


def duplicate_spans(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 15,
) -> DataFrame:
    """Cross-document SUBSTRING-level duplicate spans — the exact-substring
    dedup standard for pre-training corpora (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": remove
    long verbatim repeats, not whole near-dup documents): one row per
    maximal repeated span, ``(doc_id, span_start, span_len)`` in token
    coordinates (1-based, over the normalized whitespace tokens).

    Semantics (deterministic keep-first):
    - a token k-gram is *duplicated* in doc d iff the same k tokens occur
      in some doc with a smaller id — every occurrence in the gram's
      minimum-id doc survives, so repeated content keeps exactly one
      canonical home and the marking is reproducible by any engine;
    - consecutive duplicated gram positions merge into runs (classic
      gaps-and-islands), a run over positions [p1..p2] covers tokens
      [p1 .. p2+k-1] (length p2-p1+k);
    - only spans of >= ``min_len`` tokens are reported (short accidental
      overlaps are noise; Lee et al. use 50 BPE tokens at corpus scale).

    Scale shape — no suffix array, no driver state, no pair space:
    1. one map-side projection emits (doc_id, pos, md5(gram)) rows —
       corpus-token-sized, the same order as any tokenizing scan;
    2. ONE shuffle on the gram hash: a partition-wide window MIN marks
       positions whose gram has a smaller-id home. (The groupBy +
       join-back alternative was measured to scan and gram-generate the
       corpus twice — the window form sorts each gram partition once and
       keeps the pipeline single-pass. Keys are uniform 128-bit hashes;
       a boilerplate gram shared by M docs costs M rows in one
       partition — linear, same as the aggregate's probe side.)
    3. a per-doc window + aggregate merges runs (duplicated positions
       only — the skew bound is per-doc duplicated volume, not corpus).
    Everything is a linear pipeline of shuffles on uniform keys; this is
    the sorted-fingerprint-join shape a 100 TB corpus needs, where the
    suffix-array construction the single-node reference tooling would
    use does not shard.

    k-gram hashing reuses the winnowing machinery's portable md5 grams
    (:func:`winnowing_fingerprints`), so spans are engine-reproducible
    and the whole operator is oracle-checkable.
    """
    toks = _span_tokens(F.col(text_col))
    # Generate-barrier (measured footgun: HOF lambdas re-inline aliases
    # per element): materialize the token array once per row, THEN build
    # grams off the attribute.
    base = ensure_parallelism(documents).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(toks)).alias("toks"),
    )
    n = F.size(F.col("toks"))
    gram_idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                gram_idx,
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, k))),
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    min_doc = F.min("doc_id").over(Window.partitionBy("gram"))
    marked = (
        grams.select("doc_id", "pos", min_doc.alias("min_doc"))
        .filter(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id", "pos")
    )
    island = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    return (
        marked.select("doc_id", "pos", island.alias("island"))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("int").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("doc_id", "span_start", "span_len")
        .orderBy("doc_id", "span_start")
    )


def remove_duplicate_spans(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 15,
) -> DataFrame:
    """Cleaned-text form of :func:`duplicate_spans`: every token covered
    by a qualifying cross-document span is removed, keeping the span's
    single canonical (minimum-id) home intact. One row per input doc:
    ``(doc_id, n_tokens, n_removed, n_spans, text)`` where ``text`` is
    the whitespace-normalized cleaned text (the standard corpus-intake
    canonical form — original spacing is not preserved).

    Removal is computed MAP-SIDE against the doc's own span list: spans
    per doc are collected into a (tiny) array, joined back on doc_id, and
    the token array filters by position containment — no token-row
    shuffle, no per-doc collect of corpus-scaled state. Overlapping span
    coverage (runs separated by < k unmarked positions) double-covers
    some tokens; position-containment removal handles that exactly.
    """
    spans = duplicate_spans(documents, id_col, text_col, k, min_len)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("spans")
    )
    toks = _span_tokens(F.col(text_col))
    base = documents.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(toks)).alias("toks")
    )
    joined = base.join(per_doc, "doc_id", "left")
    spans_arr = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:int,span_len:int>>"),
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            spans_arr,
            lambda s: (i + 1 >= s["span_start"])
            & (i + 1 < s["span_start"] + s["span_len"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("int").alias("n_removed"),
        F.coalesce(F.size("spans"), F.lit(0)).cast("int").alias("n_spans"),
        F.array_join(kept, " ").alias("text"),
    ).orderBy("doc_id")


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    length_bucket: int = 10,
    salt: int = 8,
    existing_sketch: DataFrame | None = None,
    incoming_sketch: DataFrame | None = None,
    block_cap: int | None = None,
) -> DataFrame:
    """Dedup an ingestion INCREMENT against an already-clean corpus:
    returns the ``incoming`` rows (all columns) that are neither exact
    nor near (token-Jaccard >= threshold) duplicates of any ``existing``
    doc or of an earlier (smaller-id) surviving incoming doc.

    This is the operation a daily-crawl pipeline actually runs — the
    clean corpus is orders of magnitude larger than the batch, and
    re-deduping old-vs-old (what running the full near-dup join on the
    union would do) wastes a quadratic-in-corpus verify on pairs that
    were already adjudicated. Here the pair space is strictly
    batch-sided: every candidate pair has an incoming doc on the right,
    so the join cost scales with |batch| x (matching blocks), not
    |corpus|².

    Stages (both oracle-checkable):
    1. exact — md5 fingerprint of whitespace/case-normalized text
       (:func:`...operators.text.fingerprint`): drop incoming docs whose
       fingerprint exists in ``existing``; keep the min-id survivor per
       fingerprint within the batch.
    2. near — the jaccard_near_dups blocking (len_bucket, min-md5-token)
       + salt² triangle decomposition, with the a-side = existing ∪
       surviving incoming and the asymmetric guard (existing always
       blocks incoming; incoming blocks only larger-id incoming).

    ``existing_sketch`` / ``incoming_sketch`` take precomputed
    :func:`token_sketch` frames (the shared-artifact contract) — at
    scale the corpus sketch is a maintained artifact that the increment
    job reads, extends, and writes back. Stamped sketches built with a
    different ``length_bucket`` raise (see :func:`_check_artifact`).

    Id semantics: the existing-vs-incoming relation is keyed on SIDE,
    not id — an existing doc blocks a near-duplicate incoming doc even
    when the two share an id (an id reused across a re-crawl). Ids only
    order the within-batch survivor rule, so the output is well-defined
    whether or not the two id spaces are disjoint.

    ``block_cap`` splits blocks of more than ``block_cap`` participants
    on the second-min md5 token (:func:`_with_sub_tok`) — population is
    counted over the combined pair-participant set (corpus ∪ surviving
    batch), so both join sides assign identical sub-blocks.
    """
    from .text import fingerprint as _fp

    ex_ids = existing.select(F.col(id_col).alias("doc_id"))
    # --- stage 1: exact fingerprints -----------------------------------
    inc_fp = _fp(incoming, id_col, text_col)
    ex_fp = _fp(existing, id_col, text_col).select("fingerprint").distinct()
    batch_canonical = (
        inc_fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    )
    exact_surv = (
        batch_canonical.join(ex_fp, "fingerprint", "left_anti")
        .select("doc_id")
    )
    # --- stage 2: near dups vs corpus + earlier survivors --------------
    if existing_sketch is None:
        existing_sketch = token_sketch(
            ensure_parallelism(existing), id_col, text_col, length_bucket
        )
    else:
        _check_artifact(
            existing_sketch, "tok_set", {"length_bucket": length_bucket},
            "existing token_sketch",
        )
    if incoming_sketch is None:
        incoming_sketch = token_sketch(
            ensure_parallelism(incoming), id_col, text_col, length_bucket
        )
    else:
        _check_artifact(
            incoming_sketch, "tok_set", {"length_bucket": length_bucket},
            "incoming token_sketch",
        )
    if "block_tok2" not in existing_sketch.columns or (
        "block_tok2" not in incoming_sketch.columns
    ):
        # one side predates sub-blocking: a mixed union would assign
        # NULL-backed '' sub_toks to that side only, silently desyncing
        # the block split — degrade BOTH sides so _with_sub_tok either
        # no-ops (cap off) or raises (cap on)
        existing_sketch = existing_sketch.drop("block_tok2")
        incoming_sketch = incoming_sketch.drop("block_tok2")
    surv_sketch = incoming_sketch.join(exact_surv, "doc_id", "left_semi")
    a_side = existing_sketch.withColumn("__is_new", F.lit(False)).unionByName(
        surv_sketch.withColumn("__is_new", F.lit(True))
    )
    # sub-blocking population = every pair participant (a_side already
    # contains the b side as its __is_new slice, so deriving b from the
    # sub-blocked union keeps both sides' sub_tok assignments identical)
    a_side = _with_sub_tok(a_side, block_cap)
    b_side = a_side.filter(F.col("__is_new")).drop("__is_new")
    bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt))
    fanout = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    a = a_side.select(
        "*", bucket.alias("salt_a"), fanout.alias("salt_b")
    ).alias("a")
    b = b_side.select(
        "*", fanout.alias("salt_a"), bucket.alias("salt_b")
    ).alias("b")
    sa, sb = F.size(F.col("a.tok_set")), F.size(F.col("b.tok_set"))
    inter = F.size(F.array_intersect(F.col("a.tok_set"), F.col("b.tok_set")))
    union = sa + sb - inter
    dropped = (
        a.join(
            b,
            on=(
                (F.col("a.len_bucket") == F.col("b.len_bucket"))
                & (F.col("a.block_tok") == F.col("b.block_tok"))
                & (F.col("a.sub_tok") == F.col("b.sub_tok"))
                & (F.col("a.salt_a") == F.col("b.salt_a"))
                & (F.col("a.salt_b") == F.col("b.salt_b"))
                # existing blocks ANY incoming — keyed on the side flag,
                # not id inequality, so an incoming doc reusing an
                # existing doc's id is still compared (docstring: id
                # semantics); incoming blocks only larger-id incoming
                & (
                    (~F.col("a.__is_new"))
                    | (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .filter(F.least(sa, sb) >= F.lit(threshold - 1e-6) * F.greatest(sa, sb))
        .filter(F.round(inter / union, 6) >= threshold)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    keep = exact_surv.join(dropped, "doc_id", "left_anti")
    return incoming.join(
        keep.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    ).orderBy(id_col)


def containment_prune(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_size: int = 3,
) -> DataFrame:
    """The dedup ACTION on top of :func:`containment_near_dups`: the
    surviving doc ids after dropping every doc that is >= threshold
    shingle-contained in an ABSORBING doc — one with more distinct
    shingles, or the smaller id at equal size (so exact clones keep
    exactly their min-id member, and a quote keeps only its longest
    host).

    One-pass semantics, deliberately: absorbers are judged against the
    ORIGINAL corpus, not the surviving set — A ⊂ B ⊂ C drops both A and
    B even though B itself is dropped (the content lives on in C). The
    alternative (recompute after each wave) is iterative with no
    accuracy payoff for dedup; one pass is what keeps the operator a
    single declarative plan, the same choice semantic_dedup makes.

    Cost = the containment pair space alone: the absorb rule reads the
    n_a/n_b sizes :func:`_containment_pairs` already carries, so no
    second corpus scan, shingle rebuild, or size re-join — then one
    anti-join; nothing new shuffles at corpus scale.
    """
    pairs = _containment_pairs(
        documents, id_col, text_col, threshold, shingle_size
    )
    absorbed = (
        pairs.filter(
            (F.col("n_b") > F.col("n_a"))
            | ((F.col("n_b") == F.col("n_a"))
               & (F.col("contained_in") < F.col("doc_id")))
        )
        .select("doc_id")
        .distinct()
    )
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(absorbed, "doc_id", "left_anti")
        .orderBy("doc_id")
    )
