"""Similarity search over embedding columns (north-star extension).

Three kinds of top-k search:

- :func:`cosine_topk_bruteforce` — exact top-k. The query set is broadcast
  (it is small by construction); candidates stream map-side through a
  codegen'd cosine expression; a per-query ranking window keeps k. Cost is
  O(|queries| x |corpus|) FLOPs but zero corpus shuffle — the right
  baseline, and exact.
- :func:`cosine_topk_lsh` — approximate scale path: random-hyperplane LSH
  (SimHash for vectors). Corpus and queries are bucketed by sign-pattern
  hash; candidates come from an equi-join on the bucket, so the pair space
  collapses from O(n*q) to matching buckets only. Recall is tunable with
  ``num_planes``/``num_tables``. Plane projections use a deterministic
  hash-derived pseudo-random matrix, so results are reproducible without
  shipping a random state.
- Index paths — IVF (:func:`cosine_topk_ivf`), PQ (:func:`cosine_topk_pq`)
  and IVF×PQ (:func:`cosine_topk_ivfpq`), plus :func:`semantic_dedup` on
  the IVF cells. Every quantizer is the exact-integer Lloyd
  (clustering.kmeans_fit / kmeans_fit_grouped), so cells, codebooks and
  codes are bit-identical on any engine that follows its rules and each
  probe has a DuckDB value-hash twin. Indexes materialize under an
  ``index_dir`` with a ``_BUILT`` marker written last (see
  :func:`_check_built`).

The search expressions are pure built-in higher-order expressions (no
UDF); a Pandas UDF with numpy matmul (:func:`cosine_topk_pandas`) is the
alternative when vectors get wide enough (>~1k dims) that per-element
codegen loses to BLAS.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector_funcs import (
    cosine_similarity,
    dot_product,
    dot_product_unrolled,
    l2_norm,
)
from .layout import ensure_parallelism
from .graph import _ckpt


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` must be small (it is broadcast). Self-matches (same id)
    are excluded. Ties break by neighbor id for determinism.
    """
    # Norms are computed ONCE per row before the pair blow-up; per pair
    # only the dot product remains (3x less arithmetic, identical values —
    # each norm is a deterministic per-row fold either way).
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__q_vec"),
        l2_norm(F.col(vec_col)).alias("__q_norm"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("__c_norm")
    )
    denom = F.col("__q_norm") * F.col("__c_norm")
    scored = c.join(F.broadcast(q), on=F.col(id_col) != F.col(query_id_col)).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(
            F.when(denom != 0.0, dot_product(F.col("__q_vec"), F.col(vec_col)) / denom),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .orderBy(query_id_col, "sim_rank")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, q_vec tinyint[], q_scale).

    ``q_scale = max|v| / 127``; ``q_vec[i] = round(v[i] / q_scale)`` — the
    standard memory/bandwidth lever for billion-scale ANN: a 4x smaller
    corpus means 4x less shuffle/scan/cache at every stage, and cosine
    ranking is scale-invariant so similarity search needs no dequantize.
    Zero vectors quantize to all-zero with scale 0.

    ``q_scale`` is LET-BOUND before the per-element lambda (the
    alias-inlining rule: referencing it directly inside the transform
    would recompute the max-abs fold per element — O(d²) per vector).
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = maxabs / F.lit(127.0)
    q = F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.when(
                s > 0,
                F.transform(v, lambda x: F.round(x.cast("double") / s).cast("tinyint")),
            ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint"))),
        ),
        1,
    )
    return embeddings.select(
        F.col(id_col), *keep_cols, q.alias("q_vec"), scale.alias("q_scale")
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors.

    Same shape as :func:`cosine_topk_bruteforce` (queries broadcast,
    corpus never shuffles) but every pair scores on tinyint arrays:
    integer multiply-adds over 1/4 the bytes. Cosine is scale-invariant,
    so the per-vector quantization scales cancel — only rounding error
    separates this from the exact ranking (recall pinned by the
    ``ann_quantized_recall`` gate and unit tests).
    """
    cq = quantize_embeddings(corpus, id_col, vec_col)
    qq = quantize_embeddings(queries, query_id_col, vec_col)

    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("long") * y.cast("long"))),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    def int_norm(a):
        return F.sqrt(int_dot(a, a).cast("double"))

    q = qq.select(
        F.col(query_id_col),
        F.col("q_vec").alias("__q_vec"),
        int_norm(F.col("q_vec")).alias("__q_norm"),
    )
    c = ensure_parallelism(cq).select(
        F.col(id_col),
        F.col("q_vec"),
        int_norm(F.col("q_vec")).alias("__c_norm"),
    )
    denom = F.col("__q_norm") * F.col("__c_norm")
    scored = c.join(F.broadcast(q), on=F.col(id_col) != F.col(query_id_col)).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(
            F.when(
                denom != 0.0,
                int_dot(F.col("__q_vec"), F.col("q_vec")).cast("double") / denom,
            ),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .orderBy(query_id_col, "sim_rank")
    )


def portable_plane_weights(
    table: int, num_planes: int, dim: int
) -> list[list[float]]:
    """The md5-derived hyperplane weight matrix for one LSH table:
    ``result[p][d-1]`` = first 60 md5 bits of ``"table|p|d"`` mapped to
    [-1, 1) — the exact recipe the DuckDB oracle replays in SQL
    (oracles.py _ANN_LSH_SQL), computed driver-side once and bound as
    plan-time constants."""
    out = []
    for p in range(num_planes):
        row = []
        for d in range(1, dim + 1):
            h = int(
                hashlib.md5(f"{table}|{p}|{d}".encode()).hexdigest()[:15], 16
            )
            row.append(float(h % 20_000_038 - 10_000_019) / 10_000_019.0)
        out.append(row)
    return out


def _hyperplane_bucket(vec, num_planes: int, weights):
    """Sign-pattern bucket id for a vector under ``num_planes``
    pseudo-random hyperplanes, one LSH table: ``weights`` is that
    table's :func:`portable_plane_weights` matrix bound as an
    array<array<double>> column. The per-table reference form of the
    single nested expression :func:`cosine_topk_lsh` builds (and pins it
    bit-for-bit in tests)."""
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        w = F.element_at(weights, p + 1)
        dot = F.aggregate(
            F.zip_with(vec, w, lambda x, wv: x.cast("double") * wv),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket * 2 + F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))
    return bucket


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 4,
    num_tables: int = 8,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH bucketing.

    The hyperplane weights are md5-derived (:func:`portable_plane_weights`),
    so the bucket assignment — and therefore the whole top-k output — is
    reproducible in DuckDB, and the query is value-hash oracled instead
    of only recall-gated.

    Each side gets ``num_tables`` bucket ids; candidates = bucket collisions
    in any table (union via explode + equi-join + dedup). Exact cosine is
    then computed only on candidates and ranked per query. With small
    buckets the join is a plain shuffled equi-join — no broadcast needed, so
    this path scales to corpora that cannot be broadcast *and* query sets
    that cannot either. Rows with a NULL vector, on either side, are
    dropped before bucketing (they have no direction, so no neighbours);
    an empty or all-NULL corpus returns no rows.

    Tuning: per-plane agreement for angle θ is (1 - θ/π); a candidate
    survives a table with probability (1-θ/π)^num_planes and any of
    ``num_tables`` tables rescues it. When true neighbors sit at wide
    angles (cosine ~0.3 → θ≈72° → 0.6/plane), fewer planes + more tables
    is the recall-preserving direction — 8 planes at that angle passes
    ~1.7% per table and recall collapses. The ``ann_lsh_recall`` entry
    query pins a measured floor against brute force.
    """
    # The weight matrix (plane p, dim d weight = first 60 md5 bits of
    # "table|p|d" mapped to [-1, 1), the recipe the DuckDB twin replays)
    # is precomputed driver-side per dim, so probe the (uniform) vector
    # length once — a 1-row driver job, same budget class as the index
    # builders' dimension-sized collects.
    # The matrix is then shipped as ONE broadcast 1-row frame
    # (array<array<array<double>>>, [table][plane][dim]) rather than
    # num_tables*num_planes*dim literal nodes: the literal-tree form
    # cost a fixed ~2x plan/codegen overhead at sf0.1 (r10 perf flag)
    # that the single-column binding removes; at 100 TB both are
    # data-size-independent but the broadcast form also keeps the
    # analyzed plan small enough to re-optimize cheaply under AQE.
    # A NULL vector's dot products are NULL, which would fall through
    # to sign bit 0 in every table and make it a candidate of bucket 0.
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    first = corpus.select(F.size(F.col(vec_col)).alias("dim")).first()
    # no row (empty or all-NULL corpus): a 0-dim matrix still plans,
    # and the empty corpus then yields no rows
    dim = first["dim"] if first is not None else 0
    wmat = [portable_plane_weights(t, num_planes, dim) for t in range(num_tables)]
    wdf = corpus.sparkSession.createDataFrame(
        [(wmat,)], "__hw array<array<array<double>>>"
    )

    def with_buckets(df, ident):
        # __hw is a reserved internal name (like __q_vec below):
        # drop any caller column of that name before binding the
        # broadcast weight frame so F.col("__hw") stays unambiguous.
        df = df.drop("__hw").crossJoin(F.broadcast(wdf))
        # ONE nested higher-order expression computes EVERY table's
        # bucket from the broadcast weight tensor: fold over the
        # planes of each table (bucket = bucket*2 + sign bit), dot
        # product as the same left-to-right zip_with/aggregate fold
        # as _hyperplane_bucket — bit-identical values, but the
        # expression tree (and the Column-construction py4j traffic)
        # shrinks ~num_tables*num_planes-fold. Measured at sf0.1:
        # DataFrame CONSTRUCTION of the full top-k plan was 2.7-4.9 s
        # with the per-table unrolled form — more than the query's
        # execution — and drops to well under a second with the single
        # expression (the r10 literal-tree lesson, one level up).
        # posexplode's 0-based pos IS the table id (array order).
        buckets = F.transform(
            F.col("__hw"),
            lambda tw: F.aggregate(
                tw,
                F.lit(0).cast("long"),
                lambda acc, w: acc * 2
                + F.when(
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col),
                            w,
                            lambda x, wv: x.cast("double") * wv,
                        ),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    > 0,
                    F.lit(1),
                ).otherwise(F.lit(0)),
            ),
        )
        return df.select(
            F.col(ident),
            F.col(vec_col),
            F.posexplode(buckets).alias("table_id", "bucket"),
        )

    c = with_buckets(corpus, id_col).alias("c")
    q = with_buckets(queries.select(F.col(query_id_col), F.col(vec_col)), query_id_col)
    q = q.withColumnRenamed(vec_col, "__q_vec").alias("q")

    candidates = (
        c.join(
            q,
            on=(
                (F.col("c.table_id") == F.col("q.table_id"))
                & (F.col("c.bucket") == F.col("q.bucket"))
                & (F.col(f"c.{id_col}") != F.col(f"q.{query_id_col}"))
            ),
        )
        .select(
            F.col(f"q.{query_id_col}").alias(query_id_col),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            F.col("c." + vec_col).alias(vec_col),
            F.col("q.__q_vec").alias("__q_vec"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    scored = candidates.select(
        query_id_col,
        "neighbor_id",
        F.round(cosine_similarity(F.col("__q_vec"), F.col(vec_col)), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .orderBy(query_id_col, "sim_rank")
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Per-label centroid vector (element-wise mean), plus member count.

    posexplode -> (label, dim) hash aggregate -> deterministic re-assembly
    via sort_array over (pos, value) structs. Two shuffles ((label,pos)
    then label), both on small keys; the explode multiplies rows by the
    vector width, which is the scalable way to aggregate vectors without
    pulling them to the driver.
    """
    exploded = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    per_dim = exploded.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("double")) / F.count(F.lit(1)), decimals
        ).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
            ).alias("centroid"),
            F.max("n").alias("n_vectors"),
        )
        .orderBy("label")
    )


def cosine_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.9,
    broadcast_right: bool = False,
    salt: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    With ``block_col`` (a cluster/label/bucket column) the pair space is an
    equi-join within blocks — the production shape, where the block comes
    from LSH bucketing or a coarse clusterer. Without it, a full cross
    self-join: exact but O(n^2) — only for modest corpora or final verify
    stages.

    ``broadcast_right=True`` is the small-corpus mode: the right side of
    the self-join is broadcast and the left side round-robin repartitioned,
    so pair scoring parallelizes across all cores instead of across the
    (few) distinct block keys. Leave False when the corpus doesn't fit an
    executor — the block-key shuffle join is the at-scale shape, and there
    ``salt`` applies the same triangle-decomposition as
    dedup_fuzzy.jaccard_near_dups: block columns are typically LOW
    cardinality (labels, clusters), so without it the shuffled join
    scores each block's quadratic pair space in one task — measured 5.5 s
    vs 1.1 s broadcast at sf0.1 on a 10-label corpus, and AQE cannot
    split it (skew-join watches join input sizes, the blowup is in the
    output). Output-invariant; ignored in broadcast mode where the probe
    side is already round-robin-spread.

    Probe-side parallelism is enforced in every mode (round-6 receipt):
    a small corpus arrives as 1-2 parquet partitions, and when Catalyst
    auto-broadcasts the build side the per-pair scoring parallelism is
    bounded by probe partitions — the salted form measured 6.3 s at
    sf0.1 purely from a single-partition probe; round-robin spreading
    it recovers 1.35 s (salt=8) with the identical plan otherwise.
    """
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("norm"),  # once per row, not per pair
    ]
    if block_col:
        cols.append(F.col(block_col).alias("block"))
    prepared = embeddings.select(*cols)
    salted = block_col and not broadcast_right and salt > 1
    # The probe (left) side is round-robin spread in EVERY mode: a small
    # corpus arrives as one or two parquet partitions, and whichever join
    # strategy Catalyst picks (it auto-broadcasts the build side when it
    # fits), per-pair scoring parallelism is bounded by probe partitions.
    # At scale the probe side has thousands of natural partitions and the
    # repartition is a no-op-sized cost next to the join itself.
    if salted:
        bucket = F.pmod(F.xxhash64(F.col("id")), F.lit(salt))
        fanout = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        a = (
            ensure_parallelism(prepared)
            .select("*", bucket.alias("salt_a"), fanout.alias("salt_b"))
            .alias("a")
        )
        b = prepared.select("*", fanout.alias("salt_a"), bucket.alias("salt_b")).alias("b")
    else:
        a = ensure_parallelism(prepared).alias("a")
        b = (F.broadcast(prepared) if broadcast_right else prepared).alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = (F.col("a.block") == F.col("b.block")) & cond
    if salted:
        cond = (
            (F.col("a.salt_a") == F.col("b.salt_a"))
            & (F.col("a.salt_b") == F.col("b.salt_b"))
            & cond
        )
    pairs = a.join(b, on=cond)
    denom = F.col("a.norm") * F.col("b.norm")
    sim = F.round(
        F.when(denom != 0.0, dot_product(F.col("a.vec"), F.col("b.vec")) / denom), 6
    )
    out_cols = [
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        sim.alias("cosine_sim"),
    ]
    if block_col:
        out_cols.insert(2, F.col("a.block").alias("block"))
    return (
        pairs.select(*out_cols)
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _write_built(index_dir: str, **params) -> None:
    """Write the build marker LAST (partitioned/overwrite writes leave
    no trustworthy root _SUCCESS), recording the build parameters as JSON
    so a probe with mismatching args fails loudly instead of silently
    mis-scoring (e.g. LUT indexed with the probe's ksub against codes
    encoded with another).

    One ``kind`` per index family: ``ivf-det``, ``pq-det``,
    ``ivfpq-det`` — the names the exact-integer Lloyd builds have always
    written. Float-KMeans indexes from before it carry the bare family
    name, so :func:`_check_built` refuses them instead of probing cells
    no oracle replays."""
    with open(os.path.join(index_dir, "_BUILT"), "w") as marker:
        json.dump(params, marker)


def _check_built(index_dir: str, **expected) -> bool:
    """Whether ``index_dir`` holds a finished index for a probe expecting
    ``expected`` build params — the one marker rule of every index family.

    - A missing or unparseable _BUILT marker means "not built" (a build
      that never finished, or a marker cut short): returns False and the
      caller builds over the dir.
    - A marker recording a different value for an expected key raises
      ValueError: probing a differently-built index mis-scores silently.
      Keys the marker does not record are not checked.
    - Any other read error (an OSError that is not FileNotFoundError)
      propagates; nothing is deleted.
    """
    try:
        with open(os.path.join(index_dir, "_BUILT")) as marker:
            built = json.load(marker)
    except (FileNotFoundError, ValueError):
        return False
    if not isinstance(built, dict):
        return False
    mismatched = {
        key: {"built": built[key], "probe": expected[key]}
        for key in expected
        if key in built and built[key] != expected[key]
    }
    if mismatched:
        raise ValueError(
            f"index at {index_dir} was built with different parameters "
            f"than the probe asks for: {mismatched}; rebuild the index "
            "or fix the probe args"
        )
    return True


def build_ivf_index(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 4,
    index_dir: str | None = None,
    *,
    seed: int | None = None,
    deterministic: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF (inverted-file) ANN index: returns ``(inverted,
    centroids)``.

    Vectors are L2-normalized (so euclidean k-means order matches cosine
    order) and clustered into ``nlist`` cells by the exact-integer Lloyd
    (clustering.kmeans_fit — fix-point BIGINTs, k-smallest-id init,
    ``iters=max_iter``); each corpus vector is assigned to its cell (the
    inverted file). Cells are bit-identical on any engine that follows
    the rule, so the FULL probe output is value-hash oracle-able in
    DuckDB (query key ann_cosine_ivf). The centroid table is nlist rows —
    the only non-DataFrame state, bounded by construction — converted
    back from the integer domain to normalized vectors (c/scale - 1) for
    the probe ranking. Iterations are bounded low: an IVF index needs
    rough cells, not converged clusters.

    With ``index_dir`` the inverted file and centroid table are
    materialized as parquet and read back — the at-scale shape, where
    the index build is a separate offline job and queries only probe.
    Without it the frames are returned in-memory.

    ``seed`` and ``deterministic`` remain for callers of the earlier
    two-quantizer signature: ``seed`` is unused, and
    ``deterministic=False`` (the retired pyspark.ml KMeans quantizer)
    raises ValueError.
    """
    if not deterministic:
        raise ValueError(
            "build_ivf_index: the pyspark.ml KMeans quantizer was retired; "
            "the exact-integer Lloyd is the only IVF quantizer"
        )
    from . import clustering

    def normalized(col):
        norm = l2_norm(col)
        return F.transform(col, lambda x: x.cast("double") / norm)

    scale = 1 << 20
    assignment, int_centroids = clustering.kmeans_fit(
        ensure_parallelism(corpus).select(
            F.col(id_col), normalized(F.col(vec_col)).alias("__nvec")
        ),
        id_col,
        "__nvec",
        k=nlist,
        iters=max_iter,
        scale=scale,
        shift=1.0,
    )
    inverted = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("__c_norm"),
    ).join(
        assignment.select(
            F.col("id").alias(id_col), F.col("cluster").alias("cell")
        ),
        id_col,
    )
    centroid_rows = [
        (cid, [x / scale - 1.0 for x in c])
        for cid, c in enumerate(int_centroids)
    ]
    centroid_df = corpus.sparkSession.createDataFrame(
        centroid_rows, "cell int, centroid array<double>"
    )
    if index_dir is not None:
        spark = corpus.sparkSession
        # Partition the inverted file by cell: a probe of nprobe cells
        # then reads only nprobe/nlist of the index (partition pruning).
        inverted.write.mode("overwrite").partitionBy("cell").parquet(
            f"{index_dir}/inverted"
        )
        centroid_df.write.mode("overwrite").parquet(f"{index_dir}/centroids")
        _write_built(
            index_dir, kind="ivf-det", nlist=nlist, iters=max_iter
        )
        return read_ivf_index(spark, index_dir)
    return inverted, centroid_df


def read_ivf_index(spark, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """Load a materialized IVF index written by :func:`build_ivf_index`."""
    return (
        spark.read.parquet(f"{index_dir}/inverted"),
        spark.read.parquet(f"{index_dir}/centroids"),
    )


def cosine_topk_ivf_probe(
    inverted: DataFrame,
    centroid_df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe an IVF index: each query ranks the ``nprobe`` nearest cell
    centroids, and exact cosine runs only inside the probed cells — an
    equi-join on cell id, so the pair space shrinks ~nlist/nprobe-fold."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__q_vec"),
        l2_norm(F.col(vec_col)).alias("__q_norm"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cdist").desc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(centroid_df))
        .withColumn(
            "__cdist",
            dot_product(F.col("__q_vec"), F.col("centroid")) / F.col("__q_norm"),
        )
        .withColumn("__probe_rank", F.row_number().over(probe_w))
        .filter(F.col("__probe_rank") <= nprobe)
        .select(query_id_col, "cell", "__q_vec", "__q_norm")
    )

    # Probes (queries x nprobe) are the small side: broadcast them into
    # the inverted file so scoring parallelism follows the corpus
    # partitioning, not the handful of distinct cell ids.
    denom = F.col("__q_norm") * F.col("__c_norm")
    scored = ensure_parallelism(inverted).join(F.broadcast(probes), on="cell").filter(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(
            F.when(denom != 0.0, dot_product(F.col("__q_vec"), F.col(vec_col)) / denom),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .orderBy(query_id_col, "sim_rank")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_iter: int = 4,
    index_dir: str | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k — build (or reuse) the index, then
    probe. Convenience wrapper over :func:`build_ivf_index` +
    :func:`cosine_topk_ivf_probe`; at scale call those separately (the
    index build is an offline job, queries only probe the materialized
    inverted file). With ``index_dir``, an existing materialized index is
    reused and the Lloyd fit is skipped entirely."""

    # kind only: nlist is a BUILD parameter — the probe reads the
    # centroid table from disk, so a default-nlist caller probing a
    # 32-cell index is perfectly correct (only nprobe affects probe math)
    if index_dir is not None and _check_built(index_dir, kind="ivf-det"):
        inverted, centroid_df = read_ivf_index(corpus.sparkSession, index_dir)
    else:
        inverted, centroid_df = build_ivf_index(
            corpus, nlist, id_col, vec_col, max_iter, index_dir
        )
    return cosine_topk_ivf_probe(
        inverted, centroid_df, queries, k, nprobe, id_col, vec_col, query_id_col
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 4,
    index_dir: str | None = None,
) -> DataFrame:
    """Embedding-level corpus prune (the SemDeDup recipe, Abbas et al.
    2023 "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster vectors into IVF cells, then within each
    cell greedily keep the MINIMUM-ID survivor set — a vector is dropped
    iff its cosine to some earlier-id KEPT vector in the same cell is
    >= ``threshold``. Complements the token-level dedup family: it
    removes *semantic* re-statements (translations, paraphrases,
    re-renders) that share no token n-grams.

    Returns one row per input vector: ``(vec_id, cell, kept,
    matched_id)`` — ``matched_id`` is the kept vector that caused the
    drop (highest cosine, smallest id on ties), NULL for kept rows.
    Filter ``kept`` for the pruned corpus; keep the report for audit.

    Determinism: the greedy survivor rule makes the kept set the UNIQUE
    set S per cell with (a) no two members of S cosine >= threshold
    where one precedes the other, and (b) every non-member dominated by
    an earlier member of S — the same min-id canonicalization as the
    Jaccard funnels, so reruns and engines agree given the cell
    assignment. The cells are :func:`build_ivf_index`'s exact-integer
    Lloyd cells — the same cells the IVF probe reads — whether they are
    built in memory or read from a materialized index, so the report is
    identical with and without one.

    Scale shape: cells are the unit of work (applyInPandas per cell,
    numpy kept-matrix @ vector products — O(|cell| x |kept| x dim) per
    cell, embarrassingly parallel across cells). nlist bounds cell size:
    size the index so cells fit an executor (the same contract as the
    IVF probe path). Nothing quadratic in the corpus materializes — the
    verify joins in the gate query run over kept-only or dropped-only
    slices. Reuses a materialized IVF index (``index_dir``, _BUILT
    marker contract, built there when absent) so the clustering is an
    offline artifact shared with the ANN family; without one it builds
    in-memory cells.
    """
    import numpy as np
    import pandas as pd

    if index_dir is not None and _check_built(index_dir, kind="ivf-det"):
        inverted, _ = read_ivf_index(corpus.sparkSession, index_dir)
    elif nlist <= 1:
        # global greedy (no clustering): exact, single cell — the small-
        # corpus / unit-test form
        inverted = corpus.select(
            F.col(id_col), F.col(vec_col), F.lit(0).alias("cell")
        )
    else:
        inverted, _ = build_ivf_index(
            corpus, nlist, id_col, vec_col, max_iter, index_dir
        )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cos := 0, always kept
        mat = mat / norms[:, None]
        kept_rows: list[int] = []
        kept_flags = np.zeros(len(pdf), dtype=bool)
        matched = np.full(len(pdf), -1, dtype=np.int64)
        for i in range(len(pdf)):
            if kept_rows:
                sims = mat[kept_rows] @ mat[i]
                j = int(np.argmax(sims))  # first max -> smallest kept id
                if sims[j] >= threshold:
                    matched[i] = pdf[id_col].iloc[kept_rows[j]]
                    continue
            kept_rows.append(i)
            kept_flags[i] = True
        return pd.DataFrame(
            {
                "vec_id": pdf[id_col],
                "cell": pdf["cell"],
                "kept": kept_flags,
                "matched_id": pd.array(
                    [None if m < 0 else m for m in matched], dtype="Int64"
                ),
            }
        )

    return (
        inverted.select(F.col(id_col), F.col(vec_col), "cell")
        .groupBy("cell")
        .applyInPandas(
            prune, "vec_id long, cell int, kept boolean, matched_id long"
        )
    )


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-k via Arrow-batched numpy matmul — the fast
    path for wide vectors (>~1k dims) where per-element codegen loses to
    BLAS. Same semantics as cosine_topk_bruteforce up to float summation
    order (numpy reduces pairwise, so low bits can differ from the
    sequential fold — which is why the *oracle-checked* variant is the
    HOF one, and this one is tolerance-tested against it).

    The query matrix is a broadcast variable; each Arrow batch of corpus
    rows becomes one matmul. Top-k selection still runs as a Spark window
    so the driver never sees more than k rows per query.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, q_norm))

    def score(batches):
        ids, mat, norms = bq.value
        for pdf in batches:
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = (c_mat @ mat.T) / np.outer(c_norm, norms)
            n_c, n_q = sims.shape
            yield pd.DataFrame(
                {
                    query_id_col: np.tile(ids, n_c),
                    "neighbor_id": np.repeat(pdf[id_col].to_numpy(), n_q),
                    "cosine_sim": np.round(sims, 6).ravel(),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, f"{query_id_col} long, neighbor_id long, cosine_sim double"
    ).filter(F.col("neighbor_id") != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .orderBy(query_id_col, "sim_rank")
    )


def _det_pq_fit(
    corpus: DataFrame,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
    iters: int = 4,
    scale: int = 1 << 20,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic PQ training + encode in one pass: per subspace j,
    the exact-integer Lloyd (clustering.kmeans_fit — fix-point BIGINTs
    of the L2-NORMALIZED subvectors, ksub-smallest-id init) yields both
    the codebook (final integer centroids, converted back to the
    normalized-vector domain c/scale - 1 for the float LUT math) and
    the codes (the fit's own final assignment — no float re-encode, so
    code assignment is bit-identical on any engine that follows the
    rule, which is what makes the WHOLE PQ probe value-hash oracle-able
    in DuckDB). Returns (codebooks, encoded) with the standard layouts.

    One grouped Lloyd pass trains all m sub-quantizers together
    (clustering.kmeans_fit_grouped, group = subspace): iters + 2 jobs
    total instead of m x (iters + 2); driver traffic is m x ksub x dsub
    integers (the codebook itself), the offline-build budget class.
    """
    from . import clustering

    first = corpus.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(
            "PQ: cannot train codebooks on an empty corpus / NULL embedding"
        )
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"PQ: dim {dim} not divisible by m {m}")
    if ksub > 128:
        raise ValueError(
            f"PQ: ksub {ksub} exceeds tinyint code range (max 128 codes)"
        )
    dsub = dim // m
    norm = l2_norm(F.col(vec_col))
    nvec = F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
    sub = corpus.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice(nvec, j * dsub + 1, dsub) for j in range(m)])
        ).alias("subspace", "__sub"),
    )
    assignment, cents = clustering.kmeans_fit_grouped(
        sub,
        id_col,
        "__sub",
        "subspace",
        k=ksub,
        iters=iters,
        scale=scale,
        shift=1.0,
    )
    codebooks = corpus.sparkSession.createDataFrame(
        [
            (j, cid, [x / scale - 1.0 for x in c])
            for (j, cid), c in sorted(cents.items())
        ],
        "subspace int, code int, centroid array<double>",
    )
    encoded = (
        assignment.select(
            F.col("id").alias(id_col),
            F.col("g").alias("subspace"),
            F.col("cluster").cast("tinyint").alias("code"),
        )
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("subspace"), F.col("code")))
                ),
                lambda s: s.getField("code"),
            ).alias("codes")
        )
    )
    return codebooks, encoded


def build_pq_index(
    corpus: DataFrame,
    index_dir: str,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Materialize a PQ index (codebooks + encoded corpus) as parquet —
    the offline build job; queries read codes only. Codebooks and codes
    come from the exact-integer Lloyd (:func:`_det_pq_fit`), so the
    probed top-k has a DuckDB value-hash twin (query key ann_cosine_pq).
    Same _BUILT-marker contract as build_ivf_index (partitioned/overwrite
    writes leave no trustworthy root _SUCCESS).

    Vectors are L2-normalized and split into ``m`` contiguous subvectors
    of dim/m dims, each with its own ``ksub``-centroid codebook (Jégou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI'11). A
    PQ code is m bytes per vector vs 4*dim for float32: at dim=64/m=8 a
    32x smaller index, the memory lever that keeps billion-scale ANN in
    RAM."""
    codebooks, encoded = _det_pq_fit(corpus, m, ksub, id_col, vec_col)
    codebooks.write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    encoded.write.mode("overwrite").parquet(f"{index_dir}/encoded")
    _write_built(index_dir, kind="pq-det", m=m, ksub=ksub)
    return read_pq_index(corpus.sparkSession, index_dir)


def read_pq_index(spark, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """Load a materialized PQ index written by :func:`build_pq_index`."""
    return (
        spark.read.parquet(f"{index_dir}/codebooks"),
        spark.read.parquet(f"{index_dir}/encoded"),
    )


def _pq_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Per-query PQ lookup table: (query_id, __lut) where the flat
    ``__lut[j*ksub + code]`` is the partial dot of the normalized query's
    subvector j with centroid (j, code) — m*ksub doubles per query,
    assembled by ordered struct sort (subspace major, code minor)."""
    qnorm = l2_norm(F.col(vec_col))
    qnormalized = F.transform(F.col(vec_col), lambda x: x.cast("double") / qnorm)
    dim_row = queries.select(F.size(vec_col).alias("d")).first()
    if dim_row is None or dim_row["d"] is None or dim_row["d"] < 0:
        raise ValueError("PQ probe: empty query set / NULL query embedding")
    dsub = dim_row["d"] // m
    qsub = queries.select(
        F.col(query_id_col),
        F.posexplode(
            F.array(
                *[F.slice(qnormalized, j * dsub + 1, dsub) for j in range(m)]
            )
        ).alias("subspace", "__qsub"),
    )
    partial = qsub.join(F.broadcast(codebooks), "subspace").select(
        F.col(query_id_col),
        "subspace",
        "code",
        dot_product(F.col("__qsub"), F.col("centroid")).alias("__pd"),
    )
    return partial.groupBy(query_id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("subspace"), F.col("code"), F.col("__pd"))
                )
            ),
            lambda s: s.getField("__pd"),
        ).alias("__lut")
    )


def _pq_score(m: int, ksub: int):
    """Asymmetric-distance score of a (codes, __lut) row: sum_j
    LUT[j][codes[j]] — m array lookups + adds instead of dim multiplies.
    Both sides are L2-normalized, so the sum approximates cosine."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, j: F.element_at(
                F.col("__lut"), (j * ksub + code.cast("int") + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_topk(
    scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Rank PQ-scored (query, neighbor_id, cosine_sim) pairs. With
    ``rerank > k`` the top-``rerank`` shortlist is re-scored with EXACT
    cosine — per (query, candidate) pair one exact cosine, |queries| x
    rerank rows, the corpus touched via a broadcast semi-join — and the
    top k of that is returned."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    topk = (
        scored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= max(k, rerank))
        .orderBy(query_id_col, "sim_rank")
    )
    if rerank <= k:
        return topk
    shortlist = topk.select(query_id_col, "neighbor_id")
    cand = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__c_vec"),
        l2_norm(F.col(vec_col)).alias("__c_norm"),
    ).join(F.broadcast(shortlist), "neighbor_id")
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__q_vec"),
        l2_norm(F.col(vec_col)).alias("__q_norm"),
    )
    denom = F.col("__q_norm") * F.col("__c_norm")
    rescored = cand.join(F.broadcast(q), query_id_col).select(
        F.col(query_id_col),
        "neighbor_id",
        F.round(
            F.when(
                denom != 0.0, dot_product(F.col("__q_vec"), F.col("__c_vec")) / denom
            ),
            6,
        ).alias("cosine_sim"),
    )
    return (
        rescored.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .orderBy(query_id_col, "sim_rank")
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    rerank: int = 0,
    index_dir: str | None = None,
) -> DataFrame:
    """PQ approximate cosine top-k via asymmetric distance computation:
    the query stays exact, the corpus is m-byte codes, and each pair
    scores as sum_j LUT[j][codes[j]] where LUT holds the query-subvector
    x centroid partial dot products.

    The per-query LUT (m*ksub doubles) is built as a DataFrame aggregate
    and broadcast into the encoded corpus — the corpus never shuffles
    and each pair costs m array lookups + adds instead of dim multiplies.
    Ranking quality is pinned by the ``ann_pq_recall`` recall gate (same
    invariant form as LSH/IVF/int8).

    ``rerank=R`` enables the standard two-stage shape: PQ scores prune
    the corpus to a per-query shortlist of R candidates, then EXACT
    cosine re-ranks only those R rows (a semi-join of the corpus against
    the shortlist — |queries|*R rows of float math instead of
    |queries|*|corpus|). This is how PQ indexes are actually operated:
    the compressed scan bounds memory/compute, the re-rank restores
    ranking quality lost to quantization distortion.

    With ``index_dir`` a materialized index is probed (built there first
    when absent) — the at-scale shape, mirroring cosine_topk_ivf;
    without it the index is fitted in memory.
    """
    if index_dir is not None and _check_built(
        index_dir, kind="pq-det", m=m, ksub=ksub
    ):
        codebooks, encoded = read_pq_index(corpus.sparkSession, index_dir)
    elif index_dir is not None:
        codebooks, encoded = build_pq_index(
            corpus, index_dir, m, ksub, id_col, vec_col
        )
    else:
        codebooks, encoded = _det_pq_fit(corpus, m, ksub, id_col, vec_col)

    lut = _pq_lut(queries, codebooks, m, vec_col, query_id_col)
    scored = ensure_parallelism(encoded).join(
        F.broadcast(lut), on=F.col(id_col) != F.col(query_id_col)
    ).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(_pq_score(m, ksub), 6).alias("cosine_sim"),
    )
    return _pq_topk(
        scored, corpus, queries, k, rerank, id_col, vec_col, query_id_col
    )


def build_ivfpq_index(
    corpus: DataFrame,
    index_dir: str,
    nlist: int = 8,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 4,
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Composed IVF×PQ index — the production billion-scale ANN layout
    (FAISS IVFPQ, Jégou et al. TPAMI'11): one parquet dataset of
    (vec_id, codes) PARTITIONED BY cell, plus the nlist centroid table
    and the m×ksub PQ codebooks. A probe therefore reads only
    nprobe/nlist of the index AND each candidate is m bytes, composing
    the two pruning levers (which cells, how many bytes per vector).

    Cells come from the exact-integer IVF quantizer and codes/codebooks
    from :func:`_det_pq_fit`, so the probed top-k has a DuckDB value-hash
    twin (query key ann_cosine_ivfpq). Pass ``codebooks`` AND ``encoded``
    from a same-m/ksub PQ index to skip the PQ fit (identical training by
    construction).

    Returns (coded, centroids, codebooks) read back from ``index_dir``;
    _BUILT-marker contract as the other index builders.
    """
    inverted, centroid_df = build_ivf_index(
        corpus, nlist, id_col, vec_col, max_iter
    )
    if codebooks is None or encoded is None:
        codebooks, encoded = _det_pq_fit(corpus, m, ksub, id_col, vec_col)
    coded = inverted.select(id_col, "cell").join(encoded, id_col)
    coded.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/coded"
    )
    centroid_df.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    codebooks.write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    _write_built(index_dir, kind="ivfpq-det", nlist=nlist, m=m, ksub=ksub)
    return read_ivfpq_index(corpus.sparkSession, index_dir)


def read_ivfpq_index(spark, index_dir: str):
    """Load a materialized IVFPQ index written by :func:`build_ivfpq_index`."""
    return (
        spark.read.parquet(f"{index_dir}/coded"),
        spark.read.parquet(f"{index_dir}/centroids"),
        spark.read.parquet(f"{index_dir}/codebooks"),
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    rerank: int = 0,
    index_dir: str | None = None,
) -> DataFrame:
    """IVF×PQ approximate cosine top-k: rank cell centroids per query,
    statically partition-prune the coded index to the nprobe probed
    cells (the probed cell ids are queries×nprobe — dimension-sized, so
    collecting them for an isin() pushdown is the cheap way to get REAL
    partition pruning rather than hoping for DPP), LUT-score the m-byte
    codes of candidates only, then exact-re-rank the top-``rerank``
    shortlist against the raw vectors. Quality pinned by the
    ``ann_ivfpq_recall`` gate."""
    # m/ksub index the LUT scoring — mismatches mis-score silently, so
    # they must match the build. nlist deliberately unchecked: cells come
    # from disk, a different probe-side default is harmless.
    if index_dir is not None and _check_built(
        index_dir, kind="ivfpq-det", m=m, ksub=ksub
    ):
        coded, centroid_df, codebooks = read_ivfpq_index(
            corpus.sparkSession, index_dir
        )
    elif index_dir is not None:
        coded, centroid_df, codebooks = build_ivfpq_index(
            corpus, index_dir, nlist, m, ksub, id_col, vec_col
        )
    else:
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            coded, centroid_df, codebooks = build_ivfpq_index(
                corpus, tmp, nlist, m, ksub, id_col, vec_col
            )
            # materialize out of the temp dir before it vanishes
            coded = _ckpt(coded)
            centroid_df = _ckpt(centroid_df)
            codebooks = _ckpt(codebooks)

    # per-query probe ranking over the nlist-row centroid table
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__q_vec"),
        l2_norm(F.col(vec_col)).alias("__q_norm"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cdist").desc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(centroid_df))
        .withColumn(
            "__cdist",
            dot_product(F.col("__q_vec"), F.col("centroid")) / F.col("__q_norm"),
        )
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= nprobe)
        .select(query_id_col, "cell")
    )
    probe_rows = probes.collect()  # queries x nprobe rows — dimension-sized
    probed_cells = sorted({r["cell"] for r in probe_rows})

    cand = coded.filter(F.col("cell").isin(probed_cells)).join(
        F.broadcast(probes), "cell"
    ).filter(F.col(id_col) != F.col(query_id_col))

    # PQ LUT scoring restricted to candidates
    lut = _pq_lut(queries, codebooks, m, vec_col, query_id_col)
    scored = ensure_parallelism(cand).join(F.broadcast(lut), query_id_col).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(_pq_score(m, ksub), 6).alias("cosine_sim"),
    )
    return _pq_topk(
        scored, corpus, queries, k, rerank, id_col, vec_col, query_id_col
    )


def semantic_dedup_gate(
    corpus: DataFrame,
    report: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row invariant gate for a :func:`semantic_dedup` report — the
    _ann_recall pattern: every boolean is RE-VERIFIED with exact
    JVM-side cosine joins (never the corpus square; kept-pair join per
    cell, culprit join over dropped rows only), an oracle recomputes
    only the input cardinality and asserts the booleans TRUE.

    The four booleans uniquely pin the greedy per-cell survivor set
    given the cell assignment: (ids_valid) output ids partition the
    input, (kept_nonempty) someone survives, (no_kept_near_pair) no two
    kept vectors in one cell reach the threshold, (dropped_have_culprit)
    every dropped row names an earlier-id kept culprit at/above it.
    Boundary slack 1e-6 absorbs numpy-vs-codegen summation-order ulps;
    a real survivor-structure regression flips a boolean.

    Pair-verify cost (r19): the exact JVM cosine is evaluated once per
    kept pair, and the higher-order-function form is interpreted
    (CodegenFallback) — measured 3.1 s for the 38 k kept pairs at sf0.1,
    ~the whole gate. Value-identically restructured: each side's
    l2_norm is computed ONCE PER ROW before the join (same fold
    expression, so the same double), and when the corpus' vectors have
    uniform length the per-pair dot is the unrolled codegen'd twin
    (``dot_product_unrolled`` — bit-identical by construction, pinned
    in tests). cosine = when(na*nb != 0, dot/(na*nb)) evaluates the
    identical IEEE operation sequence as cosine_similarity.
    """
    rep = _ckpt(report)  # 3 verification consumers below
    t = threshold
    emb = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sizes = emb.agg(
        F.min(F.size("embedding")).alias("lo"), F.max(F.size("embedding")).alias("hi")
    ).first()
    uniform_dim = sizes["lo"] if sizes["lo"] == sizes["hi"] else None

    def pair_cosine(a, b, na, nb):
        dot = (
            dot_product_unrolled(a, b, uniform_dim)
            if uniform_dim
            else dot_product(a, b)
        )
        denom = na * nb
        return F.when(denom != 0.0, dot / denom)

    embn = emb.withColumn("__nrm", l2_norm(F.col("embedding")))
    kept = rep.filter("kept").join(embn, "vec_id").select(
        "vec_id", "cell", "embedding", "__nrm"
    )
    # Parallelism of the pair verify: the kept frame is tiny in BYTES, so
    # AQE coalesces the cell-keyed join to ONE post-shuffle partition —
    # but its pair OUTPUT is |kept|²-ish and the cosine filter then runs
    # single-task (measured: the whole 2-3 s gate cost was one straggler
    # task). Explicit round-robin repartition on the stream side + a
    # broadcast build side keeps the map-side join at full width; both
    # are strategy-only (results unchanged).
    n_par = corpus.sparkSession.sparkContext.defaultParallelism
    ka = kept.repartition(n_par).alias("ka")
    kb = F.broadcast(kept).alias("kb")
    kept_pair_frame = (
        ka.join(
            kb,
            (F.col("ka.cell") == F.col("kb.cell"))
            & (F.col("ka.vec_id") < F.col("kb.vec_id")),
        )
        .filter(
            pair_cosine(
                F.col("ka.embedding"), F.col("kb.embedding"),
                F.col("ka.__nrm"), F.col("kb.__nrm"),
            )
            >= t + 1e-6
        )
    )
    dropped = rep.filter(~F.col("kept"))
    kept_ids = rep.filter("kept").select(F.col("vec_id").alias("matched_id"))
    culprit_frame = (
        dropped.join(kept_ids, "matched_id", "left_semi")
        .filter(F.col("matched_id") < F.col("vec_id"))
        .join(embn, "vec_id")
        .join(
            embn.select(
                F.col("vec_id").alias("matched_id"),
                F.col("embedding").alias("m_emb"),
                F.col("__nrm").alias("__m_nrm"),
            ),
            "matched_id",
        )
        .filter(
            pair_cosine(
                F.col("embedding"), F.col("m_emb"),
                F.col("__nrm"), F.col("__m_nrm"),
            )
            >= t - 1e-6
        )
    )
    # ONE action for every verification count (r19): the five checks were
    # five sequential .count()/.first() jobs, each paying full job/stage
    # latency on tiny frames — the measured bulk of the gate at sf0.1.
    # Unioned into one collect, their independent subtrees run as
    # concurrent stages of a single job (guide §2.6), so wall time is the
    # slowest subtree, not the sum. Values are identical — each branch is
    # the same aggregate the serial form ran.
    def one(tag: str, df: DataFrame, v1, v2) -> DataFrame:
        return df.agg(v1.cast("long").alias("v1"), v2.cast("long").alias("v2")).select(
            F.lit(tag).alias("tag"), "v1", "v2"
        )

    counts_df = (
        one("kept_pairs", kept_pair_frame, F.count(F.lit(1)), F.lit(0))
        .unionAll(one("culprit_ok", culprit_frame, F.count(F.lit(1)), F.lit(0)))
        .unionAll(
            one("rep_stats", rep, F.count(F.lit(1)), F.sum(F.col("kept").cast("int")))
        )
        .unionAll(one("n_vecs", emb, F.count(F.lit(1)), F.lit(0)))
        .unionAll(
            one(
                "out_distinct",
                rep.select("vec_id").distinct().join(emb, "vec_id", "left_semi"),
                F.count(F.lit(1)),
                F.lit(0),
            )
        )
    )
    counts = {r["tag"]: (r["v1"], r["v2"]) for r in counts_df.collect()}
    n_kept_near_pairs = counts["kept_pairs"][0]
    n_culprit_ok = counts["culprit_ok"][0]
    n_out, n_kept = counts["rep_stats"]
    n_dropped = n_out - (n_kept or 0)
    n_vecs = counts["n_vecs"][0]
    n_out_distinct_in_input = counts["out_distinct"][0]
    return corpus.sparkSession.createDataFrame(
        [
            (
                n_vecs,
                n_out == n_vecs and n_out_distinct_in_input == n_vecs,
                (n_kept or 0) >= 1,
                n_kept_near_pairs == 0,
                n_culprit_ok == n_dropped,
            )
        ],
        "n_vecs long, ids_valid boolean, kept_nonempty boolean, "
        "no_kept_near_pair boolean, dropped_have_culprit boolean",
    )


def crossencoder_rerank(
    candidates: DataFrame,
    docs: DataFrame,
    query_id_col: str = "query_id",
    cand_id_col: str = "neighbor_id",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-encoder-style second-stage rerank over an ANN candidate
    list — the retrieve-then-rerank shape of modern retrieval stacks
    (bi-encoder ANN recalls a bounded candidate set; a pairwise model
    that reads BOTH texts jointly re-scores it). The one
    brief-adjacent gap left in the similarity family per the r17
    verdict: everything upstream (brute force, LSH, IVF, PQ, IVFPQ)
    ranks by embedding geometry alone.

    The SCORER here is a deterministic stand-in for the transformer
    forward pass (the container has no model runtime — same stub rule
    as the multimodal decoders): an integer lexical-interaction score,
    ``(10000 * |distinct shared tokens|) div |distinct token union|``
    — a genuine PAIRWISE function (it needs both texts jointly, like a
    cross-encoder, and unlike anything precomputable per side), integer
    end-to-end so the DuckDB twin hashes bit-for-bit. The PLUMBING is
    the real thing and is what this operator pins: queries' texts ride
    a broadcast (the query set is dimension-bounded by contract — same
    rule as cosine_topk_bruteforce/_pandas), candidate texts arrive by
    joining the data-scaled doc table against the BROADCAST candidate
    list (the corpus streams once; only |queries| x k rows survive),
    and scoring runs over Arrow batches in mapInPandas — swap
    ``score_pairs`` for a model call and batch shape, memory ceiling,
    and partitioning are already correct.

    Output: the candidate columns + ``ce_score`` (bigint) +
    ``rerank_pos`` (int; per-query row_number by ce_score desc, then
    the upstream ``sim_rank`` asc — the retrieval order is the
    deterministic tiebreak, so rerank is a pure function of the
    candidate set). The per-query window is k-row-bounded (never
    data-scaled: candidates are |queries| x k by construction).

    Scale shape at 100 TB: one broadcast-hash pass over the doc table
    (no shuffle of the corpus), one Arrow scoring pass over |q| x k
    rows, one tiny window. The driver-side collect is the QUERY texts
    only — |queries| rows, dimension-sized by the same contract that
    lets every ANN operator broadcast the query matrix.
    """
    import pandas as pd

    spark = candidates.sparkSession
    cand = _ckpt(candidates)  # forks: query-text semi-join + rerank join
    q_ids = cand.select(F.col(query_id_col).alias("__qid")).distinct()
    q_rows = (
        docs.join(
            F.broadcast(q_ids), F.col(doc_id_col) == F.col("__qid"), "left_semi"
        )
        .select(doc_id_col, text_col)
        .collect()
    )
    # tokenization contract shared with the DuckDB twin: single-space
    # split, empty tokens dropped, distinct set semantics
    q_tokens = {
        r[0]: frozenset(t for t in (r[1] or "").split(" ") if t)
        for r in q_rows
    }
    bq = spark.sparkContext.broadcast(q_tokens)

    pair_cols = [f.name for f in candidates.schema.fields]
    joined = docs.select(
        F.col(doc_id_col).alias("__cid"), F.col(text_col).alias("__ctext")
    ).join(F.broadcast(cand), F.col("__cid") == F.col(cand_id_col))

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in candidates.schema.fields
    ) + ", ce_score bigint"

    def score_pairs(batches):
        qtok = bq.value
        for pdf in batches:
            ctoks = [
                frozenset(t for t in (s or "").split(" ") if t)
                for s in pdf["__ctext"]
            ]
            scores = []
            for qid, ct in zip(pdf[query_id_col], ctoks):
                qt = qtok.get(qid, frozenset())
                union = len(qt | ct)
                scores.append(
                    (10000 * len(qt & ct)) // union if union else 0
                )
            out = pdf[pair_cols].copy()
            out["ce_score"] = pd.Series(scores, dtype="int64")
            yield out

    scored = joined.mapInPandas(score_pairs, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("ce_score").desc(), F.col("sim_rank").asc()
    )
    return (
        scored.withColumn(
            "rerank_pos", F.row_number().over(w).cast("int")
        )
        .orderBy(query_id_col, "rerank_pos")
    )
