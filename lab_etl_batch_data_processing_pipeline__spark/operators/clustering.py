"""Fixed-iteration Lloyd k-means over an embedding column, in EXACT
integer arithmetic — the clustering stage of a corpus pipeline (topic
bucketing, IVF coarse quantizers, SemDeDup cells) with a value-hash
oracle: every engine that follows the same rule produces the same
assignment, bit for bit.

Why exact: float Lloyd's is non-deterministic across engines (parallel
sum order, FMA, libm) and across partitionings. Here vectors fix-point
to BIGINTs first (``round((x + shift) * scale)``, scale a power of two
so the multiply is an exponent shift; shift makes every coordinate
non-negative so truncating division == floor on any engine), distances
are integer sums of squared diffs, and centroid updates are
``dim_sum div n_members`` — all BIGINT, no float anywhere. Overflow
headroom: coordinates < 2·scale, so per-dim squared diffs < 4·scale²
and a 64-dim distance < 2⁵⁶ at the default scale 2²⁰.

Scale shape (the standard distributed Lloyd's):

- assignment + update partials are MAP-ONLY — one Arrow-batched
  mapInPandas pass per iteration computes the (rows, k) distance
  matrix and the per-batch (cluster, pos, sum, count) partials in
  vectorized int64 NumPy (optimization guide §4.2: the previous
  array_min-over-k-folds expression form ran INTERPRETED — higher-
  order functions are CodegenFallback — at k·dim lambda evaluations
  per row, and posexploded rows·dim rows into the update aggregate);
- the update step stays one (cluster, dim)-keyed hash aggregate, now
  over k·dim partial rows per batch instead of rows·dim exploded
  rows — map-side combine in Python, dimension-sized everywhere after;
- the only driver materialization per iteration is that k·dim-int
  frame (dimension-sized, same contract as the IVF index builders);
- iterations are a fixed, small count (the caller pins it), so the
  whole run is ``iters + 1`` shuffle-light jobs over one cached scan.
- the grouped trainer (:func:`kmeans_fit_grouped`, the PQ shape) keeps
  its broadcast-join form: its per-group centroids already ride as
  DATA, so it never had the interpreted-literal problem.

Reference scope: the reference engine has no clustering operator
(SURVEY.md §2 ends at windowed aggregates); this extends the engine's
training-data surface the same way the ANN/dedup family does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from lab_etl_batch_data_processing_pipeline__spark.operators.graph import _ckpt

__all__ = ["kmeans_assign", "kmeans_fit"]


def _scaled_vec(vec_col, scale: int, shift: float):
    return F.transform(
        vec_col,
        lambda x: F.round((x + F.lit(shift)) * F.lit(scale)).cast("long"),
    )


def _dist_sq(vec_col, centroid: list[int]):
    """Integer squared L2 distance between a BIGINT array column and a
    centroid literal — a left-to-right fold, exact in any order (integer
    addition is associative)."""
    arr = F.array(*[F.lit(int(c)).cast("long") for c in centroid])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _dist_matrix(pdf_v, cents):
    """(rows, k) int64 squared-L2 matrix for one Arrow batch: exact
    integer arithmetic (NumPy int64 == BIGINT — headroom documented in
    kmeans_fit), one vectorized pass per centroid instead of k
    interpreted folds per row."""
    import numpy as np

    X = np.array(pdf_v.tolist(), dtype=np.int64)
    C = np.array(cents, dtype=np.int64)
    d2 = np.empty((len(X), len(C)), dtype=np.int64)
    for j in range(len(C)):
        diff = X - C[j]
        d2[:, j] = np.einsum("nd,nd->n", diff, diff)
    return X, d2


def _partials_fn(cents):
    """mapInPandas body for one Lloyd update: per-batch
    (cluster, pos, s, n) partial sums — k·dim rows per batch, so the
    downstream aggregate and driver collect stay dimension-sized while
    the vectors themselves never leave the executor."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        dim = len(cents[0])
        for pdf in batches:
            if not len(pdf):
                continue
            X, d2 = _dist_matrix(pdf["v"], cents)
            cl = d2.argmin(axis=1)  # first min == smallest cluster id
            frames = []
            for j in np.unique(cl):
                m = cl == j
                frames.append(
                    pd.DataFrame(
                        {
                            "cluster": np.full(dim, j, dtype=np.int32),
                            "pos": np.arange(dim, dtype=np.int32),
                            "s": X[m].sum(axis=0, dtype=np.int64),
                            "n": np.full(dim, int(m.sum()), dtype=np.int64),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return fn


def _assign_fn(cents):
    """mapInPandas body for the final assignment pass:
    (id, cluster, dist_sq) per row, same argmin/tie rule as the update."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            _, d2 = _dist_matrix(pdf["v"], cents)
            cl = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "cluster": cl.astype(np.int32),
                    "dist_sq": d2[np.arange(len(cl)), cl],
                }
            )

    return fn


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = 1 << 20,
    shift: float = 1.0,
) -> tuple[DataFrame, list[list[int]]]:
    """Run ``iters`` exact-integer Lloyd iterations and return
    ``(assignment, centroids)``: the final assignment frame (id,
    cluster, dist_sq), one row per input vector sorted by id, plus the
    final k integer centroid vectors in the fix-point domain
    (``round((x + shift) * scale)``) — the piece an IVF index builder
    needs beyond the assignment (similarity.build_ivf_index, the
    quantizer of every IVF / IVF×PQ index and of semantic_dedup).

    Deterministic rule set (the oracle replicates each):
    - init: centroids 0..k-1 are the scaled vectors of the k smallest
      ids (no RNG — seeded sampling would need a cross-engine PRNG);
    - assign: nearest centroid by integer squared L2; ties break to the
      smaller centroid id (array_min over struct(dist, cid) — the same
      (dist, cid) lexicographic order as a ROW_NUMBER twin);
    - update: per-dim ``sum div count`` (operands non-negative, so
      truncation == floor everywhere); a cluster that captured no
      members keeps its previous centroid;
    - after the last update, one final assignment pass produces the
      output (so the result reflects the iters-th centroids).

    ``shift`` must make every coordinate non-negative (caller asserts
    domain knowledge; the default +1.0 covers unit-normalized
    embeddings).
    """
    if k < 1 or iters < 0:
        raise ValueError("k >= 1 and iters >= 0 required")
    vecs = df.select(
        F.col(id_col).alias("id"),
        _scaled_vec(F.col(vec_col), scale, shift).alias("v"),
    )
    # materialize the scaled vectors once: the loop scans them iters+1
    # times and the lineage must not re-run the parquet scan per pass
    # (same discipline as pagerank's static frames)
    vecs = _ckpt(vecs)
    # init: k smallest ids, dimension-sized collect (k rows)
    seed_rows = vecs.orderBy("id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need >= {k} vectors, got {len(seed_rows)}")
    centroids = [list(r.v) for r in seed_rows]

    dim = len(centroids[0])
    for _ in range(iters):
        # Vectorized assign+update in ONE Arrow pass (optimization guide
        # §4.2): the old form evaluated k aggregate/zip_with folds per
        # row — higher-order functions are CodegenFallback, i.e.
        # INTERPRETED expression evaluation, k·dim lambda calls per row
        # — then posexploded every vector into rows·dim rows for the
        # update aggregate. Here each Arrow batch computes the distance
        # matrix and its per-batch (cluster, pos, sum, count) partials
        # in int64 NumPy (exact: coords < 2²¹ at the default scale, so
        # a 64-dim squared distance < 2⁴⁸ and batch sums stay far under
        # 2⁶³ — same truncation-free BIGINT domain as the expression
        # form), and only k·dim partial rows per batch reach the final
        # aggregate. argmin ties break to the FIRST (smallest) cluster
        # id — the array_min struct(dist, cid) rule. Bit-identical
        # output, pinned by the unchanged value tests and the DuckDB
        # oracle (q_embedding_kmeans).
        sums = (
            vecs.select("v")
            .mapInPandas(
                _partials_fn(centroids), "cluster int, pos int, s long, n long"
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new_cents = [list(c) for c in centroids]  # empty cluster keeps old
        by_cluster: dict[int, list[tuple[int, int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(r.cluster, []).append((r.pos, r.s, r.n))
        for cid, entries in by_cluster.items():
            vec = [0] * dim
            for pos, s, n in entries:
                vec[pos] = s // n  # non-negative: floor == trunc
            new_cents[cid] = vec
        centroids = new_cents

    id_type = vecs.schema["id"].dataType.simpleString()
    out = vecs.mapInPandas(
        _assign_fn(centroids), f"id {id_type}, cluster int, dist_sq long"
    ).orderBy("id")
    return out, centroids


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = 1 << 20,
    shift: float = 1.0,
) -> DataFrame:
    """Final assignment only — :func:`kmeans_fit` without the centroid
    list (the original public surface; see kmeans_fit for the full
    deterministic rule set and the scale shape)."""
    return kmeans_fit(df, id_col, vec_col, k, iters, scale, shift)[0]


def kmeans_fit_grouped(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = 1 << 20,
    shift: float = 1.0,
) -> tuple[DataFrame, dict]:
    """Per-group :func:`kmeans_fit`: the SAME deterministic rule set
    (k-smallest-id init, (dist, cid)-lexicographic assignment,
    sum-div-count update, empty clusters keep the prior centroid)
    applied independently within every ``group_col`` value — but
    trained in ONE round-trip per iteration over the whole frame, not
    one Lloyd run per group. This is the product-quantization trainer's
    shape (m sub-quantizers = m groups, FAISS trains them in one data
    pass too); m sequential kmeans_fit calls cost m x (iters + 2) jobs,
    this costs (iters + 2) regardless of group count.

    Mechanics: centroids live driver-side as {(group, cid): vec}
    (groups x k x dim ints — dimension-sized by contract) and re-enter
    each round as a small joined frame, so the assignment is a
    broadcast-ish equi-join + one (id, group)-keyed struct-min instead
    of a literal array_min; the update is one (group, cid, pos) hash
    aggregate. Values are bit-identical to per-group kmeans_fit
    (pinned in tests/test_similarity.py::test_det_pq_grouped_matches
    via the PQ fit) — integer arithmetic, same tie rules.

    Returns ``(assignment, centroids)``: assignment =
    (group, id, cluster, dist_sq) sorted by (group, id); centroids =
    {(group, cid): list[int]} in the fix-point domain.
    """
    if k < 1 or iters < 0:
        raise ValueError("k >= 1 and iters >= 0 required")
    vecs = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        _scaled_vec(F.col(vec_col), scale, shift).alias("v"),
    )
    vecs = _ckpt(vecs)
    spark = df.sparkSession
    seed_w = Window.partitionBy("g").orderBy("id")
    seed_rows = (
        vecs.withColumn("rn", F.row_number().over(seed_w))
        .filter(F.col("rn") <= k)
        .collect()
    )
    centroids: dict = {}
    group_counts: dict = {}
    for r in seed_rows:
        centroids[(r.g, r.rn - 1)] = list(r.v)
        group_counts[r.g] = max(group_counts.get(r.g, 0), r.rn)
    for g, n in group_counts.items():
        if n < k:
            raise ValueError(f"group {g!r}: need >= {k} vectors, got {n}")

    def cent_df(cents):
        return spark.createDataFrame(
            [(g, cid, c) for (g, cid), c in cents.items()],
            f"g {df.schema[group_col].dataType.simpleString()}, "
            "cid int, c array<bigint>",
        )

    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def assign(cents) -> DataFrame:
        scored = vecs.join(F.broadcast(cent_df(cents)), "g").select(
            "g",
            "id",
            "v",
            F.struct(dist.alias("dist_sq"), F.col("cid").alias("cluster")).alias(
                "__sc"
            ),
        )
        best = scored.groupBy("g", "id").agg(
            F.min("__sc").alias("b"), F.first("v").alias("v")
        )
        return best.select(
            "g",
            "id",
            "v",
            F.col("b.cluster").alias("cluster"),
            F.col("b.dist_sq").alias("dist_sq"),
        )

    for _ in range(iters):
        sums = (
            assign(centroids)
            .select("g", "cluster", F.posexplode(F.col("v")).alias("pos", "x"))
            .groupBy("g", "cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_cents = {key: list(c) for key, c in centroids.items()}
        by_key: dict = {}
        for r in sums:
            by_key.setdefault((r.g, r.cluster), []).append((r.pos, r.s, r.n))
        for key, entries in by_key.items():
            vec = list(new_cents[key])
            for pos, s, n in entries:
                vec[pos] = s // n  # non-negative: floor == trunc
            new_cents[key] = vec
        centroids = new_cents

    out = (
        assign(centroids)
        .select("g", "id", "cluster", "dist_sq")
        .orderBy("g", "id")
    )
    return out, centroids
