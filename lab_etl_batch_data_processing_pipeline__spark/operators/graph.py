"""Connected components over a pair/edge list — the step a production
dedup pipeline runs AFTER pair generation: near-dup pairs only say "a
looks like b"; keeping one document per *transitive* duplicate cluster
needs the components of the pair graph (a<->b<->c is one cluster even
when (a, c) itself never passed the threshold).

Spark has no built-in CC (GraphX is Scala-only, GraphFrames is an
external package), so this is a DataFrame-native *label contraction*
(the pointer-jumping spirit of Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14):

1. one *min-over-neighborhood* round on the full edge set:
   ``label(v) = min({v} ∪ neighbors(v))`` — the ONLY pass that touches
   edge-scale data;
2. contract: quotient the edges by current labels (two label-map joins
   plus a distinct; the map is hard-broadcast only on recursive levels
   where it is quotient-sized — the first-level map is node-count-sized,
   so there AQE picks the strategy); a clique contracts to nothing
   immediately, a chain halves;
3. repeat on the contracted label graph and compose the mappings, until
   no inter-label edge survives.

Round count is O(log diameter) vs O(diameter) for plain hash-to-min
propagation — measured on the dense sf0.1 dup graph (4.3 M pairs,
4 678 nodes): 8 propagation rounds x 0.8 s collapse to 2 contraction
rounds on quotient graphs of a few hundred rows. ``max_iter`` bounds
the pathological case; the per-round ``take(1)`` convergence probe is
one action on a checkpointed quotient-sized frame.

Two scale guards the naive loop gets wrong:

- **lineage truncation**: each round's labels come from the previous
  round's join, so the logical plan doubles per iteration and the
  optimizer re-plans an exponentially growing tree. ``localCheckpoint``
  (eager) cuts the lineage every round — iteration i's plan is always
  one join deep.
- **cache scoping**: the previous round's checkpoint blocks are
  released as soon as the new round materializes, so state held is one
  labels frame + one quotient edge frame, not one per round.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@functools.lru_cache(maxsize=None)
def _resolve_storage(name: str) -> StorageLevel:
    """Validated name -> StorageLevel resolution, memoized per distinct
    value so a typo'd SPARK_GRAFT_CKPT_STORAGE fails FAST with an error
    naming the variable and the valid levels — not a bare AttributeError
    deep inside an iterative query (r15 ADVICE)."""
    lvl = getattr(StorageLevel, name, None)
    if not isinstance(lvl, StorageLevel):
        valid = sorted(
            n
            for n in dir(StorageLevel)
            if isinstance(getattr(StorageLevel, n), StorageLevel)
        )
        raise ValueError(
            f"SPARK_GRAFT_CKPT_STORAGE={name!r} is not a pyspark "
            f"StorageLevel; valid values: {valid}"
        )
    return lvl


def _ckpt_storage() -> StorageLevel | None:
    """Optional storage level for the engine's checkpoint frames, from
    SPARK_GRAFT_CKPT_STORAGE (e.g. ``DISK_ONLY``) — the r14 one-JVM
    capacity finding was pinned MEMORY_AND_DISK checkpoint blocks
    squeezing the unified pool against a 32-thread aggregation;
    DISK_ONLY trades per-level re-read cost for aggregation headroom.
    Unset (the default, and the only configuration used by the engine's
    own queries) keeps Spark's stock MEMORY_AND_DISK behavior.
    Surrounding whitespace is tolerated; an unknown value raises with
    the valid names (validation is cached per distinct value)."""
    name = os.environ.get("SPARK_GRAFT_CKPT_STORAGE", "").strip()
    return _resolve_storage(name) if name else None


#: sentinel for "resolve the storage knob from the environment now" —
#: iterative operators that checkpoint once per round resolve the knob
#: ONCE at entry and pass it down, so one algorithm run can never mix
#: storage levels even if the environment changes mid-run (r15 ADVICE).
_ENV = object()


def _ckpt(
    df: DataFrame,
    eager: bool = True,
    storage: StorageLevel | None | object = _ENV,
) -> DataFrame:
    """localCheckpoint honoring the SPARK_GRAFT_CKPT_STORAGE knob — the
    ONE checkpoint path for the whole engine (operators outside graph
    import it too, so a capacity probe can apply the DISK_ONLY lever to
    any checkpointing family, SCALE.md Round-15). Value-neutral by
    construction: the knob changes only where blocks live
    (tests/test_graph.py knob-neutrality pin)."""
    lvl = _ckpt_storage() if storage is _ENV else storage
    if lvl is not None:
        return df.localCheckpoint(eager=eager, storageLevel=lvl)
    return df.localCheckpoint(eager=eager)


def _unckpt(df: DataFrame) -> None:
    """Actually release a ``_ckpt`` frame's blocks — the ONE unpersist
    path for checkpointed frames. ``DataFrame.unpersist()`` is a SILENT
    NO-OP on a localCheckpointed frame (measured r18: every
    "superseded level" block in pagerank/kcore/LPA/HITS/BFS survived
    its unpersist call and was freed only when GC + ContextCleaner got
    around to the orphaned RDD): unpersist clears cache-manager
    entries, but localCheckpoint persists the underlying RDD directly,
    reachable only through the plan's LogicalRDD. Reaching through it
    frees the blocks deterministically — the per-level discipline the
    loop docstrings promise. ONLY call on a frame that is provably
    dead (every consumer eagerly materialized): a checkpointed frame
    has no lineage to recompute from, so a late read fails with
    "Block rdd_N does not exist" instead of recomputing. Non-LogicalRDD
    frames (plain persist) fall back to the ordinary unpersist."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            return
    except Exception:
        pass
    df.unpersist()


def connected_components(
    pairs: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 20,
    assume_unique_pairs: bool = False,
) -> DataFrame:
    """Resolve the connected components of an undirected pair list.

    Returns (node_id, component_id) for every node appearing in a pair,
    where component_id is the MINIMUM node id in the component — a
    deterministic canonical label, so downstream "keep the canonical
    doc" decisions are reproducible at any parallelism.

    ``assume_unique_pairs=True`` skips the edge-dedup shuffle — correct
    whenever the input emits each undirected pair once with src < dst
    (every pair generator in this engine does). Duplicate edges would
    not change the RESULT either way (min-propagation is idempotent);
    the distinct only bounds per-round join fan-out when the caller may
    pass repeats, so it is pure overhead — a full shuffle of the
    edge-scale frame — on an already-unique pair stream.
    """
    # Symmetrize with ONE pass over the pair pipeline: a union of two
    # selects would execute the (possibly expensive) pair-generating
    # subtree twice — Spark does not dedupe common subtrees across union
    # branches. explode(array(fwd, rev)) reads each pair once.
    def _sym(p: DataFrame) -> DataFrame:
        return p.select(
            F.explode(
                F.array(
                    F.struct(F.col("__s").alias("a"), F.col("__d").alias("b")),
                    F.struct(F.col("__d").alias("a"), F.col("__s").alias("b")),
                )
            ).alias("e")
        ).select("e.a", "e.b")

    p = pairs.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    lvl = _ckpt_storage()

    def _persist(df: DataFrame) -> DataFrame:
        return df.persist(lvl) if lvl is not None else df.persist()

    if assume_unique_pairs:
        # Cache the PAIR frame and explode per read: level 0 consumes
        # the edge list twice (label aggregate + contraction join), and
        # the doubled edge frame is pure recompute of the cached pairs —
        # caching pairs instead halves the cached bytes (the r15
        # 435M-edge capacity squeeze was exactly cache pressure) for one
        # extra explode per scan.
        cached = _persist(p)
        edges = _sym(cached)
    else:
        # Duplicate-tolerant path: the distinct must run on the
        # SYMMETRIZED frame (the input may contain both (x,y) and
        # (y,x)), so cache the deduped edges themselves.
        cached = edges = _persist(_sym(p).distinct())
    try:
        return _resolve(edges, max_iter).orderBy("node_id")
    finally:
        cached.unpersist()


def _min_over_neighborhood(e: DataFrame) -> DataFrame:
    """One propagation round over a symmetric edge list:
    label(v) = min({v} ∪ neighbors(v)) — computed as
    least(v, min(neighbors)) in ONE scan/aggregate. The previous
    union-with-self form scanned ``e`` twice and aggregated 2x the
    rows for the same result (min({v} ∪ N) == least(v, min N), and
    every node of a symmetric edge list appears as ``a``)."""
    return (
        e.groupBy(F.col("a").alias("node_id"))
        .agg(F.min("b").alias("__mn"))
        .select(
            "node_id",
            F.least(F.col("node_id"), F.col("__mn")).alias("component_id"),
        )
    )


def _resolve(edges: DataFrame, depth: int, quotient_level: bool = False) -> DataFrame:
    """Recursive contraction: one min-over-neighborhood round, quotient
    the edges by the labels, FULLY resolve the (strictly smaller)
    quotient graph, then compose the two mappings. The full edge set is
    read exactly once per level, and levels shrink geometrically: a
    clique quotients to nothing immediately, a chain halves. ``depth``
    bounds recursion; at 0 the current (possibly partial) labels return.

    ``quotient_level``: broadcast hints are applied ONLY on recursive
    levels, where the label frame really is quotient-graph-sized. At the
    FIRST level ``labels`` has one row per node in the pair graph — an
    unbounded frame at corpus scale (10^8+ nodes on a 100 TB near-dup
    graph) — and ``F.broadcast`` is a hard hint Spark obeys regardless of
    size, so hinting there would OOM instead of degrading to a shuffle
    join. With no hint, AQE still auto-broadcasts small label frames at
    runtime; giant ones get a sort-merge join. Pinned by
    tests/test_graph.py::test_first_level_tolerates_unbroadcastable_labels.
    """
    hint = F.broadcast if quotient_level else (lambda df: df)
    labels = _ckpt(_min_over_neighborhood(edges))
    if depth <= 1:
        return labels
    # Quotient: map both endpoints through the label frame and keep only
    # inter-label edges. For any edge (u<v), v's label is < v, so at
    # least one node id per level stops being a label — the quotient is
    # strictly smaller and the recursion terminates.
    la = labels.select(F.col("node_id").alias("a"), F.col("component_id").alias("la"))
    lb = labels.select(F.col("node_id").alias("b"), F.col("component_id").alias("lb"))
    contracted = (
        edges.join(hint(la), "a")
        .join(hint(lb), "b")
        .filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("a"), F.col("lb").alias("b"))
        .distinct()
    )
    contracted = _ckpt(contracted)
    if not contracted.take(1):
        _unckpt(contracted)
        return labels  # no inter-label edges: labels ARE the components
    # label id -> component root; every level below works on quotient-
    # sized (component-count-bounded) frames, so hints are safe there
    roots = _resolve(contracted, depth - 1, quotient_level=True)
    # roots is quotient-node-sized (≤ half the current level's nodes but
    # unbounded at the first level) — same no-hard-hint rule applies.
    composed = (
        labels.withColumnRenamed("component_id", "lbl")
        .join(
            hint(
                roots.select(
                    F.col("node_id").alias("lbl"),
                    F.col("component_id").alias("root"),
                )
            ),
            "lbl",
            "left",
        )
        .select("node_id", F.coalesce("root", "lbl").alias("component_id"))
    )
    composed = _ckpt(composed)
    # composed is eagerly materialized: this level's labels, the
    # contracted quotient edges, and the recursion's root mapping are
    # all provably dead now (real release — see _unckpt)
    _unckpt(labels)
    _unckpt(contracted)
    _unckpt(roots)
    return composed


def dup_clusters(
    pairs: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster summary of a near-dup pair graph: (component_id, n_docs)
    per duplicate cluster. component_id doubles as the canonical
    (kept) doc id — it IS the minimum doc id of the cluster, matching
    the survivor rule the pairwise funnels use. Documents in no pair
    are singletons and absent — the caller keeps them unconditionally."""
    cc = connected_components(pairs, src, dst, max_iter)
    return (
        cc.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("component_id")
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    scale_bits: int = 20,
    checkpoint_ranks: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in exact integer arithmetic:
    (node_id, rank_fp) with rank_fp the 2^scale_bits fixed-point rank
    after ``iterations`` synchronous rounds.

    The update is the standard damped one, r' = 0.15 + 0.85 * sum of
    r(j)/outdeg(j) over in-neighbors j, but every step is integer:
    ranks start at 2^scale_bits, the damped contribution of node j is
    (85 * r_j div 100) div outdeg_j (two truncating BIGINT divisions —
    all values non-negative, so truncation == floor on any engine),
    and per-node sums are exact BIGINT additions. No float enters the
    computation, so the result is bit-identical across engines,
    partitionings, and replay orders — which is what lets an ITERATIVE
    algorithm carry a value-hash oracle (the DuckDB twin unrolls the
    same rounds as chained CTEs). Dangling mass is dropped (nodes
    without out-edges absorb rank but emit none) — the common simplified
    variant; with the bidirectional co-transaction graph the caller
    builds, no node dangles.

    Scale shape per round: one equi-join of the rank table onto the
    edge list (rank row -> its out-edges) + one hash aggregate keyed by
    dst — the standard distributed PageRank step, edges never
    materialize per-pair state beyond the join stream. The loop runs a
    FIXED iteration count (deterministic output beats convergence
    probes for a pipeline gate).

    Checkpoint discipline differs from connected_components on purpose:
    the STATIC frames (edges, out-degrees, nodes) are materialized once
    — the loop body references them every round, and without the cut
    the upstream plan that built the edge list (often a fact-fact join
    + distinct) re-executes per iteration (measured 14.6 s -> 3.9 s
    warm at sf0.1). The RANK frame is NOT checkpointed per round: with
    a fixed iteration count there are no mid-loop actions, so the
    terminal action runs the whole unrolled plan exactly once, and
    skipping the 2x-per-round materialization barrier is another
    measured win (5.0 s -> 2.5 s warm; set ``checkpoint_ranks=True``
    when driving many iterations or probing convergence per round,
    where the unrolled plan depth itself becomes the problem).
    """
    base = 15 * (1 << scale_bits) // 100
    # The loop body re-references the edge list, out-degrees, and node
    # set every round — materialize each ONCE (eager localCheckpoint) or
    # the upstream plan that built the edges (often a fact-fact join +
    # distinct) re-executes per iteration: measured 14.6 s -> 3.9 s warm
    # at sf0.1 on the co-transaction graph.
    e = _ckpt(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    nodes = _ckpt(
        e.select(F.explode(F.array("src", "dst")).alias("node_id"))
        .distinct()
    )
    # Fold the out-degree onto the static edge frame ONCE: outdeg is a
    # pure function of the edge set, so carrying it as a third column of
    # the checkpointed edges turns every iteration's two joins (ranks on
    # src, then outdeg on src) into ONE src-keyed join — r iterations
    # save r node-sized join stages for one extra long column on the
    # edge checkpoint (guide §2.4). Arithmetic unchanged:
    # (85*rank div 100) div outdeg per edge, exact BIGINT, so ranks are
    # bit-identical. Capacity note: this transiently holds two
    # edge-scale checkpoints (e + ew) until the _unckpt below — under
    # the default MEMORY_AND_DISK storage the one-JVM x100 probe
    # (117M strided edges @ 16g) hits UNABLE_TO_ACQUIRE_MEMORY, but it
    # did so for the PRE-fold shape too (SCALE.md Round-15 config
    # note); capacity runs use SPARK_GRAFT_CKPT_STORAGE=DISK_ONLY +
    # 128 shuffle partitions, the documented knob, under which the
    # fold's extra checkpoint is disk, not pool pressure (measured
    # with that config: x100 = 117M edges in 99-110 s, no memory errors).
    ew = _ckpt(
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src")
    )
    # nodes and ew are EAGER checkpoints: the bare edge checkpoint has
    # no remaining consumer (the loop reads ew only), so release it now
    # instead of pinning edge-scale blocks for the caller's lifetime.
    _unckpt(e)
    ranks = nodes.select(
        "node_id", F.lit(1 << scale_bits).cast("long").alias("rank_fp")
    )
    # checkpoint_ranks=True only: the previous round's eager rank
    # checkpoint, unpersisted as soon as its successor materializes —
    # without this every round's node-sized block stays pinned for the
    # whole loop (the r14 one-JVM capacity finding: pinned checkpoint
    # storage squeezing the unified pool is exactly what broke the
    # 435M-edge CC run). CC's _resolve has the same discipline.
    prev_ranks: DataFrame | None = None
    for _ in range(iterations):
        contrib = (
            ew.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .select(
                F.col("dst").alias("node_id"),
                F.expr("(85 * rank_fp div 100) div outdeg").alias("c"),
            )
            .groupBy("node_id")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = nodes.join(contrib, "node_id", "left").select(
            "node_id",
            (F.lit(base) + F.coalesce(F.col("in_sum"), F.lit(0)))
            .cast("long")
            .alias("rank_fp"),
        )
        if checkpoint_ranks:
            ranks = _ckpt(ranks)
            if prev_ranks is not None:
                _unckpt(prev_ranks)  # superseded: nothing references it
            prev_ranks = ranks
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    the clustering-structure primitive (community density, link spam,
    recommendation strength) GraphX ships as triangleCount, here as a
    pure DataFrame plan: (node, n_triangles) for every node in >= 1
    triangle.

    DEGREE-ORDERED ORIENTATION, the standard distributed-join trick
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11): orient each undirected edge from its
    lower-(degree, id) endpoint to the higher one, enumerate wedges
    only FROM each source's out-edges, and close them against the
    oriented edge set. Every triangle is found exactly once (its
    unique orientation-minimal apex), and the wedge fan-out per node
    is out-degree² where out-degree is bounded by ~sqrt(edges) under
    this orientation — the hub that would explode a naive wedge join
    (celebrity node, boilerplate item) becomes the DESTINATION of its
    edges, never the apex. Total wedge volume is O(m^{3/2}) worst
    case, the provable optimum for exact counting.

    Three shuffles: degree aggregate, apex-keyed wedge self-join,
    closing-edge hash join (map-side combinable count at the end).
    The (degree, id) pair is a TOTAL order, so the orientation — and
    therefore the plan's intermediate row sets — is deterministic on
    any engine; ties in degree break by id.

    Self-loops are dropped; parallel edges collapse via distinct.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # explode, not unionAll-of-two-selects: e is a lazy dedup over the
    # caller's (often join-built) edge frame, and union branches
    # re-execute their common subtree — explode counts both endpoints
    # in one scan.
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    lower_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    oriented = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dw"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u"))
        & (
            F.struct(F.col("e1.dw"), F.col("e1.w"))
            < F.struct(F.col("e2.dw"), F.col("e2.w"))
        ),
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.w").alias("y"),
        F.col("e2.w").alias("z"),
    )
    closing = oriented.select(
        F.col("u").alias("y"), F.col("w").alias("z")
    )
    tris = wedges.join(closing, ["y", "z"])
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("node")
    )


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node LOCAL clustering coefficient over an undirected edge
    list: 2·triangles / (deg·(deg−1)) — how close each node's
    neighborhood is to a clique, the community-tightness signal on top
    of raw triangle counts.

    Exact: triangle counts come from the degree-ordered plan above,
    degrees from the same dedup'd edge set, and the coefficient is one
    truncating BIGINT division in ppm ((2·10⁶·tri) div (d·(d−1))) —
    operands non-negative. Degree-1 nodes (denominator 0) report 0, as
    their neighborhood trivially has no closable wedge.

    Adds one degree aggregate + one node-keyed join to the
    triangle_counts plan; output is node-sized.

    Returns (node, degree, n_triangles, coeff_ppm) sorted by node —
    every node of the dedup'd graph, including triangle-free ones.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges, src, dst)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") > 1,
                F.expr(
                    "(2000000 * coalesce(n_triangles, 0))"
                    " div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("coeff_ppm"),
        )
        .orderBy("node")
    )


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peel over an undirected edge list: repeatedly
    drop nodes with degree < k (each drop can push a neighbor below k,
    hence the iteration) — the standard dense-subgraph screen (spam
    rings, community nuclei, "always bought together" cliques) and the
    engine's third ITERATIVE algorithm with a value-hash oracle.

    Fixed ``rounds`` peels, not convergence detection: a deterministic
    unrollable computation (the oracle chains one CTE pair per round,
    the pagerank pattern). After R peels the survivor set is a
    SUPERSET of the true k-core that equals it once no round removes
    anything; callers needing certainty raise ``rounds`` (peeling is
    monotone, so extra rounds are free no-ops post-convergence) or
    check min(core_degree) >= k on the output. EVERY round-R survivor
    appears — including isolated ones whose neighbors all died this
    round (core_degree 0) — and reports its degree within the final
    survivor-induced subgraph; below-k degrees are the honest "not yet
    converged" signal.

    Shape per round: two semi-joins restrict the dedup'd edge set to
    live×live, one endpoint-count aggregate, one >= k filter — all
    node/edge-sized with map-side combine; the live set is eagerly
    localCheckpointed per round so lineage stays flat, and the
    SUPERSEDED round's checkpoint is unpersisted as soon as its
    successor materializes (CC's per-level discipline — r15; pinned
    per-round blocks were the r14 one-JVM capacity squeeze).

    Returns (node, core_degree) for round-R survivors, sorted by node.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = _ckpt(e, eager=False)

    def degrees(edge_df: DataFrame) -> DataFrame:
        # explode, not unionAll-of-two-selects: live_edges is a LAZY
        # pair of semi-joins, and union branches re-execute their
        # common subtree — the old form ran both semi-joins twice per
        # peel round for one degree count. explode reads the frame once.
        return (
            edge_df.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    alive = degrees(e).select("node")
    live_edges = e
    # Eager per-round checkpoint + unpersist of the superseded level
    # (CC's _resolve discipline): round i's live set is referenced only
    # by round i+1's degree count, so once the successor materializes
    # the old node-sized block is dead weight pinned in the unified
    # pool — the exact squeeze the r14 one-JVM capacity probe hit.
    prev_alive: DataFrame | None = None
    for _ in range(rounds):
        alive = _ckpt(
            degrees(live_edges)
            .filter(F.col("d") >= k)
            .select("node")
        )
        live_edges = (
            e.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
        )
        if prev_alive is not None:
            _unckpt(prev_alive)  # superseded: new alive+live_edges built
        prev_alive = alive
    return (
        alive.join(degrees(live_edges), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("d"), F.lit(0).cast("long")).alias(
                "core_degree"
            ),
        )
        .orderBy("node")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Deterministic synchronous label propagation over an undirected
    edge list: (node, community) after ``rounds`` full sweeps — the
    community-detection layer components and cores do not give (a
    near-clique BRIDGED to another near-clique is ONE component and
    often one k-core, but two communities). Raghavan et al.'s LPA
    (Phys. Rev. E 76, 2007), made engine-grade deterministic:

    - labels start as the node id;
    - each round, EVERY node simultaneously adopts the most frequent
      label among its neighbors, ties broken by the SMALLEST label —
      no randomized visit order, no async update, so the result is
      bit-identical across partitionings and engines;
    - a FIXED round count, not convergence detection (the pagerank /
      kcore contract): deterministic unrollable computation, so an
      ITERATIVE community algorithm carries a full value-hash oracle
      (the DuckDB twin chains one count/pick CTE pair per round).
      Synchronous LPA can oscillate on bipartite structure instead of
      converging — fixed rounds make that a defined, replayable
      output rather than a nontermination hazard; callers wanting a
      fixpoint raise ``rounds`` and compare consecutive outputs.

    Shape per round: one equi-join of the (symmetrized, deduped) edge
    list onto the node-sized label frame, one (node, label) count
    aggregate with map-side combine, then a per-node deterministic
    argmin AGGREGATION — ``min(struct(-n, lbl))`` rides the count
    frame's key-hash exchange with partial aggregation and NO window
    sort (the r15 ``row_number()`` form paid a full per-node sort
    every round for the same (count DESC, label ASC) pick; r15 verdict
    task 4). All frames edge- or node-sized; no per-pair state beyond
    the join stream. The label frame is eagerly checkpointed per round
    and the SUPERSEDED round's blocks are unpersisted as soon as the
    successor materializes (the per-level discipline shared with
    connected_components/_resolve, pagerank, and kcore); the storage
    knob is resolved ONCE at entry so a run never mixes levels."""
    lvl = _ckpt_storage()

    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = _ckpt(
        und.select("a", "b").unionAll(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ),
        eager=False,
        storage=lvl,
    )
    nodes = _ckpt(
        sym.select(F.col("a").alias("node")).distinct(),
        eager=False,
        storage=lvl,
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    prev_labels: DataFrame | None = None
    for _ in range(rounds):
        counts = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # deterministic top-1 WITHOUT a window sort: min over
        # struct(-n, lbl) == (count DESC, label ASC) lexicographically,
        # computed as one partially-aggregated groupBy on the node key
        labels = _ckpt(
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n")).alias("neg_n"), F.col("lbl").alias("lbl")
                    )
                ).alias("top")
            )
            .select("node", F.col("top.lbl").alias("lbl")),
            storage=lvl,
        )
        if prev_labels is not None:
            _unckpt(prev_labels)  # superseded: successor materialized
        prev_labels = labels
    # every node in an edge list has >= 1 neighbor, so the final pick
    # is total over nodes by construction; the rename is the public
    # contract (community id == the propagated min-biased label).
    return labels.select(
        "node", F.col("lbl").alias("community")
    ).orderBy("node")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale_bits: int = 20,
) -> DataFrame:
    """Fixed-iteration HITS — hubs & authorities (Kleinberg, "Authori-
    tative sources in a hyperlinked environment", JACM 1999) — in exact
    integer arithmetic over a DIRECTED edge list: (node_id, hub_fp,
    auth_fp) with both scores 2^scale_bits fixed-point after
    ``iterations`` synchronous rounds. The mutual-reinforcement layer
    pagerank does not give: pagerank scores IMPORTANCE along incoming
    mass, HITS separates the two roles — a node can be a top hub
    (points at the best authorities) while being nobody's authority,
    the natural reading on bipartite interaction graphs (customer ->
    supplier purchases: hub customer = buys from strong suppliers,
    authority supplier = sells to strong hub customers).

    The update is the classic pair, a(v) = sum of h(u) over in-
    neighbors u then h(v) = sum of a(w) over out-neighbors w, with
    L-INFINITY normalization after each half-step instead of L2:
    score' = (score * 2^scale_bits) div max(score). Max-normalization
    keeps every step in truncating BIGINT arithmetic (an L2 norm needs
    a square root — float, order-dependent, engine-divergent), is a
    standard HITS variant converging to the same principal-eigenvector
    direction, and makes the peak score exactly 2^scale_bits each
    round so magnitudes never drift. All sums are exact BIGINT adds
    and both engines truncate positive divisions identically, so the
    result is bit-identical across partitionings — which is what lets
    this ITERATIVE algorithm carry a full value-hash oracle (the
    DuckDB twin unrolls the same rounds as chained ar/a/hr/h CTEs).
    Nodes with no in-edges hold authority 0; no out-edges, hub 0 (on a
    bipartite purchase graph: every customer, every supplier
    respectively). max(raw) >= 1 every half-step by construction
    (hub scores start at 2^scale_bits and each round's peak renorms to
    it), so the division is total.

    Scale shape per round: two equi-joins of the node-sized score
    frame onto the edge list + two hash aggregates (dst- then src-
    keyed) + two single-row max reductions broadcast back — all edge-
    or node-sized; no per-pair state beyond the join streams. Statics
    (edge list, node set) are checkpointed ONCE. Unlike pagerank (one
    linear chain per round, deliberately left unmaterialized), every
    renorm here FORKS the plan on the raw sum frame — the single-row
    max and the rescale join both consume it — so each half-step's raw
    frame is eagerly checkpointed (node-sized) or the fork recomputes
    the whole upstream chain per consumer and the unrolled tree grows
    2x per half-step (measured 9.1 s -> 4.2 s warm at sf0.1 on the
    purchase graph). Superseded checkpoints unpersist at lag 2: the
    final output still reads the LAST round's a_raw/h_raw, and frames
    one half-step back are referenced while the next materializes —
    everything older is provably dead (the per-level discipline shared
    with connected_components, pagerank's checkpoint_ranks path, and
    kcore). Overflow headroom: raw <= max_indegree * 2^scale_bits and
    the renormalization multiplies by 2^scale_bits once, so BIGINT
    holds through indegrees ~2^22 at the default scale_bits=20."""
    if iterations < 1:
        raise ValueError("hits needs iterations >= 1")
    one = 1 << scale_bits
    lvl = _ckpt_storage()
    e = _ckpt(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        storage=lvl,
    )
    nodes = _ckpt(
        e.select(F.explode(F.array("src", "dst")).alias("node_id"))
        .distinct(),
        storage=lvl,
    )

    raw_ckpts: list[DataFrame] = []

    def renorm(raw: DataFrame, out_col: str) -> DataFrame:
        # deterministic L-inf step: single-row max, broadcast, integer
        # rescale; absent nodes (no in-/out-edges) coalesce to 0.
        # The raw frame feeds TWO consumers (mx + the rescale join) —
        # materialize it once (see docstring), release at lag 2.
        raw = _ckpt(raw, storage=lvl)
        raw_ckpts.append(raw)
        if len(raw_ckpts) > 2:
            _unckpt(raw_ckpts.pop(0))  # provably dead (lag-2)
        mx = raw.agg(F.max("raw").alias("mx"))
        return (
            nodes.join(raw, "node_id", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node_id",
                F.coalesce(
                    F.expr(f"(raw * {one}) div mx"), F.lit(0)
                ).cast("long").alias(out_col),
            )
        )

    hubs = nodes.select("node_id", F.lit(one).cast("long").alias("hub_fp"))
    auths: DataFrame | None = None
    for _ in range(iterations):
        a_raw = (
            e.join(hubs.withColumnRenamed("node_id", "src"), "src")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum("hub_fp").alias("raw"))
        )
        auths = renorm(a_raw, "auth_fp")
        h_raw = (
            e.join(auths.withColumnRenamed("node_id", "dst"), "dst")
            .groupBy(F.col("src").alias("node_id"))
            .agg(F.sum("auth_fp").alias("raw"))
        )
        hubs = renorm(h_raw, "hub_fp")
    return (
        nodes.join(hubs, "node_id")
        .join(auths, "node_id")
        .orderBy("node_id")
    )


def bfs_hops(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_seeds: int = 5,
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS hop distance from a deterministic seed set —
    the "link distance from trusted seeds" signal corpus pipelines use
    for graph-based quality filtering (pages/domains few hops from a
    trusted core are kept, far tails downweighted; cf. the harmonic-
    centrality seed filtering in Common Crawl-derived corpus work) —
    over a DIRECTED edge list (pass a symmetrized frame for undirected
    reach). Returns (node_id, hop) for every node reached within
    ``max_hops``, hop = its MINIMUM distance, sorted by node; nodes
    never reached are absent (an honest frontier, not an invented
    infinity).

    Seeds are the ``n_seeds`` smallest node ids in the graph — a pure
    function of the input (deterministic on any engine; ORDER BY +
    LIMIT is a k-row reduction, never a data-scaled sort), so the
    SIXTH iterative graph algorithm also carries a full value-hash
    oracle: DuckDB unrolls the same rounds as chained frontier/dist
    CTEs and must match bit-for-bit — BFS is all set algebra (joins,
    distinct, anti-join, union), no arithmetic to drift.

    Scale shape per round: one equi-join of the frontier onto the
    edge list (edge-scaled — the dominant cost, linear in edges even
    when the frontier is small), one distinct on the discovered set
    (frontier-scaled), one anti-join against the settled distance
    frame (node-scaled). Per-round frames are eagerly checkpointed —
    ``nxt`` and ``dist`` each fork into two consumers (next round's
    frontier + the union; the anti-join + the union), the
    never-recompute-a-forked-frame rule — and superseded checkpoints
    unpersist at lag 2 (the per-level discipline shared with
    connected_components, pagerank and hits); on return everything but
    the final distance frame (an eager checkpoint, so even the static
    edge frame is releasable) unpersists — nothing pins blocks for the
    life of the session. The loop exits early on
    an empty frontier: the isEmpty probe reads one block of an
    already-materialized checkpoint, and a fixed-point frontier is
    empty forever after. State never exceeds nodes + edges; rounds
    are bounded by ``max_hops`` by contract (the oracle unrolls that
    many CTEs), so the 100 TB story is max_hops edge-scaled joins.
    """
    if n_seeds < 1 or max_hops < 1:
        raise ValueError("bfs_hops needs n_seeds >= 1 and max_hops >= 1")
    lvl = _ckpt_storage()
    e = _ckpt(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        storage=lvl,
    )
    nodes = (
        e.select(F.explode(F.array("src", "dst")).alias("node_id"))
        .distinct()
    )
    seeds = nodes.orderBy("node_id").limit(n_seeds)
    dist = _ckpt(
        seeds.select("node_id", F.lit(0).cast("int").alias("hop")),
        storage=lvl,
    )
    frontier = dist.select("node_id")
    ckpts: list[DataFrame] = [dist]

    def retire(df: DataFrame) -> DataFrame:
        ckpts.append(df)
        while len(ckpts) > 4:  # nxt+dist per round, referenced one round back
            _unckpt(ckpts.pop(0))
        return df

    for k in range(1, max_hops + 1):
        nxt = retire(
            _ckpt(
                e.join(
                    frontier.withColumnRenamed("node_id", "src"), "src"
                )
                .select(F.col("dst").alias("node_id"))
                .distinct()
                .join(dist, "node_id", "left_anti")
                .select(
                    "node_id", F.lit(k).cast("int").alias("hop")
                ),
                storage=lvl,
            )
        )
        dist = retire(_ckpt(dist.unionByName(nxt), storage=lvl))
        frontier = nxt.select("node_id")
        if nxt.isEmpty():
            break  # fixed point: every later frontier is empty too
    # The returned dist is an EAGER checkpoint — unlike pagerank/hits,
    # whose lazy result still references its static frames, nothing
    # here is needed once the final level exists: release the trailing
    # nxt/dist levels still inside the lag window AND the static edge
    # checkpoint, or they pin blocks for the life of the session
    # (pagerank/hits unpersist every superseded level; same rule).
    for f in ckpts:
        if f is not dist:
            _unckpt(f)
    _unckpt(e)
    return dist.orderBy("node_id")
