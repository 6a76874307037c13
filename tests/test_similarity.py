from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from lab_etl_batch_data_processing_pipeline__spark.functions.vector_funcs import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from lab_etl_batch_data_processing_pipeline__spark.operators import similarity


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.5, 0.5, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vector_expressions(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0], [1.0, 0.0])], "a array<float>, b array<float>"
    )
    r = df.select(
        dot_product(F.col("a"), F.col("b")).alias("dot"),
        l2_norm(F.col("a")).alias("na"),
        cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
    ).first()
    assert r.dot == pytest.approx(3.0)
    assert r.na == pytest.approx(5.0)
    assert r.cos == pytest.approx(0.6)


def test_cosine_zero_norm_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 0.0])], "a array<float>, b array<float>")
    assert df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).first().c is None


def test_bruteforce_topk_exact_order(vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk_bruteforce(vectors, queries, k=4).collect()
    assert [r.neighbor_id for r in out] == [1, 4, 2, 3]
    assert out[0].cosine_sim == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert [r.sim_rank for r in out] == [1, 2, 3, 4]
    assert out[-1].cosine_sim == pytest.approx(-1.0)


def test_bruteforce_excludes_self(vectors):
    queries = vectors.select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.cosine_topk_bruteforce(vectors, queries, k=10).collect()
    assert all(r.query_id != r.neighbor_id for r in out)


def test_lsh_is_subset_of_bruteforce_scores(vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        r.neighbor_id: r.cosine_sim
        for r in similarity.cosine_topk_bruteforce(vectors, queries, k=10).collect()
    }
    approx = similarity.cosine_topk_lsh(
        vectors, queries, k=10, num_planes=2, num_tables=4
    ).collect()
    # every LSH candidate carries the exact cosine score
    for r in approx:
        assert r.cosine_sim == pytest.approx(exact[r.neighbor_id], abs=1e-6)


def test_lsh_accepts_null_first_vector(spark):
    """The weight matrix is sized from a non-NULL vector, not from the
    corpus's first row: a NULL embedding in row one must neither fail
    the search nor change the neighbours of the rest of the corpus."""
    import random

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(4)]) for i in range(40)]
    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(rows, schema)
    with_null = spark.createDataFrame([(100, None)] + rows, schema)
    assert with_null.first().embedding is None
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def topk(df):
        return [
            tuple(r)
            for r in similarity.cosine_topk_lsh(
                df, queries, k=3, num_planes=2, num_tables=4
            ).collect()
        ]

    expected = topk(corpus)
    assert expected
    assert topk(with_null) == expected


def test_lsh_never_returns_null_vectors(spark):
    """A NULL vector has no direction: it is neither a neighbour nor a
    query. Without the drop it would take sign bit 0 in every table and
    come back, with a NULL cosine, for any query landing in bucket 0."""
    schema = "vec_id long, embedding array<float>"
    queries = spark.createDataFrame(
        [(i, [1.0, 0.5 * i, -0.25]) for i in range(5)] + [(9, None)],
        "query_id long, embedding array<float>",
    )
    all_null = spark.createDataFrame([(100, None), (101, None)], schema)
    assert similarity.cosine_topk_lsh(all_null, queries).count() == 0
    mixed = spark.createDataFrame(
        [(100, None), (101, None), (20, [0.5, 0.5, 0.5]), (21, [-1.0, 0.0, 2.0])],
        schema,
    )
    out = similarity.cosine_topk_lsh(mixed, queries, k=3, num_planes=1, num_tables=2)
    rows = out.collect()
    assert rows
    assert all(r.cosine_sim is not None for r in rows)
    assert {r.neighbor_id for r in rows} <= {20, 21}
    assert 9 not in {r.query_id for r in rows}


def test_lsh_oracle_never_returns_null_vectors():
    """The DuckDB twin drops NULL vectors the same way: adding NULL rows
    to a corpus too small to fill every top-k leaves the oracle's
    output unchanged."""
    import duckdb

    from lab_etl_batch_data_processing_pipeline__spark import oracles

    small = (
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet' "
        "WHERE vec_id < 8"
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS {small}")
    expected = sorted(con.execute(oracles._ANN_LSH_SQL).fetchall())
    assert expected
    con.execute(
        f"CREATE OR REPLACE VIEW embeddings AS {small} "
        "UNION ALL SELECT 1000 + i, NULL, 0 FROM range(2) t(i)"
    )
    assert sorted(con.execute(oracles._ANN_LSH_SQL).fetchall()) == expected


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    # three tight, well-separated clusters; IVF must not lose neighbors
    import random

    random.seed(7)
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(20):
            rows.append(
                (vid, [x + random.uniform(-0.5, 0.5) for x in c])
            )
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_matches_bruteforce_on_clustered_data(clustered_vectors):
    from lab_etl_batch_data_processing_pipeline__spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    queries = clustered_vectors.filter(F.col("vec_id").isin([0, 20, 40])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(clustered_vectors, queries, k=5).collect()
    ivf = cosine_topk_ivf(
        clustered_vectors, queries, k=5, nlist=3, nprobe=1
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # probing only the query's own cluster still finds the true top-5
    assert ivf_sets == exact_sets


def test_cosine_near_dups_salt_and_broadcast_modes_agree(spark):
    """The blocked self-join's triangle salt (at-scale SMJ path) and the
    broadcast small-corpus mode must produce the identical pair set."""
    rows = [
        (i, i % 3, [float(i % 5) + 0.1, float(i % 7), 1.0]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    kw = dict(block_col="label", threshold=0.2)
    base = similarity.cosine_near_dups(emb, broadcast_right=True, **kw)
    for variant in (
        similarity.cosine_near_dups(emb, broadcast_right=False, **kw),  # salt=8
        similarity.cosine_near_dups(emb, broadcast_right=False, salt=1, **kw),
    ):
        assert variant.exceptAll(base).count() == 0
        assert base.exceptAll(variant).count() == 0


def test_quantize_embeddings_roundtrip_and_bounds(spark):
    rows = [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0, 0.0]), (2, [-127.0, 127.0, 63.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in similarity.quantize_embeddings(df).collect()}
    # max-magnitude element maps to ±127 exactly; all values within int8
    assert out[0].q_vec == [64, -127, 32] and abs(out[0].q_scale - 2.0 / 127) < 1e-12
    assert out[1].q_vec == [0, 0, 0] and out[1].q_scale == 0.0
    assert out[2].q_vec == [-127, 127, 64]
    for r in out.values():
        assert all(-128 <= x <= 127 for x in r.q_vec)


def test_quantized_topk_matches_exact_on_separated_vectors(vectors):
    spark = vectors.sparkSession
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk_bruteforce(vectors, queries, k=3).collect()
    quant = similarity.cosine_topk_quantized(vectors, queries, k=3).collect()
    # well-separated cosines: int8 rounding must not change the ranking
    assert [r.neighbor_id for r in exact] == [r.neighbor_id for r in quant]


def test_ann_quantized_recall_gate_passes(spark):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["ann_quantized_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r.recall_ok for r in rows)


def test_pandas_matmul_matches_bruteforce(vectors):
    from lab_etl_batch_data_processing_pipeline__spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pandas,
    )

    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(vectors, queries, k=4).collect()
    fast = cosine_topk_pandas(vectors, queries, k=4).collect()
    assert [r.neighbor_id for r in fast] == [r.neighbor_id for r in exact]
    for a, b in zip(fast, exact):
        assert a.cosine_sim == pytest.approx(b.cosine_sim, abs=1e-6)


def test_pq_encode_shapes_and_determinism(clustered_vectors, tmp_path):
    cb, enc = similarity.build_pq_index(
        clustered_vectors, str(tmp_path / "a"), m=3, ksub=4
    )
    assert cb.count() == 3 * 4
    assert cb.columns == ["subspace", "code", "centroid"]
    rows = {r.vec_id: list(r.codes) for r in enc.collect()}
    assert len(rows) == 60 and all(len(c) == 3 for c in rows.values())
    assert all(0 <= x < 4 for c in rows.values() for x in c)
    # deterministic re-fit into a fresh dir
    _, enc2 = similarity.build_pq_index(
        clustered_vectors, str(tmp_path / "b"), m=3, ksub=4
    )
    assert {r.vec_id: list(r.codes) for r in enc2.collect()} == rows
    # sanity that encoding reflects geometry: the three clusters live on
    # different axes after normalization, so their code vectors must
    # differ pairwise (within-cluster codes may still differ in fine
    # noise cells — that is expected, not a bug)
    assert rows[0] != rows[20] and rows[20] != rows[40] and rows[0] != rows[40]


def test_pq_rerank_matches_bruteforce_on_clustered_data(clustered_vectors):
    queries = clustered_vectors.filter(F.col("vec_id").isin([0, 20, 40])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk_bruteforce(clustered_vectors, queries, k=5)
    pq = similarity.cosine_topk_pq(
        clustered_vectors, queries, k=5, m=3, ksub=8, rerank=20
    )
    exact_sets, pq_sets = {}, {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in pq.collect():
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # a 20-deep shortlist + exact re-rank recovers the true top-5 on
    # well-separated clusters
    assert pq_sets == exact_sets
    # re-ranked scores are EXACT cosines — cross-check one pair
    r0 = [r for r in pq.collect() if r.query_id == 0 and r.sim_rank == 1][0]
    e0 = [r for r in exact.collect() if r.query_id == 0 and r.sim_rank == 1][0]
    assert r0.neighbor_id == e0.neighbor_id
    assert abs(r0.cosine_sim - e0.cosine_sim) < 1e-9


def test_pq_index_materialize_roundtrip(clustered_vectors, tmp_path):
    idx = str(tmp_path / "pq")
    cb1, enc1 = similarity.build_pq_index(
        clustered_vectors, idx, m=3, ksub=4
    )
    import os
    assert os.path.isfile(os.path.join(idx, "_BUILT"))
    cb2, enc2 = similarity.read_pq_index(clustered_vectors.sparkSession, idx)
    assert cb2.count() == 12
    e1 = {r.vec_id: list(r.codes) for r in enc1.collect()}
    e2 = {r.vec_id: list(r.codes) for r in enc2.collect()}
    assert e1 == e2


def test_pq_rejects_indivisible_dim(clustered_vectors, tmp_path):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.build_pq_index(
            clustered_vectors, str(tmp_path / "pq"), m=2, ksub=4
        )


def test_ivfpq_matches_bruteforce_on_clustered_data(clustered_vectors, tmp_path):
    queries = clustered_vectors.filter(F.col("vec_id").isin([0, 20, 40])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk_bruteforce(clustered_vectors, queries, k=5)
    ivfpq = similarity.cosine_topk_ivfpq(
        clustered_vectors, queries, k=5, nlist=3, nprobe=1, m=3, ksub=8,
        rerank=20, index_dir=str(tmp_path / "ivfpq"),
    )
    es, ps = {}, {}
    for r in exact.collect():
        es.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ivfpq.collect():
        ps.setdefault(r.query_id, set()).add(r.neighbor_id)
    # probing only the query's own cluster + exact re-rank recovers the
    # true top-5 on well-separated clusters
    assert ps == es
    # index round-trips: second call probes the materialized index
    again = similarity.cosine_topk_ivfpq(
        clustered_vectors, queries, k=5, nlist=3, nprobe=1, m=3, ksub=8,
        rerank=20, index_dir=str(tmp_path / "ivfpq"),
    )
    ps2 = {}
    for r in again.collect():
        ps2.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert ps2 == ps


def test_semantic_dedup_greedy_semantics(spark):
    """SemDeDup greedy rule on one forced cell: the earliest-id vector
    of each near-dup group survives, later members name it as culprit,
    dissimilar vectors all survive; output is a deterministic partition
    of the input."""
    from lab_etl_batch_data_processing_pipeline__spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.999, 0.04]),   # near-dup of 3
        (5, [0.0, 0.0, 1.0]),
        (6, [0.0, 0.0, 0.0]),      # zero vector: cos := 0, kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = {r.vec_id: r for r in
           semantic_dedup(emb, threshold=0.9, nlist=1).collect()}
    assert len(rep) == 6
    assert [rep[i].kept for i in (1, 2, 3, 4, 5, 6)] == [
        True, False, True, False, True, True
    ]
    assert rep[2].matched_id == 1 and rep[4].matched_id == 3
    assert all(rep[i].matched_id is None for i in (1, 3, 5, 6))
    # determinism: a rerun agrees exactly
    rep2 = {r.vec_id: tuple(r) for r in
            semantic_dedup(emb, threshold=0.9, nlist=1).collect()}
    assert rep2 == {k: tuple(v) for k, v in rep.items()}


def test_semantic_dedup_gate_query(spark):
    """The registry gate row must assert every invariant TRUE on the real
    fixture (the DuckDB twin emits literal TRUEs — a FALSE here is
    exactly what the driver would catch as a hash mismatch)."""
    import __spark_entry__ as entrymod

    row = entrymod.q_semantic_dedup(spark, "/root/testdata/sf0.001").first()
    assert row.n_vecs == 500
    assert row.ids_valid and row.kept_nonempty
    assert row.no_kept_near_pair and row.dropped_have_culprit


def test_det_pq_grouped_matches(spark):
    """The grouped Lloyd trainer (clustering.kmeans_fit_grouped, the
    one-pass form _det_pq_fit runs) must be BIT-IDENTICAL to m
    independent kmeans_fit runs — same init, tie, and update rules, only
    the job shape differs. A drift here silently invalidates the
    PQ/IVFPQ value-hash oracles, so the equivalence is pinned on a
    small fixture (the sf0.001/0.01 artifacts were also verified equal
    to the sequential form when the grouped trainer landed in r10)."""
    import random

    from pyspark.sql import functions as F

    from lab_etl_batch_data_processing_pipeline__spark.operators import (
        clustering,
        similarity,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m, ksub = 4, 4
    cb, enc = similarity._det_pq_fit(emb, m, ksub, "vec_id", "embedding")
    got_cb = {(r.subspace, r.code): tuple(r.centroid) for r in cb.collect()}
    got_codes = {r.vec_id: tuple(r.codes) for r in enc.collect()}

    # reference: one kmeans_fit per subspace over the same normalized
    # subvectors (the pre-r10 sequential form)
    norm = similarity.l2_norm(F.col("embedding"))
    nvec = F.transform(F.col("embedding"), lambda x: x.cast("double") / norm)
    dsub = 8 // m
    exp_cb = {}
    exp_codes = {i: [None] * m for i, _ in rows}
    for j in range(m):
        sub = emb.select(
            F.col("vec_id"), F.slice(nvec, j * dsub + 1, dsub).alias("sv")
        )
        assignment, cents = clustering.kmeans_fit(
            sub, "vec_id", "sv", k=ksub, iters=4, scale=1 << 20, shift=1.0
        )
        for cid, c in enumerate(cents):
            exp_cb[(j, cid)] = tuple(x / (1 << 20) - 1.0 for x in c)
        for r in assignment.collect():
            exp_codes[r.id][j] = r.cluster
    assert got_cb == exp_cb
    assert got_codes == {i: tuple(cs) for i, cs in exp_codes.items()}


def _record_builds(monkeypatch):
    """Record the index dir of every _BUILT marker an index builder writes."""
    builds = []
    write = similarity._write_built

    def recording(index_dir, **params):
        builds.append(index_dir)
        write(index_dir, **params)

    monkeypatch.setattr(similarity, "_write_built", recording)
    return builds


def test_semantic_dedup_and_ivf_probe_build_one_index(
    spark, clustered_vectors, tmp_path, monkeypatch
):
    """semantic_dedup and the IVF probe share the managed IVF cache dir
    and read the same cells. On a fresh cache, q_semantic_dedup builds
    the index once and q_ann_cosine_ivf probes it — a second quantizer
    writing a different kind of index into the dir would make the probe
    discard it and build again. semantic_dedup's report is the same with
    and without the materialized index."""
    import os

    from lab_etl_batch_data_processing_pipeline__spark import artifacts, registry

    sf = str(tmp_path / "sf")
    clustered_vectors.write.parquet(os.path.join(sf, "embeddings.parquet"))
    monkeypatch.setattr(artifacts, "_REPO_ROOT", str(tmp_path))
    builds = _record_builds(monkeypatch)

    gate = registry.q_semantic_dedup(spark, sf).first()
    assert gate.ids_valid and gate.no_kept_near_pair and gate.dropped_have_culprit
    registry.q_ann_cosine_ivf(spark, sf).collect()
    index_dir = artifacts._ivf_index_dir(sf)
    assert builds == [index_dir]

    p = artifacts._IVF_PARAMS

    def report(**kw):
        return sorted(
            tuple(r)
            for r in similarity.semantic_dedup(
                clustered_vectors, threshold=registry._SEMANTIC_DEDUP_T,
                nlist=p["nlist"], max_iter=p["max_iter"], **kw,
            ).collect()
        )

    assert report(index_dir=index_dir) == report()
    assert builds == [index_dir]


def _cluster_queries(clustered_vectors):
    return clustered_vectors.filter(F.col("vec_id").isin([0, 20, 40])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


#: one probe per index family, as (probe(corpus, queries, index_dir),
#: kind its builder records); PQ scores are compared without re-rank so
#: they come from the index's codes
_FAMILY_PROBES = {
    "ivf": (
        lambda cv, q, d: similarity.cosine_topk_ivf(
            cv, q, k=5, nlist=3, nprobe=1, index_dir=d
        ),
        "ivf-det",
    ),
    "pq": (
        lambda cv, q, d: similarity.cosine_topk_pq(
            cv, q, k=5, m=3, ksub=8, index_dir=d
        ),
        "pq-det",
    ),
    "ivfpq": (
        lambda cv, q, d: similarity.cosine_topk_ivfpq(
            cv, q, k=5, nlist=3, nprobe=1, m=3, ksub=8, index_dir=d
        ),
        "ivfpq-det",
    ),
}


@pytest.mark.parametrize("family", sorted(_FAMILY_PROBES))
def test_unparseable_index_marker_means_not_built(
    clustered_vectors, tmp_path, monkeypatch, family
):
    """A _BUILT marker cut short (truncated JSON) is "not built": the
    probe rebuilds the index over it and returns the clean build's top-k."""
    import json

    probe, kind = _FAMILY_PROBES[family]
    queries = _cluster_queries(clustered_vectors)
    d = tmp_path / family
    clean = probe(clustered_vectors, queries, str(d)).collect()
    marker = d / "_BUILT"
    text = marker.read_text()
    marker.write_text(text[: len(text) // 2])

    builds = _record_builds(monkeypatch)
    assert probe(clustered_vectors, queries, str(d)).collect() == clean
    assert builds == [str(d)]
    assert json.loads(marker.read_text())["kind"] == kind


#: probes that read each family's marker, with a marker each contradicts
_CONTRADICTED = {
    # a float-KMeans IVF index from before the exact-integer Lloyd
    "ivf": (
        lambda cv, q, d: similarity.cosine_topk_ivf(cv, q, nlist=3, index_dir=d),
        {"kind": "ivf", "nlist": 3, "seed": 42},
    ),
    "semantic_dedup": (
        lambda cv, q, d: similarity.semantic_dedup(cv, nlist=3, index_dir=d),
        {"kind": "ivf", "nlist": 3, "seed": 42},
    ),
    "pq": (
        lambda cv, q, d: similarity.cosine_topk_pq(cv, q, m=3, ksub=8, index_dir=d),
        {"kind": "pq-det", "m": 4, "ksub": 8},
    ),
    "ivfpq": (
        lambda cv, q, d: similarity.cosine_topk_ivfpq(
            cv, q, m=3, ksub=8, index_dir=d
        ),
        {"kind": "ivfpq-det", "nlist": 3, "m": 3, "ksub": 16},
    ),
}


def _index_dir_with(tmp_path, marker=None):
    d = tmp_path / "idx"
    d.mkdir()
    (d / "payload").write_text("x")
    if marker is None:
        (d / "_BUILT").mkdir()  # reading the marker raises IsADirectoryError
    else:
        (d / "_BUILT").write_text(marker)
    return d


@pytest.mark.parametrize("consumer", sorted(_CONTRADICTED))
def test_contradicting_index_marker_raises(clustered_vectors, tmp_path, consumer):
    """A parseable marker whose kind/m/ksub contradict the probe raises
    and leaves the dir as it was."""
    import json

    probe, marker = _CONTRADICTED[consumer]
    d = _index_dir_with(tmp_path, json.dumps(marker))
    with pytest.raises(ValueError, match="different parameters"):
        probe(clustered_vectors, _cluster_queries(clustered_vectors), str(d))
    assert json.loads((d / "_BUILT").read_text()) == marker
    assert (d / "payload").read_text() == "x"


@pytest.mark.parametrize("consumer", sorted(_CONTRADICTED))
def test_index_marker_read_error_propagates(clustered_vectors, tmp_path, consumer):
    """An OSError other than not-found while reading the marker
    propagates; nothing is deleted and nothing is built."""
    probe, _ = _CONTRADICTED[consumer]
    d = _index_dir_with(tmp_path)
    with pytest.raises(IsADirectoryError):
        probe(clustered_vectors, _cluster_queries(clustered_vectors), str(d))
    assert (d / "_BUILT").is_dir()
    assert sorted(p.name for p in d.iterdir()) == ["_BUILT", "payload"]


def test_sweep_orphan_siblings_removes_dead_pid_dirs_only(tmp_path):
    """r13 ADVICE: a builder killed between the stale-claim rename and
    its rmtree/restore leaks '<out_dir>.stale.<pid>' (and '.tmp.<pid>')
    dataset copies. The build-entry sweep must remove siblings whose
    pid is dead and leave live builders' dirs (and non-pid names)
    untouched."""
    import os
    import subprocess

    from lab_etl_batch_data_processing_pipeline__spark.artifacts import (
        sweep_orphan_siblings,
    )

    out = str(tmp_path / "curated" / "sf0.01-1-2")
    os.makedirs(out)
    dead = subprocess.Popen(["sleep", "0"])
    dead.wait()  # reaped child: os.kill(pid, 0) raises ProcessLookupError
    live_pid = os.getppid()  # the pytest parent: alive for the whole test
    for name in (
        f"{out}.stale.{dead.pid}",
        f"{out}.tmp.{dead.pid}",
        f"{out}.stale.{live_pid}",
        f"{out}.tmp.{live_pid}",
        f"{out}.stale.notapid",
        f"{out}.tmp.{os.getpid()}",  # own-pid dirs are protocol-managed
    ):
        os.makedirs(name)
        open(os.path.join(name, "payload"), "w").close()
    sweep_orphan_siblings(out)
    assert not os.path.isdir(f"{out}.stale.{dead.pid}")
    assert not os.path.isdir(f"{out}.tmp.{dead.pid}")
    assert os.path.isdir(f"{out}.stale.{live_pid}")
    assert os.path.isdir(f"{out}.tmp.{live_pid}")
    assert os.path.isdir(f"{out}.stale.notapid")
    assert os.path.isdir(f"{out}.tmp.{os.getpid()}")
    assert os.path.isdir(out)  # the published dataset itself is never touched


def test_sweep_orphan_siblings_age_gate_catches_recycled_pids(tmp_path):
    """r14 ADVICE: pid-liveness alone leaks forever when a dead
    builder's pid is recycled by an unrelated live process. A LIVE-pid
    sibling older than 24 h must be swept (live builders' siblings are
    always recent); a live-pid sibling with a fresh mtime must survive
    (the existing test pins that), and so must a fresh DEAD-pid dir's
    removal — age only ever widens the sweep."""
    import os

    from lab_etl_batch_data_processing_pipeline__spark.artifacts import (
        sweep_orphan_siblings,
    )

    out = str(tmp_path / "curated" / "sf0.01-1-2")
    os.makedirs(out)
    live_pid = os.getppid()
    old = f"{out}.stale.{live_pid}"
    fresh = f"{out}.tmp.{live_pid}"
    for name in (old, fresh):
        os.makedirs(name)
    stale_ts = __import__("time").time() - 25 * 3600
    os.utime(old, (stale_ts, stale_ts))
    sweep_orphan_siblings(out)
    assert not os.path.isdir(old), "25h-old live-pid dir must be swept"
    assert os.path.isdir(fresh), "fresh live-pid dir must survive"
    assert os.path.isdir(out)


def test_sweep_orphan_siblings_age_gate_uses_recursive_mtime(tmp_path):
    """r15 ADVICE: the age gate must look at the NEWEST mtime anywhere
    in the tree, not the dir's top-level st_mtime — a live builder
    writing under a nested _temporary/ subtree for >24 h never touches
    the claim dir's direct children, and the old gate would sweep its
    in-progress build. An all-old tree must still be swept."""
    import os
    import time

    from lab_etl_batch_data_processing_pipeline__spark.artifacts import (
        sweep_orphan_siblings,
    )

    out = str(tmp_path / "curated" / "sf0.01-1-2")
    os.makedirs(out)
    live_pid = os.getppid()
    stale_ts = time.time() - 25 * 3600
    # active build: stale top level, FRESH file deep under _temporary/
    active = f"{out}.tmp.{live_pid}"
    deep = os.path.join(active, "_temporary", "0", "task_0")
    os.makedirs(deep)
    open(os.path.join(deep, "part-00000"), "w").close()
    for p in (active, os.path.dirname(os.path.dirname(deep))):
        os.utime(p, (stale_ts, stale_ts))
    # genuinely abandoned: every path in the tree is old
    dead_tree = f"{out}.stale.{live_pid}"
    dead_deep = os.path.join(dead_tree, "_temporary")
    os.makedirs(dead_deep)
    open(os.path.join(dead_deep, "part-00000"), "w").close()
    for root, dirs, files in os.walk(dead_tree, topdown=False):
        for entry in dirs + files:
            os.utime(os.path.join(root, entry), (stale_ts, stale_ts))
    os.utime(dead_tree, (stale_ts, stale_ts))
    sweep_orphan_siblings(out)
    assert os.path.isdir(active), (
        "stale-top-level dir with a fresh nested write is an ACTIVE "
        "build and must survive"
    )
    assert not os.path.isdir(dead_tree), "all-old tree must be swept"
    assert os.path.isdir(out)

def test_sweep_orphan_siblings_short_circuits_on_fresh_activity(tmp_path, monkeypatch):
    """r16 ADVICE: the recursive age walk must stop as soon as activity
    is proven. A live-pid sibling whose TOP-LEVEL mtime is already
    fresh must never pay the full-tree stat storm (os.walk not entered
    at all — the O(1) live-builder fast path); a stale-top-level tree
    must still be walked (the r15 nested-write case keeps working, the
    other direction of the pin)."""
    import os

    from lab_etl_batch_data_processing_pipeline__spark import artifacts
    from lab_etl_batch_data_processing_pipeline__spark.artifacts import (
        sweep_orphan_siblings,
    )

    out = str(tmp_path / "curated" / "sf0.01-1-2")
    os.makedirs(out)
    live_pid = os.getppid()
    fresh_top = f"{out}.tmp.{live_pid}"
    os.makedirs(os.path.join(fresh_top, "nested"))
    walked: list[str] = []
    real_walk = os.walk

    def counting_walk(path, *a, **kw):
        walked.append(str(path))
        return real_walk(path, *a, **kw)

    monkeypatch.setattr(artifacts.os, "walk", counting_walk)
    sweep_orphan_siblings(out)
    assert os.path.isdir(fresh_top)
    assert walked == [], (
        "fresh top-level mtime already proves the dir active — the "
        "recursive walk must be skipped entirely"
    )
    # other direction: stale top level forces the walk (and the fresh
    # nested entry keeps the dir alive, per the r15 pin)
    import time

    stale_ts = time.time() - 25 * 3600
    deep = os.path.join(fresh_top, "nested")
    open(os.path.join(deep, "part"), "w").close()
    os.utime(fresh_top, (stale_ts, stale_ts))
    walked.clear()
    sweep_orphan_siblings(out)
    assert walked == [fresh_top], "stale top level must trigger the walk"
    assert os.path.isdir(fresh_top), "fresh nested write keeps it alive"


def test_crossencoder_rerank_golden(spark):
    """Known texts, known candidate lists: the integer lexical score
    ((10000 * |token-set ∩|) // |token-set ∪|) and the re-rank order
    (ce_score desc, upstream sim_rank as tiebreak) come out exactly.
    Covers: dropped empty tokens / duplicate tokens (set semantics),
    a query with no doc row (empty query token set -> all scores 0,
    retrieval order preserved), and a candidate with no doc row
    (dropped — the inner join against the corpus)."""
    cand = spark.createDataFrame(
        [
            (0, 10, 0.9, 1),
            (0, 11, 0.8, 2),
            (0, 12, 0.7, 3),
            (7, 10, 0.5, 1),   # query 7 has no doc text
            (0, 99, 0.6, 4),   # neighbor 99 has no doc row -> dropped
        ],
        "query_id long, neighbor_id long, cosine_sim double, sim_rank int",
    )
    docs = spark.createDataFrame(
        [
            (0, "red green  blue blue"),      # set: {red, green, blue}
            (10, "red yellow"),               # ∩=1 ∪=4 -> 2500
            (11, "red green blue"),           # ∩=3 ∪=3 -> 10000
            (12, "purple"),                   # ∩=0 ∪=4 -> 0
        ],
        "doc_id long, text string",
    )
    out = similarity.crossencoder_rerank(cand, docs).collect()
    got = [
        (r.query_id, r.neighbor_id, r.ce_score, r.rerank_pos) for r in out
    ]
    assert got == [
        (0, 11, 10000, 1),
        (0, 10, 2500, 2),
        (0, 12, 0, 3),
        (7, 10, 0, 1),
    ]
    # schema contract: candidate columns ride through unchanged
    assert [f.name for f in similarity.crossencoder_rerank(cand, docs).schema] == [
        "query_id", "neighbor_id", "cosine_sim", "sim_rank",
        "ce_score", "rerank_pos",
    ]


def test_crossencoder_rerank_matches_sequential_replica(spark):
    """Randomized parity vs a pure-Python replica over seeded random
    vocab texts and candidate lists — pins the tokenization contract
    (single-space split, empties dropped, distinct sets), the integer
    truncating division, and the (ce_score desc, sim_rank asc)
    re-rank, against an implementation with no Spark in it."""
    import random

    rng = random.Random(1804)
    vocab = [f"w{i}" for i in range(12)]
    docs_py = {
        i: " ".join(
            rng.choice(vocab + [""])  # occasional double spaces
            for _ in range(rng.randint(0, 14))
        )
        for i in range(40)
    }
    cand_py = []
    for q in rng.sample(range(40), 6):
        pool = [i for i in range(40) if i != q]
        for rk, nb in enumerate(rng.sample(pool, 5), start=1):
            cand_py.append((q, nb, round(rng.random(), 6), rk))

    def toks(s):
        return frozenset(t for t in s.split(" ") if t)

    expect = {}
    for q, nb, cs, rk in cand_py:
        qt, ct = toks(docs_py.get(q, "")), toks(docs_py[nb])
        u = len(qt | ct)
        expect[(q, nb)] = (10000 * len(qt & ct)) // u if u else 0
    order = {}
    for q in {c[0] for c in cand_py}:
        rows = sorted(
            (c for c in cand_py if c[0] == q),
            key=lambda c: (-expect[(c[0], c[1])], c[3]),
        )
        for pos, c in enumerate(rows, start=1):
            order[(q, c[1])] = pos

    cand = spark.createDataFrame(
        cand_py, "query_id long, neighbor_id long, cosine_sim double, sim_rank int"
    )
    docs = spark.createDataFrame(
        list(docs_py.items()), "doc_id long, text string"
    )
    out = similarity.crossencoder_rerank(cand, docs).collect()
    assert len(out) == len(cand_py)
    for r in out:
        assert r.ce_score == expect[(r.query_id, r.neighbor_id)]
        assert r.rerank_pos == order[(r.query_id, r.neighbor_id)]


def test_lsh_collapsed_bucket_expression_matches_per_table_form(spark):
    """r18 optimization pin: cosine_topk_lsh's single nested-HOF bucket
    expression (one transform/aggregate over the broadcast weight
    tensor) must produce bit-identical (table_id, bucket) pairs to the
    original per-table _hyperplane_bucket unroll it replaced."""
    from pyspark.sql import functions as F

    from lab_etl_batch_data_processing_pipeline__spark.operators import similarity

    n_tables, n_planes, dim = 4, 3, 6
    rows = [
        (i, [float((i * 7 + j * 5) % 13) / 13.0 - 0.5 for j in range(dim)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    wmat = [
        similarity.portable_plane_weights(t, n_planes, dim)
        for t in range(n_tables)
    ]
    wdf = spark.createDataFrame([(wmat,)], "__hw array<array<array<double>>>")
    bound = df.crossJoin(F.broadcast(wdf))

    # original per-table unroll (the reference form)
    old = []
    for t in range(n_tables):
        col = similarity._hyperplane_bucket(
            F.col("embedding"), n_planes,
            weights=F.element_at(F.col("__hw"), t + 1),
        )
        old.extend(
            (r.vec_id, t, r.b)
            for r in bound.select("vec_id", col.alias("b")).collect()
        )

    # collapsed nested-HOF form (what with_buckets builds now)
    buckets = F.transform(
        F.col("__hw"),
        lambda tw: F.aggregate(
            tw,
            F.lit(0).cast("long"),
            lambda acc, w: acc * 2
            + F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"), w,
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
    new = [
        (r.vec_id, r.table_id, r.bucket)
        for r in bound.select(
            "vec_id", F.posexplode(buckets).alias("table_id", "bucket")
        ).collect()
    ]
    assert sorted(new) == sorted(old)


def test_dot_product_unrolled_bit_identical(spark):
    """r19 gate optimization pin: the unrolled codegen'd dot must equal
    the HOF fold bit for bit (same left-associated IEEE sequence) on
    adversarial float arrays — irrational-ish values, negatives, a null
    element (poisons both forms identically), and a zero vector. The
    composed cosine (per-row norms, when(denom != 0)) must likewise
    match cosine_similarity exactly."""
    import struct

    from pyspark.sql import functions as F

    from lab_etl_batch_data_processing_pipeline__spark.functions.vector_funcs import (
        cosine_similarity,
        dot_product,
        dot_product_unrolled,
        l2_norm,
    )

    rows = [
        (1, [0.1, 0.2, 0.30000000001, -7.7], [9.999, -0.333, 1e-8, 2.5]),
        (2, [1e30, -1e30, 3.3, 4.4], [1.0, 1.0, 1e-30, -2.0]),
        (3, [0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),
        (4, [1.5, None, 2.5, 3.5], [1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = df.select(
        dot_product(F.col("a"), F.col("b")).alias("fold"),
        dot_product_unrolled(F.col("a"), F.col("b"), 4).alias("unrolled"),
        cosine_similarity(F.col("a"), F.col("b")).alias("cos_fold"),
        F.when(
            (l2_norm(F.col("a")) * l2_norm(F.col("b"))) != 0.0,
            dot_product_unrolled(F.col("a"), F.col("b"), 4)
            / (l2_norm(F.col("a")) * l2_norm(F.col("b"))),
        ).alias("cos_unrolled"),
    ).collect()
    for r in got:
        fa = None if r.fold is None else struct.pack("<d", r.fold)
        fb = None if r.unrolled is None else struct.pack("<d", r.unrolled)
        assert fa == fb, (r.fold, r.unrolled)
        ca = None if r.cos_fold is None else struct.pack("<d", r.cos_fold)
        cb = None if r.cos_unrolled is None else struct.pack("<d", r.cos_unrolled)
        assert ca == cb, (r.cos_fold, r.cos_unrolled)
