"""DuckDB oracle SQL for the driver contract (__spark_entry__.oracle_sql).

One ANSI-SQL string per oracle-bearing queries() key, run by the driver
against the same parquet tables at sf0.01 and hash-compared with the
Spark result — so every alias and rounding rule here must match the
Spark side exactly. Shared literal fragments (token splitting, n-gram
windows, PII regexes, MinHash parameters) are computed from the SAME
Python constants the operators use, so the two engines cannot drift.

Split out of __spark_entry__.py (r7 verdict task 7) purely for size:
the entry module stays the thin driver-facing registry and re-exports
:func:`oracle_sql` unchanged.
"""

from __future__ import annotations

from .operators import dedup_fuzzy, text

MIXTURE_WEIGHTS = {"src0": 5.0, "src1": 4.0, "src2": 3.0, "src3": 2.0, "src4": 1.0}

# ---------------------------------------------------------------------------
# DuckDB oracles. Shared fragments keep Spark/DuckDB expressions aligned.
# ---------------------------------------------------------------------------

_TOKENS = "list_filter(string_split_regex({src}, '\\s+'), x -> x <> '')"
_LTOKENS = _TOKENS.format(src="lower(text)")

# Word n-gram array over a token list column named t (space-joined), same
# short-doc guard as text._word_gram_array. DuckDB list slices are 1-based
# inclusive, so t[i:i+n-1] is the n-token window starting at i.
_GRAMS = (
    "CASE WHEN len(t) >= {n} THEN list_transform("
    "generate_series(1, len(t) - {n} + 1), "
    "i -> array_to_string(t[i:i+{n}-1], ' ')) ELSE [] END"
)

# The exact PII regex/replacement pairs the Spark operator uses — imported,
# not re-typed, so the two engines can never drift.
_PII = {
    name: (pattern, token) for name, pattern, token in text.PII_PATTERNS
}

_DOC_STATS_SQL = f"""
WITH base AS (
  SELECT
    doc_id,
    length(text) AS n_chars,
    len({_TOKENS.format(src='text')}) AS n_tokens,
    len(list_filter({_LTOKENS},
        x -> x IN ('the','a','an','and','of','to','in','is','it'))) AS n_stopwords,
    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct
  FROM documents
)
SELECT
  doc_id,
  CAST(n_chars AS INT) AS n_chars,
  CAST(n_tokens AS INT) AS n_tokens,
  CAST(n_stopwords AS INT) AS n_stopwords,
  CAST(n_punct AS INT) AS n_punct,
  ROUND(n_chars / greatest(n_tokens, 1), 4) AS avg_token_len,
  ROUND(n_stopwords / greatest(n_tokens, 1), 4) AS stopword_ratio,
  ROUND(least(1.0,
      (least(n_tokens, 50) / 50.0) * 0.5
      + (1.0 - least(n_punct / greatest(n_chars, 1), 1.0)) * 0.3
      + least(n_stopwords / greatest(n_tokens, 1) * 5.0, 1.0) * 0.2), 4)
    AS quality_score
FROM base
"""

_LANG_SCORES = {
    "de": ("der", "die", "und"),
    "en": ("the", "and", "of"),
    "es": ("el", "los", "y"),
    "fr": ("le", "la", "et"),
}
_LANG_SCORE_EXPRS = ",\n    ".join(
    f"len(list_filter({_LTOKENS}, x -> x IN {markers!r})) AS score_{lang}"
    for lang, markers in _LANG_SCORES.items()
)
_LANGUAGE_ID_SQL = f"""
WITH scores AS (
  SELECT doc_id,
    {_LANG_SCORE_EXPRS}
  FROM documents
), best AS (
  SELECT *, greatest(score_de, score_en, score_es, score_fr, 0) AS best_score
  FROM scores
)
SELECT
  CAST(doc_id AS BIGINT) AS doc_id,
  CAST(score_de AS INT) AS score_de,
  CAST(score_en AS INT) AS score_en,
  CAST(score_es AS INT) AS score_es,
  CAST(score_fr AS INT) AS score_fr,
  CASE
    WHEN best_score = 0 THEN 'und'
    WHEN score_de = best_score THEN 'de'
    WHEN score_en = best_score THEN 'en'
    WHEN score_es = best_score THEN 'es'
    WHEN score_fr = best_score THEN 'fr'
    ELSE 'und'
  END AS lang_pred
FROM best
"""

_COS_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_COS_NORM = (
    "sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(x, y) -> x + y))"
)
_ANN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT
    q.query_id,
    e.vec_id AS neighbor_id,
    ROUND(
      {_COS_DOT.format(a="q.q_emb", b="e.embedding")}
      / ({_COS_NORM.format(a="q.q_emb")} * {_COS_NORM.format(a="e.embedding")}),
      6) AS cosine_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS sim_rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, sim_rank
FROM ranked WHERE sim_rank <= 5
"""

# Cross-encoder rerank twin (similarity.crossencoder_rerank over the
# brute-force top-5 — query key ann_rerank): the same exact-cosine
# candidate CTEs, then the deterministic integer lexical-interaction
# score — (10000 * |distinct shared tokens|) // |distinct token union|
# on single-space-split, empty-dropped token SETS (list_intersect and
# list_distinct(list_concat) are set ops after list_distinct, matching
# Python frozensets) — and a per-query re-rank by ce_score desc with
# the upstream sim_rank as the deterministic tiebreak. Candidate texts
# come from an INNER join on neighbor_id (Spark streams the doc table
# into the broadcast candidate list); query token sets via LEFT join +
# COALESCE to the empty list (Spark's qtok.get(qid, frozenset())).
_ANN_RERANK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT
    q.query_id,
    e.vec_id AS neighbor_id,
    ROUND(
      {_COS_DOT.format(a="q.q_emb", b="e.embedding")}
      / ({_COS_NORM.format(a="q.q_emb")} * {_COS_NORM.format(a="e.embedding")}),
      6) AS cosine_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS sim_rank
  FROM scored
), cand AS (
  SELECT query_id, neighbor_id, cosine_sim, sim_rank
  FROM ranked WHERE sim_rank <= 5
), toks AS (
  SELECT doc_id,
         list_distinct(list_filter(
           string_split(COALESCE(text, ''), ' '), x -> x <> '')) AS t
  FROM documents
), sc AS (
  SELECT c.query_id, c.neighbor_id, c.cosine_sim, c.sim_rank,
         CAST(CASE
           WHEN len(list_distinct(list_concat(COALESCE(qt.t, []), ct.t))) = 0
           THEN 0
           ELSE (10000 * len(list_intersect(COALESCE(qt.t, []), ct.t)))
                // len(list_distinct(list_concat(COALESCE(qt.t, []), ct.t)))
         END AS BIGINT) AS ce_score
  FROM cand c
  JOIN toks ct ON ct.doc_id = c.neighbor_id
  LEFT JOIN toks qt ON qt.doc_id = c.query_id
)
SELECT query_id, neighbor_id, cosine_sim, sim_rank, ce_score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY ce_score DESC, sim_rank) AS INT)
         AS rerank_pos
FROM sc ORDER BY query_id, rerank_pos
"""

# Portable-LSH top-k twin (similarity.cosine_topk_lsh portable=True,
# 3 planes x 8 tables, k=5 — query key ann_cosine_lsh): replicates the
# md5-derived hyperplane weights (first 60 md5 bits of "table|plane|dim"
# mapped to [-1, 1)), the sign-pattern bucket fold (acc*2 + bit — DuckDB's
# init-less list_reduce equals Spark's 0-seeded aggregate for this op),
# the any-table bucket-collision candidate set, and the exact cosine
# re-rank. The dot products only feed SIGN decisions and a 6dp-rounded
# cosine, and both engines fold left-to-right in index order, so the
# buckets — and therefore the whole top-k — hash-match (r9 verdict task
# 4: the oldest rows-only key gets a full value-hash oracle).
_ANN_LSH_WEIGHT = (
    "((('0x' || substr(md5(CAST({t} AS VARCHAR) || '|' || CAST({p} AS VARCHAR)"
    " || '|' || CAST({d} AS VARCHAR)), 1, 15))::BIGINT"
    " % 20000038 - 10000019) / 10000019.0)"
)
_ANN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         list_transform(range(0, 8), t ->
           list_reduce(list_transform(range(0, 3), p ->
             CASE WHEN list_reduce(
                 list_transform(range(1, len(embedding) + 1), d ->
                   CAST(embedding[d] AS DOUBLE)
                   * {_ANN_LSH_WEIGHT.format(t="t", p="p", d="d")}),
                 (x, y) -> x + y) > 0
             THEN 1 ELSE 0 END
           ), (acc, bit) -> acc * 2 + bit)
         ) AS buckets
  FROM embeddings
), cexp AS (
  SELECT vec_id, t, buckets[t + 1] AS bkt FROM b, range(0, 8) r(t)
), qexp AS (
  SELECT vec_id AS query_id, t, bkt FROM cexp WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM cexp c JOIN qexp q ON c.t = q.t AND c.bkt = q.bkt
  WHERE c.vec_id <> q.query_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(
           {_COS_DOT.format(a="qe.embedding", b="ne.embedding")}
           / ({_COS_NORM.format(a="qe.embedding")}
              * {_COS_NORM.format(a="ne.embedding")}),
           6) AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT)
    AS sim_rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, sim_rank
FROM ranked WHERE sim_rank <= 5
"""

_TOK_SET = f"list_distinct({_LTOKENS})"

# Cross-document substring dedup twin (dedup_fuzzy.duplicate_spans /
# remove_duplicate_spans, k=8, min_len=15): positional whitespace tokens
# of the canonical text, md5 k-gram per position, min-id gram home,
# gaps-and-islands run merge — identical arithmetic on both engines.
_SPAN_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(lower(text), "
    "'\\s+', ' ', 'g')), ' '), x -> x <> '')"
)
_SPAN_PIPELINE = f"""
  base AS (SELECT doc_id, {_SPAN_TOKS} AS toks FROM documents),
  grams AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(toks[i:i+7], ' ')) AS gram
    FROM base, UNNEST(generate_series(1, len(toks) - 7)) AS t(i)
    WHERE len(toks) >= 8),
  gmin AS (SELECT gram, MIN(doc_id) AS min_doc FROM grams GROUP BY 1),
  marked AS (
    SELECT g.doc_id, g.pos FROM grams g JOIN gmin USING (gram)
    WHERE g.doc_id > gmin.min_doc),
  islands AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    FROM marked),
  spans AS (
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) - MIN(pos) + 8 AS span_len
    FROM islands GROUP BY doc_id, isl
    HAVING MAX(pos) - MIN(pos) + 8 >= 15)"""
def _jaccard_sql(threshold: float) -> str:
    return f"""
WITH prep AS (
  SELECT
    doc_id,
    {_TOK_SET} AS tok_set,
    CAST(floor(len({_TOK_SET}) / 10) AS BIGINT) AS len_bucket,
    list_aggregate(list_transform({_TOK_SET}, t -> md5(t)), 'min') AS block_tok
  FROM documents
), pairs AS (
  SELECT
    a.doc_id AS doc_id_a,
    b.doc_id AS doc_id_b,
    len(list_filter(a.tok_set, x -> list_contains(b.tok_set, x))) AS n_inter,
    len(a.tok_set) + len(b.tok_set)
      - len(list_filter(a.tok_set, x -> list_contains(b.tok_set, x))) AS n_union
  FROM prep a JOIN prep b
    ON a.len_bucket = b.len_bucket
   AND a.block_tok = b.block_tok
   AND a.doc_id < b.doc_id
)
SELECT * FROM (
  SELECT doc_id_a, doc_id_b, ROUND(n_inter / n_union, 6) AS jaccard FROM pairs
) WHERE jaccard >= {threshold}
"""


_JACCARD_SQL = _jaccard_sql(0.3)

# Connected components of the strong-duplicate (>= 0.6) pair graph via
# transitive closure — DuckDB's recursive CTE is the declarative twin of
# the engine's iterative hash-to-min propagation (operators/graph.py), so
# an ITERATIVE algorithm still gets a value-hash oracle: component_id =
# min reachable doc id, which both formulations produce deterministically.
# Connected components as MIN-LABEL PROPAGATION to fixpoint, not full
# transitive closure: closure materializes O(n^2) reach pairs per
# component, which on the dense fixture's near-clique clusters at sf0.1
# filled the disk (the copurchase_kcore lesson, second instance); label
# propagation reaches the same component_id = min-reachable-id with
# ~n x (labels-improved) rows — 2-3 recursion rounds on clique-ish
# components. The l.lbl < e.a guard only prunes propagation into nodes
# that already dominate the label; MIN per node at the end is exact.
_CC_SQL = f"""
WITH RECURSIVE strong_pairs AS MATERIALIZED ({_jaccard_sql(0.6)}),
edges AS MATERIALIZED (
  SELECT doc_id_a AS a, doc_id_b AS b FROM strong_pairs
  UNION
  SELECT doc_id_b AS a, doc_id_a AS b FROM strong_pairs
),
lp AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS lbl FROM edges GROUP BY a
  UNION
  SELECT e.a AS node, l.lbl
  FROM lp l JOIN edges e ON e.b = l.node
  WHERE l.lbl < e.a
)
SELECT CAST(node AS BIGINT) AS node_id,
       CAST(MIN(lbl) AS BIGINT) AS component_id
FROM lp GROUP BY node ORDER BY 1
"""

# Degree form: same pair space, collapsed per doc (both pair sides count).
_JACCARD_DEGREE_SQL = f"""
WITH kept AS ({_JACCARD_SQL}),
sides AS (
  SELECT unnest([doc_id_a, doc_id_b]) AS doc_id, jaccard FROM kept
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_near_dups,
       ROUND(MAX(jaccard), 6) AS max_jaccard
FROM sides GROUP BY 1 ORDER BY 1
"""

_REPEAT_SQL = """
WITH seq AS (
  SELECT
    o_custkey AS user_id,
    CAST(o_orderdate AS DATE) AS booking_date,
    LAG(CAST(o_orderdate AS DATE)) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_booking_date
  FROM orders WHERE o_orderstatus = 'F'
), flagged AS (
  SELECT *,
    CASE WHEN prev_booking_date IS NOT NULL
          AND date_diff('day', prev_booking_date, booking_date) <= 30
         THEN 1 ELSE 0 END AS is_repeat
  FROM seq
)
SELECT
  CAST(date_trunc('month', booking_date) AS DATE) AS month,
  CAST(COUNT(DISTINCT CASE WHEN is_repeat = 1 THEN user_id END) AS BIGINT)
    AS repeat_customers,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_customers,
  ROUND(100.0 * COUNT(DISTINCT CASE WHEN is_repeat = 1 THEN user_id END)
        / COUNT(DISTINCT user_id), 2) AS repeat_rate_pct
FROM flagged GROUP BY 1 ORDER BY 1
"""

_TOPK_SQL = """
WITH agg AS (
  SELECT
    CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
    l_partkey AS listing_id,
    CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY week_start ORDER BY total_revenue DESC, listing_id) AS INT)
    AS revenue_rank
  FROM agg
)
SELECT week_start, listing_id, total_revenue, revenue_rank
FROM ranked WHERE revenue_rank <= 3
"""

_DEDUP_KEYS_SQL = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       l_shipdate
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY l_orderkey, l_linenumber
    ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount,
             l_tax, l_returnflag, l_linestatus, l_shipdate) AS rn
  FROM lineitem
) WHERE rn = 1
"""


# Session boundaries operate at whole-second resolution on both engines
# (Spark: timestamp cast to long; DuckDB: epoch_us // 1e6) so tie ordering
# inside one second cannot flip a 12h-gap decision.
_SESSION_SQL = """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
  FROM events
), flagged AS (
  SELECT user_id, event_id, sec,
         CASE WHEN LAG(sec) OVER w IS NULL OR sec - LAG(sec) OVER w > 43200
              THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
), sess AS (
  SELECT user_id, sec,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY sec, event_id
           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(sec) - MIN(sec) AS BIGINT) AS duration_sec
FROM sess GROUP BY 1, 2 ORDER BY 1, 2
"""


# Shared funnel prefix (quality gate on the ROUNDED 4dp score ->
# md5-fingerprint dedup with min-doc_id survivor -> token-set prep for
# the near-dup stage) — used verbatim by _CORPUS_PREP_SQL and
# _CORPUS_PREP_AUTO_SQL so the two funnels cannot drift.
_CORPUS_FUNNEL_CTES = f"""stats AS (
  SELECT doc_id,
    ROUND(least(1.0,
        (least(n_tokens, 50) / 50.0) * 0.5
        + (1.0 - least(n_punct / greatest(n_chars, 1), 1.0)) * 0.3
        + least(n_stopwords / greatest(n_tokens, 1) * 5.0, 1.0) * 0.2), 4)
      AS quality_score
  FROM (
    SELECT doc_id,
           length(text) AS n_chars,
           len({_TOKENS.format(src='text')}) AS n_tokens,
           len(list_filter({_LTOKENS},
               x -> x IN ('the','a','an','and','of','to','in','is','it')))
             AS n_stopwords,
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents)
), kept AS (
  SELECT d.doc_id, d.text, d.lang, d.source, s.quality_score
  FROM documents d JOIN stats s USING (doc_id)
  WHERE s.quality_score >= 0.7
), fp AS (
  SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM kept
), exact AS (
  SELECT doc_id, text, lang, source, quality_score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM fp) WHERE rn = 1
), prep AS (
  SELECT doc_id,
         list_distinct(lt) AS tok_set,
         CAST(floor(len(list_distinct(lt)) / 10) AS BIGINT) AS len_bucket,
         list_aggregate(list_transform(list_distinct(lt), t -> md5(t)), 'min')
           AS block_tok
  FROM (SELECT doc_id, {_LTOKENS} AS lt FROM exact)
)"""


# End-to-end corpus funnel oracle: shared prefix + blocked-Jaccard
# near-dup removal keeping the lower doc_id (the exact, unrouted path).
_CORPUS_PREP_SQL = f"""
WITH {_CORPUS_FUNNEL_CTES}, pairs AS (
  SELECT doc_id_b FROM (
    SELECT b.doc_id AS doc_id_b,
           ROUND(len(list_filter(a.tok_set, x -> list_contains(b.tok_set, x)))
                 / (len(a.tok_set) + len(b.tok_set)
                    - len(list_filter(a.tok_set, x -> list_contains(b.tok_set, x)))),
                 6) AS j
    FROM prep a JOIN prep b
      ON a.len_bucket = b.len_bucket
     AND a.block_tok = b.block_tok
     AND a.doc_id < b.doc_id
  ) WHERE j >= 0.5
)
SELECT doc_id, text, lang, source, quality_score
FROM exact WHERE doc_id NOT IN (SELECT doc_id_b FROM pairs)
ORDER BY doc_id
"""


# Routed-funnel twin (plans/corpus.py corpus_prep with
# near_dup_pair_budget=1M, near_dup_portable=True — query key
# corpus_prep_auto): replicates the ROUTING DECISION (exact blocked
# candidate-pair count over the exact-dedup survivors, jaccard_block_stats
# semantics) and BOTH branches — the blocked-Jaccard pair removal when
# sparse, and the banded MinHash bucket-canonical dedup
# (minhash_bucket_dedup: shingle_size=1 so the shingle set IS the distinct
# token set, md5-derived 31-bit base hash, the same inlined (a_i, b_i)
# universal-hash family as _MINHASH_SQL, bands=8 x r=4 per
# pick_bands(32, 0.5), min-doc_id survivor per band bucket) when the count
# exceeds the budget. Empty-token docs cannot reach the minhash stage: the
# 0.7 quality gate already drops them (n_tokens=0 scores <= 0.3), so the
# MIN-over-group signature form is total here.
_CORPUS_PREP_AUTO_SQL = f"""
WITH {_CORPUS_FUNNEL_CTES}, blocks AS (
  SELECT len_bucket, block_tok, COUNT(*) AS n
  FROM prep WHERE block_tok IS NOT NULL
  GROUP BY 1, 2
), dense AS (
  SELECT COALESCE(SUM(CAST(n * (n - 1) / 2 AS BIGINT)), 0) > 1000000
    AS is_dense
  FROM blocks
), pairs AS (
  SELECT doc_id_b FROM (
    SELECT b.doc_id AS doc_id_b,
           ROUND(len(list_filter(a.tok_set, x -> list_contains(b.tok_set, x)))
                 / (len(a.tok_set) + len(b.tok_set)
                    - len(list_filter(a.tok_set, x -> list_contains(b.tok_set, x)))),
                 6) AS j
    FROM prep a JOIN prep b
      ON a.len_bucket = b.len_bucket
     AND a.block_tok = b.block_tok
     AND a.doc_id < b.doc_id
    WHERE NOT (SELECT is_dense FROM dense)
  ) WHERE j >= 0.5
), hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS h
  FROM (SELECT doc_id, unnest(tok_set) AS tok FROM prep
        WHERE (SELECT is_dense FROM dense))
), params(i, a, b) AS (
  VALUES {{MINHASH_PARAMS}}
), slots AS (
  SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS m
  FROM hs CROSS JOIN params GROUP BY 1, 2
), sigs AS (
  SELECT doc_id, list(m ORDER BY i) AS sig FROM slots GROUP BY 1
), banded AS (
  SELECT doc_id, b,
         md5(array_to_string(sig[b*4+1 : b*4+4], '|')) AS bh
  FROM sigs, range(0, 8) r(b)
), bucket_min AS (
  SELECT b, bh, MIN(doc_id) AS min_id FROM banded GROUP BY 1, 2
), mh_drop AS (
  SELECT DISTINCT banded.doc_id AS doc_id_b
  FROM banded JOIN bucket_min USING (b, bh)
  WHERE banded.doc_id > bucket_min.min_id
), drops AS (
  SELECT doc_id_b FROM pairs
  UNION
  SELECT doc_id_b FROM mh_drop
)
SELECT doc_id, text, lang, source, quality_score
FROM exact WHERE doc_id NOT IN (SELECT doc_id_b FROM drops)
ORDER BY doc_id
"""


# Literal-table oracle for the multimodal rollup (query key
# multimodal_features): the media table is synthesized deterministically
# (sources/media_synth.py, LCG content, n_per_modality=40, INDEPENDENT of
# sf_dir) and decoded by pure-Python codecs, so the per-modality rollup is
# a corpus-independent constant — the currency_convert literal-table
# pattern. Values captured from the query itself and pinned; the golden
# decode tests (tests/test_sources_multimodal_streaming.py,
# tests/test_media_synth.py) keep pixel/sample arithmetic honest, and any
# codec/synth regression now hash-mismatches at the driver too (r9
# verdict task 2: the engine's last golden-test-only component converted
# to the hard signal).
_MULTIMODAL_SQL = """
SELECT * FROM (VALUES
  ('audio', CAST(40 AS BIGINT), CAST(48160 AS BIGINT),
   CAST(40 AS BIGINT), CAST(0.279464 AS DOUBLE)),
  ('image', CAST(40 AS BIGINT), CAST(21720 AS BIGINT),
   CAST(40 AS BIGINT), CAST(0.500582 AS DOUBLE)),
  ('video', CAST(40 AS BIGINT), CAST(70784 AS BIGINT),
   CAST(120 AS BIGINT), CAST(0.498389 AS DOUBLE))
) t(modality, n_media, payload_bytes, n_feature_rows, avg_signal)
ORDER BY modality
"""


# North-star composition: the corpus funnel's survivors, chunked into
# 32-token windows (stride 24), packed onto a 512-token axis — the same
# CTE chain the Spark side composes from corpus_prep + chunk_documents +
# pack_offsets, so a regression anywhere in the chain hash-mismatches.
_TRAINING_BATCHES_SQL = f"""
WITH survivors AS ({_CORPUS_PREP_SQL}),
toks AS (
  SELECT doc_id, {_TOKENS.format(src="lower(text)")} AS t FROM survivors
),
chunks AS (
  SELECT doc_id * 1000 + ((s - 1) // 24 + 1) AS chunk_key,
         len(t[s : s + 31]) AS n_tokens
  FROM toks CROSS JOIN UNNEST(generate_series(1, len(t), 24)) AS u(s)
  WHERE len(t) > 0
),
d AS (
  SELECT chunk_key, n_tokens,
         md5(CAST(chunk_key AS VARCHAR)) AS sort_key
  FROM chunks
)
SELECT CAST(chunk_key AS BIGINT) AS chunk_key,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER w, 0) AS BIGINT) AS start_offset,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER w, 0) / 512) AS BIGINT) AS seq_bin
FROM d
WINDOW w AS (ORDER BY sort_key, chunk_key
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
ORDER BY chunk_key
"""


# Five-stage composition twin: funnel survivors -> 8-gram benchmark
# decontamination -> weighted mixture thresholds, all in one CTE chain.
# The keep thresholds derive from the CLEAN corpus's per-source token
# totals, so the final grouped row is sensitive to every upstream stage.
# Gate swapped to 0.5 to mirror q_training_mix (all five weighted sources
# stay populated on the fixture).
_TRAINING_MIX_SQL = f"""
WITH survivors AS ({_CORPUS_PREP_SQL.replace(
    "s.quality_score >= 0.7", "s.quality_score >= 0.5"
)}),
g AS (
  SELECT doc_id, list_distinct({_GRAMS.format(n=8)}) AS grams
  FROM (SELECT doc_id, {_LTOKENS} AS t FROM survivors)
), bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM (
    SELECT list_distinct({_GRAMS.format(n=8)}) AS grams
    FROM (SELECT {_LTOKENS} AS t FROM documents WHERE doc_id % 50 = 0)
  )
), contaminated AS (
  SELECT DISTINCT dg.doc_id
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g) dg
  JOIN bench USING (gram)
), clean AS (
  SELECT s.doc_id, s.source,
         len({_TOKENS.format(src="lower(s.text)")}) AS n_tokens
  FROM survivors s
  WHERE s.doc_id NOT IN (SELECT doc_id FROM contaminated)
), w(source, wt) AS (VALUES {", ".join(
    f"('{k}', {v})" for k, v in MIXTURE_WEIGHTS.items()
)}), st AS (
  SELECT source, SUM(n_tokens) AS source_tokens FROM clean GROUP BY 1
), s2 AS (
  SELECT source,
         CAST(FLOOR(LEAST(1.0,
              (500.0 * (wt / {float(sum(MIXTURE_WEIGHTS.values()))}))
              / source_tokens) * 65536) AS BIGINT) AS keep_thresh
  FROM st JOIN w USING (source)
)
SELECT c.source, s2.keep_thresh,
       CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(c.n_tokens) AS BIGINT) AS tokens_kept
FROM clean c JOIN s2 USING (source)
WHERE ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 4))::BIGINT
      < s2.keep_thresh
GROUP BY 1, 2 ORDER BY 1
"""


# Portable MinHash-LSH twin (operators/dedup_fuzzy.py): same md5-derived
# 31-bit base hash, same inlined (a_i, b_i) universal-hash family, same
# md5 band buckets — signatures and est_jaccard match bit-for-bit.
_MINHASH_PARAMS_VALUES = ",\n              ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(dedup_fuzzy.minhash_params(32))
)

# Defined above as a placeholder (the params constant lives here, after
# the funnel SQL block); substituted once at import.
_CORPUS_PREP_AUTO_SQL = _CORPUS_PREP_AUTO_SQL.replace(
    "{MINHASH_PARAMS}", _MINHASH_PARAMS_VALUES
)

def _pagerank_sql(iterations: int = 5, scale_bits: int = 20) -> str:
    """Unrolled-CTE twin of graph.pagerank over the customer<->supplier
    co-transaction graph: the same truncating-integer update per round
    ((85 * r // 100) // outdeg summed per dst, plus the integer base),
    chained r1..rN — an iterative distributed algorithm pinned by a
    declarative oracle because no float ever enters either side."""
    base = 15 * (1 << scale_bits) // 100
    r0 = 1 << scale_bits
    rounds = "".join(
        f""", r{i} AS MATERIALIZED (
  SELECT n.node_id,
         CAST({base} + COALESCE(
           SUM((85 * r.rank_fp // 100) // d.outdeg), 0) AS BIGINT) AS rank_fp
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node_id
  LEFT JOIN r{i - 1} r ON r.node_id = e.src
  LEFT JOIN outdeg d ON d.src = e.src
  GROUP BY 1)"""
        for i in range(1, iterations + 1)
    )
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT 2 * o.o_custkey AS c, 2 * l.l_suppkey + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM pairs
  UNION
  SELECT s AS src, c AS dst FROM pairs
), outdeg AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
), nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node_id FROM edges
  UNION
  SELECT DISTINCT dst AS node_id FROM edges
), r0 AS MATERIALIZED (
  SELECT node_id, CAST({r0} AS BIGINT) AS rank_fp FROM nodes
){rounds}
SELECT node_id, rank_fp FROM r{iterations} ORDER BY node_id
"""


def _kcore_sql(k: int = 3, rounds: int = 4) -> str:
    """Unrolled-CTE twin of graph.kcore over the support>=2 co-purchase
    pair graph: per round, degrees over the live-restricted edge set,
    keep nodes with degree >= k, restrict edges to survivors; output =
    degrees within the final survivor-induced subgraph. Chained
    deg_i/a_i/e_i CTEs — the pagerank pattern."""
    rounds_sql = "".join(
        f""", deg{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT item_a AS node FROM e{i - 1}
    UNION ALL SELECT item_b FROM e{i - 1}
  ) GROUP BY 1
), a{i} AS MATERIALIZED (
  SELECT node FROM deg{i} WHERE d >= {k}
), e{i} AS MATERIALIZED (
  SELECT p.item_a, p.item_b FROM p
  JOIN a{i} x ON p.item_a = x.node
  JOIN a{i} y ON p.item_b = y.node
)"""
        for i in range(1, rounds + 1)
    )
    return f"""
WITH d AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), p AS MATERIALIZED (
  SELECT a.i AS item_a, b.i AS item_b
  FROM d a JOIN d b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), e0 AS MATERIALIZED (SELECT item_a, item_b FROM p){rounds_sql}
SELECT a.node AS item,
       CAST(COALESCE(dg.d, 0) AS BIGINT) AS core_degree
FROM a{rounds} a LEFT JOIN (
  SELECT node, COUNT(*) AS d FROM (
    SELECT item_a AS node FROM e{rounds}
    UNION ALL SELECT item_b FROM e{rounds}
  ) GROUP BY 1
) dg ON a.node = dg.node
ORDER BY 1
"""


def _lpa_sql(rounds: int = 3) -> str:
    """Unrolled-CTE twin of graph.label_propagation over the support>=2
    co-purchase pair graph: per round, count neighbor labels over the
    symmetrized edge list, then every node picks (count DESC, label
    ASC) top-1 via ROW_NUMBER — the exact deterministic tie-break the
    Spark side uses. Chained c_i/l_i CTEs, integer labels only."""
    rounds_sql = "".join(
        f""", c{i} AS MATERIALIZED (
  SELECT e.a AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS n
  FROM e JOIN l{i - 1} l ON e.b = l.node GROUP BY 1, 2
), l{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY n DESC, lbl ASC) AS rn
    FROM c{i}) WHERE rn = 1)"""
        for i in range(1, rounds + 1)
    )
    return f"""
WITH d AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), p AS MATERIALIZED (
  SELECT a.i AS item_a, b.i AS item_b
  FROM d a JOIN d b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), e AS MATERIALIZED (
  SELECT item_a AS a, item_b AS b FROM p
  UNION ALL SELECT item_b, item_a FROM p
), l0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS lbl FROM e
){rounds_sql}
SELECT node AS item, lbl AS community FROM l{rounds} ORDER BY 1
"""



def _hits_sql(iterations: int = 3, scale_bits: int = 20) -> str:
    """Unrolled-CTE twin of graph.hits over the DIRECTED customer ->
    supplier purchase graph: per round, authority raw = sum of hub
    scores over in-edges then L-infinity integer renorm
    ((raw * 2^scale_bits) // max raw), hub raw = sum of the renormed
    authorities over out-edges then the same renorm — chained
    ar_i/a_i/hr_i/h_i CTEs, truncating positive BIGINT division on
    both engines, so the 3-round output hashes identically."""
    one = 1 << scale_bits
    rounds = "".join(
        f""", ar{i} AS MATERIALIZED (
  SELECT e.dst AS node_id, CAST(SUM(h.hub_fp) AS BIGINT) AS raw
  FROM e JOIN h{i - 1} h ON h.node_id = e.src GROUP BY 1
), a{i} AS MATERIALIZED (
  SELECT n.node_id,
         CAST(COALESCE((ar.raw * {one}) // (SELECT MAX(raw) FROM ar{i}),
                       0) AS BIGINT) AS auth_fp
  FROM nodes n LEFT JOIN ar{i} ar ON ar.node_id = n.node_id
), hr{i} AS MATERIALIZED (
  SELECT e.src AS node_id, CAST(SUM(a.auth_fp) AS BIGINT) AS raw
  FROM e JOIN a{i} a ON a.node_id = e.dst GROUP BY 1
), h{i} AS MATERIALIZED (
  SELECT n.node_id,
         CAST(COALESCE((hr.raw * {one}) // (SELECT MAX(raw) FROM hr{i}),
                       0) AS BIGINT) AS hub_fp
  FROM nodes n LEFT JOIN hr{i} hr ON hr.node_id = n.node_id
)"""
        for i in range(1, iterations + 1)
    )
    return f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node_id FROM e
  UNION
  SELECT DISTINCT dst AS node_id FROM e
), h0 AS MATERIALIZED (
  SELECT node_id, CAST({one} AS BIGINT) AS hub_fp FROM nodes
){rounds}
SELECT n.node_id, h.hub_fp, a.auth_fp
FROM nodes n
JOIN h{iterations} h ON h.node_id = n.node_id
JOIN a{iterations} a ON a.node_id = n.node_id
ORDER BY 1
"""


def _bfs_sql(n_seeds: int = 5, max_hops: int = 4) -> str:
    """Unrolled-CTE twin of graph.bfs_hops over the SYMMETRIZED
    customer <-> supplier purchase graph: seeds are the n_seeds
    smallest node ids (a k-row ORDER BY/LIMIT — deterministic), then
    per hop one frontier->edges join minus the settled set, unioned
    into the distance frame — pure set algebra, so the chain hashes
    identically. Unconditionally unrolls max_hops rounds (the
    operator's early exit only skips provably-empty frontiers, which
    contribute no rows here either)."""
    rounds = "".join(
        f""", f{i} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node_id
  FROM e JOIN f{i - 1} f ON f.node_id = e.src
  WHERE e.dst NOT IN (SELECT node_id FROM d{i - 1})
), d{i} AS MATERIALIZED (
  SELECT node_id, hop FROM d{i - 1}
  UNION ALL
  SELECT node_id, {i} AS hop FROM f{i}
)"""
        for i in range(1, max_hops + 1)
    )
    return f"""
WITH p AS MATERIALIZED (
  SELECT DISTINCT 2 * o.o_custkey AS c, 2 * l.l_suppkey + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), e AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM p
  UNION
  SELECT s AS src, c AS dst FROM p
), nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node_id FROM e
  UNION
  SELECT DISTINCT dst AS node_id FROM e
), f0 AS MATERIALIZED (
  SELECT node_id FROM nodes ORDER BY node_id LIMIT {n_seeds}
), d0 AS MATERIALIZED (
  SELECT node_id, 0 AS hop FROM f0
){rounds}
SELECT node_id, CAST(hop AS INT) AS hop
FROM d{max_hops} ORDER BY node_id
"""


def _kmeans_sql(k: int = 8, iters: int = 3, scale: int = 1 << 20) -> str:
    """Unrolled-CTE twin of clustering.kmeans_assign over embeddings:
    identical fix-pointing (round((x+1)*scale) BIGINTs), init (k
    smallest vec_ids, cluster ids in id order), assignment (min integer
    squared L2, ties to the smaller cluster id via ROW_NUMBER), and
    update (per-dim sum // count, empty clusters keep the previous
    centroid) — chained a1/c1..aN/cN, then one final assignment. No
    float enters either side after the fix-point, so the 3-iteration
    Lloyd's run hashes identically."""
    dist = (
        "list_sum(list_transform(range(1, len(v.v) + 1),"
        " i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i])))"
    )
    rounds = "".join(
        f""", a{i} AS MATERIALIZED (
  SELECT id, v, cid FROM (
    SELECT v.id, v.v AS v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY {dist}, c.cid) AS rn
    FROM v, c{i - 1} c) WHERE rn = 1
), s{i} AS MATERIALIZED (
  SELECT cid, i, SUM(v[i]) AS s, COUNT(*) AS n
  FROM a{i}, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2
), c{i} AS MATERIALIZED (
  SELECT p.cid, COALESCE(u.c, p.c) AS c
  FROM c{i - 1} p LEFT JOIN (
    SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY i) AS c
    FROM s{i} GROUP BY 1
  ) u ON p.cid = u.cid)"""
        for i in range(1, iters + 1)
    )
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(embedding,
           x -> CAST(ROUND((CAST(x AS DOUBLE) + 1.0) * {scale}.0)
                     AS BIGINT)) AS v
  FROM embeddings
), c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS c
  FROM (SELECT id, v FROM v ORDER BY id LIMIT {k})
){rounds}
SELECT id AS vec_id, cid AS cluster, CAST(d AS BIGINT) AS dist_sq FROM (
  SELECT v.id, c.cid, {dist} AS d,
         ROW_NUMBER() OVER (PARTITION BY v.id
                            ORDER BY {dist}, c.cid) AS rn
  FROM v, c{iters} c) WHERE rn = 1
ORDER BY vec_id
"""


def _ivf_sql(
    nlist: int = 8,
    iters: int = 4,
    scale: int = 1 << 20,
    nprobe: int = 3,
    k: int = 5,
) -> str:
    """Unrolled-CTE twin of the DETERMINISTIC IVF probe (query key
    ann_cosine_ivf: similarity.build_ivf_index +
    cosine_topk_ivf_probe). Replicates the whole path: L2-normalize,
    fix-point to BIGINTs (round((x/|x| + 1) * scale) — the
    clustering.kmeans_fit recipe), ``iters`` unrolled exact-integer
    Lloyd rounds (the _kmeans_sql pattern: k-smallest-id init,
    (dist, cid)-lexicographic assignment, sum-div-count update, empty
    cells keep the prior centroid), then the probe: rank cells per
    query by dot(q_raw, centroid)/|q| desc (ties to the smaller cell),
    take ``nprobe``, exact 6dp cosine inside the probed cells only,
    row_number <= ``k``. Only the Lloyd core is integer; the probe
    floats are the same left-to-right folds _ANN_SQL already proved
    engine-portable."""
    dist = (
        "list_sum(list_transform(range(1, len(v.v) + 1),"
        " i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i])))"
    )
    rounds = "".join(
        f""", a{i} AS MATERIALIZED (
  SELECT id, v, cid FROM (
    SELECT v.id, v.v AS v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY {dist}, c.cid) AS rn
    FROM v, c{i - 1} c) WHERE rn = 1
), s{i} AS MATERIALIZED (
  SELECT cid, i, SUM(v[i]) AS s, COUNT(*) AS n
  FROM a{i}, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2
), c{i} AS MATERIALIZED (
  SELECT p.cid, COALESCE(u.c, p.c) AS c
  FROM c{i - 1} p LEFT JOIN (
    SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY i) AS c
    FROM s{i} GROUP BY 1
  ) u ON p.cid = u.cid)"""
        for i in range(1, iters + 1)
    )
    return f"""
WITH raw AS MATERIALIZED (
  SELECT vec_id AS id, embedding,
         {_COS_NORM.format(a="embedding")} AS nrm
  FROM embeddings
), v AS MATERIALIZED (
  SELECT id,
         list_transform(range(1, len(embedding) + 1),
           i -> CAST(ROUND((CAST(embedding[i] AS DOUBLE) / nrm + 1.0)
                           * {scale}.0) AS BIGINT)) AS v
  FROM raw
), c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS c
  FROM (SELECT id, v FROM v ORDER BY id LIMIT {nlist})
){rounds}, cells AS MATERIALIZED (
  SELECT id, cid AS cell FROM (
    SELECT v.id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn
    FROM v, c{iters} c) WHERE rn = 1
), cent AS MATERIALIZED (
  SELECT cid AS cell, list_transform(c, y -> y / {scale}.0 - 1.0) AS centroid
  FROM c{iters}
), probes AS (
  SELECT query_id, cell FROM (
    SELECT q.id AS query_id, ct.cell,
           ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
             list_reduce(list_transform(range(1, len(q.embedding) + 1),
               i -> CAST(q.embedding[i] AS DOUBLE) * ct.centroid[i]),
               (x, y) -> x + y) / q.nrm DESC, ct.cell) AS pr
    FROM raw q, cent ct WHERE q.id < 5
  ) WHERE pr <= {nprobe}
), scored AS (
  SELECT p.query_id, ce.id AS neighbor_id,
         ROUND(
           {_COS_DOT.format(a="qe.embedding", b="ne.embedding")}
           / (qe.nrm * ne.nrm), 6) AS cosine_sim
  FROM probes p
  JOIN cells ce ON ce.cell = p.cell AND ce.id <> p.query_id
  JOIN raw qe ON qe.id = p.query_id
  JOIN raw ne ON ne.id = ce.id
)
SELECT query_id, neighbor_id, cosine_sim, sim_rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT)
    AS sim_rank
  FROM scored
) WHERE sim_rank <= {k}
"""


def _pq_chain(
    m: int, ksub: int, iters: int, scale: int, prefix: str = "p"
) -> str:
    """CTE fragment for the deterministic PQ fit (similarity._det_pq_fit):
    one exact-integer Lloyd chain keyed by subspace j — the _kmeans_sql
    pattern with (j, cid) keys instead of cid. Emits {prefix}sv
    (fix-point normalized subvectors), {prefix}c{{i}} rounds,
    {prefix}codes (final per-(id, j) assignment) and {prefix}cb (float
    codebooks, c/scale - 1). Expects a CTE ``raw(id, embedding, nrm)``
    in scope. Subvector length is derived as len(embedding) // m."""
    p = prefix
    dsub = f"(len(embedding) // {m})"
    dist = (
        f"list_sum(list_transform(range(1, len(sv.v) + 1),"
        f" i -> (sv.v[i] - c.c[i]) * (sv.v[i] - c.c[i])))"
    )
    rounds = "".join(
        f""", {p}a{i} AS MATERIALIZED (
  SELECT id, j, v, cid FROM (
    SELECT sv.id, sv.j, sv.v AS v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY sv.id, sv.j
                              ORDER BY {dist}, c.cid) AS rn
    FROM {p}sv sv JOIN {p}c{i - 1} c ON c.j = sv.j) WHERE rn = 1
), {p}s{i} AS MATERIALIZED (
  SELECT j, cid, i, SUM(v[i]) AS s, COUNT(*) AS n
  FROM {p}a{i}, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2, 3
), {p}c{i} AS MATERIALIZED (
  SELECT pr.j, pr.cid, COALESCE(u.c, pr.c) AS c
  FROM {p}c{i - 1} pr LEFT JOIN (
    SELECT j, cid, list(CAST(s // n AS BIGINT) ORDER BY i) AS c
    FROM {p}s{i} GROUP BY 1, 2
  ) u ON pr.j = u.j AND pr.cid = u.cid)"""
        for i in range(1, iters + 1)
    )
    return f"""{p}sv AS MATERIALIZED (
  SELECT id, j,
         list_transform(range(1, {dsub} + 1),
           i -> CAST(ROUND((CAST(embedding[j * {dsub} + i] AS DOUBLE) / nrm
                            + 1.0) * {scale}.0) AS BIGINT)) AS v
  FROM raw, range(0, {m}) rj(j)
), {p}c0 AS MATERIALIZED (
  SELECT j, CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY id) - 1 AS INT)
           AS cid, v AS c
  FROM {p}sv WHERE id IN (SELECT id FROM raw ORDER BY id LIMIT {ksub})
){rounds}, {p}codes AS MATERIALIZED (
  SELECT id, j, cid FROM (
    SELECT sv.id, sv.j, c.cid,
           ROW_NUMBER() OVER (PARTITION BY sv.id, sv.j
                              ORDER BY {dist}, c.cid) AS rn
    FROM {p}sv sv JOIN {p}c{iters} c ON c.j = sv.j) WHERE rn = 1
), {p}cb AS MATERIALIZED (
  SELECT j, cid, list_transform(c, y -> y / {scale}.0 - 1.0) AS cent
  FROM {p}c{iters}
), {p}lut AS MATERIALIZED (
  SELECT q.id AS query_id, cb.j, cb.cid,
         list_reduce(list_transform(range(1, len(q.embedding) // {m} + 1),
           i -> (CAST(q.embedding[cb.j * (len(q.embedding) // {m}) + i]
                      AS DOUBLE) / q.nrm) * cb.cent[i]),
           (x, y) -> x + y) AS pd
  FROM raw q, {p}cb cb WHERE q.id < 5
)"""


def _pq_sql(
    m: int = 16,
    ksub: int = 32,
    iters: int = 4,
    scale: int = 1 << 20,
    k: int = 5,
    rerank: int = 100,
) -> str:
    """Twin of the deterministic PQ probe (query key ann_cosine_pq:
    build_pq_index + cosine_topk_pq): per-subspace
    exact-integer Lloyd codebooks AND codes (the fit's own assignment —
    no float re-encode), per-query LUT of subvector x centroid partial
    dots, j-ordered LUT-sum scoring rounded to 6dp, top-``rerank``
    shortlist, exact cosine re-rank to top-``k``. Float folds are the
    same left-to-right shapes _ANN_SQL proved portable; the j-ordered
    list_reduce in the scorer mirrors Spark's aggregate-over-zip_with
    fold (a bare SUM() would be order-unstable)."""
    return f"""
WITH raw AS MATERIALIZED (
  SELECT vec_id AS id, embedding,
         {_COS_NORM.format(a="embedding")} AS nrm
  FROM embeddings
), {_pq_chain(m, ksub, iters, scale)}, pq_scored AS MATERIALIZED (
  SELECT l.query_id, c.id AS neighbor_id,
         ROUND(list_reduce(list(l.pd ORDER BY l.j), (x, y) -> x + y), 6)
           AS pq_sim
  FROM pcodes c JOIN plut l ON l.j = c.j AND l.cid = c.cid
  WHERE c.id <> l.query_id
  GROUP BY 1, 2
), shortlist AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY pq_sim DESC, neighbor_id) AS rn
    FROM pq_scored) WHERE rn <= {rerank}
), rescored AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND(
           {_COS_DOT.format(a="qe.embedding", b="ne.embedding")}
           / (qe.nrm * ne.nrm), 6) AS cosine_sim
  FROM shortlist s
  JOIN raw qe ON qe.id = s.query_id
  JOIN raw ne ON ne.id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine_sim, sim_rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT)
    AS sim_rank
  FROM rescored) WHERE sim_rank <= {k}
"""


def _ivfpq_sql(
    nlist: int = 8,
    nprobe: int = 3,
    m: int = 16,
    ksub: int = 32,
    iters: int = 4,
    scale: int = 1 << 20,
    k: int = 5,
    rerank: int = 100,
) -> str:
    """Twin of the deterministic IVFPQ probe (query key ann_cosine_ivfpq,
    plain layout): the _ivf_sql cell chain (full-vector integer Lloyd ->
    per-query top-``nprobe`` cells by centroid dot) composed with the
    _pq_chain codes/LUT — scoring runs ONLY inside probed cells, then
    the exact re-rank. Cell and PQ chains share the fix-point recipe
    but run on full vectors vs subvectors, so their CTEs are disjoint
    (v/c{{i}} vs pv/pc{{i}} namespaces)."""
    dist = (
        "list_sum(list_transform(range(1, len(v.v) + 1),"
        " i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i])))"
    )
    cell_rounds = "".join(
        f""", a{i} AS MATERIALIZED (
  SELECT id, v, cid FROM (
    SELECT v.id, v.v AS v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY {dist}, c.cid) AS rn
    FROM v, c{i - 1} c) WHERE rn = 1
), s{i} AS MATERIALIZED (
  SELECT cid, i, SUM(v[i]) AS s, COUNT(*) AS n
  FROM a{i}, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2
), c{i} AS MATERIALIZED (
  SELECT p.cid, COALESCE(u.c, p.c) AS c
  FROM c{i - 1} p LEFT JOIN (
    SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY i) AS c
    FROM s{i} GROUP BY 1
  ) u ON p.cid = u.cid)"""
        for i in range(1, iters + 1)
    )
    return f"""
WITH raw AS MATERIALIZED (
  SELECT vec_id AS id, embedding,
         {_COS_NORM.format(a="embedding")} AS nrm
  FROM embeddings
), v AS MATERIALIZED (
  SELECT id,
         list_transform(range(1, len(embedding) + 1),
           i -> CAST(ROUND((CAST(embedding[i] AS DOUBLE) / nrm + 1.0)
                           * {scale}.0) AS BIGINT)) AS v
  FROM raw
), c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS c
  FROM (SELECT id, v FROM v ORDER BY id LIMIT {nlist})
){cell_rounds}, cells AS MATERIALIZED (
  SELECT id, cid AS cell FROM (
    SELECT v.id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.id ORDER BY {dist}, c.cid) AS rn
    FROM v, c{iters} c) WHERE rn = 1
), cent AS MATERIALIZED (
  SELECT cid AS cell, list_transform(c, y -> y / {scale}.0 - 1.0) AS centroid
  FROM c{iters}
), probes AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT q.id AS query_id, ct.cell,
           ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
             list_reduce(list_transform(range(1, len(q.embedding) + 1),
               i -> CAST(q.embedding[i] AS DOUBLE) * ct.centroid[i]),
               (x, y) -> x + y) / q.nrm DESC, ct.cell) AS pr
    FROM raw q, cent ct WHERE q.id < 5
  ) WHERE pr <= {nprobe}
), {_pq_chain(m, ksub, iters, scale)}, pq_scored AS MATERIALIZED (
  SELECT l.query_id, c.id AS neighbor_id,
         ROUND(list_reduce(list(l.pd ORDER BY l.j), (x, y) -> x + y), 6)
           AS pq_sim
  FROM pcodes c
  JOIN cells ce ON ce.id = c.id
  JOIN probes p ON p.cell = ce.cell
  JOIN plut l ON l.j = c.j AND l.cid = c.cid AND l.query_id = p.query_id
  WHERE c.id <> l.query_id
  GROUP BY 1, 2
), shortlist AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY pq_sim DESC, neighbor_id) AS rn
    FROM pq_scored) WHERE rn <= {rerank}
), rescored AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND(
           {_COS_DOT.format(a="qe.embedding", b="ne.embedding")}
           / (qe.nrm * ne.nrm), 6) AS cosine_sim
  FROM shortlist s
  JOIN raw qe ON qe.id = s.query_id
  JOIN raw ne ON ne.id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine_sim, sim_rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT)
    AS sim_rank
  FROM rescored) WHERE sim_rank <= {k}
"""


# Shingle-containment twins (dedup_fuzzy.containment_degree /
# containment_prune, w=3): the blocking is replicated exactly — pair
# (A, B) qualifies iff A's min-md5 3-shingle appears in B's shingle set
# — so the oracle pins both the verify arithmetic AND the
# inverted-index candidate recall.
_CONTAINMENT_PREP = """norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
), tk AS (
  SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t
  FROM norm
), shing AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' '))) AS sh
  FROM tk
), prep AS (
  SELECT doc_id, sh,
         list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS block_tok
  FROM shing
), pairs AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS contained_in,
         len(a.sh) AS n_a, len(b.sh) AS n_b,
         ROUND(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
               * 1.0 / len(a.sh), 6) AS containment
  FROM prep a JOIN prep b
    ON a.doc_id <> b.doc_id
   AND list_contains(list_transform(b.sh, s -> md5(s)), a.block_tok)
)"""

_CONTAINMENT_SQL = f"""
WITH {_CONTAINMENT_PREP}
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_containers,
       ROUND(MAX(containment), 6) AS max_containment
FROM pairs WHERE containment >= 0.5
GROUP BY 1 ORDER BY 1
"""

# Prune twin: one-pass absorb rule (absorber = more shingles, or
# smaller id at equal size), judged against the original corpus.
_CONTAINMENT_PRUNE_SQL = f"""
WITH {_CONTAINMENT_PREP},
absorbed AS (
  SELECT DISTINCT doc_id FROM pairs
  WHERE containment >= 0.8
    AND (n_b > n_a OR (n_b = n_a AND contained_in < doc_id))
)
SELECT d.doc_id FROM documents d
LEFT JOIN absorbed x ON d.doc_id = x.doc_id
WHERE x.doc_id IS NULL ORDER BY 1
"""

_MINHASH_SQL = f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
), tk AS (
  SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t
  FROM norm
), shing AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' '))) AS sh
  FROM tk
), hs AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
  FROM (SELECT doc_id, unnest(sh) AS s FROM shing)
), params(i, a, b) AS (
  VALUES {_MINHASH_PARAMS_VALUES}
), slots AS (
  SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS m
  FROM hs CROSS JOIN params GROUP BY 1, 2
), sigs AS (
  SELECT doc_id, list(m ORDER BY i) AS sig FROM slots GROUP BY 1
), banded AS (
  SELECT doc_id, sig, b,
         md5(array_to_string(sig[b*4+1 : b*4+4], '|')) AS bh
  FROM sigs, range(0, 8) r(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
         x.sig AS sig_a, y.sig AS sig_b
  FROM banded x JOIN banded y
    ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
)
SELECT doc_id_a, doc_id_b, est_jaccard FROM (
  SELECT doc_id_a, doc_id_b,
         ROUND(len(list_filter(generate_series(1, 32),
                               i -> sig_a[i] = sig_b[i])) / 32.0, 6)
           AS est_jaccard
  FROM cand
) WHERE est_jaccard >= 0.4
ORDER BY doc_id_a, doc_id_b
"""


_SESSION_WINDOW_SQL = """
    WITH obs AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ), flagged AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - LAG(ts_us) OVER w > 43200000000
                  OR LAG(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + 43200000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_no
    ORDER BY user_id, session_start_us
"""


# Shared fuzzy-linkage pair space (blocking + length prune + early
# Levenshtein threshold), used by both the degree and cluster twins.
_FUZZY_KEPT = """p AS (
              SELECT p_partkey, p_name, p_brand,
                     list_extract(string_split(p_name, ' '), 2) AS noun,
                     length(p_name) AS ln
              FROM part
            ), kept AS (
              SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
                     levenshtein(a.p_name, b.p_name) AS distance
              FROM p a JOIN p b
                ON a.p_brand = b.p_brand AND a.noun = b.noun
               AND a.p_partkey < b.p_partkey
               AND abs(a.ln - b.ln) <= 2
              WHERE levenshtein(a.p_name, b.p_name) <= 2
            )"""


def oracle_sql() -> dict[str, str]:
    return {
        "avg_price_weekly": """
            SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(o_totalprice) AS avg_price
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "occupancy_monthly": """
            WITH joined AS (
              SELECT l.l_partkey,
                     CAST(o.o_orderdate AS DATE) AS checkin,
                     CAST(l.l_shipdate AS DATE) AS checkout,
                     o.o_orderdate
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderstatus = 'F'
            )
            SELECT
              CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
              CAST(COUNT(*) AS BIGINT) AS total_bookings,
              CAST(SUM(date_diff('day', checkin, checkout)) AS BIGINT) AS booked_nights,
              CAST(COUNT(DISTINCT l_partkey) * day(last_day(any_value(checkin))) AS BIGINT)
                AS available_nights,
              ROUND(100.0 * SUM(date_diff('day', checkin, checkout))
                    / (COUNT(DISTINCT l_partkey) * day(last_day(any_value(checkin)))), 2)
                AS occupancy_rate
            FROM joined GROUP BY 1 ORDER BY 1
        """,
        "popular_locations_weekly": """
            SELECT CAST(date_trunc('week', o.o_orderdate) AS DATE) AS week_start,
                   n.n_name AS location,
                   CAST(COUNT(*) AS BIGINT) AS total_bookings
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY 1, 2 ORDER BY 1, 3 DESC, 2
        """,
        "top_listings_weekly": """
            SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                   l_partkey AS listing_id,
                   CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                       AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 3 DESC, 2
        """,
        "top_listings_topk": _TOPK_SQL,
        "bookings_per_user": """
            SELECT o_custkey AS user_id,
                   CAST(COUNT(*) AS BIGINT) AS total_bookings,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
                     AS total_spend
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1
        """,
        "avg_duration_monthly": """
            SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
                   ROUND(AVG(date_diff('day', CAST(o.o_orderdate AS DATE),
                                       CAST(l.l_shipdate AS DATE))), 2)
                     AS avg_duration_days
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1
        """,
        "repeat_rate_monthly": _REPEAT_SQL,
        "curated_partition_scan": """
            SELECT o.o_orderstatus AS order_status,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS revenue,
                   CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
            FROM orders o
            WHERE strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') = '1995-03'
            GROUP BY 1 ORDER BY 1
        """,
        "curated_join": """
            SELECT o.o_orderkey AS order_id,
                   o.o_custkey AS customer_id,
                   c.c_name AS customer_name,
                   c.c_mktsegment AS segment,
                   n.n_name AS nation,
                   r.r_name AS region,
                   o.o_orderstatus AS order_status,
                   CAST(o.o_orderdate AS DATE) AS order_date,
                   o.o_totalprice AS total_price,
                   o.o_orderpriority AS order_priority
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        """,
        "dedup_exact": "SELECT DISTINCT * FROM lineitem",
        "dedup_keys": _DEDUP_KEYS_SQL,
        "events_json": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(AVG(value), 2) AS avg_value,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                     AS total_k,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "doc_stats": _DOC_STATS_SQL,
        "language_id": _LANGUAGE_ID_SQL,
        "doc_fingerprint": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
            FROM documents GROUP BY 1 ORDER BY 3
        """,
        "near_dup_jaccard": _JACCARD_DEGREE_SQL,
        "near_dup_clusters": _CC_SQL,
        "training_batches": _TRAINING_BATCHES_SQL,
        "training_mix": _TRAINING_MIX_SQL,
        # the declarative twin interprets to the same plan, so it shares
        # the imperative form's oracle verbatim
        "recipe_training_mix": _TRAINING_MIX_SQL,
        # Stateful-streaming twin: the update-stream max of a monotone
        # per-user counter equals the batch GROUP BY count.
        "streaming_user_totals": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "scd2_user_state": """
            WITH obs AS (
              SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us, event_id
              FROM events
            ), marked AS (
              SELECT user_id, state, ts_us, event_id,
                     LAG(state) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id) AS prev,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
              FROM obs
            ), changes AS (
              -- null-safe change test, first row by position (matches
              -- scd2_history's eqNullSafe semantics for NULL states)
              SELECT user_id, state, ts_us, event_id FROM marked
              WHERE rn = 1 OR state IS DISTINCT FROM prev
            )
            SELECT user_id, state,
                   ts_us AS valid_from,
                   LEAD(ts_us) OVER w AS valid_to,
                   CAST(ROW_NUMBER() OVER w AS INT) AS version,
                   (LEAD(ts_us) OVER w IS NULL) AS is_current
            FROM changes
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ORDER BY user_id, valid_from
        """,
        "event_type_skew": """
            WITH counts AS (
              SELECT event_type, COUNT(*) AS n_rows FROM events GROUP BY 1
            ), total AS (SELECT SUM(n_rows) AS t FROM counts),
            top AS (
              SELECT * FROM counts ORDER BY n_rows DESC, event_type LIMIT 10
            )
            SELECT event_type,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   ROUND(n_rows / (SELECT t FROM total), 6) AS share,
                   CAST(ROW_NUMBER() OVER w AS INT) AS rank,
                   ROUND(SUM(n_rows) OVER w / (SELECT t FROM total), 6)
                     AS cum_share
            FROM top
            WINDOW w AS (ORDER BY n_rows DESC, event_type)
            ORDER BY rank
        """,
        "quantile_gate": """
            SELECT o_orderstatus,
                   quantile_cont(o_totalprice, 0.5) AS p50_exact,
                   quantile_cont(o_totalprice, 0.9) AS p90_exact,
                   TRUE AS quantile_ok
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        # LAG-flag sessionization expressing the SAME semantics as Spark's
        # native session_window: end = last event + gap.
        "session_window_rollup": _SESSION_WINDOW_SQL,
        # The streaming session-window row replays the same events
        # through the stateful streaming aggregate in complete mode —
        # identical final sessions, identical oracle.
        "streaming_sessions": _SESSION_WINDOW_SQL,
        "events_variant": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS total_k,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2)
                     AS avg_k,
                   ROUND(AVG(value), 2) AS avg_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        # Post-upsert state computed straight from the base table: 1995-03
        # amounts bumped 10% in exact decimal (cent-scale values x 1.10
        # have at most 3 fractional digits, so the DECIMAL(18,4) cast is
        # exact on both engines — no rounding-mode divergence possible).
        "parquet_upsert_roundtrip": """
            WITH upserted AS (
              SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
                     CASE WHEN strftime(CAST(o_orderdate AS DATE), '%Y-%m')
                               = '1995-03'
                          THEN CAST(CAST(o_totalprice AS DECIMAL(18,4))
                                    * CAST(1.10 AS DECIMAL(3,2))
                                    AS DECIMAL(18,4))
                          ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS amount
              FROM orders
            )
            SELECT order_month,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS revenue
            FROM upserted GROUP BY 1 ORDER BY 1
        """,
        "rolling_revenue_7d": """
            WITH daily AS (
              SELECT o_orderstatus,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS day_idx,
                     CAST(o_orderdate AS DATE) AS day_date,
                     SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS day_amt,
                     COUNT(*) AS day_rows
              FROM orders GROUP BY 1, 2, 3
            )
            SELECT o_orderstatus,
                   day_date,
                   CAST(ROUND(day_amt, 2) AS DOUBLE) AS day_amount,
                   CAST(day_rows AS BIGINT) AS day_rows,
                   CAST(ROUND(SUM(day_amt) OVER w, 2) AS DOUBLE)
                     AS rolling_amount,
                   CAST(SUM(day_rows) OVER w AS BIGINT) AS rolling_rows
            FROM daily
            WINDOW w AS (PARTITION BY o_orderstatus ORDER BY day_idx
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY o_orderstatus, day_date
        """,
        # 32-token windows, stride 24 (= max - overlap); DuckDB list
        # slices are 1-based inclusive, so t[s : s+31] is the 32-token
        # window starting at s. // is integer division.
        "doc_chunks": f"""
            WITH d AS (
              SELECT doc_id,
                     {_TOKENS.format(src="lower(text)")} AS t
              FROM documents
            )
            SELECT doc_id,
                   CAST((s - 1) // 24 + 1 AS INT) AS chunk_id,
                   CAST(len(t[s : s + 31]) AS INT) AS n_tokens,
                   array_to_string(t[s : s + 31], ' ') AS chunk_text
            FROM d CROSS JOIN UNNEST(generate_series(1, len(t), 24)) AS u(s)
            WHERE len(t) > 0
            ORDER BY doc_id, chunk_id
        """,
        "ann_cosine_topk": _ANN_SQL,
        "ann_cosine_lsh": _ANN_LSH_SQL,
        "ann_cosine_ivf": _ivf_sql(nlist=8, iters=4, nprobe=3, k=5),
        "ann_cosine_pq": _pq_sql(m=16, ksub=32, iters=4, k=5, rerank=100),
        "ann_cosine_ivfpq": _ivfpq_sql(
            nlist=8, nprobe=3, m=16, ksub=32, iters=4, k=5, rerank=100
        ),
        "sessionization": _SESSION_SQL,
        "user_engagement": """
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP)) // 1000000
                        - epoch_us(CAST(MIN(ts) AS TIMESTAMP)) // 1000000 AS BIGINT)
                     AS span_sec,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "token_frequencies": f"""
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM (SELECT unnest({_LTOKENS}) AS token FROM documents)
            GROUP BY 1 HAVING COUNT(*) >= 5
            ORDER BY 2 DESC, 1
        """,
        "word_bigrams": f"""
            WITH toks AS (SELECT {_LTOKENS} AS t FROM documents)
            SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM (
              SELECT unnest(
                CASE WHEN len(t) >= 2
                     THEN list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i + 1])
                     ELSE [] END) AS ngram
              FROM toks)
            GROUP BY 1 HAVING COUNT(*) >= 5
            ORDER BY 2 DESC, 1
        """,
        "label_centroids": """
            WITH ex0 AS (
              SELECT label,
                     unnest(list_transform(generate_series(1, len(embedding)),
                            i -> {'pos': i, 'val': embedding[i]})) AS s
              FROM embeddings
            ), ex AS (
              SELECT label, s.pos AS pos, s.val AS val FROM ex0
            ), per_dim AS (
              SELECT label, pos,
                     ROUND(SUM(CAST(val AS DOUBLE)) / COUNT(*), 6) AS v,
                     COUNT(*) AS n
              FROM ex GROUP BY 1, 2
            )
            SELECT label,
                   array_to_string(
                     list_transform(list(v ORDER BY pos), x -> printf('%.6f', x)),
                     ',') AS centroid,
                   CAST(MAX(n) AS BIGINT) AS n_vectors
            FROM per_dim GROUP BY label ORDER BY label
        """,
        "revenue_rollup": """
            SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
                   l_returnflag AS return_flag,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                       AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
            FROM lineitem
            GROUP BY ROLLUP (1, 2)
            ORDER BY 1 NULLS FIRST, 2 NULLS FIRST
        """,
        "events_json_struct": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_high,
                   CAST(SUM(k) AS BIGINT) AS sum_k
            FROM (SELECT event_type,
                         CAST(json_extract_string(props, '$.k') AS INT) AS k
                  FROM events)
            WHERE k >= 90
            GROUP BY 1 ORDER BY 1
        """,
        "asof_purchase_view": """
            WITH p AS (
              SELECT event_id AS purchase_id, user_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS purchase_sec
              FROM events WHERE event_type = 'purchase'
            ), v AS (
              SELECT event_id AS view_id, user_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS view_sec
              FROM events WHERE event_type = 'view'
            ), j AS (
              SELECT p.purchase_id, p.user_id, p.purchase_sec,
                     v.view_id, v.view_sec,
                     ROW_NUMBER() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY v.view_sec DESC, v.view_id DESC) AS rn
              FROM p LEFT JOIN v
                ON p.user_id = v.user_id AND v.view_sec <= p.purchase_sec
            )
            SELECT purchase_id, user_id,
                   CAST(purchase_sec AS BIGINT) AS purchase_sec,
                   view_id,
                   CAST(view_sec AS BIGINT) AS view_sec
            FROM j WHERE rn = 1 ORDER BY purchase_id
        """,
        "salted_status_agg": """
            SELECT o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_o_totalprice
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "embedding_near_dups": f"""
            WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
            SELECT * FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
                     ROUND(
                       {_COS_DOT.format(a="a.embedding", b="b.embedding")}
                       / ({_COS_NORM.format(a="a.embedding")}
                          * {_COS_NORM.format(a="b.embedding")}),
                       6) AS cosine_sim
              FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            ) WHERE cosine_sim >= 0.2 ORDER BY id_a, id_b
        """,
        # Batch twin of the complete-mode streaming window aggregate:
        # 6-hour tumbling windows are epoch-aligned, so window_start_sec
        # is an epoch floor-division on both engines.
        "streaming_event_counts": """
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                        // 21600 * 21600 AS BIGINT) AS window_start_sec,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "corpus_prep": _CORPUS_PREP_SQL,
        "corpus_prep_auto": _CORPUS_PREP_AUTO_SQL,
        "multimodal_features": _MULTIMODAL_SQL,
        "running_totals": """
            SELECT o_custkey, o_orderdate, o_orderkey,
                   CAST(ROW_NUMBER() OVER w AS INT) AS seq,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_amount
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "status_percentiles": """
            SELECT o_orderstatus,
                   quantile_cont(o_totalprice, 0.25) AS p25,
                   quantile_cont(o_totalprice, 0.50) AS p50,
                   quantile_cont(o_totalprice, 0.75) AS p75
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "zscore_events": """
            SELECT event_id, event_type, value,
                   ROUND((value - AVG(value) OVER w)
                         / NULLIF(STDDEV_SAMP(value) OVER w, 0), 4) AS zscore
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        """,
        "events_pivot": """
            SELECT user_id,
                   CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
                   CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
                   CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
                   CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
                   CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "docs_per_source_quota": """
            SELECT doc_id, source, lang FROM (
              SELECT doc_id, source, lang,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn <= 3 ORDER BY source, doc_id
        """,
        "winnowing": """
            WITH norm AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(1, greatest(length(t) - 7, 1)),
                       i -> md5(substr(t, i, 8))) AS g
              FROM norm
            ), sel AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(g) - 3, 1)),
                       j -> list_min(g[j:j+3]))) AS fps
              FROM grams
            )
            SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints
            FROM sel ORDER BY doc_id
        """,
        "customers_semi_anti": """
            WITH confirmed AS (
              SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
            )
            SELECT c_mktsegment,
                   CAST(COUNT(*) FILTER (
                     c_custkey IN (SELECT o_custkey FROM confirmed)) AS BIGINT)
                     AS n_with_confirmed,
                   CAST(COUNT(*) FILTER (
                     c_custkey NOT IN (SELECT o_custkey FROM confirmed)) AS BIGINT)
                     AS n_without_confirmed
            FROM customer GROUP BY 1 ORDER BY 1
        """,
        "orders_profile": """
            SELECT 'o_custkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders
            UNION ALL
            SELECT 'o_orderkey', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
            UNION ALL
            SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
            UNION ALL
            SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
            UNION ALL
            SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
                   CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders
            ORDER BY 1
        """,
        "brand_setops": """
            WITH large AS (SELECT DISTINCT p_brand FROM part WHERE p_size >= 30),
                 premium AS (SELECT DISTINCT p_brand FROM part
                             WHERE p_retailprice >= 1400.0)
            SELECT 'both' AS membership, p_brand FROM
              (SELECT p_brand FROM large INTERSECT SELECT p_brand FROM premium)
            UNION ALL
            SELECT 'large_only', p_brand FROM
              (SELECT p_brand FROM large EXCEPT SELECT p_brand FROM premium)
            UNION ALL
            SELECT 'premium_only', p_brand FROM
              (SELECT p_brand FROM premium EXCEPT SELECT p_brand FROM large)
            ORDER BY 1, 2
        """,
        "revenue_cube": """
            SELECT yr, status,
                   CAST(GROUPING(yr, status) AS BIGINT) AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS revenue
            FROM (SELECT CAST(year(o_orderdate) AS INT) AS yr,
                         o_orderstatus AS status, o_totalprice
                  FROM orders)
            GROUP BY CUBE (yr, status)
            ORDER BY 3, 1 NULLS FIRST, 2 NULLS FIRST
        """,
        "orders_shipped_7d": """
            WITH daily AS (
              SELECT CAST(l_shipdate AS DATE) AS ship_day, COUNT(*) AS n_ship
              FROM lineitem GROUP BY 1
            )
            SELECT o_orderkey,
                   CAST(COALESCE(SUM(n_ship), 0) AS BIGINT) AS n_shipped
            FROM orders LEFT JOIN daily
              ON ship_day BETWEEN CAST(o_orderdate AS DATE)
                              AND CAST(o_orderdate AS DATE) + 7
            GROUP BY 1 ORDER BY 1
        """,
        "nation_top_customer": """
            SELECT c_nationkey, c_custkey AS top_custkey, c_acctbal AS top_acctbal
            FROM (SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY c_nationkey
                    ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
                  FROM customer)
            WHERE rn = 1 ORDER BY 1
        """,
        "acctbal_ntile": """
            SELECT c_mktsegment,
                   CAST(quartile AS INT) AS quartile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(*) AS avg_bal
            FROM (SELECT c_mktsegment, c_acctbal,
                         ntile(4) OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal, c_custkey) AS quartile
                  FROM customer)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "nation_custkey_list": """
            SELECT c_nationkey,
                   array_to_string((list_sort(list(c_custkey)))[1:5], ',')
                     AS first_custkeys,
                   CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM customer GROUP BY 1 ORDER BY 1
        """,
        "orders_by_weekday": """
            SELECT CAST(dayofweek(o_orderdate) + 1 AS INT) AS weekday,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(*) AS avg_price
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS sum_qty,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS sum_base_price,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                        AS DOUBLE) AS sum_disc_price,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
                                  * (1.00 + CAST(l_tax AS DECIMAL(4,2)))), 2)
                        AS DOUBLE) AS sum_charge,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(*) AS avg_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(*) AS avg_price,
                   CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(*) AS avg_disc,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) <= DATE '2001-05-01'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tfidf_top_terms": """
            WITH term_rows AS (
              SELECT doc_id, unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       t -> t <> '')) AS token
              FROM documents
            ), tf AS (
              SELECT doc_id, token, COUNT(*) AS tf
              FROM term_rows GROUP BY 1, 2
            ), df AS (
              SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
            ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
            weights AS (
              SELECT tf.doc_id, tf.token, tf.tf, df.df,
                     tf.tf * (CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1))
                       AS tfidf
              FROM tf JOIN df USING (token) CROSS JOIN n
            )
            SELECT doc_id, CAST(rank AS INT) AS rank, token,
                   ROUND(tfidf, 6) AS tfidf
            FROM (SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
                  FROM weights)
            WHERE rank <= 3 ORDER BY doc_id, rank
        """,
        "corpus_splits": """
            SELECT source,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                          THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                          THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "doc_tokens_regex": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\\w+')) AS INT)
                     AS n_word_tokens,
                   CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS INT)
                     AS n_symbol_tokens,
                   CAST(len(regexp_extract_all(text, '\\w+'))
                        + len(regexp_extract_all(text, '[^\\w\\s]')) AS INT)
                     AS approx_tokens
            FROM documents
        """,
        "minhash_near_dups": _MINHASH_SQL,
        "containment_near_dups": _CONTAINMENT_SQL,
        "containment_prune": _CONTAINMENT_PRUNE_SQL,
        "transaction_pagerank": _pagerank_sql(5),
        # Spatial radius twin: brute-force O(n²) — the grid blocking has
        # recall exactly 1.0, so brute force is the strictest twin
        # (any pair the blocking loses breaks the degree hash).
        "customer_radius_join": """
            WITH p AS (
              SELECT c_custkey,
                     CAST((c_custkey * 7919) % 5000000 AS BIGINT) AS lat,
                     CAST((c_custkey * 104729) % 5000000 AS BIGINT) AS lon
              FROM customer
            ), pairs AS (
              SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                     (a.lat - b.lat) * (a.lat - b.lat)
                     + (a.lon - b.lon) * (a.lon - b.lon) AS dist2
              FROM p a JOIN p b ON a.c_custkey < b.c_custkey
              WHERE (a.lat - b.lat) * (a.lat - b.lat)
                    + (a.lon - b.lon) * (a.lon - b.lon)
                    <= CAST(250000 AS BIGINT) * 250000
            ), sides AS (
              SELECT unnest([id_a, id_b]) AS c_custkey, dist2 FROM pairs
            )
            SELECT c_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_neighbors,
                   CAST(MIN(dist2) AS BIGINT) AS min_dist2
            FROM sides GROUP BY 1 ORDER BY 1
        """,
        # Z-order key twin: the same 16-bit Morton interleave in plain
        # >>/&/<< integer arithmetic.
        "events_zorder": """
            SELECT event_id,
                   CAST((
                     """ + " + ".join(
                         f"(((user_id >> {i}) & 1) << {2 * i}) + "
                         f"(((CAST(round(value * 100) AS BIGINT) >> {i}) & 1)"
                         f" << {2 * i + 1})"
                         for i in range(16)
                     ) + """
                   ) AS BIGINT) AS zvalue
            FROM events ORDER BY event_id
        """,
        # Bloom-prune gate twin: DuckDB recomputes the exact fact and
        # semi-join counts and asserts the invariants hold (TRUE
        # booleans) — xxhash64 is not portable, so the bloom SIDE is
        # pinned by the no-false-negative/FPR contract, not bit-by-bit.
        "bloom_join_gate": """
            SELECT
              (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_fact,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                WHERE l_orderkey IN (
                  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'))
                AS n_exact,
              TRUE AS no_false_negatives,
              TRUE AS fpr_ok
        """,
        # EWMA twin (windows.ewma, 8-row frame, scale 256): weights are
        # powers of two and values fixed-pointed, so num/den are exact
        # integers; ewma_ppm = floor of one double divide, identically
        # parenthesized on both engines.
        "events_ewma": """
            WITH l AS (
              SELECT user_id, event_id,
                     list(CAST(round(value * 256) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY epoch(ts), event_id
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
              FROM events
            ), s AS (
              SELECT user_id, event_id,
                     CAST(len(arr) AS INT) AS n_in_window,
                     CAST(list_sum(
                       [arr[i] * (1::BIGINT << (i - 1))
                        FOR i IN generate_series(1, len(arr))]
                     ) AS BIGINT) AS ewma_num,
                     (1::BIGINT << len(arr)) - 1 AS ewma_den
              FROM l
            )
            SELECT user_id, event_id, n_in_window, ewma_num, ewma_den,
                   CAST(floor((1000000.0 * ewma_num) / ewma_den) AS BIGINT)
                     AS ewma_ppm
            FROM s ORDER BY user_id, event_id
        """,
        # Stream-stream interval-join twin: a bounded replay of the
        # watermarked click-attribution join equals the batch
        # range-predicate join (nothing is late within one batch).
        "streaming_attribution": """
            SELECT c.user_id,
                   epoch_us(c.ts) AS click_us,
                   epoch_us(p.ts) AS purchase_us
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            ORDER BY 1, 2, 3
        """,
        # Streaming-dedup twin: the surviving key set of streaming
        # dropDuplicates over a bounded replay equals batch DISTINCT
        # (only key columns reach the sink, so payload nondeterminism
        # is projected away before hashing).
        "streaming_dedup": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_unique_users
            FROM events GROUP BY 1 ORDER BY 1
        """,
        # PMI collocation twin (text.pmi_collocations, min_count=5,
        # top_k=50): the lift ratio is computed in IEEE doubles under the
        # identical parenthesization as the Spark side — (c_xy * N) /
        # (c_x * c_y), every operand an exactly-representable integer —
        # then floor'd, so the fixed-point value is bit-deterministic
        # across engines (floor has no half-way case to disagree on).
        "pmi_collocations": """
            WITH tk AS (
              SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), uni AS (
              SELECT w, CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1
            ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
            pairs AS (
              SELECT t[i] AS w1, t[i+1] AS w2,
                     CAST(COUNT(*) AS BIGINT) AS c_xy
              FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
              GROUP BY 1, 2 HAVING COUNT(*) >= 5
            ), lift AS (
              SELECT w1, w2, c_xy AS pair_count,
                     CAST(floor(1000000.0 *
                       ((CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE))
                        / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))))
                       AS BIGINT) AS lift_ppm
              FROM pairs JOIN uni a ON pairs.w1 = a.w
                         JOIN uni b ON pairs.w2 = b.w
              CROSS JOIN tot
            )
            SELECT w1, w2, pair_count, lift_ppm,
                   CAST(ROW_NUMBER() OVER
                     (ORDER BY lift_ppm DESC, w1, w2) AS INT) AS rank
            FROM lift ORDER BY rank LIMIT 50
        """,
        # Recall invariants: DuckDB recomputes the EXACT neighbor sets and
        # asserts the pinned floor holds (recall_ok TRUE per query); the
        # Spark side computes actual ANN recall, so any quality regression
        # below the floor breaks the value hash.
        "ann_lsh_recall": f"""
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM ({_ANN_SQL}) GROUP BY 1 ORDER BY 1
        """,
        "ann_ivf_recall": f"""
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM ({_ANN_SQL}) GROUP BY 1 ORDER BY 1
        """,
        "ann_quantized_recall": f"""
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM ({_ANN_SQL}) GROUP BY 1 ORDER BY 1
        """,
        "ann_pq_recall": f"""
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM ({_ANN_SQL}) GROUP BY 1 ORDER BY 1
        """,
        "ann_ivfpq_recall": f"""
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM ({_ANN_SQL}) GROUP BY 1 ORDER BY 1
        """,
        # Unicode-canonicalization twin: same regexp chain (RE2 classes
        # rendered from the SAME codepoint lists as Spark's java classes)
        # + utf8proc nfc_normalize vs Python unicodedata NFC.
        "doc_normalize": f"""
            WITH n AS (
              SELECT doc_id, text,
                     nfc_normalize(trim(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(text,
                         '{text.re2_class(text.ZW_CODEPOINTS)}', '', 'g'),
                         '{text.re2_class(text.CTRL_CODEPOINTS)}', '', 'g'),
                       '\\r\\n?', chr(10), 'g'),
                       '[ \\t]+', ' ', 'g'))) AS norm_text,
                     CAST(len(regexp_extract_all(text,
                       '{text.re2_class(text.ZW_CODEPOINTS)}')) AS INT)
                       AS n_zero_width,
                     CAST(len(regexp_extract_all(text,
                       '{text.re2_class(text.CTRL_CODEPOINTS)}')) AS INT)
                       AS n_control
              FROM documents
            )
            SELECT doc_id, norm_text, n_zero_width, n_control,
                   (norm_text IS DISTINCT FROM text) AS changed
            FROM n ORDER BY doc_id
        """,
        # Char-LM twin: identical integer micro-prob pipeline — counts,
        # floor(1e6*c/cp), exact integer sum, ONE final float division.
        "char_lm_scores": """
            WITH d AS (
              SELECT doc_id, lower(text) AS t FROM documents
            ), g AS (
              SELECT doc_id, unnest(
                CASE WHEN length(t) >= 3
                     THEN list_transform(generate_series(1, length(t) - 2),
                                         i -> substr(t, i, 3))
                     ELSE [] END) AS gram
              FROM d
            ), gc AS (
              SELECT gram, COUNT(*) AS c_gram FROM g GROUP BY 1
            ), pc AS (
              SELECT substr(gram, 1, 2) AS prefix, SUM(c_gram) AS c_prefix
              FROM gc GROUP BY 1
            ), p AS (
              SELECT gram,
                     CAST(FLOOR(1000000 * c_gram / (c_prefix + 10)) AS BIGINT)
                       AS micro_p
              FROM gc JOIN pc ON substr(gc.gram, 1, 2) = pc.prefix
            ), s AS (
              SELECT g.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_grams,
                     CAST(SUM(micro_p) AS BIGINT) AS sum_micro_p
              FROM g JOIN p USING (gram) GROUP BY 1
            )
            SELECT d.doc_id,
                   COALESCE(s.n_grams, 0) AS n_grams,
                   COALESCE(s.sum_micro_p, 0) AS sum_micro_p,
                   CASE WHEN COALESCE(s.n_grams, 0) > 0
                        THEN ROUND(s.sum_micro_p / (s.n_grams * 1000000.0), 6)
                        ELSE 0.0 END AS avg_char_prob
            FROM d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id
        """,
        "part_unpivot": """
            SELECT p_partkey, attr, val FROM (
              SELECT p_partkey, 'size' AS attr,
                     CAST(p_size AS DOUBLE) AS val FROM part
              UNION ALL
              SELECT p_partkey, 'retailprice' AS attr,
                     CAST(p_retailprice AS DOUBLE) AS val FROM part
            ) ORDER BY p_partkey, attr
        """,
        # Recipe twin: the equivalent SQL straight over the base tables —
        # the recipe interpretation must add nothing and lose nothing.
        # orders keys are unique in testdata, so the keyed-dedup step is
        # an identity here; the oracle mirrors that.
        "recipe_metric": """
            SELECT c.c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS revenue
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1
        """,
        # Resample twin: identical tick floor, per-tick last (ts desc +
        # event_id desc), grid via generate_series, ffill via
        # last_value IGNORE NULLS, decimal checksum.
        "events_resampled": """
            WITH obs0 AS (
              SELECT user_id,
                     CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) AS tick_ts,
                     epoch(ts) AS ets, event_id, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id,
                                    CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT)
                       ORDER BY epoch(ts) DESC, event_id DESC) AS rn
              FROM events
            ), obs AS (
              SELECT user_id, tick_ts, value AS observed FROM obs0 WHERE rn = 1
            ), spans AS (
              SELECT user_id, MIN(tick_ts) AS lo, MAX(tick_ts) AS hi
              FROM obs GROUP BY 1
            ), grid AS (
              SELECT user_id, unnest(generate_series(lo, hi, 21600)) AS tick_ts
              FROM spans
            ), filled AS (
              SELECT g.user_id, g.tick_ts,
                     last_value(o.observed IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.tick_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS value,
                     o.observed IS NOT NULL AS is_observed
              FROM grid g LEFT JOIN obs o
                ON g.user_id = o.user_id AND g.tick_ts = o.tick_ts
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_ticks,
                   CAST(SUM(CASE WHEN is_observed THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_observed,
                   CAST(SUM(CASE WHEN NOT is_observed AND value IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                   CAST(SUM(CAST(ROUND(value, 3) AS DECIMAL(18,3))) AS DOUBLE)
                     AS value_sum
            FROM filled GROUP BY 1 ORDER BY 1
        """,
        # Co-purchase twin: same within-basket self-join (distinct
        # items per basket, a < b), support threshold, total order.
        "copurchase_pairs": """
            WITH d AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
            ), p AS (
              SELECT a.i AS item_a, b.i AS item_b,
                     CAST(COUNT(*) AS BIGINT) AS n_baskets
              FROM d a JOIN d b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2
            )
            SELECT * FROM p WHERE n_baskets >= 2
            ORDER BY n_baskets DESC, item_a, item_b
        """,
        # Triangle twin: enumerate the id-ordered triangle set over the
        # same support>=2 co-purchase edges (a<b, so each triangle
        # appears exactly once as x<y<z) and count per-node
        # participation. Per-node counts are orientation-independent,
        # so this pins the Spark degree-ordered plan's RESULT without
        # replicating its orientation.
        "copurchase_triangles": """
            WITH d AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
            ), p AS (
              SELECT a.i AS item_a, b.i AS item_b
              FROM d a JOIN d b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2 HAVING COUNT(*) >= 2
            ), t AS (
              SELECT e1.item_a AS x, e1.item_b AS y, e2.item_b AS z
              FROM p e1
              JOIN p e2 ON e2.item_a = e1.item_b
              JOIN p e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b
            ), n AS (
              SELECT x AS node FROM t
              UNION ALL SELECT y FROM t
              UNION ALL SELECT z FROM t
            )
            SELECT node AS item, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM n GROUP BY 1 ORDER BY 1
        """,
        # TWAP twin: unix-microsecond BIGINT timestamps, ms holding
        # times via truncating div on non-negative deltas, fixed-point
        # values; ppm under the ewma_ppm fixed-parenthesization rule.
        "user_value_twap": """
            WITH v AS (
              SELECT user_id, epoch_us(ts) AS us, event_id,
                     CAST(ROUND(value * 1024) AS BIGINT) AS v_s
              FROM events
            ), d AS (
              SELECT user_id, v_s,
                     COALESCE(LEAD(us) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                     ) - us, 0) // 1000 AS dt_ms
              FROM v
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_obs,
                   CAST(SUM(v_s * dt_ms) AS BIGINT) AS twap_num,
                   CAST(SUM(dt_ms) AS BIGINT) AS twap_den,
                   CASE WHEN SUM(dt_ms) > 0
                        THEN CAST(FLOOR((1000000.0 * SUM(v_s * dt_ms))
                                        / SUM(dt_ms)) AS BIGINT)
                        ELSE NULL END AS twap_ppm
            FROM d GROUP BY 1 ORDER BY 1
        """,
        # Linear-interpolation twin: identical tick floor / last-wins
        # observation / grid as events_resampled, then pure-integer
        # interpolation — (prev_s*(next_t-t) + next_s*(t-prev_t)) over
        # the gap, non-negative operands so // truncation == floor ==
        # Spark's div; no float anywhere.
        "events_interpolated": """
            WITH obs0 AS (
              SELECT user_id,
                     CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) AS tick_ts,
                     CAST(ROUND(value * 1024) AS BIGINT) AS v_s,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id,
                                    CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT)
                       ORDER BY epoch(ts) DESC, event_id DESC) AS rn
              FROM events
            ), obs AS (
              SELECT user_id, tick_ts, v_s FROM obs0 WHERE rn = 1
            ), spans AS (
              SELECT user_id, MIN(tick_ts) AS lo, MAX(tick_ts) AS hi
              FROM obs GROUP BY 1
            ), grid AS (
              SELECT user_id, unnest(generate_series(lo, hi, 21600)) AS tick_ts
              FROM spans
            ), f AS (
              SELECT g.user_id, g.tick_ts, o.v_s,
                     last_value(o.v_s IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.tick_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS prev_s,
                     last_value(CASE WHEN o.v_s IS NOT NULL THEN g.tick_ts END
                                IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.tick_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS prev_t,
                     first_value(o.v_s IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.tick_ts
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                     ) AS next_s,
                     first_value(CASE WHEN o.v_s IS NOT NULL THEN g.tick_ts END
                                 IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.tick_ts
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                     ) AS next_t
              FROM grid g LEFT JOIN obs o
                ON g.user_id = o.user_id AND g.tick_ts = o.tick_ts
            ), v AS (
              SELECT user_id,
                     v_s IS NOT NULL AS is_obs,
                     CASE WHEN v_s IS NOT NULL THEN v_s
                          ELSE (prev_s * (next_t - tick_ts)
                                + next_s * (tick_ts - prev_t))
                               // (next_t - prev_t) END AS out_s
              FROM f
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_ticks,
                   CAST(SUM(CASE WHEN is_obs THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_observed,
                   CAST(SUM(CASE WHEN is_obs THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_interp,
                   CAST(SUM(CASE WHEN is_obs THEN 0 ELSE out_s END) AS BIGINT)
                     AS interp_sum,
                   CAST(SUM(CASE WHEN is_obs THEN out_s ELSE 0 END) AS BIGINT)
                     AS obs_sum
            FROM v GROUP BY 1 ORDER BY 1
        """,
        # Funnel twin: recursive first-anchor rule, strict > chaining.
        "conversion_funnel": """
            WITH s1 AS (
              SELECT user_id, MIN(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY 1
            ), s2 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
            ), s3 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
            )
            SELECT * FROM (
              SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
              UNION ALL
              SELECT CAST(2 AS INT), 'click',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
              UNION ALL
              SELECT CAST(3 AS INT), 'purchase',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
            ) ORDER BY stage_idx
        """,
        # Rank-family twin: identical total order (price, orderkey), so
        # ntile tie-splitting is deterministic; percent_rank/cume_dist
        # are ratios of the same exact ints -> bit-equal doubles.
        "orders_rank_stats": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(NTILE(4) OVER w AS INT) AS bucket,
                   PERCENT_RANK() OVER w AS pct_rank,
                   CUME_DIST() OVER w AS cume_dist,
                   CAST(DENSE_RANK() OVER w AS INT) AS dense_rank
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
            ORDER BY o_orderkey
        """,
        # MAD twin: lower-median selection by position on the sorted
        # multiset (tie order can't change the selected VALUE), fixed
        # point at 1024, integer deviation compare.
        "events_mad_outliers": """
            WITH v AS (
              SELECT event_type AS key,
                     CAST(ROUND(value * 1024) AS BIGINT) AS v_s
              FROM events WHERE value IS NOT NULL
            ), r AS (
              SELECT key, v_s,
                     ROW_NUMBER() OVER (PARTITION BY key ORDER BY v_s) AS rn,
                     COUNT(*) OVER (PARTITION BY key) AS n
              FROM v
            ), med AS (
              SELECT key, v_s AS med_s FROM r WHERE rn = (n + 1) // 2
            ), d AS (
              SELECT v.key, ABS(v.v_s - m.med_s) AS dev_s, m.med_s
              FROM v JOIN med m ON v.key = m.key
            ), r2 AS (
              SELECT key, dev_s,
                     ROW_NUMBER() OVER (PARTITION BY key ORDER BY dev_s) AS rn,
                     COUNT(*) OVER (PARTITION BY key) AS n
              FROM d
            ), mad AS (
              SELECT key, dev_s AS mad_s FROM r2 WHERE rn = (n + 1) // 2
            )
            SELECT d.key AS event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MAX(d.med_s) AS med_s,
                   MAX(mad.mad_s) AS mad_s,
                   CAST(SUM(CASE WHEN d.dev_s > 3 * mad.mad_s
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM d JOIN mad ON d.key = mad.key
            GROUP BY 1 ORDER BY 1
        """,
        # Histogram twin: same two-pass binning (min/max then floor bins,
        # top edge closed into the last bin, empty bins emitted).
        "price_histogram": """
            WITH b AS (
              SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
                     MAX(CAST(o_totalprice AS DOUBLE)) AS hi
              FROM orders
            ), c AS (
              SELECT LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - b.lo)
                                      / ((b.hi - b.lo) / 12)) AS INT), 11)
                       AS bin,
                     COUNT(*) AS n_rows
              FROM orders, b
              WHERE o_totalprice IS NOT NULL
              GROUP BY 1
            )
            SELECT g.bin,
                   b.lo + g.bin * ((b.hi - b.lo) / 12) AS lo,
                   b.lo + (g.bin + 1) * ((b.hi - b.lo) / 12) AS hi,
                   CAST(COALESCE(c.n_rows, 0) AS BIGINT) AS n_rows
            FROM (SELECT unnest(generate_series(0, 11)) AS bin) g
            CROSS JOIN b
            LEFT JOIN c USING (bin)
            ORDER BY g.bin
        """,
        # Round-trip oracle reads the parquet truth directly (the Spark
        # side is what exercises the JSONL write+scan), like csv_roundtrip.
        "jsonl_roundtrip": """
            SELECT doc_id, text, lang, source, n_chars
            FROM documents ORDER BY doc_id
        """,
        # Manifest twin: identical md5 row hashes + BIT_XOR fold in SQL.
        "tables_manifest": """
            WITH o AS (
              SELECT ('0x' || substr(md5(concat_ws('|#|',
                       coalesce(CAST(o_orderkey AS VARCHAR), '[[NULL]]'),
                       coalesce(CAST(o_custkey AS VARCHAR), '[[NULL]]'),
                       coalesce(o_orderstatus, '[[NULL]]'),
                       coalesce(CAST(o_orderdate AS VARCHAR), '[[NULL]]')
                     )), 1, 15))::BIGINT AS h,
                     (o_orderkey IS NULL)::INT + (o_custkey IS NULL)::INT
                     + (o_orderstatus IS NULL)::INT
                     + (o_orderdate IS NULL)::INT AS nn
              FROM orders
            ), s AS (
              SELECT ('0x' || substr(md5(concat_ws('|#|',
                       coalesce(CAST(s_suppkey AS VARCHAR), '[[NULL]]'),
                       coalesce(s_name, '[[NULL]]'),
                       coalesce(CAST(s_nationkey AS VARCHAR), '[[NULL]]')
                     )), 1, 15))::BIGINT AS h,
                     (s_suppkey IS NULL)::INT + (s_name IS NULL)::INT
                     + (s_nationkey IS NULL)::INT AS nn
              FROM supplier
            )
            SELECT * FROM (
              SELECT 'orders' AS "table",
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT) AS content_xor,
                     CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_nulls
              FROM o
              UNION ALL
              SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT),
                     CAST(COALESCE(SUM(nn), 0) AS BIGINT)
              FROM s
            ) ORDER BY "table"
        """,
        # Bin-packing twin: bucket assignment + totals recomputed exactly
        # (same md5 projection), packing invariants asserted TRUE.
        "pack_bins": """
            WITH d AS (
              SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 8 AS bucket,
                     len(list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> x <> '')) AS n_tokens
              FROM documents
            )
            SELECT CAST(bucket AS INT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   TRUE AS bins_ok
            FROM d GROUP BY 1 ORDER BY 1
        """,
        # Expectation-suite twin: every violation count recomputed in SQL.
        "orders_expectations": """
            WITH v AS (
              SELECT 'orderkey_not_null' AS rule, 'o_orderkey' AS "column",
                     'not_null' AS kind,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                      WHERE o_orderkey IS NULL) AS n_violations
              UNION ALL
              SELECT 'orderkey_unique', 'o_orderkey', 'unique',
                     (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM (
                        SELECT COUNT(*) AS n FROM orders
                        WHERE o_orderkey IS NOT NULL
                        GROUP BY o_orderkey HAVING COUNT(*) > 1))
              UNION ALL
              SELECT 'status_in_domain', 'o_orderstatus', 'in_set',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                      WHERE o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('F', 'O', 'P'))
              UNION ALL
              SELECT 'price_positive', 'o_totalprice', 'range',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                      WHERE o_totalprice IS NOT NULL AND o_totalprice < 0.0)
              UNION ALL
              SELECT 'priority_format', 'o_orderpriority', 'regex',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                      WHERE o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority,
                                               '^[1-5]-[A-Z ]+$'))
              UNION ALL
              SELECT 'custkey_references_customer', 'o_custkey', 'foreign_key',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                      WHERE o.o_custkey IS NOT NULL
                        AND o.o_custkey NOT IN
                            (SELECT c_custkey FROM customer))
            )
            SELECT rule, "column", kind, n_violations,
                   n_violations = 0 AS passed
            FROM v ORDER BY rule
        """,
        "csv_roundtrip": """
            SELECT s_suppkey, s_name, s_nationkey, s_acctbal
            FROM supplier ORDER BY s_suppkey
        """,
        "xml_roundtrip": """
            SELECT s_suppkey, s_name, s_nationkey, s_acctbal
            FROM supplier ORDER BY s_suppkey
        """,
        # Round-trip oracles read the source of truth directly; the Spark
        # side is what actually exercises the sink+scan (Derby / CSV).
        "jdbc_roundtrip": """
            SELECT s_suppkey, s_name, s_nationkey, s_acctbal
            FROM supplier ORDER BY s_suppkey
        """,
        "date_normalize": """
            SELECT o_orderkey,
                   CAST(try_strptime(
                     CASE WHEN o_orderkey % 97 = 0 THEN '31/02/2024 oops'
                          ELSE strftime(o_orderdate, '%d/%m/%Y') END,
                     '%d/%m/%Y') AS DATE) AS booking_date
            FROM orders ORDER BY o_orderkey
        """,
        "currency_convert": """
            WITH rates AS (
              SELECT * FROM (VALUES
                ('USD', CAST(1.0 AS DOUBLE)),
                ('EUR', CAST(1.1 AS DOUBLE)),
                ('INR', CAST(0.012 AS DOUBLE))) t(currency, usd_rate)
            ), src AS (
              SELECT o_orderkey,
                     ['USD','EUR','INR'][CAST(o_custkey % 3 AS INT) + 1]
                       AS currency,
                     o_totalprice AS amount
              FROM orders
            )
            SELECT s.o_orderkey, s.currency, s.amount,
                   s.amount * r.usd_rate AS amount_usd
            FROM src s LEFT JOIN rates r USING (currency)
            ORDER BY s.o_orderkey
        """,
        "csv_single_file": """
            SELECT o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS revenue
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "metric_sql_view": """
            SELECT o_custkey AS user_id,
                   CAST(COUNT(*) AS BIGINT) AS total_bookings
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1
        """,
        "repetition_stats": f"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(text, chr(10)),
                                 l -> trim(l)), l -> l <> '') AS lines,
                     {_GRAMS.format(n=2)} AS g2,
                     {_GRAMS.format(n=3)} AS g3
              FROM (SELECT doc_id, text, {_LTOKENS} AS t FROM documents)
            )
            SELECT doc_id,
                   CAST(len(lines) AS INT) AS n_lines,
                   CASE WHEN len(lines) > 0
                        THEN ROUND(1 - len(list_distinct(lines)) / len(lines), 6)
                        ELSE 0.0 END AS dup_line_frac,
                   CAST(len(g2) AS INT) AS n_2grams,
                   CASE WHEN len(g2) > 0
                        THEN ROUND(1 - len(list_distinct(g2)) / len(g2), 6)
                        ELSE 0.0 END AS dup_2gram_frac,
                   CASE WHEN len(g3) > 0
                        THEN ROUND(1 - len(list_distinct(g3)) / len(g3), 6)
                        ELSE 0.0 END AS dup_3gram_frac
            FROM base ORDER BY doc_id
        """,
        "decontamination": f"""
            WITH g AS (
              SELECT doc_id, list_distinct({_GRAMS.format(n=8)}) AS grams
              FROM (SELECT doc_id, text, {_LTOKENS} AS t FROM documents)
            ), bench AS (
              SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0
            ), hits AS (
              SELECT dg.doc_id, COUNT(*) AS n_contaminated
              FROM (SELECT doc_id, unnest(grams) AS gram FROM g) dg
              JOIN bench USING (gram)
              GROUP BY 1
            )
            SELECT g.doc_id,
                   CAST(len(g.grams) AS INT) AS n_grams,
                   CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   CASE WHEN len(g.grams) > 0
                        THEN ROUND(COALESCE(h.n_contaminated, 0) / len(g.grams), 6)
                        ELSE 0.0 END AS contamination_frac,
                   COALESCE(h.n_contaminated, 0) > 0 AS is_contaminated
            FROM g LEFT JOIN hits h USING (doc_id) ORDER BY g.doc_id
        """,
        # Packing twin: the two-phase distributed prefix sum collapses to
        # one global window in SQL; same (md5, id) total order.
        "pack_offsets": f"""
            WITH d AS (
              SELECT doc_id,
                     len({_TOKENS.format(src="lower(text)")}) AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS sort_key
              FROM documents
            )
            SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY sort_key, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start_offset,
                   CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY sort_key, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 2048) AS BIGINT) AS seq_bin
            FROM d ORDER BY doc_id
        """,
        # Cardinality-gate twin: exact side recomputed, invariant asserted
        # TRUE (the HLL estimate itself is engine-specific by design).
        # Incremental (batch-vs-corpus) dedup twin: every 10th doc is
        # the incoming batch; stage 1 = normalized-md5 fingerprint
        # anti-join + min-id batch canonical, stage 2 = the blocked
        # Jaccard pair space restricted to pairs with an incoming doc on
        # the right (existing blocks any incoming; incoming blocks only
        # larger-id surviving incoming).
        "incremental_dedup": f"""
            WITH fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fp
              FROM documents
            ), exact_surv AS (
              SELECT MIN(doc_id) AS doc_id
              FROM fp WHERE doc_id % 10 = 0
                AND fp NOT IN (SELECT fp FROM fp WHERE doc_id % 10 <> 0)
              GROUP BY fp
            ), prep AS (
              SELECT doc_id,
                     {_TOK_SET} AS tok_set,
                     CAST(floor(len({_TOK_SET}) / 10) AS BIGINT) AS len_bucket,
                     list_sort(list_transform({_TOK_SET}, t -> md5(t)))[1]
                       AS block_tok,
                     list_sort(list_transform({_TOK_SET}, t -> md5(t)))[2]
                       AS block_tok2
              FROM documents
              WHERE doc_id % 10 <> 0
                 OR doc_id IN (SELECT doc_id FROM exact_surv)
            ), sizes AS (
              -- block_cap=200 sub-blocking: blocks over the cap split on
              -- the second-min md5 token (population = corpus + survivors,
              -- exactly the Spark side's pair-participant set)
              SELECT len_bucket, block_tok, COUNT(*) > 200 AS over_cap
              FROM prep GROUP BY 1, 2
            ), prep2 AS (
              SELECT p.*,
                     CASE WHEN s.over_cap
                          THEN coalesce(p.block_tok2, '') ELSE '' END AS sub_tok
              FROM prep p LEFT JOIN sizes s USING (len_bucket, block_tok)
            ), dropped AS (
              SELECT DISTINCT b.doc_id
              FROM prep2 a JOIN prep2 b
                ON a.len_bucket = b.len_bucket
               AND a.block_tok = b.block_tok
               AND a.sub_tok = b.sub_tok
               AND b.doc_id % 10 = 0
               AND (a.doc_id % 10 <> 0 OR a.doc_id < b.doc_id)
               AND ROUND(
                     len(list_filter(a.tok_set, x -> list_contains(b.tok_set, x)))
                     / (len(a.tok_set) + len(b.tok_set)
                        - len(list_filter(a.tok_set,
                                          x -> list_contains(b.tok_set, x)))),
                     6) >= 0.5
            )
            SELECT doc_id, text, lang, source, n_chars
            FROM documents
            WHERE doc_id IN (SELECT doc_id FROM exact_surv)
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
            ORDER BY doc_id
        """,
        # Quality-classifier gate twin: the weak-label populations
        # (doc_stats quality_score >= 0.8) are recomputed exactly and
        # the per-class accuracy floor is asserted TRUE — Spark's side
        # computes the booleans from the actually-trained deterministic
        # model, so a training/scoring regression flips the hash.
        "quality_classifier": f"""
            SELECT CAST(quality_score >= 0.8 AS INT) AS label,
                   CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS acc_ok
            FROM ({_DOC_STATS_SQL}) GROUP BY 1 ORDER BY 1
        """,
        # Semantic-dedup gate twin: the exact side (input cardinality) is
        # recomputed and the structural invariants — which uniquely pin
        # the greedy per-cell survivor set given the cell assignment —
        # are asserted TRUE; Spark computes them with real verification
        # joins, so a survivor-structure regression flips the hash.
        "semantic_dedup": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, TRUE AS ids_valid,
                   TRUE AS kept_nonempty, TRUE AS no_kept_near_pair,
                   TRUE AS dropped_have_culprit
            FROM embeddings
        """,
        # Cross-document substring dedup twins (_SPAN_PIPELINE): span
        # report and the full post-removal corpus, value-hash-checked.
        "dup_span_report": f"""
            WITH {_SPAN_PIPELINE}
            SELECT doc_id, CAST(span_start AS INT) AS span_start,
                   CAST(span_len AS INT) AS span_len
            FROM spans ORDER BY doc_id, span_start
        """,
        "substring_dedup": f"""
            WITH {_SPAN_PIPELINE},
            covered AS (
              SELECT DISTINCT doc_id, c AS pos
              FROM spans,
                   UNNEST(generate_series(span_start,
                                          span_start + span_len - 1)) AS t(c)),
            tok_rows AS (
              SELECT doc_id, i AS pos, toks[i] AS tok
              FROM base, UNNEST(generate_series(1, len(toks))) AS t(i)),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok FROM tok_rows t
              ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos),
            agg AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
              FROM kept GROUP BY doc_id),
            cov_n AS (SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY 1),
            sp_n AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY 1)
            SELECT b.doc_id, CAST(len(b.toks) AS INT) AS n_tokens,
                   CAST(COALESCE(cn.n_removed, 0) AS INT) AS n_removed,
                   CAST(COALESCE(sn.n_spans, 0) AS INT) AS n_spans,
                   COALESCE(a.text, '') AS text
            FROM base b LEFT JOIN agg a USING (doc_id)
            LEFT JOIN cov_n cn USING (doc_id)
            LEFT JOIN sp_n sn USING (doc_id)
            ORDER BY b.doc_id
        """,
        # Sparse TF-IDF cosine twin: identical tf/(df+1) weights, the
        # same df-pruned vocabulary, and the same 2^-20 fixed-point
        # integer dot/norm sums — order-invariant on both engines, so
        # the full sparse similarity join hash-matches.
        "tfidf_cosine_topk": f"""
            WITH t AS (
              SELECT doc_id, unnest({_LTOKENS}) AS token FROM documents
            ), tf AS (
              SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2
            ), df AS (
              SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
            ), n AS (
              SELECT COUNT(*) AS n_docs FROM documents
            ), w AS (
              SELECT tf.doc_id, tf.token,
                     CAST(tf.tf AS DOUBLE) / (df.df + 1) AS w
              FROM tf JOIN df USING (token), n
              WHERE df.df > 1 AND df.df <= 0.5 * n.n_docs
            ), norms AS (
              SELECT doc_id,
                     SUM(CAST(ROUND(w * w * 1048576) AS BIGINT)) AS n2
              FROM w GROUP BY 1
            ), dots AS (
              SELECT a.doc_id AS da, b.doc_id AS db,
                     SUM(CAST(ROUND(a.w * b.w * 1048576) AS BIGINT)) AS dot
              FROM w a JOIN w b
                ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), sym AS (
              SELECT da AS doc_id, db AS neighbor_id, dot FROM dots
              UNION ALL
              SELECT db, da, dot FROM dots
            ), scored AS (
              SELECT s.doc_id, s.neighbor_id,
                     ROUND(CAST(s.dot AS DOUBLE)
                           / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
                           6) AS cosine_sim
              FROM sym s
              JOIN norms na ON s.doc_id = na.doc_id
              JOIN norms nb ON s.neighbor_id = nb.doc_id
            ), ranked AS (
              SELECT doc_id, neighbor_id, cosine_sim,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY cosine_sim DESC, neighbor_id
                     ) AS INT) AS sim_rank
              FROM scored
            )
            SELECT doc_id, neighbor_id, cosine_sim, sim_rank
            FROM ranked WHERE sim_rank <= 3
            ORDER BY doc_id, sim_rank
        """,
        # Stratified-sample twin: identical md5 ranking (concat_ws of
        # empty salt + key = '|<key>'), identical per-stratum cut.
        "customer_stratified_sample": """
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY c_mktsegment
                ORDER BY md5('|' || CAST(c_custkey AS VARCHAR)), c_custkey
              ) AS rn
              FROM customer
            ) WHERE rn <= 10
            ORDER BY c_custkey
        """,
        # CDC merge twin: the declarative restatement of "seq-2 deletes
        # every 6th key, seq-1 updates every 4th key's status, highest
        # seq wins" — the window formulation must land exactly here.
        "orders_cdc_apply": """
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 4 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   o_totalprice, o_orderdate, o_orderpriority
            FROM orders
            WHERE o_orderkey % 6 <> 0
            ORDER BY o_orderkey
        """,
        # Record-linkage twin: same blocking keys, same length prune
        # (output-invariant), classic Levenshtein DP in both engines,
        # collapsed to per-entity degrees.
        "fuzzy_part_match": f"""
            WITH {_FUZZY_KEPT}, sides AS (
              SELECT unnest([id_a, id_b]) AS p_partkey, distance FROM kept
            )
            SELECT p_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_matches,
                   CAST(MIN(distance) AS INT) AS min_distance
            FROM sides GROUP BY 1 ORDER BY 1
        """,
        # Entity-cluster twin: transitive closure of the SAME fuzzy pair
        # space via a recursive CTE — the iterative label contraction is
        # value-hash-checked end to end (the near_dup_clusters pattern,
        # over record-linkage edges instead of Jaccard edges).
        "part_entity_clusters": f"""
            WITH RECURSIVE {_FUZZY_KEPT},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM kept
              UNION
              SELECT id_b AS a, id_a AS b FROM kept
            ),
            reach AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
              WHERE e.b <> r.a
            )
            SELECT CAST(a AS BIGINT) AS node_id,
                   CAST(LEAST(a, MIN(b)) AS BIGINT) AS component_id
            FROM reach GROUP BY a ORDER BY 1
        """,
        # Quarantine twin: good rows are exactly the supplier truth with
        # a NULL raw_record; the three injected bad lines appear with
        # precisely the fields PERMISSIVE parsing salvages + the raw
        # line. NULLS LAST ordering matches the Spark side.
        "csv_quarantine": """
            SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
                   CAST(NULL AS VARCHAR) AS raw_record
            FROM supplier
            UNION ALL
            SELECT 999901, 'Bad#1', CAST(NULL AS BIGINT), 5.5,
                   '999901,Bad#1,notanint,5.5'
            UNION ALL
            SELECT 999903, 'Bad#3', 7, CAST(NULL AS DOUBLE),
                   '999903,Bad#3,7,notadouble'
            UNION ALL
            SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   'garbage line without commas'
            ORDER BY s_suppkey NULLS LAST, raw_record NULLS FIRST
        """,
        # Round-trip oracle reads the parquet truth; the Spark side is
        # what exercises the ORC sink + scan.
        "orc_roundtrip": """
            SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
            FROM part ORDER BY p_partkey
        """,
        # Keyed snapshot diff: same two deterministic orders slices, same
        # full-outer classification with a null-safe row comparison
        # (IS DISTINCT FROM == NOT eqNullSafe).
        "orders_snapshot_diff": """
            WITH old AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
              FROM orders WHERE o_orderkey % 3 <> 0
            ), new AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     o_totalprice
              FROM orders WHERE o_orderkey % 5 <> 0
            ), d AS (
              SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     CASE
                       WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN (o.o_custkey, o.o_orderstatus, o.o_totalprice)
                            IS DISTINCT FROM
                            (n.o_custkey, n.o_orderstatus, n.o_totalprice)
                         THEN 'changed'
                     END AS change_type
              FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
            )
            SELECT o_orderkey, change_type FROM d
            WHERE change_type IS NOT NULL
            ORDER BY o_orderkey
        """,
        # Sketch-merge gate twin: exact counts recomputed per scope (the
        # union row included), booleans asserted TRUE — the
        # cardinality_gate form applied to hll_union_agg.
        "hll_union_gate": """
            SELECT event_type AS scope,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
                   TRUE AS hll_ok
            FROM events GROUP BY 1
            UNION ALL
            SELECT 'ALL' AS scope,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
                   TRUE AS hll_ok
            FROM events
            ORDER BY scope
        """,
        "cardinality_gate": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
                   TRUE AS card_ok
            FROM events GROUP BY 1 ORDER BY 1
        """,
        # Frequent-items gate twin: exact top-5 recomputed, presence in
        # the sketch's top-20 asserted TRUE (the cardinality_gate form).
        "heavy_hitters_gate": f"""
            WITH t AS (
              SELECT unnest({_LTOKENS}) AS token FROM documents
            )
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS hh_ok
            FROM t GROUP BY 1
            ORDER BY n_exact DESC, token LIMIT 5
        """,
        # Mixture sampling twin: integer keep threshold floor(rate*65536)
        # vs the 16-bit md5 prefix of the doc id — all-integer compares,
        # double division/multiply is IEEE-identical on both engines.
        "corpus_mixture": f"""
            WITH d AS (
              SELECT doc_id, source,
                     len({_TOKENS.format(src="lower(text)")}) AS n_tokens
              FROM documents
            ), s AS (
              SELECT source, SUM(n_tokens) AS source_tokens FROM d GROUP BY 1
            ), s2 AS (
              SELECT source,
                     CAST(FLOOR(LEAST(1.0,
                          (60000.0 / (COUNT(*) OVER ())) / source_tokens)
                          * 65536) AS BIGINT) AS keep_thresh
              FROM s
            )
            SELECT d.source, s2.keep_thresh,
                   CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_kept
            FROM d JOIN s2 USING (source)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                  < s2.keep_thresh
            GROUP BY 1, 2 ORDER BY 1
        """,
        # Weighted-mixing twin: same share arithmetic in the same IEEE
        # operation order (budget * (w/total) / source_tokens), weights
        # inlined as a VALUES dim; unweighted sources drop via the join.
        "corpus_mixture_weighted": f"""
            WITH w(source, wt) AS (VALUES {", ".join(
                f"('{k}', {v})" for k, v in MIXTURE_WEIGHTS.items()
            )}),
            d AS (
              SELECT doc_id, source,
                     len({_TOKENS.format(src="lower(text)")}) AS n_tokens
              FROM documents
            ), s AS (
              SELECT source, SUM(n_tokens) AS source_tokens FROM d GROUP BY 1
            ), s2 AS (
              SELECT source,
                     CAST(FLOOR(LEAST(1.0,
                          (60000.0 * (wt / {float(sum(MIXTURE_WEIGHTS.values()))}))
                          / source_tokens) * 65536) AS BIGINT) AS keep_thresh
              FROM s JOIN w USING (source)
            )
            SELECT d.source, s2.keep_thresh,
                   CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_kept
            FROM d JOIN s2 USING (source)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                  < s2.keep_thresh
            GROUP BY 1, 2 ORDER BY 1
        """,
        "pii_scrub": f"""
            WITH s1 AS (
              SELECT doc_id, text AS t0,
                     regexp_replace(text, '{_PII["email"][0]}',
                                    '{_PII["email"][1]}', 'g') AS t1
              FROM documents
            ), s2 AS (
              SELECT *, regexp_replace(t1, '{_PII["ssn"][0]}',
                                       '{_PII["ssn"][1]}', 'g') AS t2
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '{_PII["phone"][0]}',
                                  '{_PII["phone"][1]}', 'g') AS text,
                   CAST(len(regexp_extract_all(t0, '{_PII["email"][0]}')) AS INT)
                     AS n_email,
                   CAST(len(regexp_extract_all(t1, '{_PII["ssn"][0]}')) AS INT)
                     AS n_ssn,
                   CAST(len(regexp_extract_all(t2, '{_PII["phone"][0]}')) AS INT)
                     AS n_phone
            FROM s2 ORDER BY doc_id
        """,
        "simhash": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_distinct(list_filter(
                       string_split_regex(lower(text), '\\s+'), x -> x <> '')))
                       AS t
              FROM documents
            ), hs AS (
              SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
              FROM toks
            ), sums AS (
              SELECT doc_id, b,
                     SUM(CASE WHEN (h >> (59 - b)) & 1 = 1 THEN 1 ELSE -1 END)
                       AS s
              FROM hs, range(0, 60) r(b)
              GROUP BY 1, 2
            ), sk AS (
              SELECT doc_id,
                     SUM(CASE WHEN s > 0 THEN 1::BIGINT << (59 - b)
                              ELSE 0 END) AS simhash
              FROM sums GROUP BY 1
            )
            SELECT d.doc_id, CAST(COALESCE(sk.simhash, 0) AS BIGINT) AS simhash
            FROM documents d LEFT JOIN sk USING (doc_id)
            ORDER BY doc_id
        """,
        # MoM-growth twin: cents monthly totals, LAG, truncating ppm.
        "revenue_growth_monthly": """
            WITH m AS (
              SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                     CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                          * 100 AS BIGINT) AS revenue_cents
              FROM orders GROUP BY 1
            ), l AS (
              SELECT month, revenue_cents,
                     LAG(revenue_cents) OVER (ORDER BY month) AS prev_cents
              FROM m
            )
            SELECT month, revenue_cents, prev_cents,
                   CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0
                        THEN CAST((1000000 * (revenue_cents - prev_cents))
                                  // prev_cents AS BIGINT)
                        END AS growth_ppm
            FROM l ORDER BY month
        """,
        # HHI twin: entity cents, HUGEINT squares, truncating ppm.
        "monthly_revenue_hhi": """
            WITH per AS (
              SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS grp,
                     o_custkey AS ent,
                     CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                          * 100 AS BIGINT) AS c
              FROM orders GROUP BY 1, 2
            )
            SELECT grp AS month, CAST(COUNT(*) AS BIGINT) AS n_entities,
                   CAST(SUM(c) AS BIGINT) AS total_cents,
                   CASE WHEN SUM(c) <> 0
                        THEN CAST((1000000 * SUM(CAST(c AS HUGEINT) * c))
                                  // (CAST(SUM(c) AS HUGEINT) * SUM(c))
                                  AS BIGINT)
                        END AS hhi_ppm
            FROM per GROUP BY 1 ORDER BY 1
        """,
        # Weighted-median twin: cumulative-weight selection — MIN(v)
        # over rows whose running weight reaches half the total (tie
        # order inside an equal-v run cannot change that minimum).
        "price_weighted_median": """
            WITH b AS (
              SELECT l_returnflag AS key,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v,
                     CAST(l_quantity AS BIGINT) AS w
              FROM lineitem
            ), c AS (
              SELECT key, v,
                     SUM(w) OVER (PARTITION BY key ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                     SUM(w) OVER (PARTITION BY key) AS total
              FROM b
            ), cut AS (
              SELECT key, MIN(v) AS wmedian_s
              FROM c WHERE total > 0 AND cum * 2 >= total GROUP BY 1
            ), t AS (
              SELECT key, CAST(SUM(w) AS BIGINT) AS total_weight
              FROM b GROUP BY 1
            )
            SELECT t.key AS l_returnflag, t.total_weight, cut.wmedian_s
            FROM t LEFT JOIN cut ON t.key = cut.key
            ORDER BY 1
        """,
        # Incremental-agg twin: FULL recompute over the applied CDC
        # state (the orders_cdc_apply closed form) — hash equality
        # proves the Spark side's delta maintenance == recompute.
        "orders_cdc_incremental_agg": """
            SELECT o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM (
              SELECT CASE WHEN o_orderkey % 4 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     o_totalprice
              FROM orders WHERE o_orderkey % 6 <> 0
            )
            GROUP BY 1 ORDER BY 1
        """,
        # PIT-join twin: the scd2_user_state CTEs over non-purchase
        # events, then the half-open-range LEFT join at purchase time.
        "purchase_pit_state": """
            WITH obs AS (
              SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us,
                     event_id
              FROM events WHERE event_type <> 'purchase'
            ), marked AS (
              SELECT user_id, state, ts_us, event_id,
                     LAG(state) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id) AS prev,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
              FROM obs
            ), changes AS (
              SELECT user_id, state, ts_us, event_id FROM marked
              WHERE rn = 1 OR state IS DISTINCT FROM prev
            ), dim AS (
              SELECT user_id, state, ts_us AS valid_from,
                     LEAD(ts_us) OVER w AS valid_to,
                     CAST(ROW_NUMBER() OVER w AS INT) AS version
              FROM changes
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), facts AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id
              FROM events WHERE event_type = 'purchase'
            )
            SELECT f.user_id, f.ts_us, f.event_id,
                   d.state AS browse_state, d.version
            FROM facts f LEFT JOIN dim d
              ON f.user_id = d.user_id AND d.valid_from <= f.ts_us
             AND (d.valid_to IS NULL OR f.ts_us < d.valid_to)
            ORDER BY 1, 2, 3
        """,
        # Funnel-timing twin: the conversion_funnel chained-anchor CTEs
        # with MIN(prev) carried, whole-second anchors, truncating-ms
        # averages.
        "funnel_timing": """
            WITH b AS (
              SELECT user_id AS u,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s,
                     event_type AS k
              FROM events
            ), a1 AS (
              SELECT u, MIN(s) AS a FROM b WHERE k = 'view' GROUP BY 1
            ), a2 AS (
              SELECT b.u, MIN(b.s) AS a, MIN(a1.a) AS p
              FROM b JOIN a1 ON b.u = a1.u
              WHERE b.k = 'click' AND b.s > a1.a GROUP BY 1
            ), a3 AS (
              SELECT b.u, MIN(b.s) AS a, MIN(a2.a) AS p
              FROM b JOIN a2 ON b.u = a2.u
              WHERE b.k = 'purchase' AND b.s > a2.a GROUP BY 1
            )
            SELECT 1 AS stage_idx, 'view' AS stage,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(NULL AS BIGINT) AS sum_delta_sec,
                   CAST(NULL AS BIGINT) AS avg_delta_ms
            FROM a1
            UNION ALL
            SELECT 2, 'click', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(a - p) AS BIGINT),
                   CASE WHEN COUNT(*) > 0
                        THEN CAST((1000 * SUM(a - p)) // COUNT(*) AS BIGINT)
                        END
            FROM a2
            UNION ALL
            SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(a - p) AS BIGINT),
                   CASE WHEN COUNT(*) > 0
                        THEN CAST((1000 * SUM(a - p)) // COUNT(*) AS BIGINT)
                        END
            FROM a3
            ORDER BY stage_idx
        """,
        # Clustering-coefficient twin: triangle enumeration + degrees on
        # the same support>=2 pair graph, truncating ppm.
        "copurchase_clustering": """
            WITH d AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
            ), p AS (
              SELECT a.i AS item_a, b.i AS item_b
              FROM d a JOIN d b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2 HAVING COUNT(*) >= 2
            ), t AS (
              SELECT e1.item_a AS x, e1.item_b AS y, e2.item_b AS z
              FROM p e1
              JOIN p e2 ON e2.item_a = e1.item_b
              JOIN p e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b
            ), tc AS (
              SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
                SELECT x AS node FROM t
                UNION ALL SELECT y FROM t
                UNION ALL SELECT z FROM t
              ) GROUP BY 1
            ), deg AS (
              SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
                SELECT item_a AS node FROM p
                UNION ALL SELECT item_b FROM p
              ) GROUP BY 1
            )
            SELECT deg.node AS item, deg.degree,
                   COALESCE(tc.n_tri, 0) AS n_triangles,
                   CASE WHEN deg.degree > 1
                        THEN CAST((2000000 * COALESCE(tc.n_tri, 0))
                                  // (deg.degree * (deg.degree - 1))
                                  AS BIGINT)
                        ELSE 0 END AS coeff_ppm
            FROM deg LEFT JOIN tc ON deg.node = tc.node
            ORDER BY item
        """,
        # Benford twin: integer digit peel over DECIMAL(18,2) cents,
        # hard ppm constants for the expected shares.
        "price_benford": """
            WITH v AS (
              SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents
              FROM lineitem
            ), f AS (
              SELECT CASE WHEN cents >= 100000000000000000 THEN CAST(cents // 100000000000000000 AS INT) WHEN cents >= 10000000000000000 THEN CAST(cents // 10000000000000000 AS INT) WHEN cents >= 1000000000000000 THEN CAST(cents // 1000000000000000 AS INT) WHEN cents >= 100000000000000 THEN CAST(cents // 100000000000000 AS INT) WHEN cents >= 10000000000000 THEN CAST(cents // 10000000000000 AS INT) WHEN cents >= 1000000000000 THEN CAST(cents // 1000000000000 AS INT) WHEN cents >= 100000000000 THEN CAST(cents // 100000000000 AS INT) WHEN cents >= 10000000000 THEN CAST(cents // 10000000000 AS INT) WHEN cents >= 1000000000 THEN CAST(cents // 1000000000 AS INT) WHEN cents >= 100000000 THEN CAST(cents // 100000000 AS INT) WHEN cents >= 10000000 THEN CAST(cents // 10000000 AS INT) WHEN cents >= 1000000 THEN CAST(cents // 1000000 AS INT) WHEN cents >= 100000 THEN CAST(cents // 100000 AS INT) WHEN cents >= 10000 THEN CAST(cents // 10000 AS INT) WHEN cents >= 1000 THEN CAST(cents // 1000 AS INT) WHEN cents >= 100 THEN CAST(cents // 100 AS INT) END AS digit,
                     CAST(COUNT(*) AS BIGINT) AS n_obs
              FROM v
              WHERE cents >= 100
              GROUP BY 1
            ), e(digit, exp_ppm) AS (
              VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                     (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                     (9, 45757)
            ), tot AS (SELECT SUM(n_obs) AS t FROM f)
            SELECT digit, n_obs, obs_ppm, exp_ppm,
                   ABS(obs_ppm - exp_ppm) AS dev_ppm
            FROM (
              SELECT e.digit, COALESCE(f.n_obs, 0) AS n_obs,
                     CASE WHEN tot.t > 0
                          THEN CAST((1000000 * COALESCE(f.n_obs, 0)) // tot.t
                                    AS BIGINT)
                          ELSE 0 END AS obs_ppm,
                     CAST(e.exp_ppm AS BIGINT) AS exp_ppm
              FROM e LEFT JOIN f ON e.digit = f.digit, tot
            ) ORDER BY digit
        """,
        # DAU/WAU/MAU twin: tz-free epoch-day, trailing-range distinct
        # counts via a days x activity range join.
        "active_users_rolling": """
            WITH act AS (
              SELECT DISTINCT user_id AS u,
                     DATE '1970-01-01'
                     + CAST(epoch_us(CAST(ts AS TIMESTAMP))
                            // 1000000 // 86400 AS INT) AS day
              FROM events
            ), days AS (
              SELECT DISTINCT day FROM act
            ), w1 AS (
              SELECT d.day, CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_active_1d
              FROM days d JOIN act a ON a.day = d.day GROUP BY 1
            ), w7 AS (
              SELECT d.day, CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_active_7d
              FROM days d JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
              GROUP BY 1
            ), w28 AS (
              SELECT d.day, CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_active_28d
              FROM days d JOIN act a ON a.day BETWEEN d.day - 27 AND d.day
              GROUP BY 1
            )
            SELECT d.day, w1.n_active_1d, w7.n_active_7d, w28.n_active_28d
            FROM days d
            JOIN w1 ON d.day = w1.day
            JOIN w7 ON d.day = w7.day
            JOIN w28 ON d.day = w28.day
            ORDER BY 1
        """,
        # OLS-trend twin: x anchored at the key's min second in
        # truncating hours, HUGEINT moment sums (Spark carries
        # DECIMAL(38,0)), truncating ppm division — both engines
        # truncate integral division toward zero, so negative slopes
        # need no special casing.
        "user_value_trend": """
            WITH b AS (
              SELECT user_id AS key,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec,
                     CAST(ROUND(value * 1024) AS BIGINT) AS y
              FROM events WHERE value IS NOT NULL
            ), x AS (
              SELECT key,
                     (sec - MIN(sec) OVER (PARTITION BY key)) // 3600 AS x,
                     y
              FROM b
            ), m AS (
              SELECT key, CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(x) AS HUGEINT) AS sx,
                     CAST(SUM(y) AS HUGEINT) AS sy,
                     CAST(SUM(x * x) AS HUGEINT) AS sxx,
                     CAST(SUM(x * y) AS HUGEINT) AS sxy
              FROM x GROUP BY 1
            )
            SELECT key AS user_id, CAST(n AS BIGINT) AS n_obs,
                   CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
                   CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
                   CASE WHEN n * sxx - sx * sx <> 0
                        THEN CAST(((n * sxy - sx * sy) * 1000000)
                                  // ((n * sxx - sx * sx) * 1024) AS BIGINT)
                        ELSE NULL END AS slope_ppm
            FROM m ORDER BY 1
        """,
        # Pareto twin: pricing_summary money rule to entity cents, one
        # ranking window, integer cross-multiplied head test.
        "part_revenue_pareto": """
            WITH per AS (
              SELECT l_partkey AS entity,
                     CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                    * (1.00 - CAST(l_discount AS DECIMAL(4,2)))),
                                2) * 100 AS BIGINT) AS revenue_cents
              FROM lineitem GROUP BY 1
            ), r AS (
              SELECT entity, revenue_cents,
                     CAST(ROW_NUMBER() OVER w AS INT) AS rank,
                     SUM(revenue_cents) OVER (
                       w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum,
                     SUM(revenue_cents) OVER () AS total
              FROM per
              WINDOW w AS (ORDER BY revenue_cents DESC, entity)
            )
            SELECT entity AS l_partkey, revenue_cents, rank,
                   CAST(cum AS BIGINT) AS cum_cents,
                   (CAST(cum AS HUGEINT) * 1000000
                    <= CAST(total AS HUGEINT) * 800000) AS in_head
            FROM r ORDER BY rank
        """,
        # Exact k-means twin: unrolled Lloyd iterations (see _kmeans_sql).
        "embedding_kmeans": _kmeans_sql(8, 3),
        # k-core twin: unrolled peel rounds (see _kcore_sql).
        "copurchase_kcore": _kcore_sql(2, 4),
        # label-propagation twin: unrolled count/pick rounds (_lpa_sql).
        "copurchase_communities": _lpa_sql(3),
        "transaction_hits": _hits_sql(3),
        # seeded-BFS twin: unrolled frontier/dist rounds (_bfs_sql).
        "transaction_reach": _bfs_sql(5, 4),
        # Cohort-retention twin: month-truncated dates, pure INTEGER
        # month arithmetic (no months_between float), truncating ppm.
        # NULL order dates are ignored (the operator's declared
        # contract — all-NULL users have no cohort and drop out).
        "customer_cohort_retention": """
            WITH base AS (
              SELECT o_custkey AS u,
                     CAST(date_trunc('month', o_orderdate) AS DATE) AS m
              FROM orders WHERE o_orderdate IS NOT NULL
            ), coh AS (
              SELECT u, MIN(m) AS cm FROM base GROUP BY 1
            ), act AS (
              SELECT DISTINCT u, m FROM base
            ), j AS (
              SELECT c.cm,
                     CAST((year(a.m) * 12 + month(a.m))
                          - (year(c.cm) * 12 + month(c.cm)) AS INT) AS ms
              FROM act a JOIN coh c ON a.u = c.u
            ), sz AS (
              SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_cohort
              FROM coh GROUP BY 1
            )
            SELECT j.cm AS cohort_month, j.ms AS months_since,
                   CAST(COUNT(*) AS BIGINT) AS n_active, sz.n_cohort,
                   CAST((1000000 * COUNT(*)) // sz.n_cohort AS BIGINT)
                     AS retention_ppm
            FROM j JOIN sz ON j.cm = sz.cm
            GROUP BY 1, 2, sz.n_cohort ORDER BY 1, 2
        """,
        # RFM twin: DATE recency, DECIMAL(18,2)-cents monetary (the
        # pricing_summary money rule), NTILE over the same
        # deterministic total orders (metric direction + custkey).
        "customer_rfm": """
            WITH base AS (
              SELECT o_custkey AS u, CAST(o_orderdate AS DATE) AS d,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents
              FROM orders
            ), per AS (
              SELECT u, MAX(d) AS last_date,
                     CAST(COUNT(*) AS BIGINT) AS frequency,
                     CAST(SUM(cents) AS BIGINT) AS monetary_cents
              FROM base GROUP BY 1
            ), t AS (
              SELECT u, datediff('day', last_date,
                                 (SELECT MAX(d) FROM base)) AS recency_days,
                     frequency, monetary_cents
              FROM per
            ), s AS (
              SELECT u, CAST(recency_days AS INT) AS recency_days,
                     frequency, monetary_cents,
                     CAST(5 - NTILE(4) OVER (ORDER BY recency_days, u)
                          AS INT) AS r_score,
                     CAST(5 - NTILE(4) OVER (ORDER BY frequency DESC, u)
                          AS INT) AS f_score,
                     CAST(5 - NTILE(4) OVER (ORDER BY monetary_cents DESC, u)
                          AS INT) AS m_score
              FROM t
            )
            SELECT u AS custkey, recency_days, frequency, monetary_cents,
                   r_score, f_score, m_score,
                   CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
            FROM s ORDER BY custkey
        """,
        # Markov-transition twin: LEAD over (ts_us, event_id), truncating
        # ppm against the from-type row total.
        "event_transitions": """
            WITH seq AS (
              SELECT event_type AS from_type,
                     LEAD(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                     ) AS to_type
              FROM events
            ), pairs AS (
              SELECT from_type, to_type,
                     CAST(COUNT(*) AS BIGINT) AS n_transitions
              FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
            )
            SELECT from_type, to_type, n_transitions,
                   CAST((1000000 * n_transitions)
                        // SUM(n_transitions) OVER (PARTITION BY from_type)
                        AS BIGINT) AS p_ppm
            FROM pairs ORDER BY 1, 2
        """,
        # Top-paths twin: the _SESSION_SQL session rule at a 30-min gap
        # (whole-second resolution + event_id tiebreak), first-5 prefix
        # by ROW_NUMBER, ORDER BY-qualified string_agg, deterministic
        # top-20 cut on (n_sessions DESC, path).
        "session_top_paths": """
            WITH e AS (
              SELECT user_id, event_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
              FROM events
            ), flagged AS (
              SELECT user_id, event_id, event_type, sec,
                     CASE WHEN LAG(sec) OVER w IS NULL
                               OR sec - LAG(sec) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
            ), sess AS (
              SELECT user_id, event_id, event_type, sec,
                     SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY sec, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged
            ), pref AS (
              SELECT user_id, session_seq, event_type,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id, session_seq
                       ORDER BY sec, event_id) AS rn
              FROM sess
            ), paths AS (
              SELECT user_id, session_seq,
                     string_agg(event_type, '>' ORDER BY rn) AS path
              FROM pref WHERE rn <= 5 GROUP BY 1, 2
            )
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM paths GROUP BY 1
            ORDER BY n_sessions DESC, path LIMIT 20
        """,
        # Gini–Simpson twin: exact rational (n² − Σc²)/n² in BIGINTs.
        "user_type_diversity": """
            WITH c AS (
              SELECT user_id AS key, event_type,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2
            )
            SELECT key AS user_id,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_categories,
                   CAST((1000000 * (CAST(SUM(c) AS HUGEINT) * SUM(c)
                                    - SUM(CAST(c AS HUGEINT) * c)))
                        // (CAST(SUM(c) AS HUGEINT) * SUM(c))
                        AS BIGINT) AS gini_ppm
            FROM c GROUP BY 1 ORDER BY 1
        """,
        # 3-itemset twin: same within-basket a<b<c enumeration, support
        # threshold, total order.
        "copurchase_triples": """
            WITH d AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
            )
            SELECT a.i AS item_a, bb.i AS item_b, cc.i AS item_c,
                   CAST(COUNT(*) AS BIGINT) AS n_baskets
            FROM d a
            JOIN d bb ON a.b = bb.b AND a.i < bb.i
            JOIN d cc ON a.b = cc.b AND bb.i < cc.i
            GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
            ORDER BY n_baskets DESC, item_a, item_b, item_c
        """,
        # Multi-touch attribution twin: strict 72h lookback pairs, the
        # same largest-remainder split (1e6 div n, +1 to the 1e6 mod n
        # earliest touches) — the hash pins the exact-conservation law.
        "purchase_attribution": """
            WITH e AS (
              SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                     event_type, event_id
              FROM events
            ), conv AS (
              SELECT user_id, ts_us AS c_ts, event_id AS c_id
              FROM e WHERE event_type = 'purchase'
            ), pairs AS (
              SELECT t.event_type AS touch_type, conv.c_id, t.ts_us,
                     t.event_id
              FROM e t JOIN conv ON t.user_id = conv.user_id
               AND t.ts_us < conv.c_ts
               AND t.ts_us >= conv.c_ts - 259200000000
              WHERE t.event_type <> 'purchase'
            ), ranked AS (
              SELECT touch_type, c_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY c_id ORDER BY ts_us, event_id) AS rk,
                     COUNT(*) OVER (PARTITION BY c_id) AS n
              FROM pairs
            )
            SELECT touch_type,
                   CAST(COUNT(*) AS BIGINT) AS n_touches,
                   CAST(COUNT(DISTINCT c_id) AS BIGINT) AS n_conversions,
                   CAST(SUM(1000000 // n
                            + CASE WHEN rk <= 1000000 % n
                                   THEN 1 ELSE 0 END) AS BIGINT)
                     AS credit_ppm
            FROM ranked GROUP BY 1 ORDER BY 1
        """,
        # First-seen twin: distinct (user, epoch-day) collapse, per-user
        # MIN day, exact distinct counts, truncating ppm share.
        "user_first_seen": """
            WITH act AS (
              SELECT DISTINCT user_id AS u,
                     DATE '1970-01-01'
                     + CAST(epoch_us(CAST(ts AS TIMESTAMP))
                            // 1000000 // 86400 AS INT) AS day
              FROM events
            ), f AS (
              SELECT u, MIN(day) AS first_day FROM act GROUP BY 1
            )
            SELECT act.day,
                   CAST(COUNT(DISTINCT act.u) AS BIGINT) AS n_active,
                   CAST(COUNT(DISTINCT CASE WHEN act.day = f.first_day
                                            THEN act.u END) AS BIGINT)
                     AS n_new,
                   CAST((1000000 * COUNT(DISTINCT
                           CASE WHEN act.day = f.first_day THEN act.u END))
                        // COUNT(DISTINCT act.u) AS BIGINT) AS new_ppm
            FROM act JOIN f ON act.u = f.u
            GROUP BY 1 ORDER BY 1
        """,
        # FD-profiler twin: one grouped distinct per candidate, the same
        # g3-style violation mass, labels matching lhs->rhs.
        "events_fd_check": """
            WITH g1 AS (
              SELECT event_id, COUNT(DISTINCT event_type) AS d,
                     COUNT(*) AS nr
              FROM events GROUP BY 1
            ), g2 AS (
              SELECT user_id, COUNT(DISTINCT event_type) AS d,
                     COUNT(*) AS nr
              FROM events GROUP BY 1
            ), g3 AS (
              SELECT event_type, COUNT(DISTINCT user_id) AS d,
                     COUNT(*) AS nr
              FROM events GROUP BY 1
            ), u AS (
              SELECT 'event_id->event_type' AS fd,
                     CAST(COUNT(*) AS BIGINT) AS n_groups,
                     CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_violating_groups,
                     CAST(SUM(CASE WHEN d > 1 THEN nr ELSE 0 END) AS BIGINT)
                       AS n_violating_rows
              FROM g1
              UNION ALL
              SELECT 'user_id->event_type',
                     CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(SUM(CASE WHEN d > 1 THEN nr ELSE 0 END) AS BIGINT)
              FROM g2
              UNION ALL
              SELECT 'event_type->user_id',
                     CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(SUM(CASE WHEN d > 1 THEN nr ELSE 0 END) AS BIGINT)
              FROM g3
            )
            SELECT fd, n_groups, n_violating_groups, n_violating_rows,
                   n_violating_groups = 0 AS holds
            FROM u ORDER BY fd
        """,
        # Chi-square twin: contingency cells once, DENSIFIED to the
        # distinct-a x distinct-b grid (O=0 cells contribute E), HUGEINT
        # cleared-of-division per-cell contributions, per-cell
        # truncating div (the metric both engines compute), grouped
        # back per event_type.
        "events_chi2": """
            WITH obs AS (
              SELECT event_type AS a,
                     (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7
                       AS b,
                     COUNT(*) AS o
              FROM events GROUP BY 1, 2
            ), grid AS (
              SELECT da.a, db.b
              FROM (SELECT DISTINCT a FROM obs) da
              CROSS JOIN (SELECT DISTINCT b FROM obs) db
            ), cells AS (
              SELECT g.a, g.b, COALESCE(o.o, 0) AS o
              FROM grid g LEFT JOIN obs o ON g.a = o.a AND g.b = o.b
            ), tot AS (
              SELECT a, o,
                     SUM(o) OVER (PARTITION BY a) AS r,
                     SUM(o) OVER (PARTITION BY b) AS c,
                     SUM(o) OVER () AS n
              FROM cells
            )
            SELECT a AS event_type,
                   CAST(SUM(o) AS BIGINT) AS n_rows,
                   CAST(SUM(
                     ((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                      * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                      * 1000000)
                     // (CAST(r AS HUGEINT) * c * n)
                   ) AS BIGINT) AS chi2_ppm
            FROM tot GROUP BY 1 ORDER BY 1
        """,
        # Winsorized twin: positional lower-quantile cuts
        # (ceil(n*p/100), min position 1), clamp, BIGINT sum.
        "price_winsorized": """
            WITH b AS (
              SELECT l_returnflag AS key,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v
              FROM lineitem
            ), r AS (
              SELECT key, v,
                     ROW_NUMBER() OVER (PARTITION BY key ORDER BY v) AS rn,
                     COUNT(*) OVER (PARTITION BY key) AS n
              FROM b
            ), cuts AS (
              SELECT key,
                     MIN(CASE WHEN rn = GREATEST(1, (n * 5 + 99) // 100)
                              THEN v END) AS lo_cut,
                     MIN(CASE WHEN rn = GREATEST(1, (n * 95 + 99) // 100)
                              THEN v END) AS hi_cut
              FROM r GROUP BY 1
            )
            SELECT b.key AS l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(cuts.lo_cut) AS lo_cut,
                   MIN(cuts.hi_cut) AS hi_cut,
                   CAST(SUM(GREATEST(cuts.lo_cut, LEAST(cuts.hi_cut, b.v)))
                        AS BIGINT) AS wins_sum
            FROM b JOIN cuts ON b.key = cuts.key
            GROUP BY 1 ORDER BY 1
        """,
        # Skyline twin: INDEPENDENT form — raw NOT-EXISTS dominance
        # (>= / <= with at least one strict), no frontier reduction, so
        # the hash also proves the reduction loses nothing.
        "part_skyline": """
            WITH p AS (
              SELECT p_partkey, p_brand, p_size,
                     CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS price_cents
              FROM part
              WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
            )
            SELECT a.p_partkey, a.p_brand, a.p_size, a.price_cents
            FROM p a
            WHERE NOT EXISTS (
              SELECT 1 FROM p b
              WHERE b.p_size >= a.p_size
                AND b.price_cents <= a.price_cents
                AND (b.p_size > a.p_size
                     OR b.price_cents < a.price_cents)
            )
            ORDER BY a.p_partkey
        """,
        # Seasonal-backtest twin: daily cents totals, equi-join to the
        # totals 7 days back, BIGINT error mass, truncating ppm WAPE.
        "revenue_seasonal_backtest": """
            WITH daily AS (
              SELECT o_orderpriority AS key,
                     CAST(o_orderdate AS DATE) AS day,
                     SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)) AS v
              FROM orders GROUP BY 1, 2
            ), scored AS (
              SELECT d.key, d.v, b.v AS v_base
              FROM daily d
              JOIN daily b ON d.key = b.key AND b.day + 7 = d.day
            )
            SELECT key AS o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_scored,
                   CAST(SUM(ABS(v - v_base)) AS BIGINT) AS sum_abs_err,
                   CAST(SUM(v) AS BIGINT) AS sum_actual,
                   CASE WHEN SUM(v) > 0
                        THEN CAST((1000000 * SUM(ABS(v - v_base)))
                                  // SUM(v) AS BIGINT)
                        END AS wape_ppm
            FROM scored GROUP BY 1 ORDER BY 1
        """,
        # Level-shift twin: the same two ROWS-frame sums, full-window
        # filter, and earliest-maximum argmax on (ts, event_id). The
        # output sums/score are CAST to BIGINT because DuckDB's
        # SUM(BIGINT) widens to HUGEINT (arrow decimal128), which a
        # dtype-sensitive hasher sees as a different value than Spark's
        # int64 even when numerically equal (the r10 driver red row).
        "events_level_shift": """
            WITH b AS (
              SELECT event_type AS key,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS v
              FROM events
            ), w AS (
              SELECT key, ts_us, event_id,
                     SUM(v) OVER (PARTITION BY key ORDER BY ts_us, event_id
                                  ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
                       AS sum_prev,
                     SUM(v) OVER (PARTITION BY key ORDER BY ts_us, event_id
                                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
                       AS sum_next,
                     COUNT(*) OVER (PARTITION BY key
                                    ORDER BY ts_us, event_id
                                    ROWS BETWEEN 8 PRECEDING
                                             AND 1 PRECEDING) AS np,
                     COUNT(*) OVER (PARTITION BY key
                                    ORDER BY ts_us, event_id
                                    ROWS BETWEEN CURRENT ROW
                                             AND 7 FOLLOWING) AS nn
              FROM b
            ), s AS (
              SELECT key, ts_us, sum_prev, sum_next, event_id,
                     ABS(sum_next - sum_prev) AS score
              FROM w WHERE np = 8 AND nn = 8
            ), r AS (
              SELECT key, ts_us, sum_prev, sum_next, score,
                     ROW_NUMBER() OVER (
                       PARTITION BY key
                       ORDER BY score DESC, ts_us, event_id) AS rn
              FROM s
            )
            SELECT key AS event_type, ts_us AS shift_ts_us,
                   CAST(score AS BIGINT) AS score,
                   CAST(sum_prev AS BIGINT) AS sum_prev,
                   CAST(sum_next AS BIGINT) AS sum_next
            FROM r WHERE rn = 1 ORDER BY 1
        """,
        # Floored-balance twin: prefix sum, running-min prefix, the same
        # closed form prefix - min(0, low).
        "user_balance_floored": """
            WITH b AS (
              SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                     event_id,
                     CASE WHEN event_type = 'purchase'
                          THEN -CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT)
                          ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100
                                    AS BIGINT) END AS delta
              FROM events
            ), p AS (
              SELECT user_id, ts_us, event_id, delta,
                     SUM(delta) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS prefix
              FROM b
            )
            SELECT user_id, ts_us, event_id, delta,
                   CAST(prefix - LEAST(0, MIN(prefix) OVER (
                     PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS balance
            FROM p ORDER BY 1, 2, 3
        """,
        # Equi-depth twin: the same ((rn-1)*k) div n bucket rule (NOT
        # NTILE — remainder placement differs), tie-order-invariant
        # bucket aggregates.
        "price_equidepth": """
            WITH b AS (
              SELECT l_returnflag AS key,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v
              FROM lineitem
            ), r AS (
              SELECT key, v,
                     ROW_NUMBER() OVER (PARTITION BY key ORDER BY v) AS rn,
                     COUNT(*) OVER (PARTITION BY key) AS n
              FROM b
            )
            SELECT key AS l_returnflag,
                   CAST(((rn - 1) * 8) // n AS INT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(v) AS min_v, MAX(v) AS max_v,
                   CAST(SUM(v) AS BIGINT) AS sum_v
            FROM r GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # KS twin: same per-(key, value) conditional counts, cumulative
        # windows, |cum_a*n_b - cum_b*n_a| maximized with the
        # smallest-value argmax; keys missing either cohort drop out.
        "price_ks_drift": """
            WITH b AS (
              SELECT l_returnflag AS key, l_linestatus AS g,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v
              FROM lineitem
              WHERE l_linestatus IN ('O', 'F')
            ), c AS (
              SELECT key, v,
                     SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS ca,
                     SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS cb
              FROM b GROUP BY 1, 2
            ), m AS (
              SELECT key, v,
                     SUM(ca) OVER (PARTITION BY key ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS cuma,
                     SUM(cb) OVER (PARTITION BY key ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS cumb,
                     SUM(ca) OVER (PARTITION BY key) AS n_a,
                     SUM(cb) OVER (PARTITION BY key) AS n_b
              FROM c
            ), s AS (
              SELECT key, v, n_a, n_b,
                     ABS(cuma * n_b - cumb * n_a) AS d_scaled
              FROM m WHERE n_a > 0 AND n_b > 0
            ), r AS (
              SELECT key, n_a, n_b, d_scaled, v,
                     ROW_NUMBER() OVER (PARTITION BY key
                                        ORDER BY d_scaled DESC, v) AS rn
              FROM s
            )
            SELECT key AS l_returnflag,
                   CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                   CAST(d_scaled AS BIGINT) AS d_scaled,
                   CAST((CAST(d_scaled AS HUGEINT) * 1000000)
                        // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
                     AS ks_ppm,
                   v AS at_value
            FROM r WHERE rn = 1 ORDER BY 1
        """,
        # Session-depth twin: the sessionization CTEs (whole-second +
        # event_id order, 12h gap), depths clamped at 10, ppm shares.
        "session_depth": """
            WITH e AS (
              SELECT user_id, event_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
              FROM events
            ), flagged AS (
              SELECT user_id, event_id, sec,
                     CASE WHEN LAG(sec) OVER w IS NULL
                               OR sec - LAG(sec) OVER w > 43200
                          THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
            ), sess AS (
              SELECT user_id,
                     SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY sec, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged
            ), per AS (
              SELECT user_id, session_seq, COUNT(*) AS n_events
              FROM sess GROUP BY 1, 2
            ), d AS (
              SELECT LEAST(n_events, 10) AS depth,
                     CAST(COUNT(*) AS BIGINT) AS n_sessions
              FROM per GROUP BY 1
            )
            SELECT CAST(depth AS BIGINT) AS depth, n_sessions,
                   CAST((1000000 * n_sessions)
                        // SUM(n_sessions) OVER () AS BIGINT) AS share_ppm
            FROM d ORDER BY 1
        """,
        # Incremental-ingest twin: the parity split IS the batch
        # assignment — a re-read or skip in ingest 2 mismatches.
        "supplier_incremental_ingest": """
            SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
                   CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 2 END
                     AS ingest_batch
            FROM supplier ORDER BY s_suppkey
        """,
        # Reconcile twin: decimal end-to-end line charges, LEFT join so
        # line-less orders report their full total as mismatch mass,
        # micro-unit integer diffs (the decimal is integer-valued at
        # that scale, so the cast loses nothing on either engine).
        "orders_reconcile": """
            WITH lt AS (
              SELECT l_orderkey AS k,
                     SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
                         * (1.00 + CAST(l_tax AS DECIMAL(4,2))))
                       AS line_total
              FROM lineitem GROUP BY 1
            ), j AS (
              SELECT o.o_orderstatus AS grp,
                     CAST((COALESCE(lt.line_total, 0)
                           - CAST(o.o_totalprice AS DECIMAL(18,2)))
                          * 1000000 AS HUGEINT) AS dm
              FROM orders o LEFT JOIN lt ON o.o_orderkey = lt.k
            )
            SELECT grp AS o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_facts,
                   CAST(SUM(CASE WHEN dm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_exact,
                   CAST(SUM(CASE WHEN dm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_mismatched,
                   CAST(SUM(ABS(dm)) AS BIGINT) AS sum_abs_diff_micro
            FROM j GROUP BY 1 ORDER BY 1
        """,
        # Coverage twin: the same running-max island sweep over
        # half-open 30-min leases, whole seconds.
        "user_activity_coverage": """
            WITH b AS (
              SELECT user_id AS key,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 + 1800 AS e
              FROM events
            ), f AS (
              SELECT key, s, e,
                     CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                          THEN 1 ELSE 0 END AS nw
              FROM b
              WINDOW w AS (PARTITION BY key ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
            ), isl AS (
              SELECT key, s, e,
                     SUM(nw) OVER (PARTITION BY key ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island
              FROM f
            ), per AS (
              SELECT key, island, COUNT(*) AS n,
                     MIN(s) AS iss, MAX(e) AS ie
              FROM isl GROUP BY 1, 2
            )
            SELECT key AS user_id,
                   CAST(SUM(n) AS BIGINT) AS n_intervals,
                   CAST(COUNT(*) AS BIGINT) AS n_islands,
                   CAST(SUM(ie - iss) AS BIGINT) AS covered,
                   CAST(MAX(ie) - MIN(iss) AS BIGINT) AS span,
                   CAST(MAX(ie) - MIN(iss) - SUM(ie - iss) AS BIGINT)
                     AS gap_total
            FROM per GROUP BY 1 ORDER BY 1
        """,
        # Streak twin: LAG islands on the (micros, event_id) total
        # order, per-(user, run) lengths, alphabet-sized rollup.
        "event_streaks": """
            WITH e AS (
              SELECT user_id, event_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
              FROM events
            ), f AS (
              SELECT user_id, event_type, ts_us, event_id,
                     CASE WHEN LAG(event_type) OVER w IS NULL
                               OR event_type <> LAG(event_type) OVER w
                          THEN 1 ELSE 0 END AS nw
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), r AS (
              SELECT user_id, event_type,
                     SUM(nw) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run
              FROM f
            ), per AS (
              SELECT user_id, run, event_type, COUNT(*) AS len
              FROM r GROUP BY 1, 2, 3
            )
            SELECT event_type,
                   CAST(SUM(len) AS BIGINT) AS n_events,
                   CAST(COUNT(*) AS BIGINT) AS n_runs,
                   CAST(MAX(len) AS BIGINT) AS max_run_len
            FROM per GROUP BY 1 ORDER BY 1
        """,
        # ann_cosine_lsh / ann_cosine_ivf remain rows-only here: their
        # bucketing is approximate by design, so their quality gate is the
        # recall-vs-bruteforce invariant queries (ann_lsh_recall /
        # ann_ivf_recall) instead of value parity.
        # born r18:
        "ann_rerank": _ANN_RERANK_SQL,
    }

