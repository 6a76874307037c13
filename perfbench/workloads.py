"""The workloads: inputs, one pass, correctness checks, trace hooks.

A pass drives the program only through the entry points its users and
tests already use: ``run.main`` (the CLI job) and
``__spark_entry__.queries()[key](spark, dir)``. Each workload object
holds the state of one run (input dir, generator properties, outputs of
the checked pass).
"""

from __future__ import annotations

import contextlib
import glob
import os
import sys
import time

from perfbench import gen
from perfbench.checks import compare_count, compare_rows, recall_at_k

import __spark_entry__ as entry
from lab_etl_batch_data_processing_pipeline__spark import artifacts
from lab_etl_batch_data_processing_pipeline__spark import run as cli
from lab_etl_batch_data_processing_pipeline__spark.operators import (
    cleaning,
    dedup_fuzzy,
    enrich,
    joins,
    metrics,
    metrics_sql,
    similarity,
    text,
)
from lab_etl_batch_data_processing_pipeline__spark.plans import corpus, pipeline
from lab_etl_batch_data_processing_pipeline__spark.sources import readers, writers


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def _rows(df) -> tuple[list[dict], list[str]]:
    return [r.asDict() for r in df.collect()], df.columns


class Workload:
    """One run's inputs and outputs. Subclasses define the pass."""

    name = ""
    keys: tuple[str, ...] = ()

    def __init__(self, work_dir: str, seed: int):
        self.dir = work_dir
        self.seed = seed
        self.props: dict = {}
        self.rows_in = 0
        self.outputs: dict = {}
        self.extra: dict = {}
        self.artifact_s: dict[str, float] = {}  # set-up time per artifact

    def generate(self) -> None:
        raise NotImplementedError

    def build_artifacts(self, spark) -> None:
        """Set-up after boot: the offline artifacts the pass reads."""

    def run_pass(self, spark, checked: bool) -> None:
        """One pass. ``checked`` keeps the outputs for :meth:`check`."""
        raise NotImplementedError

    def check(self, spark) -> dict[str, list[str]]:
        """Check name -> problems (empty list = passed)."""
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        """Wrap the layer functions this workload's pass calls."""

    def trace_metrics(self, spark, tracer) -> dict:
        return {}

    def trace_checks(self, derived: dict) -> dict[str, list[str]]:
        """Invariants of the traced pass: check name -> problems."""
        return {}


# ---------------------------------------------------------------------------
# medallion_etl
# ---------------------------------------------------------------------------

PRESENTATION = tuple(metrics_sql.METRIC_SQL)


class MedallionEtl(Workload):
    name = "medallion_etl"

    def generate(self) -> None:
        self.raw = os.path.join(self.dir, "raw")
        self.lake = os.path.join(self.dir, "lake")
        self.props = gen.medallion(self.raw, self.seed)
        self.rows_in = self.props["rows_in"]

    def run_pass(self, spark, checked: bool) -> None:
        # run.main prints progress lines; keep stdout for the result line
        with contextlib.redirect_stdout(sys.stderr):
            rc = cli.main(["--raw-dir", self.raw, "--out-dir", self.lake])
        if rc != 0:
            raise RuntimeError(f"run.main exited {rc}")

    def check(self, spark) -> dict[str, list[str]]:
        cur = lambda t: spark.read.parquet(os.path.join(self.lake, "curated", t))  # noqa: E731
        cab = cur("curated_apartment_bookings")
        want = metrics_sql.present_sql(spark, cab, cur("apartments"))
        out = {}
        for name in PRESENTATION:
            got = spark.read.parquet(os.path.join(self.lake, "presentation", name))
            out[f"present_sql:{name}"] = compare_rows(*_rows(got), *_rows(want[name]))
        from pyspark.sql import functions as F

        def n_null(c):
            return F.sum(F.col(c).isNull().cast("long"))

        b = cur("bookings").agg(
            F.count(F.lit(1)).alias("n"),
            *[n_null(c).alias(c) for c in ("booking_date", "checkin_date", "checkout_date")],
        ).first()
        j = cab.agg(n_null("total_price_usd").alias("usd"), n_null("title").alias("orphan")).first()
        p = self.props
        out["unique_bookings"] = compare_count("bookings", b["n"], p["bookings_unique"])
        for t in ("apartment_attributes", "apartments", "user_viewing"):
            out[f"unique_{t}"] = compare_count(t, cur(t).count(), p[f"{t}_unique"])
        for c in ("booking_date", "checkin_date", "checkout_date"):
            out[f"nulled_{c}"] = compare_count(c, b[c], p[f"bookings_malformed_{c}"])
        out["gbp_null_usd"] = compare_count("null total_price_usd", j["usd"], p["bookings_gbp"])
        out["orphan_bookings"] = compare_count("unmatched", j["orphan"], p["bookings_orphan"])
        raw_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.raw, "*.csv")))
        self.extra["bytes_out_per_byte_in"] = (_tree_bytes(self.lake)[0] / raw_bytes, "ratio")
        return out

    def instrument(self, tracer) -> None:
        known: dict[int, int] = {}  # id(DataFrame) -> rows, for rows-in lookups

        def remember(rec, args, kwargs, out):
            known[id(out)] = rec.rows

        def dropped(rec, args, kwargs, out):
            rec.attrs["rows_in"] = known.get(id(args[0]))
            remember(rec, args, kwargs, out)

        def read(rec, args, kwargs, out):
            rec.attrs["bytes"] = os.path.getsize(args[1])
            remember(rec, args, kwargs, out)

        def write(rec, args, kwargs, out):
            rec.attrs["bytes"], rec.attrs["files"] = _tree_bytes(args[1])

        def unmatched(rec, args, kwargs, out):
            from pyspark.sql import functions as F

            rec.attrs["unmatched"] = out.filter(F.col("title").isNull()).count()

        tracer.instrument(readers, "read_csv", "sources.readers", after=read)
        tracer.instrument(writers, "write_parquet", "sources.writers", after=write)
        tracer.instrument(pipeline, "curate", "plans.pipeline")
        tracer.instrument(pipeline, "present", "plans.pipeline")
        tracer.instrument(cleaning, "dedup_exact", "operators.cleaning", after=dropped)
        tracer.instrument(cleaning, "normalize_dates", "operators.cleaning", after=dropped)
        tracer.instrument(enrich, "convert_currency", "operators.enrich")
        tracer.instrument(
            joins, "curated_apartment_bookings", "operators.joins", post=unmatched
        )
        for fname in (
            "avg_listing_price_weekly", "occupancy_rate_monthly",
            "popular_locations_weekly", "top_revenue_weekly", "bookings_per_user",
            "avg_duration_monthly", "repeat_customer_rate_monthly",
        ):
            tracer.instrument(metrics, fname, "operators.metrics")

    def trace_metrics(self, spark, tracer) -> dict:
        spans = tracer.spans
        by = lambda layer: [s for s in spans if s.layer == layer]  # noqa: E731
        clean = [s for s in by("operators.cleaning") if s.attrs.get("rows_in")]
        # rows entering the layer are the raw rows dedup_exact reads
        rows_in = sum(s.attrs["rows_in"] for s in clean if s.name.endswith(".dedup_exact"))
        dropped = sum(s.attrs["rows_in"] - s.rows for s in clean)
        join = by("operators.joins")
        return {
            "sources.readers.bytes_in": sum(s.attrs["bytes"] for s in by("sources.readers")),
            "sources.writers.bytes_out": sum(s.attrs["bytes"] for s in by("sources.writers")),
            "sources.writers.files_out": sum(s.attrs["files"] for s in by("sources.writers")),
            "check.rows_dropped": dropped,
            "operators.cleaning.rows_dropped_frac": dropped / rows_in if rows_in else 0.0,
            "operators.joins.unmatched_frac": (
                sum(s.attrs["unmatched"] for s in join) / sum(s.rows for s in join)
                if join else 0.0
            ),
        }

    def trace_checks(self, derived: dict) -> dict[str, list[str]]:
        # cleaning drops exactly the planted duplicate rows, nothing else
        want = sum(self.props[f"{t}_dups"] for t in gen.RAW_TABLE_NAMES)
        return {"rows_dropped": compare_count(
            "rows dropped by cleaning", derived["check.rows_dropped"], want)}


# ---------------------------------------------------------------------------
# corpus_vector: registry keys over a generated table dir
# ---------------------------------------------------------------------------


#: documents in the corpus, and vectors aligned with them (vec_id = doc_id)
CORPUS_ROWS = 1500

#: span kind of each wrapped vector-layer function
VECTOR_KINDS = {
    "cosine_topk_bruteforce": "exact",
    "cosine_topk_ivf": "ivf",
    "crossencoder_rerank": "rerank",
}


class CorpusVector(Workload):
    """Registry keys over a generated table dir; the checked pass collects,
    the others use the noop sink (full computation, no transfer to the
    driver)."""

    name = "corpus_vector"
    keys = (
        "corpus_prep", "near_dup_jaccard", "ann_cosine_topk", "ann_cosine_ivf",
        "ann_rerank",
    )

    def generate(self) -> None:
        self.props = {
            **gen.documents(self.dir, self.seed, CORPUS_ROWS),
            **gen.embeddings(self.dir, self.seed, CORPUS_ROWS),
        }
        self.rows_in = 2 * CORPUS_ROWS  # documents + vectors

    def build_artifacts(self, spark) -> None:
        """The offline artifacts the keys read, built and published the way
        ``artifacts.prebuild_indexes`` builds them: the Jaccard token sketch
        (corpus_prep, near_dup_jaccard) and the IVF index (ann_cosine_ivf).
        prebuild_indexes itself also fits PQ and IVF-PQ codebooks, MinHash
        signatures, quality-classifier weights and the ANN ground truth,
        which no key here reads (~50 s on 4 cores)."""
        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        t = time.perf_counter()
        sk_dir = artifacts._toksketch_dir(self.dir)
        dedup_fuzzy.token_sketch(docs, length_bucket=artifacts._TOKSKETCH_LB).write.mode(
            "overwrite").parquet(os.path.join(sk_dir, "sketch"))
        with open(os.path.join(sk_dir, "_BUILT"), "w") as marker:
            marker.write("ok\n")
        self.artifact_s["token_sketch"] = time.perf_counter() - t
        t = time.perf_counter()
        p = artifacts._IVF_PARAMS
        similarity.build_ivf_index(
            spark.read.parquet(os.path.join(self.dir, "embeddings.parquet")),
            nlist=p["nlist"], seed=p["seed"], max_iter=p["max_iter"],
            index_dir=artifacts._ivf_index_dir(self.dir), deterministic=p["deterministic"],
        )
        self.artifact_s["ivf_index"] = time.perf_counter() - t

    def run_pass(self, spark, checked: bool) -> None:
        queries = entry.queries()
        for key in self.keys:
            self.run_key(spark, queries[key], key, checked)

    def run_key(self, spark, fn, key: str, checked: bool) -> None:
        df = fn(spark, self.dir)  # keep a reference while it materializes
        if checked:
            self.outputs[key] = _rows(df)
        else:
            df.write.format("noop").mode("overwrite").save()

    def check(self, spark) -> dict[str, list[str]]:
        import duckdb

        oracles = entry.oracle_sql()
        out = {}
        with duckdb.connect() as con:
            for path in sorted(glob.glob(os.path.join(self.dir, "*.parquet"))):
                table = os.path.basename(path)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for key in self.keys:
                if key not in self.outputs:
                    out[f"oracle:{key}"] = ["no output from the checked pass"]
                    continue
                arrow = con.execute(oracles[key]).fetch_arrow_table()
                out[f"oracle:{key}"] = compare_rows(
                    *self.outputs[key], arrow.to_pylist(), arrow.column_names
                )
        if "ann_cosine_topk" in self.outputs and "ann_cosine_ivf" in self.outputs:
            self.extra["recall_at_5"] = (recall_at_k(
                self.outputs["ann_cosine_topk"][0], self.outputs["ann_cosine_ivf"][0]
            ), "ratio")
        return out

    def instrument(self, tracer) -> None:
        tracer.instrument(corpus, "corpus_prep", "plans.corpus")
        for fname in ("doc_stats", "fingerprint"):
            tracer.instrument(text, fname, "operators.text")
        tracer.instrument(cleaning, "dedup_by_keys", "operators.cleaning")
        for fname in ("jaccard_near_dups", "near_dup_degree"):
            tracer.instrument(dedup_fuzzy, fname, "operators.dedup_fuzzy")
        for fname, kind in VECTOR_KINDS.items():
            tracer.instrument(similarity, fname, "operators.similarity", kind=kind)

    def trace_metrics(self, spark, tracer) -> dict:
        with tracer.span("bench.block_stats", "bench"):
            docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
            stats = dedup_fuzzy.jaccard_block_stats(docs)
            candidates = stats.groupBy().sum("n_candidate_pairs").first()[0] or 0
        by_id = {s.id: s for s in tracer.spans}
        # the verify pairs kept by near_dup_jaccard's all-documents pass
        kept = sum(
            s.rows or 0 for s in tracer.spans
            if s.name.endswith(".jaccard_near_dups")
            and s.parent is not None
            and by_id[s.parent].name.endswith(".near_dup_degree")
        )
        prep = [s for s in tracer.spans if s.layer == "plans.corpus"]
        return {
            "operators.dedup_fuzzy.candidate_pairs": candidates,
            "operators.dedup_fuzzy.pair_yield": kept / candidates if candidates else 0.0,
            "check.docs_kept": [s.rows for s in prep],
            "plans.corpus.docs_kept_frac": (
                sum(s.rows for s in prep) / (CORPUS_ROWS * len(prep)) if prep else 0.0
            ),
        }

    def trace_checks(self, derived: dict) -> dict[str, list[str]]:
        # the funnel keeps exactly the documents of the oracle-checked output
        want = len(self.outputs["corpus_prep"][0]) if "corpus_prep" in self.outputs else None
        got = derived["check.docs_kept"]
        return {"docs_kept": [] if got and all(n == want for n in got) else
                [f"corpus_prep kept {got} documents, the checked pass {want}"]}


WORKLOADS = {w.name: w for w in (MedallionEtl, CorpusVector)}
