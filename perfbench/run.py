"""Benchmark command: one seeded workload per run, one JSON result line.

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. A run generates its inputs from
``--seed`` under ``.perfbench/`` (never touching the ``sf*`` testdata
caches or other workloads' artifact caches), boots one Spark session the way the
program does (``session.get_spark``, ``local[nproc]``), and then:

1. set-up: session boot plus the offline artifacts the workload reads
   (``setup_s``);
2. cold pass: the first pass in the fresh session; it is also the
   warm-up, and its outputs are the ones checked for correctness;
3. warm passes: a new one starts while ``--seconds`` have not passed
   since the first began;
4. correctness checks (outside every timed window);
5. with ``--trace 1``, instead of step 3: one untraced and one traced
   warm pass with the Spark UI on; the traced pass opens spans around
   the layer calls (perfbench/tracing.py) and reads Spark's per-stage
   counters.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Lines before it are a human-readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PROGRAM_FILES = (
    "__spark_entry__.py",
    "bench.py",
    "tools/oracle_check.py",
    "lab_etl_batch_data_processing_pipeline__spark/session.py",
)
#: hard stop well inside the 180 s a run may take
DEADLINE_S = 170


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------------------
# process tree: peak RSS while armed, and waiting for every child to end
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the
    driver JVM and Python workers), sampled only while ``armed``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.armed = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.armed:
                total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
                self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait until
    it and every other child process have ended."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 15
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# ---------------------------------------------------------------------------
# artifact-cache hygiene
# ---------------------------------------------------------------------------


def purge_caches(tag_prefix: str) -> None:
    """Delete this input dir's cache tags under the program's ``.cache``.

    The program tags per-input caches ``<dir basename>-<mtime>-<size>...``
    and sweeps tags sharing the text before the first ``-``. Input dir
    basenames here are ``pb_<workload>_s<seed>`` (no ``-``), so neither
    this purge nor the program's sweep can reach the ``sf*`` caches or
    another workload's or seed's caches."""
    cache = os.path.join(ROOT, ".cache")
    for dirpath, dirnames, _ in os.walk(cache):
        for d in list(dirnames):
            if d.startswith(tag_prefix + "-"):
                shutil.rmtree(os.path.join(dirpath, d), ignore_errors=True)
                dirnames.remove(d)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, workload_cls, seed: int, seconds: float, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tag = f"pb_{workload_cls.name}_s{seed}"
        self.wl = workload_cls(os.path.join(WORK, self.tag), seed)

    def op(self, what: str, fn) -> float | None:
        """Run one operation, counting it; a raise counts as failed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # the run goes on; the failure is reported
            self.failed += 1
            self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
            return None
        return time.perf_counter() - t

    def do_pass(self, spark, checked: bool) -> float | None:
        return self.op(f"pass(checked={checked})", lambda: self.wl.run_pass(spark, checked))

    def execute(self) -> dict:
        import bench  # host-contention receipts, shared with the 171-key sweep
        from lab_etl_batch_data_processing_pipeline__spark.session import get_spark

        shutil.rmtree(self.wl.dir, ignore_errors=True)
        purge_caches(self.tag)
        self.wl.generate()

        env = bench.env_block(None)  # pre-boot loadavg and memory
        ticks0 = bench._cpu_ticks()
        rep: dict = {"workload": self.wl.name, "seed": self.seed, "inputs": self.wl.props}
        with RssSampler() as rss:
            spark = None
            try:
                boot = time.perf_counter()
                spark = get_spark(f"perfbench-{self.wl.name}")
                boot_s = time.perf_counter() - boot
                spark.sparkContext.setLogLevel("ERROR")
                artifacts_s = self.op("artifacts", lambda: self.wl.build_artifacts(spark))

                rss.armed = True
                cold = self.do_pass(spark, checked=True)
                # warm passes: a new one starts while the window is open;
                # the traced run measures its own two passes instead
                warm: list[float] = []
                start = time.perf_counter()
                while not self.trace and time.perf_counter() - start < self.seconds:
                    t = self.do_pass(spark, checked=False)
                    if t is None:
                        break
                    warm.append(t)
                rss.armed = False

                checks = time.perf_counter()
                for name, problems in self.wl.check(spark).items():
                    self.attempted += 1
                    if problems:
                        self.failed += 1
                        self.errors.append(f"check {name}: {'; '.join(problems)}"[:500])
                rep["checks_s"] = time.perf_counter() - checks
                if self.trace:
                    rep["trace"] = self.traced(spark, boot_s, artifacts_s or 0.0)
                env.update(
                    {k: v for k, v in bench.env_block(spark).items() if k not in env}
                )
            finally:
                if spark is not None:
                    stop_spark(spark)
                purge_caches(self.tag)
                shutil.rmtree(self.wl.dir, ignore_errors=True)
        ticks1 = bench._cpu_ticks()
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            env["cpu_steal_pct"] = round(100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 2)
        warnings = []
        if env.get("loadavg_1m", 0) >= 2.0:
            warnings.append(f"host loaded before boot (loadavg_1m={env['loadavg_1m']})")
        if env.get("cpu_steal_pct", 0) >= 1.0:
            warnings.append(f"hypervisor stole {env['cpu_steal_pct']}% of cpu")
        rep["host"] = env
        if warnings:
            rep["load_warning"] = "; ".join(warnings)

        job_s = _median(warm)
        cold_s = cold or 0.0
        rep["passes"] = {"cold_s": cold, "warm_s": warm}
        rep["end_to_end"] = {
            "setup_s": (boot_s + (artifacts_s or 0.0), "s"),
            "job_s": (job_s, "s"),
        }
        # not bounded in BENCHMARK.json: see perfbench/README.md
        rep["report_only"] = {
            "rows_per_s": (self.wl.rows_in / job_s if job_s else 0.0, "rows/s"),
            "cold_pass_s": (cold_s, "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
            "failed_frac": (self.failed / max(self.attempted, 1), "ratio"),
            "warm_passes": (len(warm), "count"),
            **self.wl.extra,
        }
        rep["session_boot_s"] = boot_s
        rep["artifacts_s"] = {"total": artifacts_s, **self.wl.artifact_s}
        rep["attempted"], rep["failed"] = self.attempted, self.failed
        rep["errors"] = self.errors
        return rep

    def traced(self, spark, boot_s: float, artifacts_s: float) -> dict:
        import __spark_entry__ as entry
        from perfbench import tracing

        untraced = self.do_pass(spark, checked=False)
        tracer = tracing.Tracer(spark.sparkContext)
        self.wl.instrument(tracer)
        try:
            t0 = time.perf_counter()
            with tracer.span(f"job.{self.wl.name}", "job"):
                queries = entry.queries()
                for key in self.wl.keys:
                    with tracer.span(f"query.{key}", "query"):
                        self.op(
                            f"traced {key}",
                            lambda key=key: self.wl.run_key(spark, queries[key], key, False),
                        )
                if not self.wl.keys:
                    with tracer.span("query.run_main", "query"):
                        self.do_pass(spark, checked=False)
            traced_s = time.perf_counter() - t0
            derived = self.wl.trace_metrics(spark, tracer)
        finally:
            tracer.restore()
            tracer.release()
        for name, problems in self.wl.trace_checks(derived).items():
            self.attempted += 1
            if problems:
                self.failed += 1
                self.errors.append(f"trace check {name}: {'; '.join(problems)}"[:500])
        stats = tracing.spark_span_stats(spark.sparkContext, tracer.spans)
        self_s = tracing.self_times(tracer.spans)
        return {
            "boot_s": boot_s,
            "artifacts_s": artifacts_s,
            "untraced_s": untraced,
            "traced_s": traced_s,
            "derived": derived,
            "spans": [
                {**vars(s), "self_s": self_s.get(s.id, 0.0), "spark": stats.get(s.id)}
                for s in tracer.spans
            ],
        }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def per_layer_metrics(tr: dict, cores: int) -> dict[str, float]:
    """Every per-layer value the traced run computes from the trace ``tr``
    (same names on every workload; 0 where a workload does not reach the
    layer)."""
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    spans = tr["spans"]
    values: dict[str, float] = {}
    values["session.boot_s"] = tr["boot_s"]
    values["artifacts.prebuild_s"] = tr["artifacts_s"]

    def self_of(pred) -> float:
        return sum(s["self_s"] for s in spans if pred(s))

    for layer in ("operators.cleaning", "operators.enrich", "operators.joins",
                  "operators.metrics", "operators.text", "operators.dedup_fuzzy",
                  "plans.corpus", "operators.similarity"):
        values[f"{layer}.self_s"] = self_of(lambda s, layer=layer: s["layer"] == layer)
    values["sources.readers.read_s"] = self_of(lambda s: s["layer"] == "sources.readers")
    values["sources.writers.write_s"] = self_of(lambda s: s["layer"] == "sources.writers")
    values["plans.pipeline.curate_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "plans.pipeline.curate")
    values["plans.pipeline.present_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "plans.pipeline.present")
    for kind in ("exact", "ivf", "rerank"):
        values[f"operators.similarity.{kind}_s"] = self_of(
            lambda s, kind=kind: s["layer"] == "operators.similarity"
            and s["attrs"].get("kind") == kind)
    for key in (k for w in WORKLOADS.values() for k in w.keys):
        values[f"query.{key}_s"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == f"query.{key}")
    values.update(tr["derived"])
    # Spark counters: every span's own jobs, benchmark-side spans excluded
    counted = [s for s in spans if s["layer"] != "bench" and s["spark"]]
    for c in tracing.SPARK_COUNTERS:
        values[f"spark.{c}"] = sum(s["spark"][c] for s in counted)
    bench_s = sum(s["end"] - s["start"] for s in spans if s["layer"] == "bench"
                  and s["parent"] is not None)
    values["spark.idle_frac"] = tracing.idle_frac(
        values["spark.executor_run_s"], tr["traced_s"] - bench_s, cores)
    values["trace.job_s_untraced"] = tr["untraced_s"] or 0.0
    values["trace.job_s_traced"] = tr["traced_s"]
    values["trace.overhead_s"] = tr["traced_s"] - (tr["untraced_s"] or 0.0)
    return values


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program not found in {ROOT} (missing {missing})", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    cores = _nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_UI_ENABLED"] = "true" if args.trace else "false"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    sys.path.insert(0, ROOT)

    from perfbench.workloads import WORKLOADS

    rep = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace)).execute()
    signal.alarm(0)
    if args.trace:
        values = per_layer_metrics(rep["trace"], cores)
        out = {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_file = os.path.join(WORK, "traces", f"{args.workload}_s{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump(rep, fh, indent=1, default=str)
        rep["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        out = {
            m["name"]: {"value": rep["end_to_end"][m["name"]][0], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    rep.pop("trace", None)
    for line in json.dumps(rep, indent=1, default=str).splitlines():
        print(f"# {line}")
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": max(1, rep["attempted"]),
        "failed": rep["failed"],
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
