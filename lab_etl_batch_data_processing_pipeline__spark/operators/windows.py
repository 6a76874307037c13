"""Window-function operators: running totals, per-group normalization,
distribution summaries (engine extension; the reference's only window is
M7's LAG, SURVEY.md §2.5).

Per-key operators are single-shuffle: each hash-partitions once on its
key and computes every windowed column inside that partitioning.
Global / few-valued rank surfaces go through global_rank_two_phase
instead — a range shuffle + broadcast offsets — because an empty (or
5-valued) partition spec funnels the frame through one task at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_totals(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    amount_col: str,
) -> DataFrame:
    """Per-key cumulative sequence number and running amount sum.

    The running sum goes through DECIMAL so every prefix is exact —
    float prefix sums would drift differently per partition layout.
    """
    w_order = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        F.col(key_col),
        *[F.col(c) for c in order_cols],
        F.row_number().over(w_order).alias("seq"),
        F.round(
            F.sum(F.col(amount_col).cast("decimal(18,4)")).over(w_cum), 2
        )
        .cast("double")
        .alias("running_amount"),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    window_rows: int = 8,
    scale: int = 256,
) -> DataFrame:
    """Per-key exponentially weighted moving average over the trailing
    ``window_rows`` rows — the time-decayed feature a training pipeline
    attaches to event streams (recent behavior outweighs old), without
    the cross-engine float drift EWMAs usually carry.

    Exactness: the usual recursive EWMA (a*x + (1-a)*prev) accumulates
    float error that depends on partition replay order. Here weights
    are powers of two over a bounded window: row i of the frame
    (oldest = 0) weighs 2^i, so with values fixed-pointed to
    ``scale`` (round(value * scale), scale a power of two — the
    multiply is exact, and HALF_UP equals DuckDB's half-away for
    non-negative values) numerator and denominator are exact BIGINTs:
    num = sum(v_i * 2^i), den = 2^m - 1 for the m rows present. The
    reported fixed-point ``ewma_ppm` = floor(1e6 * num / den) runs one
    multiply and one divide in IEEE doubles under a fixed
    parenthesization — bit-identical on any engine, no rounding
    boundary (floor, not round).

    One shuffle (hash-partition by key), one in-partition sort; the
    trailing frame is O(window_rows) per row. ``order_cols`` must be a
    total order within each key or collect_list's frame order is
    nondeterministic.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(window_rows - 1), 0)
    )
    v_int = F.round(F.col(value_col) * scale).cast("long")
    arr = F.collect_list(v_int).over(w)
    weighted = F.transform(
        arr, lambda x, i: x * F.pow(F.lit(2.0), i.cast("double")).cast("long")
    )
    num = F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x)
    den = F.pow(F.lit(2.0), F.size(arr).cast("double")).cast("long") - 1
    return df.select(
        F.col(key_col),
        *[F.col(c) for c in order_cols],
        F.size(arr).cast("int").alias("n_in_window"),
        num.alias("ewma_num"),
        den.alias("ewma_den"),
        F.floor((F.lit(1000000.0) * num) / den).cast("long").alias("ewma_ppm"),
    )


def zscore_normalize(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_cols: list[str],
    decimals: int = 4,
) -> DataFrame:
    """Per-group z-score of ``value_col`` ((v - mean) / sample stddev).

    Pure window form (codegen, one shuffle on the key). Groups with a
    single row or zero variance yield NULL (stddev undefined/zero).
    See pandas_ops.zscore_grouped for the applyInPandas twin.
    """
    w = Window.partitionBy(key_col)
    mean = F.avg(F.col(value_col)).over(w)
    std = F.stddev_samp(F.col(value_col)).over(w)
    return df.select(
        *[F.col(c) for c in id_cols],
        F.col(key_col),
        F.col(value_col),
        F.round(
            F.when(std != 0.0, (F.col(value_col) - mean) / std), decimals
        ).alias("zscore"),
    )


def rolling_window_sum(
    df: DataFrame,
    key_col: str,
    day_col: str,
    amount_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Calendar-aware rolling aggregates via a RANGE window frame:
    per (key, day), the amount sum and row count over the trailing
    ``window_days`` CALENDAR days — days with no rows still age out of
    the frame, which a rowsBetween frame gets wrong (it counts ROWS, so
    gaps silently stretch the window's time span).

    Two windowed passes, one shuffle: a daily pre-aggregate first (the
    range frame then slides over day-grain rows — at most one row per
    (key, day), so frame evaluation is O(days), not O(orders)), then the
    RANGE frame over the integer day index. Decimal sums keep every
    frame total exact and parallelism-independent.
    """
    day = F.datediff(F.col(day_col).cast("date"), F.lit("1970-01-01").cast("date"))
    daily = (
        df.select(
            F.col(key_col),
            day.alias("day_idx"),
            F.col(day_col).cast("date").alias("day_date"),
            F.col(amount_col).cast("decimal(18,4)").alias("__amt"),
        )
        .groupBy(key_col, "day_idx", "day_date")
        .agg(
            F.sum("__amt").alias("__day_amt"),
            F.count(F.lit(1)).alias("day_rows"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("day_idx")
        .rangeBetween(-(window_days - 1), 0)
    )
    return (
        daily.select(
            F.col(key_col),
            F.col("day_date"),
            F.round(F.col("__day_amt"), 2).cast("double").alias("day_amount"),
            F.col("day_rows"),
            F.round(F.sum("__day_amt").over(w), 2)
            .cast("double")
            .alias("rolling_amount"),
            F.sum("day_rows").over(w).alias("rolling_rows"),
        )
        .orderBy(key_col, "day_date")
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    interval_seconds: int,
    tiebreak_col: str | None = None,
    chunk_ticks: int | None = None,
) -> DataFrame:
    """Resample an irregular per-key time series onto a fixed grid with
    forward-fill — the gap-filling operator rolling_window_sum's
    calendar frames deliberately do NOT provide (a RANGE frame ages
    values out; dashboards and feature stores need "last known value at
    every tick" instead).

    Shape: per key, the grid spans floor(min_ts) .. floor(max_ts) at
    ``interval_seconds`` (one dimension-sized aggregate + a per-key
    ``sequence`` explode — grid rows, not data rows, dominate the output
    so pick the interval to taste); observed values aggregate per tick
    (last wins by max ts) and gaps fill via ``last(value, ignorenulls)``
    over the per-key ordered window. Leading gaps (before a key's first
    observation) stay NULL — honest "no data yet", not zero.

    ``tiebreak_col`` makes "last observation in a tick" deterministic
    when timestamps collide (e.g. a monotonic event id) — without it,
    max-by on a duplicated ts picks an arbitrary row at any engine.
    Emits (key, tick_ts, value, is_observed); one (key, tick) ranking
    window plus the per-key ffill window — both hash on the key family.

    SKEW BOUND: the ffill window partitions by KEY, so one hot key (a
    single series with 10^8 ticks) serializes its whole grid into one
    task. Fine for user/device-keyed data where per-key cardinality is
    bounded; for unbounded single series pass ``chunk_ticks=N`` — the
    grid-chunked form: each key's grid splits into ranges of N ticks,
    ffill runs per (key, chunk) at N-bounded task size, and the last
    known value carries across chunk boundaries via one extra
    chunk-level window (#chunks rows per key, i.e. grid/N — e.g. a
    10^8-tick series at N=10^5 leaves a 10^3-row serial pass instead of
    10^8). Output is identical to the plain form (pinned by
    tests/test_scd_profiling.py::test_resample_ffill_chunked_matches_plain).
    """
    tick = (F.floor(F.col(ts_col).cast("double") / interval_seconds)
            * interval_seconds).cast("long")
    order = [F.col("__ts").desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w_last = Window.partitionBy("key", "tick_ts").orderBy(*order)
    obs = (
        df.select(
            F.col(key_col).alias("key"),
            tick.alias("tick_ts"),
            F.col(ts_col).cast("double").alias("__ts"),
            F.col(value_col).alias("__v"),
            *([tiebreak_col] if tiebreak_col else []),
        )
        .withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select("key", "tick_ts", F.col("__v").alias("observed"))
    )
    spans = obs.groupBy("key").agg(
        F.min("tick_ts").alias("__lo"), F.max("tick_ts").alias("__hi")
    )
    grid = spans.select(
        "key",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(interval_seconds))
        ).alias("tick_ts"),
    )
    if chunk_ticks is None:
        w = (
            Window.partitionBy("key")
            .orderBy("tick_ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            grid.join(obs, ["key", "tick_ts"], "left")
            .select(
                "key",
                "tick_ts",
                F.last("observed", ignorenulls=True).over(w).alias("value"),
                F.col("observed").isNotNull().alias("is_observed"),
            )
            .orderBy("key", "tick_ts")
        )
    # Grid-chunked form: ffill within (key, chunk) — task size bounded at
    # chunk_ticks rows — then carry the last observation across chunk
    # boundaries with a window over CHUNKS (grid/chunk_ticks rows per
    # key), and take whichever is closer.
    chunk_span = chunk_ticks * interval_seconds
    chunk = F.floor(F.col("tick_ts") / chunk_span).alias("__chunk")
    w_chunk = (
        Window.partitionBy("key", "__chunk")
        .orderBy("tick_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = (
        grid.join(obs, ["key", "tick_ts"], "left")
        .withColumn("__chunk", chunk)
        .withColumn("__ffill", F.last("observed", ignorenulls=True).over(w_chunk))
    )
    # last observed value of each chunk — max-by tick among NON-NULL
    # observations (a NULL-valued observation must not erase an earlier
    # value from the carry: the plain form's last(ignorenulls) skips it,
    # so the chunk summary must too); NULL for chunks with none
    chunk_last = (
        obs.filter(F.col("observed").isNotNull())
        .withColumn("__chunk", chunk)
        .groupBy("key", "__chunk")
        .agg(
            F.max(F.struct("tick_ts", "observed"))["observed"].alias("__last_obs")
        )
    )
    # ... forward-filled over PRIOR chunks only = the carry-in each chunk
    # inherits when its own prefix has no observation yet
    w_carry = (
        Window.partitionBy("key")
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        within.select("key", "__chunk").distinct()
        .join(chunk_last, ["key", "__chunk"], "left")
        .withColumn(
            "__carry", F.last("__last_obs", ignorenulls=True).over(w_carry)
        )
        .select("key", "__chunk", "__carry")
    )
    return (
        within.join(carry, ["key", "__chunk"])
        .select(
            "key",
            "tick_ts",
            F.coalesce(F.col("__ffill"), F.col("__carry")).alias("value"),
            F.col("observed").isNotNull().alias("is_observed"),
        )
        .orderBy("key", "tick_ts")
    )


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    interval_seconds: int,
    scale: int = 1024,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Resample an irregular per-key series onto a fixed grid with
    LINEAR interpolation between observed anchors — the companion to
    :func:`resample_ffill` for quantities that trend between readings
    (a forward-fill holds a stale value flat; sensors, prices, and
    rates want the line between anchors).

    Exactness (what makes this row hash-checkable across engines):
    observations fix-point to ``round(value * scale)`` BIGINTs (scale a
    power of two — the multiply is exact, and HALF_UP equals DuckDB's
    half-away for the non-negative values this operator requires), and
    each gap tick evaluates

        (prev_s*(next_t - t) + next_s*(t - prev_t)) div (next_t - prev_t)

    — both weights non-negative, so integer division truncates
    identically (== floor) on any engine, with NO float in the path.
    The common interval factor cancels inside the div, so gap length
    never divides first.

    Grid spans each key's [floor(min_ts), floor(max_ts)] ticks, so
    every interior tick has both anchors: no extrapolation ever
    happens. Per-tick last observation wins (``tiebreak_col`` makes
    ties deterministic, same rule as resample_ffill).

    Emits (key, tick_ts, value_s, is_observed). Shape: one (key, tick)
    ranking window + two per-key ordered windows (prev/next anchor) —
    same single-key skew bound as resample_ffill; the chunk_ticks
    carry trick composes identically if a single series outgrows a
    task.
    """
    tick = (F.floor(F.col(ts_col).cast("double") / interval_seconds)
            * interval_seconds).cast("long")
    order = [F.col("__ts").desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w_last = Window.partitionBy("key", "tick_ts").orderBy(*order)
    obs = (
        df.select(
            F.col(key_col).alias("key"),
            tick.alias("tick_ts"),
            F.col(ts_col).cast("double").alias("__ts"),
            F.round(F.col(value_col) * scale).cast("long").alias("__vs"),
            *([tiebreak_col] if tiebreak_col else []),
        )
        .withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select("key", "tick_ts", F.col("__vs").alias("obs_s"))
    )
    spans = obs.groupBy("key").agg(
        F.min("tick_ts").alias("__lo"), F.max("tick_ts").alias("__hi")
    )
    grid = spans.select(
        "key",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(interval_seconds))
        ).alias("tick_ts"),
    )
    w_prev = (
        Window.partitionBy("key")
        .orderBy("tick_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("key")
        .orderBy("tick_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    anchored = (
        grid.join(obs, ["key", "tick_ts"], "left")
        .select(
            "key",
            "tick_ts",
            "obs_s",
            F.last("obs_s", ignorenulls=True).over(w_prev).alias("prev_s"),
            F.last(
                F.when(F.col("obs_s").isNotNull(), F.col("tick_ts")),
                ignorenulls=True,
            ).over(w_prev).alias("prev_t"),
            F.first("obs_s", ignorenulls=True).over(w_next).alias("next_s"),
            F.first(
                F.when(F.col("obs_s").isNotNull(), F.col("tick_ts")),
                ignorenulls=True,
            ).over(w_next).alias("next_t"),
        )
    )
    interp = F.expr(
        "(prev_s * (next_t - tick_ts) + next_s * (tick_ts - prev_t))"
        " div (next_t - prev_t)"
    )
    return anchored.select(
        "key",
        "tick_ts",
        F.when(F.col("obs_s").isNotNull(), F.col("obs_s"))
        .otherwise(interp)
        .alias("value_s"),
        F.col("obs_s").isNotNull().alias("is_observed"),
    )


def global_rank_two_phase(
    df: DataFrame,
    order_exprs: list,
    group_cols: list[str] | None = None,
    cum_col: str | None = None,
    num_partitions: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed global row_number over a TOTAL order — the two-phase
    replacement for ``Window.orderBy(...)`` with an empty (or
    few-valued) partition spec, which funnels the whole frame through
    one task (the pack_offsets anti-pattern, operators/text.py): at
    100 TB a global NTILE over customers or parts moves every row
    through a single sort.

    Two phases, both distributed:

    1. ``repartitionByRange(group_cols + order_exprs)`` makes range
       partitions that are contiguous in the global order (equal keys
       land together; groups are contiguous across partitions). A local
       in-partition sort + ``monotonically_increasing_id`` yields each
       row's position inside its partition with ZERO further shuffle:
       only DIFFERENCES of the id within one partition are consumed
       (``__idx - min(__idx)`` per (pid, group)), so no bit-layout
       assumption is baked in — any per-partition consecutive counter
       works, whatever future Spark puts in the high bits.
    2. per-(partition, group) counts — a tiny frame of at most
       ``num_partitions + n_groups - 1`` rows (group ranges are
       contiguous, so partitions rarely split a group) — give each
       partition its cumulative offset via a bounded self-join
       (earlier-pid rows of the same group), NOT a single-partition
       window: the registry's global-window plan gate stays clean and
       the prefix is an order-independent integer sum. The offsets
       broadcast back; global rank = offset + in-partition position.

    When ``cum_col`` is given (a running-sum consumer like
    revenue_pareto), a third pass derives the running sum FROM the
    rank: rows bucket by ``(__grank - 1) div B`` — a DETERMINISTIC,
    exactly-balanced, rank-contiguous partitioning (B sized so each
    group splits into ~4·n buckets) — then the same bounded
    prefix-offset self-join runs over per-bucket sums and one window
    partitioned by (group, bucket) adds the within-bucket prefix.
    This replaces the r17 design (a window partitioned by the
    nondeterministic physical pid BEFORE positions existed), which
    cost a full-width hash exchange whose 32-to-32 ``hash(pid)``
    bucketing collided into skewed reducers, plus a second full-width
    materialization carrying per-row __lrank/__lcum; the bucket window
    exchanges only (keys, cum, rank) and needs no checkpoint at all —
    every input to it is deterministic given the phase-1 checkpoint.

    ``key_cols`` (optional; names of the plain columns the
    ``order_exprs`` reference — i.e. the total-order key) engages the
    NARROW-FRAME plan: the phases run on just (groups ∪ key_cols ∪
    cum_col) and the payload joins back by the unique key afterwards,
    so the range exchange and the positioned-frame checkpoint carry
    the key columns only — the r17 verdict's watch item was exactly
    this checkpoint written at full input width while phase 2 reads a
    handful of columns. The join-back is a key-equality join of two
    deterministic-given-checkpoint frames (the payload branch carries
    NO nondeterministic columns, so the fork rule is satisfied without
    materializing it). Skipped automatically when the input already
    has no payload columns — then the join would be pure overhead.
    WIDTH RULE (when to pass it): the narrow plan trades two extra
    full-frame shuffles (the join-back) for a thinner exchange +
    checkpoint, so it pays off only when the payload is WIDE —
    text/array/struct columns whose bytes dominate the row. For a
    payload of a few numeric columns the full-width plan is cheaper
    at every scale (width-proportional savings cannot repay a
    row-proportional join — measured: rfm_segments' three tiles cost
    +3 s at sf0.1 under the narrow plan for a 2-3 long payload, and
    the strided x1000 cum probe reads 150.2 s warm with join-back
    vs 48.1 s key-only).

    Preconditions (the rank-family contract): ``order_exprs`` must end
    in a unique tiebreak (ranks over a non-total order would be
    engine-nondeterministic — same rule the old single-window form
    had; with ``key_cols`` a duplicate key would also fan the join-back
    out) and order columns are non-NULL; group keys may be NULL
    (null-safe joins throughout). ``group_cols`` is for FEW-valued
    grouping (priority classes, market segments) where a plain
    ``Window.partitionBy`` would still mean one task per group; a
    high-cardinality key should keep the ordinary partitioned window.

    Returns the input columns plus ``__grank`` (1-based BIGINT global
    rank within the group), ``__gtotal`` (group row count), and — when
    ``cum_col`` is set — ``__gcum`` (running sum through the current
    row) and ``__gsum`` (group total of ``cum_col``).

    Scale shape: one range shuffle of the (narrow) frame, ONE eager
    materialization of the positioned frame (localCheckpoint via
    graph._ckpt — the positions are nondeterministic expressions
    consumed by several plan branches, so they must be computed
    exactly once; see the in-body comment for the measured sf0.1
    failure), tiny aggregate frames materialized so the full frame is
    scanned twice total (r17 shipped FOUR full-checkpoint scans per
    query — the tiny frame's self-join branches and the totals each
    re-ran the aggregation from the checkpoint, the probe's
    disk-saturated top decade), one broadcast join; the cum path adds
    one narrow hash exchange for the bucket window and a third scan.
    Rank is a pure function of the total order, so the output is
    bit-identical to the single-task window it replaces regardless of
    partition boundaries or AQE decisions.
    """
    groups = list(group_cols or [])
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if key_cols is not None:
        need = list(
            dict.fromkeys(
                [*groups, *key_cols]
                + ([cum_col] if cum_col is not None else [])
            )
        )
        if set(need) != set(df.columns):
            ranked = global_rank_two_phase(
                df.select(*need),
                order_exprs,
                group_cols=groups,
                cum_col=cum_col,
                num_partitions=num_partitions,
            )
            out_cols = ["__grank", "__gtotal"] + (
                ["__gcum", "__gsum"] if cum_col is not None else []
            )
            jkeys = list(dict.fromkeys([*groups, *key_cols]))
            right = ranked.select(
                *[F.col(c).alias(f"__jk_{c}") for c in jkeys], *out_cols
            )
            jback = None
            for c in jkeys:
                e = df[c].eqNullSafe(F.col(f"__jk_{c}"))
                jback = e if jback is None else (jback & e)
            return df.join(right, jback).drop(
                *[f"__jk_{c}" for c in jkeys]
            )
        # no payload columns: fall through, the narrow plan IS the plan
    keys = [F.col(g) for g in groups] + list(order_exprs)
    local = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__idx", F.monotonically_increasing_id())
        .withColumn("__pid", F.spark_partition_id())
    )
    # The per-row positions FORK into several consumers (the rank
    # join's left side, the tiny count frame, the cum path's bucket
    # sums) and both __pid and the monotonic id are NONDETERMINISTIC
    # expressions over a sampled range exchange — recomputing the fork
    # per branch is not merely wasteful, it is WRONG: at sf0.1 the
    # driver-replica sweep caught customer_rfm hash-mismatching
    # (342/15000 rows, __grank past the group total) because the
    # branches' range-boundary samples disagreed, so a row's (pid, idx)
    # in one branch met another branch's counts (smaller frames pass —
    # the boundary sample covers them fully). Materializing the
    # positions ONCE (the HITS renorm-fork rule, SCALE.md Round-16)
    # makes every consumer read the same physical rows; the checkpoint
    # honors the DISK_ONLY capacity knob. Everything DOWNSTREAM of the
    # checkpoint is deterministic given its blocks, so no further
    # full-frame materialization is needed anywhere.
    from lab_etl_batch_data_processing_pipeline__spark.operators.graph import _ckpt

    local = _ckpt(local)
    aggs = [
        F.count(F.lit(1)).alias("__cnt"),
        F.min("__idx").alias("__first"),
    ]
    if cum_col is not None:
        aggs.append(F.sum(cum_col).alias("__csum"))
    # The tiny frame is itself consumed by three branches (both sides
    # of its prefix self-join + the group totals); materializing these
    # ≤ n + groups rows eagerly means each branch reads the tiny blocks
    # instead of re-running the full-frame aggregation from the
    # checkpoint — r17 paid four full-checkpoint disk scans per query
    # this way (the strided probe's disk-bound top decade, SCALE.md
    # Round-17).
    tiny = _ckpt(local.groupBy("__pid", *groups).agg(*aggs))
    # phase 2: cumulative offsets across partition ids — a bounded
    # self-join over the tiny frame (≤ n + groups - 1 rows), summing
    # earlier-pid counts of the same group; integer sums are
    # order-independent, so this equals the window prefix exactly.
    a = tiny.alias("__a")
    b = tiny.select(
        F.col("__pid").alias("__bpid"),
        *[F.col(g).alias(f"__bg_{g}") for g in groups],
        F.col("__cnt").alias("__bcnt"),
    )
    cond = F.col("__bpid") < F.col("__a.__pid")
    for g in groups:
        cond = cond & F.col(f"__a.{g}").eqNullSafe(F.col(f"__bg_{g}"))
    earlier = (
        a.join(F.broadcast(b), cond, "left")
        .groupBy(
            F.col("__a.__pid").alias("__kpid"),
            *[F.col(f"__a.{g}").alias(f"__kg_{g}") for g in groups],
            F.col("__a.__first").alias("__first"),
        )
        .agg(F.coalesce(F.sum("__bcnt"), F.lit(0)).alias("__roff"))
    )
    tot_aggs = [F.sum("__cnt").alias("__gtotal")]
    if cum_col is not None:
        tot_aggs.append(F.sum("__csum").alias("__gsum"))
    if groups:
        totals = tiny.groupBy(*groups).agg(*tot_aggs)
        tcond = None
        for g in groups:
            c = F.col(f"__kg_{g}").eqNullSafe(F.col(f"__t.{g}"))
            tcond = c if tcond is None else (tcond & c)
        offsets = earlier.join(
            F.broadcast(totals.alias("__t")), tcond
        ).drop(*groups)
    else:
        offsets = earlier.crossJoin(F.broadcast(tiny.agg(*tot_aggs)))
    jcond = F.col("__pid") == F.col("__kpid")
    for g in groups:
        jcond = jcond & F.col(g).eqNullSafe(F.col(f"__kg_{g}"))
    gr = (
        local.join(F.broadcast(offsets), jcond)
        .withColumn(
            "__grank",
            F.col("__roff") + (F.col("__idx") - F.col("__first")) + 1,
        )
        .drop(
            "__pid", "__kpid", "__roff", "__idx", "__first",
            *[f"__kg_{g}" for g in groups],
        )
    )
    if cum_col is None:
        return gr
    # cum pass: bucket rows by rank — ``(__grank - 1) div B`` with B
    # chosen so each group splits into ~4·n buckets — a DETERMINISTIC
    # function of (data, checkpoint blocks): rank-contiguous (so
    # earlier-bucket sums ARE the prefix), exactly balanced (every
    # bucket holds B rows save the last), and hash-exchange-friendly
    # (4·n·groups keys into n reducers — the r17 pid-keyed window
    # hashed n physical pids into n reducers, a balls-in-bins
    # collision that left some reducers 4-5 partitions deep). The
    # per-bucket sums ride the same bounded prefix self-join as the
    # partition counts; one window per (group, bucket) adds the
    # within-bucket prefix. No checkpoint: both consumers of ``gr``
    # are deterministic given phase 1's blocks.
    width = 4 * n
    bsize = f"greatest(1L, (__gtotal + {width - 1}) div {width})"
    gr = gr.withColumn("__bkt", F.expr(f"(__grank - 1) div {bsize}"))
    t2 = _ckpt(gr.groupBy(*groups, "__bkt").agg(F.sum(cum_col).alias("__bsum")))
    a2 = t2.alias("__a2")
    b2 = t2.select(
        F.col("__bkt").alias("__b2bkt"),
        *[F.col(g).alias(f"__b2g_{g}") for g in groups],
        F.col("__bsum").alias("__b2sum"),
    )
    c2 = F.col("__b2bkt") < F.col("__a2.__bkt")
    for g in groups:
        c2 = c2 & F.col(f"__a2.{g}").eqNullSafe(F.col(f"__b2g_{g}"))
    off2 = (
        a2.join(F.broadcast(b2), c2, "left")
        .groupBy(
            F.col("__a2.__bkt").alias("__obkt"),
            *[F.col(f"__a2.{g}").alias(f"__og_{g}") for g in groups],
        )
        .agg(F.coalesce(F.sum("__b2sum"), F.lit(0)).alias("__coff"))
    )
    j2 = F.col("__bkt") == F.col("__obkt")
    for g in groups:
        j2 = j2 & F.col(g).eqNullSafe(F.col(f"__og_{g}"))
    w_b = Window.partitionBy(*groups, "__bkt").orderBy("__grank")
    return (
        gr.withColumn(
            "__lcum",
            F.sum(cum_col).over(
                w_b.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .join(F.broadcast(off2), j2)
        .withColumn("__gcum", F.col("__coff") + F.col("__lcum"))
        .drop(
            "__bkt", "__obkt", "__coff", "__lcum",
            *[f"__og_{g}" for g in groups],
        )
    )


def ntile_from_grank(n_tiles: int) -> Column:
    """NTILE(n) as a pure closed-form function of the two-phase rank
    columns (``__grank``, ``__gtotal``) — the standard bucket rule both
    Spark and DuckDB implement: with T rows and n buckets, the first
    ``T mod n`` buckets hold ``T div n + 1`` rows, the rest ``T div n``
    (when T < n each row is its own bucket — the then-branch covers
    every row, so the else-branch's div-by-zero never evaluates).
    Property-pinned against F.ntile in tests. ``n_tiles < 1`` fails
    fast here — ``F.ntile`` raises on it, but the interpolated SQL
    form would silently yield NULL buckets via ``% 0`` under non-ANSI
    mode (same explicit bounds rule as rfm_segments)."""
    if n_tiles < 1:
        raise ValueError(
            "ntile_from_grank needs n_tiles >= 1: NTILE over zero or "
            "negative buckets is undefined (F.ntile fails fast the "
            "same way; the closed form's '% 0' would return NULL "
            "buckets silently under non-ANSI SQL)"
        )
    b = f"(__gtotal div {n_tiles})"
    r = f"(__gtotal % {n_tiles})"
    return F.expr(
        f"cast(case when __grank <= {r} * ({b} + 1) "
        f"then (__grank - 1) div ({b} + 1) + 1 "
        f"else {r} + (__grank - {r} * ({b} + 1) - 1) div {b} + 1 end as int)"
    )


def rank_stats(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    n_tiles: int = 4,
) -> DataFrame:
    """Per-partition rank family in one pass: ntile bucket,
    percent_rank, cume_dist, dense_rank — the distribution columns an
    analytics layer attaches for quantile bucketing and percentile
    reporting (engine extension; the reference's only window is M7's
    LAG).

    ``order_cols`` must end in a unique tiebreaker (e.g. the primary
    key): ntile SPLITS ties across buckets by physical row order, so a
    non-total order would be engine-nondeterministic. With a total
    order every emitted column is a pure function of (global rank,
    group total), so the family is computed from ONE two-phase
    distributed rank (global_rank_two_phase) instead of a per-group
    window sort: ``part_col`` here is a FEW-valued class column
    (priority, segment), so ``Window.partitionBy(part_col)`` would
    funnel the whole frame through a handful of tasks at 100 TB —
    the r16-retired scale-killer shape. Closed forms (total order ⇒
    rank == row_number == dense_rank): bucket = the standard NTILE
    rule, pct_rank = (rank-1)/(T-1) (0.0 when T = 1), cume_dist =
    rank/T — bit-identical to the window functions they replace
    (property-pinned in tests).
    """
    ranked = global_rank_two_phase(
        df,
        [F.col(c) for c in order_cols],
        group_cols=[part_col],
        # the phases carry only (part, order) columns; any payload the
        # caller's frame holds joins back by the unique total-order key
        key_cols=list(order_cols),
    )
    r, t = F.col("__grank"), F.col("__gtotal")
    return ranked.select(
        *df.columns,
        ntile_from_grank(n_tiles).alias("bucket"),
        F.when(
            t > 1, (r - 1).cast("double") / (t - 1).cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
        (r.cast("double") / t.cast("double")).alias("cume_dist"),
        r.cast("int").alias("dense_rank"),
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    scale: int = 1024,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key time-weighted average over an irregular series — each
    observation weighs its HOLDING TIME (until the next observation),
    the TWAP/telemetry statistic a plain AVG gets wrong whenever
    sampling is bursty (a value held for an hour must outweigh fifty
    ticks from one busy second).

    Exactness: timestamps become unix MICROsecond BIGINTs (no float
    epoch), holding times truncate to milliseconds identically on any
    engine (``div 1000`` on non-negative deltas), values fix-point to
    ``round(value * scale)`` (scale a power of two; non-negative
    values), so ``twap_num = sum(v_s * dt_ms)`` and ``twap_den =
    sum(dt_ms)`` are exact BIGINTs. ``twap_ppm`` = floor(1e6 * num /
    den) is one multiply + one divide in IEEE doubles under a fixed
    parenthesization — deterministic cross-engine (the ewma_ppm rule);
    NULL for single-observation keys (den = 0: no held time at all).
    The last observation of each key holds for 0 ms by definition —
    an honest open interval, not an invented horizon.

    Overflow bound: |num| <= max(v_s) * span_ms per key — at v_s ~ 2^29
    that allows ~2^33 ms (~100 days) of per-key span before BIGINT
    pressure; longer horizons should pre-bucket by window (the usual
    rollup composition) rather than grow one unbounded integral.

    One shuffle (hash-partition by key) + one in-partition sort for
    the LEAD; the aggregate is map-side combinable.
    """
    order = [F.col("__us").asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy("key").orderBy(*order)
    base = df.select(
        F.col(key_col).alias("key"),
        # cast covers TIMESTAMP_NTZ inputs (unix_micros requires
        # TIMESTAMP); NTZ is interpreted in the session zone — feed
        # normalized instants (sources.ensure_timestamp) when the zone
        # matters; the statistic itself uses only per-key DELTAS
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.round(F.col(value_col) * scale).cast("long").alias("__vs"),
        *([tiebreak_col] if tiebreak_col else []),
    ).withColumn(
        "__dt_us", F.lead("__us").over(w) - F.col("__us")
    ).withColumn(
        "__dt_ms", F.expr("coalesce(__dt_us, 0) div 1000")
    )
    num = F.sum(F.col("__vs") * F.col("__dt_ms"))
    den = F.sum("__dt_ms")
    return (
        base.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            num.alias("twap_num"),
            den.alias("twap_den"),
        )
        .select(
            "key",
            "n_obs",
            "twap_num",
            "twap_den",
            F.when(
                F.col("twap_den") > 0,
                F.floor(
                    (F.lit(1000000.0) * F.col("twap_num")) / F.col("twap_den")
                ).cast("long"),
            ).alias("twap_ppm"),
        )
        .orderBy("key")
    )


def linear_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str | Column,
    value_col: str,
    scale: int = 1024,
    x_unit_seconds: int = 3600,
) -> DataFrame:
    """Per-key OLS trend (least-squares slope of value over time) in
    EXACT arithmetic — the "is this metric drifting" screen over
    irregular series, engine-stable where float regression is not
    (parallel-sum order flips low bits; here every sum is integral).

    Rule set:
    - x = (sec - per-key MIN(sec)) div x_unit_seconds — truncating,
      non-negative; anchoring at the key's own start keeps x small so
      the moment sums stay far from overflow (vs raw epoch seconds,
      whose squares alone near 2⁶³);
    - y = round(value * scale) BIGINTs (scale a power of two);
    - slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), carried as exact
      DECIMAL(38,0) numerator/denominator (the cross terms overflow
      BIGINT at corpus scale; Spark decimal == DuckDB HUGEINT
      arithmetic);
    - slope_ppm = (10⁶·num) div (den·scale) — the slope in VALUE units
      per x_unit, parts-per-million; BOTH engines truncate integral
      division toward zero (verified on negatives), so the sign needs
      no special casing; NULL when den = 0 (fewer than two distinct x
      ticks). num/den stay in scaled-value units for exact reuse and
      are REPORTED as BIGINT — a silent-NULL bound past 2⁶³ (raise
      x_unit_seconds before that point); slope_ppm and every internal
      moment stay exact in DECIMAL(38,0) with the cast INSIDE the
      sums (summing the cross terms in BIGINT first would wrap before
      the decimal saw them).

    Shape: one shuffle on key (the MIN window shares the groupBy's
    partitioning), one hash aggregate of five integral moments, one
    projection. Output is key-sized.

    Returns (key, n_obs, slope_num, slope_den, slope_ppm) sorted by
    key; slope units = value per x_unit_seconds.
    """
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    base = df.select(
        F.col(key_col).alias("key"),
        ts.cast("long").alias("sec"),
        F.round(F.col(value_col) * scale).cast("long").alias("y"),
    ).filter(F.col("y").isNotNull())
    xy = base.select(
        "key",
        F.expr(f"(sec - min(sec) OVER (PARTITION BY key)) div {x_unit_seconds}")
        .alias("x"),
        "y",
    )
    d38 = "decimal(38,0)"
    mom = xy.groupBy("key").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        # casts INSIDE the sums: summing x*y in BIGINT and casting the
        # result would wrap silently before the decimal ever saw it
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        mom.select(
            "key",
            F.col("n").cast("long").alias("n_obs"),
            num.alias("__num"),
            den.alias("__den"),
        )
        .select(
            "key",
            "n_obs",
            F.col("__num").cast("long").alias("slope_num"),
            F.col("__den").cast("long").alias("slope_den"),
            F.when(
                F.col("__den") != 0,
                F.expr(
                    "CAST((__num * 1000000)"
                    f" div (__den * CAST({scale} AS DECIMAL(38,0)))"
                    " AS BIGINT)"
                ),
            ).alias("slope_ppm"),
        )
        .orderBy("key")
    )


def seasonal_naive_backtest(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
    season_days: int = 7,
) -> DataFrame:
    """Backtest the seasonal-naive forecast (predict day d with day
    d - season) and report per-key exact error mass — the baseline every
    real forecaster must beat, and the drift gate that catches a series
    whose weekly shape broke.

    Exact: per-(key, day) integer totals first (values must already be
    fixed-point — cents, the house rule); the forecast join is an
    equi-join on (key, day - season), so calendar gaps score only when
    BOTH endpoints exist (documented: a missing base day contributes no
    score, unlike LAG-over-present-rows which would silently compare
    across gaps). Absolute errors and actuals sum as BIGINTs; WAPE
    lands as one truncating ``(1e6 * sum_ae) div sum_actual`` per key,
    NULL unless the scored actual mass is POSITIVE — WAPE is undefined
    on zero mass and engine-divergent on negative mass (Spark's div
    truncates toward zero, DuckDB's // floors), so both cases gate to
    NULL rather than pinning an arbitrary semantics.

    Shape: one hash aggregate to daily totals (map-side combine), one
    key+day equi-join of the totals frame to itself (day-sized, not
    row-sized), one final per-key aggregate.

    Returns (key, n_scored, sum_abs_err, sum_actual, wape_ppm) sorted
    by key.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.col(day_col).alias("day")
    ).agg(F.sum(F.col(value_col).cast("long")).alias("v"))
    base = daily.select(
        "key",
        F.date_add(F.col("day"), season_days).alias("day"),
        F.col("v").alias("v_base"),
    )
    scored = daily.join(base, ["key", "day"])
    return (
        scored.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(F.abs(F.col("v") - F.col("v_base"))).alias("sum_abs_err"),
            F.sum("v").alias("sum_actual"),
        )
        .withColumn(
            "wape_ppm",
            F.when(
                F.col("sum_actual") > 0,
                F.expr("(1000000 * sum_abs_err) div sum_actual"),
            ),
        )
        .orderBy("key")
    )


def level_shift(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window: int = 8,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Largest level shift per key: the position where the sum of the
    next ``window`` values differs most from the sum of the previous
    ``window`` values — the exact two-window changepoint score
    (CUSUM-style detectors are its streaming approximation).

    Exact: values must already be fixed-point integers; both rolling
    sums are BIGINT ROWS-frame windows over ONE key partitioning, the
    score is ``|sum_next - sum_prev|`` (equal window lengths, so no
    mean division is needed — the comparison is scale-identical), and
    only positions with BOTH windows full score at all (edges are
    excluded, not padded). The reported shift is the earliest maximal
    position (order: ts, then ``tiebreak_col`` — a total order makes
    the argmax engine-stable).

    Shape: one shuffle on key; two rolling windows and the argmax
    ranking share that partitioning. Per-key serial cost is the key's
    row count — the standing window-skew story.

    Returns (key, shift_ts, score, sum_prev, sum_next) sorted by key;
    keys with fewer than ``2*window`` rows emit nothing.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("long").alias("__v"),
        *([F.col(tiebreak_col)] if tiebreak_col else []),
    )
    order_b = [F.col("ts").asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w_prev = (
        Window.partitionBy("key").orderBy(*order_b)
        .rowsBetween(-window, -1)
    )
    w_next = (
        Window.partitionBy("key").orderBy(*order_b)
        .rowsBetween(0, window - 1)
    )
    scored = base.select(
        "key",
        "ts",
        *([F.col(tiebreak_col)] if tiebreak_col else []),
        F.sum("__v").over(w_prev).alias("sum_prev"),
        F.sum("__v").over(w_next).alias("sum_next"),
        F.count(F.lit(1)).over(w_prev).alias("__n_prev"),
        F.count(F.lit(1)).over(w_next).alias("__n_next"),
    ).filter(
        (F.col("__n_prev") == window) & (F.col("__n_next") == window)
    )
    ranked = scored.withColumn(
        "score", F.abs(F.col("sum_next") - F.col("sum_prev"))
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("key").orderBy(
                F.col("score").desc(), *order_b
            )
        ),
    )
    return (
        ranked.filter(F.col("__rn") == 1)
        .select(
            "key",
            F.col("ts").alias("shift_ts"),
            "score",
            "sum_prev",
            "sum_next",
        )
        .orderBy("key")
    )


def floored_running_balance(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    delta_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Running balance that FLOORS AT ZERO — inventory/credit semantics
    where a withdrawal against an empty balance is lost, not borrowed.
    The naive form is a stateful per-row loop; this is its closed form:

        balance_i = prefix_i - min(0, min_{j<=i} prefix_j)

    (the floor absorbs exactly the deepest sub-zero excursion so far —
    each time the raw prefix makes a new low below zero, that low is
    re-based to zero, which is precisely the "drop what you don't have"
    rule). TWO window passes over one key partitioning, no iteration,
    no applyInPandas state.

    Exact: deltas must already be fixed-point integers; prefix and
    running-min are BIGINT sums over a total order (ts, then
    ``tiebreak_col``).

    Returns the input key/ts/tiebreak plus (delta, balance), sorted by
    key, ts.
    """
    order = [F.col("ts").asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(delta_col).cast("long").alias("delta"),
        *([F.col(tiebreak_col)] if tiebreak_col else []),
    )
    w_run = (
        Window.partitionBy("key").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("__prefix", F.sum("delta").over(w_run))
        .withColumn("__low", F.min("__prefix").over(w_run))
        .withColumn(
            "balance",
            F.col("__prefix")
            - F.least(F.lit(0).cast("long"), F.col("__low")),
        )
        .drop("__prefix", "__low")
        .orderBy("key", "ts", *([tiebreak_col] if tiebreak_col else []))
    )


def island_ids(
    df: DataFrame,
    partition_col: str,
    order_cols,
    new_flag,
    out_col: str = "__island",
) -> DataFrame:
    """Shared island idiom: caller-provided 1/0 new-island flag ->
    running SUM over the per-key total order = island id. Single-
    sources the frame bounds (UNBOUNDED PRECEDING .. CURRENT ROW) so
    every island consumer (interval union, streak runs) agrees on
    boundary semantics. ``sessionize`` predates this helper and keeps
    its inline form deliberately — its plan is multi-round
    driver-green and byte-stability there outweighs deduplication.
    """
    w_run = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(new_flag).over(w_run))
