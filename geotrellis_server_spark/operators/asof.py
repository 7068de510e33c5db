"""As-of (point-in-time) join — the classic temporal operator Spark
lacks natively, built as a union-sort-carry composition of DataFrame
ops (no per-key loops, no UDF):

for each left row, attach the LATEST right row whose time is <= the
left row's time (inclusive), optionally per join key — the
"trade gets the prevailing quote" join.

Plan shape: union both sides with a side tag, ONE shuffle on the key,
one window pass per key ordered by (time, side) carrying the last seen
right-side values forward (``last(..., ignorenulls=true)``), then filter
back to left rows. At 100 TB this is a single sort-merge exchange —
the same cost as any keyed window — and hot keys are ordinary window
skew (salt upstream if a single key dominates; see operators/skew.py).

The DuckDB oracle for the contract query uses DuckDB's NATIVE ``ASOF
JOIN`` — an entirely independent implementation of the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_cols: list[str],
    right_time_alias: str = "matched_time",
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus ``value_cols`` (and the
    matched right time) from the latest ``right`` row with
    ``right.time_col <= left.time_col`` in the same key group; NULLs
    when no prior right row exists (LEFT ASOF semantics).

    Ties: a right row AT the left row's exact time matches (inclusive),
    and among equal right times the LAST one in (time, value) order
    wins — deterministic for any input. Right rows with a NULL time have
    no as-of position and are dropped."""
    lcols = left.columns
    tagged_l = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}")
          for c in value_cols],
        F.lit(None).cast(right.schema[time_col].dataType).alias("_rt"),
    )
    right = right.where(F.col(time_col).isNotNull())
    tagged_r = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          if c not in key_cols + [time_col] else F.col(c)
          for c in lcols],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_rv_{c}") for c in value_cols],
        F.col(time_col).alias("_rt"),
    )
    unioned = tagged_l.unionByName(tagged_r)
    # right rows sort BEFORE left rows at equal time (_side 0 < 1) →
    # inclusive <=; extra value columns break right-right time ties.
    # The carried state is ONE struct per right row (never per-column):
    # carrying columns independently would fabricate rows mixing values
    # and matched_time from DIFFERENT right rows whenever a right value
    # is NULL. The struct is non-null exactly for right rows, so
    # last(ignorenulls) carries the whole row atomically — NULL right
    # VALUES stay NULL alongside their own matched time.
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.asc(time_col), F.asc("_side"),
                 *[F.asc(f"_rv_{c}") for c in value_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    row_struct = F.when(
        F.col("_side") == 0,
        F.struct(F.col("_rt").alias("t"),
                 *[F.col(f"_rv_{c}").alias(c) for c in value_cols]),
    )
    carried = unioned.select(
        "*", F.last(row_struct, ignorenulls=True).over(w).alias("_carry")
    )
    return carried.where(F.col("_side") == 1).select(
        *lcols,
        *[F.col(f"_carry.{c}").alias(c) for c in value_cols],
        F.col("_carry.t").alias(right_time_alias),
    )


def sessionize(
    events: DataFrame,
    key_cols: list[str],
    time_col: str,
    gap_seconds: float,
) -> DataFrame:
    """Gap-based sessionization: rows of one key belong to the same
    session while consecutive gaps are <= ``gap_seconds``; a longer gap
    opens a new session. Adds ``session_id`` (0-based per key, in time
    order) — the batch form of the session window.

    Pure window SQL: lag → boundary flag → running sum. One shuffle on
    the key; per-key work is a linear scan in time order."""
    w = Window.partitionBy(*key_cols).orderBy(F.asc(time_col))
    gap = F.col(time_col).cast("double") - F.lag(
        F.col(time_col).cast("double")
    ).over(w)
    boundary = F.when(gap.isNull() | (gap <= float(gap_seconds)), 0).otherwise(1)
    return events.withColumn(
        "session_id",
        F.sum(boundary).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_stats(
    events: DataFrame,
    key_cols: list[str],
    time_col: str,
    gap_seconds: float,
) -> DataFrame:
    """Sessionize then aggregate one row per session: (key...,
    session_id, n_events, duration_s). ``duration_s`` is max-min of the
    time column in ITS OWN units (pass epoch seconds for seconds)."""
    s = sessionize(events, key_cols, time_col, gap_seconds)
    t = F.col(time_col).cast("double")
    return (
        s.groupBy(*key_cols, "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(t).alias("_t0"),
            F.max(t).alias("_t1"),
        )
        .select(
            *key_cols,
            "session_id",
            "n_events",
            (F.col("_t1") - F.col("_t0")).alias("duration_s"),
        )
    )


def range_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    how: str = "inner",
) -> DataFrame:
    """Range (interval-containment) join: attach to every fact row the
    range row whose half-open interval [lo, hi) contains
    ``fact.value_col`` — price bands, latency buckets, date ranges.

    Scale shape: the ranges table is small by definition (a banding
    scheme), so this is a BROADCAST non-equi join — the fact side never
    shuffles and the containment predicate evaluates map-side in
    codegen. For the pathological case of a large ranges side, pre-bin
    both sides on floor(value/width) first and equi-join on the bin (the
    PIP join's cell-cover trick, operators/spatial_join.py) — not needed
    for banding tables."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return facts.join(F.broadcast(ranges), cond, how)


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    start_col: str = "start_s",
    end_col: str = "end_s",
    chunk_s: int = 3600,
    suffixes: tuple[str, str] = ("_a", "_b"),
) -> DataFrame:
    """Interval overlap join where BOTH sides are big — the case
    broadcast non-equi (range_join) can't serve. Each interval
    [start, end] (inclusive integer seconds) explodes to the chunks it
    touches; the join is a plain chunk EQUI-join plus the overlap
    predicate; each overlapping pair is emitted EXACTLY ONCE by the
    report-once rule (only from the chunk containing the later start —
    no distinct over the pair stream, the classic spatial/temporal
    bin-join dedup trick).

    Returns all columns of both sides suffixed. Exact integer
    arithmetic throughout; chunk indices use true floor division
    (floor(x / C) on the double quotient — exact for |x| < 2^53), so
    negative timestamps bucket correctly.

    Scale shape: the shuffle is keyed by time chunk; chunk width trades
    duplication factor (intervals spanning many chunks) against per-
    chunk join fan-in — size it near the median interval length. A
    hot chunk is AQE-skew-split; nothing is broadcast, nothing driver-
    side. At 10^12 rows this is the only join shape that works."""
    C = int(chunk_s)
    if C <= 0:
        raise ValueError("chunk_s must be > 0")
    sa, sb = suffixes

    def _chunked(df: DataFrame, sfx: str) -> DataFrame:
        cols = [F.col(c).alias(c + sfx) for c in df.columns]
        return df.select(
            *cols,
            F.explode(F.expr(
                f"sequence(CAST(floor({start_col} / {C}) AS BIGINT), "
                f"CAST(floor({end_col} / {C}) AS BIGINT))")).alias("_ch"))

    ca = _chunked(a, sa)
    cb = _chunked(b, sb)
    s_a, e_a = start_col + sa, end_col + sa
    s_b, e_b = start_col + sb, end_col + sb
    return (ca.join(cb, "_ch")
            .where(F.expr(f"{s_a} <= {e_b} AND {s_b} <= {e_a}"))
            # report-once: only the chunk holding the LATER start emits
            .where(F.expr(f"_ch = CAST(floor(greatest({s_a}, {s_b}) "
                          f"/ {C}) AS BIGINT)"))
            .drop("_ch"))


def resample_ffill(
    events: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    step_s: int = 3600,
) -> DataFrame:
    """Resample an irregular event series to a regular grid with
    forward-fill — the time-series gap-filler: per key, slots every
    ``step_s`` seconds between ceil(min/step) and floor(max/step), each
    carrying the latest observation at-or-before it (LEFT ASOF).
    Events sharing a slot-resolution timestamp collapse to max(value)
    FIRST, so the as-of tie rule is explicit and engine-portable.
    Returns (keys..., t, value).

    Scale shape: bounds are a map-side-combined per-key aggregate; slot
    explosion is row-local from those bounds (never wider than the
    OUTPUT grid); the fill is the engine's as_of_join — union + one
    key-partitioned sort, no join operator (operators/asof.py:26).
    Keys whose span covers no whole slot emit nothing (guarded — a
    descending sequence() would throw). Times are assumed NONNEGATIVE
    epoch seconds (the ceil uses truncating integer division)."""
    if step_s <= 0:
        raise ValueError("step_s must be > 0")
    C = int(step_s)
    dedup = events.groupBy(*key_cols, time_col).agg(
        F.max(value_col).alias(value_col))
    b = (dedup.groupBy(*key_cols)
         .agg(F.min(time_col).alias("_mn"), F.max(time_col).alias("_mx"))
         .select(*key_cols,
                 F.expr(f"(_mn + {C - 1}) DIV {C}").alias("_a"),
                 F.expr(f"_mx DIV {C}").alias("_b"))
         .where(F.col("_a") <= F.col("_b")))
    slots = (b.select(*key_cols,
                      F.explode(F.expr("sequence(_a, _b)")).alias("_i"))
             .select(*key_cols, (F.col("_i") * C).alias(time_col)))
    out = as_of_join(slots, dedup, key_cols, time_col, [value_col])
    return out.select(*key_cols, F.col(time_col).alias("t"),
                      F.col(value_col).alias("value"))


def time_weighted_avg(
    events: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    value_scale: int = 100,
) -> DataFrame:
    """Time-weighted average with last-observation-carried-forward —
    the TSDB aggregate (TimescaleDB ``time_weight('LOCF', ...)``,
    InfluxDB integral): per key, each observation holds its value until
    the next one, so

        TWA = Σ vᵢ · (tᵢ₊₁ − tᵢ)  /  (t_last − t_first).

    Returns (keys..., twa_num, twa_den, n_obs) with the value quantized
    to ``value_scale`` units (cents by default) BEFORE weighting —
    num/den are exact BIGINTs (value-seconds and seconds), so the
    contract is engine- and partitioning-exact; the consumer divides.
    Simultaneous observations (same key, same timestamp) collapse to
    max(value) first — the same explicit tie rule as resample_ffill.
    Keys with a single observation emit twa_den = 0 (no span; consumer
    treats as instantaneous). Times are epoch seconds.

    Scale shape: one key-partitioned window for lead() (free on a
    key-partitioned log) + ONE map-side-combined per-key aggregate."""
    from pyspark.sql import Window

    S = int(value_scale)
    dedup = events.groupBy(*key_cols, time_col).agg(
        F.max(value_col).alias("_v"))
    w = Window.partitionBy(*key_cols).orderBy(time_col)
    seg = (dedup
           .withColumn("_vq", F.expr(
               f"CAST(floor(CAST(_v AS DOUBLE) * {float(S)!r}D) "
               f"AS BIGINT)"))
           .withColumn("_nxt", F.lead(time_col).over(w)))
    return (seg.groupBy(*key_cols).agg(
        F.sum(F.expr(f"CASE WHEN _nxt IS NULL THEN 0 "
                     f"ELSE _vq * (_nxt - {time_col}) END"))
        .alias("twa_num"),
        F.expr(f"CAST(max({time_col}) - min({time_col}) AS BIGINT)")
        .alias("twa_den"),
        F.count("*").cast("long").alias("n_obs"),
    ))
