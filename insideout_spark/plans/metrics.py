"""Job metrics + latency stats (reference A4: the loadtester's
count / rate / p99 aggregates, cmd/loadtester/main.go:93-135) and the
P4 property-filtering projection the reference left as TODO
(server/server.go:209)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def observe_stab_metrics(result: DataFrame):
    """Attach an Observation to a stab-join result: row count, sure-hit
    count (geometry tests skipped), candidate-passed count — collected
    for free with the action, no extra job (the accumulator/metrics
    analog of the reference's Prometheus counters, server/server.go:37-48).

    Returns (df, observation); read observation.get after an action."""
    obs = Observation("stab_metrics")
    df = result.observe(
        obs,
        F.count(F.lit(1)).alias("hits"),
        F.sum(F.col("is_sure_hit").cast("long")).alias("sure_hits"),
        F.sum((~F.col("is_sure_hit")).cast("long")).alias("pip_passed"),
    )
    return df, obs


def _interp_pct(vals_col: str, n_col: str, q: float):
    """Exact linear-interpolated percentile over a sorted array with an
    EXPLICIT expression tree — v_lo + (v_hi - v_lo) * frac, where
    idx = q * (n - 1) — mirrored verbatim in the DuckDB oracle. Spark's
    `percentile` and DuckDB's `quantile_cont` interpolate with
    different (mathematically equal) formulas, which diverge by one ulp
    on large groups (observed at the derived sf1 gate); pinning one
    expression in both engines makes the value bit-stable."""
    idx = F.lit(float(q)) * (F.col(n_col) - 1).cast("double")
    lo = F.floor(idx).cast("int")
    frac = idx - F.floor(idx)
    v_lo = F.get(F.col(vals_col), lo)
    v_hi = F.coalesce(F.get(F.col(vals_col), lo + 1), v_lo)
    return v_lo + (v_hi - v_lo) * frac


def value_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """count / min / max / exact p50 / p99 per group — the loadtester's
    timer aggregates as one Spark aggregation. Percentiles interpolate
    over the sorted per-group array with an explicit expression (see
    _interp_pct) so an external oracle reproduces them bit-exactly;
    deliberately no float sums (partial-aggregation order would make
    cross-engine hashes unstable). The sorted-array collect is the
    exact-gate path — at true corpus scale swap in approx_percentile
    (the reference's loadtester also keeps all timer samples in
    memory, cmd/loadtester/main.go:93-135)."""
    # n counts VALUES, not rows (ADVICE r03): collect_list drops NULLs,
    # so a count(*) n would mis-index the sorted array on NULL-bearing
    # groups (and DuckDB's list() keeps NULLs — the oracle filters them
    # for the same reason); min/max ignore NULLs in both engines
    g = df.groupBy(group_col).agg(
        F.count(value_col).cast("long").alias("n"),
        F.min(value_col).alias("v_min"),
        F.max(value_col).alias("v_max"),
        F.sort_array(F.collect_list(value_col)).alias("__vals"),
    )
    return g.select(
        group_col,
        "n",
        "v_min",
        "v_max",
        _interp_pct("__vals", "n", 0.5).alias("p50"),
        _interp_pct("__vals", "n", 0.99).alias("p99"),
    )


def filter_properties(result: DataFrame, keys, props_col: str = "properties") -> DataFrame:
    """P4: keep only the requested property keys (reference TODO at
    server/server.go:209) — pure Catalyst map_filter."""
    keyset = F.array(*[F.lit(k) for k in keys])
    return result.withColumn(
        props_col, F.map_filter(F.col(props_col), lambda k, _: F.array_contains(keyset, k))
    )


def typed_prop(key: str, dtype: str, json_col: str = "properties_json"):
    """Typed property accessor over the JSON-preserved properties
    (reference tools.go:253-274 keeps bool|int|string|float64|nil):
    returns a Catalyst column of `dtype` ('boolean', 'long', 'double',
    'string') — NULL when the key is absent or the JSON value is null.
    A numeric filter like typed_prop('population', 'long') > 10000 runs
    whole-stage-codegen with no per-row Python and no string-cast on
    the user side. try_cast (not cast): under ANSI mode a
    wrongly-typed value yields NULL instead of failing the job —
    matching the reference's interface{} nil fallback."""
    raw = F.get_json_object(F.col(json_col), f"$.{key}")
    return raw.try_cast(dtype)


def get_feature(index, feature_id: int, loop_pos: int | None = None) -> DataFrame:
    """Single-feature fetch by id (and optionally loop index) — the
    reference's Get(id, loop_index) API (server/server.go:312-361),
    re-expressed as a filter on the features table (feature_id is a
    pushdown-able predicate on the parquet-backed index)."""
    df = index.features.filter(F.col("feature_id") == int(feature_id))
    if loop_pos is not None:
        df = df.filter(F.col("loop_pos") == int(loop_pos))
    return df


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization of an event stream: a new session starts
    when a user's inter-event gap exceeds `gap_minutes`. The canonical
    time-series rollup a training-data/telemetry pipeline needs and the
    reference never had (events are the driver's synthetic table).

    Output: (user_id, session_seq, n_events, start_us, end_us,
    duration_us) — all exact integers (epoch microseconds), so the
    DuckDB oracle is value-exact with no float comparison.

    Scale shape: ONE shuffle on user_id; the lag/running-sum window is
    linear per user with bounded state, and the session aggregation
    reuses the same partitioning (no second Exchange). Skewed users
    (bots) are bounded by their own event counts; AQE skew-split
    applies. Deterministic: windows order by (ts, event_id) — a total
    order — and equal-ts ties cannot change gap flags (gap uses ts
    only)."""
    from pyspark.sql import Window

    # parquet writes TIMESTAMP_NTZ here; unix_micros only takes TZ
    # timestamps, so measure microseconds from the NTZ epoch directly —
    # no session-timezone reinterpretation anywhere (DuckDB's
    # epoch_us(naive ts) is the same naive-as-UTC convention)
    ts_us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col(ts_col).cast("timestamp_ntz"),
    )
    gap_us = int(gap_minutes) * 60_000_000
    w = Window.partitionBy(user_col).orderBy("ts_us", id_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = events.select(user_col, id_col, ts_us.alias("ts_us"))
    prev = F.lag("ts_us").over(w)
    is_new = (prev.isNull() | (F.col("ts_us") - prev > gap_us)).cast("long")
    s = e.withColumn("session_seq", F.sum(is_new).over(run))
    return s.groupBy(user_col, "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


def sessionize_native(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """The same session rollup through Spark's ENGINE-NATIVE
    `session_window` operator (merging session-window aggregation in
    the streaming-capable path) — an independent implementation of
    the gap rule to cross-check `sessionize`'s window-sum plan.
    Boundary semantics MATCH (verified empirically, tests/
    test_sessionize.py): an event at EXACTLY gap distance merges —
    session_window extends through next_ts <= last + gap, the same
    strict-> rule as `sessionize`. Output has no session_seq (native
    windows are anonymous), so rows are keyed by (user, start_us)."""
    e = events.select(
        user_col,
        F.col(ts_col).cast("timestamp_ntz").alias("__ts"),
    )
    g = e.groupBy(
        user_col, F.session_window("__ts", f"{int(gap_minutes)} minutes")
    ).agg(
        F.count("*").alias("n_events"),
        F.min("__ts").alias("__min_ts"),
        F.max("__ts").alias("__max_ts"),
    )
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    start = F.timestamp_diff("MICROSECOND", epoch, F.col("__min_ts"))
    end = F.timestamp_diff("MICROSECOND", epoch, F.col("__max_ts"))
    return g.select(
        user_col,
        "n_events",
        start.alias("start_us"),
        end.alias("end_us"),
        (end - start).alias("duration_us"),
    )


def sessionize_sql(table: str = "events", gap_minutes: int = 30, with_seq: bool = True) -> str:
    """DuckDB oracle twin of `sessionize` AND (with with_seq=False) of
    `sessionize_native` — both use the same INCLUSIVE boundary (an
    event at exactly `gap_minutes` stays in-session; verified
    empirically for session_window in tests/test_sessionize.py); the
    two differ only in whether the final SELECT returns session_seq.
    epoch_us == unix_micros for parquet TIMESTAMP microsecond
    precision."""
    gap_us = int(gap_minutes) * 60_000_000
    sessions = (
        f"WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM {table}), "
        "m AS (SELECT user_id, event_id, ts_us, "
        "CASE WHEN lag(ts_us) OVER w IS NULL "
        f"OR ts_us - lag(ts_us) OVER w > {gap_us} THEN 1 ELSE 0 END AS is_new "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), "
        "s AS (SELECT user_id, ts_us, sum(is_new) OVER "
        "(PARTITION BY user_id ORDER BY ts_us, event_id "
        "ROWS UNBOUNDED PRECEDING) AS session_seq FROM m) "
    )
    if not with_seq:
        return (
            sessions + "SELECT user_id, count(*) AS n_events, "
            "min(ts_us) AS start_us, max(ts_us) AS end_us, "
            "max(ts_us) - min(ts_us) AS duration_us "
            "FROM s GROUP BY user_id, session_seq"
        )
    return (
        sessions + "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
        "count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us, "
        "max(ts_us) - min(ts_us) AS duration_us "
        "FROM s GROUP BY user_id, session_seq"
    )
