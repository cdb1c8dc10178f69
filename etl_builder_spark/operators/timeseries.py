"""Time-series utilities: generated date/hour spines and gap filling —
the standard ETL pattern for turning sparse event streams into dense
per-period series (dashboards, feature windows, forecasting inputs).

Spine generation is `sequence()` + explode — pure expressions, no
driver-side range materialization; the spine × key cross product is a
broadcast-friendly small frame joined against the sparse aggregates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.policy import money
from etl_builder_spark.registry import REGISTRY, register
from etl_builder_spark.session import load_table


def _hour_spine(e):
    """(hour_start): every hour from the hour of the first event to
    the hour of the last — the dense spine gaps are filled against."""
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )


def _epoch_hour(ts):
    """Whole hours since the epoch of an hour-aligned timestamp."""
    return (F.unix_micros(ts) / 3_600_000_000).cast("bigint")


def _tail_series(e, event_type: str, n: int):
    """One row (xs): the hourly counts of ``event_type`` over the last
    ``n`` hours of the spine, zero-filled, as doubles in hour order."""
    spine = _hour_spine(e).select(_epoch_hour("hour_start").alias("t"))
    hourly = (
        e.where(F.col("event_type") == event_type)
        .groupBy(_epoch_hour(F.date_trunc("hour", F.col("ts"))).alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    tmax = spine.agg(F.max("t").alias("tmax"))
    tail = (
        spine.crossJoin(F.broadcast(tmax))
        .where(F.col("t") > F.col("tmax") - n)
        .join(hourly, "t", "left")
        .select("t", F.coalesce("x", F.lit(0)).cast("double").alias("x"))
    )
    return tail.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "x"))), lambda s: s["x"]
        ).alias("xs")
    )


@register(
    "ts_hourly_gapfill",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
            FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        grid AS (SELECT hour_start, event_type FROM spine CROSS JOIN types),
        actual AS (
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        )
        SELECT g.hour_start, g.event_type,
               COALESCE(a.n, 0) AS n,
               COALESCE(a.total_value, 0.0) AS total_value,
               (a.n IS NULL) AS was_gap
        FROM grid g LEFT JOIN actual a
          ON a.hour_start = g.hour_start AND a.event_type = g.event_type
    """,
    tags=("TS-gapfill",),
)
def ts_hourly_gapfill(spark, sf_dir):
    """Dense hourly series per event type: hour spine (sequence over
    the observed range) × type dims, left-joined against the sparse
    hourly aggregate; gaps zero-filled and flagged."""
    e = load_table(spark, sf_dir, "events")
    spine = _hour_spine(e)
    types = e.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    actual = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )
    g = grid.alias("g")
    a = actual.alias("a")
    return g.join(
        a,
        (F.col("a.hour_start") == F.col("g.hour_start"))
        & (F.col("a.event_type") == F.col("g.event_type")),
        "left",
    ).select(
        F.col("g.hour_start").alias("hour_start"),
        F.col("g.event_type").alias("event_type"),
        F.coalesce(F.col("a.n"), F.lit(0)).alias("n"),
        F.coalesce(F.col("a.total_value"), F.lit(0.0)).alias("total_value"),
        F.col("a.n").isNull().alias("was_gap"),
    )


@register(
    "agg_string_concat",
    oracle="""
        SELECT r_name,
               array_to_string(list_sort(list(n_name)), ',') AS nations_csv
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    tags=("D-listagg",),
)
def agg_string_concat(spark, sf_dir):
    """Deterministic LISTAGG/string_agg: sort-then-join (bare
    string_agg order is nondeterministic — policy §7.2.4 applies to
    string concat exactly as to collect_list)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv"))
    )


@register(
    "agg_percentile_approx",
    oracle=None,  # t-digest/GK sketch estimates are engine-specific
    tags=("D10-approx",),
)
def agg_percentile_approx(spark, sf_dir):
    """Approximate percentiles (GK sketch) — the 100 TB path for
    quantiles: mergeable, single pass, bounded memory; exact
    percentile (D10) requires a per-group sort."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000)).alias("p50_approx"),
        F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(1000)).alias("p90_approx"),
        F.count(F.lit(1)).alias("n"),
    )


#: truncated-EWMA geometry: 24-tap window, decay 0.7 per hour.  The
#: tap weights are PRECOMPUTED PYTHON FLOATS injected as literals into
#: BOTH engines, so no cross-engine pow() ulp drift can exist; the
#: weighted sum is a fixed left-to-right chain in both.
EWMA_DECAY = 0.7
EWMA_TAPS = 24
EWMA_W = [EWMA_DECAY**k for k in range(EWMA_TAPS)]


def _ewma_oracle() -> str:
    num = " + ".join(
        f"COALESCE(LAG(nv, {k}) OVER w, 0.0) * {EWMA_W[k]!r}" for k in range(EWMA_TAPS)
    )
    den = " + ".join(
        f"(CASE WHEN LAG(nv, {k}) OVER w IS NULL THEN 0.0 ELSE {EWMA_W[k]!r} END)"
        for k in range(EWMA_TAPS)
    )
    return f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   CAST(COUNT(*) AS DOUBLE) AS nv
            FROM events GROUP BY 1, 2
        )
        SELECT hour_start, event_type, CAST(nv AS BIGINT) AS n,
               ROUND(({num}) / ({den}), 6) AS ewma24
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_start)
    """


@register("ts_ewma_hourly", oracle=_ewma_oracle(), tags=("TS-ewma",))
def ts_ewma_hourly(spark, sf_dir):
    """Truncated EWMA (24 taps, decay 0.7) of the hourly event count
    per type — the monitoring smoother behind alerting baselines.

    The truncation is the distributed formulation on purpose: exact
    recursive EWMA (s_t = αx_t + (1-α)s_{t-1}) is inherently
    sequential — it belongs to streaming state, not a batch window —
    while the 24-tap form is a fixed linear combination of LAG()s that
    any engine evaluates in one window pass, and the dropped tail
    carries weight 0.7²⁴ < 0.2%.  Weights are head-normalized (the
    first rows of each series renormalize over the taps that exist).
    At 100 TB the window partitions by series key like any other
    windowed aggregate; no state, no iteration, no skew beyond the
    hottest single series."""
    from functools import reduce

    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(F.count(F.lit(1)).cast("double").alias("nv"))
    w = Window.partitionBy("event_type").orderBy("hour_start")
    num = reduce(
        lambda acc, k: acc
        + F.coalesce(F.lag("nv", k).over(w), F.lit(0.0)) * F.lit(EWMA_W[k]),
        range(1, EWMA_TAPS),
        F.coalesce(F.lag("nv", 0).over(w), F.lit(0.0)) * F.lit(EWMA_W[0]),
    )
    den = reduce(
        lambda acc, k: acc
        + F.when(F.lag("nv", k).over(w).isNull(), F.lit(0.0)).otherwise(F.lit(EWMA_W[k])),
        range(1, EWMA_TAPS),
        F.when(F.lag("nv", 0).over(w).isNull(), F.lit(0.0)).otherwise(F.lit(EWMA_W[0])),
    )
    return hourly.select(
        "hour_start",
        "event_type",
        F.col("nv").cast("bigint").alias("n"),
        F.round(num / den, 6).alias("ewma24"),
    )


@register(
    "ts_forward_fill",
    oracle="""
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS sparse_value,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_value
        FROM events
    """,
    tags=("TS-locf",),
)
def ts_forward_fill(spark, sf_dir):
    """Forward fill (last observation carried forward): a sparse
    per-user signal — here, the value of purchase events — propagated
    onto every event row until the next observation.  The classic
    sensor/price-feed densification, expressed as
    ``last(ignorenulls)`` over a running row frame: one window pass,
    one shuffle on the series key, no self-join, no iteration.
    Deterministic ordering pins ties with the unique event_id."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        sparse.alias("sparse_value"),
        F.last(sparse, ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "sessionize_events_gap",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(is_start) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM ordered
        )
        SELECT user_id,
               CAST(session_seq AS INT) AS session_seq,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, session_seq
    """,
    tags=("TS-sessionize",),
)
def sessionize_events_gap(spark, sf_dir):
    """BATCH sessionization — assign every event to a per-user session
    via the 30-minute-gap rule, then roll sessions up (start, end,
    count, value).  The batch twin of the streaming session window
    (stream_session_gap_30m): same gap semantics, but as the classic
    two-window closed form — a LAG marks session STARTS (gap >
    30 min or first event), a running SUM of start-flags numbers the
    sessions — so it runs over historical corpora without a streaming
    runtime.

    100 TB posture: both windows and the final rollup share ONE
    partitioning (user_id), so the whole operator is a single hash
    shuffle followed by per-user sorts — no second exchange
    (AQE-visible in the plan).  user_id is high-cardinality; a
    pathological single-user firehose is the documented skew case
    (salt the user with a session-day prefix if one key dominates).
    Gap comparison is on epoch MICROSECONDS (events.ts precision) in
    both engines — a seconds-truncated comparison would disagree with
    the oracle on gaps within 1s of the threshold.  Ordering ties
    break on event_id (policy §7.2)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    is_start = F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0)
    sess = (
        e.select("user_id", "event_id", "ts", "value", is_start.alias("is_start"))
        .select(
            "user_id",
            "ts",
            "value",
            F.sum("is_start")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("int")
            .alias("session_seq"),
        )
    )
    return _session_rollup(sess)


def _session_rollup(sess):
    """Per-(user_id, session_seq) session rows: start, end, event count
    and exact value — the rollup both sessionize keys end with."""
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).cast("double").alias("session_value"),
    )


@register(
    "sessionize_events_gap_rangesplit",
    oracle=REGISTRY["sessionize_events_gap"].oracle,
    tags=("TS-sessionize", "SCALE-twin"),
)
def sessionize_events_gap_rangesplit(spark, sf_dir):
    """``sessionize_events_gap`` with the per-user windows RANGE-SPLIT
    into fixed 1 h time bands — the session-family escape hatch for the
    hot-partition window hazard (VERDICT r14 item 5): the parent sorts
    a firehose user's ENTIRE history in one window partition; here
    every event-level window is bounded by one band of one user, so the
    partition ceiling is peak EVENT RATE × band width, a deployment
    knob, not a data-volume function.  Same oracle as the parent, so
    hash equality proves the rewrite exact.

    Sessionization's seam is harder than lag/lead's (win_lead_lag_
    rangesplit): sessions CROSS band boundaries, so session numbers
    must stay globally consistent per user.  The classic two-level
    prefix-scan closes it exactly:

    1. band = floor(epoch_µs / 1 h), exact decimal arithmetic (the
       ADVICE r14 rule — long/long `/` runs in double and mis-bands
       post-2^53 epochs);
    2. intra-band start flags: LAG within the BOUNDED (user, band)
       partition; a band's FIRST event takes its previous timestamp
       from the halo — a per-(user, band) aggregate (max epoch per
       band, one map-side-partial hash aggregate) scanned by a
       per-user window over BANDS (≤ time-span/band-width rows,
       data-volume-independent), whose LAG supplies the previous
       POPULATED band's last epoch (empty bands skipped implicitly —
       and any ≥1-band hole already exceeds the 30 min gap);
    3. global numbering: session_seq = (exclusive per-user prefix sum
       of per-band start COUNTS over the band window) + (running sum
       of start flags within the band) — the standard carry/local
       split of a distributed prefix sum, exact in integers;
    4. rollup: the same (user_id, session_seq) hash aggregate as the
       parent; a session spanning bands reassembles here because its
       events all carry the same global seq.

    100 TB posture: two bounded event-level windows (one sort of the
    (user, band) partitioning serves both), one band-level meta window
    over aggregates, one rollup shuffle — no per-user event-row
    partition anywhere; the hot key parallelizes across its bands."""
    from pyspark.sql import Window

    from etl_builder_spark.operators.windows import RANGESPLIT_BAND_US

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    e = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        us.alias("us"),
        F.floor(us.cast("decimal(20,0)") / F.lit(RANGESPLIT_BAND_US))
        .cast("long")
        .alias("band"),
    )

    wb = Window.partitionBy("user_id", "band").orderBy("ts", "event_id")
    # r15: the former row_number()==1 test duplicated what NULL-ness of
    # the intra-band LAG already encodes (only a band's first row has a
    # NULL lag), so the extra window expression is dropped and prev_us
    # is a plain COALESCE of intra-band lag with the halo
    flagged = e.select(
        "user_id",
        "band",
        "ts",
        "event_id",
        "value",
        "us",
        F.lag("us").over(wb).alias("prev_us_in"),
    )

    # halo: previous populated band's last epoch, via the band-level
    # meta window (partition size = time-span/band-width, volume-free)
    band_edges = e.groupBy("user_id", "band").agg(F.max("us").alias("last_us"))
    we = Window.partitionBy("user_id").orderBy("band")
    halo = band_edges.select(
        "user_id",
        "band",
        F.lag("last_us").over(we).alias("prev_band_last_us"),
    )

    j = flagged.join(halo, ["user_id", "band"], "left")
    prev_us = F.coalesce(F.col("prev_us_in"), F.col("prev_band_last_us"))
    is_start = F.when(
        prev_us.isNull() | ((F.col("us") - prev_us) > 1_800_000_000), 1
    ).otherwise(0)
    # persisted (r15, guide §5): both the event-level numbering and the
    # band-level carry aggregate read this frame — without it the
    # window+halo join re-derives once per consumer (the sess⋈offsets
    # join held TWO full derivations of the same subtree)
    started = j.select(
        "user_id",
        "band",
        "ts",
        "event_id",
        "value",
        is_start.alias("is_start"),
    ).persist()

    # local (intra-band) running count of starts — same (user, band)
    # partitioning as wb, so Catalyst reuses the sort
    local = started.select(
        "user_id",
        "band",
        "ts",
        "value",
        F.sum("is_start")
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("local_seq"),
    )
    # carry: exclusive prefix sum of per-band start counts over bands —
    # the counts come straight off the persisted event frame as one
    # hash aggregate (r15; formerly a whole-partition window sum
    # carried on every event row and re-reduced)
    offsets = (
        started.groupBy("user_id", "band")
        .agg(F.sum("is_start").alias("band_starts"))
        .select(
            "user_id",
            "band",
            F.coalesce(
                F.sum("band_starts").over(
                    we.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("band_offset"),
        )
    )
    sess = local.join(offsets, ["user_id", "band"]).select(
        "user_id",
        "ts",
        "value",
        (F.col("band_offset") + F.col("local_seq")).cast("int").alias("session_seq"),
    )
    return _session_rollup(sess)


@register(
    "ts_resample_ohlc",
    oracle="""
        SELECT event_type,
               date_trunc('hour', ts) AS hour_start,
               arg_min(value, printf('%020d%010d', epoch_us(ts), event_id)) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               arg_max(value, printf('%020d%010d', epoch_us(ts), event_id)) AS close,
               COUNT(*) AS volume,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        -- complete-case (r12): a tick with unknown value is not a
        -- trade — and the engines' arg_min/min_by otherwise disagree
        -- on whether a NULL-value row can carry the open/close
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    """,
    tags=("TS-ohlc",),
)
def ts_resample_ohlc(spark, sf_dir):
    """OHLC resampling — the financial/metrics downsample: per
    (event_type, hour), the first (open) and last (close) value in
    event-time order plus high/low/volume.  One map-side-combinable
    aggregation: open/close are min_by/max_by over an ORDERING KEY,
    never a window sort — the same de-windowed argmin shape as
    pq_encode, so the hourly rollup of a 100 TB stream is one
    shuffle of (event_type, hour) partial aggregates.

    The ordering key is a zero-padded '%020d%010d' string of
    (epoch_us, event_id): fixed-width decimal strings compare
    lexicographically exactly like the (ts, event_id) tuple, which
    gives min_by/max_by a SCALAR key both engines order identically —
    DuckDB's arg_min/arg_max don't accept struct keys, and a
    same-timestamp tie without the event_id suffix would be
    nondeterministic (policy §7.2)."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()  # complete-case (r12)
    )
    okey = F.format_string("%020d%010d", F.unix_micros("ts"), F.col("event_id"))
    return e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.min_by("value", okey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", okey).alias("close"),
        F.count(F.lit(1)).alias("volume"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )


@register(
    "ts_zscore_anomaly",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        win AS (
            SELECT hour_start, event_type, n,
                   COUNT(n)    OVER w AS w_cnt,
                   SUM(n)      OVER w AS w_sum,
                   SUM(n * n)  OVER w AS w_sumsq
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT hour_start, event_type, n,
               ROUND(z, 6) AS zscore,
               (abs(COALESCE(z, 0.0)) > 2.0) AS is_anomaly
        FROM (
            SELECT hour_start, event_type, n, w_cnt,
                   (CAST(n AS DOUBLE) - CAST(w_sum AS DOUBLE) / CAST(w_cnt AS DOUBLE))
                   / sqrt(NULLIF(
                       (CAST(w_sumsq AS DOUBLE)
                        - CAST(w_sum AS DOUBLE) * CAST(w_sum AS DOUBLE) / CAST(w_cnt AS DOUBLE))
                       / (CAST(w_cnt AS DOUBLE) - 1.0), 0.0)) AS z
            FROM win
            WHERE w_cnt >= 3
        )
    """,
    tags=("TS-anomaly",),
)
def ts_zscore_anomaly(spark, sf_dir):
    """Rolling z-score anomaly flags on the hourly event-count series —
    the monitoring detector (|z| > 2 vs the trailing 24-hour window,
    current hour excluded so a spike can't mask itself).

    Bit-determinism by construction: the windowed moments are SUM(n)
    and SUM(n²) over INTEGER counts — exact BIGINTs in any engine, any
    summation order — and mean/variance are derived from those exact
    integers by one fixed double expression, so the z-score is
    bit-identical cross-engine with no rounding leaps of faith (the
    ROUND(,6) is cosmetic).  Contrast STDDEV() OVER, whose streaming
    accumulation order differs by engine.  One window pass partitioned
    by series key; scales like any windowed aggregate."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour_start").rowsBetween(-24, -1)
    win = hourly.select(
        "hour_start",
        "event_type",
        "n",
        F.count("n").over(w).alias("w_cnt"),
        F.sum("n").over(w).alias("w_sum"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("w_sumsq"),
    ).where(F.col("w_cnt") >= 3)
    mean = F.col("w_sum").cast("double") / F.col("w_cnt").cast("double")
    var = (
        F.col("w_sumsq").cast("double")
        - F.col("w_sum").cast("double") * F.col("w_sum").cast("double") / F.col("w_cnt").cast("double")
    ) / (F.col("w_cnt").cast("double") - F.lit(1.0))
    z = (F.col("n").cast("double") - mean) / F.sqrt(F.nullif(var, F.lit(0.0)))
    return win.select(
        "hour_start",
        "event_type",
        "n",
        F.round(z, 6).alias("zscore"),
        (F.abs(F.coalesce(z, F.lit(0.0))) > 2.0).alias("is_anomaly"),
    )


@register(
    "ts_interpolate_linear",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
            FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        grid AS (SELECT hour_start, event_type FROM spine CROSS JOIN types),
        actual AS (
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2
        ),
        joined AS (
            SELECT g.hour_start, g.event_type, a.v,
                   epoch_us(g.hour_start) AS us
            FROM grid g LEFT JOIN actual a
              ON a.hour_start = g.hour_start AND a.event_type = g.event_type
        ),
        ctx AS (
            SELECT hour_start, event_type, v, us,
                   LAST_VALUE(v IGNORE NULLS) OVER wp AS prev_v,
                   LAST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS)
                       OVER wp AS prev_us,
                   FIRST_VALUE(v IGNORE NULLS) OVER wn AS next_v,
                   FIRST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS)
                       OVER wn AS next_us
            FROM joined
            WINDOW wp AS (PARTITION BY event_type ORDER BY hour_start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (PARTITION BY event_type ORDER BY hour_start
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT hour_start, event_type,
               (v IS NULL) AS was_gap,
               ROUND(CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                       prev_v + (next_v - prev_v)
                       * (CAST(us - prev_us AS DOUBLE) / CAST(next_us - prev_us AS DOUBLE))
               END, 6) AS value_interp
        FROM ctx
    """,
    tags=("TS-interp",),
)
def ts_interpolate_linear(spark, sf_dir):
    """Linear interpolation over the dense hourly grid — the
    gap-filling upgrade of LOCF (`ts_forward_fill`): a missing hour
    takes the line between its nearest observed neighbors, edges stay
    null.  Two one-pass windows per series (last-known-before /
    first-known-after, both IGNORE NULLS) supply the bracketing
    points; the interpolation weight divides exact epoch-microsecond
    BIGINTs, and observed values are exact-decimal sums, so the one
    double expression is bit-identical cross-engine (ROUND(,6)
    cosmetic).  Shares the spine × dims grid shape (and its broadcast
    posture) with ts_hourly_gapfill; both windows and the grid join
    sit on the same event_type partitioning — one shuffle total."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    spine = _hour_spine(e)
    types = e.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    actual = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(F.sum(money("value")).cast("double").alias("v"))
    g = grid.alias("g")
    a = actual.alias("a")
    joined = g.join(
        a,
        (F.col("a.hour_start") == F.col("g.hour_start"))
        & (F.col("a.event_type") == F.col("g.event_type")),
        "left",
    ).select(
        F.col("g.hour_start").alias("hour_start"),
        F.col("g.event_type").alias("event_type"),
        F.col("a.v").alias("v"),
        F.unix_micros(F.col("g.hour_start")).alias("us"),
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_us = F.when(F.col("v").isNotNull(), F.col("us"))
    ctx = joined.select(
        "hour_start",
        "event_type",
        "v",
        "us",
        F.last("v", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(known_us, ignorenulls=True).over(wp).alias("prev_us"),
        F.first("v", ignorenulls=True).over(wn).alias("next_v"),
        F.first(known_us, ignorenulls=True).over(wn).alias("next_us"),
    )
    frac = (F.col("us") - F.col("prev_us")).cast("double") / (
        F.col("next_us") - F.col("prev_us")
    ).cast("double")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
        )
    )
    return ctx.select(
        "hour_start",
        "event_type",
        F.col("v").isNull().alias("was_gap"),
        F.round(interp, 6).alias("value_interp"),
    )


@register(
    "ts_calendar_dim",
    oracle="""
        WITH bounds AS (
            SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS dts
            FROM bounds
        )
        SELECT CAST(dts AS DATE) AS d,
               CAST(year(dts) AS INT) AS year,
               CAST(quarter(dts) AS INT) AS quarter,
               CAST(month(dts) AS INT) AS month,
               CAST(day(dts) AS INT) AS day_of_month,
               CAST(isodow(dts) AS INT) AS iso_dow,
               CAST(weekofyear(dts) AS INT) AS iso_week,
               (isodow(dts) >= 6) AS is_weekend,
               (CAST(dts AS DATE) = date_trunc('month', dts)) AS is_month_start,
               CAST(day(last_day(CAST(dts AS DATE))) AS INT) AS days_in_month
        FROM spine
    """,
    tags=("TS-caldim",),
)
def ts_calendar_dim(spark, sf_dir):
    """Calendar-dimension generation — the date spine every mart join
    hangs off (fiscal rollups, weekend flags, month boundaries),
    generated from the observed event range with ``sequence()`` +
    expression-derived attributes; no driver-side loop, no fixture
    file.  Cross-engine traps handled explicitly: day-of-week is the
    ISO numbering (Spark ``weekday()+1`` ≡ DuckDB ``isodow``; the
    default ``dayofweek`` disagrees between engines), week is ISO
    week-of-year on both.  A calendar dim is tiny forever (366
    rows/year) — always broadcast it."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    return spine.select(
        "d",
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day_of_month"),
        (F.weekday("d") + 1).alias("iso_dow"),
        F.weekofyear("d").alias("iso_week"),
        (F.weekday("d") + 1 >= 6).alias("is_weekend"),
        (F.col("d") == F.date_trunc("month", F.col("d")).cast("date")).alias(
            "is_month_start"
        ),
        F.dayofmonth(F.last_day("d")).alias("days_in_month"),
    )


#: LTTB-style decimation: 6-hour buckets over the hourly series
LTTB_BUCKET_H = 6


@register(
    "ts_downsample_lttb",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(epoch_us(date_trunc('hour', ts)) AS DOUBLE) AS x,
                   CAST(COUNT(*) AS DOUBLE) AS y
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ),
        bucketed AS (
            SELECT event_type, h, x, y,
                   CAST(epoch_us(h) // (3600000000 * {LTTB_BUCKET_H}) AS BIGINT) AS b
            FROM hourly
        ),
        anchors AS (
            SELECT event_type, b,
                   CAST(SUM(x) AS DOUBLE) / COUNT(*) AS ax,
                   CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ay,
                   COUNT(*) AS n_in_bucket
            FROM bucketed GROUP BY event_type, b
        ),
        ctx AS (
            SELECT event_type, b, ax, ay, n_in_bucket,
                   LAG(ax)  OVER w AS px, LAG(ay)  OVER w AS py,
                   LEAD(ax) OVER w AS nx, LEAD(ay) OVER w AS ny
            FROM anchors
            WINDOW w AS (PARTITION BY event_type ORDER BY b)
        ),
        scored AS (
            SELECT p.event_type, p.b, p.h, p.y, c.n_in_bucket,
                   ROUND(abs((c.px - c.nx) * (p.y - c.py)
                             - (c.px - p.x) * (c.ny - c.py)), 6) AS area
            FROM bucketed p
            JOIN ctx c ON c.event_type = p.event_type AND c.b = p.b
            WHERE c.px IS NOT NULL AND c.nx IS NOT NULL
        )
        SELECT event_type, b, n_in_bucket,
               MIN(h) FILTER (WHERE rnk = 1) AS chosen_hour,
               MIN(y) FILTER (WHERE rnk = 1) AS chosen_value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY event_type, b ORDER BY area DESC, h
                   ) AS rnk
            FROM scored
        )
        GROUP BY event_type, b, n_in_bucket
    """,
    tags=("TS-lttb",),
)
def ts_downsample_lttb(spark, sf_dir):
    """Largest-Triangle-style downsampling of the hourly event-count
    series: within each 6-hour bucket keep the point spanning the
    biggest triangle against the NEIGHBOR BUCKETS' centroids — the
    dashboard decimation that preserves spikes where naive averaging
    flattens them.  Classic LTTB anchors on the previously SELECTED
    point (inherently sequential); anchoring on bucket centroids is
    the standard parallel reformulation — every bucket scores
    independently, so the whole operator is two aggregates and one
    window over the bucket-level frame (|buckets|, not |points|).
    The triangle area is one fixed double expression of exact
    integer/count inputs, rounded before the argmax, which ties on
    the hour (policy §7.2).  Edge buckets (no neighbor on one side)
    are dropped, as in the original algorithm's fixed endpoints."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    hourly = hourly.select(
        "event_type",
        "h",
        F.unix_micros("h").cast("double").alias("x"),
        "y",
        (F.unix_micros("h") / F.lit(3_600_000_000 * LTTB_BUCKET_H))
        .cast("long")
        .alias("b"),
    )
    anchors = hourly.groupBy("event_type", "b").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("ax"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("ay"),
        F.count(F.lit(1)).alias("n_in_bucket"),
    )
    w = Window.partitionBy("event_type").orderBy("b")
    ctx = anchors.select(
        "event_type",
        "b",
        "n_in_bucket",
        F.lag("ax").over(w).alias("px"),
        F.lag("ay").over(w).alias("py"),
        F.lead("ax").over(w).alias("nx"),
        F.lead("ay").over(w).alias("ny"),
    ).where(F.col("px").isNotNull() & F.col("nx").isNotNull())
    scored = hourly.join(ctx, ["event_type", "b"]).select(
        "event_type",
        "b",
        "n_in_bucket",
        "h",
        "y",
        F.round(
            F.abs(
                (F.col("px") - F.col("nx")) * (F.col("y") - F.col("py"))
                - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
            ),
            6,
        ).alias("area"),
    )
    w2 = Window.partitionBy("event_type", "b").orderBy(F.col("area").desc(), "h")
    return (
        scored.select("*", F.row_number().over(w2).alias("rnk"))
        .where(F.col("rnk") == 1)
        .select(
            "event_type",
            "b",
            "n_in_bucket",
            F.col("h").alias("chosen_hour"),
            F.col("y").alias("chosen_value"),
        )
    )


@register(
    "ts_rolling_corr",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   COUNT(*) FILTER (WHERE event_type = 'click') AS cx,
                   COUNT(*) FILTER (WHERE event_type = 'view') AS cy
            FROM events GROUP BY 1
        ),
        win AS (
            SELECT h, cx, cy,
                   COUNT(*)      OVER w AS n,
                   SUM(cx)       OVER w AS sx,
                   SUM(cy)       OVER w AS sy,
                   SUM(cx * cy)  OVER w AS sxy,
                   SUM(cx * cx)  OVER w AS sxx,
                   SUM(cy * cy)  OVER w AS syy
            FROM hourly
            WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        )
        SELECT h, cx, cy,
               ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt(NULLIF((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)),
                     6) AS corr24
        FROM win
        WHERE n >= 24
    """,
    tags=("TS-rollcorr",),
)
def ts_rolling_corr(spark, sf_dir):
    """Rolling 24-hour Pearson correlation between two event series
    (hourly click vs view counts) — the co-movement monitor behind
    'did these metrics decouple' alerts.  Same bit-determinism scheme
    as ts_zscore_anomaly: every windowed moment (Σx, Σy, Σxy, Σx²,
    Σy²) is an exact BIGINT sum of integer counts, and the correlation
    is one fixed double expression of those exact integers — built-in
    ``corr() OVER`` streams doubles in partition order and could never
    hash-match.  One pivot-style conditional aggregate builds both
    series in a single scan; one unpartitioned window over the HOURLY
    frame (|hours| rows — bounded, the vocab_top_tokens argument).
    Windows with fewer than 24 observations are suppressed (warm-up)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("cx"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("cy"),
    )
    w = Window.orderBy("h").rowsBetween(-23, Window.currentRow)
    win = hourly.select(
        "h",
        "cx",
        "cy",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cx").over(w).alias("sx"),
        F.sum("cy").over(w).alias("sy"),
        F.sum(F.col("cx") * F.col("cy")).over(w).alias("sxy"),
        F.sum(F.col("cx") * F.col("cx")).over(w).alias("sxx"),
        F.sum(F.col("cy") * F.col("cy")).over(w).alias("syy"),
    ).where(F.col("n") >= 24)
    n = F.col("n")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        F.nullif(
            (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
            * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")),
            F.lit(0.0),
        )
    )
    return win.select("h", "cx", "cy", F.round(num / den, 6).alias("corr24"))


@register(
    "ts_year_over_year",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders
            GROUP BY 1
        )
        SELECT cur.m AS month,
               CAST(cur.revenue AS DOUBLE) AS revenue,
               cur.n_orders,
               CAST(prev.revenue AS DOUBLE) AS revenue_prev_year,
               ROUND((CAST(cur.revenue AS DOUBLE) - CAST(prev.revenue AS DOUBLE))
                     / CAST(prev.revenue AS DOUBLE), 6) AS yoy_pct
        FROM monthly cur
        LEFT JOIN monthly prev ON prev.m = cur.m - INTERVAL 12 MONTH
    """,
    tags=("TS-yoy",),
)
def ts_year_over_year(spark, sf_dir):
    """Year-over-year growth per month — the reporting staple: each
    month's revenue against the same month last year, as a join on the
    shifted calendar key rather than LAG(12) (a gap month would
    silently misalign a row-offset lag; the key join is correct under
    missing months and NULLs where no prior year exists).  Revenue
    sums stay exact decimal; the growth ratio is one double division
    per row.  The monthly frame is |months| rows — both sides of the
    self-join broadcast at any corpus scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("m")).agg(
        F.sum(money("o_totalprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    cur = monthly.alias("cur")
    prev = monthly.select(
        F.add_months(F.col("m"), 12).cast("timestamp").alias("m_next"),
        F.col("revenue").alias("revenue_prev"),
    ).alias("prev")
    return cur.join(prev, F.col("prev.m_next") == F.col("cur.m"), "left").select(
        F.col("cur.m").alias("month"),
        F.col("cur.revenue").cast("double").alias("revenue"),
        F.col("cur.n_orders").alias("n_orders"),
        F.col("revenue_prev").cast("double").alias("revenue_prev_year"),
        F.round(
            (F.col("cur.revenue").cast("double") - F.col("revenue_prev").cast("double"))
            / F.col("revenue_prev").cast("double"),
            6,
        ).alias("yoy_pct"),
    )


@register(
    "sessions_bounce_by_hour",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(is_start) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM ordered
        ),
        rollup AS (
            SELECT user_id, session_seq,
                   MIN(ts) AS session_start,
                   COUNT(*) AS n_events,
                   epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
            FROM sess GROUP BY user_id, session_seq
        )
        SELECT CAST(hour(session_start) AS INT) AS start_hour,
               COUNT(*) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
               ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS bounce_rate,
               CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events,
               CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_duration_s
        FROM rollup GROUP BY 1
    """,
    tags=("TS-bounce",),
)
def sessions_bounce_by_hour(spark, sf_dir):
    """Session-quality profile by hour of day: bounce rate (single-
    event sessions), mean session depth, and mean duration — the
    product-analytics rollup layered on the 30-minute-gap
    sessionization (sessionize_events_gap's exact gap semantics,
    re-derived here so the key is self-contained).

    100 TB posture: the two sessionizing windows and the per-session
    rollup share the user_id partitioning (one exchange + per-user
    sort), and the final by-hour rollup reduces to 24 groups with
    map-side partial aggregation — the second shuffle carries ≤ 24
    rows per mapper.  Durations are exact epoch-µs integers; the only
    doubles are final IEEE divisions identical on both engines
    (policy §7.2)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    is_start = F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0)
    sess = e.select(
        "user_id",
        "ts",
        is_start.alias("is_start"),
        F.col("event_id"),
    ).select(
        "user_id",
        "ts",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )
    rollup = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    n_bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    n_sessions = F.count(F.lit(1))
    return rollup.groupBy(F.hour("session_start").cast("int").alias("start_hour")).agg(
        n_sessions.alias("n_sessions"),
        n_bounce.alias("n_bounce"),
        F.round(n_bounce.cast("double") / n_sessions, 6).alias("bounce_rate"),
        (F.sum("n_events").cast("double") / n_sessions).alias("avg_events"),
        (F.sum("dur_us").cast("double") / n_sessions / F.lit(1000000.0)).alias("avg_duration_s"),
    )


@register(
    "ts_rolling_dau_wau",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ),
        mx AS (SELECT MAX(d) AS md FROM ud),
        contrib AS (
            SELECT DISTINCT user_id, d + CAST(i AS INT) AS day
            FROM ud, unnest(range(0, 7)) AS u(i)
        ),
        wau AS (
            SELECT day, COUNT(*) AS wau
            FROM contrib, mx
            WHERE day <= md
            GROUP BY day
        ),
        dau AS (SELECT d AS day, COUNT(*) AS dau FROM ud GROUP BY 1)
        SELECT w.day,
               COALESCE(dau.dau, 0) AS dau,
               w.wau,
               ROUND(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / w.wau, 6) AS stickiness
        FROM wau w LEFT JOIN dau ON dau.day = w.day
    """,
    tags=("TS-dau-wau",),
)
def ts_rolling_dau_wau(spark, sf_dir):
    """Rolling active-user counts: daily actives (DAU) and trailing-
    7-day actives (WAU) per calendar day, plus the DAU/WAU stickiness
    ratio.  Rolling COUNT(DISTINCT) does not decompose into a window
    aggregate, so the scalable closed form is the CONTRIBUTION
    EXPLODE: each distinct (user, day) activity contributes to the 7
    target days it keeps the user "weekly active" for, and WAU(d) is
    then a plain COUNT over distinct (user, target-day) — turning an
    unmergeable distinct-over-window into two hash aggregations.

    100 TB posture: the explode multiplies the DEDUPLICATED (user,
    day) frame by 7 — far smaller than the raw event stream it
    summarizes — and both distinct steps and the final count get
    map-side partial aggregation on (user, day) / day keys; no
    per-day sort, no state.  The same shape scales to MAU with ×30
    (or switch to mergeable HLL sketches, D13, when exactness can be
    traded).  Days past the corpus end are clipped against the
    broadcast 1-row max-day frame."""
    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select(F.date_trunc("day", "ts").cast("date").alias("d"), "user_id")
        .distinct()
        .persist()
    )
    mx = ud.agg(F.max("d").alias("md"))
    contrib = (
        ud.select("user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d")
        .select("user_id", F.date_add("d", F.col("i")).alias("day"))
        .distinct()
    )
    wau = (
        contrib.crossJoin(F.broadcast(mx))
        .where(F.col("day") <= F.col("md"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    dau = ud.groupBy(F.col("d").alias("day")).agg(F.count(F.lit(1)).alias("dau"))
    w, da = wau.alias("w"), dau.alias("da")
    dau_n = F.coalesce(F.col("da.dau"), F.lit(0))
    return w.join(da, F.col("da.day") == F.col("w.day"), "left").select(
        F.col("w.day").alias("day"),
        dau_n.alias("dau"),
        F.col("w.wau").alias("wau"),
        F.round(dau_n.cast("double") / F.col("w.wau"), 6).alias("stickiness"),
    )


@register(
    "path_topk_sessions",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, event_id, ts, event_type,
                   SUM(is_start) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM ordered
        ),
        paths AS (
            SELECT user_id, session_seq,
                   array_to_string(
                       list_slice(list(event_type ORDER BY ts, event_id), 1, 3),
                       '>') AS path
            FROM sess GROUP BY user_id, session_seq
        )
        SELECT path, COUNT(*) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 10
    """,
    tags=("TS-paths",),
)
def path_topk_sessions(spark, sf_dir):
    """Top user-journey openings: the most common first-three-event
    paths per session (30-minute-gap sessionization, same µs-exact
    rule as sessionize_events_gap) — the product-analytics "how do
    sessions start" report.  Ordered per-session paths come from
    collect_list over (ts, event_id, type) structs sorted AFTER
    collection (array_sort on the struct is deterministic; bare
    collect_list order is not — policy §7.2.4), truncated to the
    first three hops.

    100 TB posture: sessionizing windows and the per-session path
    aggregation share one user_id exchange; per-session state is
    bounded by the 3-hop slice interest (collect_list holds a session,
    not a user history), and the final path census is a low-cardinality
    hash agg with map-side combine + TakeOrderedAndProject top-10.
    Ties rank by path string (policy §7.2.3)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    is_start = F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0)
    sess = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )
    path = F.array_join(
        F.slice(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            1,
            3,
        ),
        ">",
    )
    paths = sess.groupBy("user_id", "session_seq").agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@register(
    "ts_new_vs_returning",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ),
        first_day AS (SELECT user_id, MIN(d) AS fd FROM ud GROUP BY user_id)
        SELECT d AS day,
               CAST(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN d > fd THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
               ROUND(CAST(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS new_share
        FROM ud JOIN first_day USING (user_id)
        GROUP BY d
    """,
    tags=("TS-new-returning",),
)
def ts_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning user split: a user is NEW on their
    first-ever active day and RETURNING after — the growth-accounting
    decomposition every activation dashboard starts from.  Two hash
    aggregations over the deduplicated (user, day) activity frame
    (persisted: both the first-day build and the daily rollup consume
    it), joined on user_id.

    100 TB posture: the (user, day) distinct collapses the raw event
    stream before anything else touches it; first-day is a map-side-
    combined MIN per user; the join is user_id-keyed (same hash
    partitioning as the distinct — no extra exchange) and the final
    rollup carries ≤ |days| rows per mapper.  No windows, no state —
    this shape is incrementally maintainable by merging yesterday's
    first-day table with today's batch (the production form)."""
    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select(F.date_trunc("day", "ts").cast("date").alias("d"), "user_id")
        .distinct()
        .persist()
    )
    first_day = ud.groupBy("user_id").agg(F.min("d").alias("fd"))
    is_new = F.sum(F.when(F.col("d") == F.col("fd"), 1).otherwise(0))
    is_ret = F.sum(F.when(F.col("d") > F.col("fd"), 1).otherwise(0))
    return (
        ud.join(first_day, "user_id")
        .groupBy(F.col("d").alias("day"))
        .agg(
            is_new.alias("new_users"),
            is_ret.alias("returning_users"),
            F.round(is_new.cast("double") / F.count(F.lit(1)), 6).alias("new_share"),
        )
    )


@register(
    "ts_seasonal_profile",
    oracle="""
        WITH cells AS (
            SELECT CAST(isodow(ts) AS INT) AS dow,
                   CAST(hour(ts) AS INT) AS hour_of_day,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events
            GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t FROM cells)
        SELECT dow, hour_of_day, n_events, total_value,
               ROUND(CAST(n_events AS DOUBLE) / t, 6) AS traffic_share
        FROM cells CROSS JOIN tot
    """,
    tags=("TS-seasonal",),
)
def ts_seasonal_profile(spark, sf_dir):
    """Weekly seasonality heatmap: event volume and value by (ISO day
    of week × hour of day) with each cell's share of total traffic —
    the load-profile input to capacity planning, anomaly baselines
    (pair with ts_zscore_anomaly), and send-time optimization.

    100 TB posture: one hash aggregation onto ≤ 168 cells with
    map-side combine (each mapper emits at most a week-heatmap), the
    grand total derived from the persisted cell frame rather than a
    second source scan; money sums are exact DECIMAL (policy §7.2).
    ISO day-of-week (Monday=1) is pinned on both engines — Spark's
    default dayofweek() is Sunday-first, a classic cross-engine
    off-by-one."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.groupBy(
            F.dayofweek(F.col("ts")).alias("_dow_sun1"),
            F.hour("ts").cast("int").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        # Sunday-first (1..7) → ISO (Mon=1..Sun=7)
        .select(
            (((F.col("_dow_sun1") + 5) % 7) + 1).cast("int").alias("dow"),
            "hour_of_day",
            "n_events",
            "total_value",
        )
        .persist()
    )
    tot = cells.agg(F.sum("n_events").cast("bigint").alias("t"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour_of_day",
        "n_events",
        "total_value",
        F.round(F.col("n_events").cast("double") / F.col("t"), 6).alias("traffic_share"),
    )


@register(
    "ts_twap_hourly",
    oracle="""
        WITH seq AS (
            SELECT event_type, value, ts,
                   LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                            ORDER BY ts, event_id) AS next_us,
                   epoch_us(ts) AS us
            FROM events
        ),
        spans AS (
            SELECT event_type,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS vc,
                   next_us - us AS w
            FROM seq WHERE next_us IS NOT NULL AND next_us > us
        )
        SELECT event_type,
               COUNT(*) AS n_spans,
               ROUND(CAST(SUM(vc * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100.0, 6)
                   AS twap,
               CAST(SUM(w) AS BIGINT) AS total_us
        FROM spans GROUP BY event_type
    """,
    tags=("TS-twap",),
)
def ts_twap_hourly(spark, sf_dir):
    """Time-weighted average value (TWAP) per event series: each
    observation holds until the next one, so its weight is the exact
    µs span to the successor (zero-length spans and the open last
    observation are excluded) — the standard correction when readings
    arrive irregularly and a plain AVG over-weights bursts.  Weights
    are exact integers and values exact decimals, so SUM(v·w) is an
    order-free exact decimal and the single division is identical
    IEEE on both engines (policy §7.2).

    100 TB posture: one LEAD window and the rollup share the series-
    key partitioning — one exchange + per-series sort, then map-side-
    combined aggregation; the same shape computes time-in-state /
    uptime weighting (weight by span per state).  A hot series is the
    usual window-skew case (split by calendar bucket if one series
    dominates)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = e.select(
        "event_type",
        # value in exact integer CENTS: keeps every sum at DECIMAL
        # scale 0, where both engines' decimal→double casts are a
        # single correctly-rounded conversion (a DECIMAL(38,2) sum
        # past 2^53 casts differently — DuckDB divides after an
        # integer→double rounding)
        (money("value") * 100).cast("decimal(38,0)").alias("vc"),
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    )
    spans = seq.where(F.col("next_us").isNotNull() & (F.col("next_us") > F.col("us"))).select(
        "event_type", "vc", (F.col("next_us") - F.col("us")).alias("w")
    )
    return spans.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.round(
            F.sum(F.col("vc") * F.col("w")).cast("double")
            / F.sum("w").cast("double")
            / F.lit(100.0),
            6,
        ).alias("twap"),
        F.sum("w").cast("bigint").alias("total_us"),
    )


@register(
    "ts_gap_outages",
    oracle="""
        WITH seq AS (
            SELECT event_type, ts,
                   LEAD(ts) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS next_ts
            FROM events
        )
        SELECT event_type,
               ts AS gap_start,
               next_ts AS gap_end,
               CAST(epoch_us(next_ts) - epoch_us(ts) AS DOUBLE) / 60000000.0
                   AS gap_minutes
        FROM seq
        WHERE next_ts IS NOT NULL
          AND epoch_us(next_ts) - epoch_us(ts) > 7200000000
    """,
    tags=("TS-outage",),
)
def ts_gap_outages(spark, sf_dir):
    """Dead-feed detector: silent windows longer than 2 hours inside
    each event stream, reported as (start, end, duration) — the
    HISTORICAL outage census that complements dq_freshness_sla's
    is-it-stale-now check (a feed can be fresh today yet have dropped
    hours last week; backfill planning needs the windows themselves).
    One LEAD over the per-series order turns gap detection into a
    row-local predicate; the threshold compares exact epoch-µs.

    100 TB posture: one exchange on the series key + per-series sort,
    no state, no self-join; on a date-partitioned layout the scan
    prunes to the audit window.  Per-series outage lists are tiny by
    construction (they are failures, not traffic)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select("event_type", "ts", F.lead("ts").over(w).alias("next_ts"))
    gap_us = F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
    return seq.where(F.col("next_ts").isNotNull() & (gap_us > 7_200_000_000)).select(
        "event_type",
        F.col("ts").alias("gap_start"),
        F.col("next_ts").alias("gap_end"),
        (gap_us.cast("double") / F.lit(60000000.0)).alias("gap_minutes"),
    )


@register(
    "ts_weekly_churn",
    oracle="""
        WITH uw AS (
            SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wk, user_id
            FROM events
        ),
        mx AS (SELECT MAX(wk) AS mw FROM uw),
        paired AS (
            SELECT a.wk, a.user_id, (b.user_id IS NOT NULL) AS retained
            FROM uw a
            LEFT JOIN uw b
              ON b.user_id = a.user_id
             AND b.wk = CAST(a.wk + INTERVAL 7 DAY AS DATE)
        )
        SELECT p.wk,
               COUNT(*) AS n_active,
               CAST(SUM(CASE WHEN retained THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(COUNT(*) - SUM(CASE WHEN retained THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_churned,
               ROUND(CAST(COUNT(*) - SUM(CASE WHEN retained THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS churn_rate
        FROM paired p CROSS JOIN mx
        WHERE p.wk < mx.mw
        GROUP BY p.wk
    """,
    tags=("TS-churn",),
)
def ts_weekly_churn(spark, sf_dir):
    """Calendar-period churn: of the users active in week W, how many
    are absent in week W+1 — the period-over-period complement of
    cohort retention (cohort_weekly_retention follows a signup class
    forever; churn compares ADJACENT calendar periods over whoever
    was active).  A self-join of the deduplicated (user, week) frame
    against itself shifted one week answers membership; the final
    week is excluded (its successor is unobserved, not churned).

    100 TB posture: the (user, week) distinct collapses the stream
    first; the shifted self-join is user-keyed (both sides from ONE
    persisted frame — same partitioning, no second derivation), and
    the rollup carries ≤ |weeks| rows per mapper.  Incremental form:
    yesterday's frame + today's batch, same join."""
    e = load_table(spark, sf_dir, "events")
    uw = (
        e.select(F.date_trunc("week", "ts").cast("date").alias("wk"), "user_id")
        .distinct()
        .persist()
    )
    mx = uw.agg(F.max("wk").alias("mw"))
    a, b = uw.alias("a"), uw.alias("b")
    paired = a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("b.wk") == F.date_add(F.col("a.wk"), 7)),
        "left",
    ).select(F.col("a.wk").alias("wk"), F.col("b.user_id").isNotNull().alias("retained"))
    n_ret = F.sum(F.when(F.col("retained"), 1).otherwise(0))
    n_act = F.count(F.lit(1))
    return (
        paired.crossJoin(F.broadcast(mx))
        .where(F.col("wk") < F.col("mw"))
        .groupBy("wk")
        .agg(
            n_act.alias("n_active"),
            n_ret.cast("bigint").alias("n_retained"),
            (n_act - n_ret).cast("bigint").alias("n_churned"),
            F.round((n_act - n_ret).cast("double") / n_act, 6).alias("churn_rate"),
        )
    )


@register(
    "ts_control_chart_xmr",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour_start,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        mr AS (
            SELECT hour_start, x,
                   abs(x - LAG(x) OVER (ORDER BY hour_start)) AS moving_range
            FROM hourly
        ),
        limits AS (
            SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS xbar,
                   CAST(SUM(moving_range) AS DOUBLE) / COUNT(moving_range) AS mrbar
            FROM mr
        )
        SELECT m.hour_start, m.x, m.moving_range,
               ROUND(l.xbar, 6) AS center,
               ROUND(l.xbar + 2.66 * l.mrbar, 6) AS ucl,
               ROUND(greatest(l.xbar - 2.66 * l.mrbar, 0.0), 6) AS lcl,
               (m.x > l.xbar + 2.66 * l.mrbar
                OR m.x < greatest(l.xbar - 2.66 * l.mrbar, 0.0)) AS out_of_control
        FROM mr m CROSS JOIN limits l
    """,
    tags=("TS-spc",),
)
def ts_control_chart_xmr(spark, sf_dir):
    """XmR (individuals / moving-range) control chart over the hourly
    purchase rate — Shewhart statistical process control, the
    principled version of "alert at mean ± kσ": control limits are
    x̄ ± 2.66·(mean moving range), with 2.66 the standard d2-derived
    constant injected as a literal (no cross-engine table lookup),
    and the moving range |x_t − x_{t−1}| estimating short-term
    variation robustly against trends.  All inputs are exact integer
    counts; limits involve two divisions and one multiply — identical
    IEEE — and comparisons happen on the unrounded doubles in both
    engines.

    100 TB posture: the chart runs on the HOURLY aggregate (bounded
    by the calendar, not data volume — the single-series global-order
    window is |hours| rows); limits are a broadcast 1-row frame
    derived from the persisted series, so the source is scanned
    once."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    mr = hourly.select(
        "hour_start",
        "x",
        F.abs(F.col("x") - F.lag("x").over(Window.orderBy("hour_start"))).alias(
            "moving_range"
        ),
    ).persist()
    limits = mr.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("xbar"),
        (F.sum("moving_range").cast("double") / F.count("moving_range")).alias("mrbar"),
    )
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl = F.greatest(F.col("xbar") - 2.66 * F.col("mrbar"), F.lit(0.0))
    return mr.crossJoin(F.broadcast(limits)).select(
        "hour_start",
        "x",
        "moving_range",
        F.round(F.col("xbar"), 6).alias("center"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((F.col("x") > ucl) | (F.col("x") < lcl)).alias("out_of_control"),
    )


#: cos/sin table for the 24-hour fundamental, precomputed Python
#: floats injected as LITERALS into both engines (the ts_ewma_hourly
#: pattern — no cross-engine trig evaluation anywhere).
import math as _math

DFT_COS24 = tuple(_math.cos(2 * _math.pi * h / 24) for h in range(24))
DFT_SIN24 = tuple(_math.sin(2 * _math.pi * h / 24) for h in range(24))

_COS_CASE = "CASE hod " + " ".join(
    f"WHEN {h} THEN {c!r}" for h, c in enumerate(DFT_COS24)
) + " END"
_SIN_CASE = "CASE hod " + " ".join(
    f"WHEN {h} THEN {s!r}" for h, s in enumerate(DFT_SIN24)
) + " END"


@register(
    "ts_seasonality_strength_dft",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hs,
                   CAST(hour(ts) AS INT) AS hod,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2, 3
        ),
        proj AS (
            SELECT event_type,
                   COUNT(*) AS n_hours,
                   CAST(SUM(x) AS BIGINT) AS total,
                   CAST(SUM(CAST(ROUND(x * ({_COS_CASE}), 9) AS DECIMAL(28,9)))
                        AS DOUBLE) AS a_cos,
                   CAST(SUM(CAST(ROUND(x * ({_SIN_CASE}), 9) AS DECIMAL(28,9)))
                        AS DOUBLE) AS a_sin
            FROM hourly GROUP BY event_type
        )
        SELECT event_type, n_hours, total,
               ROUND(a_cos, 6) AS a_cos,
               ROUND(a_sin, 6) AS a_sin,
               ROUND(2.0 * sqrt(a_cos * a_cos + a_sin * a_sin) / n_hours, 6)
                   AS daily_amplitude,
               ROUND((2.0 * sqrt(a_cos * a_cos + a_sin * a_sin) / n_hours)
                     / (CAST(total AS DOUBLE) / n_hours), 6) AS seasonality_strength
        FROM proj
    """,
    tags=("TS-dft",),
)
def ts_seasonality_strength_dft(spark, sf_dir):
    """Daily-cycle seasonality strength by single-bin DFT: project
    each series' hourly counts onto the 24-hour fundamental
    (cos/sin at the hour-of-day phase), recover the cycle's amplitude
    (2|F|/N) and its size relative to the mean level — the one-number
    answer to "is this stream diurnal", feeding forecasting-model
    choice and anomaly-baseline shape (pair with ts_seasonal_profile,
    which shows the cycle; this SCORES it).  The 24 phase weights are
    precomputed literals (no cross-engine trig); projections sum
    ROUND(x·w, 9) terms as DECIMAL — order-free exact — and only
    identical IEEE sqrt/divides follow (policy §7.2).

    100 TB posture: one hash aggregation to hourly cells, one more to
    per-series projections — both map-side combined; an arbitrary
    frequency grid is the same shape with one (cos, sin) column pair
    per bin.  No window, no sort, no state."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hs"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    cosw = F.col("hod")
    cexpr = None
    sexpr = None
    for h in range(24):
        cexpr = (
            F.when(cosw == h, F.lit(DFT_COS24[h]))
            if cexpr is None
            else cexpr.when(cosw == h, F.lit(DFT_COS24[h]))
        )
        sexpr = (
            F.when(cosw == h, F.lit(DFT_SIN24[h]))
            if sexpr is None
            else sexpr.when(cosw == h, F.lit(DFT_SIN24[h]))
        )
    t9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    proj = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("x").cast("bigint").alias("total"),
        F.sum(t9(F.col("x") * cexpr)).cast("double").alias("a_cos"),
        F.sum(t9(F.col("x") * sexpr)).cast("double").alias("a_sin"),
    )
    amp = 2.0 * F.sqrt(F.col("a_cos") * F.col("a_cos") + F.col("a_sin") * F.col("a_sin")) / F.col(
        "n_hours"
    )
    mean_level = F.col("total").cast("double") / F.col("n_hours")
    return proj.select(
        "event_type",
        "n_hours",
        "total",
        F.round(F.col("a_cos"), 6).alias("a_cos"),
        F.round(F.col("a_sin"), 6).alias("a_sin"),
        F.round(amp, 6).alias("daily_amplitude"),
        F.round(amp / mean_level, 6).alias("seasonality_strength"),
    )


@register(
    "ts_trend_decompose_ma",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hs,
                   CAST(hour(ts) AS INT) AS hod,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2, 3
        ),
        trended AS (
            SELECT event_type, hs, hod, x,
                   CASE WHEN COUNT(*) OVER w = 25
                        THEN CAST(SUM(x) OVER w AS DOUBLE) / 25 END AS trend
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hs
                         ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        ),
        detr AS (
            SELECT *, CAST(ROUND(x - trend, 9) AS DECIMAL(28,9)) AS d9
            FROM trended WHERE trend IS NOT NULL
        ),
        seasonal AS (
            SELECT event_type, hod,
                   ROUND(CAST(SUM(d9) AS DOUBLE) / COUNT(*), 6) AS s
            FROM detr GROUP BY event_type, hod
        )
        SELECT d.event_type, d.hs, d.x,
               ROUND(d.trend, 6) AS trend,
               se.s AS seasonal,
               ROUND(CAST(d.d9 AS DOUBLE) - se.s, 6) AS residual
        FROM detr d
        JOIN seasonal se ON se.event_type = d.event_type AND se.hod = d.hod
    """,
    tags=("TS-decompose",),
)
def ts_trend_decompose_ma(spark, sf_dir):
    """Classical additive decomposition of each hourly series:
    TREND = centered 25-hour moving average (full windows only — the
    edges where the window is truncated are excluded rather than
    biased), SEASONAL = mean detrended value per hour-of-day,
    RESIDUAL = the rest — the STL-lite separation feeding anomaly
    detection (alert on residual, not raw), capacity planning (trend)
    and the seasonality scorers (ts_seasonality_strength_dft measures
    what this extracts).  Detrended values are rounded-then-DECIMAL
    before the seasonal mean so the cross-row accumulation is
    order-free (policy §7.2); trend is an exact integer sum divided
    once.

    100 TB posture: one exchange on the series key for the centered
    window (|hours| rows per series), one (type × 24) aggregation,
    one broadcast-size join back — the decomposition costs two
    aggregates more than the hourly rollup itself."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hs"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("hs").rowsBetween(-12, 12)
    trend = F.when(
        F.count(F.lit(1)).over(w) == 25, F.sum("x").over(w).cast("double") / 25
    )
    detr = (
        hourly.select("event_type", "hs", "hod", "x", trend.alias("trend"))
        .where(F.col("trend").isNotNull())
        .select(
            "*", F.round(F.col("x") - F.col("trend"), 9).cast("decimal(28,9)").alias("d9")
        )
        .persist()  # feeds the seasonal mean AND the residual join
    )
    seasonal = detr.groupBy("event_type", "hod").agg(
        F.round(F.sum("d9").cast("double") / F.count(F.lit(1)), 6).alias("s")
    )
    return detr.join(F.broadcast(seasonal), ["event_type", "hod"]).select(
        "event_type",
        "hs",
        "x",
        F.round(F.col("trend"), 6).alias("trend"),
        F.col("s").alias("seasonal"),
        F.round(F.col("d9").cast("double") - F.col("s"), 6).alias("residual"),
    )


#: 4-4-5 fiscal calendar anchor: fiscal weeks count from this Monday.
FISCAL_ANCHOR = "1994-01-03"


@register(
    "ts_fiscal_calendar_445",
    oracle=f"""
        WITH dates AS (
            SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
        ),
        wk AS (
            SELECT d,
                   CAST(datediff('day', DATE '{FISCAL_ANCHOR}', d) AS BIGINT) // 7
                       AS fweek
            FROM dates
            WHERE d >= DATE '{FISCAL_ANCHOR}'
        )
        SELECT d AS cal_date,
               CAST(1994 + fweek // 52 AS INT) AS fiscal_year,
               CAST((fweek % 52) // 13 + 1 AS INT) AS fiscal_quarter,
               CAST((fweek % 52) // 13 * 3
                    + CASE WHEN (fweek % 52) % 13 < 4 THEN 1
                           WHEN (fweek % 52) % 13 < 8 THEN 2
                           ELSE 3 END AS INT) AS fiscal_period,
               CAST(fweek % 52 + 1 AS INT) AS fiscal_week
        FROM wk
    """,
    tags=("TS-fiscal",),
)
def ts_fiscal_calendar_445(spark, sf_dir):
    """4-4-5 fiscal calendar mapping — the retail-standard reporting
    calendar where every quarter is exactly 13 weeks (two 4-week
    periods + one 5-week period), so period-over-period comparisons
    always align on whole weeks and weekday mix.  Every field derives
    from ONE integer — whole weeks since the fiscal anchor Monday —
    by pure integer division/modulo (both engines floor identically
    on non-negatives), making the mapping exact, expression-only, and
    joinable as a dimension onto any fact (ts_calendar_dim is the
    Gregorian twin).  The 53rd-week leap handling (this simple form
    assigns trailing weeks to week 52+ of later years as pure
    week-count arithmetic) is the documented simplification —
    NRF-style restatement rules are a literal lookup table on top.

    100 TB posture: zero shuffles beyond the distinct (and in
    production this materializes ONCE as a tiny dimension and
    broadcasts forever)."""
    o = load_table(spark, sf_dir, "orders")
    dates = o.select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    anchor = F.lit(FISCAL_ANCHOR).cast("date")
    # integer DIV throughout, not double-divide-then-cast: exact floor
    # semantics matching the oracle's // at any magnitude (ADVICE r5)
    fweek = F.expr(f"CAST(datediff(d, date'{FISCAL_ANCHOR}') AS BIGINT) DIV 7")
    wk = dates.where(F.col("d") >= anchor).select("d", fweek.alias("fweek"))
    wy = F.col("fweek") % 52
    qtr0 = F.expr("(fweek % 52) DIV 13")
    period = qtr0 * 3 + (
        F.when(wy % 13 < 4, 1).when(wy % 13 < 8, 2).otherwise(3)
    )
    return wk.select(
        F.col("d").alias("cal_date"),
        (F.lit(1994) + F.expr("fweek DIV 52")).cast("int").alias("fiscal_year"),
        (qtr0 + 1).cast("int").alias("fiscal_quarter"),
        period.cast("int").alias("fiscal_period"),
        (wy + 1).cast("int").alias("fiscal_week"),
    )


@register(
    "ts_autocorr_lag24",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hs,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, x,
                   LAG(x, 24) OVER (PARTITION BY event_type ORDER BY hs) AS y
            FROM hourly
        ),
        pairs AS (SELECT event_type, x, y FROM lagged WHERE y IS NOT NULL),
        mom AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM pairs GROUP BY event_type
        )
        SELECT event_type, n,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS autocorr_24h
        FROM mom
        WHERE n * sxx > sx * sx AND n * syy > sy * sy
    """,
    tags=("TS-autocorr",),
)
def ts_autocorr_lag24(spark, sf_dir):
    """Lag-24 autocorrelation of each hourly series — the classic
    diurnal-seasonality DIAGNOSTIC (high r at the daily lag confirms
    what ts_seasonality_strength_dft scores and
    ts_trend_decompose_ma extracts; in an ACF sweep this is one lag
    of the correlogram, and the same shape evaluates any lag list in
    one pass with one moment-set per lag).  Pearson r over
    (x_t, x_{t−24}) pairs computed entirely from EXACT INTEGER
    moments — counts and their products summed as BIGINTs — so the
    only floats are one identical IEEE expression per series, rounded
    once (the ts_rolling_corr contract, applied serially).
    Zero-variance series are excluded (r undefined).

    100 TB posture: one exchange on the series key for the LAG
    window over the hourly aggregate (|hours| rows per series), then
    a map-side-combined moment rollup — adding lags adds columns,
    not passes."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hs")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hs")
    pairs = hourly.select(
        "event_type", "x", F.lag("x", 24).over(w).alias("y")
    ).where(F.col("y").isNotNull())
    mom = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        mom.where(
            (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
        .select(
            "event_type",
            "n",
            F.round(num / F.sqrt(vx * vy), 6).alias("autocorr_24h"),
        )
    )


@register(
    "ts_changepoint_cusum",
    oracle="""
        WITH daily AS (
            SELECT epoch_us(ts) // 86400000000 AS xd,
                   CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                              / COUNT(*), 6) AS DECIMAL(28,6)) AS yv
            FROM events GROUP BY 1
        ),
        mu AS (
            SELECT CAST(ROUND(CAST(SUM(yv) AS DOUBLE) / COUNT(*), 6)
                        AS DECIMAL(28,6)) AS m,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM daily
        ),
        cusum AS (
            SELECT xd,
                   SUM(yv - m) OVER (ORDER BY xd
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
            FROM daily CROSS JOIN mu
        ),
        mx AS (SELECT MAX(ABS(cs)) AS mabs FROM cusum)
        SELECT mu.n_days,
               CAST(mu.m AS DOUBLE) AS grand_mean,
               (SELECT MIN(xd) FROM cusum, mx WHERE ABS(cs) = mx.mabs) AS cp_day,
               CAST(mx.mabs AS DOUBLE) AS max_abs_cusum
        FROM mu CROSS JOIN mx
    """,
    tags=("TS-cusum",),
)
def ts_changepoint_cusum(spark, sf_dir):
    """CUSUM changepoint detection over the daily event-value mean:
    the day where the cumulative sum of deviations from the grand mean
    peaks in magnitude is the classic single-changepoint estimate
    (the offline companion to ts_control_chart_xmr's online limits).

    This key's PRIMARY implementation is already the scale form: the
    time-ordered prefix sum runs through ``banded_running`` (ordered
    and banded by day, summing deviations via its round-7 ``sum_col``
    extension) — no unpartitioned Window anywhere, unlike the other
    prefix-shaped keys whose banded forms are separate twins.
    Deviations are exact 6-dp decimals (daily means and the grand mean
    both round-then-DECIMAL), so the prefix sums regroup freely and
    the argmax compares exact decimals; the tie breaks to the earliest
    day."""
    from etl_builder_spark.operators.stats import banded_running

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy((F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("xd"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("decimal(28,6)")
            .alias("yv")
        )
        .persist()
    )
    mu = daily.agg(
        F.round(F.sum("yv").cast("double") / F.count(F.lit(1)), 6)
        .cast("decimal(28,6)")
        .alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "xd", (F.col("yv") - F.col("m")).alias("dv"), "m", "n_days"
    )
    cs = banded_running(dev, "xd", "xd", sum_col="dv").select(
        "xd", F.col("run_sum").alias("cs"), "m", "n_days"
    )
    # n_days/m ride on the always-one-row mu frame instead of being
    # first()-ed through the argmax join (round-12 degenerate sweep):
    # on an empty corpus the argmax frame is empty and first(n_days)
    # was NULL where the oracle's COUNT(*) is a defined 0.
    mx = cs.agg(F.max(F.abs(F.col("cs"))).alias("mabs"))
    cp = cs.join(F.broadcast(mx), F.abs(F.col("cs")) == F.col("mabs")).agg(
        F.min("xd").alias("cp_day")
    )
    return (
        mu.crossJoin(F.broadcast(cp))
        .crossJoin(F.broadcast(mx))
        .select(
            "n_days",
            F.col("m").cast("double").alias("grand_mean"),
            "cp_day",
            F.col("mabs").cast("double").alias("max_abs_cusum"),
        )
    )


@register(
    "ts_seasonal_naive_backtest",
    oracle="""
        WITH hourly AS (
            SELECT epoch_us(ts) // 3600000000 AS xh,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS v
            FROM events GROUP BY 1
        ),
        joined AS (
            SELECT a.xh, a.v AS actual, f.v AS forecast
            FROM hourly a JOIN hourly f ON f.xh = a.xh - 168
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(CASE WHEN actual >= forecast
                             THEN actual - forecast
                             ELSE forecast - actual END) AS DOUBLE)
                   / COUNT(*) AS mae,
               ROUND(CAST(SUM(CASE WHEN actual >= forecast
                                   THEN actual - forecast
                                   ELSE forecast - actual END) AS DOUBLE)
                     / CAST(SUM(actual) AS DOUBLE), 6) AS wape,
               CAST(SUM(CAST((actual - forecast) AS DECIMAL(28,2))
                        * (actual - forecast)) AS DOUBLE) / COUNT(*) AS mse
        FROM joined
    """,
    tags=("TS-backtest",),
)
def ts_seasonal_naive_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest: predict every hour's total
    event value with the SAME HOUR LAST WEEK (lag 168h — the baseline
    every real forecast must beat) and report MAE / WAPE / MSE over
    all forecastable hours — the standard forecast-eval harness shape,
    here as a self-join on the hour index rather than a window (a lag
    of fixed 168 is an equi-join key: shuffle-partitionable,
    window-free, and at scale the hourly frame is calendar-bounded).

    Determinism: hourly totals are exact decimals; absolute errors
    stay decimal via the branch (never float abs), squared errors
    multiply exact decimals; the three ratios divide identically-
    derived values (WAPE rounded 6 dp — the only ratio whose
    magnitude makes the last digit interesting)."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy((F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("xh"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(28,2)").alias("v"))
        .persist()
    )
    a = hourly.alias("a")
    f = hourly.select((F.col("xh") + 168).alias("xh"), F.col("v").alias("fv"))
    j = a.join(f, "xh").select(F.col("v").alias("actual"), F.col("fv").alias("forecast"))
    abs_err = F.when(
        F.col("actual") >= F.col("forecast"), F.col("actual") - F.col("forecast")
    ).otherwise(F.col("forecast") - F.col("actual"))
    sq_err = (F.col("actual") - F.col("forecast")).cast("decimal(28,2)") * (
        F.col("actual") - F.col("forecast")
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        (F.sum(abs_err).cast("double") / F.count(F.lit(1))).alias("mae"),
        F.round(
            F.sum(abs_err).cast("double") / F.sum("actual").cast("double"), 6
        ).alias("wape"),
        (F.sum(sq_err).cast("double") / F.count(F.lit(1))).alias("mse"),
    )


@register(
    "ts_business_days_diff",
    oracle="""
        WITH f AS (
            SELECT DATE_TRUNC('month', l_shipdate) AS ship_month,
                   (5 * (datediff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) // 7)
                    + LEAST(datediff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) % 7, 4))
                   - (5 * (datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) // 7)
                      + LEAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) % 7, 4))
                   AS bdays
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= o_orderdate
        )
        SELECT CAST(ship_month AS DATE) AS ship_month,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(bdays) AS BIGINT) AS total_bdays,
               CAST(SUM(bdays) AS DOUBLE) / COUNT(*) AS avg_bdays,
               CAST(MIN(bdays) AS BIGINT) AS min_bdays,
               CAST(MAX(bdays) AS BIGINT) AS max_bdays
        FROM f GROUP BY 1
    """,
    tags=("TS-calendar",),
)
def ts_business_days_diff(spark, sf_dir):
    """Order-to-ship lead time in BUSINESS days per ship month — the
    SLA metric logistics dashboards actually want, computed with the
    closed-form weekday counter f(d) = 5·(days//7) + min(days%7, 4) (Monday-anchored, so the partial week contributes at most Tue-Fri = 4 weekdays beyond the full weeks)
    anchored on a known Monday (1990-01-01, before every corpus date, so the integer division never sees a negative and truncation == floor on both engines), so the business-day count
    between two dates is f(d2) − f(d1): pure integer arithmetic, no
    calendar table, no per-day explosion — O(1) per row at any scale.
    Aggregates are exact integer sums; the mean is one IEEE division."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    def wd(d):
        days = F.datediff(d.cast("date"), F.lit("1990-01-01").cast("date"))
        return 5 * F.floor(days / 7).cast("long") + F.least(
            F.pmod(days, F.lit(7)).cast("long"), F.lit(4).cast("long")
        )

    j = l.join(o, l.l_orderkey == o.o_orderkey).where(
        F.col("l_shipdate") >= F.col("o_orderdate")
    )
    bdays = wd(F.col("l_shipdate")) - wd(F.col("o_orderdate"))
    return (
        j.select(
            F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("ship_month"),
            bdays.alias("bdays"),
        )
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("bdays").cast("bigint").alias("total_bdays"),
            (F.sum("bdays").cast("double") / F.count(F.lit(1))).alias("avg_bdays"),
            F.min("bdays").cast("bigint").alias("min_bdays"),
            F.max("bdays").cast("bigint").alias("max_bdays"),
        )
    )


@register(
    "ts_anomaly_mad_residual",
    oracle="""
        WITH hourly AS (
            SELECT DATE_TRUNC('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        trended AS (
            SELECT h, n,
                   AVG(CAST(n AS DOUBLE)) OVER (
                       ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING
                   ) AS ma,
                   COUNT(*) OVER (
                       ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING
                   ) AS w
            FROM hourly
        ),
        resid AS (
            SELECT h, n, ma, n - ma AS r
            FROM trended WHERE w = 25
        ),
        mad AS (
            SELECT ROUND(quantile_cont(ABS(r - (SELECT ROUND(quantile_cont(r, 0.5), 6)
                                               FROM resid)), 0.5), 6) AS mad_val,
                   (SELECT ROUND(quantile_cont(r, 0.5), 6) FROM resid) AS med
            FROM resid
        )
        SELECT r.h AS hour, r.n AS n_events,
               ROUND(r.ma, 6) AS trend,
               ROUND(r.r, 6) AS residual,
               (ABS(r.r - m.med) > 3 * 1.4826 * m.mad_val) AS is_anomaly
        FROM resid r CROSS JOIN mad m
        WHERE ABS(r.r - m.med) > 3 * 1.4826 * m.mad_val
    """,
    tags=("TS-anomaly",),
)
def ts_anomaly_mad_residual(spark, sf_dir):
    """Robust residual anomaly detection: hourly event counts are
    detrended by a centered 25-hour moving average (full windows
    only), and hours whose residual sits more than 3 robust sigmas
    (1.4826·MAD) from the residual median are flagged — the
    median/MAD construction that survives the very outliers a
    mean/stddev control chart would absorb.  Medians use the D10
    interpolated-percentile parity; the comparison is one fixed float
    expression of 6-dp rounded statistics.

    Scale shape: counts aggregate once; the centered MA runs over the
    bounded post-aggregation hourly frame (the ts_control_chart_xmr
    allowlist argument); MAD is two tiny quantile reductions broadcast
    back."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.orderBy("h").rowsBetween(-12, 12)
    trended = hourly.select(
        "h",
        "n",
        F.avg(F.col("n").cast("double")).over(w).alias("ma"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    resid = trended.where(F.col("wn") == 25).select(
        "h", "n", "ma", (F.col("n") - F.col("ma")).alias("r")
    ).persist()
    med = resid.agg(F.round(F.percentile("r", F.lit(0.5)), 6).alias("med"))
    madf = (
        resid.crossJoin(F.broadcast(med))
        .agg(
            F.round(F.percentile(F.abs(F.col("r") - F.col("med")), F.lit(0.5)), 6).alias(
                "mad_val"
            ),
            F.min("med").alias("med"),
        )
    )
    out = resid.crossJoin(F.broadcast(madf))
    hot = F.abs(F.col("r") - F.col("med")) > 3 * 1.4826 * F.col("mad_val")
    return out.where(hot).select(
        F.col("h").alias("hour"),
        F.col("n").alias("n_events"),
        F.round(F.col("ma"), 6).alias("trend"),
        F.round(F.col("r"), 6).alias("residual"),
        hot.alias("is_anomaly"),
    )


@register(
    "ts_autocorr_grid",
    oracle="""
        WITH hourly AS (
            SELECT DATE_TRUNC('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag),
        paired AS (
            SELECT l.lag, a.n AS x, b.n AS y
            FROM hourly a
            JOIN lags l ON TRUE
            JOIN hourly b ON b.h = a.h + to_hours(CAST(l.lag AS BIGINT))
        ),
        m AS (
            SELECT lag, CAST(COUNT(*) AS BIGINT) AS np,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM paired GROUP BY lag
        )
        -- zero-variance arm → ACF pinned to 0.0 (ts_cross_corr_lags'
        -- convention; hit when every paired hour has the same count —
        -- extremedates census, r14)
        SELECT CAST(lag AS BIGINT) AS lag_hours, np AS n_pairs,
               CASE WHEN np * sxx - sx * sx = 0 OR np * syy - sy * sy = 0 THEN 0.0
                    ELSE ROUND((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                               / (sqrt(CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                  * sqrt(CAST(np AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
               END AS acf
        FROM m
    """,
    tags=("TS-acf",),
)
def ts_autocorr_grid(spark, sf_dir):
    """Autocorrelation function at the seasonality-diagnostic lag grid
    (1/2/3/6/12/24 hours) in ONE pass over the hourly census: the lag
    table cross-joins the bounded hourly frame and each lag pairs by
    equi-join on the shifted hour, so the whole ACF profile costs one
    extra join over computing a single lag (ts_autocorr_lag24's
    machinery, gridded the ml_decision_stump_scan way).  Integer
    co-moments, one fixed Pearson expression per lag — the profile
    that picks the seasonal period before a decomposition or
    forecast."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    lags = spark.createDataFrame([(lg,) for lg in (1, 2, 3, 6, 12, 24)], "lag long")
    a = hourly.select(F.col("h").alias("ha"), F.col("n").alias("x")).crossJoin(
        F.broadcast(lags)
    )
    b = hourly.select(F.col("h").alias("hb"), F.col("n").alias("y"))
    paired = a.join(
        b,
        F.col("hb")
        == F.col("ha") + F.col("lag") * F.expr("INTERVAL 1 HOUR"),
    )
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    npd = F.col("np").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = npd * F.col("sxy") - sxd * F.col("sy")
    den = F.sqrt(npd * F.col("sxx") - sxd * F.col("sx")) * F.sqrt(
        npd * F.col("syy") - syd * F.col("sy")
    )
    zero_var = (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx") == 0) | (
        F.col("np") * F.col("syy") - F.col("sy") * F.col("sy") == 0
    )
    return m.select(
        F.col("lag").alias("lag_hours"),
        F.col("np").alias("n_pairs"),
        # zero-variance pairing → 0.0 (ts_cross_corr_lags' convention)
        F.when(zero_var, F.lit(0.0)).otherwise(F.round(num / den, 6)).alias("acf"),
    )


@register(
    "ts_peak_concurrency",
    oracle="""
        WITH bounds AS (
            SELECT ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events
        ),
        per_t AS (
            SELECT t, CAST(SUM(delta) AS BIGINT) AS d
            FROM bounds GROUP BY t
        ),
        running AS (
            SELECT t, SUM(d) OVER (ORDER BY t) AS active
            FROM per_t
        ),
        peak AS (SELECT MAX(active) AS peak FROM running)
        SELECT CAST(p.peak AS BIGINT) AS peak_concurrency,
               MIN(r.t) AS first_peak_at
        FROM running r JOIN peak p ON r.active = p.peak
        GROUP BY p.peak
    """,
    tags=("TS-concurrency",),
)
def ts_peak_concurrency(spark, sf_dir):
    """Peak concurrency (the interval-scheduling classic): every event
    opens a 30-minute presence interval; +1/−1 boundary deltas,
    aggregated per distinct timestamp, accumulate through
    ``banded_running`` — the range-partitioned prefix-sum machinery,
    NOT one unpartitioned window over every boundary — and the answer
    is the maximum running count plus the first time it is reached.
    Exact integer arithmetic end-to-end; the oracle states the same
    semantics with a plain running sum.

    100 TB posture: boundaries are a projection (×2 union), the
    per-timestamp rollup is one hash aggregate, and the prefix sum
    scales as |distinct timestamps| / n_bands per task."""
    from etl_builder_spark.operators.stats import banded_running

    e = load_table(spark, sf_dir, "events").select("ts")
    bounds = e.select(F.col("ts").alias("t"), F.lit(1).alias("delta")).unionAll(
        e.select(
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    per_t = (
        bounds.groupBy("t")
        .agg(F.sum("delta").cast("bigint").alias("d"))
        .select(F.unix_micros(F.col("t")).alias("tv"), F.col("t"), F.col("d"))
        .persist()
    )
    run = banded_running(per_t, value_col="tv", tiebreak_col="tv", sum_col="d")
    run = run.select("t", F.col("run_sum").alias("active")).persist()
    peak = run.agg(F.max("active").alias("peak"))
    return (
        run.crossJoin(F.broadcast(peak))
        .where(F.col("active") == F.col("peak"))
        .groupBy(F.col("peak").cast("bigint").alias("peak_concurrency"))
        .agg(F.min("t").alias("first_peak_at"))
    )


@register(
    "ts_forecast_pinball_loss",
    oracle="""
        WITH hourly AS (
            SELECT DATE_TRUNC('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        paired AS (
            SELECT a.h, a.n AS actual, b.n AS forecast, a.n - b.n AS e
            FROM hourly a
            JOIN hourly b ON b.h = a.h - INTERVAL 168 HOUR
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(CASE WHEN e > 0 THEN e ELSE -e END) AS BIGINT) AS abs_err_sum,
               CAST(SUM(CASE WHEN e > 0 THEN e ELSE 0 END) AS BIGINT)
                   AS under_forecast_sum,
               ROUND((5 * SUM(CASE WHEN e > 0 THEN e ELSE 0 END)
                      + 5 * SUM(CASE WHEN e <= 0 THEN -e ELSE 0 END))
                     / (10.0 * COUNT(*)), 6) AS pinball_q50,
               ROUND((9 * SUM(CASE WHEN e > 0 THEN e ELSE 0 END)
                      + 1 * SUM(CASE WHEN e <= 0 THEN -e ELSE 0 END))
                     / (10.0 * COUNT(*)), 6) AS pinball_q90
        FROM paired
    """,
    tags=("TS-forecast",),
)
def ts_forecast_pinball_loss(spark, sf_dir):
    """Quantile (pinball) loss for the lag-168 seasonal-naive
    forecast — the metric that grades a QUANTILE forecast the way MAE
    grades a point forecast: L_q = q·(y−ŷ)⁺ + (1−q)·(ŷ−y)⁺, evaluated
    at q = 0.5 and 0.9.  Because the qs are tenths, 10·ΣL_q =
    (10q)·Σe⁺ + (10−10q)·Σe⁻ is EXACT integer arithmetic over the
    under/over-forecast error sums; only the final per-hour division
    is float.  Same one-join shape as the seasonal-naive backtest
    (the forecast column is an equi-join on h−168h, window-free)."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    a = hourly.select(F.col("h"), F.col("n").alias("actual"))
    b = hourly.select(
        (F.col("h") + F.expr("INTERVAL 168 HOURS")).alias("h"),
        F.col("n").alias("forecast"),
    )
    paired = a.join(b, "h").select((F.col("actual") - F.col("forecast")).alias("e"))
    pos = F.sum(F.when(F.col("e") > 0, F.col("e")).otherwise(0)).cast("bigint")
    neg = F.sum(F.when(F.col("e") <= 0, -F.col("e")).otherwise(0)).cast("bigint")
    cnt = F.count(F.lit(1))
    return paired.agg(
        cnt.cast("bigint").alias("n_hours"),
        (pos + neg).alias("abs_err_sum"),
        pos.alias("under_forecast_sum"),
        F.round((5 * pos + 5 * neg) / (10.0 * cnt), 6).alias("pinball_q50"),
        F.round((9 * pos + 1 * neg) / (10.0 * cnt), 6).alias("pinball_q90"),
    )


@register(
    "agg_chain_ladder_factors",
    oracle="""
        WITH cells AS (
            SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m,
                   (year(l_shipdate) * 12 + month(l_shipdate))
                   - (year(o_orderdate) * 12 + month(o_orderdate)) AS dev,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS amt
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE (year(l_shipdate) * 12 + month(l_shipdate))
                  - (year(o_orderdate) * 12 + month(o_orderdate)) BETWEEN 0 AND 6
            GROUP BY 1, 2
        ),
        cutoff AS (
            SELECT MAX(year(l_shipdate) * 12 + month(l_shipdate)) AS maxm
            FROM lineitem
        ),
        cum AS (
            SELECT cohort_m, dev,
                   CAST(SUM(amt) OVER (PARTITION BY cohort_m ORDER BY dev)
                        AS DECIMAL(18,2)) AS cum_amt
            FROM cells
        ),
        pairs AS (
            SELECT a.dev AS dev_from, a.cum_amt AS c0, b.cum_amt AS c1
            FROM cum a
            JOIN cum b ON b.cohort_m = a.cohort_m AND b.dev = a.dev + 1
            CROSS JOIN cutoff
            WHERE a.cohort_m + a.dev + 1 <= cutoff.maxm
        )
        SELECT CAST(dev_from AS BIGINT) AS dev_from,
               CAST(dev_from + 1 AS BIGINT) AS dev_to,
               CAST(COUNT(*) AS BIGINT) AS n_cohorts,
               CAST(SUM(c0) AS DOUBLE) AS base_amount,
               ROUND(CAST(SUM(c1) AS DOUBLE) / CAST(SUM(c0) AS DOUBLE), 6)
                   AS dev_factor
        FROM pairs
        GROUP BY dev_from
    """,
    tags=("TS-actuarial",),
)
def agg_chain_ladder_factors(spark, sf_dir):
    """Chain-ladder age-to-age development factors — the actuarial
    run-off-triangle method, re-cast over order cohorts: cells are
    (order-month cohort, ship-lag development age) revenue sums,
    cumulated per cohort, and each factor f_d = Σcum_{d+1}/Σcum_d sums
    only cohorts whose d+1 age is inside the calendar cutoff (the
    triangle's diagonal) — exactly how reserving picks its development
    pattern.  All sums are exact DECIMAL; the per-cohort cumulation
    runs on ≤7-row partitioned frames; each factor is one rounded
    division.

    Scale: one join + one (cohort, dev) aggregate over the data; the
    triangle itself is months × 7 rows — a broadcast object."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    mo = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    j = l.join(o, l.l_orderkey == o.o_orderkey).select(
        mo(F.col("o_orderdate")).alias("cohort_m"),
        (mo(F.col("l_shipdate")) - mo(F.col("o_orderdate"))).alias("dev"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("px"),
        mo(F.col("l_shipdate")).alias("ship_m"),
    )
    cells = (
        j.where(F.col("dev").between(0, 6))
        .groupBy("cohort_m", "dev")
        .agg(F.sum("px").cast("decimal(18,2)").alias("amt"))
    )
    cutoff = j.agg(F.max("ship_m").alias("maxm"))
    w = Window.partitionBy("cohort_m").orderBy("dev")
    cum = cells.select(
        "cohort_m",
        "dev",
        F.sum("amt").over(w).cast("decimal(18,2)").alias("cum_amt"),
    ).persist()
    a, b = cum.alias("a"), cum.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.cohort_m") == F.col("a.cohort_m"))
            & (F.col("b.dev") == F.col("a.dev") + 1),
        )
        .crossJoin(F.broadcast(cutoff))
        .where(F.col("a.cohort_m") + F.col("a.dev") + 1 <= F.col("maxm"))
        .select(
            F.col("a.dev").alias("dev_from"),
            F.col("a.cum_amt").alias("c0"),
            F.col("b.cum_amt").alias("c1"),
        )
    )
    return pairs.groupBy(F.col("dev_from").cast("bigint").alias("dev_from")).agg(
        (F.min("dev_from") + 1).cast("bigint").alias("dev_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_cohorts"),
        F.sum("c0").cast("double").alias("base_amount"),
        F.round(F.sum("c1").cast("double") / F.sum("c0").cast("double"), 6).alias(
            "dev_factor"
        ),
    )


@register(
    "ts_rolling_trend_slope",
    oracle="""
        WITH hourly AS (
            SELECT DATE_TRUNC('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        idx AS (
            SELECT h, n,
                   CAST(epoch(h) // 3600 AS BIGINT) AS x
            FROM hourly
        ),
        rolled AS (
            SELECT h, n,
                   CAST(COUNT(*) OVER w AS BIGINT) AS k,
                   CAST(SUM(x) OVER w AS BIGINT) AS sx,
                   CAST(SUM(n) OVER w AS BIGINT) AS sy,
                   CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
                   CAST(SUM(x * n) OVER w AS BIGINT) AS sxy
            FROM idx
            WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        )
        SELECT h AS hour_end, n AS n_events, k AS window_hours,
               ROUND((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
                   AS slope_per_hour
        FROM rolled
        WHERE k = 24
    """,
    tags=("TS-trend",),
)
def ts_rolling_trend_slope(spark, sf_dir):
    """Rolling 24-hour OLS trend slope of hourly event volume — the
    "velocity" series behind growth alerting: per full window, slope =
    (kΣxy−ΣxΣy)/(kΣx²−(Σx)²) where x is the integer hour index, so
    every windowed sum is EXACT BIGINT and the slope is one fixed
    float expression per row.  The window runs over the bounded
    post-aggregation hourly frame (the ts_control_chart_xmr allowlist
    argument); at raw-event scale the hourly rollup comes first by
    construction."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    idx = hourly.select(
        "h", "n", F.expr("unix_seconds(h) div 3600").cast("bigint").alias("x")
    )
    w = Window.orderBy("h").rowsBetween(-23, Window.currentRow)
    rolled = idx.select(
        "h",
        "n",
        F.count(F.lit(1)).over(w).cast("bigint").alias("k"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("n").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("n")).over(w).cast("bigint").alias("sxy"),
    )
    kd = F.col("k").cast("double")
    sxd = F.col("sx").cast("double")
    return rolled.where(F.col("k") == 24).select(
        F.col("h").alias("hour_end"),
        F.col("n").alias("n_events"),
        F.col("k").alias("window_hours"),
        F.round(
            (kd * F.col("sxy") - sxd * F.col("sy"))
            / (kd * F.col("sxx") - sxd * F.col("sx")),
            6,
        ).alias("slope_per_hour"),
    )


#: cross-correlation lag grid (hours) and the two series
XCORR_LAGS = 6
XCORR_X = "click"
XCORR_Y = "purchase"


@register(
    "ts_cross_corr_lags",
    oracle=f"""
        WITH b AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT epoch_us(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)))
                   // 3600000000 AS t
            FROM b
        ),
        hourly AS (
            SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
                   CAST(SUM(CASE WHEN event_type = '{XCORR_X}' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = '{XCORR_Y}' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        ser AS (
            SELECT s.t, COALESCE(h.x, 0) AS x, COALESCE(h.y, 0) AS y
            FROM spine s LEFT JOIN hourly h ON s.t = h.t
        ),
        grid AS (SELECT lag FROM generate_series(0, {XCORR_LAGS}) g(lag)),
        m AS (
            SELECT g.lag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a.x) AS BIGINT) AS sx,
                   CAST(SUM(bb.y) AS BIGINT) AS sy,
                   CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
                   CAST(SUM(bb.y * bb.y) AS BIGINT) AS syy,
                   CAST(SUM(a.x * bb.y) AS BIGINT) AS sxy
            FROM ser a
            CROSS JOIN grid g
            JOIN ser bb ON bb.t = a.t + g.lag
            GROUP BY g.lag
        )
        SELECT CAST(lag AS BIGINT) AS lag_hours, n AS n_pairs,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
                    ELSE ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                               / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                               6)
               END AS xcorr_r
        FROM m
    """,
    tags=("TS-xcorr",),
)
def ts_cross_corr_lags(spark, sf_dir):
    """Lagged cross-correlation between the hourly {XCORR_X} and
    {XCORR_Y} series (does click volume lead purchases?): Pearson r of
    x_t against y_(t+lag) for lag 0..{XCORR_LAGS} hours on the
    ZERO-FILLED dense spine (missing hours are real zeros of the
    counting process, not holes).  All co-moments are exact BIGINT
    (counts and their products), one guarded fixed float expression
    per lag — the leading-indicator scan behind campaign diagnostics
    and anomaly root-causing.

    100 TB posture: one hourly pre-aggregate collapses the corpus to
    |hours| rows (map-side combine); the lag pairing is a ×|lags|
    self-join ON THE TINY AGGREGATE keyed by integer hour, and the
    moment reduction carries |lags| groups of six BIGINTs.  The spine
    bounds are the gapfill machinery (second scan of events, within
    the ≤2-scan budget)."""
    e = load_table(spark, sf_dir, "events")
    spine = _hour_spine(e).select(_epoch_hour("hour_start").alias("t"))
    hourly = e.groupBy(_epoch_hour(F.date_trunc("hour", F.col("ts"))).alias("t")).agg(
        F.sum(F.when(F.col("event_type") == XCORR_X, 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == XCORR_Y, 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    ser = (
        spine.join(hourly, "t", "left")
        .select(
            "t",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
        .persist()  # both sides of the lag self-join
    )
    grid = spark.range(0, XCORR_LAGS + 1).select(F.col("id").alias("lag"))
    a = ser.alias("a")
    bb = ser.select(F.col("t").alias("bt"), F.col("y").alias("by"))
    m = (
        a.crossJoin(F.broadcast(grid))
        .join(bb, F.col("bt") == F.col("a.t") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a.x").cast("bigint").alias("sx"),
            F.sum("by").cast("bigint").alias("sy"),
            F.sum(F.col("a.x") * F.col("a.x")).cast("bigint").alias("sxx"),
            F.sum(F.col("by") * F.col("by")).cast("bigint").alias("syy"),
            F.sum(F.col("a.x") * F.col("by")).cast("bigint").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    r = F.round(
        (n.cast("double") * sxy - sx.cast("double") * sy)
        / F.sqrt(
            (n.cast("double") * sxx - sx.cast("double") * sx)
            * (n.cast("double") * syy - sy.cast("double") * sy)
        ),
        6,
    )
    return m.select(
        F.col("lag").cast("bigint").alias("lag_hours"),
        n.alias("n_pairs"),
        F.when((n * sxx - sx * sx == 0) | (n * syy - sy * sy == 0), F.lit(0.0))
        .otherwise(r)
        .alias("xcorr_r"),
    )


#: Holt's linear-trend smoothing: dyadic coefficients (alpha=1/4,
#: beta=1/8) over the LAST HOLT_N hours of the dense hourly series.
HOLT_N = 48


@register(
    "ts_holt_linear_fold",
    oracle=f"""
        WITH RECURSIVE b AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT epoch_us(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)))
                   // 3600000000 AS t
            FROM b
        ),
        hourly AS (
            SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events WHERE event_type = '{XCORR_X}' GROUP BY 1
        ),
        tail AS (
            SELECT ROW_NUMBER() OVER (ORDER BY s.t) AS i,
                   CAST(COALESCE(h.x, 0) AS DOUBLE) AS x
            FROM spine s LEFT JOIN hourly h ON s.t = h.t
            WHERE s.t > (SELECT MAX(t) FROM spine) - {HOLT_N}
        ),
        holt(i, l, tr) AS (
            SELECT 1,
                   (SELECT x FROM tail WHERE i = 1),
                   (SELECT x FROM tail WHERE i = 2) - (SELECT x FROM tail WHERE i = 1)
            UNION ALL
            SELECT h.i + 1,
                   t.x / 4.0 + 3.0 * (h.l + h.tr) / 4.0,
                   (t.x / 4.0 + 3.0 * (h.l + h.tr) / 4.0 - h.l) / 8.0
                       + 7.0 * h.tr / 8.0
            FROM holt h JOIN tail t ON t.i = h.i + 1
        )
        SELECT CAST({HOLT_N} AS BIGINT) AS n_hours,
               ROUND(l, 6) AS level,
               ROUND(tr, 6) AS trend,
               ROUND(l + 24.0 * tr, 6) AS forecast_24h
        -- MAX(i), not the literal {HOLT_N} (round-12 degenerate sweep):
        -- a corpus spanning fewer than {HOLT_N} hours stops the
        -- recursion early, and the fold result over the available tail
        -- is the defined answer on both engines
        FROM holt WHERE i = (SELECT MAX(i) FROM holt)
    """,
    tags=("TS-forecast",),
)
def ts_holt_linear_fold(spark, sf_dir):
    """Holt's linear-trend exponential smoothing over the last
    {HOLT_N} hours of the {XCORR_X} series — the sequential recurrence
    l_t = alpha*x_t + (1-alpha)(l+b), b_t = beta*(l_t-l) + (1-beta)*b
    with DYADIC coefficients (alpha=1/4, beta=1/8), initialized the
    textbook way (l_1=x_1, b_1=x_2-x_1).  Sequential state is exactly
    what SQL engines can't parallelize — so both engines run the SAME
    ordered left fold (Spark: ``aggregate()`` over the sorted bounded
    array; DuckDB: a recursive CTE), and because dyadic multiplies are
    exact in binary and the additions happen in identical order, the
    doubles agree bit-for-bit.

    100 TB posture: the recurrence runs on a BOUNDED {HOLT_N}-point
    window per series — the corpus collapses to |hours| rows first
    (one map-side-combined aggregate + the gapfill spine), and the
    fold is O({HOLT_N}) driver-free expression work; per-key
    smoothing at scale is the same fold inside a groupBy(key)
    collect_list of bounded windows."""
    e = load_table(spark, sf_dir, "events")
    arr = _tail_series(e, XCORR_X, HOLT_N)
    folded = arr.select(
        F.expr(
            """
            aggregate(
                slice(xs, 2, greatest(size(xs) - 1, 0)),
                named_struct('l', CAST(try_element_at(xs, 1) AS DOUBLE),
                             'tr', CAST(try_element_at(xs, 2) - try_element_at(xs, 1) AS DOUBLE)),
                (acc, x) -> named_struct(
                    'l', x / 4.0D + 3.0D * (acc.l + acc.tr) / 4.0D,
                    'tr', (x / 4.0D + 3.0D * (acc.l + acc.tr) / 4.0D - acc.l) / 8.0D
                          + 7.0D * acc.tr / 8.0D)
            ) AS st
            """
        )
    )
    return folded.select(
        F.lit(HOLT_N).cast("bigint").alias("n_hours"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.tr"), 6).alias("trend"),
        F.round(F.col("st.l") + 24.0 * F.col("st.tr"), 6).alias("forecast_24h"),
    )


@register(
    "ts_interarrival_profile",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   CAST(epoch_us(ts)
                        - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id))
                        AS BIGINT) AS gap_us
            FROM events
        ),
        g AS (SELECT event_type, gap_us FROM seq WHERE gap_us IS NOT NULL),
        m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps,
                   CAST(SUM(gap_us) AS BIGINT) AS s1,
                   CAST(SUM(CAST(gap_us AS DECIMAL(38,0)) * gap_us) AS DOUBLE)
                       AS s2,
                   CAST(MIN(gap_us) AS BIGINT) AS mn,
                   CAST(MAX(gap_us) AS BIGINT) AS mx
            FROM g GROUP BY event_type
        )
        SELECT event_type, n_gaps,
               ROUND(CAST(s1 AS DOUBLE) / n_gaps / 1e6, 6) AS mean_gap_s,
               ROUND(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_gaps)
                          / (n_gaps - 1)) / 1e6, 6) AS sd_gap_s,
               ROUND(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_gaps)
                          / (n_gaps - 1))
                     / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS cv,
               ROUND(CAST(mn AS DOUBLE) / 1e6, 6) AS min_gap_s,
               ROUND(CAST(mx AS DOUBLE) / 1e6, 6) AS max_gap_s
        FROM m
        ORDER BY event_type
    """,
    tags=("TS-interarrival",),
)
def ts_interarrival_profile(spark, sf_dir):
    """Inter-arrival profile of the event stream, grouped by the type
    of the ARRIVING event: mean/sd/min/max gap since the user's
    previous event (any type) and the coefficient of variation — the
    burstiness diagnostic behind session-timeout choices and queueing
    models (CV ≈ 1 ⇒ Poisson-like memoryless arrivals; CV ≫ 1 ⇒
    bursty/self-exciting — sessionize_events_gap's 30-min threshold
    was read off this table's shape).

    Exactness: gaps are exact µs integers from one per-user LAG;
    moments accumulate as BIGINT / DECIMAL(38,0) (µs² ~1e12 per hour
    of gap — decimal from the first product); every reported number
    is a fixed float expression rounded once.

    100 TB posture: the LAG shuffles once on user_id (the same
    exchange sessionization pays — at scale the two share it); the
    moment aggregate is map-side combined to |event types| rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "event_type",
        (us - F.unix_micros(F.lag("ts").over(w))).cast("bigint").alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    g = F.col("gap_us")
    m = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(g).cast("bigint").alias("s1"),
        F.sum(g.cast("decimal(38,0)") * g).cast("double").alias("s2"),
        F.min(g).cast("bigint").alias("mn"),
        F.max(g).cast("bigint").alias("mx"),
    )
    # try_divide (round-12 degenerate sweep): a type with ONE gap
    # zeroes n−1, and all-simultaneous events zero the mean gap — the
    # sd/cv are the defined NULL on both engines then
    n, s1, s2 = F.col("n_gaps"), F.col("s1"), F.col("s2")
    sd = F.sqrt(F.try_divide(s2 - s1.cast("double") * s1 / n, n - 1))
    return m.select(
        "event_type",
        "n_gaps",
        F.round(s1.cast("double") / n / 1e6, 6).alias("mean_gap_s"),
        F.round(sd / 1e6, 6).alias("sd_gap_s"),
        F.round(F.try_divide(sd, s1.cast("double") / n), 6).alias("cv"),
        F.round(F.col("mn").cast("double") / 1e6, 6).alias("min_gap_s"),
        F.round(F.col("mx").cast("double") / 1e6, 6).alias("max_gap_s"),
    ).orderBy("event_type")


#: Kalman local-level model noise variances (fixed literals — both
#: engines inject the same doubles)
KALMAN_Q = 1.0
KALMAN_R = 25.0


@register(
    "ts_kalman_local_level",
    oracle=f"""
        WITH RECURSIVE b AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT epoch_us(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)))
                   // 3600000000 AS t
            FROM b
        ),
        hourly AS (
            SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events WHERE event_type = '{XCORR_X}'
            GROUP BY 1
        ),
        tmax AS (SELECT MAX(t) AS tmax FROM spine),
        tail AS (
            SELECT s.t, CAST(COALESCE(h.x, 0) AS DOUBLE) AS x
            FROM spine s LEFT JOIN hourly h ON h.t = s.t CROSS JOIN tmax
            WHERE s.t > tmax.tmax - {HOLT_N}
        ),
        ordered AS (
            SELECT x, ROW_NUMBER() OVER (ORDER BY t) AS i FROM tail
        ),
        rec AS (
            -- scalar-subquery seed (round-12 degenerate sweep): the
            -- seed row must exist even when the series is empty, so
            -- the one-row NULL-level summary survives — mirroring the
            -- Spark fold's try_element_at initialization
            SELECT 1 AS i,
                   (SELECT x FROM ordered WHERE i = 1) AS x,
                   (SELECT x FROM ordered WHERE i = 1) AS xhat,
                   CAST({KALMAN_R!r} AS DOUBLE) AS p
            UNION ALL
            SELECT o.i, o.x,
                   r.xhat + (r.p + {KALMAN_Q!r}) / (r.p + {KALMAN_Q!r} + {KALMAN_R!r})
                            * (o.x - r.xhat) AS xhat,
                   (1.0 - (r.p + {KALMAN_Q!r}) / (r.p + {KALMAN_Q!r} + {KALMAN_R!r}))
                   * (r.p + {KALMAN_Q!r}) AS p
            FROM rec r JOIN ordered o ON o.i = r.i + 1
        )
        SELECT CAST({HOLT_N} AS BIGINT) AS n_hours,
               ROUND(xhat, 6) AS level,
               ROUND(p, 6) AS level_var,
               ROUND(xhat - 1.959964 * sqrt(p + {KALMAN_Q!r} + {KALMAN_R!r}), 6)
                   AS predict_lo,
               ROUND(xhat + 1.959964 * sqrt(p + {KALMAN_Q!r} + {KALMAN_R!r}), 6)
                   AS predict_hi
        FROM rec WHERE i = (SELECT MAX(i) FROM rec)
    """,
    tags=("TS-kalman",),
)
def ts_kalman_local_level(spark, sf_dir):
    """A 1-D Kalman filter (local-level model, Q=1, R=25) over the
    last 48 hours of the hourly event-count series — the recursive
    state estimator behind online smoothing and anomaly gating:
    K = (P+Q)/(P+Q+R), x̂ ← x̂ + K(z − x̂), P ← (1−K)(P+Q), reported
    with the 95% one-step-ahead prediction interval.  Completes the
    sequential-recurrence family next to ts_holt_linear_fold (Holt =
    fixed-gain trend smoother; Kalman = adaptive gain that CONVERGES,
    and P's trajectory is data-independent).

    Cross-engine determinism: both engines run the SAME ordered
    recursion (Spark: aggregate() left fold over the sorted bounded
    array; DuckDB: recursive CTE) with identical double literals —
    every step is the same IEEE ops in the same order, so the floats
    agree bit-for-bit (the Holt-fold precedent, now with division in
    the loop).

    100 TB posture: identical to the Holt key — the corpus collapses
    to |hours| rows, the fold is O(48) expression work; per-entity
    filtering at scale = the same fold inside groupBy(key) over
    collect_list of bounded windows."""
    e = load_table(spark, sf_dir, "events")
    arr = _tail_series(e, XCORR_X, HOLT_N)
    folded = arr.select(
        F.expr(
            f"""
            aggregate(
                slice(xs, 2, greatest(size(xs) - 1, 0)),
                named_struct('xhat', CAST(try_element_at(xs, 1) AS DOUBLE),
                             'p', CAST({KALMAN_R!r} AS DOUBLE)),
                (acc, z) -> named_struct(
                    'xhat', acc.xhat + (acc.p + {KALMAN_Q!r})
                            / (acc.p + {KALMAN_Q!r} + {KALMAN_R!r})
                            * (z - acc.xhat),
                    'p', (1.0D - (acc.p + {KALMAN_Q!r})
                          / (acc.p + {KALMAN_Q!r} + {KALMAN_R!r}))
                         * (acc.p + {KALMAN_Q!r}))
            ) AS st
            """
        )
    )
    pv = F.col("st.p")
    return folded.select(
        F.lit(HOLT_N).cast("bigint").alias("n_hours"),
        F.round(F.col("st.xhat"), 6).alias("level"),
        F.round(pv, 6).alias("level_var"),
        F.round(
            F.col("st.xhat") - 1.959964 * F.sqrt(pv + KALMAN_Q + KALMAN_R), 6
        ).alias("predict_lo"),
        F.round(
            F.col("st.xhat") + 1.959964 * F.sqrt(pv + KALMAN_Q + KALMAN_R), 6
        ).alias("predict_hi"),
    )


#: Croston smoothing constant (dyadic — exact in binary)
CROSTON_ALPHA = 0.25
#: Croston window (hours) and the sparse series it runs on
CROSTON_N = 168
CROSTON_TYPE = "error"


@register(
    "ts_croston_intermittent",
    oracle=f"""
        WITH RECURSIVE b AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT epoch_us(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)))
                   // 3600000000 AS t
            FROM b
        ),
        hourly AS (
            SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events WHERE event_type = '{CROSTON_TYPE}'
            GROUP BY 1
        ),
        tmax AS (SELECT MAX(t) AS tmax FROM spine),
        tail AS (
            SELECT s.t, CAST(COALESCE(h.x, 0) AS DOUBLE) AS x
            FROM spine s LEFT JOIN hourly h ON h.t = s.t CROSS JOIN tmax
            WHERE s.t > tmax.tmax - {CROSTON_N}
        ),
        ordered AS (SELECT x, ROW_NUMBER() OVER (ORDER BY t) AS i FROM tail),
        rec AS (
            SELECT 0 AS i, CAST(1.0 AS DOUBLE) AS z,
                   CAST(1.0 AS DOUBLE) AS p, CAST(1.0 AS DOUBLE) AS q,
                   CAST(0 AS BIGINT) AS n_demand
            UNION ALL
            SELECT o.i,
                   CASE WHEN o.x > 0
                        THEN r.z + {CROSTON_ALPHA!r} * (o.x - r.z)
                        ELSE r.z END,
                   CASE WHEN o.x > 0
                        THEN r.p + {CROSTON_ALPHA!r} * (r.q - r.p)
                        ELSE r.p END,
                   CASE WHEN o.x > 0 THEN 1.0 ELSE r.q + 1.0 END,
                   r.n_demand + CASE WHEN o.x > 0 THEN 1 ELSE 0 END
            FROM rec r JOIN ordered o ON o.i = r.i + 1
        )
        SELECT CAST({CROSTON_N} AS BIGINT) AS n_hours, n_demand,
               ROUND(z, 6) AS demand_size,
               ROUND(p, 6) AS demand_interval,
               ROUND(z / p, 6) AS croston_rate,
               ROUND(z / p * 24, 6) AS forecast_per_day
        FROM rec WHERE i = (SELECT MAX(i) FROM rec)
    """,
    tags=("TS-croston",),
)
def ts_croston_intermittent(spark, sf_dir):
    """Croston's method for INTERMITTENT demand — the supply-chain
    forecaster for series that are mostly zeros (here the hourly
    '{CROSTON_TYPE}' count over the last week): separate exponential
    smoothing of non-zero demand SIZES (z) and inter-demand INTERVALS
    (p), forecast rate z/p — where ordinary EWMA/Holt on the raw
    series chronically lags zero runs.  (This corpus's error stream
    is only mildly intermittent at sf0.01 — p̂ stays near 1 and
    Croston degrades gracefully to size-EWMA, which is the method's
    documented dense-limit behavior; the operator's value is the
    recurrence, which is data-shape-independent.)  Completes the
    sequential-fold trio (Holt trend, Kalman level, Croston
    intermittent).

    Cross-engine determinism: both engines run the SAME ordered
    recursion (aggregate() fold ↔ recursive CTE) with the dyadic
    α=1/4 and fixed init (z=p=q=1; the init washes out exponentially
    and is part of the declared semantics) — identical IEEE ops in
    identical order, bit-for-bit floats (Holt/Kalman precedent).

    100 TB posture: the corpus collapses to |hours| rows; the fold is
    O(168) expression work; per-SKU Croston at scale is the same fold
    inside groupBy(sku) over collected bounded windows — exactly how
    the planner runs it over millions of SKUs."""
    e = load_table(spark, sf_dir, "events")
    arr = _tail_series(e, CROSTON_TYPE, CROSTON_N)
    folded = arr.select(
        F.expr(
            f"""
            aggregate(
                xs,
                named_struct('z', 1.0D, 'p', 1.0D, 'q', 1.0D,
                             'nd', CAST(0 AS BIGINT)),
                (acc, x) -> named_struct(
                    'z', CASE WHEN x > 0D
                              THEN acc.z + {CROSTON_ALPHA!r} * (x - acc.z)
                              ELSE acc.z END,
                    'p', CASE WHEN x > 0D
                              THEN acc.p + {CROSTON_ALPHA!r} * (acc.q - acc.p)
                              ELSE acc.p END,
                    'q', CASE WHEN x > 0D THEN 1.0D ELSE acc.q + 1.0D END,
                    'nd', acc.nd + CASE WHEN x > 0D THEN 1L ELSE 0L END)
            ) AS st
            """
        )
    )
    z, p = F.col("st.z"), F.col("st.p")
    return folded.select(
        F.lit(CROSTON_N).cast("bigint").alias("n_hours"),
        F.col("st.nd").alias("n_demand"),
        F.round(z, 6).alias("demand_size"),
        F.round(p, 6).alias("demand_interval"),
        F.round(z / p, 6).alias("croston_rate"),
        F.round(z / p * 24, 6).alias("forecast_per_day"),
    )
