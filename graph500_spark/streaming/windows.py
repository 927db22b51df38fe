"""Streaming analytics over the events table — Structured Streaming
with watermarked tumbling windows, plus the batch-equivalent query
(identical results on bounded input; oracle-checkable).

The graph500 reference is batch-only (its one loop is level-synchronous
BFS — SURVEY.md §2.7); streaming ingest is engine capability beyond
reference parity, built the Spark-first way: readStream → event-time
window aggregation → sink, with late data bounded by a watermark.

Timestamp note: the testdata events carry a real TIMESTAMP column
(microsecond precision in both Spark and DuckDB). All window math runs
on epoch microseconds via functions/eventtime.py — the single source
of truth for the conversion — so Spark and the DuckDB oracle
(``epoch_us``) agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph500_spark.functions.eventtime import (
    event_micros,
    event_micros_sql,
    event_time,
)
from graph500_spark.sources import testdata as td


def event_window_counts(events: DataFrame, minutes: int = 5) -> DataFrame:
    """Batch tumbling-window aggregation:
    [window_start_us, event_type, n_events, sum_value].
    window_start_us = event time truncated to the window, in epoch
    microseconds."""
    win_us = 60_000_000 * minutes
    ts_us = event_micros(events)
    return (
        events.select(
            (ts_us - ts_us % F.lit(win_us)).alias("window_start_us"),
            "event_type",
            "value",
        )
        .groupBy("window_start_us", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def event_window_counts_sql(minutes: int = 5) -> str:
    win_us = 60_000_000 * minutes
    return (
        "SELECT epoch_us(ts) - epoch_us(ts) % {w} AS window_start_us,"
        " event_type, COUNT(*) AS n_events,"
        " ROUND(SUM(value), 6) AS sum_value"
        " FROM events GROUP BY 1, 2"
    ).format(w=win_us)


# Hypertable-style continuous-aggregate rollup: one scan, three
# granularities, via GROUPING SETS (the Spark/ANSI idiom for
# multi-resolution rollup tables — a timeseries store's 1m/1h/1d
# continuous aggregates computed in a single grouped pass with
# map-side partial aggregation, instead of three scans).
_ROLLUP_US = {"minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000}


def _rollup_sql(ts_us_expr: str) -> str:
    m, h, d = (_ROLLUP_US[k] for k in ("minute", "hour", "day"))
    return (
        f"WITH base AS (SELECT {ts_us_expr} AS ts_us, event_type, value"
        " FROM events),"
        " b AS (SELECT ts_us - ts_us % {m} AS w_minute,"
        "  ts_us - ts_us % {h} AS w_hour, ts_us - ts_us % {d} AS w_day,"
        "  event_type, value FROM base)"
        " SELECT CASE WHEN GROUPING(w_minute) = 0 THEN 'minute'"
        "  WHEN GROUPING(w_hour) = 0 THEN 'hour' ELSE 'day' END"
        "  AS granularity,"
        " COALESCE(w_minute, w_hour, w_day) AS window_start_us,"
        " event_type, COUNT(*) AS n_events,"
        " ROUND(SUM(value), 6) AS sum_value"
        " FROM b GROUP BY GROUPING SETS ((w_minute, event_type),"
        " (w_hour, event_type), (w_day, event_type))"
    ).format(m=m, h=h, d=d)


def event_rollup(spark: SparkSession, events: DataFrame) -> DataFrame:
    """[granularity, window_start_us, event_type, n_events, sum_value]
    — minute/hour/day rollups in one GROUPING SETS pass."""
    events.createOrReplaceTempView("events")
    return spark.sql(_rollup_sql(event_micros_sql(events)))


def event_rollup_sql() -> str:
    return _rollup_sql("epoch_us(ts)")


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (same schema as the
    batch read). In production this is a Kafka/queue source; the
    downstream plan is identical."""
    schema = td.load_table(spark, sf_dir, "events").schema
    # the file source wants a directory; glob-filter to the events file
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_stream(events_stream: DataFrame, minutes: int = 5) -> DataFrame:
    """Watermarked streaming version of event_window_counts.

    Uses a proper event-time timestamp column + F.window so state is
    bounded: late events beyond 10 minutes are dropped, window state is
    evicted once the watermark passes — this is what makes the operator
    run forever at scale.
    """
    with_ts = events_stream.withColumn("event_time", event_time(events_stream))
    return (
        with_ts.withWatermark("event_time", "10 minutes")
        .groupBy(
            F.window("event_time", f"{minutes} minutes").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            (F.unix_micros(F.col("win.start"))).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_memory(
    spark: SparkSession, sf_dir: str, minutes: int = 5, table: str = "win_counts"
) -> DataFrame:
    """Execute the streaming query with an availableNow trigger (drain
    the bounded source, then stop) into an in-memory sink; returns the
    result table. Bounded-input streaming == the batch query."""
    q = (
        windowed_stream(stream_events(spark, sf_dir), minutes)
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(table)


# ---------------------------------------------------------------------------
# Gap-filled downsampling (the hypertable time_bucket_gapfill +
# locf): dense per-type bucket series — buckets with no events appear
# with n_events = 0 and carry the last observed rolling value forward.
#
# Spark-first shape: one groupBy for the sparse aggregates, a per-key
# sequence() explode to materialize the dense bucket axis (no driver
# loop, no cross join against a global calendar — each key generates
# exactly its own [min, max] range), and one per-key window for the
# carry-forward. Two shuffles total (agg + window share the key).
# ---------------------------------------------------------------------------


def event_gapfill(events: DataFrame, minutes: int = 60) -> DataFrame:
    """[event_type, bucket_start_us, n_events, filled_sum] — dense
    bucket series per event_type; empty buckets carry the last
    non-empty bucket's sum_value forward (0.0 before the first)."""
    from pyspark.sql import Window

    win_us = 60_000_000 * minutes
    ts_us = event_micros(events)
    sparse = (
        events.select(
            "event_type",
            (ts_us - ts_us % F.lit(win_us)).alias("bucket"),
            "value",
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    axis = (
        sparse.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(win_us))
            ).alias("bucket"),
        )
    )
    return (
        axis.join(sparse, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.col("bucket").alias("bucket_start_us"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce(
                F.last("sum_value", ignorenulls=True).over(
                    Window.partitionBy("event_type")
                    .orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                F.lit(0.0),
            ).alias("filled_sum"),
        )
    )


def event_gapfill_sql(minutes: int = 60) -> str:
    win_us = 60_000_000 * minutes
    return (
        "WITH sparse AS ("
        f" SELECT event_type, epoch_us(ts) - epoch_us(ts) % {win_us}"
        "  AS bucket, COUNT(*) AS n_events,"
        "  ROUND(SUM(value), 6) AS sum_value"
        " FROM events GROUP BY 1, 2),"
        " axis AS (SELECT event_type, unnest(generate_series("
        f" MIN(bucket), MAX(bucket), {win_us})) AS bucket"
        " FROM sparse GROUP BY event_type)"
        " SELECT a.event_type, a.bucket AS bucket_start_us,"
        " COALESCE(s.n_events, 0) AS n_events,"
        " COALESCE(LAST_VALUE(s.sum_value IGNORE NULLS) OVER ("
        "  PARTITION BY a.event_type ORDER BY a.bucket"
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)"
        "  AS filled_sum"
        " FROM axis a LEFT JOIN sparse s"
        " ON s.event_type = a.event_type AND s.bucket = a.bucket"
    )


# ---------------------------------------------------------------------------
# Per-type value distribution — exact interpolated percentiles of the
# event value per event_type (the monitoring-dashboard aggregate).
# Both engines use the linear-interpolation definition (Spark
# `percentile` ≡ DuckDB `quantile_cont`), same convention as the A8
# degree-quantile diagnostic. Exact percentiles sort within each
# group; the `approx` tier swaps in percentile_approx (a mergeable
# t-digest-style sketch, constant memory per group) for 100 TB use —
# sketch estimates differ across engines, so that tier is rows-only
# under the oracle gate, like the HLL vertex count.
# ---------------------------------------------------------------------------

_PCTS = (0.25, 0.5, 0.75, 0.9)


def event_value_quantiles(events: DataFrame, approx: bool = False) -> DataFrame:
    """[event_type, n_events, min_value, p25, p50, p75, p90,
    max_value] — exact (or sketch-tier) per-type value percentiles."""
    fn = "approx_percentile" if approx else "percentile"
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("value"), 5).cast("double").alias("min_value"),
    ]
    for p in _PCTS:
        aggs.append(
            F.round(F.expr(f"{fn}(value, {p})"), 5)
            .cast("double")
            .alias(f"p{int(p * 100)}")
        )
    aggs.append(F.round(F.max("value"), 5).cast("double").alias("max_value"))
    return events.groupBy("event_type").agg(*aggs)


def event_value_quantiles_sql() -> str:
    pct_cols = ", ".join(
        f"CAST(round(quantile_cont(value, {p}), 5) AS DOUBLE)"
        f" AS p{int(p * 100)}"
        for p in _PCTS
    )
    return (
        "SELECT event_type, COUNT(*) AS n_events,"
        " CAST(round(MIN(value), 5) AS DOUBLE) AS min_value,"
        f" {pct_cols},"
        " CAST(round(MAX(value), 5) AS DOUBLE) AS max_value"
        " FROM events GROUP BY event_type"
    )


# ---------------------------------------------------------------------------
# Semi-structured column support: the events table carries a JSON
# `props` string (the typical event-pipeline payload). Extraction
# stays JVM-side (get_json_object ≡ DuckDB json_extract_string), so
# JSON parsing happens inside codegen on the pruned (event_type,
# props) scan — no UDF, no full-row materialization. At 100 TB the
# move is to parse ONCE at ingest into typed columns; this operator
# is the exploratory/ad-hoc path over raw payloads.
# ---------------------------------------------------------------------------


def event_props_stats(events: DataFrame) -> DataFrame:
    """[event_type, n_events, n_with_k, sum_k, avg_k] — per-type stats
    of the JSON property $.k extracted from the props payload."""
    k = F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)")
    return events.select("event_type", k.alias("k")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.round(F.sum("k") / F.count("k"), 5).cast("double").alias("avg_k"),
    )


def event_props_stats_sql() -> str:
    return (
        "SELECT event_type, COUNT(*) AS n_events,"
        " COUNT(k) AS n_with_k,"
        " CAST(SUM(k) AS BIGINT) AS sum_k,"
        " CAST(round(SUM(k) / CAST(COUNT(k) AS DOUBLE), 5) AS DOUBLE)"
        "  AS avg_k"
        " FROM (SELECT event_type,"
        " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k"
        " FROM events) GROUP BY event_type"
    )


# ---------------------------------------------------------------------------
# Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps
# dedup state ONLY for keys within the event-time watermark, so state
# is O(events per watermark window), not O(all history) — the correct
# streaming-dedup primitive for an unbounded key space (plain
# dropDuplicates on a stream grows state forever; the corpus-ingest
# path solves the same problem with a sink anti-join instead, trading
# state memory for a per-batch join). Duplicates separated by more
# than the watermark are NOT caught — that tail is the periodic
# compaction job's business (corpus_ingest.compact_near_dups is the
# text-side analog).
# ---------------------------------------------------------------------------


def deduped_event_stream(
    events_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once event records from an at-least-once source: drop
    event_id duplicates arriving within ``watermark`` of each other."""
    return events_stream.withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark(["event_id"])


def run_deduped_events_to_memory(
    spark: SparkSession,
    source_path: str,
    watermark: str = "1 hour",
    table: str = "dedup_events",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a (possibly duplicated) bounded event directory through
    the watermarked dedup into a memory sink."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        deduped_event_stream(reader.parquet(source_path), watermark)
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(table)


# ---------------------------------------------------------------------------
# Funnel analysis: how many users progress through an ordered event
# sequence (view -> click -> purchase), where each later step must
# happen strictly AFTER the user's first occurrence of the earlier
# step. One groupBy(user) pass computing conditional first-timestamps
# — no self-joins, no per-step scans; the standard funnel shape at
# any scale.
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_counts(
    events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """[step_idx, step, n_users] — users reaching each funnel stage in
    order (first view, then first click after that view, then first
    purchase after that click)."""
    us = events.select(
        "user_id", "event_type", event_micros(events).alias("ts_us")
    )
    g = us.groupBy("user_id")
    # t0 = first occurrence of step0; t_i = first occurrence of step i
    # after t_{i-1} — expressed as conditional MINs, evaluated in one
    # aggregation pass per level (each level's filter references the
    # previous level's aggregate, so levels chain as nested selects
    # over the same grouped frame)
    agg = g.agg(
        F.min(
            F.when(F.col("event_type") == steps[0], F.col("ts_us"))
        ).alias("t0")
    )
    cur = us.join(agg, "user_id")
    for i, step in enumerate(steps[1:], start=1):
        nxt = (
            cur.filter(
                (F.col("event_type") == step)
                & F.col(f"t{i-1}").isNotNull()
                & (F.col("ts_us") > F.col(f"t{i-1}"))
            )
            .groupBy("user_id")
            .agg(F.min("ts_us").alias(f"t{i}"))
        )
        cur = cur.join(nxt, "user_id", "left")
    per_user = cur.select(
        "user_id", *[f"t{i}" for i in range(len(steps))]
    ).dropDuplicates(["user_id"])
    rows = []
    for i, step in enumerate(steps):
        rows.append(
            per_user.filter(F.col(f"t{i}").isNotNull()).agg(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).cast("long").alias("n_users"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def funnel_counts_sql(steps: tuple[str, ...] = FUNNEL_STEPS) -> str:
    parts = [
        "WITH us AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us"
        " FROM events),",
        " l0 AS (SELECT user_id,"
        f" MIN(CASE WHEN event_type = '{steps[0]}' THEN ts_us END) AS t0"
        " FROM us GROUP BY user_id)",
    ]
    prev = "l0"
    for i, step in enumerate(steps[1:], start=1):
        parts.append(
            f", l{i} AS (SELECT u.user_id, MIN(u.ts_us) AS t{i}"
            f" FROM us u JOIN {prev} p ON u.user_id = p.user_id"
            f" WHERE u.event_type = '{step}' AND p.t{i-1} IS NOT NULL"
            f" AND u.ts_us > p.t{i-1} GROUP BY u.user_id)"
        )
        prev = f"l{i}"
    joins = "l0"
    for i in range(1, len(steps)):
        joins += f" LEFT JOIN l{i} ON l0.user_id = l{i}.user_id"
    branches = []
    for i, step in enumerate(steps):
        branches.append(
            f"SELECT {i} AS step_idx, '{step}' AS step,"
            f" CAST(COUNT(*) AS BIGINT) AS n_users"
            f" FROM ({'SELECT l0.user_id, ' + ', '.join(f'l{j}.t{j}' if j else 'l0.t0' for j in range(len(steps))) + ' FROM ' + joins})"
            f" WHERE t{i} IS NOT NULL"
        )
    return "".join(parts) + " " + " UNION ALL ".join(branches)


# ---------------------------------------------------------------------------
# Generic per-group top-k (the "greatest-n-per-group" idiom): top
# events by value per user. Window partitions by the group key — never
# a global sort; at 100 TB the shuffle is one hash exchange on
# user_id, and AQE handles hot users.
# ---------------------------------------------------------------------------


def top_events_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """[user_id, event_id, event_type, value, rnk] — each user's top-k
    events by (value desc, event_id asc)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.select("user_id", "event_id", "event_type", "value")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def top_events_per_user_sql(k: int = 3) -> str:
    return (
        "SELECT user_id, event_id, event_type, value,"
        " CAST(rnk AS INTEGER) AS rnk FROM ("
        " SELECT user_id, event_id, event_type, value,"
        " ROW_NUMBER() OVER (PARTITION BY user_id"
        "  ORDER BY value DESC, event_id ASC) AS rnk FROM events)"
        f" WHERE rnk <= {k}"
    )


# ---------------------------------------------------------------------------
# Per-type value anomalies: events whose value deviates more than
# z_threshold sample standard deviations from their type's mean — the
# monitoring primitive. Mean/std come from one grouped pass; the z
# computation is a broadcast join of the tiny per-type stats back
# onto the stream. Variance is computed from exact integer-free sums?
# No — value is a double, so mean/std are rounded to 6 BEFORE z is
# computed: both engines then evaluate identical two-operand
# arithmetic on identical inputs (sum/count/sum-of-squares are
# per-type aggregations of doubles with exactly representable 2-dp
# inputs at this fixture, and round(…,6) absorbs any residual ulp).
# ---------------------------------------------------------------------------


def event_anomalies(events: DataFrame, z_threshold: float = 3.0) -> DataFrame:
    """[event_id, event_type, value, z] for |z| > z_threshold."""
    stats = events.groupBy("event_type").agg(
        F.round(F.sum("value") / F.count(F.lit(1)), 6).alias("mu"),
        F.round(
            F.sqrt(
                (
                    F.sum(F.col("value") * F.col("value"))
                    - F.sum("value") * F.sum("value") / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            ),
            6,
        ).alias("sd"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 5)
    return (
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_id", "event_type", "value",
            z.cast("double").alias("z"),
        )
        .filter(F.abs(F.col("z")) > z_threshold)
    )


def event_anomalies_sql(z_threshold: float = 3.0) -> str:
    return (
        "WITH stats AS (SELECT event_type,"
        " round(SUM(value) / CAST(COUNT(*) AS DOUBLE), 6) AS mu,"
        " round(sqrt((SUM(value * value)"
        "  - SUM(value) * SUM(value) / CAST(COUNT(*) AS DOUBLE))"
        "  / (COUNT(*) - 1)), 6) AS sd"
        " FROM events GROUP BY event_type)"
        " SELECT event_id, e.event_type, value,"
        " CAST(round((value - mu) / sd, 5) AS DOUBLE) AS z"
        " FROM events e JOIN stats USING (event_type)"
        f" WHERE abs(round((value - mu) / sd, 5)) > {z_threshold}"
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows, retention cohorts, transition counts
# ---------------------------------------------------------------------------


def sliding_window_counts(
    events: DataFrame, minutes: int = 10, slide_minutes: int = 5
) -> DataFrame:
    """Batch mirror of Structured Streaming's hopping window
    ``F.window(ts, size, slide)``:
    [window_start_us, event_type, n_events, sum_value], one row per
    (window, type) — each event lands in size/slide windows.

    Spelled as explicit epoch-micros arithmetic (explode k = 0..m−1 →
    start = (t div slide)·slide − k·slide) rather than F.window's
    struct so the result is tz-independent and DuckDB-mirrorable —
    same values Structured Streaming would emit. The m-way explode is
    the standard duplication cost of hopping windows; it happens
    map-side inside the scan projection, and the one hash shuffle on
    (window, type) carries map-side partial aggregates, so the
    shuffled volume is bounded by distinct windows·types, not by
    m·|events|."""
    if minutes % slide_minutes:
        raise ValueError("window size must be a multiple of the slide")
    m = minutes // slide_minutes
    slide_us = 60_000_000 * slide_minutes
    ts_us = event_micros(events)
    base = (ts_us - ts_us % F.lit(slide_us)).alias("s0")
    return (
        events.select(base, "event_type", "value")
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("k"),
            "s0",
            "event_type",
            "value",
        )
        .select(
            (F.col("s0") - F.col("k") * F.lit(slide_us)).alias(
                "window_start_us"
            ),
            "event_type",
            "value",
        )
        .groupBy("window_start_us", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def sliding_window_counts_sql(
    minutes: int = 10, slide_minutes: int = 5
) -> str:
    m = minutes // slide_minutes
    slide_us = 60_000_000 * slide_minutes
    return (
        "SELECT s0 - k * {s} AS window_start_us, event_type,"
        " COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value"
        " FROM (SELECT epoch_us(ts) - epoch_us(ts) % {s} AS s0,"
        " unnest(generate_series(0, {kmax})) AS k, event_type, value"
        " FROM events) GROUP BY 1, 2"
    ).format(s=slide_us, kmax=m - 1)


DAY_US = 86_400_000_000


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Classic cohort-retention triangle:
    [cohort_day, day_offset, n_users] — users grouped by their
    first-seen day, counted on each subsequent active day.

    Days are epoch-day integers (ts_us div day) — tz-independent.
    Plan: one grouped MIN per user (hash shuffle on user_id), one
    distinct over (user, day) that reuses the same user_id exchange,
    one join on user_id, final count keyed by the (cohort, offset)
    pair — every aggregation map-side combinable; nothing driver-side.
    """
    ts_day = (event_micros(events) / F.lit(DAY_US)).cast("long")
    user_days = events.select(
        "user_id", ts_day.alias("day")
    ).distinct()
    cohorts = user_days.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    )
    return (
        user_days.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


RETENTION_COHORTS_SQL = (
    "WITH ud AS (SELECT DISTINCT user_id,"
    f" epoch_us(ts) // {DAY_US} AS day FROM events),"
    " c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)"
    " SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,"
    " CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS n_users"
    " FROM ud JOIN c USING (user_id) GROUP BY 1, 2"
)


def event_type_transitions(events: DataFrame) -> DataFrame:
    """Per-user consecutive event-type bigram counts:
    [from_type, to_type, n_transitions] — the Markov-chain /
    next-action-model training aggregate.

    One window pass partitioned by user_id ordered by (ts_us,
    event_id) — the event_id tiebreak makes the ordering total, so
    the lead() is deterministic cross-engine. The window exchange
    hash-partitions on user_id only (no global sort); the bigram
    count is a second map-side-combinable shuffle on the type pair."""
    from pyspark.sql import Window

    ts_us = event_micros(events)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = events.select(
        "user_id", "event_id", "event_type", ts_us.alias("ts_us")
    ).select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )


EVENT_TYPE_TRANSITIONS_SQL = (
    "WITH seq AS (SELECT event_type AS from_type,"
    " LEAD(event_type) OVER (PARTITION BY user_id"
    " ORDER BY epoch_us(ts), event_id) AS to_type FROM events)"
    " SELECT from_type, to_type,"
    " CAST(COUNT(*) AS BIGINT) AS n_transitions"
    " FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2"
)


def event_path_counts(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k per-user event-type TRIGRAM paths:
    [path, n_paths, rank] — the sequence-mining aggregate one level
    up from event_type_transitions' bigrams (funnel discovery,
    next-action-model context features).

    Same single-exchange shape as the bigram operator: one window
    pass partitioned by user_id with a total (ts_us, event_id) order
    feeding two stacked lead()s — Spark computes both leads in the
    same Window physical node, so the trigram costs exactly what the
    bigram does plus one tiny count shuffle; top-k is a global sort
    of the |type|^3-bounded count table with a (count desc, path
    asc) total tiebreak."""
    from pyspark.sql import Window

    ts_us = event_micros(events)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = events.select(
        "user_id", "event_id", "event_type", ts_us.alias("ts_us")
    ).select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    counted = (
        seq.filter(F.col("b").isNotNull() & F.col("c").isNotNull())
        .select(
            F.concat_ws(">", "a", "b", "c").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )
    w2 = Window.orderBy(F.desc("n_paths"), F.asc("path"))
    return (
        counted.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


EVENT_PATH_COUNTS_SQL = (
    "WITH seq AS (SELECT event_type AS a,"
    " LEAD(event_type, 1) OVER (PARTITION BY user_id"
    " ORDER BY epoch_us(ts), event_id) AS b,"
    " LEAD(event_type, 2) OVER (PARTITION BY user_id"
    " ORDER BY epoch_us(ts), event_id) AS c FROM events),"
    " counted AS (SELECT a || '>' || b || '>' || c AS path,"
    " CAST(COUNT(*) AS BIGINT) AS n_paths FROM seq"
    " WHERE b IS NOT NULL AND c IS NOT NULL GROUP BY 1),"
    " ranked AS (SELECT path, n_paths, ROW_NUMBER() OVER"
    " (ORDER BY n_paths DESC, path ASC) AS rank FROM counted)"
    " SELECT path, n_paths, CAST(rank AS INTEGER) AS rank"
    " FROM ranked WHERE rank <= 20"
)


def user_rfm(events: DataFrame) -> DataFrame:
    """Per-user RFM behavioral features:
    [user_id, recency_us, frequency, monetary] — time since the
    user's last event (relative to the corpus max event time),
    event count, and summed value (rounded 6).

    The classic user-segmentation feature table (and the behavioral
    sibling of model_quality_scores' per-doc features). Plan: one
    user-keyed grouped agg (map-side combinable) + the 1-row global
    max broadcast back — no second scan of the events table."""
    ts_us = event_micros(events)
    per_user = events.select("user_id", ts_us.alias("ts_us"), "value").groupBy(
        "user_id"
    ).agg(
        F.max("ts_us").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.round(F.sum("value"), 6).alias("monetary"),
    )
    global_max = per_user.agg(F.max("last_us").alias("corpus_max_us"))
    return per_user.crossJoin(F.broadcast(global_max)).select(
        "user_id",
        (F.col("corpus_max_us") - F.col("last_us")).alias("recency_us"),
        "frequency",
        "monetary",
    )


USER_RFM_SQL = (
    "WITH per_user AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us,"
    " CAST(COUNT(*) AS BIGINT) AS frequency,"
    " ROUND(SUM(value), 6) AS monetary FROM events GROUP BY user_id),"
    " gm AS (SELECT MAX(last_us) AS corpus_max_us FROM per_user)"
    " SELECT user_id, corpus_max_us - last_us AS recency_us,"
    " frequency, monetary FROM per_user, gm"
)


def sliding_windowed_stream(
    events_stream: DataFrame, minutes: int = 10, slide_minutes: int = 5
) -> DataFrame:
    """Watermarked streaming HOPPING windows — the readStream form of
    sliding_window_counts (F.window with a slide): each event lands
    in size/slide windows, state bounded by the watermark.

    Same output columns as the batch mirror so bounded-input
    streaming == batch is directly assertable."""
    with_ts = events_stream.withColumn(
        "event_time", event_time(events_stream)
    )
    return (
        with_ts.withWatermark("event_time", "10 minutes")
        .groupBy(
            F.window(
                "event_time", f"{minutes} minutes",
                f"{slide_minutes} minutes",
            ).alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            (F.unix_micros(F.col("win.start"))).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_sliding_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    minutes: int = 10,
    slide_minutes: int = 5,
    table: str = "sliding_counts",
) -> DataFrame:
    """availableNow drain of the hopping-window stream into a memory
    sink; bounded-input streaming == sliding_window_counts."""
    q = (
        sliding_windowed_stream(
            stream_events(spark, sf_dir), minutes, slide_minutes
        )
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(table)


def scd2_history(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (Type 2) history build: treat each
    user's event_type stream as attribute changes and emit one
    validity interval per run of equal values — [user_id, event_type,
    valid_from_us, valid_to_us, is_current], valid_to_us NULL on the
    open (current) version. The warehouse dimension-history staple,
    derived from a change log in two window passes.

    Plan: both windows partition by user_id under the same total
    (ts_us, event_id) order, so Catalyst evaluates them in ONE
    shuffle + sort — change detection (lag) and interval close (lead
    over the kept change rows) share the exchange. No global sort, no
    iterative pass; bounded per-user state exactly like sessionize."""
    from pyspark.sql.window import Window

    ev = events.select(
        "user_id",
        "event_type",
        "event_id",
        event_micros(events, "ts").alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed = ev.withColumn(
        "prev_type", F.lag("event_type").over(w)
    ).filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changed.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        F.lead("ts_us").over(w2).isNull().alias("is_current"),
    )


SCD2_HISTORY_SQL = (
    "WITH ev AS (SELECT user_id, event_type, event_id,"
    " epoch_us(ts) AS ts_us FROM events),"
    " changed AS (SELECT * FROM (SELECT user_id, event_type, ts_us,"
    " event_id,"
    " lag(event_type) OVER (PARTITION BY user_id"
    " ORDER BY ts_us, event_id) AS prev_type FROM ev)"
    " WHERE prev_type IS NULL OR prev_type <> event_type)"
    " SELECT user_id, event_type, ts_us AS valid_from_us,"
    " lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
    " AS valid_to_us,"
    " lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
    " IS NULL AS is_current"
    " FROM changed"
)


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_event_pivot(events: DataFrame) -> DataFrame:
    """Wide per-user activity matrix: [user_id, n_click, n_error,
    n_purchase, n_signup, n_view] — the reshape that turns an event
    log into an ML feature row or a BI crosstab.

    Plan: ``pivot`` with the value list supplied EXPLICITLY — with it,
    Spark skips the extra distinct-values job and compiles straight to
    one hash aggregate with five conditional counts (same shuffle
    profile as a plain groupBy). Never call pivot without the value
    list at scale: the values scan is a full extra pass."""
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


USER_EVENT_PIVOT_SQL = (
    "SELECT user_id, "
    + ", ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
        f" AS n_{t}"
        for t in EVENT_TYPES
    )
    + " FROM events GROUP BY user_id"
)


def user_event_unpivot(events: DataFrame) -> DataFrame:
    """Melt the pivoted matrix back to long form — [user_id,
    event_type, n_events], zero-count cells dropped (the sparse
    long-form contract). Round-trips with user_event_pivot; the
    ``unpivot``/``melt`` relational operator surface.

    Plan: unpivot is a generate/expand over the wide row — no shuffle
    beyond the pivot's own aggregate."""
    wide = user_event_pivot(events)
    long = wide.unpivot(
        "user_id",
        [f"n_{t}" for t in EVENT_TYPES],
        "event_type",
        "n_events",
    )
    return long.filter(F.col("n_events") > 0).select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        "n_events",
    )


USER_EVENT_UNPIVOT_SQL = (
    "SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events"
    " FROM events GROUP BY user_id, event_type"
)


def event_type_dow_cube(events: DataFrame) -> DataFrame:
    """CUBE over (event_type, day-of-week): all four grains — per
    cell, per type, per weekday, grand total — in one Expand+agg pass:
    [type_grp, dow_grp, n_events, value_sum_c]. Completes the grouping
    trio (GROUPING SETS: event_rollup; ROLLUP: revenue_rollup).

    Day-of-week is pure integer epoch arithmetic ((day + 3) mod 7,
    Monday=0 — 1970-01-01 was a Thursday), identical in both engines;
    value is cents-exact so the sum is an exact integer."""
    us_sql = event_micros_sql(events)
    ev = events.select(
        "event_type",
        F.expr(f"(({us_sql}) div {DAY_US} + 3) % 7").alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_c").alias("value_sum_c"),
            F.grouping("event_type").alias("g_t"),
            F.grouping("dow").alias("g_d"),
        )
        .select(
            F.when(F.col("g_t") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type"))
            .alias("type_grp"),
            F.when(F.col("g_d") == 1, F.lit(-1))
            .otherwise(F.col("dow"))
            .cast("long")
            .alias("dow_grp"),
            "n_events",
            "value_sum_c",
        )
    )


EVENT_TYPE_DOW_CUBE_SQL = (
    "WITH ev AS (SELECT event_type,"
    f" (epoch_us(ts) // {DAY_US} + 3) % 7 AS dow,"
    " CAST(round(value * 100) AS BIGINT) AS value_c FROM events)"
    " SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'"
    " ELSE event_type END AS type_grp,"
    " CAST(CASE WHEN GROUPING(dow) = 1 THEN -1 ELSE dow END AS BIGINT)"
    " AS dow_grp,"
    " CAST(COUNT(*) AS BIGINT) AS n_events,"
    " CAST(SUM(value_c) AS BIGINT) AS value_sum_c"
    " FROM ev GROUP BY CUBE(event_type, dow)"
)


HIST_BINS = 20


def event_value_histogram(events: DataFrame, bins: int = HIST_BINS) -> DataFrame:
    """Equi-width histogram of event values: [bin, n_events] over
    ``bins`` buckets between the global min and max — the
    data-dependent binning shape (bin edges come from the data, not
    the caller).

    Exactness: values are cents-exact; the bin index is pure integer
    arithmetic ((v - min) · bins div (max - min + 1)), so bucketing
    is identical cross-engine. Plan: one 1-row min/max aggregate
    broadcast onto the scan, then one hash aggregate — two passes
    total, the unavoidable minimum for data-dependent edges."""
    ev = events.select(
        F.round(F.col("value") * 100).cast("long").alias("v_c")
    )
    bounds = ev.agg(
        F.min("v_c").alias("mn"), F.max("v_c").alias("mx")
    )
    binned = ev.join(F.broadcast(bounds)).select(
        F.expr(
            f"(v_c - mn) * {bins} div (mx - mn + 1)"
        ).alias("bin")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def event_value_histogram_sql(bins: int = HIST_BINS) -> str:
    return (
        "WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS v_c"
        " FROM events),"
        " b AS (SELECT MIN(v_c) AS mn, MAX(v_c) AS mx FROM ev)"
        f" SELECT (v_c - mn) * {bins} // (mx - mn + 1) AS bin,"
        " CAST(COUNT(*) AS BIGINT) AS n_events"
        " FROM ev, b GROUP BY 1"
    )


FUNNEL_WINDOW_US = 7 * 86_400_000_000


def funnel_windowed(
    events: DataFrame, window_us: int = FUNNEL_WINDOW_US
) -> DataFrame:
    """Time-bounded funnel: users whose first view is followed by a
    click within ``window_us``, then a purchase within ``window_us``
    of that click: one row [n_view, n_click_7d, n_purchase_7d].

    Unlike the unbounded funnel (funnel_counts), each later stage must
    land inside a window anchored at the PREVIOUS stage's event — so
    stage timestamps are computed in sequence: three per-user
    conditional aggregates, each joined back as a broadcast of
    per-user scalars (bounded by |users|, not |events|)."""
    ev = events.select(
        "user_id",
        "event_type",
        event_micros(events, "ts").alias("ts_us"),
    )
    fv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts_us").alias("view_us")
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(
            (F.col("ts_us") > F.col("view_us"))
            & (F.col("ts_us") <= F.col("view_us") + F.lit(window_us))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("click_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(
            (F.col("ts_us") > F.col("click_us"))
            & (F.col("ts_us") <= F.col("click_us") + F.lit(window_us))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("purchase_us"))
    )
    return (
        fv.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(fc.agg(F.count(F.lit(1)).alias("n_click_7d")))
        .crossJoin(fp.agg(F.count(F.lit(1)).alias("n_purchase_7d")))
    )


def funnel_windowed_sql(window_us: int = FUNNEL_WINDOW_US) -> str:
    return (
        "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us"
        " FROM events),"
        " fv AS (SELECT user_id, MIN(ts_us) AS view_us FROM ev"
        " WHERE event_type = 'view' GROUP BY user_id),"
        " fc AS (SELECT e.user_id, MIN(ts_us) AS click_us FROM ev e"
        " JOIN fv USING (user_id)"
        " WHERE event_type = 'click' AND ts_us > view_us"
        f" AND ts_us <= view_us + {window_us} GROUP BY e.user_id),"
        " fp AS (SELECT e.user_id, MIN(ts_us) AS purchase_us FROM ev e"
        " JOIN fc USING (user_id)"
        " WHERE event_type = 'purchase' AND ts_us > click_us"
        f" AND ts_us <= click_us + {window_us} GROUP BY e.user_id)"
        " SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fv) AS n_view,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM fc) AS n_click_7d,"
        " (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_purchase_7d"
    )


def event_anomalies_robust(
    events: DataFrame, k: float = 3.5
) -> DataFrame:
    """Robust outliers: [event_id, event_type, value] where
    |value − median| > k · MAD per event type — the
    median/median-absolute-deviation detector that, unlike the
    z-score variant (event_anomalies), is not dragged by the
    outliers it is hunting.

    Exactness: values are cents-exact; median and MAD are exact
    interpolated percentiles over integers (the event_value_quantiles
    parity surface), and the threshold test cross-multiplies to avoid
    any division. Plan: two grouped percentile passes (the second
    needs |v − median|, which needs the first) broadcast back — the
    unavoidable two-pass structure of MAD."""
    ev = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
        "value",
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(v_c, 0.5)").alias("med_c")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev_c", F.abs(F.col("v_c") - F.col("med_c"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev_c, 0.5)").alias("mad_c")
    )
    out = dev.join(F.broadcast(mad), "event_type").filter(
        F.col("adev_c") > F.lit(k) * F.col("mad_c")
    )
    return out.select("event_id", "event_type", "value")


def event_anomalies_robust_sql(k: float = 3.5) -> str:
    return (
        "WITH ev AS (SELECT event_id, event_type,"
        " CAST(round(value * 100) AS BIGINT) AS v_c, value FROM events),"
        " med AS (SELECT event_type,"
        " quantile_cont(v_c, 0.5) AS med_c FROM ev GROUP BY event_type),"
        " dev AS (SELECT ev.*, ABS(v_c - med_c) AS adev_c"
        " FROM ev JOIN med USING (event_type)),"
        " mad AS (SELECT event_type,"
        " quantile_cont(adev_c, 0.5) AS mad_c FROM dev GROUP BY event_type)"
        " SELECT event_id, event_type, value"
        " FROM dev JOIN mad USING (event_type)"
        f" WHERE adev_c > {k} * mad_c"
    )


def conversion_latency(events: DataFrame) -> DataFrame:
    """Funnel latency distribution: one row [n_pairs, median_us,
    p90_us, max_us] over each user's first-view → first-later-click
    gap — the "how fast do users convert" readout next to the
    how-many funnel counts.

    Exactness: gaps are integer microseconds; median/p90 are exact
    interpolated percentiles (the established cross-engine percentile
    parity surface). Plan: two per-user conditional minima in one
    grouped pass each, then a 1-row percentile aggregate."""
    ev = events.select(
        "user_id", "event_type", event_micros(events, "ts").alias("ts_us")
    )
    fv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts_us").alias("view_us")
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts_us") > F.col("view_us"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("click_us"), F.min("view_us").alias("v"))
    )
    gaps = fc.select((F.col("click_us") - F.col("v")).alias("gap_us"))
    return gaps.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 3).alias("median_us"),
        F.round(F.expr("percentile(gap_us, 0.9)"), 3).alias("p90_us"),
        F.max("gap_us").alias("max_us"),
    )


CONVERSION_LATENCY_SQL = (
    "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us"
    " FROM events),"
    " fv AS (SELECT user_id, MIN(ts_us) AS view_us FROM ev"
    " WHERE event_type = 'view' GROUP BY user_id),"
    " fc AS (SELECT e.user_id,"
    " MIN(ts_us) AS click_us, MIN(view_us) AS v FROM ev e"
    " JOIN fv USING (user_id)"
    " WHERE event_type = 'click' AND ts_us > view_us"
    " GROUP BY e.user_id),"
    " gaps AS (SELECT click_us - v AS gap_us FROM fc)"
    " SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,"
    " round(quantile_cont(gap_us, 0.5), 3) AS median_us,"
    " round(quantile_cont(gap_us, 0.9), 3) AS p90_us,"
    " CAST(MAX(gap_us) AS BIGINT) AS max_us FROM gaps"
)


# ---------------------------------------------------------------------------
# Equi-depth value histogram — the optimizer-style distribution
# profile (k buckets of equal row count per event_type).  Exact and
# float-free: each row's global rank within its type comes from the
# curriculum_order technique — per-(type,value) counts, a cumulative
# window over the (small) DISTINCT-value axis, and a within-value
# row_number on the unique event_id tiebreak — never a single-
# partition global sort; bucket = ((rank−1)·k) div n is pure integer.
# min/max per bucket are stored input doubles (no arithmetic), so the
# oracle hash-matches without rounding conventions.
# ---------------------------------------------------------------------------

HIST_BUCKETS = 8


def value_histogram_equidepth(
    events: DataFrame, k: int = HIST_BUCKETS
) -> DataFrame:
    """[event_type, bucket, n_rows, min_value, max_value] — k
    equal-depth buckets of the per-type value distribution, bucketed
    by exact (value, event_id) rank."""
    from pyspark.sql import Window

    rows = events.select("event_type", "value", "event_id")
    per_val = rows.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_val.select(
        "event_type",
        "value",
        (F.sum("c").over(w_cum) - F.col("c")).alias("before"),
    )
    w_in = Window.partitionBy("event_type", "value").orderBy("event_id")
    w_n = Window.partitionBy("event_type")
    ranked = (
        rows.join(cum, ["event_type", "value"])
        .select(
            "event_type",
            "value",
            (F.col("before") + F.row_number().over(w_in)).alias("rank"),
            F.count(F.lit(1)).over(w_n).alias("n"),
        )
    )
    return (
        ranked.select(
            "event_type",
            "value",
            F.expr(f"((rank - 1) * {k}) div n").cast("long").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def value_histogram_equidepth_sql(k: int = HIST_BUCKETS) -> str:
    # naive single-sort semantic statement — the engine's distributed
    # rank must agree with it exactly
    return (
        "WITH ranked AS (SELECT event_type, value,"
        " ROW_NUMBER() OVER (PARTITION BY event_type"
        "  ORDER BY value, event_id) AS rank,"
        " COUNT(*) OVER (PARTITION BY event_type) AS n FROM events)"
        f" SELECT event_type, CAST(((rank - 1) * {k}) // n AS BIGINT)"
        " AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,"
        " MIN(value) AS min_value, MAX(value) AS max_value"
        " FROM ranked GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# Markov stationary mix + per-type value ECDF
# ---------------------------------------------------------------------------

MARKOV_SCALE = 1_000_000
MARKOV_ITERS = 20
# driver-finish guard: collect the k x k transition table only while
# both the state count and the actual transition-row count are
# driver-bounded; past either, the distributed pregel loop runs
MARKOV_MAX_DRIVER_STATES = 100_000
MARKOV_MAX_DRIVER_ROWS = 2_000_000


def markov_stationary(
    spark: SparkSession, events: DataFrame, n_iterations: int = MARKOV_ITERS
) -> DataFrame:
    """[event_type, p_micro] — the long-run event-type mix: power
    iteration of the per-user next-event Markov chain (the
    event_type_transitions bigram counts, row-normalized), started
    uniform, truncated at n_iterations. The steady-state answer to
    'what does a session converge to?' — next-action priors,
    simulation seeds, and drift detection against the empirical mix.

    Fixed-point discipline (the katz_centrality convention): p is
    integer micro-probability; each edge contributes
    (p(u)·n_uv) div r_u — a truncating integer division both engines
    spell exactly (div / //), so every superstep's sums are
    order-free and an unrolled-CTE oracle lands on identical bits.
    Types with no outgoing transitions shed their mass (absorbing
    dust, deterministic); total mass stays ≈ 10^6 minus truncation.

    Scale shape: the chain has |event_type| states — a bounded
    categorical domain, so the row-normalized transition table is a
    k x k DRIVER-SIZE aggregate (the BPE-vocab / PCA-moments bounded
    driver-finish class). The one full-data pass is building the
    bigram counts (a single user-keyed window exchange); the 20-step
    power iteration then runs on the collected k^2 table with the
    exact same truncating integer arithmetic — identical bits to the
    former per-superstep Spark loop at zero per-superstep scheduling
    cost (guide §1.2: the distributed algorithm's unavoidable work is
    one pass; everything after is O(k^2))."""
    counts = event_type_transitions(events)
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").cast("long").alias("r")
    )
    edges_df = counts.join(totals, "from_type").select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n_transitions").cast("long").alias("n"),
        "r",
    )
    # Guarded driver finish: the collect is justified by the bounded
    # categorical domain, but nothing used to ENFORCE the bound — a
    # high-cardinality event_type would OOM the driver. One scalar job
    # reads |types| and the transition-row count; past the guard the
    # loop runs distributed (the pre-round-12 pregel form, bit-
    # identical arithmetic), exactly the MST threshold+fallback shape.
    scal = (
        events.agg(F.count_distinct("event_type").alias("k"))
        .crossJoin(edges_df.agg(F.count(F.lit(1)).alias("ne")))
        .first()
    )
    k, n_edge_rows = int(scal["k"] or 0), int(scal["ne"] or 0)
    if k == 0:
        # empty events table: return the empty mix like sibling
        # operators instead of dividing by zero below
        return spark.createDataFrame(
            [], "event_type string, p_micro bigint"
        )
    if (
        k <= MARKOV_MAX_DRIVER_STATES
        and n_edge_rows <= MARKOV_MAX_DRIVER_ROWS
    ):
        edges = edges_df.collect()
        types = sorted(
            r["vertex"]
            for r in events.select(F.col("event_type").alias("vertex"))
            .distinct()
            .collect()
        )
        p = {t: MARKOV_SCALE // k for t in types}
        for _ in range(n_iterations):
            msg: dict[str, int] = {}
            for e in edges:
                # (p_q * n) div r — truncating integer division, all
                # operands non-negative: identical to the SQL `div`
                msg[e["dst"]] = msg.get(e["dst"], 0) + (
                    p[e["src"]] * e["n"]
                ) // e["r"]
            p = {t: msg.get(t, 0) for t in types}
        return spark.createDataFrame(
            [(t, int(p[t])) for t in types],
            "event_type string, p_micro bigint",
        )
    # distributed fallback: same truncating integer arithmetic per
    # superstep ((p_q·n) div r then per-dst integer sum), so the
    # result is bit-identical to the driver loop at any threshold
    from graph500_spark.operators.pregel import pregel

    types_df = events.select(
        F.col("event_type").alias("vertex")
    ).distinct()
    init = types_df.select(
        "vertex", F.lit(MARKOV_SCALE // k).cast("long").alias("p_q")
    )
    out = pregel(
        spark,
        edges_df,
        init,
        send=lambda j: j.select(
            F.col("dst").alias("vertex"),
            F.expr("(p_q * n) div r").alias("msg"),
        ),
        merge=[F.sum("msg").cast("long").alias("msg")],
        apply_fn=lambda st, inbox: st.join(inbox, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("msg", F.lit(0)).cast("long").alias("p_q"),
            (F.coalesce("msg", F.lit(0)) != F.col("p_q")).alias("chg"),
        ),
        n_supersteps=n_iterations,
    )
    return out.select(
        F.col("vertex").alias("event_type"),
        F.col("p_q").cast("long").alias("p_micro"),
    )


def markov_stationary_sql(n_iterations: int = MARKOV_ITERS) -> str:
    parts = [
        f"WITH counts AS MATERIALIZED ({EVENT_TYPE_TRANSITIONS_SQL}),",
        " totals AS (SELECT from_type,"
        " CAST(SUM(n_transitions) AS BIGINT) AS r FROM counts"
        " GROUP BY from_type),",
        " ed AS MATERIALIZED (SELECT c.from_type AS src,"
        " c.to_type AS dst, CAST(c.n_transitions AS BIGINT) AS n, t.r"
        " FROM counts c JOIN totals t USING (from_type)),",
        " ty AS MATERIALIZED (SELECT DISTINCT event_type AS vertex"
        " FROM events),",
        f" p0 AS MATERIALIZED (SELECT vertex, CAST({MARKOV_SCALE}"
        " // (SELECT COUNT(*) FROM ty) AS BIGINT) AS p_q FROM ty)",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f", m{i} AS MATERIALIZED (SELECT e.dst AS vertex,"
            " CAST(SUM((p.p_q * e.n) // e.r) AS BIGINT) AS msg"
            f" FROM ed e JOIN p{i - 1} p ON p.vertex = e.src"
            " GROUP BY e.dst)"
        )
        parts.append(
            f", p{i} AS MATERIALIZED (SELECT t.vertex,"
            " CAST(COALESCE(m.msg, 0) AS BIGINT) AS p_q"
            f" FROM ty t LEFT JOIN m{i} m ON m.vertex = t.vertex)"
        )
    parts.append(
        " SELECT vertex AS event_type, p_q AS p_micro"
        f" FROM p{n_iterations}"
    )
    return "".join(parts)


def event_value_ecdf(events: DataFrame) -> DataFrame:
    """[event_type, value_cents, n, cum_n, ecdf_ppm] — the empirical
    CDF of event values per type (one row per DISTINCT value): the
    transform behind percentile features, drift tests (KS distance
    is an ECDF difference), and calibrated thresholds.

    Values quantized to cents (the repo's money convention) so
    grouping and ordering are exact integers; ecdf = cum_n/total as
    ONE rounded double expression to ppm. Plan: one (type, value)
    hash agg compresses the data to distinct values, then a
    cumulative-sum window per type over the COMPRESSED table plus a
    broadcast of per-type totals. At 100 TB the window sorts only
    distinct values per type; if one type's value domain explodes,
    the standard extension is range-partitioned prefix sums (the
    part_skyline note)."""
    from pyspark.sql import Window

    vals = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    counts = vals.groupBy("event_type", "value_cents").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total")
    )
    return (
        counts.withColumn("cum_n", F.sum("n").over(w).cast("long"))
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "value_cents",
            "n",
            "cum_n",
            F.round(F.col("cum_n") * 1_000_000 / F.col("total"))
            .cast("long")
            .alias("ecdf_ppm"),
        )
    )


EVENT_VALUE_ECDF_SQL = (
    "WITH counts AS (SELECT event_type,"
    " CAST(round(value * 100) AS BIGINT) AS value_cents,"
    " CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),"
    " c2 AS (SELECT event_type, value_cents, n,"
    " CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY value_cents"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
    " AS cum_n,"
    " CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total"
    " FROM counts)"
    " SELECT event_type, value_cents, n, cum_n,"
    " CAST(round(cum_n * 1000000 / CAST(total AS DOUBLE)) AS BIGINT)"
    " AS ecdf_ppm FROM c2"
)
