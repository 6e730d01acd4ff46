"""Time-series operators over ``events`` — as-of join, range join,
multi-granularity rollup, gap fill.

No reference analog (the reference's time support stops at encoding
DATE/TIME/TIMESTAMP cells, ``hbase/HBaseTable.kt:274-286``); these are
the time-series operators a hypertable-style engine layers on top, and
Spark lacks them as built-ins — each is expressed as a composition of
DataFrame ops chosen for its shuffle profile at 100 TB.

Scale design:
* as-of join — the naive formulation is a per-row correlated subquery
  (quadratic). Implemented instead as UNION + one window over
  (user_id, ts): a single shuffle, linear state, no join explosion.
  This is the standard "merge the two streams, carry the last right
  row forward" trick.
* range join — naive is an inequality join (cross-product per user).
  Implemented by bucketing time into interval-width bins and equi-
  joining on (user_id, bin ∈ {b, b-1}) before the exact range filter:
  the shuffle carries only same-bucket pairs, turning O(n·m) into
  O(collisions). This is exactly how Spark's own range-join hints work.
* rollup — GROUPING SETS over pre-computed time buckets: one shuffle,
  partial aggregation on the map side.
* gap fill — per-series min/max + ``sequence()`` explode generates the
  dense time axis distributed (no driver-side calendar), then a left
  join + last-value-carry-forward window fills the gaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kt_sql_hbase_ex_spark import storage
from kt_sql_hbase_ex_spark.functions.money import exact_sum_sql
from kt_sql_hbase_ex_spark.registry import query
from kt_sql_hbase_ex_spark.sources.catalog import load_table

RANGE_MINUTES = 10


@query(
    "ts01_asof_join",
    oracle="""
    SELECT a.event_id AS click_id, a.user_id,
           b.ts AS purchase_ts,
           ROUND(b.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND b.ts <= a.ts
    """,
)
def ts01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click paired with the user's most recent purchase
    at-or-before it. Implemented as union-then-window — both sides
    shuffle ONCE on user_id, a window ordered by (ts, side) carries the
    last purchase forward, and rows tagged as clicks exit. Linear in
    events, no inequality join. (DuckDB replays it with its native
    ASOF JOIN, so the semantics are pinned to the standard.)"""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("pvalue"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(0).alias("side"),
        F.col("value").alias("pvalue"),
    )
    # side=0 sorts before side=1 at equal ts => purchase at the exact
    # click timestamp is visible to the click (ASOF's <= semantics).
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = clicks.unionByName(purchases).select(
        "event_id", "user_id", "ts", "side",
        F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("purchase_ts"),
        F.last("pvalue", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return merged.filter(F.col("side") == 1).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "purchase_ts",
        F.round("purchase_value", 2).alias("purchase_value"),
    )


@query(
    "ts02_range_join",
    oracle=f"""
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_prior_errors
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON e.user_id = p.user_id
     AND e.ts <= p.ts
     AND e.ts > p.ts - INTERVAL '{RANGE_MINUTES} minutes'
    GROUP BY p.event_id, p.user_id
    """,
)
def ts02_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: errors within the {RANGE_MINUTES}-minute window before
    each purchase, counted per purchase. The interval predicate is made
    equi-joinable by bucketing ts into window-width bins: a row can only
    match purchases in its own or the next bin, so each error emits two
    (user_id, bin) keys and the join shuffles same-bucket pairs only —
    the bucketed-range-join pattern, O(bucket collisions) not O(n·m)."""
    bin_expr = f"CAST(floor(unix_micros(ts) / ({RANGE_MINUTES} * 60 * 1000000)) AS BIGINT)"
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.expr(bin_expr).alias("bin"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        # an error can match purchases in its bin or the one after
        F.explode(F.array(F.expr(bin_expr), F.expr(bin_expr) + 1)).alias("bin"),
    )
    joined = purchases.join(
        errors,
        (purchases.user_id == errors.e_user)
        & (purchases.bin == errors.bin)
        & (errors.e_ts <= purchases.p_ts)
        & (errors.e_ts > purchases.p_ts - F.expr(f"INTERVAL {RANGE_MINUTES} MINUTES")),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("error_id").alias("n_prior_errors")
    )


@query(
    "ts03_multi_granularity_rollup",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '1 day', ts) AS day_bucket,
           CASE WHEN GROUPING(time_bucket(INTERVAL '1 hour', ts)) = 0
                THEN time_bucket(INTERVAL '1 hour', ts) END AS hour_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY GROUPING SETS (
        (event_type, time_bucket(INTERVAL '1 day', ts)),
        (event_type, time_bucket(INTERVAL '1 day', ts),
         time_bucket(INTERVAL '1 hour', ts)))
    """,
)
def ts03_multi_granularity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly and daily
    materializations in one pass via GROUPING SETS over pre-computed
    time buckets (one shuffle, map-side partials). At scale this is the
    query that backfills a continuous aggregate; the day level reuses
    the hour level's partial aggregation."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_trunc("day", "ts").alias("day_bucket"),
        F.date_trunc("hour", "ts").alias("hour_bucket"),
    )
    e.createOrReplaceTempView("ts03_events")
    return e.sparkSession.sql(
        """
        SELECT event_type, day_bucket, hour_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM ts03_events
        GROUP BY GROUPING SETS (
            (event_type, day_bucket),
            (event_type, day_bucket, hour_bucket))
        """
    )


@query(
    "ts04_gap_fill",
    oracle="""
    WITH daily AS (
        SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS n, ROUND(AVG(value), 2) AS avg_value
        FROM events GROUP BY 1, 2
    ),
    axis AS (
        SELECT event_type, unnest(generate_series(min(day), max(day),
                                  INTERVAL '1 day')) AS day
        FROM daily GROUP BY event_type
    )
    SELECT axis.event_type, axis.day,
           COALESCE(daily.n, 0) AS n_events,
           COALESCE(daily.avg_value,
                    LAST_VALUE(daily.avg_value IGNORE NULLS) OVER (
                        PARTITION BY axis.event_type ORDER BY axis.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ) AS avg_value_locf
    FROM axis LEFT JOIN daily
      ON daily.event_type = axis.event_type AND daily.day = axis.day
    """,
)
def ts04_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill + LOCF: dense daily axis per event_type generated
    distributed via ``sequence()``/``explode`` (no driver-side calendar
    loop), left-joined to the sparse daily aggregate, missing counts
    zero-filled and missing averages carried forward with a
    last-value-ignore-nulls window. The time axis generation is O(series
    × days) executor-side — the shape that still works when 'series'
    is millions of devices."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"), F.round(F.avg("value"), 2).alias("avg_value"))
    axis = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        axis.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce(
                "avg_value", F.last("avg_value", ignorenulls=True).over(w)
            ).alias("avg_value_locf"),
        )
    )


EWMA_ALPHA = 0.3


@query(
    "ts05_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               ROUND(AVG(value), 6) AS x
        FROM events GROUP BY 1, 2
    ),
    idxd AS (
        SELECT event_type, day, x,
               ROW_NUMBER() OVER w - 1 AS idx,
               FIRST_VALUE(x) OVER w AS x0
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    summed AS (
        SELECT *, SUM(x * POWER(1.0 / (1 - {EWMA_ALPHA}), idx))
                   OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING) AS p
        FROM idxd
    )
    SELECT event_type, day, x AS avg_value,
           ROUND(POWER(1 - {EWMA_ALPHA}, idx)
                 * ({EWMA_ALPHA} * (p - x0) + x0), 4) AS ewma
    FROM summed
    """,
)
def ts05_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over the daily per-type
    series (α={EWMA_ALPHA}): the recursive filter e_t = αx_t + (1-α)e_(t-1)
    evaluated as a *closed form* over ONE window pass — a scaled prefix
    sum P_t = Σ x_j·r^(-j) gives e_t = r^t·(α(P_t - x_0) + x_0) — so no
    per-row recursion, no UDF, one shuffle on the series key. The
    r^(-j) scaling overflows for series beyond ~10^3 points per group
    (r=0.7 ⇒ 1.43^j); longer series chunk the window or switch to a
    sorted-array ``aggregate`` fold (bounded state either way). Daily
    averages are rounded to 6dp before smoothing so both engines filter
    identical inputs."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    w = W.partitionBy("event_type").orderBy("day")
    w_sum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    r = 1 - EWMA_ALPHA
    idx = F.row_number().over(w) - 1
    withq = daily.select(
        "event_type",
        "day",
        "x",
        idx.alias("idx"),
        F.first("x").over(w_sum).alias("x0"),
        (F.col("x") * F.pow(F.lit(1.0 / r), idx)).alias("q"),
    )
    p = F.sum("q").over(
        W.partitionBy("event_type").orderBy("day").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
    )
    return withq.select(
        "event_type",
        "day",
        F.col("x").alias("avg_value"),
        F.round(
            F.pow(F.lit(r), F.col("idx"))
            * (EWMA_ALPHA * (p - F.col("x0")) + F.col("x0")),
            4,
        ).alias("ewma"),
    )


@query(
    "ts06_ohlc_bars",
    oracle="""
    WITH keyed AS (
        SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar,
               value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0')
                   || lpad(CAST(event_id AS VARCHAR), 19, '0') AS ord
        FROM events
    )
    SELECT event_type, bar,
           arg_min(value, ord) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ord) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM keyed GROUP BY event_type, bar
    """,
)
def ts06_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per series — the canonical time-series
    downsample (open/high/low/close + volume per bar). Open/close are
    ``min_by``/``max_by`` over a zero-padded sortable key
    (micros‖event_id): a single-pass ORDERED-ARG aggregate — one
    shuffle on (series, bar), no window sort, partials merge map-side —
    and the event_id suffix makes the first/last row WELL-DEFINED under
    timestamp ties, where a bare min_by(value, ts) would be
    nondeterministic per run and per engine (the fixture has same-second
    events, so ties are live, not theoretical). Values pass through
    unrounded: 2dp doubles are exact, and open/close SELECT a stored
    value rather than computing one. At 100 TB bars form the st07-style
    incremental MV: per-bar aggregates append per microbatch and the
    same arg-min/max states merge."""
    e = load_table(spark, sf_dir, "events")
    # pad widths cover the full domains (epoch micros < 10^16 until
    # year 2286, bigint ids < 10^19): lpad TRUNCATES over-long strings
    # in both engines, which would silently re-introduce ord-key
    # collisions at exactly the id scales the key exists to break
    ord_key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 16, "0"),
        F.lpad(F.col("event_id").cast("string"), 19, "0"),
    )
    return (
        e.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar"),
            "value",
            ord_key.alias("ord"),
        )
        .groupBy("event_type", "bar")
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count("*").alias("volume"),
        )
    )


# --- persisted continuous-aggregate cascade (ts07, round 13) -----------
#
# ts03 is the one-pass BACKFILL of a continuous aggregate and st07 the
# single-level streaming MV; this is the piece between them that a
# hypertable deployment actually serves from: a PERSISTED two-level
# rollup store (hour partials -> day rollup) where the coarse level
# derives from the FINE level's partials — never from raw events — and
# the query picks the coarsest level that answers (day totals from the
# day rows, an hour drill-down from day-partition-pruned hour rows).
# At 100 TB that derivation order is the whole point: the day backfill
# re-aggregates hour-partial rows (groups × hours), not the fact
# table, and an hour drill-down reads one day partition. Partials
# carry exact micro-unit LONG sums (functions/money.py), so partial →
# hour → day re-summing is exact at any batching.

#: ts07's hour-level drill-down day (the fixture's first event day —
#: identical across scale factors)
_TS07_DRILL_DAY = "2024-01-01"
#: arrival batches for the store build (event_id residue)
_TS07_BATCHES = 3


def _cagg_hour_partials(batch: DataFrame) -> DataFrame:
    """One batch's hour-level partial rows, partition-keyed by day:
    (event_type, d, hb, pn, psum) — group-cardinality-sized whatever
    the batch size (the st07 log discipline with a time axis)."""
    from kt_sql_hbase_ex_spark.functions.money import _micros

    return (
        batch.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hb"),
            _micros(F.col("value")).alias("m"),
        )
        .groupBy("event_type", "hb")
        .agg(F.count("*").alias("pn"), F.sum("m").alias("psum"))
        .withColumn("d", F.date_format("hb", "yyyy-MM-dd"))
    )


def append_cagg_batch(spark: SparkSession, root: str, batch: DataFrame) -> None:
    """Admit one arrival batch's hour partials into the standing store
    (first call creates it). Appends land inside ``day=``-style ``d=``
    partitions — an hour drill-down for one day reads one partition
    regardless of retained history."""
    import os

    parts = _cagg_hour_partials(batch)
    # the CREATE path holds the writer lock too (round-13 review
    # finding): an unlocked exists-check is a TOCTOU — two racing
    # first appends would each write a data dir and the loser's batch
    # would orphan silently; under the lock the loser re-checks and
    # lands as a normal append (or fails loudly on lock conflict, the
    # repo-wide single-writer discipline)
    with storage.writer_lock(root):
        if not os.path.exists(storage.layout_path(root)):
            import uuid

            data = f"hour.{uuid.uuid4().hex[:12]}"
            parts.repartition("d").write.partitionBy("d").parquet(
                os.path.join(root, data)
            )
            storage.write_layout(
                root,
                {"kind": "cagg", "gen": 0, "hour": data, "day": None,
                 "data": data, "prev": []},
            )
            return
        layout = storage.read_layout(root)
        parts.repartition("d").write.mode("append").partitionBy("d").parquet(
            os.path.join(root, layout["hour"])
        )


def rollup_cagg_store(spark: SparkSession, root: str) -> dict:
    """The maintenance pass: fold accreted hour partials into one row
    per (event_type, hour) AND derive the day level by re-aggregating
    the folded HOUR rows (groups × hours input — the fact table is
    not in this plan), publishing both behind one atomic pointer
    flip; superseded level dirs survive one cycle (deferred GC)."""
    import os
    import uuid

    with storage.writer_lock(root):
        layout = storage.read_layout(root)
        hours = (
            spark.read.parquet(os.path.join(root, layout["hour"]))
            .groupBy("event_type", "d", "hb")
            .agg(
                F.sum("pn").cast("long").alias("pn"),
                F.sum("psum").cast("long").alias("psum"),
            )
        )
        hdata = f"hour.{uuid.uuid4().hex[:12]}"
        hours.repartition("d").write.partitionBy("d").parquet(
            os.path.join(root, hdata)
        )
        days = (
            spark.read.parquet(os.path.join(root, hdata))
            .groupBy("event_type", F.date_trunc("day", "hb").alias("db"))
            .agg(
                F.sum("pn").cast("long").alias("pn"),
                F.sum("psum").cast("long").alias("psum"),
            )
        )
        ddata = f"day.{uuid.uuid4().hex[:12]}"
        days.coalesce(1).write.parquet(os.path.join(root, ddata))
        storage.drop_dirs(root, layout.get("prev", []))
        prev = [layout["hour"]] + ([layout["day"]] if layout["day"] else [])
        storage.write_layout(
            root,
            {"kind": "cagg", "gen": layout["gen"] + 1, "hour": hdata,
             "day": ddata, "data": hdata, "prev": prev},
        )
        return {"gen": layout["gen"] + 1}


def ensure_cagg_store(spark: SparkSession, sf_dir: str) -> str:
    """ts07's fixture store: three event_id-residue arrival batches
    append hour partials, then one rollup pass folds hours and derives
    the day level — the lifecycle a standing continuous aggregate
    runs (appends per ingest, rollup on the maintenance schedule)."""
    from kt_sql_hbase_ex_spark.functions.sketches import sketch_root

    def build(staging: str) -> None:
        e = load_table(spark, sf_dir, "events")
        for b in range(_TS07_BATCHES):
            append_cagg_batch(
                spark, staging,
                e.filter(F.col("event_id") % _TS07_BATCHES == b),
            )
        rollup_cagg_store(spark, staging)

    return storage.build_once(sketch_root(sf_dir, "events", "cagg-hour-day"), build)


@query(
    "ts07_continuous_aggregate",
    oracle=f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
           CAST(NULL AS TIMESTAMP) AS hour_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {{total}} AS total_value
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
           date_trunc('hour', ts) AS hour_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {{total}} AS total_value
    FROM events
    WHERE date_trunc('day', ts) = TIMESTAMP '{_TS07_DRILL_DAY} 00:00:00'
    GROUP BY 1, 2, 3
    """.format(total=exact_sum_sql("value")),
)
def ts07_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-selected serving from the persisted continuous-aggregate
    cascade: month-wide day totals answered from the DAY level (rows =
    groups × days — the fact table is not in the plan) plus an hour
    drill-down for one day answered from the HOUR level with the day
    partition pruned (``d=2024-01-01`` is the only hour partition
    read). The store was maintained incrementally — three arrival
    batches appended hour partials, one rollup pass folded them and
    derived the day level FROM the hour rows — and the oracle
    aggregates raw events directly, blind to batching, partials, and
    the derivation order, so a hash match proves the cascade exact at
    every level (partials are micro-unit LONGs; partial → hour → day
    re-summing is exact at any batching). This is the serving half of
    the hypertable continuous-aggregate story whose backfill shape
    ts03 prices and whose single-level streaming form st07 prices."""
    import os

    from kt_sql_hbase_ex_spark.functions.money import _emit

    root = ensure_cagg_store(spark, sf_dir)
    layout = storage.read_layout(root)
    days = spark.read.parquet(os.path.join(root, layout["day"])).select(
        "event_type",
        F.col("db").alias("day_bucket"),
        F.lit(None).cast("timestamp").alias("hour_bucket"),
        F.col("pn").alias("n_events"),
        _emit(F.col("psum"), 2).alias("total_value"),
    )
    hours = (
        spark.read.parquet(os.path.join(root, layout["hour"]))
        .filter(F.col("d") == _TS07_DRILL_DAY)
        .select(
            "event_type",
            F.date_trunc("day", "hb").alias("day_bucket"),
            F.col("hb").alias("hour_bucket"),
            F.col("pn").alias("n_events"),
            _emit(F.col("psum"), 2).alias("total_value"),
        )
    )
    return days.unionByName(hours)
