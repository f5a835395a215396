"""Round-4 continuation surface, batch 2: temporal join families the
registry still lacked — interval-overlap (range) join via banded candidate
generation, wide PIVOT, time-series OHLC bars (the hypertable-rollup
shape), and the classic BACKWARD as-of join checked against DuckDB's
native ASOF JOIN.

Every query carries an exact DuckDB oracle (CLAUDE.md conventions:
identical aliases both sides, integer-exact money via floor→BIGINT cents,
count(*) cast BIGINT, date outputs cast TIMESTAMP both sides);
``scripts/drive_contract.py`` and the sf0.1 parity sweep hash-verify them
locally.

Reference: the reference repo (682 LoC of six ML utilities,
spark_ml_features.py:1) has no temporal-join surface; these are SURVEY
§2-D engine families per SURVEY §0's "same capabilities + north-star
extensions" mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "d95_interval_overlap_join",
    oracle="""
WITH incidents AS (
    SELECT event_id AS incident_id, ts AS t_start,
           ts + INTERVAL 2 HOUR AS t_end
    FROM events WHERE event_type = 'error'
), activity AS (
    SELECT ts, CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT i.incident_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(sum(a.cents) AS BIGINT) AS hit_cents
FROM incidents i JOIN activity a
  ON a.ts >= i.t_start AND a.ts < i.t_end
GROUP BY i.incident_id
""",
    tags=("engine", "join", "range-join", "temporal"),
)
def d95_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (range) join via BANDED candidate generation: every
    'error' event opens a 2-hour incident window ``[ts, ts+2h)``; count the
    click/purchase activity falling inside each window. A naive inequality
    join is a BroadcastNestedLoopJoin (O(n·m)); instead each incident
    explodes into the ≤3 hour-bands its window can touch and activity joins
    on its OWN hour band — an equi-join, so Spark picks a hash join. Each
    (incident, activity) pair meets in exactly one band (the activity row's
    band), so no pair-dedup distinct() is needed; the exact ``[start, end)``
    containment filter then drops band-only false candidates.

    The oracle is the naive inequality join — DuckDB's IEJoin handles it at
    sf0.01 scale — proving banded candidates + exact filter ≡ the true
    range join.

    100 TB: candidates are bounded by (events per hour-band) x (incidents
    touching that band), never n·m; both sides shuffle once on the band key
    and AQE handles band skew (a hot incident hour salts like any hot hash
    key). Money is summed as floor-cents BIGINT — order-independent, so the
    partial aggregate is exact."""
    ev = table(spark, sf_dir, "events")
    band = lambda c: (F.unix_timestamp(c) / F.lit(3600)).cast("bigint")  # noqa: E731
    inc = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("incident_id"),
                   F.col("ts").alias("t_start"),
                   (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("t_end")))
    inc_b = inc.withColumn(
        "band", F.explode(F.sequence(band(F.col("t_start")),
                                     band(F.col("t_end")))))
    act = (ev.filter(F.col("event_type").isin("click", "purchase"))
           .select(F.col("ts").alias("a_ts"),
                   F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
                   band(F.col("ts")).alias("band")))
    j = inc_b.join(act, "band").filter(
        (F.col("a_ts") >= F.col("t_start")) & (F.col("a_ts") < F.col("t_end")))
    return (j.groupBy("incident_id")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.sum("cents").alias("hit_cents")))


@register(
    "d96_pivot_daily_mix",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
       CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
FROM events
GROUP BY 1
""",
    tags=("engine", "pivot", "aggregate"),
)
def d96_pivot_daily_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide PIVOT — the long→wide reshape twin of d33's unpivot: one row
    per day, one BIGINT count column per event type. The pivot value list
    is passed EXPLICITLY (``pivot(col, values)``): without it Spark runs an
    extra distinct-collect job to discover the values and the output schema
    becomes data-dependent — a silent full pass at 100 TB and a schema drift
    hazard. Missing (day, type) combos surface as NULL from pivot-count;
    coalesce to 0 to match the oracle's ``count(*) FILTER`` semantics.

    100 TB: a pivot with an explicit value list is ONE hash aggregate with
    5 conditional counts — partial aggregation map-side, one shuffle of
    day-grain rows, no per-type scan fan-out."""
    ev = table(spark, sf_dir, "events")
    wide = (ev.select(F.date_trunc("day", "ts").alias("day"), "event_type")
            .groupBy("day")
            .pivot("event_type", list(_EVENT_TYPES))
            .agg(F.count(F.lit(1))))
    return wide.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
                 for t in _EVENT_TYPES])


@register(
    "d97_ohlc_bars",
    oracle="""
WITH ranked AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY date_trunc('day', ts)
                              ORDER BY ts, event_id) AS rn_asc,
           row_number() OVER (PARTITION BY date_trunc('day', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn_desc
    FROM events WHERE event_type = 'purchase'
)
SELECT day,
       max(CASE WHEN rn_asc = 1 THEN value END)  AS open,
       max(value)                                AS high,
       min(value)                                AS low,
       max(CASE WHEN rn_desc = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT)                  AS n_trades,
       CAST(sum(cents) AS BIGINT)                AS volume_cents
FROM ranked
GROUP BY day
""",
    tags=("engine", "window", "timeseries", "rollup"),
)
def d97_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — the classic hypertable time-bucket rollup:
    per day, the first (open) / max (high) / min (low) / last (close)
    purchase value plus trade count and exact cent volume. First/last are
    pinned to the UNIQUE ordering key (ts, event_id) via two row_number
    windows — never ``first()``/``last()`` aggregates, whose result is
    partition-arrival order, i.e. nondeterministic under shuffle. Open,
    high, low, close are single row values (bit-exact across engines);
    volume is floor-cents BIGINT.

    100 TB: day-partitioned windows and the final aggregate share the same
    day key, so Catalyst reuses one Exchange; each day's window sort is
    local to its partition. For market-scale data you'd bucket the sink by
    day — this is exactly e10's tumbling rollup with ordered endpoints
    added."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    day = F.date_trunc("day", "ts")
    base = ev.select(day.alias("day"), "value", "ts", "event_id",
                     F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
    w_asc = Window.partitionBy("day").orderBy(F.col("ts"), F.col("event_id"))
    w_desc = Window.partitionBy("day").orderBy(F.col("ts").desc(),
                                               F.col("event_id").desc())
    ranked = base.select(
        "day", "value", "cents",
        F.row_number().over(w_asc).alias("rn_asc"),
        F.row_number().over(w_desc).alias("rn_desc"))
    return (ranked.groupBy("day")
            .agg(F.max(F.when(F.col("rn_asc") == 1, F.col("value"))).alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("rn_desc") == 1, F.col("value"))).alias("close"),
                 F.count(F.lit(1)).alias("n_trades"),
                 F.sum("cents").alias("volume_cents")))


@register(
    "d98_asof_backward",
    oracle="""
WITH quotes AS (
    SELECT user_id, ts, max(value) AS quote_value
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
), trades AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
)
SELECT t.event_id, t.user_id,
       t.value AS trade_value,
       q.quote_value,
       q.ts AS quote_ts
FROM trades t ASOF JOIN quotes q
  ON t.user_id = q.user_id AND t.ts >= q.ts
""",
    tags=("engine", "join", "asof", "temporal"),
)
def d98_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKWARD as-of join — for each trade (purchase), the most recent
    quote (view) by the same user at or before the trade's timestamp —
    checked against DuckDB's NATIVE ``ASOF JOIN`` (d79 covers the NEAREST
    variant SQL ASOF cannot express). Quotes are first deduped to one row
    per (user, ts) (max value), making the as-of match well-defined.

    The Spark plan is the union-merge rewrite, not a join at all: tag
    quotes 0 / trades 1, union, and take ``last(quote_value, ignorenulls)``
    over a per-user window ordered by (ts, tag) — the tag tiebreak sorts a
    quote BEFORE a trade at the same instant, which is exactly ASOF's
    inclusive ``>=``. One shuffle on user_id replaces a join whose
    inequality key would otherwise force per-user sort-merge + backward
    scan.

    100 TB: the union-merge as-of is the canonical point-in-time-correct
    feature join (market data, feature stores). It shuffles each row ONCE
    on the entity key, state per user is a single carried value, and skewed
    users cost a bigger local sort, never a blowup in pairs."""
    ev = table(spark, sf_dir, "events")
    quotes = (ev.filter(F.col("event_type") == "view")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("quote_value"))
              .select("user_id", "ts", "quote_value",
                      F.lit(None).cast("long").alias("event_id"),
                      F.lit(None).cast("double").alias("trade_value"),
                      F.lit(0).alias("tag")))
    trades = (ev.filter(F.col("event_type") == "purchase")
              .select("user_id", "ts",
                      F.lit(None).cast("double").alias("quote_value"),
                      "event_id",
                      F.col("value").alias("trade_value"),
                      F.lit(1).alias("tag")))
    u = quotes.unionByName(trades)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts"), F.col("tag"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    quote_ts = F.when(F.col("tag") == 0, F.col("ts"))
    merged = u.select(
        "user_id", "ts", "tag", "event_id", "trade_value",
        F.last("quote_value", ignorenulls=True).over(w).alias("quote_value"),
        F.last(quote_ts, ignorenulls=True).over(w).alias("quote_ts"))
    return (merged.filter((F.col("tag") == 1)
                          & F.col("quote_value").isNotNull())
            .select("event_id", "user_id", "trade_value",
                    "quote_value", "quote_ts"))


@register(
    "d99_stratified_quota_sample",
    oracle="""
WITH keyed AS (
    SELECT l_returnflag, l_orderkey, l_linenumber,
           (l_orderkey * 1000003 + l_linenumber * 7919) % 2147483647 AS ord_key
    FROM lineitem
), ranked AS (
    SELECT l_returnflag, l_orderkey, l_linenumber, ord_key,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY ord_key, l_orderkey, l_linenumber)
               AS rn
    FROM keyed
)
SELECT l_returnflag, l_orderkey, l_linenumber
FROM ranked WHERE rn <= 100
""",
    tags=("engine", "sampling", "deterministic"),
)
def d99_stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-quota stratified sampling — deterministic twin of D19's
    engine-RNG ``sampleBy`` (which can only promise quotas in expectation):
    exactly 100 rows per l_returnflag stratum, chosen by ranking on a
    pseudo-random integer key derived from the row's natural key
    (``(orderkey*1000003 + linenumber*7919) mod 2^31-1`` — a fixed affine
    hash, identical in both engines, with the natural key as tiebreak so
    the ordering is total). Same-seed reruns and both engines pick the SAME
    rows — the reproducibility property training-data splits need and
    rand(seed) does not give across engines.

    100 TB: one window shuffle on the stratum key; with AQE a skewed
    stratum splits on the hash-ordering prefix. For quotas large enough to
    hurt a single partition, the two-phase variant (per-partition top-q,
    then global top-q of candidates — d10's WindowGroupLimit does this
    automatically for rank filters) keeps the sort bounded; the rank<=100
    filter here IS that shape, so Spark plans a WindowGroupLimit."""
    li = table(spark, sf_dir, "lineitem")
    ord_key = ((F.col("l_orderkey") * 1000003
                + F.col("l_linenumber") * 7919) % 2147483647)
    w = (Window.partitionBy("l_returnflag")
         .orderBy(F.col("ord_key"), F.col("l_orderkey"), F.col("l_linenumber")))
    return (li.select("l_returnflag", "l_orderkey", "l_linenumber",
                      ord_key.alias("ord_key"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 100)
            .select("l_returnflag", "l_orderkey", "l_linenumber"))


@register(
    "d100_changelog_compact",
    oracle="""
WITH log AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error'  THEN 'D'
                ELSE 'U' END AS op,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
), ranked AS (
    SELECT user_id, ts, op, cents,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM log
)
SELECT user_id, op AS last_op, cents AS last_cents,
       CAST(ts AS TIMESTAMP) AS last_ts
FROM ranked WHERE rn = 1 AND op <> 'D'
""",
    tags=("engine", "cdc", "compaction"),
)
def d100_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction — materialize current state from an
    insert/update/delete log by LAST-WRITE-WINS per key, dropping keys
    whose final operation is a delete (the Kafka-compacted-topic /
    Debezium-snapshot semantics; e38's MERGE maintains an AGGREGATE, this
    maintains row state). The log is synthesized from events (signup→I,
    error→D, else U) ordered by the total (ts, event_id) key, so the
    compaction is deterministic under shuffle.

    100 TB: one shuffle on the key; the rank-1 filter plans as
    WindowGroupLimit, so each task keeps ONE row per key in its partial
    sort — compacting a year of changelog never materializes more than
    the distinct-key state, which is exactly how a compacted topic or a
    Paimon/Hudi LSM compaction behaves. Tombstones drop at the end,
    map-side."""
    ev = table(spark, sf_dir, "events")
    op = (F.when(F.col("event_type") == "signup", "I")
          .when(F.col("event_type") == "error", "D")
          .otherwise("U"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    return (ev.select("user_id", "ts", "event_id", op.alias("op"),
                      F.floor(F.col("value") * 100).cast("bigint")
                      .alias("cents"))
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("user_id", F.col("op").alias("last_op"),
                    F.col("cents").alias("last_cents"),
                    F.col("ts").cast("timestamp").alias("last_ts")))


@register(
    "d101_snapshot_diff",
    oracle="""
WITH log AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error'  THEN 'D'
                ELSE 'U' END AS op,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
), snap_a AS (
    SELECT user_id, cents FROM (
        SELECT user_id, op, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log WHERE ts < TIMESTAMP '2024-01-15'
    ) WHERE rn = 1 AND op <> 'D'
), snap_b AS (
    SELECT user_id, cents FROM (
        SELECT user_id, op, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
    ) WHERE rn = 1 AND op <> 'D'
)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       CASE WHEN a.user_id IS NULL THEN 'added'
            WHEN b.user_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       a.cents AS a_cents, b.cents AS b_cents
FROM snap_a a FULL JOIN snap_b b ON a.user_id = b.user_id
WHERE a.user_id IS NULL OR b.user_id IS NULL OR a.cents <> b.cents
""",
    tags=("engine", "cdc", "reconciliation", "join"),
)
def d101_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RECONCILIATION — the diff report between two materialized
    versions of the same keyed state (here: d100's changelog compaction as
    of Jan 15 vs end of month): per key, ``added`` / ``removed`` /
    ``changed`` with both sides' values; unchanged keys are dropped. This
    is the audit every pipeline migration runs ("what did the new version
    change?") and the incremental-publish planner ("which rows need
    rewriting?").

    100 TB: both snapshots compact with WindowGroupLimit (d100's shape)
    and the FULL OUTER join shares the same user_id hash partitioning, so
    the whole diff is one co-partitioned pass — no re-shuffle between the
    compactions and the join; the unchanged-key filter drops the bulk of
    the output before it leaves the join stage."""
    ev = table(spark, sf_dir, "events")
    op = (F.when(F.col("event_type") == "signup", "I")
          .when(F.col("event_type") == "error", "D")
          .otherwise("U"))
    log = ev.select("user_id", "ts", "event_id", op.alias("op"),
                    F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").desc(), F.col("event_id").desc()))

    def compact(df):
        return (df.withColumn("rn", F.row_number().over(w))
                .filter((F.col("rn") == 1) & (F.col("op") != "D"))
                .select("user_id", "cents"))

    snap_a = compact(log.filter(
        F.col("ts") < F.lit("2024-01-15").cast("timestamp"))) \
        .withColumnsRenamed({"user_id": "a_user", "cents": "a_cents"})
    snap_b = compact(log) \
        .withColumnsRenamed({"user_id": "b_user", "cents": "b_cents"})
    j = snap_a.join(snap_b, snap_a["a_user"] == snap_b["b_user"], "full")
    status = (F.when(F.col("a_user").isNull(), "added")
              .when(F.col("b_user").isNull(), "removed")
              .otherwise("changed"))
    return (j.filter(F.col("a_user").isNull() | F.col("b_user").isNull()
                     | (F.col("a_cents") != F.col("b_cents")))
            .select(F.coalesce("a_user", "b_user").alias("user_id"),
                    status.alias("status"), "a_cents", "b_cents"))
