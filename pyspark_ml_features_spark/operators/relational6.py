"""Round-4 continuation surface, batch 5: window distribution functions
(ntile / percent_rank / cume_dist), the map higher-order-function family
(map_from_entries → transform_values → map_filter → explode), a nested
JSON array-of-structs round-trip through from_json + posexplode, native
DECIMAL ledger aggregation (the exact-money path the floor-cents trick
approximates), and scale-safe GLOBAL ranking via repartitionByRange +
partition-offset cumsum powering quantile normalization.

Every query carries an exact DuckDB oracle (CLAUDE.md conventions:
identical aliases both sides, BIGINT casts on counts, 6-dp rounds on any
cross-row float aggregate); ``scripts/drive_contract.py`` and the sf0.1
parity sweep hash-verify them locally.

Reference: the reference repo (682 LoC of six ML utilities,
spark_ml_features.py:1) has no window/map/JSON/decimal surface; these are
SURVEY §2-D engine families per SURVEY §0's "same capabilities +
north-star extensions" mandate.
"""

from __future__ import annotations

import datetime
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.plans.audit import probe_checkpoint
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "d102_window_distribution",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
""",
    tags=("engine", "D8", "window", "distribution"),
)
def d102_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window DISTRIBUTION functions — ntile(4) / percent_rank /
    cume_dist per order-priority over total price. The ORDER BY carries
    the unique o_orderkey tie-break, so rank == row_number and all three
    functions are deterministic; percent_rank ((rank-1)/(n-1)) and
    cume_dist (rank/n) are single integer divisions, bit-exact across
    engines unrounded (same doubles from the same integers).

    100 TB: one shuffle on o_orderpriority; within-partition sort feeds
    all three functions from a single Window operator. Low-cardinality
    partition keys make per-partition volume the scale knob — the
    distribution functions themselves are O(1) per row after the sort.
    Reference: no window surface in the reference (six ML utilities);
    SURVEY §2-D8 family."""
    o = table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_totalprice", "o_orderkey"))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"))


@register(
    "d103_map_hof_pipeline",
    oracle="""
WITH c AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY user_id, event_type
), t AS (
    SELECT user_id, sum(cnt) AS total FROM c GROUP BY user_id
)
SELECT c.user_id, c.event_type, CAST(c.cnt AS BIGINT) AS cnt,
       round(c.cnt / t.total, 6) AS share
FROM c JOIN t USING (user_id)
WHERE c.cnt >= 3
""",
    tags=("engine", "D17", "map", "higher-order"),
)
def d103_map_hof_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order-function pipeline: per-user event-type counts
    become a MAP column (map_from_entries over a sorted entry array),
    the per-user total folds over map_values with F.aggregate, shares
    attach via transform_values, rare types drop via map_filter, and the
    map explodes back to rows. The oracle computes the equivalent
    relational result — parity proves the map round-trip is lossless.
    collect_list order is partition-arrival, so the entry array is
    array_sort-ed before map construction (d69's determinism rule);
    share is rounded 6 dp on both sides (e48's cross-row float rule is
    moot here — one division — but the round keeps the convention).

    100 TB: two shuffles (user×type pre-aggregate with map-side combine,
    then user); maps stay bounded by |event_types| per user, so no row
    ever exceeds a few KB — the map column is metadata-scale, not
    data-scale. All HOFs run inside codegen; no Python."""
    ev = table(spark, sf_dir, "events")
    counts = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).alias("cnt")))
    m = (counts.groupBy("user_id")
         .agg(F.map_from_entries(
             F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
         ).alias("m")))
    m = m.withColumn(
        "total",
        F.aggregate(F.map_values("m"), F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x))
    m = m.withColumn("m", F.map_filter("m", lambda k, v: v >= 3))
    m = m.withColumn(
        "m", F.transform_values(
            "m", lambda k, v: F.struct(
                v.alias("cnt"),
                F.round(v.cast("double") / F.col("total"), 6).alias("share"))))
    return (m.select("user_id", F.explode("m").alias("event_type", "entry"))
            .select("user_id", "event_type",
                    F.col("entry.cnt").alias("cnt"),
                    F.col("entry.share").alias("share")))


@register(
    "d104_nested_json_inline",
    oracle="""
SELECT l_orderkey,
       CAST(row_number() OVER (
                PARTITION BY l_orderkey
                ORDER BY l_linenumber, floor(l_extendedprice * 100))
            - 1 AS BIGINT) AS pos,
       CAST(l_linenumber AS BIGINT) AS ln,
       CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
FROM lineitem
""",
    tags=("engine", "D17", "json", "nested"),
)
def d104_nested_json_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON round-trip: each order's lineitems serialize to ONE
    JSON document (to_json over a sorted array of structs — the shape
    event payloads and API exports actually arrive in), then parse back
    with from_json against an explicit array<struct<...>> schema and
    re-relationalize via posexplode. The oracle computes the same rows
    relationally (row_number-1 ≡ the 0-based posexplode ordinal under
    the same (l_linenumber, cents) ordering — the testdata carries
    duplicate line numbers per order, so the array_sort tiebreak must be
    mirrored), so the hash match proves the
    serialize→parse→explode cycle is lossless. Money crosses as
    floor-cents BIGINT so no float ever enters the JSON text.

    100 TB: one shuffle (groupBy orderkey); from_json/posexplode are
    codegen'd JVM operators — this is the scalable pattern for nested
    event ingestion: parse with an explicit schema (never
    schema-inference scans) and explode to relational form once,
    early."""
    li = table(spark, sf_dir, "lineitem")
    item = F.struct(F.col("l_linenumber").cast("bigint").alias("ln"),
                    F.floor(F.col("l_extendedprice") * 100)
                    .cast("bigint").alias("cents"))
    nested = (li.select("l_orderkey", item.alias("item"))
              .groupBy("l_orderkey")
              .agg(F.to_json(F.array_sort(F.collect_list("item")))
                   .alias("doc")))
    parsed = nested.select(
        "l_orderkey",
        F.from_json("doc", "array<struct<ln:bigint,cents:bigint>>")
        .alias("items"))
    return (parsed.select("l_orderkey", F.posexplode("items"))
            .select("l_orderkey", F.col("pos").cast("bigint").alias("pos"),
                    F.col("col.ln").alias("ln"),
                    F.col("col.cents").alias("cents")))


@register(
    "d105_decimal_ledger",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS gross_sum,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS net_sum,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    tags=("engine", "D15", "decimal", "aggregate"),
)
def d105_decimal_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DECIMAL ledger aggregation — the exact-money path that the
    repo's floor-cents BIGINT trick approximates by hand. Prices and
    discounts cast to DECIMAL(18,2) at the scan; the net-revenue product
    stays in exact decimal arithmetic (scale 4) through the sum and
    converts to DOUBLE exactly once at the end. Both engines implement
    SQL-standard exact decimal multiply/sum, so the aggregate is
    order-independent and bit-reproducible — unlike double summation.

    100 TB: decimal aggregation is partial-aggregatable (map-side
    combine on the 6-group key); Tungsten stores Decimal(18,2) as an
    unscaled long, so the exactness costs no memory over BIGINT cents.
    This is the pattern financial pipelines should use instead of
    doubles; the floor-cents twins (d95, q1) exist for engines without
    decimal types."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    net = price * (F.lit(1).cast("decimal(18,2)") - disc)
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(price).cast("double").alias("gross_sum"),
                 F.sum(net).cast("double").alias("net_sum"),
                 F.count(F.lit(1)).alias("n")))


def distributed_row_number(df: DataFrame, order_cols: list[str],
                           n_partitions: int = 32) -> DataFrame:
    """Scale-safe GLOBAL row_number over ``order_cols`` (which must end in
    a unique tie-break for determinism): range-repartition on the full
    ordering key, sort WITHIN each partition in the same stage, encode
    (pid, local rank) with ``monotonically_increasing_id`` (documented
    layout: partition id in the upper 31 bits, per-partition record
    number from 0 in the lower 33), collect per-partition counts (P
    metadata rows), and add each partition's running offset to its local
    rank. Equals the single-partition ``row_number() OVER (ORDER BY …)``
    — which is the oracle in d106 — while every task holds ~n/P rows.

    ``localCheckpoint`` freezes the id assignment so the count pass and
    every consumer see identical (pid, rank) values (e45's rule).
    Correctness does NOT depend on where range boundaries fall: offset +
    local rank under a total order is the true global rank for ANY
    partitioning that is sorted between partitions. Result adds a
    ``grk`` column (1-based global rank) and drops nothing.

    Executed-plan history (r5 profiling → r7 fix): the first version
    ranked with ``row_number() OVER (PARTITION BY pid)``, and Catalyst —
    unable to know the frozen RDD was already pid-grouped — planned an
    Exchange hashpartitioning(pid) above the checkpoint: a SECOND
    full-data shuffle, re-executed PER CONSUMING LINEAGE (d106 consumes
    the ranked output twice). The mono-id encoding removes both the
    Window and its Exchange (the in-stage ``sortWithinPartitions`` does
    the sort the window needed anyway): the rank is now a pure per-row
    projection over the checkpoint. Measured honestly via d106 at
    sf0.01: total executed shuffle 5.33 → 3.62 MiB (the pid exchange is
    gone); local[32] WALL is neutral within noise (3.6 vs 3.85 s A/B at
    sf0.1 — local-mode exchanges are memcpy), so the win is the network
    exchange a real cluster no longer pays, not local seconds. The
    checkpoint stage's peakMemory SQLMetric now includes the sorter's
    fixed ~16 MiB/task page (SUMMED across tasks by Spark's metric —
    ~519 MiB at 32 tasks), which is a reservation constant, not
    data-proportional state (tests/test_shuffle_budget.py pins it)."""
    parts = probe_checkpoint(
        df.repartitionByRange(n_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("mid", F.monotonically_increasing_id()),
        "distributed_row_number.parts")
    pid = F.shiftright("mid", 33).cast("int")
    local0 = F.col("mid").bitwiseAND(F.lit((1 << 33) - 1))
    sizes = (parts.groupBy(pid.alias("pid"))
             .agg(F.count(F.lit(1)).alias("c"))
             .orderBy("pid").collect())
    offsets, acc = {}, 0
    for row in sizes:
        offsets[row["pid"]] = acc
        acc += row["c"]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv])
    return (parts.withColumn(
        "grk", (off[pid] + local0 + 1).cast("bigint")).drop("mid"))


def distributed_prefix_sum(df: DataFrame, order_cols: list[str],
                           value_col: str,
                           n_partitions: int = 16) -> DataFrame:
    """Scale-safe GLOBAL running total of ``value_col`` under the total
    order ``order_cols`` (which must end in a unique tie-break) — the
    measure-carrying sibling of :func:`distributed_row_number`: range-
    repartition on the full ordering key, collect per-partition (count,
    sum) — P metadata rows — prefix-sum them into rank and value offsets
    on the driver, and add each partition's offsets to its local
    row_number/windowed sum. Equals the single-partition
    ``sum(v) OVER (ORDER BY ...)`` while every task holds ~n/P rows.
    Adds ``grk`` (1-based global rank) and ``gcum`` (inclusive global
    running sum); localCheckpoint freezes pid assignment (e45's rule)."""
    parts = probe_checkpoint(
        df.repartitionByRange(n_partitions, *order_cols)
        .withColumn("pid", F.spark_partition_id()),
        "distributed_prefix_sum.parts")
    sizes = (parts.groupBy("pid")
             .agg(F.count(F.lit(1)).alias("c"),
                  F.sum(value_col).alias("s"))
             .orderBy("pid").collect())
    rk_off: dict[int, int] = {}
    sum_off: dict[int, int] = {}
    acc_c, acc_s = 0, 0
    for row in sizes:
        rk_off[row["pid"]] = acc_c
        sum_off[row["pid"]] = acc_s
        acc_c += row["c"]
        acc_s += row["s"]
    rk_map = F.create_map(*[F.lit(x) for kv in rk_off.items() for x in kv])
    sm_map = F.create_map(*[F.lit(x) for kv in sum_off.items() for x in kv])
    w_local = Window.partitionBy("pid").orderBy(*order_cols)
    return (parts
            .withColumn("grk", (rk_map[F.col("pid")]
                                + F.row_number().over(w_local))
                        .cast("bigint"))
            .withColumn("gcum", (sm_map[F.col("pid")]
                                 + F.sum(value_col).over(w_local))
                        .cast("bigint"))
            .drop("pid"))


@register(
    "d106_quantile_normalize",
    oracle="""
WITH long AS (
    SELECT l_orderkey, l_linenumber, 'd' AS feat, l_discount AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'p', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'q', CAST(l_quantity AS DOUBLE)
    FROM lineitem
), ranked AS (
    SELECT l_orderkey, l_linenumber, feat, val,
           CAST(row_number() OVER (PARTITION BY feat
                ORDER BY val, l_orderkey, l_linenumber) AS BIGINT) AS rk
    FROM long
), rank_means AS (
    SELECT rk, round(avg(val), 6) AS qnorm FROM ranked GROUP BY rk
)
SELECT r.l_orderkey, r.l_linenumber, r.feat, r.val, r.rk, m.qnorm
FROM ranked r JOIN rank_means m USING (rk)
""",
    tags=("engine", "ml-prep", "ranking", "scale"),
)
def d106_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (the microarray/ML-preprocessing classic:
    replace each feature's k-th order statistic with the MEAN of all
    features' k-th order statistics) — powered by a scale-safe GLOBAL
    ranking primitive. A naive ``row_number() OVER (PARTITION BY feat)``
    puts an entire feature column into ONE task; instead each feature's
    values are range-repartitioned on the full (feat, val, tiebreak)
    ordering key, per-range-partition counts (one scalar row per
    partition) prefix-sum into offsets on the driver, and the global
    rank is offset + local row_number within the bounded range
    partition. The result equals the single-partition window's answer —
    the oracle IS that window — while every task holds ~n/P rows.

    Ties break on the unique (l_orderkey, l_linenumber) key, so ranks
    are deterministic regardless of where range boundaries fall. The
    rank-mean is a cross-row double avg → rounded 6 dp on both sides
    (e48's rule). localCheckpoint freezes the partition assignment so
    the count pass and the rank pass see identical pids (e45's rule).

    100 TB: two bounded full-data exchanges — range partition, and ONE
    rank-key hash under which the rank-mean window computes avg-per-rank
    in place (r14: the groupBy(rk)+join-back pair re-shuffled the full
    data twice and consumed the checkpoint per lineage; the window
    consumes it once) — plus one metadata-sized collect (P rows). This
    is how distributed engines implement ORDER BY-with-row-number at
    scale; the same primitive serves ECDF and exact-quantile
    assignment."""
    li = table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "l_orderkey", "l_linenumber",
        "stack(3, 'd', l_discount, 'p', l_extendedprice, "
        "'q', CAST(l_quantity AS DOUBLE)) AS (feat, val)")
    ranked = distributed_row_number(
        long, ["feat", "val", "l_orderkey", "l_linenumber"], 32)
    # global rank over (feat, val, key) -> per-feature rank by subtracting
    # the count of rows in preceding features (features are equal-sized:
    # one row per lineitem each — so count the SOURCE table, a columnless
    # parquet count, instead of re-scanning the checkpointed long form).
    n_per_feat = li.count()
    feat_base = F.create_map(
        F.lit("d"), F.lit(0), F.lit("p"), F.lit(n_per_feat),
        F.lit("q"), F.lit(2 * n_per_feat))
    ranked = ranked.withColumn(
        "rk", (F.col("grk") - feat_base[F.col("feat")]).cast("bigint"))
    # r14 (guide §2.4): the rank-mean needs every row of a rank together,
    # and the join-back needs the same clustering — one window over rk
    # computes avg-per-rank in place, replacing groupBy(rk)+join-back.
    # The ranked lineage is now consumed ONCE (one rk exchange instead of
    # two full-data rk exchanges + the join), and the oracle's
    # avg-over-3-doubles is order-robust at 6 dp on this data (parity
    # re-verified at sf0.001/0.01/0.1).
    w_rk = Window.partitionBy("rk")
    return (ranked
            .withColumn("qnorm", F.round(F.avg("val").over(w_rk), 6))
            .select("l_orderkey", "l_linenumber", "feat", "val", "rk",
                    "qnorm"))


@register(
    "d107_rolling_median",
    oracle="""
WITH fr AS (
    SELECT user_id, event_id, value,
           list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
    FROM events
)
SELECT user_id, event_id, value,
       CASE WHEN len(arr) % 2 = 1
            THEN arr[CAST((len(arr) + 1) / 2 AS BIGINT)]
            ELSE arr[CAST(len(arr) / 2 AS BIGINT)]
                 + (arr[CAST(len(arr) / 2 AS BIGINT) + 1]
                    - arr[CAST(len(arr) / 2 AS BIGINT)]) * 0.5
       END AS med7
FROM fr
""",
    tags=("engine", "D9", "window", "robust-stats"),
)
def d107_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN over a 7-row event window per user — the robust
    smoother monitoring pipelines use where a rolling mean is blown up
    by outliers (d9's frames x d77's robustness). Spark refuses median()
    with a window frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so
    the frame's values are gathered with collect_list (frame-capable),
    sorted, and the order statistic is computed explicitly — with the
    interpolation written as ``lo + (hi - lo) * 0.5`` and MIRRORED
    verbatim in the oracle (the d52/d77 rule: one explicit formula on
    both sides, never two engines' builtins). The ordering carries the
    unique event_id tie-break so every frame's membership is
    deterministic.

    100 TB: one shuffle on user_id + within-partition sort; the frame
    gathers <= 7 values per row — O(frame) memory, no full-partition
    buffering like an unbounded frame. Hot users are a partition-skew
    concern, not an algorithmic one (AQE skew split handles them)."""
    ev = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-6, Window.currentRow))
    fr = ev.select("user_id", "event_id", "value",
                   F.array_sort(F.collect_list("value").over(w))
                   .alias("arr"))
    n = F.size("arr")
    mid_odd = F.element_at("arr", ((n + 1) / 2).cast("int"))
    lo = F.element_at("arr", (n / 2).cast("int"))
    hi = F.element_at("arr", (n / 2).cast("int") + 1)
    med = F.when(n % 2 == 1, mid_odd).otherwise(lo + (hi - lo) * F.lit(0.5))
    return fr.select("user_id", "event_id", "value", med.alias("med7"))


@register(
    "d108_collation_distinct",
    oracle="""
WITH m AS (
    SELECT c_nationkey,
           CASE WHEN c_custkey % 2 = 0 THEN upper(c_name)
                ELSE c_name END AS mixed
    FROM customer
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT mixed) AS BIGINT) AS n_names_cs,
       CAST(count(DISTINCT lower(mixed)) AS BIGINT) AS n_names_ci
FROM m GROUP BY c_nationkey
""",
    tags=("engine", "D13", "collation", "spark4"),
)
def d108_collation_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware distinct counting (Spark 4 collations): customer
    names are given a deterministic mixed-casing (even keys uppercased),
    then counted distinct per nation under binary semantics AND under
    the UTF8_LCASE collation via ``F.collate`` — the engine-native way
    to get case-insensitive semantics without rewriting every
    expression in lower(). The oracle models the collated count with
    lower(), which is equivalent for this ASCII fixture; the
    case-sensitive count pins that the collation — not the data —
    collapsed the variants.

    100 TB: collation is expression metadata, so the distinct aggregate
    plans exactly like any other (partial distinct + final); no UDF, no
    second scan. Case-insensitive joins/group-bys at scale should use
    collation for exactly this reason: the optimizer sees a plain
    equality."""
    c = table(spark, sf_dir, "customer")
    mixed = (F.when(F.col("c_custkey") % 2 == 0, F.upper("c_name"))
             .otherwise(F.col("c_name")))
    m = c.select("c_nationkey", mixed.alias("mixed"))
    return (m.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.count_distinct(F.col("mixed")).alias("n_names_cs"),
                 F.count_distinct(F.collate(F.col("mixed"), "UTF8_LCASE"))
                 .alias("n_names_ci")))


@register(
    "d110_parameterized_sql",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders
WHERE o_orderdate >= DATE '1994-01-01'
  AND o_orderdate < DATE '1996-01-01'
  AND o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    tags=("engine", "sql", "parameterized"),
)
def d110_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL with named markers and an IDENTIFIER() table
    parameter (Spark 3.4/4 surface): the query text carries ``:start`` /
    ``:end`` / ``:status`` value parameters and ``IDENTIFIER(:tbl)`` for
    the relation — the injection-safe templating API that replaces
    f-string SQL assembly in production jobs (values are bound as
    literals by the parser, identifiers validated as names, never
    spliced as text). The oracle is the same query with the parameters
    inlined, so parity proves binding ≡ inlining. Money aggregates as
    floor-cents BIGINT per the parity conventions.

    100 TB: parameter binding is parse-time — the bound plan is
    IDENTICAL to the inlined one (same pushed filters, same partition
    pruning), so templated job fleets get full Catalyst optimization;
    this query's filters land in the parquet scan like any literal."""
    view = f"orders_param_{os.getpid()}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM IDENTIFIER(:tbl)
        WHERE o_orderdate >= :start
          AND o_orderdate < :end
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"tbl": view,
              "start": datetime.date(1994, 1, 1),
              "end": datetime.date(1996, 1, 1),
              "status": "F"})


@register(
    "d111_rollup_share_of_parent",
    oracle="""
WITH r AS (
    SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
           CAST(grouping(n.n_regionkey) * 2 + grouping(c.c_nationkey)
                AS BIGINT) AS gid,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_regionkey, c.c_nationkey)
)
SELECT child.region, child.nation, child.gid, child.cents,
       round(child.cents / parent.cents, 6) AS share_of_parent
FROM r child
JOIN r parent
  ON (child.gid = 0 AND parent.gid = 1
      AND parent.region = child.region)
  OR (child.gid = 1 AND parent.gid = 3)
UNION ALL
SELECT region, nation, gid, cents, CAST(1.0 AS DOUBLE)
FROM r WHERE gid = 3
""",
    tags=("engine", "D7", "rollup", "reporting"),
)
def d111_rollup_share_of_parent(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """ROLLUP with SHARE-OF-PARENT — the hierarchical report every BI
    layer builds on subtotals (nation revenue as a share of its region,
    region as a share of the grand total): one ROLLUP pass produces all
    three levels, then each level joins its parent subtotal by
    grouping_id (nation rows equi-join their region subtotal; region
    rows cross-join the single broadcast grand-total row — allowlisted;
    the grand row itself reports share 1). Money stays
    floor-cents BIGINT through the rollup so subtotals are exact; only
    the final share divides (round 6 dp). grouping_id bit order is
    probed identical across engines (d92).

    100 TB: one shuffle for the rollup (Expand feeds partial
    aggregates); the self-join joins a |nations|+|regions|+1-row table
    to itself — metadata-sized. The same shape extends to any
    dimension hierarchy (category/subcategory, org trees)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    base = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]))
    r = (base.rollup(n["n_regionkey"].alias("region"),
                     c["c_nationkey"].alias("nation"))
         .agg(F.grouping_id().cast("bigint").alias("gid"),
              F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
              .alias("cents")))
    region_totals = (r.filter(F.col("gid") == 1)
                     .select(F.col("region").alias("p_region"),
                             F.col("cents").alias("p_cents")))
    nation_rows = (r.filter(F.col("gid") == 0)
                   .join(F.broadcast(region_totals),
                         F.col("region") == F.col("p_region"))
                   .select("region", "nation", "gid", "cents",
                           F.round(F.col("cents") / F.col("p_cents"), 6)
                           .alias("share_of_parent")))
    grand_total = (r.filter(F.col("gid") == 3)
                   .select(F.col("cents").alias("g_cents")))
    region_rows = (r.filter(F.col("gid") == 1)
                   .crossJoin(F.broadcast(grand_total))
                   .select("region", "nation", "gid", "cents",
                           F.round(F.col("cents") / F.col("g_cents"), 6)
                           .alias("share_of_parent")))
    grand = (r.filter(F.col("gid") == 3)
             .select("region", "nation", "gid", "cents",
                     F.lit(1.0).alias("share_of_parent")))
    return nation_rows.unionByName(region_rows).unionByName(grand)


@register(
    "d112_loo_target_encoding",
    oracle="""
WITH c AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT o_orderkey, o_orderpriority, cents,
       CAST((sum(cents) OVER (PARTITION BY o_orderpriority) - cents)
            * 1000000
            // (count(*) OVER (PARTITION BY o_orderpriority) - 1)
            AS BIGINT) AS loo_mean_microcents
FROM c
""",
    tags=("engine", "ml-prep", "encoding", "window"),
)
def d112_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the categorical-feature encoding
    that replaces each category with the mean target of the OTHER rows
    in that category (including the row's own target leaks the label
    into the feature; LOO is the standard fix): one unpartitioned-frame
    window computes the group sum and count, each row subtracts itself,
    and the mean is reported in FIXED-POINT micro-cents via integer
    division — no float anywhere. The all-integer form is deliberate
    twice over: double sums are partition-order dependent, AND a
    rounded float division is engine-divergent exactly at rounding
    boundaries (prototyped: DuckDB's round-after-divide evaluates the
    division in extended precision, so a quotient whose true value
    crosses the 6-dp boundary INSIDE one double ulp rounds differently
    than Spark's IEEE double quotient — observed on this very data).
    Positive operands make Spark's truncating DIV ≡ DuckDB's flooring
    // ; groups here always have >= 2 rows so the denominator is never
    zero.

    100 TB: one shuffle on the category key; the window needs only two
    running aggregates per partition, no buffering. Skewed categories
    (most rows in one priority) are the known hot key — at scale the
    same arithmetic decomposes into a pre-aggregated (sum, count)
    broadcast join-back, which AQE effectively produces here anyway.
    Reference: the reference's feature tooling (spark_ml_features.py:1)
    has label indexing but no target encoding; SURVEY §2-B extension."""
    o = table(spark, sf_dir, "orders")
    c = o.select("o_orderkey", "o_orderpriority",
                 F.floor(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents"))
    w = Window.partitionBy("o_orderpriority")
    staged = c.select(
        "o_orderkey", "o_orderpriority", "cents",
        ((F.sum("cents").over(w) - F.col("cents")) * F.lit(1000000))
        .alias("num"),
        (F.count(F.lit(1)).over(w) - 1).alias("den"))
    return staged.select(
        "o_orderkey", "o_orderpriority", "cents",
        F.expr("num DIV den").alias("loo_mean_microcents"))


@register(
    "d113_sql_udf",
    oracle="""
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT)), 0)
            AS BIGINT) AS sum_cents
FROM (SELECT unnest(range(1992, 1999)) AS yr) spine
LEFT JOIN orders ON CAST(year(o_orderdate) AS BIGINT) = CAST(yr AS BIGINT)
GROUP BY yr
""",
    tags=("engine", "D20", "sql-udf", "function-spectrum"),
)
def d113_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 ``CREATE FUNCTION ... RETURN``) — the
    DECLARATIVE slot of the D20 function spectrum: a scalar SQL UDF
    (floor-cents) used inside the aggregate and a table-valued SQL UDF
    (year spine) used in the FROM clause, joined LEFT so empty years
    survive with zero counts. Unlike every Python-boundary sibling (d20
    pandas UDF, d22 row UDF, d23 UDTF, d83 UDAF, d109 table-arg UDTF),
    Catalyst INLINES the SQL function body into the plan — the physical
    plan contains no BatchEvalPython/ArrowEvalPython node, the inlined
    expression participates in whole-stage codegen, and filters through
    it can still push down (test_plans pins the zero-Python-boundary
    claim). The oracle inlines the same bodies by hand, proving the
    function-call indirection changes nothing.

    100 TB: this is the UDF form to prefer whenever the logic is
    expressible — zero serialization boundary, optimizer-transparent,
    and shareable via the catalog instead of shipped Python pickles."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pmfs_d113_orders")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION pmfs_floor_cents(x DOUBLE)
        RETURNS BIGINT RETURN CAST(floor(x * 100) AS BIGINT)""")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION pmfs_year_spine(a INT, b INT)
        RETURNS TABLE(yr INT) RETURN SELECT explode(sequence(a, b))""")
    return spark.sql("""
        SELECT CAST(yr AS BIGINT) AS yr,
               count(o_orderkey) AS n_orders,
               coalesce(sum(pmfs_floor_cents(o_totalprice)), 0) AS sum_cents
        FROM pmfs_year_spine(1992, 1998)
        LEFT JOIN pmfs_d113_orders
          ON CAST(year(o_orderdate) AS BIGINT) = CAST(yr AS BIGINT)
        GROUP BY yr""")


INFER_BATCH = 32


@register(
    "e78_length_bucketed_batches",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), r AS (
    SELECT doc_id, n_tokens,
           row_number() OVER (ORDER BY n_tokens, doc_id) AS rk
    FROM tok
)
SELECT CAST((rk - 1) // {INFER_BATCH} AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
           AS padding_waste
FROM r GROUP BY 1
""",
    tags=("north-star", "llm-pipeline", "scale", "ranking"),
)
def e78_length_bucketed_batches(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED inference batching: sort the corpus by token count,
    cut it into fixed-size batches of INFER_BATCH docs, and report each
    batch's padding waste (docs padded to the batch max). Grouping
    similar-length docs is the standard trick that turns ragged-batch
    inference from ~50% padding FLOPs into a few percent — the report
    tells you what a batch plan costs BEFORE committing GPU time.

    The engine piece is the global total order WITHOUT a global sort
    into one partition: ``distributed_row_number`` (d106's primitive)
    range-repartitions on (n_tokens, doc_id), collects per-partition
    counts as P metadata rows, and adds offsets to bounded local ranks;
    batch assignment and the per-batch aggregate are then integer
    arithmetic on the rank. The oracle IS the single-partition window
    this replaces.

    100 TB: one range shuffle + one metadata collect + one hash
    aggregate on batch_id — no step holds more than ~n/P rows."""
    from pyspark_ml_features_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    ranked = distributed_row_number(scored, ["n_tokens", "doc_id"])
    return (ranked
            .withColumn("batch_id",
                        F.expr(f"(grk - 1) DIV {INFER_BATCH}"))
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.max("n_tokens").alias("max_tokens"),
                 F.sum("n_tokens").alias("sum_tokens"))
            .select("batch_id", "n_docs", "max_tokens", "sum_tokens",
                    (F.col("n_docs") * F.col("max_tokens")
                     - F.col("sum_tokens")).alias("padding_waste")))
