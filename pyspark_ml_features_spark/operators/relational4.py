"""Round-4 continuation surface: the relational families still missing
after the r4 window filled — the last expressible TPC-H shape (Q12 on
this schema), null-safe joins, schema-drift UNION BY NAME, the salted
skew-aggregation rewrite, and deterministic hash-based sampling.

Every query carries an exact DuckDB oracle (CLAUDE.md conventions:
identical aliases both sides, integer-exact measures via floor→BIGINT,
count(*) cast BIGINT); `scripts/drive_contract.py` and the sf0.1 parity
sweep hash-verify them locally.

Reference: the reference repo (682 LoC of six ML utilities,
spark_ml_features.py:1) has no relational surface; these are SURVEY §2-D
engine families per SURVEY §0's "same capabilities + north-star
extensions" mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "d86_tpch_q12",
    oracle=f"""
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN {_HIGH} THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN {_HIGH} THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('A', 'R')
  AND l_shipdate >= DATE '1996-01-01'
  AND l_shipdate <  DATE '1997-01-01'
  AND l_shipdate > o_orderdate
GROUP BY l_returnflag
""",
    tags=("engine", "tpch", "join"),
)
def d86_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode / order-priority) adapted to this schema:
    the synthetic lineitem has no l_shipmode/l_commitdate/l_receiptdate
    (TESTDATA.md), so l_returnflag stands in for the mode classes and
    ``l_shipdate > o_orderdate`` for the late-commit predicate — the query
    SHAPE (selective fact filter → fact⋈fact equi-join → two conditional
    sums per class) is Q12's. This completes the TPC-H coverage that this
    schema can express: Q2/Q11/Q16/Q20 need the partsupp table, which the
    driver's testdata does not ship.

    100 TB: both filters reach the lineitem scan (PushedFilters: returnflag
    IN + shipdate range prunes ~5/6 of rows before the join); the join
    shuffles only the filtered year slice on l_orderkey; the conditional
    sums partial-aggregate map-side down to two rows per class."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lif = li.filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date")))
    j = o.join(lif, (o["o_orderkey"] == lif["l_orderkey"])
               & (lif["l_shipdate"] > o["o_orderdate"]))
    is_high = F.col("o_orderpriority").isin(*_HIGH)
    return (j.groupBy(F.col("l_returnflag").alias("ship_class"))
            .agg(F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count")))


@register(
    "d87_null_safe_join",
    oracle="""
WITH facts AS (
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_nationkey END AS nk
    FROM customer
), dim AS (
    SELECT n_nationkey AS dk, n_name FROM nation
    UNION ALL
    SELECT NULL, 'UNMATCHED'
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       min(c_custkey) AS min_custkey
FROM facts JOIN dim ON nk IS NOT DISTINCT FROM dk
GROUP BY n_name
""",
    tags=("engine", "join", "null-safety"),
)
def d87_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (``<=>`` ≡ SQL ``IS NOT DISTINCT FROM``): facts
    with NULL keys (synthesized from the negative-balance sentinel, the d28
    convention) still land on a catch-all dimension row instead of being
    silently dropped — the standard dirty-dimension-key pattern. Spark
    accepts ``eqNullSafe`` as a HASH-join key (EqualNullSafe is a valid
    equi-join expression), so this stays a BroadcastHashJoin, not BNLJ.

    100 TB: dim is 26 rows → broadcast; facts never shuffle; the NULL key
    needs no special-casing because <=> hashes NULL like any other value
    (no NULL-skew partition, unlike an outer join on a nullable key)."""
    c = table(spark, sf_dir, "customer")
    facts = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("int"))
         .otherwise(F.col("c_nationkey")).alias("nk"))
    n = table(spark, sf_dir, "nation")
    dim = (n.select(F.col("n_nationkey").cast("int").alias("dk"), "n_name")
           .unionByName(spark.range(1).select(
               F.lit(None).cast("int").alias("dk"),
               F.lit("UNMATCHED").alias("n_name"))))
    j = facts.join(F.broadcast(dim), facts["nk"].eqNullSafe(dim["dk"]))
    return (j.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.min("c_custkey").alias("min_custkey")))


@register(
    "d88_union_by_name",
    oracle="""
WITH b1 AS (
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderdate >= DATE '1994-01-01'
                  AND o_orderdate <  DATE '1995-01-01'
), b2 AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders WHERE o_orderdate >= DATE '1995-01-01'
                  AND o_orderdate <  DATE '1996-01-01'
), u AS (
    SELECT * FROM b1 UNION ALL BY NAME SELECT * FROM b2
)
SELECT coalesce(o_orderpriority, '(missing)') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(o_custkey) AS BIGINT) AS n_with_custkey,
       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total_floor
FROM u
GROUP BY coalesce(o_orderpriority, '(missing)')
""",
    tags=("engine", "union", "schema-evolution"),
)
def d88_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift UNION: two ingest batches whose column SETS and ORDER
    differ (an old batch without o_orderpriority, a new one without
    o_custkey) combined with ``unionByName(allowMissingColumns=True)`` —
    columns align by NAME and absent ones become NULL, exactly DuckDB's
    ``UNION ALL BY NAME``. Positional ``union()`` here would silently pair
    o_custkey with o_orderpriority; by-name is the only safe combinator
    under schema evolution (the batch-file twin of a16's mergeSchema).

    100 TB: union is a zero-shuffle plan glue (both scans stay pruned to
    their year via PushedFilters); the one shuffle is the final tiny
    6-group aggregate."""
    o = table(spark, sf_dir, "orders")

    def year_slice(y: int):
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("date")))

    b1 = year_slice(1994).select("o_orderkey", "o_custkey", "o_totalprice")
    b2 = year_slice(1995).select("o_orderpriority", "o_orderkey", "o_totalprice")
    u = b1.unionByName(b2, allowMissingColumns=True)
    return (u.groupBy(F.coalesce("o_orderpriority", F.lit("(missing)"))
                      .alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.count("o_custkey").alias("n_with_custkey"),
                 F.sum(F.floor("o_totalprice").cast("bigint"))
                  .alias("total_floor")))


@register(
    "d89_skew_salted_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total_floor
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "skew", "salting", "aggregate"),
)
def d89_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation rewrite, provably ≡ the direct GROUP BY: the
    group key has only 5 values, so a naive plan would reduce on 5 hot
    partitions. Stage 1 groups by (key, salt) — salt = pmod(o_orderkey, 32)
    spreads each hot key over 32 reducers — and pre-aggregates the
    associative measures; stage 2 re-aggregates the 5×32 partials by key.
    count(DISTINCT o_custkey) rides the same rewrite as a (key, custkey)
    pair-dedup in stage 1 (distinct custkeys per salt-shard are NOT
    additive, so the distinct count itself moves to stage 2 over the
    deduped pairs). Measures are integer-exact (floor→BIGINT) so the
    two-stage sum is bit-equal to the oracle's single GROUP BY.

    100 TB: this is the manual form of what AQE skew-split and Catalyst's
    distinct-aggregate Expand do; it's declared explicitly because the
    combiner-defeating case (high-cardinality DISTINCT payload under a
    low-cardinality key) is the one skew shape partial aggregation alone
    cannot fix. Two shuffles, both uniformly keyed; nothing hot."""
    o = table(spark, sf_dir, "orders")
    stage1 = (o.groupBy("o_orderpriority",
                        F.pmod(F.col("o_orderkey"), F.lit(32)).alias("salt"),
                        "o_custkey")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.floor("o_totalprice").cast("bigint")).alias("tf")))
    return (stage1.groupBy("o_orderpriority")
            .agg(F.count_distinct(F.col("o_custkey")).alias("n_customers"),
                 F.sum("n").alias("n_orders"),
                 F.sum("tf").alias("total_floor")))


@register(
    "d90_hash_sample_agg",
    oracle="""
WITH s AS (
    SELECT * FROM orders
    WHERE ((o_orderkey % 2147483648) * 1103515245 + 12345) % 2048 < 205
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_sampled,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM s
GROUP BY o_orderpriority
""",
    tags=("engine", "D19", "sampling", "deterministic"),
)
def d90_hash_sample_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample by KEY HASH — the exact-oracle
    twin of D19's seeded-RNG sampling (d19 is rows-only: rand(seed) streams
    are engine-specific). An LCG mix of the primary key modulo 2048 keeps
    every arithmetic step in BIGINT range and identical across engines, so
    the sampling decision is reproducible forever: re-runs, engine
    versions, and the DuckDB oracle all pick the same rows — the property
    training-data pipelines need for auditable subsampling (a production
    deployment would swap the LCG for the t4 rolling hash; xxhash64 is
    engine-specific).

    100 TB: the predicate is scan-side (no shuffle to sample); sampled
    rows flow into one small partial-aggregated GROUP BY."""
    o = table(spark, sf_dir, "orders")
    keep = (((F.col("o_orderkey") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345))
            % F.lit(2048)) < 205
    return (o.filter(keep)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


@register(
    "d91_equidepth_histogram",
    oracle="""
WITH bounds AS (
    SELECT quantile_cont(o_totalprice,
                         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
    FROM orders
)
SELECT CAST(1 + len(list_filter(bs, b -> o_totalprice > b)) AS BIGINT)
           AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi
FROM orders, bounds
GROUP BY 1
""",
    tags=("engine", "histogram", "quantile"),
)
def d91_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (d52's equi-width sibling): decile boundaries
    from ONE exact percentile aggregate, then bucket = 1 + |{b : x > b}| —
    ties on a boundary land in the same bucket on both engines (ntile
    would split them arbitrarily AND need a global single-partition sort;
    this shape needs neither). Spark ``percentile`` bit-matches DuckDB
    ``quantile_cont`` on doubles (probed, d51), and the bucket rule is a
    pure comparison count, so the histogram is exact.

    100 TB: the 9-double boundary row comes back as a single-row
    broadcast cross join (the d39/d56/t9 allowlisted shape — a 1-row
    build side makes BNLJ O(n), and a constant join key would just fold
    away); the fact table never shuffles until the 10-group aggregate.
    The exact percentile pass is the only scale caveat — the production
    default swaps in percentile_approx (b6b's documented trade) without
    changing the bucket rule."""
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(F.percentile(
        "o_totalprice",
        F.array(*[F.lit(i / 10) for i in range(1, 10)])).alias("bs"))
    x = F.col("o_totalprice")
    bucket = (F.size(F.filter("bs", lambda b: x > b)) + 1).cast("bigint")
    return (o.crossJoin(F.broadcast(bounds))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min(x).alias("lo"),
                 F.max(x).alias("hi")))


@register(
    "d92_cube_grouping_id",
    oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(CAST(CAST(year(o_orderdate) AS BIGINT) AS VARCHAR), 'ALL')
           AS yr,
       CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, year(o_orderdate))
""",
    tags=("engine", "D7", "cube", "grouping-id"),
)
def d92_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with the GROUPING bitmask: ``grouping_id()`` distinguishes a
    genuine NULL group key from a rollup's ALL row — the disambiguator
    every BI layer needs on top of d7's cube/rollup family (a coalesce
    label alone collides with real NULLs; the bitmask cannot). Spark and
    DuckDB agree on bit order: the LEFTMOST grouping column is the most
    significant bit.

    100 TB: cube expands each input row into 2^k grouping-set rows BEFORE
    the shuffle (Expand node), but partial aggregation collapses them
    map-side, so the shuffle carries |groups| x 2^k rows, not |input| x
    2^k."""
    o = table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("bigint")
    return (o.cube(F.col("o_orderpriority"), yr.alias("yr_num"))
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_orders"))
            .select(
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                F.coalesce(F.col("yr_num").cast("string"),
                           F.lit("ALL")).alias("yr"),
                F.col("gid").cast("bigint").alias("gid"),
                "n_orders"))


@register(
    "d93_cumulative_distinct_users",
    oracle="""
WITH firsts AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
), by_day AS (
    SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
    FROM firsts GROUP BY first_day
)
SELECT CAST(day AS TIMESTAMP) AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_users
FROM by_day
""",
    tags=("engine", "D8", "window", "distinct", "incremental"),
)
def d93_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count (cumulative users ever seen, by day) via the
    first-seen rewrite: a naive count(DISTINCT) over a growing window
    re-scans every prefix (quadratic); instead each user contributes once
    on their first day (one groupBy-min), days aggregate to new-user
    counts, and a running sum over the |days| rows finishes it. The
    single-partition window is over the DAY relation (thousands of rows
    at any corpus age), never over events. Dates surface as TIMESTAMP on
    both sides (the d74 dtype rule).

    100 TB: two uniformly-keyed shuffles (user_id, then day) with full
    map-side combine; the unbounded-window input is bounded by calendar
    days, so it broadcasts trivially. This is also the incremental shape:
    firsts is a MERGE-maintainable table (e19/e38 pattern)."""
    e = table(spark, sf_dir, "events")
    firsts = (e.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("first_day")))
    by_day = (firsts.groupBy(F.col("first_day").alias("day"))
              .agg(F.count(F.lit(1)).alias("new_users")))
    w = Window.orderBy(F.col("day").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (by_day.select(
        F.col("day").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users")))


@register(
    "d94_multiset_ops",
    oracle="""
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
SELECT 'intersect_all' AS op, o_custkey
FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
UNION ALL
SELECT 'except_all' AS op, o_custkey
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
""",
    tags=("engine", "D12", "set-ops", "multiset"),
)
def d94_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations — d12's bag-semantics sibling: INTERSECT
    ALL keeps min(multiplicity) per value, EXCEPT ALL subtracts
    multiplicities (a customer with 3 urgent and 1 high order survives
    except_all twice) — the semantics dedup-aware reconciliation needs,
    where plain INTERSECT/EXCEPT silently collapse copies. The
    order-insensitive value hash is multiplicity-SENSITIVE, so the oracle
    checks the bag, not the set.

    100 TB: Spark plans both as aggregate-count + generate (one shuffle
    per side on the value, replicate by min/residual count) — no join of
    row copies; both inputs come from the same pruned scan."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return (a.intersectAll(b).select(F.lit("intersect_all").alias("op"),
                                     "o_custkey")
            .unionByName(a.exceptAll(b)
                         .select(F.lit("except_all").alias("op"),
                                 "o_custkey")))
