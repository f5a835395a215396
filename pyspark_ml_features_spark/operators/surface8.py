"""Round-8 surface: Spark 4 SQL features not yet exercised (pipe
EXTEND/SET/DROP, GROUP/ORDER BY ALL, SQL session variables, EXECUTE
IMMEDIATE, nth_value/IGNORE NULLS frames), second representatives for
single-query families (E5 per-dimension min-max scaling, D11 scale-safe
bottom-k WITH TIES), and two LLM-curation audits (chunk-stitch
round-trip — the e23 inverse — and a cross-source template matrix).

Reference: the reference repo (six MLlib utilities,
spark_ml_features.py:1-315) has none of this surface; SURVEY §2-C/D/E
north-star scope.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.text import tokens
from pyspark_ml_features_spark.operators.textops import STOPWORDS
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "d130_pipe_extend_set_drop",
    oracle="""
WITH base AS (
    SELECT l_returnflag, l_shipdate,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS net_cents
    FROM lineitem
), flt AS (
    SELECT * FROM base WHERE l_shipdate >= DATE '1995-01-01'
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(net_cents) AS BIGINT) AS net_cents_sum
FROM flt GROUP BY l_returnflag
""",
    tags=("engine", "sql-pipe", "spark4"),
)
def d130_pipe_extend_set_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-syntax column lifecycle — |> EXTEND (add a computed
    column), |> SET (redefine it in place), |> DROP (remove a source
    column), |> WHERE, |> AGGREGATE: the d121/d127 family's third
    variant, exercising the mutation operators rather than join/window.
    Lowers to the identical classic plan (filter pushed to the scan,
    partial-aggregated GROUP BY), which the expanded-form oracle states
    directly. Money stays in floor-cents BIGINT from the first EXTEND
    (per-row IEEE multiply then floor is engine-exact; the cross-row
    sum is integer)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_pipe8")
    return spark.sql("""
        FROM li_pipe8
        |> EXTEND l_extendedprice * (1 - l_discount) AS net
        |> SET net = CAST(floor(net * 100) AS BIGINT)
        |> DROP l_tax, l_partkey, l_suppkey
        |> WHERE l_shipdate >= DATE '1995-01-01'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(net) AS BIGINT) AS net_cents_sum
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, net_cents_sum
    """)


@register(
    "d131_group_order_by_all",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents
FROM lineitem
GROUP BY ALL
ORDER BY ALL
""",
    tags=("engine", "sql-sugar", "spark4"),
)
def d131_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL together (d80 exercised GROUP BY ALL
    alone): both engines expand ALL to the non-aggregate select list in
    select-list order, so the sugar is plan-identical to the explicit
    form — zero-cost readability, not a new operator. The ordered output
    also pins that both engines agree on the expansion ORDER (a mismatch
    would hash-differ even with equal row sets only if values disagreed,
    so the real check is the grouping expansion)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_all8")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
                   AS qty_cents
        FROM li_all8
        GROUP BY ALL
        ORDER BY ALL
    """)


@register(
    "d133_sql_session_variables",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderdate >= DATE '1995-01-01'
GROUP BY o_orderpriority
""",
    tags=("engine", "sql-variables", "spark4"),
)
def d133_sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE / SET VAR): a parameterized
    threshold report where the knobs live in session state instead of
    string interpolation — the SQL-native alternative to d110's
    parameterized-query API. Variables fold to constants at plan time
    (the filter still pushes to the scan; the oracle is the expanded
    constant form). Session-scoped: DECLARE OR REPLACE keeps reruns
    idempotent within one SparkSession."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_var8")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff_date DATE "
              "DEFAULT DATE '1990-01-01'")
    spark.sql("SET VAR price_floor = 150000.0")
    spark.sql("SET VAR cutoff_date = DATE '1995-01-01'")
    return spark.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big
        FROM ord_var8
        WHERE o_totalprice > price_floor AND o_orderdate >= cutoff_date
        GROUP BY o_orderpriority
    """)


@register(
    "d134_execute_immediate",
    oracle="""
SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 5000.0
GROUP BY n_name
""",
    tags=("engine", "sql-variables", "spark4"),
)
def d134_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE with USING parameters (Spark 4): dynamic SQL
    with engine-side parameter binding — the injection-safe form of
    query-by-string (the parameter is bound as a typed literal, never
    spliced as text). The plan is identical to the static query, so the
    oracle is the expanded form; the broadcast-able nation dim keeps
    the join a BHJ."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("cust_ei8")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nat_ei8")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers "
        " FROM cust_ei8 JOIN nat_ei8 ON c_nationkey = n_nationkey "
        " WHERE c_acctbal > ? GROUP BY n_name' "
        "USING 5000.0d")


@register(
    "d135_nth_value_frames",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       nth_value(o_totalprice, 2) OVER w AS second_in_frame,
       last_value(o_totalprice) OVER w AS frame_last,
       CAST(count(*) OVER w AS BIGINT) AS frame_n
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
    tags=("engine", "D9", "window"),
)
def d135_nth_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / last_value over a bounded ROWS frame — the remaining
    analytic window functions D9's family had not exercised. nth_value
    returns NULL while the frame holds fewer than n rows (both engines
    agree); the frame count column pins the frame boundaries themselves.
    Per-group windows partition-parallelize (no global sort); values are
    picked, not summed — engine-exact with no float hazard."""
    o = table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(-3, 0))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.nth_value("o_totalprice", 2).over(w).alias("second_in_frame"),
        F.last("o_totalprice").over(w).alias("frame_last"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("frame_n"))


@register(
    "d11b_bottomk_with_ties",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice <= (
    SELECT max(p) FROM (
        SELECT o_totalprice AS p FROM orders
        ORDER BY o_totalprice LIMIT 10))
""",
    tags=("engine", "D11", "topk"),
)
def d11b_bottomk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global bottom-k WITH TIES, scale-safe (D11's second
    representative): a global `rank() <= k` needs a single-partition
    window — the anti-pattern — so instead compute the k-th smallest
    value with TakeOrderedAndProject (per-partition top-k then a k-row
    driver merge), broadcast that one-row threshold, and filter the
    scan against it. Two passes, both trivially parallel; ties at the
    threshold are included by <=, exactly SQL's WITH TIES semantics.
    The 1-row crossJoin(broadcast) is the allowlisted d39/d56/t9 BNLJ
    shape."""
    o = table(spark, sf_dir, "orders")
    kth = (o.select("o_totalprice").orderBy("o_totalprice").limit(10)
           .agg(F.max("o_totalprice").alias("thresh")))
    return (o.select("o_orderkey", "o_custkey", "o_totalprice")
            .crossJoin(F.broadcast(kth))
            .filter(F.col("o_totalprice") <= F.col("thresh"))
            .drop("thresh"))


@register(
    "e5b_dimension_minmax_scale",
    oracle="""
WITH x AS (
    SELECT vec_id, i - 1 AS dim, (embedding::DOUBLE[])[i] AS v
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), s AS (
    SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY dim
)
SELECT x.vec_id, CAST(x.dim AS BIGINT) AS dim,
       (x.v - s.lo) / nullif(s.hi - s.lo, 0) AS scaled
FROM x JOIN s USING (dim)
""",
    tags=("north-star", "E5", "similarity", "scaling"),
)
def e5b_dimension_minmax_scale(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """PER-DIMENSION min-max scaling of the embedding column to [0, 1]
    (E5's second representative — e5 normalizes per VECTOR, this scales
    per DIMENSION, the MinMaxScaler semantics without densifying
    through an MLlib vector column). min/max are order-independent
    exact aggregates, and the rescale is one subtract + divide per cell
    — bit-exact on both engines with NO rounding, unlike mean/std
    standardization whose cross-row float sum would need it.

    100 TB: posexplode fans out rows ×dim but the per-dim aggregate is
    map-side combinable down to `dim` rows (constant), which then
    BROADCASTS back onto the exploded cells — no shuffle of the cells
    themselves at any point."""
    e = table(spark, sf_dir, "embeddings")
    x = (e.select("vec_id", F.posexplode(
            F.col("embedding").cast("array<double>")).alias("dim", "v"))
         .select("vec_id", F.col("dim").cast("bigint").alias("dim"), "v"))
    s = x.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    return (x.join(F.broadcast(s), "dim")
            .select("vec_id", "dim",
                    # try_divide: a constant dimension (hi == lo) yields
                    # NULL on BOTH engines instead of an ANSI
                    # DIVIDE_BY_ZERO on Spark only (review r8 finding)
                    F.try_divide(F.col("v") - F.col("lo"),
                                 F.col("hi") - F.col("lo"))
                    .alias("scaled")))


@register(
    "e95_chunk_stitch_roundtrip",
    oracle="""
SELECT doc_id, text AS stitched_text
FROM documents
WHERE trim(text) <> ''
""",
    tags=("north-star", "llm-pipeline", "chunking"),
)
def e95_chunk_stitch_roundtrip(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """CHUNK-STITCH round-trip — e23's inverse, with the ORIGINAL corpus
    as the oracle: re-chunk every document into overlapping 128-token /
    stride-64 windows (e23's exact geometry), then reconstruct each
    document from its chunks alone — every chunk contributes its first
    `stride` tokens, the LAST chunk contributes all of them — and the
    result must equal the source text verbatim. Proves the chunk
    family's invariant (overlapping chunks lose nothing) as a
    hash-checked query instead of a code comment — any off-by-one in
    either direction breaks the hash.

    100 TB: one groupBy(doc_id) over chunk rows; per-group state is one
    document's chunks (bounded by doc length, the same bound e23
    already carries). The sort-then-flatten runs on the collected
    per-doc array — driver sees nothing."""
    from pyspark_ml_features_spark.operators.packing import (
        CHUNK_SIZE, CHUNK_STRIDE)

    d = (table(spark, sf_dir, "documents")
         # Meaningful empty-doc exclusion, mirrored in the oracle's
         # trim(text) <> ''. (A size(split(...)) > 0 guard would be
         # vacuous: split always yields >= 1 element — r8 ADVICE.)
         .filter(F.trim(F.col("text")) != "")
         .select("doc_id", tokens("text").alias("__toks")))
    t = F.col("__toks")
    n_tok = F.size(t)
    n_chunks = (F.floor((n_tok - 1) / CHUNK_STRIDE) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(t, i * CHUNK_STRIDE + 1, CHUNK_SIZE))
    chunked = d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
    per_doc = (chunked.groupBy("doc_id")
               .agg(F.sort_array(F.collect_list(
                   F.struct("chunk_id", "chunk"))).alias("cs"))
               # n_cs as a COLUMN, not an expression, so the stitch
               # lambda's boundary test references it O(1) (the
               # word_ngrams quadratic-re-evaluation rule).
               .withColumn("n_cs", F.size("cs")))
    pieces = F.transform(
        F.col("cs"),
        lambda c, i: F.when(i < F.col("n_cs") - 1,
                            F.slice(c["chunk"], 1, CHUNK_STRIDE))
        .otherwise(c["chunk"]))
    return per_doc.select(
        "doc_id",
        F.concat_ws(" ", F.flatten(pieces)).alias("stitched_text"))


@register(
    "e96_cross_source_template_matrix",
    oracle="""
WITH d AS (
    SELECT DISTINCT
        array_to_string(list_slice(str_split(lower(trim(text)), ' '),
                                   1, 5), ' ') AS opening,
        source
    FROM documents
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS n_shared_openings
FROM d a JOIN d b ON a.opening = b.opening AND a.source < b.source
GROUP BY 1, 2
""",
    tags=("north-star", "llm-pipeline", "provenance", "dedup"),
)
def e96_cross_source_template_matrix(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """CROSS-SOURCE TEMPLATE MATRIX: for every pair of sources, how many
    distinct 5-token document openings they share — the provenance audit
    that surfaces mirror sites, syndication, and shared boilerplate
    templates before near-dedup collapses them silently (you want to
    KNOW two crawls overlap, not just drop the copies). Openings are a
    deliberate coarse fingerprint (exact-text overlap across sources is
    ~zero in this corpus; shared templates are not).

    100 TB: the distinct (opening, source) projection collapses the
    corpus to its template vocabulary FIRST (map-side combinable), and
    the self-join runs on that bounded set keyed by opening — the
    output is capped by source-pair count, and per-opening fan-out is
    #sources, not #docs."""
    d = (table(spark, sf_dir, "documents")
         .select(F.concat_ws(
             " ", F.slice(tokens(F.lower(F.trim(F.col("text")))), 1, 5))
             .alias("opening"), "source")
         .distinct())
    a = d.alias("a")
    b = d.alias("b")
    return (a.join(b, (F.col("a.opening") == F.col("b.opening"))
                   & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("src_a"),
                     F.col("b.source").alias("src_b"))
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_shared_openings")))


@register(
    "d136_unpivot_sql",
    oracle="""
SELECT l_orderkey, l_linenumber, feat, val
FROM lineitem
UNPIVOT (val FOR feat IN (l_quantity, l_extendedprice, l_discount))
""",
    tags=("engine", "D16", "reshape"),
)
def d136_unpivot_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard SQL UNPIVOT clause — d33 reshapes with the stack() TVF
    and d106 with selectExpr stack; this is the declarative form both
    engines parse natively (Spark lowers it to the same Expand node as
    stack, so wide→long stays a zero-shuffle flatMap). NULL cells are
    dropped by UNPIVOT's default (none exist in lineitem; both engines
    agree on the default INCLUDE NULLS = false)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_unpvt8")
    return spark.sql("""
        SELECT l_orderkey, l_linenumber, feat, val
        FROM li_unpvt8
        UNPIVOT (val FOR feat IN (l_quantity, l_extendedprice, l_discount))
    """)


@register(
    "d137_limit_offset_pagination",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
""",
    tags=("engine", "D11", "pagination"),
)
def d137_limit_offset_pagination(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination under a deterministic total order (the
    unique o_orderkey tie-break makes page 3 well-defined — OFFSET
    without a total order is nondeterministic on ANY engine). Spark
    plans the whole thing as TakeOrderedAndProject with limit =
    offset + page (60 rows per partition, k-row driver merge, rows
    0-39 discarded at the root) — no global sort, no single-partition
    window; the classic deep-pagination caveat (cost grows with
    offset) is the documented trade versus keyset pagination on the
    order key."""
    o = table(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .offset(40).limit(20))


@register(
    "d138_identifier_clause",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "sql-variables", "spark4"),
)
def d138_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 4): table and column names supplied as
    PARAMETERS instead of string-spliced SQL — the injection-safe form
    of "group this table by that column", template queries over a
    catalog. The identifier resolves at analysis time, so the plan is
    byte-identical to the static query (the oracle's expanded form);
    a value that is not a valid identifier is a parse error, never an
    executed injection."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_ident8")
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol), CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS price_cents
        FROM IDENTIFIER(:tab)
        GROUP BY IDENTIFIER(:gcol)
        """,
        args={"gcol": "o_orderpriority", "tab": "ord_ident8"})


QA_PACK_PER_CELL = 3


@register(
    "e97_qa_sample_pack",
    oracle=f"""
WITH m AS (
    SELECT doc_id, lang,
           len(str_split(text, ' '))::DOUBLE AS n_tokens,
           len(list_distinct(str_split(text, ' ')))::DOUBLE AS n_distinct,
           len(list_filter(str_split(text, ' '),
               t -> list_contains({list(STOPWORDS)}, t)
               ))::DOUBLE AS n_stop,
           list_sum(list_transform(str_split(text, ' '),
                                   t -> length(t)))::DOUBLE AS total_chars
    FROM documents
), scored AS (
    SELECT doc_id, lang,
           0.3 * (n_distinct / n_tokens)
             + 0.3 * (1.0 - n_stop / n_tokens)
             + 0.4 * least((total_chars / n_tokens) / 10.0, 1.0)
               AS quality_score
    FROM m
), banded AS (
    SELECT doc_id, lang, quality_score,
           CAST(least(floor(quality_score * 5), 4) AS BIGINT) AS band
    FROM scored
), ranked AS (
    SELECT doc_id, lang, band, quality_score,
           row_number() OVER (
               PARTITION BY lang, band
               ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345)
                        % 2147483648, doc_id) AS rn
    FROM banded
)
SELECT doc_id, lang, band, quality_score
FROM ranked WHERE rn <= {QA_PACK_PER_CELL}
""",
    tags=("north-star", "llm-pipeline", "stewardship", "sampling"),
)
def e97_qa_sample_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUMAN-QA SAMPLE PACK: a deterministic {QA_PACK_PER_CELL}-doc
    sample from every (language × quality band) cell — what a data
    steward actually reads before shipping a corpus revision. Quality
    is t2's exact score; bands are FIXED arithmetic thresholds
    (floor(score×5), clamped) rather than ntile deciles, so band
    assignment is scan-side per-row work with no global sort (e93's
    ranking primitive covers the decile form); the in-cell sample
    order is the portable LCG, so the same doc_ids come back on every
    engine and every run.

    100 TB: one window per (lang, band) cell — Spark's WindowGroupLimit
    pushes the rn <= k filter into the sort (d10's shape), so each
    task keeps k rows per cell, never the cell's full contents."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("__toks"))
    toks = F.col("__toks")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(
        toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.length(t)).cast("double")
    score = (F.lit(0.3) * (n_distinct / n_tokens)
             + F.lit(0.3) * (F.lit(1.0) - n_stop / n_tokens)
             + F.lit(0.4) * F.least((total_chars / n_tokens) / F.lit(10.0),
                                    F.lit(1.0)))
    banded = d.select(
        "doc_id", "lang", score.alias("quality_score"),
        F.least(F.floor(score * 5), F.lit(4)).cast("bigint").alias("band"))
    lcg = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(1103515245)
           + F.lit(12345)) % F.lit(2147483648)
    w = Window.partitionBy("lang", "band").orderBy(lcg.asc(), "doc_id")
    return (banded.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= QA_PACK_PER_CELL)
            .select("doc_id", "lang", "band", "quality_score"))


@register(
    "d139_listagg_within_group",
    oracle="""
SELECT l_orderkey,
       string_agg(CAST(l_linenumber AS VARCHAR), ','
                  ORDER BY l_linenumber) AS line_list,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_orderkey % 50 = 0
GROUP BY l_orderkey
""",
    tags=("engine", "D4", "aggregate", "spark4"),
)
def d139_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg(...) WITHIN GROUP (ORDER BY ...) — the SQL-standard
    ordered string aggregate added in Spark 4 (d69 built the same thing
    manually from array_join(array_sort(collect_list))). The WITHIN
    GROUP order makes the concatenation deterministic — DuckDB's
    string_agg(... ORDER BY ...) is the exact equivalent; duplicate
    order keys are harmless because equal keys carry equal strings.
    Per-order groups are bounded (≤7 lines), so the aggregate state is
    small and map-side combinable like any collect."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_lagg8")
    return spark.sql("""
        SELECT l_orderkey,
               listagg(CAST(l_linenumber AS STRING), ',')
                   WITHIN GROUP (ORDER BY l_linenumber) AS line_list,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM li_lagg8
        WHERE l_orderkey % 50 = 0
        GROUP BY l_orderkey
    """)


@register(
    "d140_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
    tags=("engine", "D5", "bitmap", "spark4", "scale"),
)
def d140_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5+
    bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_or_agg / bitmap_count) — the D5/D6 family's third point on
    the exactness-vs-state curve: exact like count(DISTINCT) but with
    MERGEABLE fixed-size state (one ≤4 KB bitmap per 32768-id bucket)
    instead of a per-key hash set, and rollup-able like HLL (d38) but
    with zero error. The three-level shape is the real rollup pattern:
    per-(type, day, bucket) bitmaps built once from raw ids, OR-merged
    across days WITHOUT re-reading raw ids (what HLL can only do
    approximately), then counted — shuffle carries bitmaps, never ids.
    (Nesting construct_agg inside or_agg in ONE select is an analysis
    error, NESTED_AGGREGATE_FUNCTION — each level is its own GROUP BY.)
    The oracle is the plain count(DISTINCT), which is the point: same
    answer, bounded mergeable state."""
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("ev_bmp8")
    return spark.sql("""
        SELECT event_type,
               CAST(sum(bitmap_count(b)) AS BIGINT) AS n_users
        FROM (
            SELECT event_type, bkt, bitmap_or_agg(day_b) AS b
            FROM (
                SELECT event_type, date(ts) AS day,
                       bitmap_bucket_number(user_id) AS bkt,
                       bitmap_construct_agg(
                           bitmap_bit_position(user_id)) AS day_b
                FROM ev_bmp8
                GROUP BY event_type, date(ts),
                         bitmap_bucket_number(user_id)
            )
            GROUP BY event_type, bkt
        )
        GROUP BY event_type
    """)


@register(
    "d141_from_csv_codec",
    oracle="""
WITH packed AS (
    SELECT o_orderkey::VARCHAR || ',' || o_orderpriority || ','
           || CAST(o_totalprice AS VARCHAR) AS line
    FROM orders
), parsed AS (
    SELECT CAST(str_split(line, ',')[1] AS BIGINT) AS k,
           str_split(line, ',')[2] AS pr,
           CAST(str_split(line, ',')[3] AS DOUBLE) AS tp
    FROM packed
)
SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(tp * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       CAST(min(k) AS BIGINT) AS min_key
FROM parsed GROUP BY pr
""",
    tags=("engine", "D17", "codec"),
)
def d141_from_csv_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_csv row codec — the CSV sibling of d17b's from_json: pack
    three order columns into one delimited string, parse it back with a
    typed schema, and aggregate the PARSED fields. Pins that the
    serialize→parse round trip is lossless for integer keys and that
    double formatting/parsing composes to the identical IEEE value on
    both engines (CAST(double AS STRING) → parse; DuckDB mirrors with
    str_split + casts). The codec runs inside codegen per row — the
    pattern for ingesting Kafka-style delimited payloads without a
    Python boundary."""
    o = table(spark, sf_dir, "orders")
    packed = o.select(
        F.concat_ws(",", F.col("o_orderkey").cast("string"),
                    "o_orderpriority",
                    F.col("o_totalprice").cast("string")).alias("line"))
    parsed = packed.select(F.from_csv(
        "line", "k BIGINT, pr STRING, tp DOUBLE").alias("r"))
    return (parsed.select("r.k", "r.pr", "r.tp")
            .groupBy(F.col("pr").alias("o_orderpriority"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.floor(F.col("tp") * 100).cast("bigint"))
                 .cast("bigint").alias("price_cents"),
                 F.min("k").cast("bigint").alias("min_key")))


@register(
    "a30_insert_default_columns",
    oracle="""
WITH ins AS (
    SELECT o_orderkey, 'UNKNOWN' AS priority, 'none' AS flag
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT o_orderkey, o_orderpriority, 'none' FROM orders
    WHERE o_orderkey % 100 = 50
)
SELECT priority, flag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM ins GROUP BY priority, flag
""",
    tags=("engine", "A-source", "ddl", "spark4"),
)
def a30_insert_default_columns(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Column DEFAULT values on a parquet catalog table: CREATE TABLE
    with DEFAULTs, one INSERT naming only (o_orderkey) — the engine
    fills both defaults — and one naming (o_orderkey, priority) — only
    flag defaults. The oracle states the expanded values over the
    ORIGINAL orders table (the a15 trick: sink round-trip oracles never
    read the sink). pid-suffixed table name + DROP + location rmtree
    first (d50's stale-warehouse-dir gotcha); defaults resolve at
    INSERT time, so the stored parquet holds materialized values — a
    reader without the table schema sees the same data."""
    import os
    import shutil

    tab = f"pmfs_a30_defaults_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tab}")
    loc = os.path.join(spark.conf.get("spark.sql.warehouse.dir")
                       .removeprefix("file:"), tab)
    shutil.rmtree(loc, ignore_errors=True)
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_a30")
    spark.sql(f"""
        CREATE TABLE {tab} (
            o_orderkey BIGINT,
            priority STRING DEFAULT 'UNKNOWN',
            flag STRING DEFAULT 'none'
        ) USING parquet
    """)
    spark.sql(f"""
        INSERT INTO {tab} (o_orderkey)
        SELECT o_orderkey FROM ord_a30 WHERE o_orderkey % 100 = 0
    """)
    spark.sql(f"""
        INSERT INTO {tab} (o_orderkey, priority)
        SELECT o_orderkey, o_orderpriority FROM ord_a30
        WHERE o_orderkey % 100 = 50
    """)
    return spark.sql(f"""
        SELECT priority, flag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM {tab} GROUP BY priority, flag
    """)


@register(
    "a31_metadata_columns",
    oracle="""
SELECT 'orders.parquet' AS file_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders
""",
    tags=("engine", "A-source", "lineage"),
)
def a31_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file columns on a parquet scan — per-file row
    lineage (which physical file produced each row) without a separate
    listing join: the debugging primitive for "which input file is
    corrupt/skewed/duplicated" at 100 TB, where a scan covers 10^5
    files. The column materializes scan-side per split (no shuffle, no
    extra IO — the reader already knows its file). Every sf_dir ships
    each table as ONE file with a constant basename, so the oracle
    states 'orders.parquet' literally (DuckDB's equivalent probe,
    read_parquet(filename=true) + parse_filename, verified identical);
    the Spark side still COMPUTES the name from _metadata.file_path —
    a wrong file association breaks the hash."""
    o = table(spark, sf_dir, "orders")
    return (o.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        .alias("file_name"), "o_orderkey")
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
             F.sum("o_orderkey").cast("bigint").alias("key_sum")))


@register(
    "d142_observed_quality_metrics",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "observability", "spark4"),
)
def d142_observed_quality_metrics(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Observation API: data-quality counters (row count, null count,
    total cents) piggybacked on the SAME job as the business aggregate
    via ``df.observe`` — zero extra passes over the data, the
    production alternative to running a second validation query (which
    at 100 TB doubles the scan bill). The observe node is a pass-
    through for the result (the oracle is the plain aggregate);
    tests/test_invariants.py collects the observed metrics and pins
    them against the result itself."""
    import uuid

    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    # uuid suffix, not id(): CPython reuses id() values after GC, so two
    # executions in one session could collide on the CollectMetrics name.
    obs = Observation(f"d142_quality_{uuid.uuid4().hex}")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice").isNull()).alias("n_null_price"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("total_cents"))
    return (observed.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
                 .cast("bigint").alias("price_cents")))


@register(
    "d143_transpose",
    oracle="""
WITH s AS (
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
)
SELECT 'n' AS key,
       CAST(max(CASE WHEN o_orderpriority = '1-URGENT' THEN n END)
            AS BIGINT) AS "1-URGENT",
       CAST(max(CASE WHEN o_orderpriority = '2-HIGH' THEN n END)
            AS BIGINT) AS "2-HIGH",
       CAST(max(CASE WHEN o_orderpriority = '3-MEDIUM' THEN n END)
            AS BIGINT) AS "3-MEDIUM",
       CAST(max(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN n END)
            AS BIGINT) AS "4-NOT SPECIFIED",
       CAST(max(CASE WHEN o_orderpriority = '5-LOW' THEN n END)
            AS BIGINT) AS "5-LOW"
FROM s
""",
    tags=("engine", "reshape", "spark4"),
)
def d143_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0): rows ↔ columns over a SMALL
    aggregate — the report-formatting tail of a pipeline, never a data
    operator (the transposed frame's width = input row count, so it is
    only defined for aggregate-sized inputs; Spark collects the pivot
    column to name the output columns — driver cost = one small
    column). The oracle is the manual conditional-aggregation pivot
    the API replaces."""
    o = table(spark, sf_dir, "orders")
    agg = (o.groupBy("o_orderpriority")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
           .orderBy("o_orderpriority"))
    return agg.transpose()


@register(
    "d144_sql_scripting",
    oracle="""
WITH s AS (
    SELECT avg(o_totalprice) AS ap FROM orders
)
SELECT o_orderpriority,
       CASE WHEN s.ap > 100000.0 THEN 'high' ELSE 'low' END AS price_band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(floor(s.ap * 100) AS BIGINT) AS avg_cents,
       0.9990234375 AS geo_sum
FROM orders, s
GROUP BY o_orderpriority, s.ap
""",
    tags=("engine", "sql-scripting", "spark4"),
)
def d144_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END): DECLARE'd local variables, a
    scalar-subquery SET, an IF/ELSE branch, and a WHILE loop — the
    procedural control flow that previously required a driver-side
    Python wrapper, now running as one SQL unit whose value is the last
    statement's result. Everything the script computes is expressible
    declaratively (the expanded-form oracle: the branch is a CASE over
    the same average, the loop's geometric sum of ten exact dyadics is
    the literal 0.9990234375), which is the right mental model — the
    scripting layer sequences plans, it does not add operators, so each
    inner statement still gets full Catalyst treatment."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_scr8")
    return spark.sql("""
        BEGIN
            DECLARE avg_price DOUBLE;
            DECLARE band STRING;
            DECLARE geo DOUBLE DEFAULT 0.0;
            DECLARE half DOUBLE DEFAULT 0.5;
            DECLARE i INT DEFAULT 1;
            SET avg_price = (SELECT avg(o_totalprice) FROM ord_scr8);
            IF avg_price > 100000.0 THEN
                SET band = 'high';
            ELSE
                SET band = 'low';
            END IF;
            -- geometric sum via an exact dyadic recurrence (each step
            -- halves a power of two — always representable), never
            -- power(): no libm transcendental behind an exact oracle.
            WHILE i <= 10 DO
                SET geo = geo + half;
                SET half = half * 0.5;
                SET i = i + 1;
            END WHILE;
            SELECT o_orderpriority, band AS price_band,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(floor(avg_price * 100) AS BIGINT) AS avg_cents,
                   geo AS geo_sum
            FROM ord_scr8
            GROUP BY o_orderpriority;
        END
    """)
