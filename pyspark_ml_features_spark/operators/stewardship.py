"""Data-stewardship operators: golden-record survivorship over duplicate
clusters, rolling-audience distinct counts, vocabulary concentration, and
tokenizer fertility — the governance/monitoring queries a curation
platform runs ON TOP of the dedup/quality families.

Reference: the reference repo (six MLlib utilities) has no stewardship
surface; SURVEY §2-E north-star scope.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "e82_golden_record",
    oracle="""
SELECT min(doc_id) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_members,
       arg_max(lang, doc_id) AS lang_latest,
       arg_max(source, doc_id) AS source_latest,
       CAST(max(n_chars) AS BIGINT) AS n_chars_max,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM documents
GROUP BY lower(trim(text))
""",
    tags=("north-star", "llm-pipeline", "dedup", "stewardship"),
)
def e82_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD consolidation (MDM survivorship): e1's exact-dup
    clusters collapse to ONE merged record per cluster, with per-field
    survivorship rules instead of e34's keep-one-row policy — stable id
    = min doc_id, latest-wins fields via max_by on the recency key
    (doc_id here; ingestion ts in production), max/sum rollups for the
    measures. This is the other half of dedup: e1 decides WHICH rows are
    duplicates, survivorship decides what the single surviving record
    SAYS.

    max_by is deterministic because the ordering key is the unique
    doc_id (the d76 rule). 100 TB: identical shape to e1 — one hash
    aggregate on the normalized key, all survivorship rules are
    single-pass aggregates riding the same shuffle."""
    d = table(spark, sf_dir, "documents")
    return (d.groupBy(F.lower(F.trim("text")).alias("__k"))
            .agg(F.min("doc_id").alias("canonical_doc_id"),
                 F.count(F.lit(1)).cast("bigint").alias("n_members"),
                 F.expr("max_by(lang, doc_id)").alias("lang_latest"),
                 F.expr("max_by(source, doc_id)").alias("source_latest"),
                 F.max("n_chars").cast("bigint").alias("n_chars_max"),
                 F.sum("n_chars").cast("bigint").alias("n_chars_total"))
            .drop("__k"))


@register(
    "e83_tokenizer_fertility",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(n_chars)::HUGEINT * 1000000
            // sum(len(str_split(text, ' '))) AS BIGINT)
           AS chars_per_token_micro,
       CAST(sum(len(str_split(text, ' ')))::HUGEINT * 1000000
            // count(*) AS BIGINT) AS tokens_per_doc_micro
FROM documents
GROUP BY lang
""",
    tags=("north-star", "llm-pipeline", "text", "stewardship"),
)
def e83_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language: characters per token and tokens
    per document — the compression/fertility table every multilingual
    tokenizer evaluation starts from (a language whose chars-per-token
    is 2× another's pays 2× the context budget for the same text; vocab
    allocation and sampling weights both read this). Ratios are
    fixed-point micro integers (the d112 rule: integer numerators DIV
    denominators, never round-after-divide), products forced to
    DECIMAL/HUGEINT before multiplying (the d116 rule).

    100 TB: one scan, one tiny hash aggregate on lang — the token count
    is computed JVM-side (split+size), no explode, no Python."""
    from pyspark_ml_features_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    return (d.select("lang", "n_chars",
                     F.size(tokens("text")).cast("bigint").alias("n_tok"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tok").alias("sum_tokens"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"))
            .select("lang", "n_docs", "sum_tokens", "sum_chars",
                    F.expr("CAST(CAST(sum_chars AS DECIMAL(38,0)) * 1000000"
                           " DIV sum_tokens AS BIGINT)")
                    .alias("chars_per_token_micro"),
                    F.expr("CAST(CAST(sum_tokens AS DECIMAL(38,0)) * 1000000"
                           " DIV n_docs AS BIGINT)")
                    .alias("tokens_per_doc_micro")))


@register(
    "d124_sliding_distinct_users",
    oracle="""
WITH du AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), spine AS (SELECT DISTINCT d FROM du)
SELECT CAST(s.d AS TIMESTAMP) AS win_end,
       CAST(count(DISTINCT du.user_id) AS BIGINT) AS distinct_users_7d
FROM spine s JOIN du
  ON datediff('day', du.d, s.d) BETWEEN 0 AND 6
GROUP BY s.d
""",
    tags=("engine", "window", "distinct", "scale"),
)
def d124_sliding_distinct_users(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """SLIDING 7-DAY DISTINCT USERS (rolling audience / WAU): the classic
    metric that canNOT be a window function — count(DISTINCT) over a
    sliding frame isn't frame-decomposable — and canNOT be a per-day
    cumulative (d93's shape) because users leave the window. The
    scale-safe construction: pre-aggregate to DISTINCT (day, user) rows
    (one shuffle, output bounded by days × active users, NOT by event
    volume), then a banded join against the bounded day spine fans each
    row out ≤ 7× before the final distinct aggregate. The event stream
    is touched exactly once.

    100 TB: the pre-aggregate is the whole story — 10^12 events
    collapse to days × users before any windowing. The banded join is
    rewritten as an EQUI-join: each (day, user) row explodes to its ≤ 7
    candidate window ends (`sequence(d, d+6)` — exact 7× fan-out,
    JVM-side), then a broadcast SEMI join against the active-day spine
    keeps real window ends — a hash join, where the naive
    `datediff BETWEEN 0 AND 6` condition has no equi component and
    degrades to a BroadcastNestedLoopJoin (caught by the registry scale
    audit on first registration). Window ends with no activity in
    [d-6, d] don't appear (spine = active days — matches the oracle).
    Day boundary is the session timezone (UTC, pinned by tune_session);
    output day cast to TIMESTAMP on both engines (the d74 rule)."""
    e = table(spark, sf_dir, "events")
    du = (e.select(F.to_date("ts").alias("d"), "user_id").distinct())
    spine = du.select(F.col("d").alias("win_end")).distinct()
    cand = du.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6)))
        .alias("win_end"))
    return (cand.join(F.broadcast(spine), "win_end", "semi")
            .groupBy("win_end")
            .agg(F.count_distinct("user_id").cast("bigint")
                 .alias("distinct_users_7d"))
            .select(F.col("win_end").cast("timestamp").alias("win_end"),
                    "distinct_users_7d"))


@register(
    "t17_vocab_concentration",
    oracle="""
WITH occ AS (
    SELECT source, unnest(str_split(text, ' ')) AS token FROM documents
), f AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS freq
    FROM occ GROUP BY 1, 2
)
SELECT source,
       CAST(sum(freq) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(freq::HUGEINT * freq) * 1000000
            // (sum(freq)::HUGEINT * sum(freq)) AS BIGINT) AS hhi_micro
FROM f GROUP BY source
""",
    tags=("north-star", "llm-pipeline", "text", "quality"),
)
def t17_vocab_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY CONCENTRATION per source — the Herfindahl index
    Σ (f_i/T)² in exact fixed-point micro units: a source whose token
    mass concentrates in few types (hhi → 1e6) is template/boilerplate
    text; a diverse source sits near 1/n_types. The entropy-free
    concentration diagnostic (log-based entropy can't be an exact
    oracle — no libm transcendentals; HHI carries the same signal in
    pure integer arithmetic). Complements t14's per-document type-token
    ratio with a SOURCE-level, frequency-weighted reading.

    Arithmetic rules: Σ f² and T² cast to DECIMAL(38,0)/HUGEINT before
    multiplying (d116), final ratio is integer DIV (d112). 100 TB: one
    explode + (source, token) aggregate, then a source-sized rollup —
    e80's shuffle shape minus the string join-back."""
    from pyspark_ml_features_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    f = (d.select("source", F.explode(tokens("text")).alias("token"))
         .groupBy("source", "token")
         .agg(F.count(F.lit(1)).cast("bigint").alias("freq")))
    return (f.groupBy("source")
            .agg(F.sum("freq").alias("n_occurrences"),
                 F.count(F.lit(1)).cast("bigint").alias("n_types"),
                 F.sum(F.expr("CAST(freq AS DECIMAL(38,0)) * freq"))
                 .alias("__sf2"))
            .select("source",
                    F.col("n_occurrences").cast("bigint")
                    .alias("n_occurrences"),
                    "n_types",
                    F.expr("CAST(__sf2 * 1000000 DIV"
                           " (CAST(n_occurrences AS DECIMAL(38,0))"
                           " * n_occurrences) AS BIGINT)")
                    .alias("hhi_micro")))


@register(
    "d125_scd2_temporal_join",
    oracle="""
WITH dim AS (
    SELECT user_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT)
               AS version
    FROM events WHERE event_type = 'view'
)
SELECT f.event_id, f.user_id,
       CAST(f.ts AS TIMESTAMP) AS purchase_ts,
       d.version AS segment_version,
       CAST(d.valid_from AS TIMESTAMP) AS valid_from
FROM events f JOIN dim d
  ON f.user_id = d.user_id
 AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
WHERE f.event_type = 'purchase'
""",
    tags=("engine", "scd2", "asof", "stewardship"),
)
def d125_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 TEMPORAL FACT-TO-DIMENSION JOIN — the canonical warehouse
    pattern the as-of family (d79/d98/e14 event-to-event) doesn't cover:
    each fact row (purchases) joins the dimension SEGMENT (d66's
    lead-built validity intervals over 'view' status changes) that was
    valid AT ITS TIMESTAMP. The two classic pitfalls are pinned by the
    oracle: half-open intervals (ts >= valid_from AND ts < valid_to — a
    fact exactly on a boundary belongs to the NEW segment), and the
    current segment's NULL valid_to (open-ended, must match). Facts
    before a user's first segment are dropped (inner-join semantics —
    no state existed yet).

    100 TB: the join has an EQUI component (user_id), so it is a plain
    hash/sort-merge join with the interval predicate as a post-join
    filter — never a nested-loop; each user's segment list is bounded
    by their change count, so the per-key fan-out before filtering is
    the dim's per-key cardinality, not the fact count. This is also
    why SCD2 beats snapshot-per-day dims at scale: validity intervals
    keep the dimension linear in CHANGES."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (e.filter(F.col("event_type") == "view")
           .select("user_id", F.col("ts").alias("valid_from"),
                   F.lead("ts").over(w).alias("valid_to"),
                   F.row_number().over(w).cast("bigint").alias("version")))
    facts = (e.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id",
                     F.col("ts").alias("purchase_ts")))
    return (facts.join(dim, "user_id")
            .filter((F.col("purchase_ts") >= F.col("valid_from"))
                    & (F.col("valid_to").isNull()
                       | (F.col("purchase_ts") < F.col("valid_to"))))
            .select("event_id", "user_id",
                    F.col("purchase_ts").cast("timestamp")
                    .alias("purchase_ts"),
                    F.col("version").alias("segment_version"),
                    F.col("valid_from").cast("timestamp")
                    .alias("valid_from")))


@register(
    "e85_packing_utilization",
    oracle=None,  # set below — shares packing's recursive CTE
    tags=("north-star", "llm-pipeline", "packing", "stewardship"),
)
def e85_packing_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-WINDOW UTILIZATION per (lang, shard) — the training-
    efficiency KPI on top of e51's packing: how full the packed
    sequences actually are (utilization_bp = packed tokens ·10⁴ DIV
    (bins · capacity)). Utilization is what the packing capacity knob
    is TUNED against — a corpus packing at 60% wastes 40% of every
    training FLOP on padding; e78 reports the same economics for
    inference batching.

    Rides e51's fold (same Arrow boundary, allowlisted) + one bounded
    aggregate; the oracle extends the shared recursive-CTE fold. All
    ratios are exact integer DIV (d112)."""
    from pyspark_ml_features_spark.functions.text import tokens
    from pyspark_ml_features_spark.operators.packing import (
        GREEDY_PACK_CAP,
        greedy_pack,
    )

    d = table(spark, sf_dir, "documents")
    base = d.select("lang", (F.col("doc_id") % 4).alias("shard"),
                    "doc_id",
                    F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    packed = greedy_pack(base, GREEDY_PACK_CAP)
    return (packed.groupBy("lang", "shard")
            .agg(F.max("bin_id").cast("bigint").alias("n_bins"),
                 F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("sum_tokens"))
            .select("lang", "shard", "n_bins", "n_docs", "sum_tokens",
                    F.expr(f"CAST(CAST(sum_tokens AS DECIMAL(38,0))"
                           f" * 10000 DIV (n_bins * {GREEDY_PACK_CAP})"
                           f" AS BIGINT)").alias("utilization_bp")))


def _install_e85_oracle() -> None:
    """e85's oracle shares packing's recursive-CTE fold; installed after
    registration to avoid importing packing at module top (stewardship
    must stay the LAST registrations of the import graph)."""
    from pyspark_ml_features_spark.operators.packing import (
        GREEDY_PACK_CAP,
        _GREEDY_PACK_CTE,
    )
    from pyspark_ml_features_spark.registry import _REGISTRY

    _REGISTRY["e85_packing_utilization"].oracle = _GREEDY_PACK_CTE + f"""
SELECT lang, shard,
       CAST(max(bin_id) AS BIGINT) AS n_bins,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(n_tokens)::HUGEINT * 10000
            // (max(bin_id) * {GREEDY_PACK_CAP}) AS BIGINT)
           AS utilization_bp
FROM pack GROUP BY lang, shard
"""


_install_e85_oracle()


@register(
    "d126_time_to_convert",
    oracle="""
WITH su AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
), pu AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
), conv AS (
    SELECT date_trunc('week', t0) AS cohort_week,
           CAST(date_diff('second', t0, t1) AS DOUBLE) AS sec
    FROM su JOIN pu USING (user_id) WHERE t1 > t0
)
SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(count(*) AS BIGINT) AS n_converted,
       median(sec) AS median_seconds,
       quantile_cont(sec, 0.9) AS p90_seconds
FROM conv GROUP BY cohort_week
""",
    tags=("engine", "funnel", "temporal", "stats"),
)
def d126_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution per signup cohort: for users whose
    first purchase FOLLOWS their first signup, the median and p90
    seconds from signup to conversion, grouped by signup week — the
    timing half of the funnel family (d42/e28 count WHO converts; this
    measures HOW FAST, which is what activation experiments move).

    Parity mechanics: the interval is whole SECONDS as exact integers
    (Spark's unix_timestamp floors both endpoints; DuckDB's
    date_diff('second') counts the same boundary crossings), cast to
    DOUBLE once before the order statistics — Spark median/percentile
    bit-match DuckDB median/quantile_cont on doubles (the d51 probe).
    Users converting at-or-before signup (data glitches) are excluded
    on both sides.

    100 TB: two per-user min-aggregates (one shuffle each, map-side
    combined), a user-key join, then a cohort-sized aggregate — event
    volume collapses at the first aggregate."""
    e = table(spark, sf_dir, "events")
    su = (e.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("t0")))
    pu = (e.filter(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    conv = (su.join(pu, "user_id")
            .filter(F.col("t1") > F.col("t0"))
            .select(F.date_trunc("week", "t0").alias("cohort_week"),
                    (F.unix_timestamp("t1") - F.unix_timestamp("t0"))
                    .cast("double").alias("sec")))
    return (conv.groupBy("cohort_week")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_converted"),
                 F.median("sec").alias("median_seconds"),
                 F.percentile("sec", 0.9).alias("p90_seconds"))
            .select(F.col("cohort_week").cast("timestamp")
                    .alias("cohort_week"),
                    "n_converted", "median_seconds", "p90_seconds"))
