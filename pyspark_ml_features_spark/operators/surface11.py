"""Round-11 surface: the quality-filter CHAIN audit (VERDICT r10 item 6
— the one §2-F family member the r10 plan named but didn't land) and the
driver-graded large-star/small-star connected-components variant
(VERDICT r10 item 5). Both follow the composition-oracle doctrine: chain
several already-graded operators and grade a property the chain must
preserve — a corpus partition for e108, closure equality for e109.

Reference: the reference repo (six MLlib utilities,
spark_ml_features.py:1-315) has none of this surface; SURVEY §2-E/§2-F
north-star scope (quality filtering, dedup, graph clustering composed).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark_ml_features_spark.functions.text import tokens
from pyspark_ml_features_spark.operators.textops import (
    _GOPHER_STOP_SQL,
    GOPHER_STOPWORDS,
)
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "e108_quality_filter_chain_audit",
    oracle=f"""
WITH d AS (
    SELECT doc_id, lang, coalesce(text, '') AS text, n_chars
    FROM documents
), g AS (
    SELECT doc_id, lang, text, n_chars,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens_raw,
           CAST(len(list_filter(str_split(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_words,
           CASE WHEN len(list_filter(str_split(text, ' '),
                                     t -> t <> '')) >= 1 THEN
               round(list_sum(list_transform(
                         list_filter(str_split(text, ' '), t -> t <> ''),
                         t -> length(t)))
                     / len(list_filter(str_split(text, ' '),
                                       t -> t <> '')), 6) END AS mwl,
           CASE WHEN len(list_filter(str_split(text, ' '),
                                     t -> t <> '')) >= 1 THEN
               round(len(list_filter(str_split(text, ' '),
                         t -> regexp_matches(t, '[a-z]')))
                     / len(list_filter(str_split(text, ' '),
                                       t -> t <> '')), 6) END AS fa,
           CAST(len(list_intersect(
                    list_distinct(list_filter(str_split(text, ' '),
                                              t -> t <> '')),
                    {_GOPHER_STOP_SQL}))
                AS BIGINT) AS ns
    FROM d
), gk AS (
    SELECT *, (n_words >= 50 AND n_words <= 100000
               AND mwl >= 3 AND mwl <= 10
               AND fa >= 0.8 AND ns >= 2) AS gopher_keep
    FROM g
), bands AS (
    SELECT lang, quantile_cont(n_tokens_raw, 0.05) AS lo_p05,
           quantile_cont(n_tokens_raw, 0.95) AS hi_p95
    FROM gk WHERE gopher_keep GROUP BY lang
), lk AS (
    SELECT gk.*,
           (gopher_keep AND coalesce(n_tokens_raw >= lo_p05
                                     AND n_tokens_raw <= hi_p95, FALSE))
               AS len_keep
    FROM gk LEFT JOIN bands ON gk.lang = bands.lang
), surv AS (
    SELECT nt, doc_id AS surviving_doc FROM (
        SELECT lower(trim(text)) AS nt, doc_id,
               row_number() OVER (PARTITION BY lower(trim(text))
                                  ORDER BY n_chars DESC, doc_id ASC)
                   AS rk
        FROM lk WHERE len_keep)
    WHERE rk = 1
)
SELECT lk.doc_id,
       CASE WHEN NOT gopher_keep THEN 'gopher_reject'
            WHEN NOT len_keep THEN 'length_reject'
            WHEN lk.doc_id = s.surviving_doc THEN 'kept'
            ELSE 'dup_reject' END AS stage,
       CAST(coalesce(CASE WHEN len_keep THEN s.surviving_doc END, -1)
            AS BIGINT) AS surviving_doc
FROM lk LEFT JOIN surv s ON lower(trim(lk.text)) = s.nt
""",
    tags=("north-star", "llm-pipeline", "quality", "dedup",
          "integration"),
)
def e108_quality_filter_chain_audit(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """QUALITY-FILTER CHAIN with a full-corpus DISPOSITION AUDIT — the
    three graded curation stages run as one pipeline, in pipeline order:

    1. t16's Gopher rule bundle (word-count bounds, mean word length,
       alpha-word fraction, stopword hits) rejects raw junk;
    2. e86's per-language [p5, p95] length band — recomputed over the
       GOPHER SURVIVORS, which is what makes this a true chain rather
       than three independent flags: the band thresholds themselves
       depend on stage 1's output;
    3. e34's quality-aware exact dedup (keep longest, ties to lowest
       doc_id) elects one survivor per normalized-text group among the
       stage-2 survivors.

    The output is the AUDIT every production curation run must be able
    to produce: EVERY corpus document exactly once, labeled with the
    first stage that rejected it ('gopher_reject' → 'length_reject' →
    'dup_reject') or 'kept', plus the surviving doc of its content
    group when it reached dedup (-1 sentinel otherwise, keeping the
    column BIGINT across engines). The oracle replays the identical
    chain in DuckDB, so the hash pins the corpus-partition property
    (sum of stage counts == corpus count, no doc dropped or
    double-counted) AND per-doc attribution — a band computed over the
    wrong survivor set, a flag flipped by rounding drift, or a dedup
    tie broken differently each moves at least one doc across stages
    and breaks it. NULL text coalesces to '' on both sides (the e105
    rule).

    100 TB: stage 1 is per-row codegen, no shuffle; stage 2 is one
    langs-sized aggregate (exact percentile here; approxQuantile at
    corpus scale, b6→b6b's documented swap) broadcast back; stage 3
    is ONE shuffle on the normalized-text key (or its fingerprint,
    e34's note) plus the survivor join on the same key — the audit
    costs the same two corpus shuffles the bare dedup does.

    Cites: textops.py:t16_gopher_rules, curation7.py:e86_length_band_trim,
    dedup.py:e34_quality_dedup."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.coalesce(F.col("text"), F.lit("")).alias("text"), "n_chars")
    toks = F.filter(tokens("text"), lambda t: t != "")
    stop = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    g = d.select(
        "doc_id", "lang", "text", "n_chars",
        F.size(tokens("text")).cast("bigint").alias("n_tokens_raw"),
        F.size(toks).cast("bigint").alias("n_words"),
        F.when(F.size(toks) >= 1,
               F.round(F.aggregate(toks, F.lit(0).cast("bigint"),
                                   lambda a, t: a + F.length(t))
                       / F.size(toks), 6)).alias("mwl"),
        F.when(F.size(toks) >= 1,
               F.round(F.size(F.filter(toks,
                                       lambda t: t.rlike("[a-z]")))
                       / F.size(toks), 6)).alias("fa"),
        F.size(F.array_intersect(F.array_distinct(toks), stop))
        .cast("bigint").alias("ns"))
    gk = g.withColumn(
        "gopher_keep",
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (F.col("mwl") >= 3) & (F.col("mwl") <= 10)
        & (F.col("fa") >= 0.8) & (F.col("ns") >= 2))
    bands = (gk.filter("gopher_keep").groupBy("lang")
             .agg(F.percentile("n_tokens_raw", F.lit(0.05))
                  .alias("lo_p05"),
                  F.percentile("n_tokens_raw", F.lit(0.95))
                  .alias("hi_p95")))
    # the band comparison coalesces to FALSE so len_keep is never NULL:
    # a Gopher-passing doc whose lang has no band row (NULL lang, or a
    # lang with zero survivors) is a LENGTH reject — without the
    # coalesce, three-valued logic would skip the `WHEN NOT len_keep`
    # arm and mislabel it 'dup_reject' (r11 review finding; both
    # engines replay the same coalesce so the semantics, not just the
    # hash, are right)
    lk = (gk.join(F.broadcast(bands), "lang", "left")
          .withColumn("len_keep",
                      F.col("gopher_keep")
                      & F.coalesce(
                          (F.col("n_tokens_raw") >= F.col("lo_p05"))
                          & (F.col("n_tokens_raw") <= F.col("hi_p95")),
                          F.lit(False)))
          .withColumn("nt", F.lower(F.trim(F.col("text")))))
    # the flagged corpus feeds TWO branches (survivor election + the
    # final disposition join) and AQE does not reuse cross-branch
    # exchanges (the e81 finding) — materialize once; the
    # pre-truncation lineage joins the fixpoint-internal plan ratchet
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    lk = probe_checkpoint(lk, "e108.flags")
    # e34's struct-max survivor election: argmax(n_chars, then min
    # doc_id) in one map-side-combinable aggregate — no window
    surv = (lk.filter("len_keep").groupBy("nt")
            .agg(F.max(F.struct(F.col("n_chars"),
                                (-F.col("doc_id")).alias("neg")))
                 .alias("best"))
            .select("nt", (-F.col("best.neg")).alias("surviving_doc")))
    out = lk.join(surv, "nt", "left")
    return out.select(
        "doc_id",
        F.when(~F.col("gopher_keep"), F.lit("gopher_reject"))
        .when(~F.col("len_keep"), F.lit("length_reject"))
        .when(F.col("doc_id") == F.col("surviving_doc"), F.lit("kept"))
        .otherwise(F.lit("dup_reject")).alias("stage"),
        F.coalesce(F.when(F.col("len_keep"), F.col("surviving_doc")),
                   F.lit(-1)).cast("bigint").alias("surviving_doc"))


@register(
    "e109_dup_clusters_cc_star",
    oracle="""
WITH RECURSIVE sub AS (
    SELECT doc_id, list_distinct(str_split(text, ' ')) AS sh
    FROM documents WHERE doc_id % 5 = 0
), sizes AS (
    SELECT doc_id, len(sh) AS n_sh FROM sub
), inv AS (
    SELECT doc_id, unnest(sh) AS shingle FROM sub
), shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), pairs AS (
    SELECT d1, d2 FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.5
), edges AS (
    SELECT d1 AS src, d2 AS dst FROM pairs
    UNION ALL
    SELECT d2 AS src, d1 AS dst FROM pairs
), reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM sub
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), cc AS (
    SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
), sz AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM cc GROUP BY cluster_id
)
SELECT cc.doc_id, cc.cluster_id, sz.cluster_size
FROM cc JOIN sz USING (cluster_id)
""",
    tags=("north-star", "E1", "dedup", "graph", "iterative"),
)
def e109_dup_clusters_cc_star(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """e45's duplicate-cluster assignment computed by the LARGE-STAR /
    SMALL-STAR algorithm (graph.py:connected_components_star, Kiveris
    et al. SoCC'14) instead of min-label propagation — the O(log n)
    bound the min-label docstring has cited since r1, now implemented
    and DRIVER-GRADED: the oracle is the same recursive-CTE transitive
    closure that grades e45, so a green hash is a cross-engine proof
    that star contraction computes the exact component minima on the
    real near-dup graph (pair graph, cluster ids, and sizes all
    bit-match). Equality with the min-label fixpoint across topology
    classes — paths, bridges, cliques, random graphs — is pinned in
    tests/test_graph_star.py; round counts on long chains are measured
    side by side in scripts/stress_cc.py's ladder (4096-node path:
    13 rounds for both variants — see connected_components_star's
    docstring for the honest reading: star buys the proven bound, not
    an empirical chain speedup over jumped min-label).

    100 TB: each star round is two groupBy+join shuffles on node id —
    the same per-round shape as a min-label round — and the round count
    is PROVABLY O(log n) on any topology: min-label stays the default
    for tiny-diameter near-dup graphs, this variant bounds the
    adversarial case (web link graphs, citation chains)."""
    from pyspark_ml_features_spark.operators.graph import (
        connected_components_star,
        dup_cluster_assignment,
    )

    # e45's exact pipeline with only the CC algorithm swapped — the
    # shared helper guarantees the two graded queries differ in
    # nothing but the algorithm under test
    return dup_cluster_assignment(spark, sf_dir,
                                  connected_components_star)


def _e110_oracle() -> str:
    from pyspark_ml_features_spark.functions.text import duckdb_rolling_hash
    from pyspark_ml_features_spark.operators.packing import GREEDY_PACK_CAP
    from pyspark_ml_features_spark.operators.quality import (
        BLOOM_FNS,
        BLOOM_M,
    )

    h = duckdb_rolling_hash("coalesce(text, '')")
    pos_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, (h * {p} + {q}) % {BLOOM_M} AS pos FROM hashed"
        for p, q in BLOOM_FNS)
    return f"""
WITH RECURSIVE hashed AS (
    SELECT doc_id, text, {h} AS h FROM documents
), pos AS (
{pos_rows}
), bloom AS (
    SELECT DISTINCT pos FROM pos WHERE doc_id % 5 = 0
), corpus_pos AS (
    SELECT DISTINCT doc_id, pos FROM pos WHERE doc_id % 5 <> 0
), hits AS (
    SELECT c.doc_id, count(*) AS n_pos, count(b.pos) AS n_hit
    FROM corpus_pos c LEFT JOIN bloom b ON c.pos = b.pos
    GROUP BY c.doc_id
), flags AS (
    SELECT d.doc_id, d.lang, d.doc_id % 4 AS shard,
           CAST(len(string_split(coalesce(d.text, ''), ' ')) AS BIGINT)
               AS n_tokens,
           CAST(h.n_hit = h.n_pos AS BIGINT) AS contaminated
    FROM documents d JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 5 <> 0
), docs AS (
    SELECT lang, shard, doc_id, n_tokens,
           row_number() OVER (PARTITION BY lang, shard
                              ORDER BY doc_id) AS rn
    FROM flags WHERE contaminated = 0
), pack AS (
    SELECT lang, shard, doc_id, n_tokens, rn,
           CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tokens, d.rn,
           CASE WHEN p.fill + d.n_tokens > {GREEDY_PACK_CAP}
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + d.n_tokens > {GREEDY_PACK_CAP}
                THEN d.n_tokens ELSE p.fill + d.n_tokens END
    FROM pack p JOIN docs d ON d.lang = p.lang AND d.shard = p.shard
                           AND d.rn = p.rn + 1
)
SELECT f.doc_id, f.lang, f.shard, f.n_tokens, f.contaminated,
       CAST(coalesce(p.bin_id, -1) AS BIGINT) AS bin_id
FROM flags f LEFT JOIN pack p ON f.doc_id = p.doc_id
"""


@register(
    "e110_decontam_pack_audit",
    oracle=_e110_oracle(),
    tags=("north-star", "llm-pipeline", "decontamination", "packing",
          "integration"),
)
def e110_decontam_pack_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """DECONTAMINATE → PACK chain with a full-corpus audit (the r12-plan
    composition pulled forward): e52's Bloom decontamination flags every
    corpus document against the benchmark slice (doc_id % 5 = 0, the e27
    convention), and ONLY the clean survivors flow into e51's
    capacity-respecting greedy packing fold — the two steps every
    training-data build runs back to back, chained so the packing's
    per-(lang, shard) walk order depends on stage 1's output (drop one
    more doc and every later bin assignment in its shard shifts). The
    output is one row per corpus doc — contaminated docs carry
    bin_id = -1, clean docs their real bin — so the hash pins, at once:
    the Bloom membership arithmetic (e52), the first-fit fold with
    capacity resets (e51), AND the partition property (no doc dropped or
    packed twice; a contaminated doc leaking into packing renumbers its
    whole shard). The DuckDB oracle replays the chain with the same
    bloom CTE and the recursive first-fit fold over the FILTERED doc
    set.

    100 TB: stage 1 is one corpus scan + broadcast m-bit membership
    (zero corpus-text shuffles, e52's economics); stage 2 shuffles only
    (lang, shard, doc_id, n_tokens) — text never crosses the Arrow
    boundary, and the shard knob bounds per-task state (e51's measured
    ladder). The flags table feeds two branches (the pack input and the
    final audit join) and is checkpointed once (the e81 rule).

    Cites: quality.py:e52_bloom_decontaminate, packing.py:greedy_pack."""
    from pyspark_ml_features_spark.functions.text import rolling_hash
    from pyspark_ml_features_spark.operators.packing import (
        GREEDY_PACK_CAP,
        greedy_pack,
    )
    from pyspark_ml_features_spark.operators.quality import (
        BLOOM_FNS,
        BLOOM_M,
    )
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    d = table(spark, sf_dir, "documents")
    # NULL text coalesces to '' on BOTH sides (the e105/e108 rule): a NULL
    # doc otherwise yields NULL n_tokens, which would reach greedy_pack's
    # bigint Arrow schema as NaN — an engine-only failure the SQL oracle
    # would not reproduce.
    text = F.coalesce(F.col("text"), F.lit(""))
    hashed = d.select("doc_id", rolling_hash(text).alias("h"))
    pos = hashed.select(
        "doc_id",
        F.explode(F.array(*[
            ((F.col("h") * p + q) % BLOOM_M).alias(f"p{i}")
            for i, (p, q) in enumerate(BLOOM_FNS)])).alias("pos"))
    bloom = (pos.filter(F.col("doc_id") % 5 == 0)
             .select("pos").distinct())
    corpus_pos = (pos.filter(F.col("doc_id") % 5 != 0)
                  .select("doc_id", "pos").distinct())
    hits = (corpus_pos.join(F.broadcast(bloom.withColumn("hit", F.lit(1))),
                            "pos", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_pos"),
                 F.count("hit").alias("n_hit")))
    flags = (d.filter(F.col("doc_id") % 5 != 0)
             .select("doc_id", "lang",
                     (F.col("doc_id") % 4).alias("shard"),
                     F.size(tokens(text)).cast("bigint")
                     .alias("n_tokens"))
             .join(hits, "doc_id")
             .withColumn("contaminated",
                         (F.col("n_hit") == F.col("n_pos"))
                         .cast("bigint"))
             .drop("n_pos", "n_hit"))
    flags = probe_checkpoint(flags, "e110.flags")
    packed = greedy_pack(
        flags.filter(F.col("contaminated") == 0)
        .select("lang", "shard", "doc_id", "n_tokens"),
        GREEDY_PACK_CAP).select("doc_id", "bin_id")
    return (flags.join(packed, "doc_id", "left")
            .select("doc_id", "lang", "shard", "n_tokens", "contaminated",
                    F.coalesce("bin_id", F.lit(-1)).cast("bigint")
                    .alias("bin_id")))


def _e111_oracle() -> str:
    from pyspark_ml_features_spark.operators.curation7 import (
        LANGID_PRED_CTE,
    )

    return LANGID_PRED_CTE + """
, toks AS (
    SELECT p.doc_id, p.predicted_lang,
           CAST(len(list_filter(str_split(d.text, ' '), t -> t <> ''))
                AS BIGINT) AS nt
    FROM pred p JOIN documents d ON d.doc_id = p.doc_id
), per AS (
    SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM toks GROUP BY predicted_lang
), t AS (
    SELECT predicted_lang, n_docs, n_tokens,
           sum(n_tokens) OVER () AS total,
           CASE predicted_lang
                WHEN 'en' THEN 4000 WHEN 'de' THEN 1500
                WHEN 'es' THEN 1500 WHEN 'fr' THEN 1500
                WHEN 'zh' THEN 1500 ELSE 0 END AS target_bp
    FROM per
)
SELECT predicted_lang, n_docs, n_tokens,
       CAST(10000 * n_tokens // total AS BIGINT) AS actual_share_bp,
       CAST(target_bp AS BIGINT) AS target_bp,
       CAST(100 * target_bp * total // n_tokens AS BIGINT) AS weight_ppm,
       CAST((target_bp * total + 10000 * n_tokens - 1)
            // (10000 * n_tokens) AS BIGINT) AS epochs
FROM t
"""


@register(
    "e111_langid_mix_chain",
    oracle=_e111_oracle(),
    tags=("north-star", "llm-pipeline", "langid", "mixing",
          "integration"),
)
def e111_langid_mix_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID → MIXTURE-REBALANCE chain (the last composition class
    the r12 plan named): t18's Cavnar-Trenkle predictions assign each
    held-out document a PREDICTED language, and e57's mixture arithmetic
    then runs over those predictions instead of the labeled lang column
    — the production order of operations (real corpora arrive
    unlabeled; the mixture you can actually sample is over what the
    classifier SAYS, so rebalance weights must be computed downstream
    of language ID). The chain is load-bearing: one flipped prediction
    moves a document's tokens between languages and changes two output
    rows' counts, shares, and weights at once. All arithmetic is
    INTEGER fixed-point (shares in basis points via 10000·n DIV total,
    weights in ppm via 100·target_bp·total DIV n_tokens, epochs as an
    integer ceiling) — the d112 rule: BIGINT ratios must never round a
    float quotient behind an exact oracle. The oracle replays the
    prediction CTE (LANGID_PRED_CTE, the same block that grades t18)
    plus the mixture query; langid_predictions is the same Spark helper
    t18 returns, so neither stage can drift from its graded
    single-stage twin.

    100 TB: stage 1 is t18's economics (langs×K profile broadcast, one
    held-out explode); stage 2 adds one doc_id join to fetch token
    counts and one |predicted-langs|-row aggregate — the global-total
    window runs over that bounded aggregate, never data.

    Cites: curation7.py:t18_char_ngram_langid (langid_predictions),
    packing.py:e57_lang_mix_rebalance."""
    from pyspark_ml_features_spark.operators.curation7 import (
        langid_predictions,
    )

    preds = langid_predictions(spark, sf_dir).select(
        "doc_id", "predicted_lang")
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda t: t != ""))
        .cast("bigint").alias("nt"))
    per = (preds.join(d, "doc_id")
           .groupBy("predicted_lang")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("nt").cast("bigint").alias("n_tokens")))
    from pyspark.sql import Window

    target = (F.when(F.col("predicted_lang") == "en", F.lit(4000))
              .when(F.col("predicted_lang").isin("de", "es", "fr", "zh"),
                    F.lit(1500))
              .otherwise(F.lit(0)).cast("bigint"))
    t = (per.withColumn("total",
                        F.sum("n_tokens").over(Window.partitionBy()))
         .withColumn("target_bp", target))
    return t.select(
        "predicted_lang", "n_docs", "n_tokens",
        F.expr("CAST(10000L * n_tokens DIV total AS BIGINT)")
        .alias("actual_share_bp"),
        "target_bp",
        F.expr("CAST(100L * target_bp * total DIV n_tokens AS BIGINT)")
        .alias("weight_ppm"),
        F.expr("CAST((target_bp * total + 10000L * n_tokens - 1) "
               "DIV (10000L * n_tokens) AS BIGINT)").alias("epochs"))
