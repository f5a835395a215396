"""Round-7 curation & engine surface: quantile-band length trimming,
modality-coverage reporting, pipe-syntax join+window, n-gram novelty
scoring, balanced output sharding, char-n-gram language ID, chunk-level
dedup stats, and a null-semantics conditional matrix.

Fills the families VERDICT r6 task 7 called thin: E5/E6 get second
representatives (e87 modality coverage), D18 a second representative
(d128 null matrix), the d121 pipe-syntax surface gains a join+window
variant (d127), and the brief's "language-ID (n-gram heuristic)" gets a
true character-n-gram implementation (t18 — t1 is marker-word based).

Reference: the reference repo (six MLlib utilities,
spark_ml_features.py:1-315) has no curation surface; SURVEY §2-E
north-star scope.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.functions.text import tokens, word_ngrams
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "e86_length_band_trim",
    oracle="""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), b AS (
    SELECT lang, quantile_cont(n_tokens, 0.05) AS lo_p05,
           quantile_cont(n_tokens, 0.95) AS hi_p95
    FROM t GROUP BY lang
)
SELECT doc_id, t.lang, n_tokens, lo_p05, hi_p95,
       CAST(n_tokens >= lo_p05 AND n_tokens <= hi_p95 AS BIGINT) AS keep
FROM t JOIN b ON t.lang = b.lang
""",
    tags=("north-star", "llm-pipeline", "quality", "quantile"),
)
def e86_length_band_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE LENGTH-BAND trimming (winsorize-style curation): flag
    every document outside its language's [p5, p95] token-count band —
    the standard "drop the pathologically short/long tail" filter run
    per language because length distributions differ across languages.

    Exact interior-interpolation percentile (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, bit-match probed in d51); the per-lang
    band table is langs-sized and BROADCASTS back onto the corpus.

    100 TB: one hash aggregate to the per-lang bands (exact percentile
    buffers per-lang values — at corpus scale swap in approxQuantile
    exactly like b6→b6b; the band JOIN-BACK shape is unchanged), then a
    broadcast join + per-row codegen flag. No second corpus shuffle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    bands = d.groupBy("lang").agg(
        F.percentile("n_tokens", F.lit(0.05)).alias("lo_p05"),
        F.percentile("n_tokens", F.lit(0.95)).alias("hi_p95"))
    return (d.join(F.broadcast(bands), "lang")
            .select("doc_id", "lang", "n_tokens", "lo_p05", "hi_p95",
                    ((F.col("n_tokens") >= F.col("lo_p05"))
                     & (F.col("n_tokens") <= F.col("hi_p95")))
                    .cast("bigint").alias("keep")))


@register(
    "e87_modality_coverage",
    oracle="""
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(e.vec_id) AS BIGINT) AS n_with_vec,
       CAST(10000 * count(e.vec_id) // count(*) AS BIGINT)
           AS coverage_bp,
       CAST(count(DISTINCT e.label) AS BIGINT) AS n_distinct_labels
FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.source
""",
    tags=("north-star", "E6", "multimodal", "stewardship"),
)
def e87_modality_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODALITY-COVERAGE report (E6's second representative): per source,
    how many documents have an embedding-modality row, the coverage in
    basis points, and the label diversity of the covered slice — the
    completeness audit a multimodal training set needs before sampling
    assumes every doc has every modality.

    LEFT join keeps uncovered docs (count(vec_id) skips their NULLs —
    the three-valued-logic behavior the oracle mirrors). Fixed-point
    coverage via 10000L × n DIV total (the d112 integer-ratio rule).

    100 TB: embeddings co-partition with documents on the id key; the
    aggregate is map-side-combinable on the few-valued source column."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id, "left")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count("vec_id").cast("bigint").alias("n_with_vec"),
                 F.count_distinct("label").cast("bigint")
                 .alias("n_distinct_labels"))
            .select("source", "n_docs", "n_with_vec",
                    F.expr("CAST(10000L * n_with_vec DIV n_docs AS BIGINT)")
                    .alias("coverage_bp"),
                    "n_distinct_labels"))


@register(
    "d127_pipe_syntax_join_window",
    oracle="""
WITH a AS (
    SELECT c_mktsegment, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderpriority
)
SELECT c_mktsegment, o_orderpriority, n_orders, sum_cents,
       CAST(rank() OVER (PARTITION BY c_mktsegment
                         ORDER BY n_orders DESC, o_orderpriority)
            AS BIGINT) AS rnk
FROM a
""",
    tags=("engine", "sql", "spark4", "window"),
)
def d127_pipe_syntax_join_window(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX with a JOIN and a post-aggregate WINDOW — d121
    proved the linear FROM→WHERE→AGGREGATE lowering; this extends the
    surface to the two clauses production pipelines actually chain:
    `|> JOIN` (lowered to the same equi-join as the classic form) and a
    window function in a piped SELECT (rank of each order priority
    within its market segment). Tie-break on the priority string keeps
    rank deterministic.

    100 TB: surface syntax only — identical broadcast-able equi-join +
    partial/final aggregate + segment-partitioned window as the ANSI
    form (the oracle)."""
    import os

    pid = os.getpid()
    table(spark, sf_dir, "orders").createOrReplaceTempView(f"ord_p7_{pid}")
    table(spark, sf_dir, "customer").createOrReplaceTempView(f"cus_p7_{pid}")
    return spark.sql(f"""
        FROM ord_p7_{pid}
        |> JOIN cus_p7_{pid} ON o_custkey = c_custkey
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE count(*) AS n_orders, sum(cents) AS sum_cents
           GROUP BY c_mktsegment, o_orderpriority
        |> SELECT c_mktsegment, o_orderpriority,
                  CAST(n_orders AS BIGINT) AS n_orders,
                  CAST(sum_cents AS BIGINT) AS sum_cents,
                  CAST(rank() OVER (PARTITION BY c_mktsegment
                                    ORDER BY n_orders DESC,
                                             o_orderpriority)
                       AS BIGINT) AS rnk
        """)


@register(
    "e88_ngram_novelty",
    oracle="""
WITH t AS (
    SELECT doc_id, str_split(text, ' ') AS tok FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(tok) >= 3 THEN list_transform(
               range(1, len(tok) - 1),
               i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
           ELSE [] END) AS shingles
    FROM t
), ref AS (
    SELECT DISTINCT unnest(shingles) AS shingle FROM sh
    WHERE doc_id % 5 = 0
), corpus AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
    WHERE doc_id % 5 <> 0
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (WHERE r.shingle IS NULL) AS BIGINT) AS n_novel,
       CAST(10000 * count(*) FILTER (WHERE r.shingle IS NULL) // count(*)
            AS BIGINT) AS novelty_bp
FROM corpus c LEFT JOIN ref r ON c.shingle = r.shingle
GROUP BY c.doc_id
""",
    tags=("north-star", "llm-pipeline", "decontamination", "novelty"),
)
def e88_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY score — the inverse of e55's contamination rule:
    for every corpus document, the share of its DISTINCT 3-gram
    shingles that do NOT appear anywhere in the reference slice
    (doc_id % 5 = 0, the e27/e52/e55 benchmark convention). Curation
    ranks by novelty to prefer documents that add new content over ones
    that paraphrase what the corpus already holds.

    Docs with fewer than 3 tokens have no shingles and drop out of the
    explode on both engines (the d72 empty-unnest rule). Fixed-point
    ratio via 10000L × novel DIV total.

    100 TB: the reference shingle set is eval-slice-sized and
    BROADCASTS (same posture as e55's decontamination); the corpus side
    is one explode + one hash aggregate on doc_id — no corpus-×-corpus
    join anywhere."""
    # Token array materialized before the gram lambda (word_ngrams'
    # quadratic-re-evaluation rule; the n<3 guard lives in word_ngrams).
    sh = (table(spark, sf_dir, "documents")
          .select("doc_id", tokens("text").alias("__toks"))
          .select("doc_id",
                  F.array_distinct(word_ngrams("__toks", 3)).alias("sh")))
    ref = (sh.filter(F.col("doc_id") % 5 == 0)
           .select(F.explode("sh").alias("shingle")).distinct()
           .withColumn("hit", F.lit(1)))
    corpus = (sh.filter(F.col("doc_id") % 5 != 0)
              .select("doc_id", F.explode("sh").alias("shingle")))
    return (corpus.join(F.broadcast(ref), "shingle", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                 F.count_if(F.col("hit").isNull()).cast("bigint")
                 .alias("n_novel"))
            .select("doc_id", "n_shingles", "n_novel",
                    F.expr("CAST(10000L * n_novel DIV n_shingles AS BIGINT)")
                    .alias("novelty_bp")))


N_SHARDS = 8


@register(
    "e89_balanced_shards",
    oracle=f"""
WITH t AS (
    SELECT ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 % {N_SHARDS}
               AS shard,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), s AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
    FROM t GROUP BY shard
)
SELECT CAST(shard AS BIGINT) AS shard, n_docs, shard_tokens,
       CAST(10000 * shard_tokens // sum(shard_tokens) OVER () AS BIGINT)
           AS share_bp
FROM s
""",
    tags=("north-star", "llm-pipeline", "sharding", "scale"),
)
def e89_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BALANCED OUTPUT SHARDING report: assign every document to one of
    N_SHARDS output shards by a portable LCG on doc_id (the pipeline
    cluster-split's hash — deterministic on any engine, unlike
    ``hash()`` whose seed differs between Spark and DuckDB) and report
    per-shard doc/token volumes plus each shard's token share in basis
    points — the pre-write audit that catches a skewed shard before
    10^5 writer tasks discover it the slow way.

    100 TB: one map-side-combinable aggregate to N_SHARDS rows; the
    share window runs over the N_SHARDS-row aggregate, not data. The
    key is masked to 31 bits BEFORE the multiply (ADVICE r7), so the
    LCG product is bounded below 2^62 at ANY doc_id — no silent int64
    wrap in non-ANSI Spark, no overflow error in DuckDB."""
    d = table(spark, sf_dir, "documents").select(
        (((F.col("doc_id") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345))
         % F.lit(2147483648) % F.lit(N_SHARDS)).cast("bigint")
        .alias("shard"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    s = d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"))
    return (s.withColumn("total",
                         F.sum("shard_tokens").over(Window.partitionBy()))
            .select("shard", "n_docs", "shard_tokens",
                    F.expr("CAST(10000L * shard_tokens DIV total AS BIGINT)")
                    .alias("share_bp")))


LANGID_TOP_K = 30
LANGID_SCAN_CHARS = 1000

#: the Cavnar-Trenkle prediction pipeline as a reusable CTE block ending
#: in a `pred` relation (doc_id, lang, predicted_lang, best_score) — ONE
#: SQL definition shared by t18's oracle and e111's chain oracle
#: (surface11), mirroring the dup_cluster_assignment single-definition
#: rule so the two graded queries cannot drift in the prediction
#: arithmetic
LANGID_PRED_CTE = f"""
WITH h AS (
    SELECT doc_id, lang, substr(text, 1, {LANGID_SCAN_CHARS}) AS head
    FROM documents
), g AS (
    SELECT doc_id, lang,
           CASE WHEN len(head) >= 3 THEN list_transform(
               range(1, len(head) - 1), i -> substr(head, i, 3))
           ELSE [] END AS gs
    FROM h
), tr AS (
    SELECT lang, unnest(gs) AS gram FROM g WHERE doc_id % 10 < 8
), cnt AS (
    SELECT lang, gram, count(*) AS c FROM tr GROUP BY lang, gram
), prof AS (
    SELECT lang, gram FROM (
        SELECT lang, gram, row_number() OVER (
            PARTITION BY lang ORDER BY c DESC, gram) AS rn
        FROM cnt) WHERE rn <= {LANGID_TOP_K}
), te AS (
    SELECT doc_id, lang, unnest(list_distinct(gs)) AS gram
    FROM g WHERE doc_id % 10 >= 8
), sc AS (
    SELECT te.doc_id, te.lang, prof.lang AS lang2,
           CAST(count(*) AS BIGINT) AS score
    FROM te JOIN prof ON te.gram = prof.gram
    GROUP BY te.doc_id, te.lang, prof.lang
), b AS (
    SELECT doc_id, max(score) AS best FROM sc GROUP BY doc_id
), pred AS (
    SELECT sc.doc_id, sc.lang, max(sc.lang2) AS predicted_lang,
           CAST(b.best AS BIGINT) AS best_score
    FROM sc JOIN b ON sc.doc_id = b.doc_id AND sc.score = b.best
    GROUP BY sc.doc_id, sc.lang, b.best
)
"""


@register(
    "t18_char_ngram_langid",
    oracle=LANGID_PRED_CTE
    + "SELECT doc_id, lang, predicted_lang, best_score FROM pred",
    tags=("north-star", "text-analysis", "langid"),
)
def t18_char_ngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-N-GRAM language ID — the classic Cavnar-Trenkle n-gram
    profile heuristic (the brief's "language-ID (n-gram heuristic)"
    item; t1's marker-word scorer is the dictionary variant). Train
    slice (doc_id % 10 < 8) builds a top-{LANGID_TOP_K} char-trigram
    profile per language (count desc, gram tie-break); each held-out
    doc is scored by how many of its DISTINCT trigrams hit each
    profile, predicted = argmax score with max-lang tie-break (the
    two-level max construction — portable where composite arg_max is
    not). Docs sharing no trigram with any profile drop out (inner
    scoring join) on both engines.

    100 TB: the profile is (langs × K) rows and BROADCASTS; the
    held-out side is one explode + two bounded aggregates (per-doc
    groups ≤ n_langs rows). No corpus-×-corpus work. The corpus-sized
    train explode extracts grams as positions-explode → substring so
    the substring runs inside WHOLE-STAGE CODEGEN — a
    transform()-lambda does the same work interpreted per element
    (~25% slower measured at sf0.1); the held-out side keeps the
    array form because per-doc array_distinct is shuffle-free where a
    row-level DISTINCT would shuffle.

    SCAN WINDOW: language ID reads only the first LANGID_SCAN_CHARS
    characters per doc (the fastText convention — a prefix identifies
    the language as well as the whole document). This is also the
    quadratic bound: ``substring(s, i, 3)`` seeks the char position in
    O(i) (UTF8 boundary walk), so unbounded extraction is O(chars²)
    per doc — invisible at the fixture's ~300 chars, real on 100 KB
    web documents. The cap makes per-doc cost O(min(chars, W)²) with
    W fixed; identical results (and hashes) on any doc shorter than
    the window, mirrored as substr(text, 1, W) in the oracle."""
    return langid_predictions(spark, sf_dir)


def langid_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t18's prediction pipeline as a reusable helper — (doc_id, lang,
    predicted_lang, best_score) for the held-out slice; the ONE Spark
    definition shared by t18 and e111's chain (surface11), paired with
    LANGID_PRED_CTE on the SQL side."""
    # fan_out: trigram extraction is O(min(chars, W)^2) per doc on both
    # the train and held-out lineages; the unsplittable single-row-group
    # scan otherwise runs every extraction on one task.
    d = fan_out(table(spark, sf_dir, "documents")
                .select("doc_id", "lang",
                        F.substring("text", 1, LANGID_SCAN_CHARS)
                        .alias("head")), "doc_id")
    grams = F.when(
        F.length("head") >= 3,
        F.transform(F.sequence(F.lit(1), F.length("head") - 2),
                    lambda i: F.substring(F.col("head"), i, F.lit(3))),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", "lang", grams.alias("gs"))
    cnt = (d.filter((F.col("doc_id") % 10 < 8) & (F.length("head") >= 3))
           .select("lang", "head",
                   F.explode(F.sequence(F.lit(1), F.length("head") - 2))
                   .alias("i"))
           .select("lang", F.expr("substring(head, i, 3)").alias("gram"))
           .groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "gram")
    prof = (cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= LANGID_TOP_K)
            .select(F.col("lang").alias("lang2"), "gram"))
    te = (g.filter(F.col("doc_id") % 10 >= 8)
          .select("doc_id", "lang",
                  F.explode(F.array_distinct("gs")).alias("gram")))
    sc = (te.join(F.broadcast(prof), "gram")
          .groupBy("doc_id", "lang", "lang2")
          .agg(F.count(F.lit(1)).cast("bigint").alias("score")))
    wb = Window.partitionBy("doc_id")
    return (sc.withColumn("best", F.max("score").over(wb))
            .filter(F.col("score") == F.col("best"))
            .groupBy("doc_id", "lang", "best")
            .agg(F.max("lang2").alias("predicted_lang"))
            .select("doc_id", "lang", "predicted_lang",
                    F.col("best").cast("bigint").alias("best_score")))


DEDUP_CHUNK = 32


@register(
    "e90_chunk_dedup_stats",
    oracle=f"""
WITH t AS (
    SELECT source, str_split(text, ' ') AS tok FROM documents
), c AS (
    SELECT source,
           array_to_string(list_slice(tok, i, i + {DEDUP_CHUNK} - 1), ' ')
               AS chunk
    FROM t, unnest(range(1, len(tok) + 1, {DEDUP_CHUNK})) AS u(i)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct_chunks,
       CAST((count(*) - count(DISTINCT chunk)) * 10000 // count(*)
            AS BIGINT) AS dup_bp
FROM c GROUP BY source
""",
    tags=("north-star", "llm-pipeline", "dedup", "chunking"),
)
def e90_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-LEVEL duplication stats: cut every document into
    non-overlapping {DEDUP_CHUNK}-token chunks (e23's slicing at stride
    = size) and measure per-source chunk duplication — the granularity
    between e1's whole-document and e31's line-level dedup, and the one
    that matters when training consumes fixed-context chunks rather
    than documents: a corpus can be document-unique yet feed the model
    the same chunk thousands of times.

    100 TB: explode is linear in corpus tokens; the distinct-count
    aggregate shuffles (source, chunk) once — production swaps the
    chunk string for its 64-bit fingerprint exactly as e36 does for
    documents (kept as the string here for oracle exactness, the e80
    adjudication)."""
    # Token array materialized before the chunk lambda (word_ngrams'
    # quadratic-re-evaluation rule in functions/text.py).
    d = (table(spark, sf_dir, "documents")
         .select("source", tokens("text").alias("__toks")))
    t = F.col("__toks")
    starts = F.sequence(F.lit(1), F.size(t), F.lit(DEDUP_CHUNK))
    chunks = F.transform(starts,
                         lambda i: F.concat_ws(" ",
                                               F.slice(t, i, DEDUP_CHUNK)))
    c = d.select("source", F.explode(chunks).alias("chunk"))
    return (c.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                 F.count_distinct("chunk").cast("bigint")
                 .alias("n_distinct_chunks"))
            .select("source", "n_chunks", "n_distinct_chunks",
                    F.expr(f"CAST((n_chunks - n_distinct_chunks) * 10000L "
                           f"DIV n_chunks AS BIGINT)").alias("dup_bp")))


@register(
    "d128_conditional_null_matrix",
    oracle="""
WITH r AS (
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS r_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS r_cents
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
), j AS (
    SELECT o_orderpriority,
           CASE WHEN r.r_items IS NULL THEN 'no_returns'
                WHEN r.r_items > 2 THEN 'heavy' ELSE 'light' END AS flag,
           coalesce(r.r_cents, 0) * 10000
               // nullif(CAST(round(o_totalprice * 100) AS BIGINT), 0)
               AS ratio_bp
    FROM orders o LEFT JOIN r ON o.o_orderkey = r.l_orderkey
)
SELECT o_orderpriority, flag,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(ratio_bp) AS BIGINT) AS sum_ratio_bp
FROM j GROUP BY o_orderpriority, flag
""",
    tags=("engine", "D18", "conditional", "null-semantics"),
)
def d128_conditional_null_matrix(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """NULL-SEMANTICS conditional matrix (D18's second representative):
    orders LEFT-joined to their returned-items rollup produce REAL
    NULLs (most orders have no 'R' lineitems), then the full
    conditional toolkit works over them — a NULL-aware CASE bucketing,
    ``coalesce`` defaulting, and ``nullif`` div-by-zero guarding — all
    aggregated into a priority × flag matrix. Fixed-point return-value
    share via integer DIV (the d112 rule; operands positive).

    100 TB: the returns rollup is a partial-aggregated shuffle on
    orderkey; the join is the orders⋈lineitem equi-join every TPC-H
    query shapes; the final matrix is tiny."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    r = (li.filter(F.col("l_returnflag") == "R")
         .groupBy("l_orderkey")
         .agg(F.count(F.lit(1)).cast("bigint").alias("r_items"),
              F.sum(F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint")).cast("bigint").alias("r_cents")))
    j = (o.join(r, o.o_orderkey == r.l_orderkey, "left")
         .select("o_orderpriority",
                 F.when(F.col("r_items").isNull(), "no_returns")
                 .when(F.col("r_items") > 2, "heavy")
                 .otherwise("light").alias("flag"),
                 F.expr("coalesce(r_cents, 0L) * 10000L DIV "
                        "nullif(CAST(round(o_totalprice * 100) AS BIGINT), "
                        "0L)").alias("ratio_bp")))
    return (j.groupBy("o_orderpriority", "flag")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum("ratio_bp").cast("bigint").alias("sum_ratio_bp")))


@register(
    "e91_temperature_mixture",
    oracle="""
WITH lt AS (
    SELECT lang,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS lang_tokens
    FROM documents GROUP BY lang
), tot AS (
    SELECT CAST(sum(lang_tokens) AS BIGINT) AS total,
           list_reduce(list_sort(list(sqrt(lang_tokens))),
                       (a, x) -> a + x) AS sum_r
    FROM lt
)
SELECT lang, lang_tokens,
       round(CAST(lang_tokens AS DOUBLE) / total, 6) AS share_6dp,
       round(sqrt(lang_tokens) / sum_r, 6) AS temp_share_6dp,
       round((sqrt(lang_tokens) / sum_r)
             / (CAST(lang_tokens AS DOUBLE) / total), 6) AS boost_6dp
FROM lt, tot
""",
    tags=("north-star", "llm-pipeline", "mixture", "sampling"),
)
def e91_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED mixture reweighting (the multilingual-sampling
    rule: sample language i with probability ∝ share_i^α, α = 0.5): the
    sub-linear exponent upsamples low-resource languages relative to
    their raw token share — the standard fix for high-resource languages
    drowning the mixture. e57 rebalances to an EQUAL target; this is the
    smooth interpolation between natural (α=1) and equal (α=0).

    Exactness: α = 0.5 means ``sqrt`` — IEEE-correctly-rounded on both
    engines (algebraic, unlike the banned libm transcendentals), and
    sqrt(lang_tokens) of an exact BIGINT is bit-identical. The one
    cross-row float sum (Σ√tokens) is made order-deterministic by an
    explicit left fold over the SORTED value list on BOTH engines (the
    parity-rules fold discipline); final ratios round to 6 dp (the e48
    cross-row rule).

    100 TB: one map-side-combinable aggregate to n_langs rows; the fold
    runs over an n_langs-sized array broadcast in a 1-row crossJoin."""
    lt = (table(spark, sf_dir, "documents")
          .groupBy("lang")
          .agg(F.sum(F.size(tokens("text")).cast("bigint"))
               .cast("bigint").alias("lang_tokens")))
    tot = (lt.agg(F.sum("lang_tokens").cast("bigint").alias("total"),
                  F.collect_list(F.sqrt("lang_tokens")).alias("rs"))
           .select("total",
                   F.aggregate(F.array_sort("rs"), F.lit(0.0),
                               lambda a, x: a + x).alias("sum_r")))
    return (lt.crossJoin(F.broadcast(tot))
            .select("lang", "lang_tokens",
                    F.round(F.col("lang_tokens").cast("double")
                            / F.col("total"), 6).alias("share_6dp"),
                    F.round(F.sqrt("lang_tokens") / F.col("sum_r"), 6)
                    .alias("temp_share_6dp"),
                    F.round((F.sqrt("lang_tokens") / F.col("sum_r"))
                            / (F.col("lang_tokens").cast("double")
                               / F.col("total")), 6).alias("boost_6dp")))


@register(
    "d129_lateral_column_alias",
    oracle="""
WITH c AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_orderstatus = 'O'
)
SELECT o_orderkey, o_orderpriority, cents,
       cents * 3 AS triple_cents,
       cents * 3 + cents AS quad_cents,
       (cents * 3 + cents) % 97 AS quad_mod97
FROM c
""",
    tags=("engine", "sql", "spark4", "lateral-alias"),
)
def d129_lateral_column_alias(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIASES (Spark 3.4+/DuckDB both support them): a
    SELECT item referencing an alias defined EARLIER IN THE SAME SELECT
    (`cents AS c, c*3 AS t, t+c AS q`), chained three deep — the
    ergonomic form every hand-written feature-derivation query wants.
    The oracle is the fully EXPANDED expression tree, proving Spark's
    alias resolution substitutes rather than re-evaluates differently
    (exact integer arithmetic, so any divergence would hash).

    100 TB: pure per-row codegen over one pushed-filter scan — the
    aliases collapse into a single Project node."""
    import os

    view = f"ord_lca_{os.getpid()}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               cents * 3 AS triple_cents,
               triple_cents + cents AS quad_cents,
               quad_cents % 97 AS quad_mod97
        FROM {view} WHERE o_orderstatus = 'O'
        """)


@register(
    "a28_binaryfile_scan",
    oracle="""
SELECT source,
       CAST(sum(len(text)) + count(*) AS BIGINT) AS n_bytes
FROM documents GROUP BY source
""",
    tags=("engine", "source", "binary", "multimodal"),
)
def a28_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARYFILE source (`spark.read.format("binaryFile")`) — the
    opaque-bytes ingestion path every multimodal pipeline starts from
    (image/audio/video files land as (path, length, content) rows
    BEFORE any decode). Round-trip proof: documents are written as a
    source-partitioned TEXT sink (one newline per row — ASCII corpus,
    so chars = bytes), read back as whole binary files, and the
    per-source BYTE totals from file metadata must hash-match byte
    totals computed from the ORIGINAL table (the a15 oracle trick) —
    sum(length) over files ≡ sum(len(text)) + one newline per row.

    100 TB: binaryFile scans parallelize per file and never load a file
    on the driver; partition-dir names carry the routing column so no
    content parse is needed for grouping. Decode stays in Arrow-batched
    mapInPandas downstream (e12/e71's posture)."""
    from pyspark_ml_features_spark.tmp_artifacts import pid_scoped

    out = pid_scoped("pmfs_docs_text_by_source")
    d = table(spark, sf_dir, "documents")
    (d.select("source", "text").write.mode("overwrite")
     .partitionBy("source").text(out))
    files = (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "false")
             .load(out + "/source=*"))
    return (files
            .select(F.regexp_extract(F.col("path"), r"source=([^/]+)", 1)
                    .alias("source"),
                    F.col("length"))
            .groupBy("source")
            .agg(F.sum("length").cast("bigint").alias("n_bytes")))


@register(
    "e93_quality_decile_dup_rate",
    oracle="""
WITH m AS (
    SELECT doc_id, lower(trim(text)) AS k,
           0.3 * (len(list_distinct(str_split(text, ' ')))::DOUBLE
                  / len(str_split(text, ' ')))
         + 0.3 * (1.0 - len(list_filter(str_split(text, ' '),
               t -> list_contains(['the', 'a', 'of', 'and', 'is'], t)
               ))::DOUBLE / len(str_split(text, ' ')))
         + 0.4 * least((list_sum(list_transform(str_split(text, ' '),
               t -> length(t)))::DOUBLE / len(str_split(text, ' ')))
               / 10.0, 1.0) AS q
    FROM documents
), dup AS (
    SELECT k, count(*) AS members FROM m GROUP BY k
), rk AS (
    SELECT m.doc_id, m.q, dup.members,
           row_number() OVER (ORDER BY m.q, m.doc_id) AS rn,
           count(*) OVER () AS n
    FROM m JOIN dup ON m.k = dup.k
)
SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE members >= 2) AS BIGINT) AS n_dup_docs,
       CAST(10000 * count(*) FILTER (WHERE members >= 2) // count(*)
            AS BIGINT) AS dup_bp
FROM rk GROUP BY 1
""",
    tags=("north-star", "llm-pipeline", "quality", "dedup", "analytics"),
)
def e93_quality_decile_dup_rate(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """QUALITY × DUPLICATION interaction — the curation-analytics question
    behind every filtering threshold: are low-quality documents also the
    duplicated ones? Score each doc with t2's exact quality formula,
    rank the corpus into quality deciles, and report the exact-dup rate
    (e1's normalized-text multiplicity ≥ 2) per decile. A monotone
    dup_bp column tells the curator one threshold removes both
    pathologies at once; a flat one says dedup and quality filtering
    are independent passes.

    The decile comes from the round-7 window-free ranking primitive
    (decile = (grk−1)·10 DIV n — a SINGLE-partition ntile would funnel
    the corpus into one task), mirrored in the oracle by the
    single-partition window it replaces. Ordering ties break on doc_id;
    the quality double is bit-identical cross-engine (t2's fixed
    evaluation order), so rank order is too.

    100 TB: t2's map-side score + e1's hash-agg multiplicity + one
    range shuffle for the ranking + a 10-row aggregate."""
    from pyspark_ml_features_spark.functions.text import STOPWORDS
    from pyspark_ml_features_spark.operators.relational6 import (
        distributed_row_number,
    )

    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("double")
    q = (F.lit(0.3) * (F.size(F.array_distinct(toks)).cast("double")
                       / n_tokens)
         + F.lit(0.3) * (F.lit(1.0) - F.size(
             F.filter(toks, lambda t: F.array_contains(stop_arr, t))
         ).cast("double") / n_tokens)
         + F.lit(0.4) * F.least(
             F.aggregate(toks, F.lit(0).cast("bigint"),
                         lambda a, t: a + F.length(t)).cast("double")
             / n_tokens / 10.0, F.lit(1.0)))
    m = d.select("doc_id", F.lower(F.trim("text")).alias("k"),
                 q.alias("q"))
    dup = m.groupBy("k").agg(F.count(F.lit(1)).alias("members"))
    scored = m.join(dup, "k").select("doc_id", "q", "members")
    ranked = distributed_row_number(scored, ["q", "doc_id"], 16)
    n = scored.count()
    return (ranked
            .withColumn("decile",
                        F.expr(f"CAST((grk - 1) * 10 DIV {n} AS BIGINT)"))
            .groupBy("decile")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count_if(F.col("members") >= 2).cast("bigint")
                 .alias("n_dup_docs"))
            .select("decile", "n_docs", "n_dup_docs",
                    F.expr("CAST(10000L * n_dup_docs DIV n_docs AS BIGINT)")
                    .alias("dup_bp")))


@register(
    "a29_multiline_csv_roundtrip",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY source
""",
    tags=("engine", "source", "csv", "multiline"),
)
def a29_multiline_csv_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """MULTILINE-QUOTED CSV round-trip — the CSV corner that breaks naive
    line-splitting ingest: every document's spaces become embedded
    NEWLINES, forcing the writer to quote each field across many
    physical lines; reading it back requires ``multiLine=true`` (the
    whole-file parse mode — without it every physical line is a
    row and the counts explode). The restored per-source doc and char
    totals must hash-match the ORIGINAL table (the a15 oracle trick),
    proving the quote-aware writer/parser pair is lossless on
    line-break-bearing text.

    100 TB: multiLine CSV files are NOT splittable (one parse task per
    file) — acceptable for many small files, wrong for single huge
    ones; the docstring is the warning and parquet is the fix. The
    parallelism here comes from writing many part files."""
    from pyspark_ml_features_spark.tmp_artifacts import pid_scoped

    out = pid_scoped("pmfs_docs_multiline_csv")
    d = table(spark, sf_dir, "documents")
    (d.select("doc_id", "source",
              F.regexp_replace("text", " ", "\n").alias("text_nl"))
     .write.mode("overwrite").option("header", "true").csv(out))
    back = (spark.read.option("header", "true")
            .option("multiLine", "true")
            .schema("doc_id bigint, source string, text_nl string")
            .csv(out))
    return (back.select("source",
                        F.length(F.regexp_replace("text_nl", "\n", " "))
                        .cast("bigint").alias("n_chars_doc"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars_doc").cast("bigint").alias("n_chars")))


PROVENANCE_TOP = 5


@register(
    "e94_dedup_provenance",
    oracle=f"""
WITH g AS (
    SELECT lower(trim(text)) AS k,
           min(doc_id) AS canonical_doc_id,
           CAST(count(*) AS BIGINT) AS n_absorbed,
           list_sort(list(doc_id)) AS members
    FROM documents GROUP BY lower(trim(text))
)
SELECT canonical_doc_id, n_absorbed,
       coalesce(array_to_string(list_transform(
           members[2:{PROVENANCE_TOP} + 1], x -> x::VARCHAR), ','), '')
           AS absorbed_sample
FROM g
""",
    tags=("north-star", "llm-pipeline", "dedup", "stewardship",
          "provenance"),
)
def e94_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP PROVENANCE — the audit-trail detail behind e82's golden
    record: for every exact-dup cluster that actually absorbed rows,
    WHICH doc_ids the canonical record replaced (first
    {PROVENANCE_TOP} absorbed ids as a sorted comma-joined string —
    the d69 rule: collect, sort, join, so the value is deterministic
    and the harness canonicalizer never sees an array cell). The table
    is TOTAL — one row per surviving record, singletons with an empty
    sample — because a provenance lookup must answer "nothing was
    merged into this id" as authoritatively as a merge list. Takedown
    requests, licensing audits, and "why did my document disappear"
    tickets all resolve against exactly this table.

    100 TB: e1's hash aggregate with one extra bounded payload — the
    per-cluster sample is capped at {PROVENANCE_TOP} ids (slice AFTER
    array_sort), so a pathological million-member cluster still emits
    one small row."""
    d = table(spark, sf_dir, "documents")
    g = (d.groupBy(F.lower(F.trim("text")).alias("k"))
         .agg(F.min("doc_id").alias("canonical_doc_id"),
              F.count(F.lit(1)).cast("bigint").alias("n_absorbed"),
              F.array_sort(F.collect_list("doc_id")).alias("members")))
    return (g.select("canonical_doc_id", "n_absorbed",
                    F.array_join(
                        F.transform(
                            F.slice("members", 2, PROVENANCE_TOP),
                            lambda x: x.cast("string")), ",")
                    .alias("absorbed_sample")))
