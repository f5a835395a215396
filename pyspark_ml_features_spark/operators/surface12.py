"""Round-12 surface: the two genuinely-new chain-audit family pairs the
r11 plan named (VERDICT r11 item 4): the ANN→dedup chain (e112 — LSH
bucketing feeding a duplicate-cluster disposition, the similarity
family's first chain audit) and the multimodal→packing chain (e113 —
decoded image token counts feeding the greedy capacity fold, the first
chain crossing the Arrow boundary twice). Both follow the
composition-oracle doctrine: chain already-graded operators and grade a
property the chain must preserve — a corpus partition whose every row
depends on every upstream stage.

Reference: the reference repo (six MLlib utilities,
spark_ml_features.py:1-315) has none of this surface; SURVEY §2-E
north-star scope (similarity search, dedup, multimodal, packing
composed).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

# Semantic near-dup threshold on the 6-dp-rounded cosine — e4c/e58's
# 0.3, which the measured within-bucket distribution of the synthetic
# embeddings confirms is the only sane choice: at sf0.01 the 7,821
# same-bucket candidates (16x below the 124,750 all-pairs) carry 138
# edges at 0.3, 9 at 0.4, and ZERO at >= 0.5 — the corpus has no
# higher-cosine mass, so a "stricter" threshold would grade an empty
# graph.
SEMANTIC_DUP_COSINE = 0.3


def _semantic_cc_ctes() -> str:
    """The shared oracle body for the semantic-dedup family: bucket →
    within-bucket rounded-cosine pairs → symmetric edges → recursive
    transitive closure → cluster sizes. e112 (batch) and e114
    (incremental engine side, batch oracle side) both grade against
    THIS closure — one definition, so the two queries' oracles cannot
    drift."""
    from pyspark_ml_features_spark.functions.arrays import (
        duckdb_dot,
        duckdb_norm,
    )
    from pyspark_ml_features_spark.operators.similarity import (
        DIM,
        _duckdb_bucket,
    )

    return f"""
WITH RECURSIVE e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm,
           ({_duckdb_bucket('(embedding::DOUBLE[])')}) AS bucket
    FROM embeddings
), pairs AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6)
          >= {SEMANTIC_DUP_COSINE}
), edges AS (
    SELECT v1 AS src, v2 AS dst FROM pairs
    UNION ALL
    SELECT v2 AS src, v1 AS dst FROM pairs
), reach(node, lbl) AS (
    SELECT vec_id, vec_id FROM e
    UNION
    SELECT ed.dst, r.lbl FROM reach r JOIN edges ed ON ed.src = r.node
), cc AS (
    SELECT node AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY node
), sz AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM cc GROUP BY cluster_id
)
"""


def _e112_oracle() -> str:
    return _semantic_cc_ctes() + """
SELECT e.vec_id, CAST(e.bucket AS BIGINT) AS bucket,
       cc.cluster_id, sz.cluster_size,
       CASE WHEN e.vec_id = cc.cluster_id THEN 'kept'
            ELSE 'dup_reject' END AS stage
FROM e JOIN cc ON e.vec_id = cc.vec_id
       JOIN sz ON cc.cluster_id = sz.cluster_id
"""


@register(
    "e112_semantic_dedup_chain",
    oracle=_e112_oracle(),
    tags=("north-star", "similarity", "dedup", "graph", "iterative",
          "integration"),
)
def e112_semantic_dedup_chain(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """ANN → DEDUP chain with a full-corpus disposition audit (the
    SemDeDup production shape, Abbas et al. 2023) — the SCALE PATH that
    e58_semantic_dup_clusters' docstring has promised since r5, now
    implemented and graded: where e58 builds its pair graph with the
    documented all-pairs exact baseline over a 20% sample, e112 buckets
    the WHOLE embedding corpus with e4b's deterministic
    random-hyperplane LSH, computes exact cosine only INSIDE each
    bucket (e4c's arithmetic), feeds the pair graph to e45's min-label
    connected components, and emits a disposition for every vector —
    'kept' for each cluster's min vec_id, 'dup_reject' otherwise.
    The chain is load-bearing end to end: one flipped bucket bit moves
    a vector's candidate set, one last-ulp cosine flip adds/removes an
    edge, and one wrong CC label renames a whole cluster — the hash
    pins bucketing, pair arithmetic, the iterative fixpoint, AND the
    partition property (every vec_id exactly once) at once. The DuckDB
    oracle replays the identical plane literals, fold arithmetic, and a
    recursive-CTE transitive closure (the e45/e109 grading pattern).

    100 TB: the bucket join replaces the all-pairs O(n²) with
    O(n²/2^p) per bucket (2^20 buckets on a real deployment — e4b's
    economics; the corpus shuffles ONCE on the bucket key); CC rounds
    are bounded by near-dup-cluster diameter (tiny stars/cliques — the
    e45 adjudication), each round an equi-join on node id; the
    disposition is one broadcast-size join of labels back to vectors.
    No text/embedding payload ever enters the iteration: edges are
    16-byte id pairs.

    Cites: similarity.py:e4b_lsh_bucket_knn (bucketing),
    similarity.py:e4c_embedding_near_dup (pair arithmetic),
    graph.py:connected_components (fixpoint), surface11.py:e109 (the
    disposition-audit doctrine)."""
    from pyspark_ml_features_spark.functions.arrays import to_double_array

    # fan_out (r14, VERDICT r13 item 7): _bucketize's 5 64-element folds
    # per row AND the within-bucket cosine folds downstream of the
    # broadcast bucket join all inherit the unsplittable scan's ONE
    # partition; spread it first (no-op on a multi-split cluster scan).
    e = fan_out(table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb")), "vec_id")
    return semantic_dedup_disposition(e)


# THE engine-side hyperplane bucketing and rounded-cosine predicate now
# live in similarity.py next to _lsh_planes (ADVICE r12: e4b/e58 carried
# verbatim copies; one shared definition means the graded batch (e112),
# incremental (e114), KNN (e4b), and CC (e58) queries cannot drift).
# Re-exported here because the replication ladder and the r12 docs cite
# surface12._bucketize/_pair_cos.
from pyspark_ml_features_spark.operators.similarity import (  # noqa: E402
    _bucketize,
    _pair_cos,
)


def _pair_sides(eb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two join sides of the within-bucket pair build, over a
    _bucketize()d frame."""
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"), "bucket")
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"), "bucket")
    return a, b


def _cluster_bucketized(eb: DataFrame) -> DataFrame:
    """Disposition over an already-_bucketize()d frame: within-bucket
    rounded-cosine pairs -> min-label CC -> (vec_id, bucket, cluster_id,
    cluster_size, stage)."""
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )

    a, b = _pair_sides(eb)
    pairs = (a.join(b, "bucket")
             .filter(F.col("v1") < F.col("v2"))
             .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
             .select("v1", "v2"))
    edges = (pairs.select(F.col("v1").alias("src"), F.col("v2").alias("dst"))
             .unionByName(pairs.select(F.col("v2").alias("src"),
                                       F.col("v1").alias("dst"))))
    nodes = eb.select(F.col("vec_id").alias("node"))
    cc = connected_components(nodes, edges)
    sizes = (cc.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size")))
    return (eb.select("vec_id", "bucket")
            .join(cc.withColumnRenamed("node", "vec_id"), "vec_id")
            .join(sizes, "cluster_id")
            .select("vec_id", "bucket", "cluster_id", "cluster_size",
                    F.when(F.col("vec_id") == F.col("cluster_id"), "kept")
                    .otherwise("dup_reject").alias("stage")))


def semantic_dedup_disposition(e: DataFrame) -> DataFrame:
    """The e112 pipeline over any (vec_id, emb: array<double>) DataFrame —
    ONE definition shared by the graded query and the replication ladder
    (scripts/stress_semantic_dedup.py), so the ladder exercises exactly
    the graded plan (the dup_cluster_assignment pattern, graph.py)."""
    return _cluster_bucketized(_bucketize(e))


# e113 token arithmetic: patch tokens = pixel count, plus a pixel-SUM
# remainder so the full defilter (not just the header) is load-bearing —
# one wrong pixel anywhere shifts n_tokens, which renumbers every later
# bin in the document's (lang, shard) group.
IMG_TOKEN_MOD = 17
IMG_PACK_CAP = 120


def _e113_oracle() -> str:
    return f"""
WITH RECURSIVE dims AS (
    SELECT doc_id, lang, doc_id % 4 AS shard,
           5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h
    FROM documents
), px AS (
    SELECT doc_id, w, h, (xx * 7 + yy * 13 + doc_id) % 256 AS v
    FROM dims,
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 6)) AS ty(yy)
    WHERE xx < w AND yy < h
), toks AS (
    SELECT d.doc_id, d.lang, d.shard,
           CAST(d.w * d.h + s.ps % {IMG_TOKEN_MOD} AS BIGINT) AS n_tokens
    FROM dims d JOIN (SELECT doc_id, sum(v) AS ps FROM px
                      GROUP BY doc_id) s
         ON d.doc_id = s.doc_id
), docs AS (
    SELECT lang, shard, doc_id, n_tokens,
           row_number() OVER (PARTITION BY lang, shard
                              ORDER BY doc_id) AS rn
    FROM toks
), pack AS (
    SELECT lang, shard, doc_id, n_tokens, rn,
           CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tokens, d.rn,
           CASE WHEN p.fill + d.n_tokens > {IMG_PACK_CAP}
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + d.n_tokens > {IMG_PACK_CAP}
                THEN d.n_tokens ELSE p.fill + d.n_tokens END
    FROM pack p JOIN docs d ON d.lang = p.lang AND d.shard = p.shard
                           AND d.rn = p.rn + 1
)
SELECT lang, CAST(shard AS BIGINT) AS shard, doc_id, n_tokens, bin_id
FROM pack
"""


@register(
    "e113_image_pack_chain",
    oracle=_e113_oracle(),
    tags=("north-star", "multimodal", "packing", "udf", "png",
          "integration"),
)
def e113_image_pack_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL → PACKING chain — the first query to cross the Arrow
    boundary TWICE (driver-graded green in CORRECTNESS_r12): every
    document gets e98's byte-exact greyscale
    PNG (pixel (x,y) = (x·7 + y·13 + doc_id) mod 256, all five scanline
    filters cycling), the REAL pure-stdlib decoder recovers the pixels
    (crossing #1, mapInPandas), the vision-token count is derived from
    the DECODED CONTENT (n_tokens = w·h patch tokens + pixel-sum mod
    {IMG_TOKEN_MOD}, so a slip in any filter's defilter math moves
    n_tokens), and the counts flow into e51's first-fit capacity fold
    (crossing #2, applyInPandas) — the multimodal-training-data build:
    decode, budget, pack. The fold makes the chain maximally
    load-bearing: ONE wrong pixel in ONE image renumbers every later
    bin in its (lang, shard) group. The DuckDB oracle recomputes the
    token arithmetic from the pattern definition and replays the
    recursive first-fit fold (e51/e110's grading pattern) — the codec
    itself never crosses the comparison, its OUTPUT does.

    100 TB: crossing #1 is embarrassingly parallel (binary payloads
    stream batch-by-batch through Arrow, output is 4 scalar columns —
    e98's shape, no shuffle); crossing #2 shuffles only (lang, shard,
    doc_id, n_tokens) with per-task state bounded by the shard knob
    (e51's measured ladder). Image bytes never shuffle anywhere.

    Cites: surface9.py:e98_png_decode (decode boundary + pattern
    oracle), packing.py:greedy_pack (the fold),
    surface11.py:e110 (chain-audit doctrine)."""
    from pyspark_ml_features_spark.operators.multimodal import (
        decode_png,
        synth_png,
    )
    from pyspark_ml_features_spark.operators.packing import greedy_pack

    # fan_out: per-doc PNG synth + real decode is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "lang"),
                "doc_id")

    def _decode_tokens(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, lang in zip(pdf["doc_id"], pdf["lang"]):
                i = int(i)
                payload = synth_png(i, 5 + i % 4, 4 + i % 3)
                px = decode_png(payload).astype("int64")
                h, w = px.shape
                out.append((lang, i % 4, i,
                            w * h + int(px.sum()) % IMG_TOKEN_MOD))
            yield pd.DataFrame(
                out, columns=["lang", "shard", "doc_id", "n_tokens"])

    toks = d.mapInPandas(
        _decode_tokens,
        schema="lang string, shard bigint, doc_id bigint, n_tokens bigint")
    return greedy_pack(toks, IMG_PACK_CAP)


def _e114_oracle() -> str:
    return _semantic_cc_ctes() + """
SELECT e.vec_id, CAST(e.bucket AS BIGINT) AS bucket,
       cc.cluster_id, sz.cluster_size,
       CASE WHEN e.vec_id = cc.cluster_id THEN 'kept'
            ELSE 'dup_reject' END AS stage,
       CAST(e.vec_id % 4 = 0 AS BIGINT) AS is_new
FROM e JOIN cc ON e.vec_id = cc.vec_id
       JOIN sz ON cc.cluster_id = sz.cluster_id
"""


@register(
    "e114_incremental_semantic_dedup",
    oracle=_e114_oracle(),
    tags=("north-star", "similarity", "dedup", "graph", "iterative",
          "incremental", "integration"),
)
def e114_incremental_semantic_dedup(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup == from-scratch batch — the one dedup
    family that had no incremental==batch pin (e107 grades exact dedup,
    e47 lexical near-dup; this closes the similarity family, per the
    §8m-next plan pulled forward). The nightly-ingest shape: the base
    corpus (vec_id % 4 != 0) is already clustered; a delta batch
    (vec_id % 4 == 0) arrives, and the engine must produce the
    full-corpus disposition incrementally:

    - base clusters enter the fixpoint as STAR EDGES (node ↔ its stored
      label — sound because the label, the cluster-min, IS a member, so
      the star has exactly the base cluster's connectivity in 2·|base|
      16-byte edges);
    - only delta×union candidate pairs are computed (the LSH bucket
      join restricted to pairs touching a new vector);
    - the min-label fixpoint warm-starts from the stored base labels
      (subset-component minima — the connected_components init_labels
      contract, e47's soundness argument).

    A base cluster that the delta BRIDGES to another must renumber all
    its members via star→delta→star propagation, so the hash pins the
    bridge semantics, not just new-vector attachment. The DuckDB oracle
    is deliberately NOT incremental: it replays e112's from-scratch
    closure over the union (the shared _semantic_cc_ctes definition),
    so a green hash is a driver-verified proof that incremental ==
    batch for the bucketed semantic pair graph.

    Cost honesty: the GRADED query synthesizes the "stored" base labels
    inline (stage 1 runs e112's pipeline on the base slice — the test
    fixture has no label store), so as written it does the batch work
    PLUS the delta work; the incremental ECONOMICS belong to the
    deployment shape, where stage 1 is one scan of a stored
    (vec_id, label) table. What the hash pins is the incremental
    ALGORITHM's equivalence: given correct base labels, star edges +
    delta×union pairs + a warm-started fixpoint reproduce the
    from-scratch closure exactly.

    100 TB (deployment shape): the base corpus contributes stored
    labels (16 bytes/vector, one table scan) and star edges — its
    embeddings are not re-read; the delta bucket join costs
    |delta|·(bucket occupancy), not corpus²; fixpoint rounds are
    bounded by the delta's attachment depth (warm labels are already
    collapsed).

    Cites: surface12.py:e112_semantic_dedup_chain (the batch twin),
    graph.py:e47_incremental_cc (warm-start soundness),
    surface10.py:e107 (the incremental==batch doctrine)."""
    from pyspark_ml_features_spark.functions.arrays import to_double_array

    # fan_out (r14): same unsplittable-scan + compute-dense shape as e112
    # — bucketize folds and the post-broadcast-join cosine folds were
    # single-task otherwise (no-op on a multi-split cluster scan).
    eb = _bucketize(fan_out(table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb")), "vec_id"))

    is_delta = F.col("vec_id") % 4 == 0
    # stage 1 (the "stored" state): base-only disposition — exactly
    # e112's pipeline (_cluster_bucketized) on the base slice; in
    # deployment this is a scan of the stored label table instead
    base_labels = (_cluster_bucketized(eb.filter(~is_delta))
                   .select(F.col("vec_id").alias("node"),
                           F.col("cluster_id").alias("lbl")))
    return incremental_semantic_disposition(eb, base_labels)


def incremental_semantic_disposition(eb: DataFrame,
                                     base_labels: DataFrame) -> DataFrame:
    """Stage 2 of e114 — ONE definition shared by the graded query and
    the delta-ingest ladder tier (scripts/stress_semantic_dedup.py), so
    the ladder's incremental economics are measured on exactly the
    graded plan. Inputs: a _bucketize()d union frame (vec_id, emb, nrm,
    bucket) where delta = vec_id % 4 == 0 (the fixture's ingest split —
    stable under the ladder's replica shift, which is a multiple of 4),
    and the stored base labels (node, lbl). Only delta×union candidate
    pairs are computed; base connectivity enters as star edges; the
    min-label fixpoint warm-starts from the stored labels."""
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )

    # delta×union pairs only (every candidate touches a new vector);
    # base-base candidates never enter this join. The v1 side is always
    # delta, so delta-base candidates appear exactly once; the ordering
    # guard keeps delta-delta candidates once too (ADVICE r12: without
    # it each delta-delta pair evaluated the 64-element fold twice and
    # needed a .distinct() shuffle afterwards).
    a, b = _pair_sides(eb)
    pairs = (a.filter(F.col("v1") % 4 == 0)
             .join(b, "bucket")
             .filter((F.col("v1") < F.col("v2"))
                     | (F.col("v2") % 4 != 0))
             .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
             .select("v1", "v2"))
    delta_edges = (pairs.select(F.col("v1").alias("src"),
                                F.col("v2").alias("dst"))
                   .unionByName(pairs.select(F.col("v2").alias("src"),
                                             F.col("v1").alias("dst"))))
    star_edges = (base_labels.select(F.col("node").alias("src"),
                                     F.col("lbl").alias("dst"))
                  .unionByName(
                      base_labels.select(F.col("lbl").alias("src"),
                                         F.col("node").alias("dst"))))
    nodes = eb.select(F.col("vec_id").alias("node"))
    cc = connected_components(
        nodes, delta_edges.unionByName(star_edges),
        init_labels=base_labels)
    sizes = (cc.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size")))
    return (eb.select("vec_id", "bucket")
            .join(cc.withColumnRenamed("node", "vec_id"), "vec_id")
            .join(sizes, "cluster_id")
            .select("vec_id", "bucket", "cluster_id", "cluster_size",
                    F.when(F.col("vec_id") == F.col("cluster_id"), "kept")
                    .otherwise("dup_reject").alias("stage"),
                    (F.col("vec_id") % 4 == 0).cast("bigint")
                    .alias("is_new")))
