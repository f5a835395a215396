"""Round-13 surface: the two LSH recall mitigations as exactness pins —
multi-probe (e115, the one genuinely-new class the r12 verdict named,
VERDICT r12 task 5) and OR-banding (e116, the round-14 plan's named
candidate, added in the round-13 extension window).

DESIGN_SCALE's r12 section names multi-probe/OR-banding as the recall
mitigation for e112's bucket-boundary loss, but nothing graded it; this
query makes the recall-vs-candidates trade an exactness pin instead of
prose. The probe sequence is DECLARED and deterministic — probe 0 is the
vector's own bucket; probe j (1..4) flips sign bit j-1 (plane j-1 of
similarity._lsh_planes, in plane order) — so the candidate set at every
probe depth is exactly replayable in DuckDB: a pair's FIRST depth is 0
if the buckets are equal, j if they differ in exactly bit j-1, NULL if
they differ in ≥2 bits (unreachable by Hamming-1 probing).

Reference: the reference repo (six MLlib utilities) has none of this
surface; SURVEY §2-E north-star scope (similarity search at scale).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.arrays import (
    duckdb_dot,
    duckdb_norm,
    to_double_array,
)
from pyspark_ml_features_spark.operators.similarity import (
    DIM,
    LSH_SEED,
    _bucketize,
    _duckdb_bucket,
    _lsh_planes,
    _pair_cos,
)
from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.operators.surface12 import SEMANTIC_DUP_COSINE
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

# own bucket + one probe per hyperplane, in plane order
N_PROBE_DEPTHS = 5


def multiprobe_candidates(eb: DataFrame) -> DataFrame:
    """Candidate pairs of a _bucketize()d (vec_id, emb, nrm, bucket)
    frame under Hamming-1 multi-probe, tagged with the FIRST probe depth
    that discovers each pair. One bucket-key equi-join per probe depth —
    the scale shape: candidates per probe are Σ_b |bucket ∩ probed|, not
    all-pairs, and each unordered pair lands in exactly one depth's join
    (XOR of two buckets is unique), so no dedup shuffle is needed.
    Shared by the graded query and the recall invariant test."""
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"), F.col("bucket").alias("b1"))
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"), F.col("bucket").alias("b2"))
    sets = []
    for depth in range(N_PROBE_DEPTHS):
        key = (F.col("b1") if depth == 0
               else F.col("b1").bitwiseXOR(F.lit(1 << (depth - 1))))
        sets.append(
            a.withColumn("pb", key.cast("bigint"))
            .join(b, F.col("pb") == F.col("b2"))
            .filter(F.col("v1") < F.col("v2"))
            .select("v1", "v2", "e1", "e2", "n1", "n2",
                    F.lit(depth).cast("bigint").alias("first_depth")))
    cand = sets[0]
    for s in sets[1:]:
        cand = cand.unionByName(s)
    return cand


_E115_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm,
           ({_duckdb_bucket('(embedding::DOUBLE[])')}) AS bucket
    FROM embeddings WHERE vec_id % 5 = 0
), pr AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CASE WHEN a.bucket = b.bucket THEN 0
                WHEN xor(a.bucket, b.bucket) = 1 THEN 1
                WHEN xor(a.bucket, b.bucket) = 2 THEN 2
                WHEN xor(a.bucket, b.bucket) = 4 THEN 3
                WHEN xor(a.bucket, b.bucket) = 8 THEN 4
                ELSE NULL END AS first_depth,
           (round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6)
            >= {SEMANTIC_DUP_COSINE}) AS is_dup
    FROM e a JOIN e b ON a.vec_id < b.vec_id
), d AS (
    SELECT unnest(range(0, {N_PROBE_DEPTHS})) AS probe_depth
)
SELECT d.probe_depth AS probe_depth,
       CAST(sum(CASE WHEN pr.first_depth IS NOT NULL
                      AND pr.first_depth <= d.probe_depth
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN pr.first_depth IS NOT NULL
                      AND pr.first_depth <= d.probe_depth
                      AND pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_pairs,
       CAST(sum(CASE WHEN pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_pairs
FROM d CROSS JOIN pr
GROUP BY d.probe_depth
"""


@register("e115_multiprobe_lsh_recall", oracle=_E115_ORACLE,
          tags=("north-star", "similarity", "dedup", "lsh"))
def e115_multiprobe_lsh_recall(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Multi-probe LSH recall buy-back, pinned exactly: one row per probe
    depth q ∈ [0, 5) with the CUMULATIVE candidate-pair count, the
    cumulative semantic-dup pairs found (rounded cosine ≥ 0.3, e112's
    threshold), and the all-pairs ground-truth dup count on the same
    deterministic 20% sample (e4c's vec_id % 5 = 0) — so
    n_dup_pairs/n_true_pairs is the measured recall and n_candidates the
    price paid for it, both monotone in q by construction (counts are
    cumulative over each pair's unique first-discovery depth; the SET
    containment pairs(q) ⊇ pairs(q-1) is pinned in
    tests/test_invariants.py).

    100 TB: each probe depth is one more bucket-key equi-join — cost
    grows linearly in probes while recall buys back the bucket-boundary
    loss that fixed single-probe LSH (e4b/e112) pays; the deployment
    knob is (p planes, q probes) with candidates ~ q·n²/2^p, all
    shuffle-on-bucket, never all-pairs. The all-pairs truth join exists
    only on the bounded sample as the recall denominator (e4c
    precedent, BNLJ_ALLOWED).

    Cites: similarity.py:_bucketize/_lsh_planes (the shared bucketing),
    surface12.py:e112 (the single-probe consumer this de-risks),
    DESIGN_SCALE.md "Round-12 additions" (the mitigation this grades)."""
    # fan_out (r14): the probe-join cosine folds AND the all-pairs truth
    # BNLJ (~80k 64-element folds at sf0.1) run on the stream side's
    # partitioning — ONE task over the unsplittable scan otherwise
    # (no-op on a multi-split cluster scan).
    eb = _bucketize(fan_out(table(spark, sf_dir, "embeddings")
                            .filter(F.col("vec_id") % 5 == 0)
                            .select("vec_id",
                                    to_double_array("embedding")
                                    .alias("emb")), "vec_id"))
    cand = multiprobe_candidates(eb)
    per_depth = (cand.select(
        "first_depth",
        (_pair_cos() >= SEMANTIC_DUP_COSINE).cast("bigint").alias("is_dup"))
        .groupBy("first_depth")
        .agg(F.count(F.lit(1)).alias("n_cand_d"),
             F.sum("is_dup").alias("n_dup_d")))
    spine = (spark.range(N_PROBE_DEPTHS)
             .select(F.col("id").cast("bigint").alias("probe_depth")))
    w = (Window.orderBy("probe_depth")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (spine.join(per_depth,
                      spine.probe_depth == per_depth.first_depth, "left")
           .select("probe_depth",
                   F.coalesce("n_cand_d", F.lit(0)).alias("c"),
                   F.coalesce("n_dup_d", F.lit(0)).alias("p"))
           .select("probe_depth",
                   F.sum("c").over(w).cast("bigint").alias("n_candidates"),
                   F.sum("p").over(w).cast("bigint").alias("n_dup_pairs")))
    # all-pairs ground truth on the bounded sample — the recall
    # denominator (e4c's shape; the only non-bucketed join here)
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"))
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"))
    truth = (a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
             .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")))
    return cum.crossJoin(F.broadcast(truth))


# ---------------------------------------------------------------------------
# e116: OR-banding — the OTHER recall mitigation DESIGN_SCALE names.
# Multi-probe (e115) buys recall by probing NEIGHBOR buckets of one plane
# set; OR-banding buys it with multiple INDEPENDENT plane sets (bands) and
# unions the single-probe collisions. Band 0 reuses THE e112/e4b planes
# (seed = LSH_SEED), so e116's band-0 row must equal e115's depth-0 row —
# pinned in tests/test_invariants.py as a cross-query exactness check.
# ---------------------------------------------------------------------------

N_BANDS = 4  # independent 4-plane sets; seeds LSH_SEED + band


def _band_planes(band: int):
    """Plane set for one band — band 0 is THE single-band set every graded
    LSH query uses (same seed), bands 1+ are fresh independent draws."""
    return _lsh_planes(seed=LSH_SEED + band)


def or_band_candidates(eb: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Candidate pairs under OR-banding, tagged with the FIRST band whose
    buckets collide. One bucket-key equi-join per band; a pair that
    collides in band b is emitted by band b's join ONLY if every earlier
    band's buckets differ — bands are therefore disjoint by construction
    and the union needs no dedup shuffle (e115's first-depth trick, with
    'earlier band mismatch' standing in for XOR uniqueness). Shared by the
    graded query and the invariant tests."""
    a_cols = [F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
              F.col("nrm").alias("n1")] + [
        F.col(f"bucket_{b}").alias(f"ab{b}") for b in range(n_bands)]
    b_cols = [F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
              F.col("nrm").alias("n2")] + [
        F.col(f"bucket_{b}").alias(f"bb{b}") for b in range(n_bands)]
    a, b = eb.select(*a_cols), eb.select(*b_cols)
    sets = []
    for band in range(n_bands):
        j = (a.join(b, F.col(f"ab{band}") == F.col(f"bb{band}"))
             .filter(F.col("v1") < F.col("v2")))
        for prev in range(band):
            j = j.filter(F.col(f"ab{prev}") != F.col(f"bb{prev}"))
        sets.append(j.select(
            "v1", "v2", "e1", "e2", "n1", "n2",
            F.lit(band).cast("bigint").alias("first_band")))
    cand = sets[0]
    for s in sets[1:]:
        cand = cand.unionByName(s)
    return cand


def _e116_oracle() -> str:
    bucket_cols = ",\n           ".join(
        f"({_duckdb_bucket('(embedding::DOUBLE[])', _band_planes(b))})"
        f" AS bucket_{b}" for b in range(N_BANDS))
    first_band = " ".join(
        f"WHEN a.bucket_{b} = b.bucket_{b} THEN {b}"
        for b in range(N_BANDS))
    return f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm,
           {bucket_cols}
    FROM embeddings WHERE vec_id % 5 = 0
), pr AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CASE {first_band} ELSE NULL END AS first_band,
           (round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6)
            >= {SEMANTIC_DUP_COSINE}) AS is_dup
    FROM e a JOIN e b ON a.vec_id < b.vec_id
), d AS (
    SELECT unnest(range(0, {N_BANDS})) AS band
)
SELECT d.band AS band,
       CAST(sum(CASE WHEN pr.first_band IS NOT NULL
                      AND pr.first_band <= d.band
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN pr.first_band IS NOT NULL
                      AND pr.first_band <= d.band
                      AND pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_pairs,
       CAST(sum(CASE WHEN pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_pairs
FROM d CROSS JOIN pr
GROUP BY d.band
"""


@register("e116_or_banding_recall", oracle=_e116_oracle(),
          tags=("north-star", "similarity", "dedup", "lsh"))
def e116_or_banding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-banding recall buy-back, pinned exactly: one row per band count
    b ∈ [0, 4) with the CUMULATIVE candidate-pair count using bands 0..b,
    the cumulative semantic-dup pairs found (rounded cosine ≥ e112's
    threshold), and the all-pairs truth on the same deterministic 20%
    sample (vec_id % 5 = 0 — e115's sample, so the two mitigations'
    recall-vs-candidates columns are directly comparable row-for-row and
    the band-0 row IS e115's depth-0 row).

    100 TB: each extra band is one more shuffle-on-bucket equi-join over
    independent planes — candidates grow ~B·n²/2^p minus overlaps while
    recall compounds as 1-(1-hit)^B; versus multi-probe, OR-banding pays
    B bucketize passes but probes no neighbor buckets (better when bucket
    occupancy is skewed). The only non-bucketed join is the bounded-sample
    truth denominator (BNLJ_ALLOWED, e4c/e115 precedent).

    Cites: similarity.py:_bucketize/_duckdb_bucket (now band-parameterized,
    still the single shared definition), surface13.py:e115 (the sibling
    mitigation this is graded against), DESIGN_SCALE.md Round-12/13
    sections (the trade stress_ann measured, now an exactness pin)."""
    # fan_out (r14): e115's shape with 4 independent band bucketizations
    # (20 folds/row) plus the same truth BNLJ — all single-task on the
    # unsplittable scan otherwise (no-op on a multi-split cluster scan).
    eb = fan_out(table(spark, sf_dir, "embeddings")
                 .filter(F.col("vec_id") % 5 == 0)
                 .select("vec_id", to_double_array("embedding").alias("emb")),
                 "vec_id")
    for band in range(N_BANDS):
        eb = _bucketize(eb, planes=_band_planes(band),
                        bucket_col=f"bucket_{band}")
    cand = or_band_candidates(eb)
    per_band = (cand.select(
        "first_band",
        (_pair_cos() >= SEMANTIC_DUP_COSINE).cast("bigint").alias("is_dup"))
        .groupBy("first_band")
        .agg(F.count(F.lit(1)).alias("n_cand_b"),
             F.sum("is_dup").alias("n_dup_b")))
    spine = (spark.range(N_BANDS)
             .select(F.col("id").cast("bigint").alias("band")))
    w = (Window.orderBy("band")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (spine.join(per_band, spine.band == per_band.first_band, "left")
           .select("band",
                   F.coalesce("n_cand_b", F.lit(0)).alias("c"),
                   F.coalesce("n_dup_b", F.lit(0)).alias("p"))
           .select("band",
                   F.sum("c").over(w).cast("bigint").alias("n_candidates"),
                   F.sum("p").over(w).cast("bigint").alias("n_dup_pairs")))
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"))
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"))
    truth = (a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
             .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")))
    return cum.crossJoin(F.broadcast(truth))
