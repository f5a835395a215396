"""Round-9 surface: the real PNG pixel-decode oracle (e98 — the query
that retires the repo's last honest stub; the codec itself lives in
operators/multimodal.py) and polymorphic table-valued functions (d145 —
a UDTF whose OUTPUT SCHEMA is computed from the input table's schema in
``analyze()``, the Spark 4 surface beyond d109's fixed-returnType
table-arg shape).

Reference: the reference repo (six MLlib utilities,
spark_ml_features.py:1-315) has none of this surface; SURVEY §2-D/E
north-star scope.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F  # noqa: F401  (kept for parity with peers)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

PNG_DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_channels", LongType()),
    StructField("mean_luma", LongType()),
    StructField("checksum", LongType()),
])


@register(
    "e98_png_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, xx, yy, (xx * 7 + yy * 13 + doc_id) % 256 AS v
  FROM dims,
       UNNEST(range(0, 8)) AS tx(xx),
       UNNEST(range(0, 6)) AS ty(yy)
  WHERE xx < w AND yy < h
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(sum(v) // (w * h) AS BIGINT) AS mean_luma,
       CAST(sum(v * (yy * w + xx + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id, w, h
""",
    tags=("north-star", "multimodal", "udf", "png"),
)
def e98_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL full-pixel PNG decode, oracle-checked end to end — the query
    that retires the repo's last stub: build a byte-exact greyscale-8
    PNG per document (pixel (x,y) = (x·7 + y·13 + doc_id) mod 256;
    scanline y encoded with filter type y mod 5, so None/Sub/Up/Average/
    Paeth ALL cycle), push it through the binary-column → Arrow
    ``mapInPandas`` path, and decode it with the pure-stdlib decoder
    (zlib inflate + per-filter reconstruction + chunk-CRC verification —
    multimodal.decode_png). The DuckDB oracle recomputes width, height,
    floor-mean luma, and a position-weighted checksum Σ v·(y·w + x + 1)
    purely arithmetically, so a slip in ANY filter's defilter math, the
    row order, or the deflate framing breaks the hash, not just the row
    count. decode_image (the dispatch the pipeline-facing extractors
    use) produces the 4-tuple half of the output, so the public entry
    point is graded too, not just the inner decoder.

    100 TB shape: identical to e71/e72 — binary payloads stream
    batch-by-batch through Arrow, output is narrow typed metadata,
    embarrassingly parallel, no shuffle; this is the 'image corpus
    feature extraction' slot with the codec now real."""
    import numpy as np

    from pyspark_ml_features_spark.operators.multimodal import (
        decode_image, decode_png, synth_png)

    # fan_out: the per-doc synth+decode below is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _synth_and_decode(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            dispatch_checked = False
            for i in pdf["doc_id"]:
                i = int(i)
                payload = synth_png(i, 5 + i % 4, 4 + i % 3)
                # ONE decode per payload (the per-pixel defilter is the
                # dominant cost — r9 review); geometry/luma derive from
                # the pixel array.
                px = decode_png(payload).astype("int64")
                height, width = px.shape
                mean_luma = int(px.sum()) // (width * height)
                if not dispatch_checked:
                    # grade the public dispatch once per batch: it must
                    # agree with the derived values exactly
                    assert decode_image(payload) == (
                        width, height, 1, mean_luma)
                    dispatch_checked = True
                weights = (np.arange(width * height, dtype="int64") + 1
                           ).reshape(height, width)
                out.append((i, width, height, 1, mean_luma,
                            int((px * weights).sum())))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "n_channels",
                              "mean_luma", "checksum"]).astype("int64")

    return d.mapInPandas(_synth_and_decode, schema=PNG_DECODE_SCHEMA)


@register(
    "d145_polymorphic_udtf",
    oracle="""
WITH proj AS (
    SELECT o_orderpriority, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT o_orderpriority, o_orderkey, cents,
       CAST(row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_orderkey) AS BIGINT) AS rn
FROM proj
""",
    tags=("engine", "D20", "udf", "udtf", "table-arg", "spark4"),
)
def d145_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC table-valued function (Spark 4): a UDTF with no fixed
    returnType whose ``analyze()`` receives the TABLE argument's schema
    at plan time and computes the output schema from it — here the input
    row plus a ``rn`` partition-sequence column, so ONE registration
    numbers rows of ANY table (`FROM numbered(TABLE(v) PARTITION BY k
    ORDER BY ...)`), where d109's gap_stats was pinned to one shape.
    Eval streams each partition's rows in ORDER BY order through one
    instance; the expanded-form oracle is the row_number window over the
    same unique ordering.

    100 TB: same economics as d109 — PARTITION BY shuffles once on the
    key; the Python boundary is row-at-a-time by API design, so this
    slot is for genuinely sequential per-group logic whose schema must
    follow the input's (generic numbering/diffing/auditing TVFs); a
    fixed-schema vectorizable transform belongs in applyInPandas (d21).
    Reference: no UDF surface in the reference repo
    (spark_ml_features.py:1); SURVEY §2-D20 family."""

    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class Numbered:
        @staticmethod
        def analyze(t: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(schema=StructType(
                list(t.dataType.fields) + [StructField("rn", LongType())]))

        def __init__(self) -> None:
            self.rn = 0

        def eval(self, row):
            self.rn += 1
            yield (*row, self.rn)

    o = (table(spark, sf_dir, "orders")
         .select("o_orderpriority", "o_orderkey",
                 F.floor(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents")))
    view = f"poly_orders_{os.getpid()}"
    o.createOrReplaceTempView(view)
    spark.udtf.register("numbered", udtf(Numbered))
    return spark.sql(
        f"SELECT * FROM numbered(TABLE({view}) "
        "PARTITION BY o_orderpriority ORDER BY o_orderkey)")


@register(
    "d146_recursive_month_spine",
    oracle="""
WITH RECURSIVE months(m) AS (
    SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders))
    UNION ALL
    SELECT m + INTERVAL 1 MONTH FROM months
    WHERE m < date_trunc('month', (SELECT max(o_orderdate) FROM orders))
)
SELECT CAST(m AS TIMESTAMP) AS month_start,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders
FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY m
""",
    tags=("engine", "D14", "sql", "recursive-cte", "spark4"),
)
def d146_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4.1 `WITH RECURSIVE`): a gap-free month
    spine whose BOUNDS are data-driven (scalar subqueries over the same
    table anchor and terminate the recursion), left-joined back so
    months with zero orders appear as explicit 0 rows — the calendar-
    densification pattern every time-series rollup needs, previously
    only expressible via sequence()+explode (d49's shape). DuckDB runs
    the IDENTICAL recursive SQL as the oracle. Both engines' DATE +
    INTERVAL yield TIMESTAMP-kind months; the output casts to TIMESTAMP
    explicitly (the d74 date-kind parity rule).

    100 TB: the recursion materializes ~84 month rows (bounded by the
    data's time span, not its volume) — the spine side is trivially
    broadcast; the orders side partial-aggregates per month before the
    exchange. Recursion depth is checked by the engine
    (spark.sql.cteRecursionLevelLimit, default 100) — a spine over a
    century of data would raise, not spin."""
    o = table(spark, sf_dir, "orders")
    view = f"rec_orders_{os.getpid()}"
    o.createOrReplaceTempView(view)
    return spark.sql(f"""
        WITH RECURSIVE months(m) AS (
            SELECT date_trunc('month',
                              (SELECT min(o_orderdate) FROM {view}))
            UNION ALL
            SELECT m + INTERVAL '1' MONTH FROM months
            WHERE m < date_trunc('month',
                                 (SELECT max(o_orderdate) FROM {view}))
        )
        SELECT CAST(m AS TIMESTAMP) AS month_start,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders
        FROM months LEFT JOIN {view}
             ON date_trunc('month', o_orderdate) = m
        GROUP BY m
    """)


@register(
    "d147_xml_roundtrip",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
""",
    tags=("engine", "D17", "xml", "spark4"),
)
def d147_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML codec (Spark 4 `to_xml`/`from_xml` — the D17 family's third
    semi-structured format after JSON d17 and CSV d141): serialize each
    order row to an XML string, parse it back with an explicit schema,
    and return the parsed fields. Inverse-op oracle (the e95 pattern):
    the oracle is the PLAIN projection of the source columns, so any
    asymmetry between the two codecs — escaping, whitespace handling,
    type coercion — breaks the hash; the XML text itself (whose
    formatting is engine-specific) never crosses the comparison.

    100 TB: both codecs are JVM expression codegen (no Python boundary);
    one narrow projection in, one out — scan-bound, no shuffle."""
    o = (table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority",
                 F.floor(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents")))
    xml = o.select(
        "o_orderkey",
        F.to_xml(F.struct("o_orderpriority", "cents")).alias("x"))
    return (xml.select(
        "o_orderkey",
        F.from_xml("x", "o_orderpriority STRING, cents BIGINT").alias("p"))
        .select("o_orderkey", "p.o_orderpriority", "p.cents"))


@register(
    "e99_image_content_dedup",
    oracle="""
WITH d AS (
    SELECT doc_id, doc_id % 64 AS ck, doc_id % 5 AS variant FROM documents
), px AS (
    SELECT ck, w, h, xx, yy, (xx * 7 + yy * 13 + ck) % 256 AS v
    FROM (SELECT DISTINCT ck, 5 + ck % 4 AS w, 4 + ck % 3 AS h FROM d)
         AS dims,
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 6)) AS ty(yy)
    WHERE xx < w AND yy < h
), ch AS (
    SELECT ck, CAST(sum(v * (yy * w + xx + 1)) AS BIGINT) AS checksum
    FROM px GROUP BY ck, w, h
)
SELECT ch.checksum,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT d.variant) AS BIGINT) AS n_byte_variants
FROM d JOIN ch USING (ck)
GROUP BY ch.checksum
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup"),
)
def e99_image_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE exact-dedup by DECODED CONTENT — the media slot of the
    dedup family (E1 hashes text bytes; a byte-hash on media misses
    re-encoded duplicates): every document gets a real PNG whose pixel
    content is keyed on ``doc_id % 64`` but whose ENCODING varies per
    doc (scanline filter schedule rotated by ``doc_id % 5`` — byte-
    different, pixel-identical files, the 'same image, different
    compressor' situation every crawl corpus has). The pipeline decodes
    each payload (full zlib+defilter) and groups on the decoded-pixel
    checksum; ``n_byte_variants`` (distinct md5 count per content
    group, >1 everywhere) is the in-result proof that a byte-level
    dedup would have split these groups. The DuckDB oracle recomputes
    content groups and checksums purely arithmetically.

    100 TB: decode is the embarrassingly-parallel Arrow scan (e98's
    shape); the dedup is one groupBy on a 8-byte checksum — partial
    aggregation bounds the exchange by distinct content, not corpus
    size (e1's economics). For near-dup (not exact) content, the
    checksum slot generalizes to a perceptual hash over the same
    plumbing."""
    import hashlib

    import numpy as np

    from pyspark_ml_features_spark.operators.multimodal import (
        decode_png, synth_png)

    # fan_out: the per-doc synth+decode below is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                ck = i % 64
                payload = synth_png(ck, 5 + ck % 4, 4 + ck % 3,
                                    filter_offset=i % 5)
                px = decode_png(payload).astype("int64")
                h, w = px.shape
                weights = (np.arange(w * h, dtype="int64") + 1
                           ).reshape(h, w)
                out.append((int((px * weights).sum()),
                            hashlib.md5(payload).hexdigest()))
            yield pd.DataFrame(out, columns=["checksum", "byte_md5"])

    decoded = d.mapInPandas(_decode, schema="checksum long, byte_md5 string")
    return (decoded.groupBy("checksum")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("byte_md5").cast("bigint")
                 .alias("n_byte_variants")))


@register(
    "e101_image_ahash_neardup",
    oracle="""
WITH d AS (
    SELECT doc_id, doc_id % 64 AS ck, doc_id % 5 AS bright FROM documents
), px AS (
    -- the 8x8 nearest-neighbor sample of the BASE pattern (brightness
    -- cancels out of the threshold test exactly, so it never appears)
    SELECT ck, yy * 8 + xx AS i,
           ((xx * (16 + ck % 16)) // 8 * 7
            + (yy * (12 + ck % 8)) // 8 * 13 + ck) % 128 AS v
    FROM (SELECT DISTINCT ck FROM d) AS cks,
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 8)) AS ty(yy)
), tot AS (
    SELECT ck, sum(v) AS s FROM px GROUP BY ck
), bits AS (
    SELECT px.ck, px.i,
           CASE WHEN 64 * px.v > tot.s THEN 1 ELSE 0 END AS b
    FROM px JOIN tot USING (ck)
), hash AS (
    SELECT ck,
           CAST(sum(CASE WHEN i >= 32
                         THEN b * (1::BIGINT << (i - 32)) ELSE 0 END)
                AS BIGINT) AS hash_hi,
           CAST(sum(CASE WHEN i < 32
                         THEN b * (1::BIGINT << i) ELSE 0 END)
                AS BIGINT) AS hash_lo
    FROM bits GROUP BY ck
)
SELECT h.hash_hi, h.hash_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT d.bright) AS BIGINT) AS n_brightness_variants
FROM d JOIN hash h USING (ck)
GROUP BY h.hash_hi, h.hash_lo
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup", "neardup"),
)
def e101_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL image hashing (8×8 average-hash) for NEAR-dup grouping
    — where e99's exact content dedup splits on ANY pixel change, aHash
    groups re-renders that differ by a global brightness shift (the
    'same image, different exposure/levels' duplicate class): every doc
    renders its content pattern (keyed on doc_id % 64, values 0..127)
    plus a per-doc brightness offset (16·(doc_id % 5), no wraparound by
    construction), decodes the real PNG, resizes to 8×8 nearest-
    neighbor, and sets bit i = (64·vᵢ > Σv) — an EXACT integer
    threshold: adding c to every pixel adds 64c to both sides, so the
    comparison (and therefore the hash) is brightness-invariant by
    arithmetic, not approximation, which is what makes an exact oracle
    possible for a 'perceptual' operator. The hash packs into
    (hash_hi, hash_lo) 32-bit halves (no BIGINT sign-bit games — the
    simhash64 two's-complement trick not needed). n_brightness_variants
    per group (5 everywhere at sf ≥ 0.01) is the in-result witness
    that exact pixel dedup would have split these groups.

    100 TB: decode+hash is the embarrassingly-parallel Arrow scan; the
    grouping exchange carries 16 bytes per doc and is partial-
    aggregated to distinct-hash cardinality — the banded-LSH economics
    of e2d applied to images. Hamming-radius near-dup (not just
    radius-0) buckets these same halves the e2c band way."""
    # fan_out: the per-doc synth+decode below is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # no doc_id in the output: Spark can't prune columns back
            # through a Python boundary, and the grouping never reads it
            out = [(*doc_ahash(int(i)), int(i) % 5)
                   for i in pdf["doc_id"]]
            yield pd.DataFrame(
                out, columns=["hash_hi", "hash_lo", "bright"]
            ).astype("int64")

    hashed = d.mapInPandas(
        _hash, schema="hash_hi long, hash_lo long, bright long")
    return (hashed.groupBy("hash_hi", "hash_lo")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("bright").cast("bigint")
                 .alias("n_brightness_variants")))


def doc_ahash(i: int) -> tuple[int, int]:
    """The e101/e102 fixture hash: render doc i's content pattern (keyed
    on i % 64) at brightness 16·(i % 5) — bounded so nothing wraps mod
    256 — decode the real PNG, nearest-neighbor to 8×8, and set bit
    j = (64·vⱼ > Σv), an EXACT integer threshold that is brightness-
    invariant by arithmetic. Returns (hash_hi, hash_lo) 32-bit halves
    (sign-bit-free on both engines)."""
    import numpy as np

    from pyspark_ml_features_spark.operators.multimodal import (
        decode_png, synth_png_brightness)

    ck, bright = i % 64, i % 5
    w, h = 16 + ck % 16, 12 + ck % 8
    px = decode_png(synth_png_brightness(ck, w, h, bright * 16)
                    ).astype("int64")
    sx = (np.arange(8, dtype="int64") * w) // 8
    sy = (np.arange(8, dtype="int64") * h) // 8
    small = px[np.ix_(sy, sx)]
    bits = (64 * small > small.sum()).flatten()
    weights = 1 << np.arange(64, dtype="uint64")
    return (int((bits[32:] * weights[:32]).sum()),
            int((bits[:32] * weights[:32]).sum()))


@register(
    "e102_image_hamming_pairs",
    oracle="""
WITH d AS (
    SELECT DISTINCT doc_id % 64 AS ck FROM documents
), px AS (
    SELECT ck, yy * 8 + xx AS i,
           ((xx * (16 + ck % 16)) // 8 * 7
            + (yy * (12 + ck % 8)) // 8 * 13 + ck) % 128 AS v
    FROM d,
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 8)) AS ty(yy)
), tot AS (
    SELECT ck, sum(v) AS s FROM px GROUP BY ck
), bits AS (
    SELECT px.ck, px.i,
           CASE WHEN 64 * px.v > tot.s THEN 1 ELSE 0 END AS b
    FROM px JOIN tot USING (ck)
), hx AS (
    SELECT DISTINCT
           CAST(sum(CASE WHEN i >= 32
                         THEN b * (1::BIGINT << (i - 32)) ELSE 0 END)
                AS BIGINT) AS hash_hi,
           CAST(sum(CASE WHEN i < 32
                         THEN b * (1::BIGINT << i) ELSE 0 END)
                AS BIGINT) AS hash_lo
    FROM bits GROUP BY ck
), bands AS (
    SELECT hash_hi, hash_lo, bb.band_id,
           CASE bb.band_id
               WHEN 0 THEN hash_lo & 65535
               WHEN 1 THEN (hash_lo >> 16) & 65535
               WHEN 2 THEN hash_hi & 65535
               ELSE (hash_hi >> 16) & 65535 END AS band_val
    FROM hx, UNNEST(range(0, 4)) AS bb(band_id)
), pairs AS (
    SELECT DISTINCT a.hash_hi AS a_hi, a.hash_lo AS a_lo,
                    c.hash_hi AS b_hi, c.hash_lo AS b_lo
    FROM bands a JOIN bands c
      ON a.band_id = c.band_id AND a.band_val = c.band_val
     AND (a.hash_hi < c.hash_hi
          OR (a.hash_hi = c.hash_hi AND a.hash_lo < c.hash_lo))
)
SELECT a_hi, a_lo, b_hi, b_lo,
       CAST(bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo))
            AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo)) <= 8
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup", "neardup",
          "lsh"),
)
def e102_image_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED Hamming-radius near-dup over perceptual image hashes —
    e101 groups radius-0 (identical aHash); this finds PAIRS of distinct
    hashes within Hamming distance 8 using the e2c/e2d banding economics
    on images: each 64-bit hash splits into four 16-bit bands, candidate
    pairs must share ≥1 exact band (an EQUI-join — measured 96
    candidates of 1,953 possible pairs at this fixture's geometry, a
    20× reduction that grows with corpus size), and only candidates pay
    the exact bit_count(xor) distance filter. Banding is recall-bounded
    as always (d ≤ 3 guarantees a shared band by pigeonhole; larger
    distances are found only when errors cluster) — both engines
    implement the SAME band-then-filter algorithm, so the oracle pins
    the algorithm, and the recall trade is the documented LSH semantic,
    not drift. Hash halves are 32-bit positives: `&`, `>>`,
    `bit_count`, `xor` all match between engines with no sign-bit games
    (the simhash64 two's-complement trick is unnecessary here).

    100 TB: per-doc hashing is the Arrow scan (16 bytes out per doc);
    the distinct-hash set is content-bounded, bands explode it ×4, and
    the pair join is hash-partitioned on (band_id, band_val) — never
    all-pairs. This is the image twin of the text banded-near-dup
    family (e2c/e2d/e33). The distinct hash set is MATERIALIZED once
    (probe_checkpoint) before the band self-join: without it both join
    sides embed the per-doc decode lineage — the executed plan showed
    two MapInPandas nodes and no ReusedExchange, so the corpus decoded
    twice per run (ADVICE r9; the same hazard e103 checkpoints
    against). The checkpoint also hands the pre-join lineage to the
    internal-plan ratchet via FIXPOINT_QUERIES."""
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    hx = probe_checkpoint(doc_hashes(spark, sf_dir).distinct(),
                          "e102.doc_hashes")
    return hamming_pairs(hx)


def doc_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perceptual hashes over the Arrow decode boundary — the
    shared front end of e102 (pairs) and e103 (clusters).

    The decode boundary is per-row expensive (~285 µs/doc: PNG encode +
    real inflate/defilter + 8×8 threshold hash), so the scan is fanned
    out across cores before it — the single-row-group fixture file
    otherwise pins the whole decode stage to ONE task (guide §2.5 input
    skew / §4 Python boundary; no-op on a multi-split cluster scan)."""
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [doc_ahash(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame(out, columns=["hash_hi", "hash_lo"]
                               ).astype("int64")

    return d.mapInPandas(_hash, schema="hash_hi long, hash_lo long")


def hamming_pairs(hx: DataFrame, radius: int = 8) -> DataFrame:
    """Banded Hamming-radius pairs over DISTINCT (hash_hi, hash_lo)
    rows: four 16-bit bands → equi-join candidates → exact
    bit_count(xor) ≤ radius filter."""
    bands = hx.select(
        "hash_hi", "hash_lo",
        F.posexplode(F.array(
            F.col("hash_lo").bitwiseAND(F.lit(65535)),
            F.shiftright("hash_lo", 16).bitwiseAND(F.lit(65535)),
            F.col("hash_hi").bitwiseAND(F.lit(65535)),
            F.shiftright("hash_hi", 16).bitwiseAND(F.lit(65535)),
        )).alias("band_id", "band_val"))
    a = bands.alias("a")
    c = bands.alias("c")
    pairs = (a.join(c, on=[
        F.col("a.band_id") == F.col("c.band_id"),
        F.col("a.band_val") == F.col("c.band_val"),
        (F.col("a.hash_hi") < F.col("c.hash_hi"))
        | ((F.col("a.hash_hi") == F.col("c.hash_hi"))
           & (F.col("a.hash_lo") < F.col("c.hash_lo")))])
        .select(F.col("a.hash_hi").alias("a_hi"),
                F.col("a.hash_lo").alias("a_lo"),
                F.col("c.hash_hi").alias("b_hi"),
                F.col("c.hash_lo").alias("b_lo"))
        .distinct())
    hamming = (F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
               + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo"))))
    return (pairs.withColumn("hamming", hamming.cast("bigint"))
            .filter(F.col("hamming") <= radius))


@register(
    "e103_image_neardup_clusters",
    oracle="""
WITH RECURSIVE d AS (
    SELECT doc_id, doc_id % 64 AS ck FROM documents
), px AS (
    SELECT ck, yy * 8 + xx AS i,
           ((xx * (16 + ck % 16)) // 8 * 7
            + (yy * (12 + ck % 8)) // 8 * 13 + ck) % 128 AS v
    FROM (SELECT DISTINCT ck FROM d) AS cks,
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 8)) AS ty(yy)
), tot AS (
    SELECT ck, sum(v) AS s FROM px GROUP BY ck
), bits AS (
    SELECT px.ck, px.i,
           CASE WHEN 64 * px.v > tot.s THEN 1 ELSE 0 END AS b
    FROM px JOIN tot USING (ck)
), hq AS (
    SELECT ck,
           CAST(sum(CASE WHEN i >= 32
                         THEN b * (1::BIGINT << (i - 32)) ELSE 0 END)
                AS BIGINT) AS hash_hi,
           CAST(sum(CASE WHEN i < 32
                         THEN b * (1::BIGINT << i) ELSE 0 END)
                AS BIGINT) AS hash_lo
    FROM bits GROUP BY ck
), hx AS (
    SELECT DISTINCT hash_hi, hash_lo FROM hq
), keys AS (
    -- one HUGEINT key per hash: lexicographic pair order == numeric
    -- order of hi*2^32+lo, and HUGEINT sidesteps the BIGINT sign bit
    SELECT hash_hi::HUGEINT * 4294967296 + hash_lo AS k,
           hash_hi, hash_lo
    FROM hx
), bands AS (
    SELECT hash_hi, hash_lo, bb.band_id,
           CASE bb.band_id
               WHEN 0 THEN hash_lo & 65535
               WHEN 1 THEN (hash_lo >> 16) & 65535
               WHEN 2 THEN hash_hi & 65535
               ELSE (hash_hi >> 16) & 65535 END AS band_val
    FROM hx, UNNEST(range(0, 4)) AS bb(band_id)
), pairs AS (
    SELECT DISTINCT a.hash_hi AS a_hi, a.hash_lo AS a_lo,
                    c.hash_hi AS b_hi, c.hash_lo AS b_lo
    FROM bands a JOIN bands c
      ON a.band_id = c.band_id AND a.band_val = c.band_val
     AND (a.hash_hi < c.hash_hi
          OR (a.hash_hi = c.hash_hi AND a.hash_lo < c.hash_lo))
), close_pairs AS (
    SELECT * FROM pairs
    WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo)) <= 8
), edges AS (
    SELECT a_hi::HUGEINT * 4294967296 + a_lo AS src,
           b_hi::HUGEINT * 4294967296 + b_lo AS dst
    FROM close_pairs
    UNION ALL
    SELECT b_hi::HUGEINT * 4294967296 + b_lo,
           a_hi::HUGEINT * 4294967296 + a_lo
    FROM close_pairs
), reach(node, lbl) AS (
    SELECT k, k FROM keys
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), cc AS (
    SELECT node, min(lbl) AS rep FROM reach GROUP BY node
), nd AS (
    SELECT hq.hash_hi::HUGEINT * 4294967296 + hq.hash_lo AS node,
           count(*) AS n_docs
    FROM d JOIN hq USING (ck)
    GROUP BY 1
)
SELECT CAST(cc.rep // 4294967296 AS BIGINT) AS rep_hi,
       CAST(cc.rep % 4294967296 AS BIGINT) AS rep_lo,
       CAST(count(*) AS BIGINT) AS n_hashes,
       CAST(sum(nd.n_docs) AS BIGINT) AS n_docs
FROM cc JOIN nd USING (node)
GROUP BY cc.rep
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup", "graph",
          "iterative"),
)
def e103_image_neardup_clusters(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """IMAGE near-dup CLUSTERS end to end — the full media-dedup
    pipeline as one graded query: decode (e98's boundary) → perceptual
    hash (e101) → banded Hamming pairs (e102) → connected components
    (e45's checkpointed min-label fixpoint) → one report row per
    cluster with its representative hash (the lexicographically
    smallest member), hash count, and document count. Near-dup that is
    only TRANSITIVELY connected (A≈B, B≈C, d(A,C) > radius) lands in
    one cluster — the semantics a pair list alone cannot express, and
    the keep-one-per-cluster predicate for a crawl corpus.

    The Spark fixpoint runs over dense rank ids (row_number over the
    content-bounded distinct-hash set — a 64-bit hash key could
    overflow BIGINT's sign bit); the oracle replays the identical
    closure as a DuckDB recursive CTE over HUGEINT-packed hash keys.
    Rank order equals lexicographic hash order, so both engines elect
    the same representative and the report hash-matches exactly.

    100 TB: hashing is the linear Arrow scan; pairs/closure run over
    the DISTINCT-hash graph, whose size is content-bounded (dedup
    economics, not corpus economics); closure cost is O(diameter)
    rounds like e45."""
    from pyspark.sql import Window

    from pyspark_ml_features_spark.operators.graph import (
        connected_components)
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    # Materialize the per-doc decode+hash ONCE: every downstream branch
    # (pair join sides, CC init, nd, rep) embeds this lineage, and the
    # per-doc PNG defilter is the dominant cost — without the checkpoint
    # the corpus decodes >= 4 times per run (r9 late review; the exact
    # graph.py connected_components.edges situation).
    hashed = probe_checkpoint(doc_hashes(spark, sf_dir),
                              "e103.doc_hashes")
    hx = hashed.distinct()
    ids = probe_checkpoint(
        hx.withColumn(
            "node",
            F.row_number().over(Window.orderBy("hash_hi", "hash_lo"))
            .cast("long")),
        "e103.ids")
    prs = hamming_pairs(hx)
    a_ids = ids.select(F.col("hash_hi").alias("a_hi"),
                       F.col("hash_lo").alias("a_lo"),
                       F.col("node").alias("src"))
    b_ids = ids.select(F.col("hash_hi").alias("b_hi"),
                       F.col("hash_lo").alias("b_lo"),
                       F.col("node").alias("dst"))
    pair_ids = prs.join(a_ids, ["a_hi", "a_lo"]).join(b_ids, ["b_hi", "b_lo"])
    edges = (pair_ids.select("src", "dst")
             .unionByName(pair_ids.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst"))))
    cc = connected_components(ids.select("node"), edges)
    nd = (hashed.groupBy("hash_hi", "hash_lo")
          .agg(F.count(F.lit(1)).alias("n"))
          .join(ids, ["hash_hi", "hash_lo"])
          .select("node", "n"))
    per_cluster = (cc.join(nd, "node")
                   .groupBy("cluster_id")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
                        F.sum("n").cast("bigint").alias("n_docs")))
    rep = ids.select(F.col("node").alias("cluster_id"),
                     F.col("hash_hi").alias("rep_hi"),
                     F.col("hash_lo").alias("rep_lo"))
    return (per_cluster.join(rep, "cluster_id")
            .select("rep_hi", "rep_lo", "n_hashes", "n_docs"))


@register(
    "d148_sql_table_function",
    oracle="""
WITH ranked AS (
    SELECT o_orderpriority, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
    FROM orders
)
SELECT * FROM ranked WHERE rnk <= 5
""",
    tags=("engine", "D20", "sql", "table-function", "spark4"),
)
def d148_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED table function (`CREATE FUNCTION ... RETURNS TABLE
    ... RETURN SELECT`): the declarative macro layer of the D20 spectrum
    — d113 is the scalar SQL UDF, d109/d145 are Python UDTFs; this slot
    is a PARAMETERIZED table view whose body is pure SQL, so Catalyst
    inlines it like any subquery (full pushdown/pruning through the
    function boundary — no black box, unlike the Python shapes). The
    parameter feeds a rank predicate rather than LIMIT because a
    correlated limit must be plan-time constant
    (INVALID_LIMIT_LIKE_EXPRESSION — probed); the rank filter lowers to
    WindowGroupLimit anyway, which is the better plan at scale.

    100 TB: the inlined body is d10's top-k-per-group shape — one
    window exchange on the partition key, group-limit pushed into the
    sort. Reference: no SQL-function surface in the reference repo
    (spark_ml_features.py:1); SURVEY §2-D20 family."""
    o = table(spark, sf_dir, "orders")
    view = f"sqltvf_orders_{os.getpid()}"
    o.createOrReplaceTempView(view)
    fn = f"priority_top_{os.getpid()}"
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION {fn}(lim INT)
        RETURNS TABLE (o_orderpriority STRING, o_orderkey BIGINT,
                       cents BIGINT, rnk BIGINT)
        RETURN SELECT * FROM (
            SELECT o_orderpriority, o_orderkey,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey)
                        AS BIGINT) AS rnk
            FROM {view}
        ) WHERE rnk <= lim
    """)
    return spark.sql(f"SELECT * FROM {fn}(5)")
