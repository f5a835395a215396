"""Round-10 surface: the depth-composition slot (VERDICT r9 item 4) —
an end-to-end curate-shaped pipeline graded by an INVERSE-OP oracle.
The Spark 4 primitive surface is exhausted (SURVEY §8j-next item 4);
the remaining high-value oracle class is COMPOSITIONS: chain several
E-family operators, invert the chain, and let the original corpus be
the oracle — any slip in ANY stage's arithmetic breaks the hash.

Reference: the reference repo (six MLlib utilities,
spark_ml_features.py:1-315) has none of this surface; SURVEY §2-E
north-star scope (E1 dedup + chunking + packing families composed).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.text import tokens
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

#: bin capacity (tokens) for the packing stage — > CHUNK_SIZE so every
#: chunk fits a bin, small enough that bins mix chunks of many docs
PACK_CAPACITY = 512
#: packing shards: bins are built per shard so the running-total window
#: never globally orders the corpus (the d106 lesson)
PACK_SHARDS = 4


@register(
    "e104_dedup_pack_stitch_roundtrip",
    oracle="""
SELECT doc_id, text AS reconstructed_text
FROM documents
WHERE trim(text) <> ''
""",
    tags=("north-star", "llm-pipeline", "dedup", "chunking", "packing",
          "integration"),
)
def e104_dedup_pack_stitch_roundtrip(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """CURATE-AND-RECONSTRUCT round-trip — four chained E-family stages
    run FORWARD (exact dedup → overlapping chunking → capacity-bounded
    packing) then INVERTED (unpack → stitch → survivorship re-expansion),
    graded against the strongest oracle shape in the repo: the original
    corpus itself (`SELECT doc_id, text FROM documents`). Every
    document's text must come back VERBATIM after riding the whole
    pipeline, so the hash pins, at once:

    - E1 dedup survivorship: canonical doc = min doc_id per EXACT text
      (byte key, not the normalized key — normalization would collapse
      case-variant docs and reconstruct the wrong bytes for members);
      the member list is carried so the inverse can re-expand every
      duplicate, not just the survivor.
    - E23 chunk geometry: 128-token windows at stride 64 (e95's exact
      machinery) — an off-by-one in either direction breaks the hash.
    - E51-family packing losslessness: chunks are assigned to
      capacity-bounded bins by a per-shard running-token-total window
      (the WINDOW-expressible budget partitioning of the packing
      family — e51's true greedy reset fold is the Arrow path; this
      composition stays JVM-pure end to end) and materialized as bin
      rows. A chunk dropped, duplicated, or torn by the pack/unpack
      breaks the hash.
    - e95 stitch arithmetic: every chunk contributes its first `stride`
      tokens, the last chunk all of them.

    100 TB: the dedup exchange carries each DISTINCT text once (e1's
    economics; key by the 64-bit fingerprint in production — e36);
    the pack window orders within shards, never globally (d106's rule);
    per-bin state is capacity-bounded, per-doc stitch state is bounded
    by doc length (e95's bound); the re-expansion is a hash equi-join
    on canon_id. No Python boundary anywhere — born clean under the
    registry-wide scale audit."""
    from pyspark_ml_features_spark.operators.packing import (
        CHUNK_SIZE, CHUNK_STRIDE)

    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    d = (table(spark, sf_dir, "documents")
         .filter(F.trim(F.col("text")) != "")
         .select("doc_id", "text"))

    # 1. EXACT dedup, one shuffle: survivor + member list per distinct
    # text (collect_list bounded by duplicate multiplicity). The dedup
    # result feeds BOTH the chunk pipeline and the member re-expansion —
    # materialize it ONCE (AQE does not reuse identical exchange
    # subtrees across plan branches, the round-6 e81 finding; without
    # the checkpoint the corpus scans and the dedup shuffle run twice).
    canon = probe_checkpoint(
        d.groupBy("text")
        .agg(F.min("doc_id").alias("canon_id"),
             F.collect_list("doc_id").alias("member_ids")),
        "e104.canon")

    # 2. CHUNK the survivors (e23/e95 geometry).
    surv = canon.select("canon_id", tokens("text").alias("__toks"))
    t = F.col("__toks")
    n_chunks = (F.floor((F.size(t) - 1) / CHUNK_STRIDE) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(t, i * CHUNK_STRIDE + 1, CHUNK_SIZE))
    chunked = surv.select(
        "canon_id", F.posexplode(chunks).alias("chunk_id", "chunk"))

    # 3. PACK chunks into bins: per-shard running token total → bin id.
    # Bin rows are real materialized containers (collect_list), so the
    # inverse genuinely has to unpack them.
    w = (Window.partitionBy("shard")
         .orderBy("canon_id", "chunk_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (chunked
              .withColumn("shard", F.pmod(F.col("canon_id"),
                                          F.lit(PACK_SHARDS)))
              .withColumn("__n", F.size("chunk").cast("bigint"))
              .withColumn("bin_id",
                          F.floor((F.sum("__n").over(w) - F.col("__n"))
                                  / PACK_CAPACITY))
              .groupBy("shard", "bin_id")
              .agg(F.collect_list(
                  F.struct("canon_id", "chunk_id", "chunk"))
                  .alias("items")))

    # 4. INVERSE — unpack bins, stitch per survivor (e95's arithmetic).
    unpacked = packed.select(F.explode("items").alias("it")).select(
        F.col("it.canon_id").alias("canon_id"),
        F.col("it.chunk_id").alias("chunk_id"),
        F.col("it.chunk").alias("chunk"))
    per_doc = (unpacked.groupBy("canon_id")
               .agg(F.sort_array(F.collect_list(
                   F.struct("chunk_id", "chunk"))).alias("cs"))
               .withColumn("n_cs", F.size("cs")))
    pieces = F.transform(
        F.col("cs"),
        lambda c, i: F.when(i < F.col("n_cs") - 1,
                            F.slice(c["chunk"], 1, CHUNK_STRIDE))
        .otherwise(c["chunk"]))
    stitched = per_doc.select(
        "canon_id", F.concat_ws(" ", F.flatten(pieces)).alias("stitched"))

    # 5. Survivorship re-expansion: every member doc gets its text back.
    members = canon.select("canon_id",
                           F.explode("member_ids").alias("doc_id"))
    return (members.join(stitched, "canon_id")
            .select("doc_id", F.col("stitched").alias("reconstructed_text")))


@register(
    "e105_vocab_encode_decode_roundtrip",
    oracle="""
SELECT doc_id, coalesce(text, '') AS decoded_text
FROM documents
""",
    tags=("north-star", "llm-pipeline", "tokenization", "vocab",
          "integration"),
)
def e105_vocab_encode_decode_roundtrip(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """TOKENIZER round-trip — the e18/e24 vocabulary pipeline run FORWARD
    (corpus → frequency-ranked vocab → per-token id encoding, the exact
    materialized form a training dataloader consumes) then INVERTED
    (id → token decode through the same vocab → positional reassembly),
    graded against the whole corpus verbatim (`SELECT doc_id,
    coalesce(text, '') FROM documents` — no filter: empty/
    whitespace-only docs round-trip too, since `split` keeps empty
    tokens and `concat_ws(' ')` re-emits them; NULL text is coalesced
    to '' on BOTH sides since r11 — ADVICE r10: posexplode of
    split(NULL) yields no rows, which would silently drop a NULL-text
    doc the bare oracle kept). The hash pins, at once:

    - e18 vocab construction: every corpus token present exactly once
      with a unique dense id (a dropped token = OOV hole = missing text;
      a duplicated id = wrong decode somewhere).
    - e24 encoding: (doc_id, pos, token_id) is a faithful positional
      encoding — any pos slip or id mismatch reassembles wrong bytes.
    - decode bijectivity: the id→token map inverts the token→id map.

    100 TB: the vocab is vocabulary-bounded after map-side partial
    counts and BROADCAST to both the encode and decode joins, so the
    corpus never shuffles for either direction; the one corpus-keyed
    exchange is the per-doc reassembly groupBy. The vocab lineage is
    materialized ONCE (probe_checkpoint) because it feeds two plan
    branches and AQE does not reuse cross-branch exchanges (the e81
    finding). Decode state per doc is bounded by doc length (e95's
    bound). JVM-pure end to end."""
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    from pyspark_ml_features_spark.operators.packing import vocab_with_ids

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"))

    # 1. VOCAB — the SHARED e18 id assignment (token -> dense id by
    # (freq desc, token asc); see packing.vocab_with_ids — one
    # definition for e18/e24/e105, so the exact arithmetic five oracles
    # depend on cannot desynchronize). The ranking window runs over the
    # vocab table, never the corpus; checkpointed once for the two
    # consumer joins.
    vocab = probe_checkpoint(
        vocab_with_ids(d).select("token", "token_id"), "e105.vocab")

    # 2. ENCODE (e24): corpus stays map-only, vocab broadcast.
    encoded = (d.select("doc_id",
                        F.posexplode(tokens("text")).alias("pos", "token"))
               .join(F.broadcast(vocab), "token")
               .select("doc_id", "pos", "token_id"))

    # 3. DECODE: ids back to tokens through the SAME vocab (broadcast),
    # then positional reassembly per doc.
    decoded = encoded.join(
        F.broadcast(vocab.select("token_id",
                                 F.col("token").alias("__tok"))),
        "token_id")
    return (decoded.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(
                F.struct("pos", "__tok"))).alias("ps"))
            .select("doc_id",
                    F.concat_ws(" ", F.transform(
                        F.col("ps"), lambda s: s["__tok"]))
                    .alias("decoded_text")))


@register(
    "e106_session_pack_unpack_roundtrip",
    oracle="""
WITH flagged AS (
    SELECT event_id, user_id, ts, event_type,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
    SELECT event_id, user_id, ts, event_type,
           (sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) + 1)::BIGINT
               AS session_id
    FROM flagged
)
SELECT event_id, user_id, ts, event_type,
       min(ts) OVER (PARTITION BY user_id, session_id) AS session_start
FROM s
""",
    tags=("north-star", "E9", "sessionize", "integration"),
)
def e106_session_pack_unpack_roundtrip(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """SESSION-CONTAINER round-trip — e9's gap sessionization run FORWARD
    into MATERIALIZED session rows (one row per session carrying the
    sorted event array, the form a session store or replay log persists)
    then INVERTED (explode the containers back to events), with each
    event annotated by its session's start taken FROM THE CONTAINER. The
    oracle recomputes the gap-and-islands assignment + per-session min
    independently, so the hash pins:

    - the session assignment is a PARTITION of events — an event dropped,
      duplicated, or torn across sessions by the pack/unpack breaks the
      row set;
    - the container's internal order/extent is right — session_start
      comes from element 0 of the packed array, not a window over the
      original rows, so a mis-sorted or mis-bounded container surfaces
      as a wrong session_start even when the event rows survive.

    100 TB: one shuffle on user_id (the e9 window), one on the
    (user, session) container key; per-container state is bounded by
    session length (the gap bound), never user history. JVM-pure."""
    from pyspark_ml_features_spark.operators.sessionize import sessionized

    ev = (table(spark, sf_dir, "events")
          .select("event_id", "user_id", "ts", "event_type"))
    s = sessionized(ev)
    # PACK: one row per session; struct order (ts, event_id) makes the
    # sorted array's element 0 the session's first event.
    packed = (s.groupBy("user_id", "session_id")
              .agg(F.array_sort(F.collect_list(
                  F.struct("ts", "event_id", "event_type"))).alias("evs")))
    # UNPACK: explode the container; session_start read from the
    # container itself (element 0), not recomputed from raw rows.
    return (packed
            .select("user_id",
                    F.element_at("evs", 1)["ts"].alias("session_start"),
                    F.explode("evs").alias("e"))
            .select(F.col("e.event_id").alias("event_id"),
                    "user_id",
                    F.col("e.ts").alias("ts"),
                    F.col("e.event_type").alias("event_type"),
                    "session_start"))


@register(
    "d149_scd2_build_probe_roundtrip",
    oracle="""
WITH dedup AS (
    SELECT user_id, ts, max_by(event_type, event_id) AS event_type
    FROM events GROUP BY user_id, ts
), iv AS (
    SELECT user_id, epoch_us(ts) AS from_us, event_type,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS to_us
    FROM dedup
)
SELECT user_id, (from_us + to_us) // 2 AS probe_us,
       event_type AS recovered_type
FROM iv
WHERE to_us IS NOT NULL
""",
    tags=("engine", "temporal", "scd2", "asof", "integration"),
)
def d149_scd2_build_probe_roundtrip(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """SCD2 BUILD-THEN-PROBE round-trip — construct a type-2 dimension
    from the event stream (one validity interval per (user, ts) state
    change, valid_to = next change, the d66/d125 machinery) and then
    POINT-IN-TIME-PROBE it at every interval's midpoint through a real
    as-of join (d98's union-merge rewrite). The oracle derives each
    midpoint's answer BY CONSTRUCTION (the midpoint lies inside its own
    interval), while Spark derives it BY EXECUTING the as-of machinery
    against the built dimension — so the hash pins the entire temporal
    stack at once: the state dedup (max_by on the unique event_id), the
    interval construction (lead over the change sequence: gap-free,
    non-overlapping), and the as-of semantics (backward-inclusive match,
    state-before-probe tag ordering at equal timestamps — midpoints of
    1-µs intervals collapse onto valid_from, which the tag tiebreak must
    resolve to the interval's OWN state).

    100 TB: the union-merge as-of shuffles each row ONCE on the entity
    key (no inequality join, no per-user pair blowup — d98's economics);
    the built dimension is materialized once (probe_checkpoint) because
    both the state side and the probe side read it and AQE does not
    reuse cross-branch exchanges. Micros arithmetic end to end (the
    sessionize rule: integer epoch_us on both engines)."""
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    ev = table(spark, sf_dir, "events")
    # 1. BUILD: state changes (dedup to one type per (user, ts)) ->
    # validity intervals [from_us, to_us).
    dedup = (ev.groupBy("user_id", "ts")
             .agg(F.max_by("event_type", "event_id").alias("event_type")))
    wu = Window.partitionBy("user_id").orderBy("from_us")
    scd2 = probe_checkpoint(
        dedup.select("user_id",
                     F.unix_micros("ts").alias("from_us"),
                     "event_type")
        .withColumn("to_us", F.lead("from_us").over(wu)),
        "d149.scd2")

    # 2. PROBE SET: every closed interval's midpoint.
    probes = (scd2.filter(F.col("to_us").isNotNull())
              .select("user_id",
                      F.expr("(from_us + to_us) DIV 2").alias("t_us")))

    # 3. AS-OF (union-merge, d98): states tag 0, probes tag 1; at equal
    # instants the state sorts first (backward-INCLUSIVE match).
    states = scd2.select("user_id", F.col("from_us").alias("t_us"),
                         F.lit(0).alias("tag"), "event_type")
    p = probes.select("user_id", "t_us", F.lit(1).alias("tag"),
                      F.lit(None).cast("string").alias("event_type"))
    w = (Window.partitionBy("user_id").orderBy("t_us", "tag")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = states.unionByName(p).select(
        "user_id", "t_us", "tag",
        F.last("event_type", ignorenulls=True).over(w).alias("recovered"))
    return (merged.filter(F.col("tag") == 1)
            .select("user_id", F.col("t_us").alias("probe_us"),
                    F.col("recovered").alias("recovered_type")))


@register(
    "d150_pivot_unpivot_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(month(o_orderdate) AS INT) AS month,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
GROUP BY 1, 2
""",
    tags=("engine", "reshape", "pivot", "integration"),
)
def d150_pivot_unpivot_roundtrip(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """RESHAPE round-trip — the monthly revenue matrix pivoted WIDE
    (one column per month, the layout reporting sinks export) and then
    unpivoted back to long form, graded against the plain long-form
    aggregate the chain started from. The hash pins the reshape pair as
    exact inverses: pivot cell routing (a value landing in the wrong
    month column comes back with the wrong key), the generated column
    naming (unpivot re-parses the month from the pivot's column names),
    and NULL discipline (absent (priority, month) combinations become
    NULL cells in the wide form; Spark's DataFrame.unpivot RETAINS
    NULL value rows — unlike SQL UNPIVOT's default — so the explicit
    isNotNull filter below is load-bearing: it must drop exactly the
    absent-combination cells and nothing else).

    100 TB: the pivot runs on the AGGREGATED long form (25 groups × 12
    months here; dimension-bounded generally), with explicit pivot
    values so no discovery pass over the fact table; the only
    corpus-sized work is the long-form partial aggregate. Floor-cents
    BIGINT keeps every cell engine-exact (the d95/q1 convention)."""
    months = list(range(1, 13))
    base = (table(spark, sf_dir, "orders")
            .select("o_orderpriority",
                    F.month("o_orderdate").alias("month"),
                    F.floor(F.col("o_totalprice") * 100).cast("bigint")
                    .alias("cents"))
            .groupBy("o_orderpriority", "month")
            .agg(F.sum("cents").alias("revenue_cents")))
    wide = (base.groupBy("o_orderpriority")
            .pivot("month", months)
            .agg(F.first("revenue_cents")))
    return (wide.unpivot("o_orderpriority",
                         [str(m) for m in months],
                         "month_name", "revenue_cents")
            .filter(F.col("revenue_cents").isNotNull())
            .select("o_orderpriority",
                    F.col("month_name").cast("int").alias("month"),
                    "revenue_cents"))


#: e107's ingest split: batch A = the "standing corpus" (two of every
#: three doc ids), batch B = the ingest. Batch ORDER is irrelevant to
#: correctness — the merge keeps the global min per text via least(),
#: and the monoid is commutative — the 2/3 split just keeps both the
#: duplicate-against-corpus and the new-text merge paths non-empty at
#: every sf.
INGEST_SPLIT_NUM = 2
INGEST_SPLIT_DEN = 3


@register(
    "e107_incremental_dedup_equivalence",
    oracle="""
SELECT CAST(min(doc_id) AS BIGINT) AS canon_id,
       text,
       CAST(count(*) AS BIGINT) AS n_members
FROM documents
GROUP BY text
""",
    tags=("north-star", "E1", "dedup", "incremental", "integration"),
)
def e107_incremental_dedup_equivalence(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """INCREMENTAL == BATCH equivalence for exact dedup — the claim
    that makes a 100 TB dedup store operable: you never reprocess the
    corpus. Spark runs the INCREMENTAL protocol (dedup the standing
    corpus A; ingest batch B; dedup B locally; merge survivor states by
    text with least(canon_id) / summed member counts — a full-outer
    merge of two survivor stores, the e1b/e20 machinery), and the
    oracle states the BATCH answer in one expression over the union.
    Hash equality IS the algebra proof: survivorship (min doc_id) and
    membership counts form a commutative monoid over batches, and any
    slip in the merge (a text matched by normalized key instead of
    byte key, a member count lost on the matched path, a survivor
    preferring the wrong side) breaks it. e1b grades the
    new-only-vs-corpus shape against an incrementally-PHRASED oracle;
    this query grades the merged STORE against the batch-phrased one.

    100 TB: each batch shuffles once on text (fingerprint in
    production — e36); the standing store is never rescanned, only
    merged survivor-to-survivor on the same key, and the merge is
    associative so batches compose in any arrival order."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    gate = F.pmod(F.col("doc_id"), F.lit(INGEST_SPLIT_DEN))

    def survivors(batch: DataFrame) -> DataFrame:
        return (batch.groupBy("text")
                .agg(F.min("doc_id").alias("canon_id"),
                     F.count(F.lit(1)).alias("n_members")))

    store_a = survivors(d.filter(gate < INGEST_SPLIT_NUM))
    store_b = survivors(d.filter(gate >= INGEST_SPLIT_NUM))
    # least() skips NULLs in Spark, so on a one-sided full-outer row it
    # returns the present side's canon_id directly.
    return (store_a.alias("a")
            .join(store_b.alias("b"), "text", "full")
            .select(
                F.least(F.col("a.canon_id"), F.col("b.canon_id"))
                .alias("canon_id"),
                "text",
                (F.coalesce(F.col("a.n_members"), F.lit(0))
                 + F.coalesce(F.col("b.n_members"), F.lit(0)))
                .alias("n_members")))
