"""The composed curation pipeline must inherit its stages' verified
semantics: the funnel's end state satisfies every stage's contract
simultaneously (dedup'd, decontaminated, quality-bounded, packed within
capacity, split without near-dup leakage)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from pyspark_ml_features_spark.pipeline import curate, funnel_report
from pyspark_ml_features_spark.plans.audit import (
    capture_checkpoint_plans,
    plan_text,
)
from tests.conftest import SF_DIR

# The sf0.1 integration pin is the suite's single heaviest fixture
# (a full curate() run at 10x the grading scale). ADVICE r7: keep it
# out of the default ~3-min suite; the round's closing full-scale pass
# opts in with PMFS_SF01_PIPELINE=1.
SF01_DIR = "/root/testdata/sf0.1"
RUN_SF01 = os.environ.get("PMFS_SF01_PIPELINE", "") == "1"


# e76's exact funnel at the driver's grading scale (sf0.01), pinned so a
# driver-side drift surfaces as a count DIFF instead of a shrug (VERDICT
# r5 task 6). The pipeline is deterministic for a fixed sf_dir — these
# are the numbers every driver run must reproduce.
E76_FUNNEL_SF001 = [
    ("exact_dedup", 500, 500),
    ("near_dup_dedup", 500, 476),
    ("decontaminate", 476, 382),
    ("quality_filter", 382, 382),
]
E76_PACKED_BINS_SF001 = 238
E76_TRAIN_DOCS_SF001 = 297

# Same pins at the BENCH scale (sf0.1) — VERDICT r6 task 8: the
# integration path is drift-gated at both grading scales, not just the
# driver's. Measured 2026-08-15; deterministic for the fixed sf_dir.
E76_FUNNEL_SF01 = [
    ("exact_dedup", 5000, 4992),
    ("near_dup_dedup", 4992, 4772),
    ("decontaminate", 4772, 787),
    ("quality_filter", 787, 787),
]
E76_PACKED_BINS_SF01 = 405
E76_TRAIN_DOCS_SF01 = 631


@pytest.mark.skipif(
    not RUN_SF01 or not os.path.isdir(SF01_DIR),
    reason="sf0.1 integration pin is opt-in (PMFS_SF01_PIPELINE=1)")
def test_curation_pipeline_pinned_counts_sf01(spark):
    """The sf0.1 funnel the demo script prints, as a pinned assertion."""
    r = curate(spark, SF01_DIR)
    assert [tuple(t) for t in r["funnel"]] == E76_FUNNEL_SF01
    assert (r["packed"].select("lang", "shard", "bin_id")
            .distinct().count()) == E76_PACKED_BINS_SF01
    assert int(r["split"].agg(F.sum("in_train")).collect()[0][0]
               or 0) == E76_TRAIN_DOCS_SF01


# One materialization per funnel stage, in funnel order (the
# pipeline's materialization contract).
CURATE_STAGE_LABELS = [
    "curate.documents",
    "curate.exact_dedup",
    "curate.near_dup_dedup",
    "curate.decontaminate",
    "curate.quality_filter",
]


@pytest.fixture(scope="module")
def curated(spark):
    """One default curate() run at the parity scale, with the plans of
    every checkpoint it took."""
    with capture_checkpoint_plans() as captured:
        r = curate(spark, SF_DIR)
    return r, list(captured)


def test_curation_stages_are_materialized_once(curated):
    """Each funnel stage is checkpointed exactly once, in funnel order,
    and the returned frames read those checkpoints: none of their plans
    re-scans ``documents``."""
    r, captured = curated
    labels = [c["label"] for c in captured
              if c["label"].startswith("curate.")]
    assert labels == CURATE_STAGE_LABELS
    for key in ("kept", "packed", "split"):
        assert "FileScan" not in plan_text(r[key]), (
            f"{key} re-scans its source instead of reading the "
            f"materialized stage")


def test_curation_pipeline_empty_funnel(spark):
    """A quality bound no document meets empties the funnel; the
    mixture, packing and split stages must return empty frames, not
    raise."""
    r = curate(spark, SF_DIR, min_frac_alpha=1.1)
    assert r["funnel"][-1][0] == "quality_filter"
    assert r["funnel"][-1][2] == 0
    for key in ("mixture", "packed", "split"):
        assert r[key].count() == 0, key


def test_curation_pipeline_end_state(curated):
    r, _ = curated

    # funnel is monotone non-increasing and ends non-empty
    counts = [(n_in, n_out) for _, n_in, n_out in r["funnel"]]
    assert all(n_out <= n_in for n_in, n_out in counts)
    assert counts[-1][1] > 0
    assert funnel_report(r).count("\n") == len(counts)

    # pinned counts at the default grading scale (skipped under a
    # PARITY_SF_DIR override — the pin is sf-specific)
    if SF_DIR.endswith("sf0.01"):
        assert [tuple(t) for t in r["funnel"]] == E76_FUNNEL_SF001
        assert (r["packed"].select("lang", "shard", "bin_id")
                .distinct().count()) == E76_PACKED_BINS_SF001
        assert int(r["split"].agg(F.sum("in_train")).collect()[0][0]
                   or 0) == E76_TRAIN_DOCS_SF001

    kept = r["kept"].cache()

    # exact-dedup contract: normalized texts unique among kept docs
    n_kept = kept.count()
    assert kept.select(F.lower(F.trim("text"))).distinct().count() == n_kept

    # near-dup contract: no surviving pair at the clustering threshold —
    # any such pair would have shared a cluster, and only the cluster min
    # survives. Signatures are per-doc, so re-running candidate
    # generation on the kept subset finds exactly the surviving pairs.
    from pyspark_ml_features_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    surviving = (minhash_candidate_pairs(kept.select("doc_id", "text"))
                 .filter(F.col("est_jaccard") >= 0.9).count())
    assert surviving == 0

    # decontamination contract: no benchmark-slice docs in the corpus
    assert kept.filter(F.col("doc_id") % 5 == 0).count() == 0

    # packing contract: every kept doc packed exactly once; multi-member
    # bins never exceed capacity (an oversized singleton may)
    packed = r["packed"].cache()
    assert packed.count() == n_kept
    assert packed.select("doc_id").distinct().count() == n_kept
    bins = (packed.groupBy("lang", "shard", "bin_id")
            .agg(F.sum("n_tokens").alias("fill"),
                 F.count(F.lit(1)).alias("members")))
    assert bins.filter((F.col("fill") > 120)
                       & (F.col("members") > 1)).count() == 0

    # split contract: clusters move atomically, so near-dup pairs cannot
    # cross train/eval; the split covers every kept doc exactly once
    split = r["split"].cache()
    assert split.count() == n_kept
    crossing = (split.groupBy("cluster_id")
                .agg(F.count_distinct("in_train").alias("sides"))
                .filter(F.col("sides") > 1).count())
    assert crossing == 0
    frac = (split.agg(F.sum("in_train")).collect()[0][0] or 0) / n_kept
    assert 0.6 <= frac <= 0.95  # near train_frac=0.8, cluster-granular

    # mixture report: shares sum to 1, weights positive
    mix = r["mixture"].collect()
    assert abs(sum(m["actual_share"] for m in mix) - 1.0) < 1e-4
    assert all(m["weight"] > 0 for m in mix)

    kept.unpersist()
    packed.unpersist()
    split.unpersist()
