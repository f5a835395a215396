#!/usr/bin/env python
"""Measured shuffle/spill/broadcast volumes for every bench-headline query.

The static plan audit (PLAN_AUDIT.md) counts Exchange nodes; this script
weighs them: for each headline query at $SPARK_GRAFT_SF_DIR it executes the
query and reads the executed plan's SQLMetrics via
`plans.metrics.runtime_metrics` — actual shuffle bytes written, broadcast
relation bytes, spill bytes, peak per-task memory, rows scanned vs rows
out. This is the number the 100 TB argument rests on: a query whose
shuffle volume is a small multiple of its USEFUL output scales; one that
shuffles its whole input does not (and must say so in DESIGN_SCALE.md).

Prints a markdown table and one JSON line; with --write it also splices
the table into PLAN_AUDIT.md under the "Measured runtime volumes" section
(scripts/gen_plan_audit.py preserves that section across regenerations).

Usage: cd /tmp && python <repo>/scripts/measure_shuffles.py [--write]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from pyspark_ml_features_spark import registry  # noqa: E402
from pyspark_ml_features_spark.plans.metrics import runtime_metrics  # noqa: E402
from pyspark_ml_features_spark.session import get_spark  # noqa: E402


PLAN_AUDIT = os.path.join(ROOT, "PLAN_AUDIT.md")
MARKER = "\n## Measured runtime volumes"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="spark-graft-shuffle-measure")
    queries = registry.all_queries()

    rows: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        df = queries[name].fn(spark, sf_dir)
        df.collect()  # executes THIS DataFrame's QueryExecution
        rows[name] = runtime_metrics(df).row()

    table_lines = [
        "| query | shuffle MiB | broadcast MiB | spill MiB | "
        "peak task MiB | scan rows | out rows |",
        "|---|---:|---:|---:|---:|---:|---:|",
    ]
    for name, r in rows.items():
        table_lines.append(
            f"| {name} | {r['shuffle_MiB']} | {r['broadcast_MiB']} | "
            f"{r['spill_MiB']} | {r['peak_task_MiB']} | "
            f"{r['scan_rows']} | {r['out_rows']} |")
    print("\n".join(table_lines))
    total_shuffle = round(sum(r["shuffle_MiB"] for r in rows.values()), 2)
    spills = {n: r["spill_MiB"] for n, r in rows.items() if r["spill_MiB"]}
    print()
    print(json.dumps({"metric": "headline_shuffle_MiB",
                      "value": total_shuffle,
                      "spills": spills,
                      "queries": rows}))

    if "--write" in sys.argv:
        section = (
            f"{MARKER} ({os.path.basename(sf_dir)})\n\n"
            "Executed-plan SQLMetrics per headline query "
            "(`plans/metrics.py`; regenerate with "
            "`python scripts/measure_shuffles.py --write`). `shuffle MiB` "
            "is bytes actually written across ALL Exchange nodes; "
            "`broadcast MiB` is built broadcast-relation size; a non-zero "
            "`spill MiB` anywhere is a memory-sizing bug at this SF.\n\n"
            + "\n".join(table_lines)
            + f"\n\nHeadline total shuffle: {total_shuffle} MiB; "
            f"queries that spill: {spills or 'none'}.\n")
        with open(PLAN_AUDIT) as f:
            doc = f.read()
        idx = doc.find(MARKER)
        doc = (doc[:idx] if idx != -1 else doc.rstrip("\n") + "\n") + section
        with open(PLAN_AUDIT, "w") as f:
            f.write(doc)
        print(f"updated {PLAN_AUDIT}")
    spark.stop()


if __name__ == "__main__":
    main()
