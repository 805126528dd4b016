"""Generate PLANS.md: the physical-plan scorecard for every driver
query at sf0.01 — pushed filters, read schema, broadcast usage,
single-partition-exchange red flags, codegen spans.

Usage: python tools/gen_plans_report.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    import __spark_entry__ as entry_mod
    from parquet_editor_spark import plans as P
    from parquet_editor_spark.session import get_spark

    spark = get_spark(app_name="plans-report")
    rows = []
    for name, fn in entry_mod.queries().items():
        if name.startswith("probe_"):
            continue  # literal one-row diagnostics, no plan to audit
        if name.startswith("stream_"):
            rows.append((name, "(streaming — plan finalized per micro-batch)", "", "", ""))
            continue
        try:
            df = fn(spark, SF_DIR)
            rep = P.plan_report(df)
            rows.append(
                (
                    name,
                    "yes" if rep["pushed_filters"] else "—",
                    str(len(rep["read_schema"])),
                    "yes" if rep["broadcast_join"] else "—",
                    "⚠️ YES" if rep["single_partition_exchange"] else "no",
                )
            )
        except Exception as e:  # pragma: no cover
            rows.append((name, f"error: {e}", "", "", ""))

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan scorecard (generated)\n\n"
            "Per driver query at sf0.01: does the plan push filters into the\n"
            "scan, how many columns does the scan read (pruning), does it use\n"
            "a broadcast join, and does it contain the single-partition\n"
            "exchange anti-pattern. Regenerate: `python tools/gen_plans_report.py`.\n\n"
            "NB: a single-partition exchange is benign for GLOBAL (no-key)\n"
            "aggregates — only the per-partition partial results (one row\n"
            "per task) cross it, not the data. It is an anti-pattern only\n"
            "when full rows funnel through it (global sorts/windows), which\n"
            "tests/test_plans.py pins out of every such operator.  The\n"
            "pack_* / shards_to_blocks rows are the same class: their only\n"
            "single-partition frame is the one-row-per-bucket offsets window\n"
            "of the distributed prefix sum (metadata-scale, broadcast back),\n"
            "pinned by test_pack_documents_data_side_window_is_bucketed.\n"
            "Third benign class (r13): an ordered fold over an ALREADY-\n"
            "AGGREGATED bounded table — classifier_roc_auc_docs' cumulative\n"
            "sum runs over the <= |distinct margins| margin-group rows that\n"
            "one corpus-sized hash agg produced (the PR-grid class), pinned\n"
            "by test_classifier_roc_auc_folds_bounded_metadata.\n\n"
            "| query | pushed filters | scan cols | broadcast | single-partition exchange |\n"
            "| --- | --- | --- | --- | --- |\n"
        )
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
