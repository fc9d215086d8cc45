#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the bench headline
queries at sf0.1, for plan-quality review (broadcasts, pushdowns,
exchange counts, codegen spans)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from etl_onprem_to_cloud_spark.plans import (  # noqa: E402
    execution_metrics,
    explain_str,
    shuffle_count,
)
from etl_onprem_to_cloud_spark.queries import QUERIES  # noqa: E402
from etl_onprem_to_cloud_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — physical plans of the bench headline queries",
           "", f"Generated by scripts/dump_plans.py at {sf_dir}.", ""]
    for name in HEADLINE:
        df = QUERIES[name].fn(spark, sf_dir)
        plan = explain_str(df, "simple").strip()
        # Counted before the run: an executed adaptive plan prints its
        # final and initial plans, and each exchange would count twice.
        exchanges = shuffle_count(df)
        # Executed metrics, not just the declared plan: what the
        # exchanges actually moved, and whether anything spilled.
        try:
            m = execution_metrics(df)
            measured = (
                f"Measured at {os.path.basename(sf_dir)}: "
                f"shuffle {m['shuffle_bytes_written']:,} B / "
                f"{m['shuffle_records_written']:,} records, "
                f"spill {m['spill_bytes']:,} B, "
                f"scan {m['scan_output_rows']:,} rows"
            )
        except Exception as e:  # pragma: no cover - metrics are best-effort
            measured = f"Measured: unavailable ({e})"
        out += [f"## {name}", "",
                f"Exchanges: {exchanges}", "",
                measured, "",
                "```", plan, "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
