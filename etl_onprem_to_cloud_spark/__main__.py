"""CLI for the engine: list and run registered queries.

    python -m etl_onprem_to_cloud_spark list [--tag dedup]
    python -m etl_onprem_to_cloud_spark run q01_pricing_summary \
        [--sf-dir /root/testdata/sf0.1] [--limit 20] [--explain] [--metrics]
    python -m etl_onprem_to_cloud_spark curate --sf-dir DIR --out DIR

``run`` prints the result as Spark's show() table (bounded by --limit),
optionally with the simple-mode physical plan and the executed-plan
shuffle/spill metrics -- the same evidence surfaces the tests assert on.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_onprem_to_cloud_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--tag", help="filter by tag substring")

    p_run = sub.add_parser("run", help="run one registered query")
    p_run.add_argument("name")
    p_run.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true")
    p_run.add_argument("--metrics", action="store_true")

    p_cur = sub.add_parser(
        "curate",
        help="run the curation pipeline: dedup -> quality gate -> split, "
        "write split-partitioned corpus + manifest",
    )
    p_cur.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p_cur.add_argument("--out", required=True, help="output directory")

    args = p.parse_args(argv)

    from .queries import QUERIES

    if args.cmd == "list":
        for name, spec in QUERIES.items():
            if args.tag and not any(args.tag in t for t in spec.tags):
                continue
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{name}\t[{oracle}]\t{', '.join(spec.tags)}")
        return 0

    if args.cmd == "curate":
        from pyspark.sql import SparkSession

        from .llm.curate import run_curation_pipeline
        from .session import get_spark
        from .sources.io import load_table

        preexisting = SparkSession.getActiveSession() is not None
        spark = get_spark(app_name="cli-curate")
        spark.sparkContext.setLogLevel("ERROR")
        docs = load_table(spark, args.sf_dir, "documents")
        res = run_curation_pipeline(
            docs,
            corpus_out=os.path.join(args.out, "corpus"),
            manifest_out=os.path.join(args.out, "manifest"),
        )
        res.manifest.show(100, truncate=False)
        print(f"kept {res.rows_kept}/{res.rows_in} docs -> {args.out}")
        if not preexisting:
            spark.stop()
        return 0

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    from pyspark.sql import SparkSession

    from .session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"cli-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.name].fn(spark, args.sf_dir)
    if args.explain:
        from .plans import explain_str

        print(explain_str(df, "simple"))
    df.show(args.limit, truncate=False)
    if args.metrics:
        from .plans import execution_metrics

        # show() above ran a LIMIT-ed sibling execution; metrics must
        # come from the full plan, so let the helper execute it.
        m = execution_metrics(df)
        print(
            f"shuffle {m['shuffle_bytes_written']:,} B / "
            f"{m['shuffle_records_written']:,} records, "
            f"spill {m['spill_bytes']:,} B, "
            f"scan {m['scan_output_rows']:,} rows"
        )
    # Only tear down a session this invocation created: when embedded
    # (tests, notebooks) getOrCreate returns the caller's session and
    # stopping it would kill their jobs.
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
