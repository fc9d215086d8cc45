#!/usr/bin/env python
"""Scale ladder: time registered queries over fixture dirs of growing
scale and report how each step scales.

    python scripts/probe.py DIR [DIR ...] [--queries a,b] [--runs 2]
        [--warm DIR] [--sql] [--fresh-jvm] [--plans OUT_DIR]

Each query is warmed once on ``--warm`` (default: the first DIR), then
timed best-of-``--runs`` at every DIR, build included: the iterative
queries run their rounds while the DataFrame is being built.  A run
executes through ``plans.execution_metrics``, so one job yields both
the timing and the spill/shuffle totals.  Best-of-N because a single
host stall on either side of a step swings its exponent by +-0.5.

The exponent of a step is log10(t_next / t_prev); ladders are meant to
be decades (use scripts/derive.py), so 1.0 is linear in data volume,
< 1 is fixed overhead amortizing away and > 1 is super-linear (flagged).

- ``--queries``: comma-separated registry names (default: the bench
  headline set).
- ``--sql``: run each query's oracle SQL text through ``sqlfront``
  temp views instead of its DataFrame build, so view indirection is
  measured at volume.  Only the portable texts parse in Spark.
- ``--fresh-jvm``: one JVM per query, and a JVM GC after every run.
  Spark deletes shuffle and spill files only once their dependency is
  garbage collected, so at sf100 one query's leftovers can fill the
  disk under the next query; a JVM exit returns that disk, and a
  failure (an executor OOM) cannot cascade into later queries.  Both
  timed legs of a query share one JVM, so its exponents stay fair.
- ``--plans OUT_DIR``: write ``<query>_<dir name>.txt`` per leg, the
  formatted executed plan of the best run headed by its metrics.

Queries in ``CORPUS_OUTPUT`` return a row per document/session/node.
``execution_metrics`` collects into the driver JVM, which caps at
``spark.driver.maxResultSize``, so those run through a bounded
hash-reduce (count + sum of a hash over all columns): the full plan
runs on the same adaptive path but returns one row.

A query that fails is reported and the ladder goes on; the exit status
is then 1.  Prints a markdown table plus one JSON line.  Set
``SPARK_GRAFT_DRIVER_MEM`` for large ladders (16g at sf1, 48g at
sf100 in the README rows).
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE  # noqa: E402
from etl_onprem_to_cloud_spark.pinned import release_pinned  # noqa: E402
from etl_onprem_to_cloud_spark.plans import (  # noqa: E402
    execution_metrics,
    explain_str,
    shuffle_count,
)
from etl_onprem_to_cloud_spark.queries import QUERIES  # noqa: E402
from etl_onprem_to_cloud_spark.session import get_spark  # noqa: E402
from etl_onprem_to_cloud_spark.sqlfront import create_views  # noqa: E402

CORPUS_OUTPUT = {
    "q_events_user_sessions",
    "q_sessions_gaps_islands",
    "q_multimodal_decode_features",
    "q_multimodal_jpeg_decode",
    "q_dedup_clusters_star",
    "q_bfs_hops_from_hubs",
    "q_contrastive_pairs",
    "q_dsir_importance_resampling",
}


def _bounded(df):
    # F.hash throws on map-typed columns: hash their canonical JSON.
    cols = [
        F.to_json(F.col(f.name)) if "map<" in f.dataType.simpleString() else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.hash(*cols)).alias("row_hash"),
    )


def _fresh_session(old):
    """Stop ``old`` (dead or alive) and launch a new JVM and session."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        old.stop()
    except Exception as e:  # noqa: BLE001 - the old JVM may already be dead
        print(f"# stopping the old session: {e}", file=sys.stderr)
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    fresh = get_spark(app_name="probe")
    fresh.sparkContext.setLogLevel("ERROR")
    return fresh


def _sweep(spark) -> None:
    """Let the ContextCleaner delete the previous run's shuffle files
    before the next run writes its own."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(5)


def _build(spark, name: str, sf_dir: str, sql: bool):
    if sql:
        create_views(spark, sf_dir)
        df = spark.sql(QUERIES[name].oracle)
    else:
        df = QUERIES[name].fn(spark, sf_dir)
    return _bounded(df) if name in CORPUS_OUTPUT else df


def _best_of(spark, name: str, sf_dir: str, args):
    """(seconds, metrics, plan text or None) of the fastest run."""
    best = None
    for _ in range(args.runs):
        t0 = time.perf_counter()
        df = _build(spark, name, sf_dir, args.sql)
        m = execution_metrics(df)
        t = time.perf_counter() - t0
        if best is None or t < best[0]:
            plan = None
            if args.plans:
                m["exchanges"] = shuffle_count(df)
                plan = explain_str(df, "formatted")
            best = (t, m, plan)
        del df  # the sweep can only reclaim shuffles no plan references
        release_pinned()
        if args.fresh_jvm:
            _sweep(spark)
    return best


def _write_plan(out_dir: str, name: str, sf_dir: str, t: float, m: dict, plan: str):
    os.makedirs(out_dir, exist_ok=True)
    label = os.path.basename(os.path.normpath(sf_dir))
    with open(os.path.join(out_dir, f"{name}_{label}.txt"), "w") as f:
        f.write(
            f"# {name} @ {sf_dir}\n"
            f"# sec={t:.3f} exchanges={m['exchanges']} "
            f"shuffle_bytes={m['shuffle_bytes_written']} "
            f"spill_bytes={m['spill_bytes']} "
            f"scan_rows={m['scan_output_rows']}\n\n"
        )
        f.write(plan)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="+", help="fixture dirs, smallest first")
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--warm", help="warm-up dir (default: the first dir)")
    ap.add_argument("--sql", action="store_true")
    ap.add_argument("--fresh-jvm", action="store_true")
    ap.add_argument("--plans", metavar="OUT_DIR")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    names = [n for n in args.queries.split(",") if n]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    warm = args.warm or args.dirs[0]

    spark = get_spark(app_name="probe")
    spark.sparkContext.setLogLevel("ERROR")
    labels = [os.path.basename(os.path.normpath(d)) for d in args.dirs]
    print("| query | " + " | ".join(f"{x} (s)" for x in labels)
          + " | exponents | spill | shuffle |")
    print("|---" * (len(labels) + 4) + "|")
    results: dict[str, dict] = {}
    failed = False
    for i, name in enumerate(names):
        if i > 0 and args.fresh_jvm:
            spark = _fresh_session(spark)
        try:
            execution_metrics(_build(spark, name, warm, args.sql))
            release_pinned()
            legs = [_best_of(spark, name, d, args) for d in args.dirs]
        except Exception as e:  # noqa: BLE001 - one failure is a finding
            traceback.print_exc()
            release_pinned()
            failed = True
            results[name] = {"error": f"{type(e).__name__}: {e}"}
            print(f"| {name} | FAILED: {type(e).__name__}: {e} |", flush=True)
            continue
        times = [t for t, _, _ in legs]
        exps = [math.log10(b / a) for a, b in zip(times, times[1:])]
        if args.plans:
            for d, (t, m, plan) in zip(args.dirs, legs):
                _write_plan(args.plans, name, d, t, m, plan)
        results[name] = {
            "sec": [round(t, 3) for t in times],
            "exponent": [round(x, 3) for x in exps],
            "spill_bytes": [int(m["spill_bytes"]) for _, m, _ in legs],
            "shuffle_bytes": [int(m["shuffle_bytes_written"]) for _, m, _ in legs],
        }
        last = legs[-1][1]
        print(
            f"| {name} | " + " | ".join(f"{t:.2f}" for t in times) + " | "
            + ", ".join(f"{x:.2f}" + (" **SUPER-LINEAR**" if x > 1.0 else "")
                        for x in exps)
            + f" | {last['spill_bytes']:,} B | {last['shuffle_bytes_written']:,} B |",
            flush=True,
        )
    print(json.dumps({
        "metric": "probe",
        "dirs": args.dirs,
        "runs": args.runs,
        "sql": args.sql,
        "fresh_jvm": args.fresh_jvm,
        "queries": results,
    }))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
