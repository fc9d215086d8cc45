#!/usr/bin/env python
"""Interleaved A/B of registered queries under session-conf legs, in
one JVM.

    python scripts/ab.py SF_DIR QUERY [QUERY ...] [--leg SPEC ...] [--reps 3]

A leg is a named set of session-conf overrides.  ``--leg`` takes a
built-in name from ``LEGS`` or ``name:key=value[,key=value...]``; the
default legs are ``base`` and ``nohint``.  ``nohint`` sets
``spark.sql.optimizer.disableHints``, so every join-strategy hint in
the library (the ``shuffle_hash`` builds of the iterative loops and
the count-carry verify) is left to AQE's runtime choice.

Every leg first runs each query once untimed (warm-up); then ``--reps``
rounds time build + ``collect()`` of each query under each leg, the
leg order reversed every other round so drift does not favour one
leg.  Every run's result hash (scripts/check_query.py) must equal the
first one, else the tool exits 1.  The output carries the
``bench.calibrate`` stamp, so numbers from different sessions can be
put side by side; compare legs only within one run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import calibrate  # noqa: E402
from check_query import result_hash  # noqa: E402
from etl_onprem_to_cloud_spark.pinned import release_pinned  # noqa: E402
from etl_onprem_to_cloud_spark.queries import QUERIES  # noqa: E402
from etl_onprem_to_cloud_spark.session import get_spark  # noqa: E402

LEGS = {
    "base": {},
    "nohint": {"spark.sql.optimizer.disableHints": "true"},
}


def parse_leg(spec: str) -> tuple[str, dict[str, str]]:
    name, sep, conf = spec.partition(":")
    if not sep:
        if name not in LEGS:
            raise argparse.ArgumentTypeError(f"unknown leg {name!r}; built-ins: {sorted(LEGS)}")
        return name, LEGS[name]
    pairs = [kv.partition("=") for kv in conf.split(",")]
    if not name or any(not k or not eq for k, eq, _ in pairs):
        raise argparse.ArgumentTypeError(f"bad leg {spec!r}; want name:key=value[,...]")
    return name, {k: v for k, _, v in pairs}


@contextmanager
def session_conf(spark, overrides: dict[str, str]):
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run(spark, name: str, sf_dir: str) -> tuple[float, str]:
    t0 = time.perf_counter()
    df = QUERIES[name].fn(spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    dt = time.perf_counter() - t0
    release_pinned()
    return dt, result_hash(rows, df.columns)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--leg", type=parse_leg, action="append", dest="legs")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be >= 1")
    legs = dict(args.legs or LEGS.items())
    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    hashes: dict[str, str] = {}
    mismatches = []

    def check(name: str, leg: str, h: str) -> None:
        want = hashes.setdefault(name, h)
        if h != want:
            mismatches.append({"query": name, "leg": leg, "hash": h, "expected": want})
            print(f"# HASH MISMATCH {name} leg {leg}: {h} != {want}", flush=True)

    for leg, conf in legs.items():
        with session_conf(spark, conf):
            for name in args.queries:
                check(name, leg, run(spark, name, args.sf_dir)[1])
    py_calib, spark_calib = calibrate(spark)
    print(f"# calib py_loop {py_calib} spark_range {spark_calib}", flush=True)

    times = {n: {leg: [] for leg in legs} for n in args.queries}
    for rep in range(args.reps):
        order = list(legs) if rep % 2 == 0 else list(legs)[::-1]
        for leg in order:
            with session_conf(spark, legs[leg]):
                for name in args.queries:
                    spark.sparkContext.setJobDescription(f"ab:{name}:{leg}:{rep}")
                    dt, h = run(spark, name, args.sf_dir)
                    check(name, leg, h)
                    times[name][leg].append(round(dt, 3))
    spark.stop()
    out = {}
    for name, per_leg in times.items():
        rec = {leg: min(v) for leg, v in per_leg.items()}
        rec["raw"], rec["hash"] = per_leg, hashes[name]
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps({
        "metric": "ab",
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "legs": legs,
        "calib": {"py_loop_sec": py_calib, "spark_range_sec": spark_calib},
        "queries": out,
        "hash_mismatches": mismatches,
    }))
    return 1 if mismatches else 0


if __name__ == "__main__":
    raise SystemExit(main())
