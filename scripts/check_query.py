#!/usr/bin/env python
"""Dev loop: run one registered query at one or more fixture dirs, print
its result hash, and compare it with its DuckDB oracle (first mismatch
printed).  The comparison rules are imported from
tests/test_oracle_parity.py, so there is one copy of them.

    python scripts/check_query.py q_text_stats [sf_dir ...]

The hash (md5 over the sorted column names and the normalized sorted
rows) is the before/after bit-identical gate for implementation
rewrites.  The default dir is the fixture the test suite reads.
Exit 1 on any mismatch.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

import duckdb  # noqa: E402
from conftest import SF_DIR  # noqa: E402
from test_oracle_parity import _normalize, _values_equal  # noqa: E402

from etl_onprem_to_cloud_spark.queries import QUERIES  # noqa: E402
from etl_onprem_to_cloud_spark.schemas import FIXTURE_TABLES  # noqa: E402
from etl_onprem_to_cloud_spark.session import get_spark  # noqa: E402


def result_hash(rows, columns) -> str:
    norm, cols = _normalize(rows, columns)
    h = hashlib.md5()
    h.update(repr(cols).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


def oracle_mismatch(sf_dir: str, sql: str, rows, columns) -> str | None:
    """None when ``rows`` match the oracle ``sql`` over ``sf_dir``, else
    a description of the first difference."""
    con = duckdb.connect()
    try:
        for t in FIXTURE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        o = con.execute(sql)
        o_cols = [d[0] for d in o.description]
        o_rows = o.fetchall()
    finally:
        con.close()
    if sorted(columns) != sorted(o_cols):
        return f"COLUMN MISMATCH spark={sorted(columns)} oracle={sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"ROW COUNT MISMATCH spark={len(rows)} oracle={len(o_rows)}"
    s_norm, cols = _normalize(rows, columns)
    o_norm, _ = _normalize(o_rows, o_cols)
    for i, (sr, orow) in enumerate(zip(s_norm, o_norm)):
        for c, sv, ov in zip(cols, sr, orow):
            if not _values_equal(sv, ov):
                return f"row {i} col {c}: spark={sv!r} oracle={ov!r}"
    return None


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: check_query.py <name> [sf_dir ...]")
        return 2
    name, sf_dirs = sys.argv[1], sys.argv[2:] or [SF_DIR]
    spec = QUERIES[name]
    spark = get_spark(app_name="check-query")
    spark.sparkContext.setLogLevel("ERROR")
    failed = False
    for sf_dir in sf_dirs:
        sdf = spec.fn(spark, sf_dir)
        cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
        print(f"{name} {sf_dir} rows={len(rows)} hash={result_hash(rows, cols)}")
        if spec.oracle is None:
            print(f"{name}: rows-only query, cols={cols}")
            continue
        bad = oracle_mismatch(sf_dir, spec.oracle, rows, cols)
        print(f"{name}: {bad}" if bad else f"{name}: OK ({len(rows)} rows)")
        failed |= bad is not None
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
