"""Output checks of one benchmark run, in a process of their own.

``run.py`` starts this module as a child, which answers ``"ready"`` on
its stdout once DuckDB is set up.  After each pass ``run.py`` sends one
pickled ``(op_name, rows, columns, extra)`` per operation on the child's
stdin, and the child answers each with ``None`` or a mismatch message
(``workloads.Op.check``).  DuckDB, its query results and the oracle's
expected rows live here, so they stay out of the memory the run reports
for the engine's driver.

    python3 perfbench/checker.py <workload> <data_dir> <sink_dir> <titles_dir> <titles_csv> <tmp_dir>
"""

from __future__ import annotations

import os
import pickle
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv) -> int:
    workload, data_dir, sink_dir, titles_dir, titles_csv, tmp_dir = argv
    # The replies are the only output on stdout.
    out = sys.stdout.buffer
    sys.stdout = sys.stderr
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import duckdb

    import workloads
    from etl_onprem_to_cloud_spark.schemas import FIXTURE_TABLES

    ops = {op.name: op for op in workloads.workloads()[workload].ops()}
    ctx = workloads.Context(
        spark=None,
        duck=duckdb.connect(config={"temp_directory": tmp_dir}),
        data_dir=data_dir,
        sink_dir=sink_dir,
        titles_dir=titles_dir,
        titles_csv=titles_csv,
    )
    for t in FIXTURE_TABLES:
        ctx.duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    pickle.dump("ready", out)
    out.flush()
    while True:
        try:
            name, rows, cols, extra = pickle.load(sys.stdin.buffer)
        except EOFError:
            break
        try:
            bad = ops[name].check(ctx, rows, cols, extra)
        except Exception:
            bad = traceback.format_exc()
        pickle.dump(bad, out)
        out.flush()
    ctx.duck.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
