"""Workload operations and their output checks.

An operation builds one DataFrame through the engine's public entry
points (``spark.sql`` over the ``sqlfront`` views, a registered query,
``run_netflix_pipeline`` or ``run_curation_pipeline``); the runner
times its build and the ``collect()`` of that DataFrame.  ``check``
runs after the timed region and returns ``None`` when the collected
rows, and any sinks the operation wrote, match an independent DuckDB
evaluation over the same inputs.
"""

from __future__ import annotations

import glob
import os
import random
from dataclasses import dataclass, field

from etl_onprem_to_cloud_spark.llm.curate import run_curation_pipeline
from etl_onprem_to_cloud_spark.pipeline import run_netflix_pipeline
from etl_onprem_to_cloud_spark.queries import QUERIES
from etl_onprem_to_cloud_spark.queries.netflix import FIXTURE_CSV
from etl_onprem_to_cloud_spark.sources.io import load_table


def compare(rows, cols, expected_rows, expected_cols) -> str | None:
    """None when the two results match under the rules of the oracle
    parity tests: columns sorted by name, rows sorted, values exact.
    Those rules are imported from ``tests/test_oracle_parity.py``, which
    the checker process puts on its path, so there is one copy of them."""
    from test_oracle_parity import _normalize as normalize
    from test_oracle_parity import _values_equal as values_equal

    if sorted(cols) != sorted(expected_cols):
        return f"columns {sorted(cols)} != {sorted(expected_cols)}"
    if len(rows) != len(expected_rows):
        return f"{len(rows)} rows != {len(expected_rows)} expected"
    got, names = normalize(rows, cols)
    want, _ = normalize(expected_rows, expected_cols)
    for i, (g, w) in enumerate(zip(got, want)):
        for c, a, b in zip(names, g, w):
            if not values_equal(a, b):
                return f"sorted row {i} column {c}: {a!r} != {b!r}"
    return None


def duck_rows(con, sql):
    cur = con.execute(sql)
    return cur.fetchall(), [d[0] for d in cur.description]


# -- run context --------------------------------------------------------------

@dataclass
class Context:
    """Inputs and sink locations one benchmark run shares across operations."""

    spark: object
    duck: object
    data_dir: str
    sink_dir: str
    titles_dir: str
    titles_csv: str
    _expected: dict = field(default_factory=dict)

    def once(self, key, fn):
        """``fn()``, computed once per run: the inputs never change."""
        if key not in self._expected:
            self._expected[key] = fn()
        return self._expected[key]

    def expected(self, key, sql):
        """DuckDB rows and columns of ``sql``, computed once per run."""
        return self.once(key, lambda: duck_rows(self.duck, sql))

    def sink(self, *parts):
        return os.path.join(self.sink_dir, *parts)


# -- operations -------------------------------------------------------------------

class Op:
    """One timed operation.  ``layer`` names the module whose public call
    is the operation's build step; it keys the traced build metrics."""

    name: str
    layer: str

    def build(self, ctx: Context):
        """Return ``(df, extra)``: the DataFrame to collect and any values
        the check needs."""
        raise NotImplementedError

    def check(self, ctx: Context, rows, cols, extra) -> str | None:
        raise NotImplementedError

    def written_bytes(self, ctx: Context) -> int:
        """Bytes of the sinks the operation writes (traced runs only)."""
        return 0


class SqlReport(Op):
    """A registered query's ANSI SQL text run through ``spark.sql`` over
    the ``sqlfront`` views: the path users take in place of Athena."""

    layer = "sqlfront"

    def __init__(self, query_name):
        self.name = f"sql:{query_name}"
        self.sql = QUERIES[query_name].oracle

    def build(self, ctx):
        return ctx.spark.sql(self.sql), None

    def check(self, ctx, rows, cols, extra):
        return compare(rows, cols, *ctx.expected(self.name, self.sql))


class RegisteredQuery(Op):
    """A registered DataFrame query, checked against its DuckDB oracle."""

    layer = "queries"

    def __init__(self, query_name):
        self.name = query_name
        self.spec = QUERIES[query_name]

    def build(self, ctx):
        return self.spec.fn(ctx.spark, ctx.data_dir), None

    def check(self, ctx, rows, cols, extra):
        return compare(rows, cols, *ctx.expected(self.name, self.spec.oracle))


def _titles_parquet(ctx):
    return ctx.sink("titles_parquet")


def _parquet_scan(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


CLEAN_COLUMNS = (
    "show_id title country release_year rating rating_meaning main_genre "
    "genre_group"
).split()


def _digest(ctx, relation):
    """Row count and an order-free hash of the eight clean columns, each
    cast to text so Parquet, CSV and SQL readers hash alike."""
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in CLEAN_COLUMNS)
    return ctx.duck.execute(
        f"SELECT count(*), sum(hash({cols})) FROM {relation}"
    ).fetchone()


class NetflixIngest(Op):
    """The reference pipeline: CSV in, cleaned rows to a Parquet sink
    partitioned by ``genre_group`` and a CSV sink, then the report."""

    name = "netflix_pipeline"
    layer = "pipeline"

    def build(self, ctx):
        res = run_netflix_pipeline(
            ctx.spark,
            ctx.titles_dir,
            parquet_out=_titles_parquet(ctx),
            csv_out=ctx.sink("titles_csv"),
            partition_by=["genre_group"],
        )
        return res.report, {"rows_out": res.rows_out}

    def written_bytes(self, ctx):
        return dir_bytes(_titles_parquet(ctx)) + dir_bytes(ctx.sink("titles_csv"))

    def check(self, ctx, rows, cols, extra):
        oracle = QUERIES["q_netflix_clean"].oracle.replace(FIXTURE_CSV, ctx.titles_csv)
        clean = ctx.once("netflix_clean", lambda: _digest(ctx, f"({oracle})"))
        sinks = {
            "parquet sink": _digest(ctx, _parquet_scan(_titles_parquet(ctx))),
            "csv sink": _digest(
                ctx,
                f"read_csv('{ctx.sink('titles_csv')}/*.csv', header = true, "
                "all_varchar = true)",
            ),
        }
        if clean[0] != extra["rows_out"]:
            return f"clean rows {extra['rows_out']} != oracle {clean[0]}"
        for label, got in sinks.items():
            if got != clean:
                return f"{label} {got} != clean {clean}"
        report = duck_rows(
            ctx.duck,
            "SELECT genre_group, country, count(*) AS n_titles FROM "
            f"{_parquet_scan(_titles_parquet(ctx))} GROUP BY genre_group, country",
        )
        return compare(rows, cols, *report)


class NetflixSql(Op):
    """ANSI SQL over the Parquet the ingest just wrote, the way the
    reference's users query its output through Athena."""

    name = "sql:titles_by_rating"
    layer = "sqlfront"
    SQL = (
        "SELECT genre_group, rating, count(*) AS n_titles, "
        "min(release_year) AS first_year, max(release_year) AS last_year, "
        "count(DISTINCT country) AS n_countries "
        "FROM {titles} WHERE release_year >= 2000 GROUP BY genre_group, rating"
    )

    def build(self, ctx):
        ctx.spark.read.parquet(_titles_parquet(ctx)).createOrReplaceTempView(
            "titles_clean"
        )
        return ctx.spark.sql(self.SQL.format(titles="titles_clean")), None

    def check(self, ctx, rows, cols, extra):
        sql = self.SQL.format(titles=_parquet_scan(_titles_parquet(ctx)))
        return compare(rows, cols, *duck_rows(ctx.duck, sql))


class Curation(Op):
    """``run_curation_pipeline`` over the documents table: dedup, quality
    gate and split, writing the corpus and its manifest."""

    name = "curation_pipeline"
    layer = "curate"

    def build(self, ctx):
        docs = load_table(ctx.spark, ctx.data_dir, "documents")
        res = run_curation_pipeline(
            docs, ctx.sink("corpus"), manifest_out=ctx.sink("manifest")
        )
        return res.manifest, {"rows_kept": res.rows_kept}

    def check(self, ctx, rows, cols, extra):
        oracle = QUERIES["q_training_data_pipeline"].oracle
        bad = compare(rows, cols, *ctx.expected(self.name, oracle))
        if bad:
            return bad
        corpus = ctx.duck.execute(
            f"SELECT count(*) FROM {_parquet_scan(ctx.sink('corpus'))}"
        ).fetchone()[0]
        if corpus != extra["rows_kept"]:
            return f"corpus sink {corpus} rows != {extra['rows_kept']} kept"
        manifest = duck_rows(
            ctx.duck, f"SELECT * FROM read_parquet('{ctx.sink('manifest')}/*.parquet')"
        )
        return compare(rows, cols, *manifest)


# -- workloads ------------------------------------------------------------------

@dataclass
class Workload:
    """``data`` names the directory of input tables under ``perfbench/data``.
    ``units`` are shuffled per pass; the operations inside one unit keep
    their order (the titles SQL reads what the ingest wrote).  Why each
    workload was chosen is recorded in ``BENCHMARK.json``."""

    data: str
    units: list
    titles_rows: int = 0

    def ops(self):
        return [op for unit in self.units for op in unit]


def _sql(*names):
    return [[SqlReport(n)] for n in names]


def _df(*names):
    return [[RegisteredQuery(n)] for n in names]


def workloads() -> dict[str, Workload]:
    return {
        "etl_reports": Workload(
            data="sf0.01",
            titles_rows=5_000,
            units=[[NetflixIngest(), NetflixSql()]]
            + _sql("q01_pricing_summary", "q_window_running_sum")
            + _df("q03_shipping_priority", "q_asof_join_click_attribution"),
        ),
        "curation_udf": Workload(
            data="sf0.001",
            units=[[Curation()]]
            + _df(
                "q_multimodal_png_decode",
                "q_multimodal_wav_decode",
                "q_multimodal_ppm_decode",
                "q_ewma_user_values",
                "q_weighted_median_price",
            ),
        ),
    }


def write_titles_csv(out_path: str, rows: int, seed: int) -> int:
    """Resample the data lines of the shipped ``netflix_titles`` fixture
    into ``rows`` lines, renumbering ``show_id`` so every row stays
    unique; returns the file size in bytes.  The same seed gives the
    same file.

    The fixture holds one record per line and ``show_id`` is its first,
    unquoted field, so lines are resampled as text and keep the
    fixture's exact quoting."""
    with open(FIXTURE_CSV, encoding="utf-8") as f:
        header, *lines = f.read().splitlines()
    tails = [line.split(",", 1)[1] for line in lines]
    rng = random.Random(seed)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(header + "\n")
        f.writelines(f"s{i + 1},{rng.choice(tails)}\n" for i in range(rows))
    return os.path.getsize(out_path)


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
