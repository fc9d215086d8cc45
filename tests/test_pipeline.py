"""End-to-end pipeline test: CSV in -> clean Parquet + CSV out -> report,
including the latest-file extract semantics (reference etl/extract.py:10-17)
and partitioned output the reference lacks."""

from __future__ import annotations

import csv
import os
import re
import threading

import pytest

from etl_onprem_to_cloud_spark.pipeline import run_netflix_pipeline
from etl_onprem_to_cloud_spark.schemas import NETFLIX_CLEAN

HEADER = [
    "show_id", "type", "title", "director", "cast", "country", "date_added",
    "release_year", "rating", "duration", "listed_in", "description",
]

OLD_ROWS = [
    ["old1", "TV Show", "Old Show", "", "", "France", "", "2001", "TV-G",
     "1 Season", "Drama", "stale file, must be ignored"],
]

NEW_ROWS = [
    ["n1", "TV Show", "Comma, Title", "", "", "Spain", "", "2020", "TV-MA",
     "1 Season", "Crime TV Shows", "desc with, comma"],
    ["n2", "TV Show", "Brit", "", "", "Scotland", "", "2019x", "TV-G",
     "1 Season", "Kids' TV", "x"],
    ["n3", "Movie", "Skip Me", "", "", "Spain", "", "2018", "PG", "90 min",
     "Drama", "x"],
    ["n4", "TV Show", "No Country", "", "", "Brazil", "", "2017", "R",
     "1 Season", "Reality TV", "x"],
]


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "input"
    d.mkdir()
    _write_csv(d / "netflix_2001.csv", OLD_ROWS)
    _write_csv(d / "netflix_2020.csv", NEW_ROWS)
    (d / "notes.txt").write_text("not a csv")
    return str(d)


def test_pipeline_end_to_end(spark, input_dir, tmp_path):
    pq = str(tmp_path / "out_parquet")
    cs = str(tmp_path / "out_csv")
    res = run_netflix_pipeline(
        spark, input_dir, parquet_out=pq, csv_out=cs, partition_by=["country"]
    )

    # extract: lexicographic-latest csv wins, txt ignored
    assert res.input_path.endswith("netflix_2020.csv")
    assert res.rows_in == 4
    assert res.rows_out == 2  # n3 is a Movie, n4 non-EU

    out = {r["show_id"]: r.asDict() for r in res.clean.collect()}
    assert out["n1"]["title"] == "Comma - Title"
    assert out["n2"]["country"] == "United Kingdom"
    assert out["n2"]["release_year"] == 2019

    # parquet sink is hive-partitioned by country
    dirs = {d for d in os.listdir(pq) if d.startswith("country=")}
    assert dirs == {"country=Spain", "country=United Kingdom"}
    assert spark.read.parquet(pq).count() == 2

    # CSV sink round-trips embedded commas via quoting (the reference
    # mangled titles instead, etl/transform.py:176-177)
    back = spark.read.option("header", "true").csv(cs)
    assert back.count() == 2
    assert {r["show_id"] for r in back.collect()} == {"n1", "n2"}

    # report aggregation matches clean rows
    rep = {(r["genre_group"], r["country"]): r["n_titles"] for r in res.report.collect()}
    assert rep[("Crime", "Spain")] == 1
    assert rep[("Kids", "United Kingdom")] == 1


def _bounded(fn, timeout_s=300):
    """``fn()`` in a daemon thread: a row count that never arrives fails
    the test instead of blocking the suite."""
    box = {}

    def target():
        try:
            box["value"] = fn()
        except BaseException as e:  # re-raised in the test's thread
            box["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), f"pipeline still running after {timeout_s} s"
    if "error" in box:
        raise box["error"]
    return box["value"]


@pytest.mark.parametrize(
    "rows, counts", [(NEW_ROWS, (4, 2)), ([], (0, 0))], ids=["rows", "header-only"]
)
@pytest.mark.parametrize(
    "parquet, csv_sink",
    [(True, True), (True, False), (False, True), (False, False)],
    ids=["parquet+csv", "parquet", "csv", "no-sink"],
)
def test_pipeline_counts_and_schema_per_sink(
    spark, tmp_path, rows, counts, parquet, csv_sink
):
    d = tmp_path / "input"
    d.mkdir()
    _write_csv(d / "netflix.csv", rows)
    res = _bounded(
        lambda: run_netflix_pipeline(
            spark,
            str(d),
            parquet_out=str(tmp_path / "pq") if parquet else None,
            csv_out=str(tmp_path / "csv") if csv_sink else None,
            partition_by=["country"],
        )
    )
    assert (res.rows_in, res.rows_out) == counts
    assert res.clean.schema.simpleString() == NETFLIX_CLEAN.simpleString()
    if not rows:
        assert res.report.collect() == []


def test_pipeline_scans_csv_once(spark, input_dir, tmp_path):
    """With both sinks the CSV is parsed by the Parquet write alone: the
    build runs at most the two sink jobs, and the report scans the
    written Parquet."""
    sc = spark.sparkContext
    group = "test_pipeline_scans_csv_once"
    sc.setJobGroup(group, group)
    try:
        res = run_netflix_pipeline(
            spark,
            input_dir,
            parquet_out=str(tmp_path / "pq"),
            csv_out=str(tmp_path / "csv"),
            partition_by=["country"],
        )
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2

    res.report.collect()
    plan = res.report._jdf.queryExecution().executedPlan().toString()
    # AQE prints its final and initial plans; both must scan Parquet only.
    assert set(re.findall(r"FileScan (\w+)", plan)) == {"parquet"}, plan


def test_pipeline_empty_dir(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        run_netflix_pipeline(spark, str(empty))


def _documents(spark, sf_dir):
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    return read_parquet(spark, f"{sf_dir}/documents.parquet")


@pytest.mark.parametrize(
    "corpus, manifest",
    [(True, True), (True, False), (False, True), (False, False)],
    ids=["corpus+manifest", "corpus", "manifest", "no-sink"],
)
def test_curation_pipeline_writes_partitioned_corpus(
    spark, sf_dir, tmp_path, corpus, manifest
):
    """Operational facade: the curated corpus lands as split-partitioned
    parquet (readers partition-prune to their fold), the manifest
    matches the oracle-checked q_training_data_pipeline rollup, and the
    written rows reconcile with the returned counts -- with either sink,
    both, or neither."""
    from etl_onprem_to_cloud_spark.llm.curate import run_curation_pipeline
    from etl_onprem_to_cloud_spark.queries import QUERIES

    docs = _documents(spark, sf_dir)
    corpus_out = str(tmp_path / "corpus") if corpus else None
    manifest_out = str(tmp_path / "manifest") if manifest else None
    res = run_curation_pipeline(docs, corpus_out, manifest_out)
    assert res.rows_in == docs.count()
    assert 0 < res.rows_kept <= res.rows_in

    # manifest == the oracle-checked query rollup, value for value
    want = sorted(
        tuple(r)
        for r in QUERIES["q_training_data_pipeline"].fn(spark, sf_dir).collect()
    )
    rows = res.manifest.collect()
    assert sorted(tuple(r) for r in rows) == want
    assert res.rows_kept == sum(r["n_docs"] for r in rows)
    assert res.kept.count() == res.rows_kept
    if manifest:
        got = sorted(tuple(r) for r in spark.read.parquet(manifest_out).collect())
        assert got == want
    if not corpus:
        return

    back = spark.read.parquet(corpus_out)
    assert back.count() == res.rows_kept
    assert set(r["split"] for r in back.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    # partition pruning: the corpus must be laid out as split=... dirs
    # (the physical precondition for pruning) AND a split filter's
    # executed plan must carry the partition filter -- no count-based
    # escape hatch, so dropping partitionBy("split") fails this test.
    assert (tmp_path / "corpus" / "split=train").exists()
    pruned = back.filter(back["split"] == "train")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # renders as `PartitionFilters: [isnotnull(split#N), (split#N = train)]`
    assert re.search(r"PartitionFilters: \[[^\]]*= train", plan), plan


def test_curation_pipeline_empty_corpus(spark, sf_dir, tmp_path):
    """A run that keeps no docs writes both sinks empty, and the corpus
    reads back as zero rows instead of failing schema inference."""
    from etl_onprem_to_cloud_spark.llm.curate import run_curation_pipeline

    manifest_out = str(tmp_path / "manifest")
    res = run_curation_pipeline(
        _documents(spark, sf_dir).limit(0), str(tmp_path / "corpus"), manifest_out
    )
    assert res.rows_in == res.rows_kept == 0
    assert res.kept.count() == 0
    back = spark.read.parquet(manifest_out)
    assert back.count() == 0
    assert back.schema.simpleString() == res.manifest.schema.simpleString()


def _group_plans(spark, group, recent=100):
    """Physical plans of the SQL executions, among the ``recent`` last
    ones, that ran a job of ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    it = store.executionsList(max(0, n - recent), recent).iterator()
    plans = []
    while it.hasNext():
        e = it.next()
        if any(e.jobs().contains(j) for j in jobs):
            plans.append(e.physicalPlanDescription())
    return plans


def test_curation_pipeline_runs_dag_once(spark, sf_dir, tmp_path):
    """With both sinks the corpus write is the one run of the curation
    DAG, and that run is one scan: nothing is cached, the repetition
    gate generates no rows, the build stays within its job budget, and
    the returned manifest is a local relation whose collect() runs no
    job."""
    from etl_onprem_to_cloud_spark.llm.curate import run_curation_pipeline

    docs = _documents(spark, sf_dir)
    sc = spark.sparkContext
    group = "test_curation_pipeline_runs_dag_once"
    sc.setJobGroup(group, group)
    try:
        res = run_curation_pipeline(
            docs, str(tmp_path / "corpus"), str(tmp_path / "manifest")
        )
    finally:
        sc.setJobGroup(None, None)
    # 7 at sf0.001; caching the corpus, computing the manifest again for
    # its sink, or a second documents scan costs more.
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7

    plans = _group_plans(spark, group)
    assert any("n_docs" in p for p in plans), plans
    assert not any("InMemoryTableScan" in p for p in plans), plans
    # The formatted plan details each node once, in its own paragraph.
    (write,) = [
        p for p in plans if "documents.parquet" in p and "InsertIntoHadoop" in p
    ]
    scans = [
        node
        for node in write.split("\n\n")
        if re.match(r"\(\d+\) Scan parquet", node.strip())
        and "documents.parquet" in node
    ]
    assert len(scans) == 1, write
    assert "Generate" not in write, write

    plan = res.manifest._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    group = "test_curation_pipeline_runs_dag_once:collect"
    sc.setJobGroup(group, group)
    try:
        rows = res.manifest.collect()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sum(r["n_docs"] for r in rows) == res.rows_kept


def test_curated_docs_build_round_trips(spark, sf_dir, monkeypatch):
    """The curation DAG is built from SQL text: its build makes a few
    dozen py4j round trips, not several per ``functions`` call."""
    from py4j.clientserver import ClientServerConnection

    from etl_onprem_to_cloud_spark.llm.curate import curated_docs

    docs = _documents(spark, sf_dir)
    curated_docs(docs)  # first build: session conf lookups
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    curated_docs(docs)
    monkeypatch.undo()
    assert len(calls) <= 40, len(calls)


def _words(tag, n):
    return [f"{tag}w{i}" for i in range(n)]


def _repetitive(tag, repeats, n_grams=100):
    """A doc of ``n_grams`` 2-grams of which exactly ``repeats`` repeat
    an earlier one (dup fraction repeats / n_grams): distinct words,
    then the first ``repeats + 1`` of them again."""
    distinct = ["the", "of", "and"] + _words(tag, n_grams - repeats - 3)
    return " ".join(distinct + distinct[: repeats + 1])


def test_training_data_pipeline_edge_cases_match_oracle(spark, tmp_path):
    """q_training_data_pipeline equals its DuckDB oracle on a hand-made
    corpus of the gate's and the dedup's edge cases, and the facade's
    manifest keeps the query's order, null source included."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from test_oracle_parity import _normalize, _values_equal

    from etl_onprem_to_cloud_spark.llm.curate import run_curation_pipeline
    from etl_onprem_to_cloud_spark.queries import QUERIES
    from etl_onprem_to_cloud_spark.schemas import FIXTURE_TABLES
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    base = " ".join(["the"] + _words("a", 29))
    docs = [
        (1, None, "src_a"),  # null text
        (2, "", "src_a"),  # empty text
        (3, "the cat sat on the mat", "src_a"),  # under 20 tokens
        (4, base + " " + "!" * 40, "src_b"),  # punctuation
        (10, base, "src_a"),
        (11, base.upper(), "src_b"),  # case-only duplicate of 10
        (12, "  " + base.replace(" ", "   ") + " ", "src_a"),  # whitespace
        (30, " ".join(["the"] + _words("c", 24)), "src_b"),  # same id,
        (30, " ".join(["the"] + _words("c", 24)), "src_b"),  # same text
        (31, " ".join(["and"] + _words("d", 24)), None),  # null source
        (31, " ".join(["and"] + _words("d", 24)), "src_a"),  # id 31 is the
        (31, " ".join(["and"] + _words("e", 24)), None),  # min of two groups
        (40, _repetitive("f", 8), "src_a"),  # dup 0.08: kept
        (41, _repetitive("g", 9), "src_b"),  # dup 0.09: at the cut, kept
        (42, _repetitive("h", 10), "src_a"),  # dup 0.10: dropped
    ]
    schema = FIXTURE_TABLES["documents"]
    rows = [
        {"doc_id": i, "text": t, "lang": "en", "source": s,
         "n_chars": None if t is None else len(t)}
        for i, t, s in docs
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)),
        tmp_path / "documents.parquet",
    )

    spec = QUERIES["q_training_data_pipeline"]
    got = spec.fn(spark, str(tmp_path))
    got_rows = [tuple(r) for r in got.collect()]
    # 10, both 30s, the three 31s, 40 and 41
    assert sum(r[got.columns.index("n_docs")] for r in got_rows) == 8

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'documents.parquet'}')"
        )
        o = con.execute(spec.oracle)
        o_cols = [d[0] for d in o.description]
        o_rows = o.fetchall()
    finally:
        con.close()
    s_norm, cols = _normalize(got_rows, got.columns)
    o_norm, o_sorted_cols = _normalize(o_rows, o_cols)
    assert cols == o_sorted_cols
    assert len(s_norm) == len(o_norm), (s_norm, o_norm)
    for sr, orow in zip(s_norm, o_norm):
        assert all(_values_equal(a, b) for a, b in zip(sr, orow)), (sr, orow)

    res = run_curation_pipeline(
        read_parquet(spark, str(tmp_path / "documents.parquet"))
    )
    assert [tuple(r) for r in res.manifest.collect()] == got_rows
