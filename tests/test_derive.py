"""scripts/derive.py presets on the smallest fixture: every fact table
grows 10x with unique shifted keys, embedding norms survive the
perturbation, replica token sets are disjoint, dims are copied, and
every output table keeps the declared fixture schema.
Results are checked in Python over collected rows: at this size that
is cheaper than one Spark job per check."""

from __future__ import annotations

import dataclasses
import math
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

import derive  # noqa: E402

from etl_onprem_to_cloud_spark.schemas import FIXTURE_TABLES  # noqa: E402


def _rows(path):
    return pq.read_table(path).to_pylist()


def _norm(vec):
    return math.sqrt(sum(x * x for x in vec))


def test_replicate_copies_dims_and_scales_facts(spark, sf_dir, tmp_path, monkeypatch):
    # One output file per table keeps the write cheap; the partition
    # count is the only preset field this test does not check.
    p = derive.PRESETS["sf1"]
    monkeypatch.setitem(derive.PRESETS, "sf1", dataclasses.replace(p, partitions=1))
    dst = str(tmp_path)
    derive.replicate(spark, sf_dir, dst, "sf1")
    for t in derive.DIMS:
        src, got = _rows(f"{sf_dir}/{t}.parquet"), _rows(f"{dst}/{t}.parquet")
        assert sorted(map(repr, got)) == sorted(map(repr, src)), t
    for t in derive.KEY_SHIFTS:
        n = pq.read_metadata(f"{sf_dir}/{t}.parquet").num_rows
        assert pq.read_table(f"{dst}/{t}.parquet").num_rows == 10 * n, t
    for t in derive.DIMS + list(derive.KEY_SHIFTS):
        assert spark.read.parquet(f"{dst}/{t}.parquet").schema == FIXTURE_TABLES[t], t


@pytest.fixture(scope="module")
def source(sf_dir):
    return {t: _rows(f"{sf_dir}/{t}.parquet") for t in ("documents", "embeddings", "orders")}


@pytest.mark.parametrize("preset", sorted(derive.PRESETS))
def test_preset_replicas(spark, sf_dir, preset, source):
    """The tables whose derivation differs per preset: documents (token
    suffix), embeddings (perturbation) and orders (two shifted keys)."""
    shift = derive.PRESETS[preset].shift
    reps = {
        t: [r.asDict() for r in derive.replicas(spark.read.parquet(f"{sf_dir}/{t}.parquet"), t, preset).collect()]
        for t in source
    }
    # 10x rows, and no shifted key of one replica collides with another
    # replica's: every distinct key count grows 10x too.
    for t, keys in (("documents", ["doc_id"]), ("embeddings", ["vec_id"]),
                    ("orders", ["o_orderkey", "o_custkey"])):
        assert len(reps[t]) == 10 * len(source[t]), t
        for k in keys:
            assert len({r[k] for r in reps[t]}) == 10 * len({r[k] for r in source[t]}), k

    norms = {r["vec_id"]: _norm(r["embedding"]) for r in source["embeddings"]}
    drift = max(abs(_norm(r["embedding"]) - norms[r["vec_id"] % shift]) for r in reps["embeddings"])
    assert drift <= 1e-9

    owner = {}
    for r in reps["documents"]:
        for tok in r["text"].split():
            assert owner.setdefault(tok, r["doc_id"] // shift) == r["doc_id"] // shift, tok
