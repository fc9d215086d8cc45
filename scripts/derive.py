#!/usr/bin/env python
"""Derive a 10x fixture directory from an existing one (never regenerate
source data -- TESTDATA.md forbids that).

Every fact table becomes 10 replicas of itself, each with shifted
surrogate keys and content perturbed so near-duplicate density stays
constant instead of every row gaining 9 exact twins:

- documents: replica i > 0 suffixes every token with ``<suffix><i>``,
  so shingle sets across replicas are disjoint (10 independent shards,
  which is what a real 10x corpus looks like).  The suffixes differ per
  preset, so chained derivations (sf1 -> sf10 -> sf100) stay disjoint
  across all 1000 effective replicas.
- embeddings: replica i > 0 gets a norm-preserving perturbation.  sf1
  rotates the vector left by i components (rotations of
  high-dimensional random vectors are ~orthogonal).  Composing more
  rotations would collide (rot_i+j duplicates rot_i' whenever
  i+j = i'), so sf10 flips signs with the Rademacher pattern
  sign(murmur3(dim_index, i)), and sf100 with a second, independent
  family (a three-argument murmur3 with a constant salt).
- events / orders / lineitem / customer: key shift only (their
  workload is keyed aggregation, where duplicate content is
  irrelevant).
- dims (region nation supplier part): copied once -- dimension tables
  do not scale with fact volume, so the co-purchase graph densifies.

The presets differ only in the key shift (above the largest key of
their expected source), the token suffix, the embedding perturbation
and the output partition count.  They reproduce the derivations every
committed sf1/sf10/sf100 probe row was measured on:

    python scripts/derive.py <sf0.1 dir> /tmp/spark_graft_sf1 sf1
    python scripts/derive.py /tmp/spark_graft_sf1 /tmp/spark_graft_sf10 sf10
    python scripts/derive.py /tmp/spark_graft_sf10 /tmp/spark_graft_sf100 sf100
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, DataFrame, functions as F  # noqa: E402

from etl_onprem_to_cloud_spark.session import get_spark  # noqa: E402
from etl_onprem_to_cloud_spark.sources.io import load_table  # noqa: E402

REPLICAS = 10
DIMS = ["region", "nation", "supplier", "part"]
#: Fact table -> the surrogate-key columns each replica shifts.
KEY_SHIFTS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
}


def _rotate(emb: Column, i: int) -> Column:
    return F.concat(F.slice(emb, i + 1, F.size(emb) - i), F.slice(emb, 1, i))


def _sign_flip(*salt: int) -> Callable[[Column, int], Column]:
    def flip(emb: Column, i: int) -> Column:
        return F.transform(
            emb,
            lambda x, k: F.when(
                F.pmod(F.hash(k.cast("int"), F.lit(i), *map(F.lit, salt)), 2) == 0,
                x,
            ).otherwise(-x),
        )

    return flip


@dataclass(frozen=True)
class Preset:
    shift: int
    suffix: str
    perturb: Callable[[Column, int], Column]
    partitions: int


PRESETS = {
    "sf1": Preset(10_000_000, "_r", _rotate, 32),
    "sf10": Preset(100_000_000, "_s", _sign_flip(), 64),
    "sf100": Preset(1_000_000_000, "_t", _sign_flip(100), 256),
}


def replicas(df: DataFrame, table: str, preset: str) -> DataFrame:
    """The union of ``REPLICAS`` perturbed, key-shifted copies of fact
    table ``df``."""
    p = PRESETS[preset]
    outs = []
    for i in range(REPLICAS):
        cols = {key: F.col(key) + F.lit(i * p.shift) for key in KEY_SHIFTS[table]}
        if i > 0 and table == "documents":
            toks = F.filter(F.split(F.col("text"), " +"), lambda t: t != "")
            suffix = F.lit(f"{p.suffix}{i}")
            cols["text"] = F.concat_ws(" ", F.transform(toks, lambda t: F.concat(t, suffix)))
        elif i > 0 and table == "embeddings":
            cols["embedding"] = p.perturb(F.col("embedding"), i)
        outs.append(df.withColumns(cols))
    return functools.reduce(DataFrame.unionByName, outs)


def replicate(spark, src: str, dst: str, preset: str) -> None:
    """Write the ``preset`` derivation of fixture dir ``src`` to ``dst``."""
    for t in DIMS:
        load_table(spark, src, t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    for t in KEY_SHIFTS:
        replicas(load_table(spark, src, t), t, preset).repartition(
            PRESETS[preset].partitions
        ).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"# built {t}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("src", help="source fixture dir")
    ap.add_argument("dst", help="output fixture dir")
    ap.add_argument("preset", choices=sorted(PRESETS))
    args = ap.parse_args()
    spark = get_spark(app_name="derive")
    spark.sparkContext.setLogLevel("ERROR")
    replicate(spark, args.src, args.dst, args.preset)
    spark.stop()


if __name__ == "__main__":
    main()
