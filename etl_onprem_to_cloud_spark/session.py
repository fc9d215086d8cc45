"""SparkSession factory.

The reference builds two sessions with no ``.master()`` (falling back to
local mode inside its Airflow container, reference etl/transform.py:11-13,
etl/load.py:40-51) and patches ``fs.s3a.*`` durations through py4j private
APIs (etl/load.py:54-74).  Here: one declarative factory, AQE on, UTC
session time zone, Kryo, and an optional s3a credential block that covers
the same knobs without the private-API shim.

Scale notes (100 TB / 1000-executor design):
- AQE handles runtime shuffle-partition coalescing and skew-join
  splitting, so static ``spark.sql.shuffle.partitions`` is only the
  *initial* partition count; at cluster scale set it ~2-3x total
  cores.  This guidance is MEASURED, not folklore: the r9 sf100 probe
  ran q21's single corpus-width window sort at the default 1x-cores
  width (exponent 1.148, 21.5 GB sort spill) and again at 8x cores
  (exponent 0.786, zero spill, 1.5x faster wall-clock) -- a fixed
  initial width makes per-partition sort size grow linearly with the
  corpus, and the external-sort spill is the super-linear term.
- ``spark.sql.files.maxPartitionBytes=128m`` keeps scan tasks bounded
  regardless of input size (100 TB -> ~800k scan tasks, fine for a
  1000-executor cluster; raise to 256-512m if the driver chokes on task
  bookkeeping).
- Broadcast threshold 64m: the fixed catalogs (region/nation) stay
  broadcast at any SF, and corpus-scaled relations (supplier/part/
  customer/...) broadcast exactly as long as they MEASURE under the
  threshold -- never by hint, so past it the planner degrades to a
  shuffle join instead of building a multi-GB broadcast (the r8 q18
  catch; see plans/checks.corpus_broadcast_hints).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def build_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    s3a: dict[str, str] | None = None,
) -> dict[str, str]:
    """The engine's conf block as a pure dict (unit-testable without a
    JVM -- the s3a contract test asserts on this).

    ``s3a``: optional ``{"access_key":..., "secret_key":..., "endpoint":...}``
    mirroring the reference's S3 sink config (reference etl/load.py:43-60)
    but via public ``spark.hadoop.*`` conf keys, not py4j private APIs.
    """
    cpus = default_parallelism()
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )

    conf: dict[str, str] = {
        # Adaptive execution: runtime coalesce + skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # r10: let AQE rewrite sort-merge to shuffled-hash when every
        # post-shuffle partition's build side MEASURES under the
        # advisory partition size (runtime sizes, not planner
        # estimates, so this cannot reproduce the estimate-driven
        # build-side OOM class the MLlib sf10 probe hit; default 0 =
        # never).  Removes per-partition sorts on small-side joins at
        # any scale; measured -1 to -2% on the join-heavy bench subset
        # and plan-confirmed SMJ->SHJ conversions.  The blunter
        # `spark.sql.join.preferSortMergeJoin=false` measured -8% on
        # the same subset but picks SHJ from PRE-RUNTIME estimates,
        # which the r10 probe history shows under-estimating
        # corpus-scaled sides (hash-build OOM) -- rejected.
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
            64 * 1024 * 1024
        ),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Deterministic timestamps (oracle parity with DuckDB naive ts).
        "spark.sql.session.timeZone": "UTC",
        # Arrow for any pandas-UDF path (Ring C) and toPandas.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dim tables stay broadcast well past sf0.1.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.ui.showConsoleProgress": "false",
    }
    if os.environ.get("SPARK_GRAFT_NO_UI", "1") == "1":
        conf["spark.ui.enabled"] = "false"
    if s3a:
        # Public-conf equivalent of reference etl/load.py:54-60; no
        # duration-string shim needed when hadoop-aws matches the Spark
        # build (the shim at etl/load.py:14-36 works around a mismatch).
        conf["spark.hadoop.fs.s3a.access.key"] = s3a.get("access_key", "")
        conf["spark.hadoop.fs.s3a.secret.key"] = s3a.get("secret_key", "")
        if "endpoint" in s3a:
            conf["spark.hadoop.fs.s3a.endpoint"] = s3a["endpoint"]
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        )
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "etl-onprem-to-cloud-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    s3a: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession (conf from build_conf).

    Local-mode JVM sizing: ``spark.driver.memory`` is only honored at
    JVM launch, not through SparkSession.builder, so it is injected via
    PYSPARK_SUBMIT_ARGS before the gateway starts.  The 1g pyspark
    default is badly undersized for local[32] (the driver JVM hosts ALL
    execution + broadcast memory in local mode): the sf1 scale
    rehearsal OOM'd an AQE broadcast build under 1g.  Default 8g --
    measured sweet spot: at 16g the same sf0.1 MinHash-LSH plan runs
    2.3x slower (1.65s -> 3.8s warm; G1 region/young-gen scaling
    dominates the short-task GC profile), while 4g/8g match the
    pre-sizing timings and still clear every bench query.  Scale
    probes over derived data override it via SPARK_GRAFT_DRIVER_MEM
    (16g at sf1, 48g at sf100; README scale sections, scripts/probe.py).
    On a real cluster this knob is inert (driver memory comes from
    spark-submit).
    """
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {driver_mem} pyspark-shell"
        )
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    conf = build_conf(shuffle_partitions, extra_conf, s3a)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
