#!/usr/bin/env python3
"""Benchmark of the engine: one named workload from one seed, in one
process, on ``local[<cores>]`` with one closed-loop client.

    python3 perfbench/run.py --workload etl_reports --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  A run

1. sets the session up: ``get_spark``, ``sqlfront.create_views`` over the
   workload's tables and one warm-up query.  The tables are fixed copies,
   under ``perfbench/data/sf<scale>/``, of the seeded star-schema fixture
   the engine's oracle tests run on; they do not change with the seed;
2. writes a ``netflix_titles`` CSV resampled from the shipped fixture
   with the seed (``etl_reports`` only) under ``.perfbench/work-<pid>/``,
   and removes it at the end;
3. runs one cold pass over the workload's operations in their declared
   order, then warm passes, each in an order drawn from the seed, until
   ``--seconds`` have passed and at least ``MIN_PASSES`` warm passes ran;
4. after each pass, outside the timed region, sends every result to a
   checker process (``checker.py``) that compares it, and every sink the
   operation wrote, with DuckDB.

An operation is timed from its build to the end of the ``collect()`` of
its result, the rows a user receives (``count()`` would time a plan that
Catalyst prunes).  ``release_pinned()`` runs after every operation and
counts in the pass time, so a repeated query never reads the cache of
its previous run.  Each operation runs under job groups of its own
(``<op>#<pass>:build`` and ``<op>#<pass>:exec``).

End-to-end metrics (``--trace 0``):

- ``setup_s``: the time from the start of the process (this module's
  first line) until the session, the views and the warm-up query are
  ready, the JVM launch included.  A run sets up once: a second set-up
  would launch a second JVM, which costs as much as the first;
- ``cold_pass_s``: the cold pass;
- ``warm_pass_s``: median of the warm passes;
- ``query_p50_s`` and ``query_tail_s``: operation latency over the first
  ``MIN_PASSES`` warm passes (30 samples for six operations).  The tail
  is the mean of the ten slowest samples, those above p67, the highest
  percentile with ten samples above it (``tail_latency``); the run record
  holds that percentile and the sample count;
- ``live_mem_mb``: peak resident set of this process, the engine's Python
  driver, plus the heap and non-heap memory the JVM still holds after a
  full collection at the end of the run (see ``Bench.memory_mb``).  The
  checker process is not in it.

The per-layer metrics of ``--trace 1`` are listed in ``layers.METRICS``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  A record of every pass and operation is
written to ``.perfbench/runs/``.  The exit code is 0 when every check
passed, 1 when any operation failed or mismatched, and 2 when the run
could not start (for example outside a checkout of the repository).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_onprem_to_cloud_spark"
DATA_DIR = os.path.join(HERE, "data")
OUT_DIR = os.path.join(ROOT, ".perfbench")

MIN_PASSES = 5  # latency percentiles use exactly the first five warm passes
TAIL_BEYOND = 10
TIME_LIMIT_S = 170
WARMUP_SQL = (
    "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q "
    "FROM lineitem GROUP BY l_returnflag"
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "live_mem_mb": "MB",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """The mean of the ``TAIL_BEYOND`` slowest samples, and the percentile
    they lie above: the highest one with that many samples above it.

    The mean over the samples beyond the percentile, not the sample at
    it: with six operations of different lengths in a pass, the sample at
    the percentile is the typical run of whichever operation sits at that
    rank, so it jumps between runs of the same code far more than the
    mean does."""
    s = sorted(samples)
    k = max(len(s) - TAIL_BEYOND, 0)
    return statistics.fmean(s[k:]), 100.0 * k / len(s)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.titles_dir = os.path.join(work, "titles")
        self.spark = None
        self.jvm_proc = None
        self.checker = None
        self.tracer = None
        self.failed = 0
        self.attempted = 0
        self.record: dict = {"args": vars(args), "cores": self.cores}

    # -- environment and inputs ---------------------------------------------

    def prepare_env(self) -> dict[str, str]:
        """Point every temporary file of Spark, its JVM and its Python
        workers into the work directory, and let the workers import the
        package (they start with the environment the JVM was given)."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        # Every JVM spark-submit starts, its launcher included.
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", os.environ.get("JAVA_TOOL_OPTIONS", "")]
        ).strip()
        sys.path.insert(0, ROOT)
        return {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}

    def load_workload(self):
        import workloads

        known = workloads.workloads()
        if self.args.workload not in known:
            log(f"unknown workload {self.args.workload!r}; known: {sorted(known)}")
            raise SystemExit(2)
        self.wl = known[self.args.workload]
        self.data_dir = os.path.join(DATA_DIR, self.wl.data)
        return workloads

    # -- set-up ------------------------------------------------------------------

    def setup(self, conf) -> dict[str, float]:
        """Session, views and a warm-up query, timed from process start."""
        from etl_onprem_to_cloud_spark.session import get_spark
        from etl_onprem_to_cloud_spark.sqlfront import create_views

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        t1 = time.perf_counter()
        create_views(self.spark, self.data_dir)
        t2 = time.perf_counter()
        self.spark.sql(WARMUP_SQL).collect()
        t3 = time.perf_counter()
        return {
            "setup_s": t3 - T_START,
            "imports_s": t0 - T_START,
            "session.get_spark_s": t1 - t0,
            "sqlfront.create_views_s": t2 - t1,
            "warmup_query_s": t3 - t2,
        }

    # -- output checks -----------------------------------------------------------

    def start_checker(self, csv_path: str) -> None:
        self.checker = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "checker.py"), self.args.workload,
                self.data_dir, os.path.join(self.work, "sinks"), self.titles_dir,
                csv_path, os.path.join(self.work, "duckdb"),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        # Wait until it is ready, so its start does not overlap the cold pass.
        pickle.load(self.checker.stdout)

    def check(self, results) -> None:
        """Outside the timed region: every result against its oracle, in
        the checker process."""
        for op, r in results:
            self.attempted += 1
            bad = r["error"]
            if bad is None:
                pickle.dump((op.name, r["_rows"], r["_cols"], r["_extra"]), self.checker.stdin)
                self.checker.stdin.flush()
                bad = pickle.load(self.checker.stdout)
            if bad is not None:
                self.failed += 1
                r["error"] = bad
                log(f"FAILED {r['tag']}: {bad}")

    # -- passes --------------------------------------------------------------------

    def execute(self, op, tag: str) -> dict:
        from etl_onprem_to_cloud_spark.pinned import release_pinned

        sc = self.spark.sparkContext
        res = {"op": op.name, "tag": tag, "error": None}
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{tag}:build", op.name)
            df, extra = op.build(self.ctx)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{tag}:exec", op.name)
            rows = df.collect()
            t2 = time.perf_counter()
            released = release_pinned()
            t3 = time.perf_counter()
        except Exception:
            res["error"] = traceback.format_exc()
            release_pinned()
            return res
        res.update(
            wall=t3 - t0, build=t1 - t0, exec=t2 - t1, release=t3 - t2,
            released=released, rows=len(rows),
            _extra=extra, _rows=[tuple(r) for r in rows], _cols=df.columns,
        )
        if self.tracer is not None:
            res["layers"] = dict(
                self.tracer.record(self.spark, op, res, df, op.written_bytes(self.ctx))
            )
        return res

    def run_pass(self, pass_no: int, label: str) -> dict:
        """One pass over the workload.  The cold pass keeps the declared
        order, so every run pays the same first-use costs in the same
        places; warm passes run in an order drawn from the seed."""
        order = list(self.wl.units)
        if pass_no:
            self.rng.shuffle(order)
        results = []
        for unit in order:
            for op in unit:
                results.append((op, self.execute(op, f"{op.name}#{pass_no}")))
        wall = sum(r.get("wall", 0.0) for _, r in results)
        t0 = time.perf_counter()
        self.check(results)
        check_s = time.perf_counter() - t0
        ops = [{k: v for k, v in r.items() if not k.startswith("_")} for _, r in results]
        log(f"pass {pass_no} ({label}): {wall:.3f}s, checked in {check_s:.2f}s")
        return {"pass": pass_no, "label": label, "wall": wall, "ops": ops}

    # -- the run -----------------------------------------------------------------

    def run(self) -> int:
        conf = self.prepare_env()
        workloads = self.load_workload()
        from layers import METRICS, Tracer

        setup = self.setup(conf)
        log("setup: " + ", ".join(f"{k}={v:.3f}" for k, v in setup.items()))
        self.record["setup"] = setup

        wl = self.wl
        self.rng = random.Random(self.args.seed)
        csv_path, csv_bytes = "", 0
        if wl.titles_rows:
            csv_path = os.path.join(self.titles_dir, "netflix_titles.csv")
            csv_bytes = workloads.write_titles_csv(csv_path, wl.titles_rows, self.args.seed)
        self.record["inputs"] = {"data": wl.data, "titles_bytes": csv_bytes}
        self.start_checker(csv_path)
        self.ctx = workloads.Context(
            spark=self.spark,
            duck=None,
            data_dir=self.data_dir,
            sink_dir=os.path.join(self.work, "sinks"),
            titles_dir=self.titles_dir,
            titles_csv=csv_path,
        )
        self.tracer = Tracer(self.cores, csv_bytes, wl.titles_rows) if self.args.trace else None

        cold = self.run_pass(0, "cold")
        measured = []
        t0 = time.perf_counter()
        while len(measured) < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
            measured.append(self.run_pass(len(measured) + 1, "warm"))
        self.record["passes"] = [cold] + measured
        self.record["measure_s"] = time.perf_counter() - t0

        samples = [o["wall"] for p in measured[:MIN_PASSES] for o in p["ops"] if not o["error"]]
        if not samples:
            raise RuntimeError("no operation succeeded")
        tail, pct = tail_latency(samples)
        self.record["latency"] = {"samples": len(samples), "tail_percentile": pct}
        log(f"latency: {len(samples)} samples, tail = p{pct:.1f}")
        memory = self.memory_mb()
        self.record["memory_mb"] = memory
        warm = statistics.median(p["wall"] for p in measured)
        if self.tracer is None:
            values = {
                "setup_s": setup["setup_s"],
                "cold_pass_s": cold["wall"],
                "warm_pass_s": warm,
                "query_p50_s": statistics.median(samples),
                "query_tail_s": tail,
                "live_mem_mb": memory["live"],
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        else:
            per_pass = [
                self.tracer.pass_metrics([o["layers"] for o in p["ops"] if "layers" in o])
                for p in measured
            ]
            values = {k: statistics.median(pp.get(k, 0.0) for pp in per_pass) for k in METRICS}
            for k in ("session.get_spark_s", "sqlfront.create_views_s"):
                values[k] = setup[k]
            values["trace.warm_pass_s"] = warm
            values["session.peak_rss_mb"] = memory["peak_rss"]
            metrics = {k: {"value": values[k], "unit": u} for k, u in METRICS.items()}
        self.record["metrics"] = metrics
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        self.write_record()
        log(f"failed_ratio = {self.failed}/{self.attempted}, elapsed {time.perf_counter() - T_START:.1f}s")
        print(json.dumps(result), flush=True)
        return 0 if self.failed == 0 else 1

    def memory_mb(self) -> dict[str, float]:
        """Memory of the driver, read after the last pass.

        ``peak_rss``: peak resident set of the JVM plus that of this
        process, the engine's Python driver (inputs and output checks run
        in other processes).  ``live``: this process's peak plus what the JVM still
        holds after a full collection (heap in use and non-heap in use:
        class metadata and compiled code).  The JVM's resident peak mostly
        follows how far the collector let the heap grow, which varies from
        run to run by a third; ``live`` moves only with what the engine
        keeps (pinned caches, plans, broadcasts) or hands to Python."""
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        hwm = 0.0
        with open(f"/proc/{self.jvm_proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) / 1024
        sc = self.spark.sparkContext
        jvm = sc._jvm
        # Python's collector drops the gateway references its dead
        # DataFrames still hold.  Spark frees unreferenced shuffles,
        # broadcasts and cached blocks after a JVM collection, from a
        # background cleaner, and what it frees needs another collection:
        # collect until the heap has not shrunk for two rounds.
        gc.collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap, steady = float("inf"), 0
        for _ in range(10):
            jvm.java.lang.System.gc()
            used = mx.getHeapMemoryUsage().getUsed() / 2**20
            steady = steady + 1 if used > heap - 1 else 0
            heap = min(heap, used)
            if steady == 2:
                break
            time.sleep(0.5)
        non_heap = mx.getNonHeapMemoryUsage().getUsed() / 2**20
        return {
            "peak_rss": hwm + py,
            "live": py + heap + non_heap,
            "python_peak": py,
            "jvm_heap_live": heap,
            "jvm_non_heap": non_heap,
        }

    def write_record(self) -> None:
        runs = os.path.join(OUT_DIR, "runs")
        os.makedirs(runs, exist_ok=True)
        a = self.args
        path = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(path, "w") as f:
            json.dump(self.record, f, indent=1, default=str)

    def close(self) -> None:
        """Stop the session, end the JVM (it exits when its stdin closes)
        and wait for it and for its Python workers, which exit with it."""
        if self.tracer is not None:
            self.tracer.close()
        if self.checker is not None:
            self.checker.stdin.close()
            _wait(self.checker)
        if self.spark is not None:
            from pyspark import SparkContext

            proc = self.jvm_proc or getattr(SparkContext._gateway, "proc", None)
            self.spark.stop()
            if proc is not None:
                workers = _descendants(proc.pid)
                proc.stdin.close()
                _wait(proc)
                _wait_gone(workers)


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                children = [int(c) for c in f.read().split()]
        except OSError:
            continue
        for c in children:
            out += [c] + _descendants(c)
    return out


def _wait_gone(pids: list[int], timeout: float = 30) -> None:
    """Wait until none of ``pids`` runs (exited, or a zombie)."""

    def running(pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _wait(proc) -> None:
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S}s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"{PACKAGE} not found next to {HERE}: run from a checkout of the repository")
        return 2
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(TIME_LIMIT_S)
    bench = Bench(args, work)
    try:
        return bench.run()
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        signal.alarm(0)
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
