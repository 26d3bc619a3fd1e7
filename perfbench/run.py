"""Merge-first benchmark: runs one workload from a seed, checks its
outputs and prints every metric by name with its unit.

    python3 perfbench/run.py --workload merge_county --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The exit code is 0 only when every operation succeeded
and every correctness check passed; 2 when the engine is not there.
perfbench/RATIONALE.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES = 4  # local[4]: the 4-vCPU host, one driver process
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEMORY = "3g"  # also the initial heap: a fixed-size heap keeps peak RSS steady
SETUP_ROUNDS = 2  # staging repeats; setup_s uses their median
MIN_STEADY_OPS = 1
SINGLE_CORE = 1  # the traced run's scaling baseline: local[1]


@dataclass(frozen=True)
class Workload:
    kind: str  # "merge" | "incremental"
    n_pages: int
    hot: bool = False
    broadcast_max: int | None = None  # None: the engine default


WORKLOADS = {
    "merge_county": Workload("merge", 1000),
    "merge_hotcell_pairjoin": Workload("merge", 1000, hot=True, broadcast_max=0),
    # not in BENCHMARK.json: one operation outlasts the per-run budget
    # (RATIONALE.md), but the workload stays runnable by hand
    "incremental_delta": Workload("incremental", 1000),
}

END_TO_END_UNITS = {"setup_s": "s", "first_run_s": "s", "run_s": "s",
                    "cpu_s": "core-s", "peak_rss_mb": "MB"}


def _isolate(work: str) -> None:
    """Keep every file Spark and Python write under ``work`` and make
    the engine importable by the Python UDF workers."""
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        from perfbench import inputs
        self.shape = inputs.Shape(args.pages or self.wl.n_pages, args.seed, self.wl.hot)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.event_dir = None
        self.p = {k: os.path.join(work, k) for k in (
            "pages", "existing", "delta", "base_state", "state", "out",
            "barrier", "rebuild_out")}

    # --- session -----------------------------------------------------------
    def start(self, cores: int) -> None:
        from mergeaddressesandbuildings_spark.session import get_spark
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events", f"local{cores}")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(master=f"local[{cores}]", app_name="perfbench",
                               shuffle_partitions=SHUFFLE_PARTITIONS, **conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the gateway JVM and wait for it; the Python daemon and
        workers already ended with the context."""
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # --- setup -------------------------------------------------------------
    def setup(self) -> float:
        from perfbench import inputs
        t0 = time.perf_counter()
        self.start(CORES)
        session_s = time.perf_counter() - t0
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            inputs.stage(self.spark, self.shape, self.p["pages"], self.p["existing"])
            if self.wl.kind == "incremental":
                self._stage_delta()
            rounds.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(rounds)
        if self.wl.kind == "incremental":
            from mergeaddressesandbuildings_spark.plans import incremental as inc
            t = time.perf_counter()
            inc.full_build(self.spark, self.spark.read.parquet(self.p["pages"]),
                           self.spark.read.parquet(self.p["existing"]),
                           self.p["base_state"])
            self.spark.catalog.clearCache()
            setup_s += time.perf_counter() - t
        return setup_s

    def _stage_delta(self) -> None:
        from pyspark.sql import types as T
        from mergeaddressesandbuildings_spark import schemas
        from perfbench import inputs
        schema = T.StructType(list(schemas.PAGES.fields)
                              + [T.StructField("deleted", T.BooleanType(), False)])
        self.spark.createDataFrame(inputs.delta_table(self.shape, inputs.make_delta(self.shape)), schema) \
            .write.mode("overwrite").parquet(self.p["delta"])

    # --- one operation -----------------------------------------------------
    def op(self):
        """Run one operation → (fingerprint, rows, apply_delta metrics)."""
        from perfbench import ops
        if self.wl.kind == "merge":
            fp = ops.merge_once(self.spark, self.spark.read.parquet(self.p["pages"]),
                                self.spark.read.parquet(self.p["existing"]),
                                self.p["out"], self.p["barrier"], self.wl.broadcast_max)
            return fp, None
        return ops.incremental_once(self.spark, self.p["delta"], self.p["state"], self.p["out"])

    def timed_op(self, check=None):
        """One attempted operation, timed; ``check(flat_path)`` runs on
        its output before the scratch is cleaned. → (wall, cpu, fp) or
        None when it failed."""
        from perfbench import ops, procstat
        self.attempted += 1
        if self.wl.kind == "incremental":
            shutil.copytree(self.p["base_state"], self.p["state"])
        try:
            c0 = procstat.cpu_s()
            t0 = time.perf_counter()
            fp, delta_metrics = self.op()
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_s() - c0
            if delta_metrics is not None:
                print(f"perfbench: affected_fraction={delta_metrics['affected_fraction']:.4f} "
                      f"stage_s={json.dumps(delta_metrics['stage_s'])}", file=sys.stderr)
            if check is not None:
                check(os.path.join(self.p["out"], "assignments_flat"))
            return wall, cpu, fp
        except Exception as e:  # an operation failure is counted, not fatal
            traceback.print_exc()
            self.problems.append(f"operation failed: {e!r}"[:300])
            self.failed += 1
            return None
        finally:
            ops.clean(self.spark, self.p["out"], self.p["barrier"], self.p["state"])

    def same_fp(self, got, ref) -> None:
        if got is not None and ref is not None and got[2] != ref[2]:
            self.failed += 1
            self.problems.append(f"fingerprint {got[2]} != first operation's {ref[2]}")

    # --- correctness -------------------------------------------------------
    def oracle_check(self, flat_path: str) -> None:
        """The probe region of the operation's output must equal the
        brute-force §8 oracle on the probe pages exactly."""
        from pyspark.sql import functions as F
        from perfbench import inputs
        from tests import oracle
        pages, existing = inputs.probe_rows(self.shape)
        want = oracle.run_oracle(pages, existing)
        urls = sorted({p["url"] for p in pages})
        got = {r["addr_id"]: r for r in self.spark.read.parquet(flat_path)
               .filter(F.col("url").isin(urls))
               .select("addr_id", "building_id", "method", "dist_m", "decision", "tile")
               .collect()}
        wa = want["assignments"]
        bad = []
        if set(got) != set(wa):
            bad.append(f"address sets differ: engine-only {len(set(got) - set(wa))}, "
                       f"oracle-only {len(set(wa) - set(got))}")
        for aid in set(got) & set(wa):
            g, w = got[aid], wa[aid]
            if ((g["building_id"], g["method"], g["decision"], g["tile"])
                    != (w["building_id"], w["method"], w["decision"], want["tiles"][aid])
                    or (w["dist_m"] is not None and abs(g["dist_m"] - w["dist_m"]) > 1e-6)):
                bad.append(f"addr {aid}: engine {g.asDict()} oracle {w}")
        if not wa:
            bad.append("oracle probe produced no assignments")
        if bad:
            raise AssertionError(f"oracle mismatch ({len(bad)}): {bad[:3]}")

    def rebuild_check(self, ref_fp) -> None:
        """incremental_delta: a full run_merge over the post-delta corpus
        must give the fingerprint every incremental operation gave."""
        from pyspark.sql import functions as F
        from perfbench import ops
        spark = self.spark
        delta = spark.read.parquet(self.p["delta"])
        corpus = (spark.read.parquet(self.p["pages"])
                  .join(delta.select("url"), "url", "left_anti")
                  .unionByName(delta.filter(~F.col("deleted")).drop("deleted")))
        try:
            got = ops.merge_once(spark, corpus, spark.read.parquet(self.p["existing"]),
                                 self.p["rebuild_out"], self.p["barrier"], None)
        finally:
            ops.clean(spark, self.p["rebuild_out"], self.p["barrier"])
        if got != ref_fp:
            self.failed += 1
            self.problems.append(f"incremental fingerprint {ref_fp} != rebuild {got}")

    # --- the two kinds of run ----------------------------------------------
    def run_timed(self) -> dict:
        from perfbench import procstat
        setup_s = self.setup()
        first = self.timed_op(check=self.oracle_check)
        ref = first
        steady = []
        procstat.reset_peak()
        t_end = time.perf_counter() + self.args.seconds
        while len(steady) < MIN_STEADY_OPS or time.perf_counter() < t_end:
            got = self.timed_op()
            self.same_fp(got, ref)
            ref = ref or got
            if got is not None:
                steady.append(got)
            elif self.attempted > 2 * MIN_STEADY_OPS + 4:
                break
        peak = procstat.peak_rss_mb()
        if self.wl.kind == "incremental" and ref is not None:
            self.rebuild_check(ref[2])
        if first is None or not steady:
            return {}
        values = {
            "setup_s": setup_s,
            "first_run_s": first[0],
            "run_s": statistics.median(w for w, _, _ in steady),
            "cpu_s": statistics.median(c for _, c, _ in steady),
            "peak_rss_mb": peak,
        }
        print(f"perfbench: {self.args.workload} seed={self.args.seed} "
              f"steady_ops={len(steady)} fingerprint={ref[2][0]} rows={ref[2][1]} "
              f"failed_frac={self.failed / self.attempted:.4f}", file=sys.stderr)
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

    def traced_op(self):
        from perfbench import tracing
        tracer = tracing.Tracer(self.spark)
        tracing.install(tracer)
        try:
            got = self.timed_op()
        finally:
            tracer.close()
        return tracer, got

    def run_traced(self) -> dict:
        from perfbench import layers, tracing
        self.setup()
        ref = self.timed_op(check=self.oracle_check)  # warm: codegen, workers
        plain = self.timed_op()
        self.same_fp(plain, ref)
        t4, traced4 = self.traced_op()
        self.same_fp(traced4, ref)
        if self.wl.kind == "incremental" and ref is not None:
            self.rebuild_check(ref[2])
        log4 = self._finish_log()
        self.start(SINGLE_CORE)
        t1, traced1 = self.traced_op()
        self.same_fp(traced1, ref)
        log1 = self._finish_log()
        if None in (plain, traced4, traced1):
            return {}
        delta_bytes = None
        if self.wl.kind == "incremental":
            delta_bytes = tracing.tree_bytes(self.p["delta"])[0]
        return layers.per_layer(t4, log4, t1, log1, self.p["barrier"],
                                untraced_s=plain[0], traced_s=traced4[0],
                                delta_bytes=delta_bytes)

    def _finish_log(self) -> dict:
        from perfbench import tracing
        event_dir = self.event_dir
        self.stop()
        return tracing.read_event_log(event_dir)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="main page count (default: the workload's size)")
    ap.add_argument("--corrupt-fingerprint", action="store_true",
                    help="self-test: flip one fingerprint bit after the first operation")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        import pyspark  # noqa: F401
        from mergeaddressesandbuildings_spark.plans import merge  # noqa: F401
        from tests import oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(os.path.dirname(work), ignore_errors=True)
        return 2

    bench = Bench(args, work)
    if args.corrupt_fingerprint:
        real = bench.op

        def corrupted():
            (fp, n), m = real()
            return (fp ^ (1 if bench.attempted > 1 else 0), n), m
        bench.op = corrupted
    try:
        metrics = bench.run_traced() if args.trace else bench.run_timed()
    except Exception as e:
        traceback.print_exc()
        bench.failed += 1
        bench.attempted = max(bench.attempted, bench.failed)
        bench.problems.append(f"run aborted: {e!r}"[:300])
        metrics = {}
    finally:
        bench.stop()
        bench.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for p in bench.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    correct = bench.failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
