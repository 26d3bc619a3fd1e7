"""Traced run: spans around the engine's public layer functions, plus
Spark task metrics grouped by layer from the event log.

The plans call their layers through module attributes
(``extract.extract_records(...)``, ``sj.pip_candidates(...)``), so a
:class:`Tracer` installs a wrapper on each attribute for the traced
operation and removes it afterwards; no engine code changes. A wrapper

- opens a span (name, start, end, parent) and tags the Spark jobs it
  triggers with ``setJobDescription("merge:<layer>")``;
- forces the function's DataFrame outputs (persist + count), so the
  work lands in the layer that defines it instead of in whichever
  later action first needs it;
- records counts at the boundary. Counting the inputs is bookkeeping:
  its time is kept apart and left out of the layer's wall time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.operators import (
    decisions as dec,
    dedupe,
    extract,
    spatial_join as sj,
    tiling,
)
from mergeaddressesandbuildings_spark.plans import incremental as inc
from mergeaddressesandbuildings_spark.plans import merge as merge_plan
from mergeaddressesandbuildings_spark.sources import sink

DESC = "merge:"
# physical operators that run Python (Arrow or pickled batches)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas")
DECISIONS = (config.DECISION_MERGED, config.DECISION_KEEP_NODE,
             config.DECISION_CONFLICT, config.DECISION_STANDALONE)
HOT_LEVEL = config.REFINE_INDEX_LEVEL


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def _file_set(path: str) -> dict[str, int]:
    return {os.path.join(d, n): os.path.getsize(os.path.join(d, n))
            for d, _, names in os.walk(path) for n in names}


class Tracer:
    """Spans and boundary counts of one traced operation."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._undo: list[tuple] = []
        self._cached: list[DataFrame] = []

    # --- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None, "book": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        self.spark.sparkContext.setJobDescription(DESC + name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spark.sparkContext.setJobDescription(
                DESC + self._stack[-1]["name"] if self._stack else None)

    @contextmanager
    def book(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self._stack[-1]["book"] += time.perf_counter() - t

    def _force(self, out):
        if isinstance(out, DataFrame):
            out = out.persist(StorageLevel.MEMORY_AND_DISK)
            self._cached.append(out)
            self._stack[-1].setdefault("rows", []).append(out.count())
            return out
        if isinstance(out, tuple):
            return tuple(self._force(o) for o in out)
        return out

    def wrap(self, module, attr: str, layer: str, after=None,
             before=None, force: bool = True) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer) as rec:
                state = None
                if before is not None:
                    with self.book():
                        state = before(self, args, kwargs)
                out = fn(*args, **kwargs)
                if force:
                    out = self._force(out)
                if after is not None:
                    with self.book():
                        after(self, args, kwargs, out, rec, state)
            return out

        setattr(module, attr, traced)
        self._undo.append((module, attr, fn))

    def close(self) -> None:
        for module, attr, fn in reversed(self._undo):
            setattr(module, attr, fn)
        self._undo.clear()
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # --- derived -------------------------------------------------------
    def wall(self, layer: str) -> float:
        return sum(s["end"] - s["start"] - s["book"]
                   for s in self.spans if s["name"] == layer)

    def self_time(self, layer: str) -> float:
        total = 0.0
        for s in self.spans:
            if s["name"] == layer:
                kids = sum(c["end"] - c["start"] for c in self.spans
                           if c["parent"] == s["id"])
                total += s["end"] - s["start"] - s["book"] - kids
        return total


# --- boundary counts (run as bookkeeping) ------------------------------
def _rows(rec) -> int:
    return rec.get("rows", [0])[0]


def _extract_after(t, args, kwargs, out, rec, _):
    t.counts["extract.rows_in"] += args[0].count()
    t.counts["extract.rows_out"] += _rows(rec)
    plan = out._jdf.queryExecution().executedPlan().toString()
    t.counts["extract.python_udf_nodes"] += sum(plan.count(n) for n in PYTHON_NODES)


def _dedupe_after(name):
    def after(t, args, kwargs, out, rec, _):
        t.counts[f"{name}.rows_in"] += args[0].count()
        t.counts[f"{name}.rows_out"] += _rows(rec)
    return after


def _index_after(t, args, kwargs, out, rec, _):
    t.counts["index.buildings"] += len(args[0])


def _hot_cell_frac(addresses: DataFrame) -> float:
    n = 1 << HOT_LEVEL
    by_cell = addresses.groupBy(
        F.floor((F.col("lon") + 180.0) / 360.0 * n),
        F.floor((F.col("lat") + 90.0) / 180.0 * n)).count()
    row = by_cell.agg(F.max("count"), F.sum("count")).collect()[0]
    return (row[0] or 0) / row[1] if row[1] else 0.0


def _pip_after(t, args, kwargs, out, rec, _):
    t.counts["pip.pairs"] += _rows(rec)
    t.counts["pip.addresses"] += args[0].count()
    t.counts["join.hot_cell_addr_frac"] = _hot_cell_frac(args[0])


def _knn_after(t, args, kwargs, out, rec, _):
    t.counts["knn.pairs"] += _rows(rec)
    t.counts["knn.addresses"] += args[0].count()


def _winner_after(name):
    def after(t, args, kwargs, out, rec, _):
        t.counts[f"{name}.winners"] += _rows(rec)
        if name == "knn":
            q = out.agg(F.expr("percentile(dist_m, array(0.5, 0.9))")).collect()[0][0]
            t.counts["knn.dist_p50_m"], t.counts["knn.dist_p90_m"] = q or (0.0, 0.0)
    return after


def _assign_after(t, args, kwargs, out, rec, _):
    for r in out.groupBy("decision").count().collect():
        t.counts[f"decisions.n_{r['decision']}"] += r["count"]


def _tiles_after(t, args, kwargs, out, rec, _):
    row = out.groupBy("tile").count().agg(F.count("*"), F.max("count")).collect()[0]
    t.counts["tiling.tiles"] += row[0]
    t.counts["tiling.max_tile_elems"] = max(t.counts["tiling.max_tile_elems"], row[1] or 0)


def _sink_after(t, args, kwargs, out, rec, _):
    size, files = tree_bytes(args[1])
    t.counts["sink.bytes"] += size
    t.counts["sink.files"] += files


def _merge_after(t, args, kwargs, out, rec, _):
    t.counts["barrier.bytes"] += tree_bytes(kwargs["barrier_dir"])[0]


def _delta_before(t, args, kwargs):
    return _file_set(args[2])


def _delta_after(t, args, kwargs, out, rec, before):
    t.counts["incremental.affected_frac"] = out["affected_fraction"]
    for stage, secs in out["stage_s"].items():
        t.counts[f"incremental.{stage}_s"] += secs
    after = _file_set(args[2])
    t.counts["incremental.bytes_rewritten"] += sum(
        size for path, size in after.items() if path not in before)


def install(tracer: Tracer) -> None:
    """Wrap every public layer function the merge and incremental plans
    call, plus the sink and the two plan entry points (root spans)."""
    w = tracer.wrap
    w(extract, "extract_records", "extract", after=_extract_after)
    w(extract, "split_records", "extract")
    w(extract, "existing_to_tables", "extract")
    w(dedupe, "dedupe_addresses", "dedupe_addr", after=_dedupe_after("dedupe_addr"))
    w(dedupe, "dedupe_buildings", "dedupe_bld", after=_dedupe_after("dedupe_bld"))
    w(sj, "build_broadcast_index", "index", after=_index_after, force=False)
    w(sj, "pip_candidates", "pip", after=_pip_after)
    w(sj, "pick_pip_winner", "pip", after=_winner_after("pip"))
    w(sj, "knn_candidates", "knn", after=_knn_after)
    w(sj, "pick_knn_winner", "knn", after=_winner_after("knn"))
    w(dec, "assign", "decisions", after=_assign_after)
    w(dec, "output_sets", "output_sets")
    w(tiling, "tile_points", "tiling")
    w(tiling, "tile_map", "tiling")
    w(tiling, "assign_tiles", "tiling", after=_tiles_after)
    w(sink, "write_tiles", "sink", after=_sink_after, force=False)
    w(merge_plan, "run_merge", "run_merge", after=_merge_after, force=False)
    w(inc, "apply_delta", "apply_delta", before=_delta_before,
      after=_delta_after, force=False)
    w(inc, "current_outputs", "current_outputs", force=False)


# --- event log -----------------------------------------------------------
def read_event_log(event_dir: str) -> dict:
    """Task metrics of every ``merge:<layer>`` job in the (single,
    uncompressed) application log under ``event_dir``, grouped by layer,
    plus the wall time of SQL executions per (layer, written path)."""
    names = [n for n in os.listdir(event_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}: {names}")
    stage_layer: dict[int, str] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    sql_start: dict[int, tuple] = {}
    sql: list[tuple] = []
    with open(os.path.join(event_dir, names[0])) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerStageSubmitted":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                if desc.startswith(DESC):
                    stage_layer[e["Stage Info"]["Stage ID"]] = desc[len(DESC):]
            elif ev == "SparkListenerTaskEnd":
                layer = stage_layer.get(e["Stage ID"])
                if layer is not None:
                    m = e.get("Task Metrics") or {}
                    tasks[layer].append({
                        "stage": e["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "failed": (e.get("Task End Reason") or {}).get("Reason") != "Success",
                    })
            elif ev.endswith("SQLExecutionStart"):
                desc = e.get("description") or ""
                if desc.startswith(DESC):
                    sql_start[e["executionId"]] = (desc[len(DESC):], e.get("physicalPlanDescription", ""), e["time"])
            elif ev.endswith("SQLExecutionEnd") and e["executionId"] in sql_start:
                layer, plan, t0 = sql_start.pop(e["executionId"])
                sql.append((layer, plan, (e["time"] - t0) / 1000.0))
    return {"tasks": tasks, "sql": sql}


def layer_task_metrics(log: dict, layer: str) -> dict:
    ts = log["tasks"].get(layer, [])
    out = {
        "task_s": sum(t["run_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "failed_tasks": sum(t["failed"] for t in ts),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
        "spill_bytes": sum(t["spill"] for t in ts),
        "task_skew": 0.0,
    }
    # skew of the layer's heaviest stage: max ÷ median task time
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in ts:
        by_stage[t["stage"]].append(t["run_s"])
    if by_stage:
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        out["task_skew"] = max(heavy) / med if med > 0 else 1.0
    return out


def barrier_wall(log: dict, barrier_dir: str) -> float:
    """Wall time of the barrier writes ``run_merge`` issues itself."""
    return sum(secs for layer, plan, secs in log["sql"]
               if layer == "run_merge" and barrier_dir in plan
               and "InsertIntoHadoopFsRelationCommand" in plan)
