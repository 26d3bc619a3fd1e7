"""The per-layer metrics of a traced run, by name and unit.

``PER_LAYER`` is the list BENCHMARK.json's ``per_layer`` mirrors (the
smoke test checks that they agree). A layer that did not run on a
workload reads 0 — the broadcast index on the pair-join workload, for
example — and so does its speedup.
"""

from __future__ import annotations

from perfbench import tracing

# layers whose jobs carry their own "merge:<layer>" description
ENGINE_LAYERS = ("extract", "dedupe_addr", "dedupe_bld", "pip", "knn",
                 "decisions", "output_sets", "tiling", "sink", "run_merge")
SPEEDUP_LAYERS = ("extract", "dedupe_addr", "dedupe_bld", "barrier",
                  "index", "pip", "knn", "decisions", "output_sets",
                  "tiling", "sink", "run_merge")
DELTA_STAGES = ("extract_delta", "old_records", "closure_rings",
                "element_splices", "closure_slices", "winners",
                "winner_splices")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_m"):
        return "m"
    if name.endswith("speedup_4v1"):
        return "x"
    if name.endswith(("_frac", "_per_addr", "skew", "_per_delta_byte")):
        return "ratio"
    return "count"


def _better(name: str) -> str:
    # counts that describe the input or the output (rows, decisions,
    # tiles) should not move at all; "lower" marks them only because
    # every metric needs a direction
    return "higher" if name.endswith(("speedup_4v1", "match_frac")) else "lower"


def _spec(name: str) -> dict:
    return {"name": name, "unit": _unit(name), "better": _better(name)}


def _names() -> list[str]:
    names = ["extract.wall_s", "extract.task_s", "extract.rows_in",
             "extract.rows_out", "extract.python_udf_nodes"]
    for d in ("dedupe_addr", "dedupe_bld"):
        names += [f"{d}.wall_s", f"{d}.task_s", f"{d}.rows_in",
                  f"{d}.rows_out", f"{d}.shuffle_write_bytes"]
    names += ["barrier.bytes", "barrier.wall_s", "run_merge.self_s",
              "index.build_s", "index.buildings"]
    for j in ("pip", "knn"):
        names += [f"{j}.wall_s", f"{j}.task_s", f"{j}.pairs_per_addr",
                  f"{j}.match_frac", f"{j}.shuffle_write_bytes",
                  f"{j}.spill_bytes"]
    names += ["pip.task_skew", "knn.dist_p50_m", "knn.dist_p90_m",
              "join.hot_cell_addr_frac", "decisions.wall_s"]
    names += [f"decisions.n_{d}" for d in tracing.DECISIONS]
    names += ["output_sets.wall_s", "tiling.wall_s", "tiling.tiles",
              "tiling.max_tile_elems", "sink.wall_s", "sink.bytes",
              "sink.files"]
    for layer in ENGINE_LAYERS:
        names += [f"{layer}.failed_tasks", f"{layer}.gc_s"]
    names += [f"{layer}.speedup_4v1" for layer in SPEEDUP_LAYERS]
    names += ["trace.untraced_s", "trace.traced_s", "trace.overhead_s"]
    return names


PER_LAYER = [_spec(n) for n in _names()]
INCREMENTAL = [_spec(n) for n in (
    ["incremental.affected_frac"]
    + [f"incremental.{s}_s" for s in DELTA_STAGES]
    + ["incremental.rewritten_per_delta_byte", "incremental.outputs_s"])]


def _walls(tracer: tracing.Tracer, log: dict, barrier_dir: str) -> dict:
    w = {layer: tracer.wall(layer) for layer in SPEEDUP_LAYERS}
    w["barrier"] = tracing.barrier_wall(log, barrier_dir)
    w["run_merge"] = tracer.self_time("run_merge")
    return w


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer4: tracing.Tracer, log4: dict, tracer1: tracing.Tracer,
              log1: dict, barrier_dir: str, untraced_s: float,
              traced_s: float, delta_bytes: int | None = None) -> dict:
    """The traced run's metrics: ``tracer4``/``log4`` from the local[4]
    traced operation, ``tracer1``/``log1`` from the local[1] one."""
    c = tracer4.counts
    w4 = _walls(tracer4, log4, barrier_dir)
    w1 = _walls(tracer1, log1, barrier_dir)
    task = {layer: tracing.layer_task_metrics(log4, layer) for layer in ENGINE_LAYERS}
    v = {
        "extract.wall_s": w4["extract"], "extract.task_s": task["extract"]["task_s"],
        "barrier.bytes": c["barrier.bytes"], "barrier.wall_s": w4["barrier"],
        "run_merge.self_s": w4["run_merge"],
        "index.build_s": w4["index"],
        "pip.task_skew": task["pip"]["task_skew"],
        "join.hot_cell_addr_frac": c["join.hot_cell_addr_frac"],
        "decisions.wall_s": w4["decisions"], "output_sets.wall_s": w4["output_sets"],
        "tiling.wall_s": w4["tiling"], "sink.wall_s": w4["sink"],
        "trace.untraced_s": untraced_s, "trace.traced_s": traced_s,
        "trace.overhead_s": traced_s - untraced_s,
    }
    for name in ("extract.rows_in", "extract.rows_out", "extract.python_udf_nodes",
                 "index.buildings", "knn.dist_p50_m", "knn.dist_p90_m",
                 "tiling.tiles", "tiling.max_tile_elems", "sink.bytes", "sink.files"):
        v[name] = c[name]
    v.update({f"decisions.n_{d}": c[f"decisions.n_{d}"] for d in tracing.DECISIONS})
    for d in ("dedupe_addr", "dedupe_bld"):
        v.update({f"{d}.wall_s": w4[d], f"{d}.task_s": task[d]["task_s"],
                  f"{d}.rows_in": c[f"{d}.rows_in"], f"{d}.rows_out": c[f"{d}.rows_out"],
                  f"{d}.shuffle_write_bytes": task[d]["shuffle_write_bytes"]})
    for j in ("pip", "knn"):
        v.update({
            f"{j}.wall_s": w4[j], f"{j}.task_s": task[j]["task_s"],
            f"{j}.pairs_per_addr": _ratio(c[f"{j}.pairs"], c[f"{j}.addresses"]),
            f"{j}.match_frac": _ratio(c[f"{j}.winners"], c[f"{j}.addresses"]),
            f"{j}.shuffle_write_bytes": task[j]["shuffle_write_bytes"],
            f"{j}.spill_bytes": task[j]["spill_bytes"]})
    for layer in ENGINE_LAYERS:
        v[f"{layer}.failed_tasks"] = task[layer]["failed_tasks"]
        v[f"{layer}.gc_s"] = task[layer]["gc_s"]
    for layer in SPEEDUP_LAYERS:
        v[f"{layer}.speedup_4v1"] = _ratio(w1[layer], w4[layer])
    specs = list(PER_LAYER)
    if delta_bytes is not None:
        v["incremental.affected_frac"] = c["incremental.affected_frac"]
        v.update({f"incremental.{s}_s": c[f"incremental.{s}_s"] for s in DELTA_STAGES})
        v["incremental.rewritten_per_delta_byte"] = _ratio(
            c["incremental.bytes_rewritten"], delta_bytes)
        v["incremental.outputs_s"] = tracer4.wall("current_outputs")
        specs += INCREMENTAL
    return {s["name"]: {"value": float(v[s["name"]]), "unit": s["unit"]} for s in specs}
