"""One benchmark operation per workload, driven only through the
engine's public plan, operator and sink functions.

A merge operation is what ``jobs/merge.py`` runs: staged parquet →
``run_merge`` → a flat assignments table with its tile (the lineage
barrier the job writes before its fingerprint) → ``sink.write_tiles``.
An incremental operation absorbs one change set with ``apply_delta``
and writes ``current_outputs`` through the same tail.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from mergeaddressesandbuildings_spark.plans import incremental as inc
from mergeaddressesandbuildings_spark.plans import merge as merge_plan
from mergeaddressesandbuildings_spark.sources import sink

# order-independent fingerprint of the written assignments, as jobs/merge.py
FINGERPRINT = ("bit_xor(xxhash64(addr_id, coalesce(building_id, -1), "
               "method, decision, tile))")
SINK_KEYS = ["addr_id", "method", "decision"]
SINK_BATCHES = 4


def write_outputs(spark: SparkSession, assignments: DataFrame,
                  tiles: DataFrame, out_dir: str) -> tuple[int, int]:
    """Flat assignments+tile → fingerprint → tiled sink. → (fp, rows)."""
    tile_of = tiles.select(F.col("elem_id").alias("addr_id"), "tile")
    flat_path = os.path.join(out_dir, "assignments_flat")
    assignments.join(tile_of, "addr_id").write.mode("overwrite").parquet(flat_path)
    flat = spark.read.parquet(flat_path)
    row = flat.groupBy().agg(F.expr(FINGERPRINT).alias("fp"),
                             F.count("*").alias("n")).collect()[0]
    fp, n = int(row["fp"] or 0), int(row["n"])
    written = sink.write_tiles(flat, out_dir, key_cols=SINK_KEYS,
                               n_batches=SINK_BATCHES)["rows_written"]
    if written != n:
        raise AssertionError(f"sink wrote {written} rows of {n}")
    return fp, n


def merge_once(spark: SparkSession, pages: DataFrame, existing: DataFrame,
               out_dir: str, barrier_dir: str,
               broadcast_max: int | None) -> tuple[int, int]:
    kw = {} if broadcast_max is None else {"broadcast_max": broadcast_max}
    res = merge_plan.run_merge(spark, pages, existing,
                               barrier_dir=barrier_dir, **kw)
    return write_outputs(spark, res.assignments, res.tiles, out_dir)


def incremental_once(spark: SparkSession, delta_path: str, state_dir: str,
                     out_dir: str) -> tuple[tuple[int, int], dict]:
    """→ ((fp, rows), apply_delta's metrics)."""
    metrics = inc.apply_delta(spark, spark.read.parquet(delta_path), state_dir)
    assignments, _sets, tiles, _tm = inc.current_outputs(spark, state_dir)
    return write_outputs(spark, assignments, tiles, out_dir), metrics


def clean(spark: SparkSession, *dirs: str) -> None:
    """Drop what an operation left: cached frames and scratch trees."""
    spark.catalog.clearCache()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
