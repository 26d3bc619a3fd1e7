"""spark-submit entry point: the pure-Python Iceberg v2 layer at
volume — round-5's format-path scale probe. Exercises the full table
lifecycle the 100 TB rolling-crawl path would run (bulk append as many
data files, positional-delete commit, equality-delete commit, late
append, merge-on-read scan) over a replica-scaled 1M-doc corpus, and
separates METADATA cost (planning from manifests alone) from DATA cost
(the MoR read), because at 10^12 rows those scale on different axes:
planning on file count, reading on bytes.

    python jobs/iceberg_bench.py --mult 200 --master 'local[8]'

Corpus construction (deterministic, no external data): each sf
document is replicated ``--mult`` times with re-keyed doc_ids; text
rides along so the scan pays realistic bytes. The table is written
identity-partitioned by ``source`` (20 partitions) with
``--files-per-part`` parquet files each, so plan_scan prunes both on
partition values and on per-file doc_id bounds.

Prints one JSON line {wall_s, phase_s, docs, n_files, plan: {full_ms,
pruned_ms, files_full, files_pruned}, mor_rows, fingerprint, master}.
The fingerprint (bit_xor of xxhash64 over the MoR survivors) must be
identical across parallelism levels for a scaling pair to be valid;
BENCH/BASELINE.md records the N-vs-4N pair.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=200)
    ap.add_argument("--master", default=None)
    ap.add_argument("--files-per-part", type=int, default=8)
    ap.add_argument("--keep-table", default="",
                    help="persist the table at this dir instead of a "
                         "deleted tempdir (for inspection)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mergeaddressesandbuildings_spark.session import get_spark
    from mergeaddressesandbuildings_spark.sources import iceberg as I

    spark = get_spark(master=args.master, app_name="iceberg-bench")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    phases: dict[str, float] = {}

    base = spark.read.parquet(
        os.path.join(args.sf_dir, "documents.parquet"))
    rep = F.col("rep")
    docs = (
        base.withColumn("rep", F.explode(F.sequence(
            F.lit(0), F.lit(args.mult - 1))))
        .select(
            (F.col("doc_id") + rep * F.lit(1_000_000)).alias("doc_id"),
            "text", "source",
            F.col("n_chars").cast("long").alias("n_chars"))
        # spread each partition's rows over files with disjoint-ish
        # doc_id ranges so per-file bounds pruning has something to cut
        .repartitionByRange(args.files_per_part * 20, "source", "doc_id")
    )
    n_docs = docs.count()
    phases["synth"] = round(time.monotonic() - t0, 2)

    tdir = args.keep_table or tempfile.mkdtemp(prefix="ice_bench_")
    t = time.monotonic()
    I.write_iceberg(docs, tdir, partition_by=["source"])
    phases["append"] = round(time.monotonic() - t, 2)

    t = time.monotonic()
    I.delete_where(spark, tdir, "doc_id % 7 = 0")
    phases["pos_delete_commit"] = round(time.monotonic() - t, 2)

    t = time.monotonic()
    I.splice(
        spark, tdir,
        spark.createDataFrame([("src3",)], ["source"]), ["source"])
    phases["eq_delete_commit"] = round(time.monotonic() - t, 2)

    t = time.monotonic()
    late = (docs.filter(F.col("doc_id") % 997 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000_000)
            .coalesce(4))
    I.append_iceberg(late, tdir)
    phases["late_append"] = round(time.monotonic() - t, 2)

    # -- metadata-only planning: full scan vs pruned scan ------------
    meta = I.load_metadata(tdir)
    snap = I.select_snapshot(meta)
    t = time.monotonic()
    data_full, dels = I.plan_scan(meta, snap)
    plan_full_ms = round((time.monotonic() - t) * 1000, 1)
    t = time.monotonic()
    data_pruned, _ = I.plan_scan(
        meta, snap,
        row_filter=[("source", "=", "src11"), ("doc_id", ">=", 150_000_000)])
    plan_pruned_ms = round((time.monotonic() - t) * 1000, 1)
    phases["plan"] = round((plan_full_ms + plan_pruned_ms) / 1000, 3)

    # -- merge-on-read scan (the data-axis cost) ----------------------
    t = time.monotonic()
    out = I.read_iceberg(spark, tdir)
    agg = out.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "source", "n_chars")).alias("fp"),
        F.sum("n_chars").alias("chars")).collect()[0]
    phases["mor_read"] = round(time.monotonic() - t, 2)

    wall = round(time.monotonic() - t0, 2)
    print(json.dumps({
        "job": "iceberg_bench",
        "master": args.master or "env-default",
        "docs": n_docs,
        "n_files": len(data_full),
        "n_delete_tasks": len(dels),
        "plan": {"full_ms": plan_full_ms, "pruned_ms": plan_pruned_ms,
                 "files_full": len(data_full),
                 "files_pruned": len(data_pruned)},
        "mor_rows": int(agg["n"]),
        "sum_chars": int(agg["chars"]),
        "fingerprint": int(agg["fp"]),
        "phase_s": phases,
        "wall_s": wall,
        "docs_per_sec": round(n_docs / wall, 1),
    }))
    if not args.keep_table:
        shutil.rmtree(tdir, ignore_errors=True)


if __name__ == "__main__":
    main()
