"""Strategy equivalence for the J1/J2 spatial join (SURVEY.md §2.3):
broadcast (numpy fine-cell index in a Spark broadcast) and pair-join
(fine-cell equi-join + per-pair Arrow refine, the shuffle path) must
produce identical winner sets — the physical strategy is a pure
performance choice, never a semantics choice."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.operators import extract, spatial_join as sj
from mergeaddressesandbuildings_spark.sources import pages as pg


@pytest.fixture(scope="module")
def corpus(spark):
    p = pg.pages_df(spark, 800)
    records = extract.extract_records(p, level=config.CELL_LEVEL).persist()
    addresses, buildings = extract.split_records(records)
    yield addresses.persist(), buildings.persist()
    records.unpersist()


def _fp(df):
    row = df.agg(
        F.expr("bit_xor(xxhash64(addr_id, building_id))").alias("fp"),
        F.count("*").alias("n"),
    ).collect()[0]
    return row["fp"], row["n"]


def test_pip_strategy_equivalence(spark, corpus):
    addresses, buildings = corpus
    bidx = sj.build_broadcast_index(
        buildings.select(
            "building_id", "ring_lats", "ring_lons", "hole_lats", "hole_lons",
            "min_lat", "min_lon", "max_lat", "max_lon", "area_m2",
        ).toPandas()
    )
    bc = _fp(sj.pick_pip_winner(
        sj.pip_candidates(addresses, buildings, broadcast_index=bidx)))
    pj = _fp(sj.pick_pip_winner(sj.pip_candidates(addresses, buildings)))
    assert bc == pj
    assert bc[1] > 0


def test_knn_topk_matches_bruteforce(spark, corpus):
    """Generic k=3 kNN (pick_knn_topk) equals a brute-force
    all-buildings scan within the cutoff, with the §8.4 tie order."""
    import numpy as np

    from mergeaddressesandbuildings_spark.functions import geom

    addresses, buildings = corpus
    cands = sj.knn_candidates(addresses, buildings)
    got = {}
    for r in sj.pick_knn_topk(cands, k=3).collect():
        got.setdefault(r["addr_id"], []).append(
            (r["knn_rank"], r["building_id"], r["dist_m"]))
    for v in got.values():
        v.sort()

    apdf = addresses.select("addr_id", "lat", "lon").toPandas()
    bpdf = buildings.select("building_id", "ring_lats", "ring_lons").toPandas()
    flat_lat, flat_lon, off = geom.flatten_rings(
        bpdf["ring_lats"].to_numpy(), bpdf["ring_lons"].to_numpy())
    bids = bpdf["building_id"].to_numpy()
    want = {}
    n_b = len(bids)
    aids = apdf["addr_id"].to_numpy(dtype=np.int64)
    alats = apdf["lat"].to_numpy(dtype=np.float64)
    alons = apdf["lon"].to_numpy(dtype=np.float64)
    for j in range(len(aids)):
        pts = np.zeros(n_b, dtype=np.int64)
        rings = np.arange(n_b, dtype=np.int64)
        d = geom.pairs_point_to_ring_dist_m(
            np.array([alats[j]]), np.array([alons[j]]),
            pts, rings, flat_lat, flat_lon, off)
        ok = d <= config.KNN_CUTOFF_M
        ranked = sorted(zip(d[ok], bids[ok]))[:3]
        if ranked:
            want[int(aids[j])] = [
                (i + 1, int(b), float(dd)) for i, (dd, b) in enumerate(ranked)]
    assert got == want


def test_knn_strategy_equivalence(spark, corpus):
    addresses, buildings = corpus
    bidx = sj.build_broadcast_index(
        buildings.select(
            "building_id", "ring_lats", "ring_lons", "hole_lats", "hole_lons",
            "min_lat", "min_lon", "max_lat", "max_lon", "area_m2",
        ).toPandas()
    )
    bc = _fp(sj.pick_knn_winner(
        sj.knn_candidates(addresses, buildings, broadcast_index=bidx)))
    pj = _fp(sj.pick_knn_winner(sj.knn_candidates(addresses, buildings)))
    assert bc == pj
    assert bc[1] > 0


def test_knn_topk_unique_pairs_fast_path(spark):
    """pick_knn_topk(unique_pairs=True) must equal the default (dedup)
    path bit-exactly when candidates are unique per (addr, building) —
    flat_grid_candidates output is unique by construction (the probe
    side carries exactly one grid cell), which is what licenses the
    fast path in knn_topk_suppliers. Also pins the construction fact
    itself: no duplicate pairs out of flat_grid_candidates."""
    a = spark.range(0, 400).select(
        F.col("id").alias("c_custkey"),
        (F.lit(34.8) + (F.col("id") % 41).cast("double") * 0.00009).alias("a_lat"),
        (F.lit(-82.4) + (F.col("id") % 43).cast("double") * 0.00009).alias("a_lon"),
    )
    b = spark.range(0, 60).select(
        F.col("id").alias("s_suppkey"),
        (F.lit(34.8) + (F.col("id") % 13).cast("double") * 0.00027).alias("b_lat"),
        (F.lit(-82.4) + (F.col("id") % 17).cast("double") * 0.00022).alias("b_lon"),
    )
    cands = sj.flat_grid_candidates(
        a, b, cutoff_m=120.0, cos_lat0=0.821149209133704,
        broadcast_b=True,
    ).select(
        F.col("c_custkey").alias("addr_id"),
        F.col("s_suppkey").alias("building_id"),
        "dist_m", F.lit(0.0).alias("area_m2"),
    ).persist()
    dup = (cands.groupBy("addr_id", "building_id").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0  # the uniqueness promise flat_grid_candidates makes

    key = ["addr_id", "building_id", "knn_rank"]
    slow = sorted(tuple(r) for r in
                  sj.pick_knn_topk(cands, k=3).select(*key).collect())
    fast = sorted(tuple(r) for r in
                  sj.pick_knn_topk(cands, k=3, unique_pairs=True)
                  .select(*key).collect())
    assert slow == fast and len(fast) > 0
    cands.unpersist()
