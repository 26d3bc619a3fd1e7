"""Seeded benchmark inputs, built only from the public fixture generator
(``sources.pages.gen_pages_pdf`` / ``gen_existing_pdf``).

The seed picks a disjoint page-id range, so every seed runs the same
scenario mix over different pages. Every staged corpus has two parts:

- the main pages, in the fixture county (about 30% of them in one
  level-12 cell, as the generator makes them);
- a probe region: ``PROBE_PAGES`` more pages of the same shape, moved
  rigidly ``PROBE_DLAT`` degrees north. It is far beyond every
  interaction radius (kNN cutoff, J4 radius, level-12 tiles), so the
  engine's output for it equals its output on the probe pages alone,
  which the brute-force §8 oracle can check within the timed run.

``hot`` shapes additionally move a seeded ``HOT_SHARE`` of the pages
(every coordinate of a page and of its existing-OSM rows by one offset)
into a single ``REFINE_INDEX_LEVEL`` cell, so that cell holds most
addresses — a dense city core. The probe region gets its own hot cell.

A delta is a crawl increment over a corpus: added urls, modified urls
(a donor page's content relabelled to the target url) and tombstones,
scattered over the main pages like a re-crawl.
"""

from __future__ import annotations

import json
import math
import random
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from mergeaddressesandbuildings_spark import config, schemas
from mergeaddressesandbuildings_spark.functions import textx
from mergeaddressesandbuildings_spark.sources import pages as pg

SEED_STRIDE = 1_000_000  # seed s owns page ids [(s+1)·stride, (s+2)·stride)
PROBE_OFFSET = 900_000  # probe pages: the top of the seed's id range
PROBE_PAGES = 200
PROBE_DLAT = 0.5  # ~55 km north of the county
DONOR_OFFSET = 500_000  # modified pages take their new content from here
HOT_SHARE = 0.75  # share of pages moved into the hot cell
HOT_CENTER = (34.85, -82.40)  # centre of the generator's own hot level-12 cell

_SPAN = re.compile(rb'(<span class="geo-record">)(.*?)(</span>)', re.S)


def cell_xy(lat: float, lon: float, level: int) -> tuple[int, int]:
    """Morton (x, y) of a point at ``level`` — the engine's cell grid."""
    n = 1 << level
    return (min(n - 1, max(0, int((lon + 180.0) / 360.0 * n))),
            min(n - 1, max(0, int((lat + 90.0) / 180.0 * n))))


def cell_box(lat: float, lon: float, level: int) -> tuple[float, float, float, float]:
    """(min_lat, min_lon, max_lat, max_lon) of the cell holding a point."""
    x, y = cell_xy(lat, lon, level)
    n = 1 << level
    return (y * 180.0 / n - 90.0, x * 360.0 / n - 180.0,
            (y + 1) * 180.0 / n - 90.0, (x + 1) * 360.0 / n - 180.0)


@dataclass(frozen=True)
class Shape:
    """One workload's input: main page count, seed, hot-cell move."""
    n_pages: int
    seed: int
    hot: bool

    @property
    def base(self) -> int:
        return (self.seed + 1) * SEED_STRIDE

    @property
    def probe_base(self) -> int:
        return self.base + PROBE_OFFSET

    def is_probe(self, page_id: int) -> bool:
        return page_id >= self.probe_base

    def target(self, page_id: int) -> tuple[float, float] | None:
        """Seeded per-page hot move: the point the page's reference
        point goes to, or None. The margins keep every address of a
        page (at most ~150 m east and a few metres elsewhere of the
        reference point) inside the cell."""
        if not self.hot:
            return None
        rng = random.Random(page_id * 1_000_003 + self.seed)
        if rng.random() >= HOT_SHARE:
            return None
        dlat = PROBE_DLAT if self.is_probe(page_id) else 0.0
        min_lat, min_lon, max_lat, max_lon = cell_box(
            HOT_CENTER[0] + dlat, HOT_CENTER[1], config.REFINE_INDEX_LEVEL)
        h, w = max_lat - min_lat, max_lon - min_lon
        return (rng.uniform(min_lat + 0.15 * h, max_lat - 0.2 * h),
                rng.uniform(min_lon + 0.05 * w, max_lon - 0.3 * w))


def _ref_point(recs: list[dict]) -> tuple[float, float] | None:
    for r in recs:
        if r.get("kind") == "address" and "lat" in r:
            return r["lat"], r["lon"]
        if r.get("kind") == "building" and r.get("ring"):
            return r["ring"][0][0], r["ring"][0][1]
    return None


def _move(lat: float, lon: float, d: tuple[float, float]) -> tuple[float, float]:
    return round(lat + d[0], 7), round(lon + d[1], 7)


def _move_ring(ring, d):
    return [list(_move(p[0], p[1], d)) for p in ring]


def _page_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def _shift_pages(pdf: pd.DataFrame, shape: Shape) -> tuple[pd.DataFrame, dict]:
    """Apply the probe-region and hot-cell moves.
    → (pages, {page_id: (dlat, dlon)})."""
    shifts: dict[int, tuple[float, float]] = {}
    html, text = list(pdf["html"]), list(pdf["text"])
    for k, url in enumerate(pdf["url"]):
        pid = _page_id(url)
        if pid not in shifts:
            target = shape.target(pid)
            if target is None and not shape.is_probe(pid):
                continue
            ref = _ref_point([json.loads(m.group(2)) for m in _SPAN.finditer(html[k])])
            if ref is None:
                continue
            if target is None:
                target = (ref[0] + PROBE_DLAT, ref[1])
            shifts[pid] = (round(target[0] - ref[0], 7), round(target[1] - ref[1], 7))
        d = shifts[pid]

        def rewrite(m: re.Match) -> bytes:
            r = json.loads(m.group(2))
            if r.get("kind") == "address":
                r["lat"], r["lon"] = _move(r["lat"], r["lon"], d)
            elif r.get("ring"):
                r["ring"] = _move_ring(r["ring"], d)
                if r.get("holes"):
                    r["holes"] = [_move_ring(h, d) for h in r["holes"]]
            body = json.dumps(r, sort_keys=True, separators=(",", ":"))
            return m.group(1) + body.encode("utf-8") + m.group(3)

        html[k] = _SPAN.sub(rewrite, html[k])
        text[k] = textx.extract_text(html[k])
    out = pdf.copy()
    out["html"], out["text"] = html, text
    return out, shifts


def gen_pages(page_ids, shape: Shape) -> pd.DataFrame:
    return _shift_pages(pg.gen_pages_pdf(page_ids), shape)[0]


def gen_existing(page_ids, shape: Shape) -> pd.DataFrame:
    """Existing-OSM rows as plain lists (the oracle's form); each row
    moves with the page it belongs to."""
    if not shape.hot and not any(shape.is_probe(int(i)) for i in page_ids):
        return pg.gen_existing_pdf(page_ids)
    shifts = _shift_pages(pg.gen_pages_pdf(page_ids), shape)[1]
    rows = []
    for pid in page_ids:
        d = shifts.get(int(pid))
        for r in pg.gen_existing_pdf([int(pid)]).to_dict("records"):
            if d is not None:
                if r["ring"] is not None:
                    r["ring"] = _move_ring(r["ring"], d)
                if r["kind"] == "node":
                    r["lat"], r["lon"] = _move(r["lat"], r["lon"], d)
            rows.append(r)
    return pd.DataFrame(rows, columns=pg.gen_existing_pdf([]).columns)


def _structs(ring):
    return [{"lat": p[0], "lon": p[1]} for p in ring]


def existing_table(pdf: pd.DataFrame) -> pd.DataFrame:
    """Oracle-form existing rows → the EXISTING_OSM table shape."""
    pdf = pdf.copy()
    pdf["ring"] = pdf["ring"].map(lambda r: None if r is None else _structs(r))
    pdf["holes"] = pdf["holes"].map(
        lambda hs: None if hs is None or isinstance(hs, float) else [_structs(h) for h in hs])
    return pdf


def stage(spark, shape: Shape, pages_path: str, existing_path: str) -> None:
    """Generate the seeded pages and existing-OSM tables (main pages plus
    the probe region) on the driver and write them to parquet. No Python
    worker starts here: the first operation pays for that, as it would
    in a fresh job."""
    ids_ = np.concatenate([np.arange(shape.base, shape.base + shape.n_pages),
                           np.arange(shape.probe_base, shape.probe_base + PROBE_PAGES)])
    spark.createDataFrame(gen_pages(ids_, shape), schemas.PAGES) \
        .write.mode("overwrite").parquet(pages_path)
    spark.createDataFrame(existing_table(gen_existing(ids_, shape)), schemas.EXISTING_OSM) \
        .write.mode("overwrite").parquet(existing_path)


def probe_rows(shape: Shape) -> tuple[list[dict], list[dict]]:
    """The probe region's pages and existing rows, as the oracle takes them."""
    ids_ = np.arange(shape.probe_base, shape.probe_base + PROBE_PAGES)
    pages = gen_pages(ids_, shape).to_dict("records")
    existing = [
        {k: (None if isinstance(v, float) and math.isnan(v) else v) for k, v in r.items()}
        for r in gen_existing(ids_, shape).to_dict("records")
    ]
    return pages, existing


@dataclass(frozen=True)
class Delta:
    added: np.ndarray
    modified: np.ndarray
    deleted: np.ndarray


def make_delta(shape: Shape, share: float = 0.01) -> Delta:
    """About ``share`` of the main pages: 2/5 added, 2/5 modified, 1/5
    deleted; modified and deleted urls are scattered over the corpus."""
    n = max(5, round(shape.n_pages * share))
    n_add, n_mod = 2 * n // 5, 2 * n // 5
    rng = np.random.default_rng(shape.seed)
    picked = shape.base + rng.choice(shape.n_pages, n - n_add, replace=False)
    return Delta(added=shape.base + shape.n_pages + np.arange(n_add),
                 modified=np.sort(picked[:n_mod]), deleted=np.sort(picked[n_mod:]))


def _url(page_id: int) -> str:
    return pg.gen_pages_pdf([page_id])["url"].iloc[0]


def urls(page_ids) -> list[str]:
    return [_url(int(i)) for i in page_ids]


def delta_table(shape: Shape, delta: Delta) -> pd.DataFrame:
    """The change set: the full new page state of each changed url plus
    ``deleted`` tombstones (the ``apply_delta`` contract)."""
    donors = shape.base + DONOR_OFFSET + np.arange(len(delta.modified))
    mod = gen_pages(donors, shape)
    mod["url"] = mod["url"].map(dict(zip(urls(donors), urls(delta.modified))))
    ups = pd.concat([mod, gen_pages(delta.added, shape)], ignore_index=True)
    ups["deleted"] = False
    tombs = pd.DataFrame({
        "url": urls(delta.deleted),
        "warc_ts": pd.Timestamp("2030-01-01", tz="UTC"),
        "html": [b""] * len(delta.deleted),
        "text": [""] * len(delta.deleted),
        "lang": ["en"] * len(delta.deleted),
        "deleted": True,
    })
    return pd.concat([ups, tombs], ignore_index=True)
