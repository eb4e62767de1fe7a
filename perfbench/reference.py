"""Independent output references, computed with NumPy from the generated inputs.

Nothing here imports ``rasterio_spark``: the references re-derive every
answer from the stored page coordinates and the polygon dicts, so a bug
shared by the engine and a reference built on its own helpers cannot hide.
"""

from __future__ import annotations

import numpy as np

# Order-independent digest of (page index, polygon_id) pairs. The same
# integer arithmetic runs in Spark (see ``workloads.pip_digest``); every
# intermediate stays below 2**63, so neither side can overflow.
DIGEST_P = 2_147_483_647


def pair_digest(page_idx: np.ndarray, polygon_id: np.ndarray) -> tuple[int, int]:
    """(row count, sum of per-pair hashes) for joined (page, polygon) pairs."""
    i = np.asarray(page_idx, dtype=np.int64)
    p = np.asarray(polygon_id, dtype=np.int64)
    h = ((i % DIGEST_P) * 1_000_003 + p * 7_919) % DIGEST_P
    return int(len(i)), int(h.sum())


def _ring_arrays(poly: dict) -> list[np.ndarray] | None:
    """Rings of a GeoJSON Polygon as (n, 2) float arrays, or None when the
    polygon is empty or its exterior ring has fewer than 4 coordinates
    (such layers entries are skipped by the join)."""
    rings = poly["geom"]["coordinates"]
    if not rings or len(rings[0]) < 4:
        return None
    return [np.asarray(r, dtype="float64")[:, :2] for r in rings]


def _inside(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray cast toward +x; an edge spans [min y, max y) in y."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            straddles = (y0 <= py) != (y1 <= py)
            if not straddles.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
            inside ^= straddles & (px < x_at)
    return inside


def pip_pairs(lon: np.ndarray, lat: np.ndarray, polygons: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """(point index, polygon_id) for every point inside every polygon:
    a bounding-box prefilter, then the ray cast on the survivors."""
    out_i, out_p = [], []
    for poly in polygons:
        rings = _ring_arrays(poly)
        if rings is None:
            continue
        xy = np.concatenate(rings)
        x0, y0 = xy.min(axis=0)
        x1, y1 = xy.max(axis=0)
        cand = np.nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))[0]
        if not len(cand):
            continue
        hit = cand[_inside(lon[cand], lat[cand], rings)]
        out_i.append(hit)
        out_p.append(np.full(hit.shape, int(poly["polygon_id"]), dtype=np.int64))
    if not out_i:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(out_i), np.concatenate(out_p)


def knn_rows(
    lon: np.ndarray, lat: np.ndarray, urls: np.ndarray, queries: list[tuple[int, float, float]], k: int
) -> set[tuple[int, str, int]]:
    """Brute-force k nearest pages per query: (query_id, url, rank), ranked
    by planar squared distance, ties broken by url."""
    out = set()
    for qid, qx, qy in queries:
        d2 = (lon - qx) * (lon - qx) + (lat - qy) * (lat - qy)
        # every point tied with the k-th distance must be a candidate
        kth = np.partition(d2, k - 1)[k - 1]
        cand = np.nonzero(d2 <= kth)[0]
        ranked = sorted(cand, key=lambda j: (d2[j], urls[j]))[:k]
        out.update((int(qid), str(urls[j]), r + 1) for r, j in enumerate(ranked))
    return out


def planted_duplicates(offset: int, n: int, dup_mod: int) -> set[tuple[int, int]]:
    """(original, copy) doc-id pairs the document generator plants: every
    ``dup_mod``-th id > 0 repeats the previous id's token stream."""
    return {(d - 1, d) for d in range(offset + 1, offset + n) if d % dup_mod == 0}


def tile_rows(lat: np.ndarray, res: int, tile_height: int) -> np.ndarray:
    """Distinct tile-row indices of the points on the res-``res`` grid
    (rows = 2**res over latitudes 85 .. -85, north up)."""
    ny = 1 << res
    row = np.clip(np.floor((85.0 - lat) / 170.0 * ny).astype(np.int64), 0, ny - 1)
    return np.unique(row // tile_height)
