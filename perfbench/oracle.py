"""Independent numpy oracles for the benchmark's outputs.

Everything here is computed from the generator's pandas rows, the numpy
kernels in ``kernels.py`` and the pure driver-side ``find_tree_groups``
planner — never from a Spark result — so a mismatch means the engine's
output differs from the specification.

Join digests are order-independent: each output pair (query, point) maps
to ``key = query_num << 22 | pid`` and the digest is
``(rows, sum(key), sum(key * MIX mod MOD))``.  Both sums stay far below
2^63 at the sizes the benchmark runs, so Spark (ANSI arithmetic) and
numpy compute them identically.
"""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.operators.calcqts import (
    GROUND_RES,
    MAX_QT_LEVEL,
)
from osmquadtree_rust_bindings_spark.operators import tiling as T
from osmquadtree_rust_bindings_spark.sources import images as IM

KEY_SHIFT = 22          # pid < 2^22 points per corpus
MIX = 40_503
MOD = 2_147_483_647


def digest(keys: np.ndarray) -> tuple[int, int, int]:
    keys = np.asarray(keys, np.int64)
    return (int(len(keys)), int(keys.sum()), int(((keys * MIX) % MOD).sum()))


def poly_num(poly_id: str) -> int:
    """fixtures polygon ids are ``poly%06d``."""
    return int(poly_id[4:])


class Points:
    """The generated corpus as numpy columns: the same rows the engine
    reads, derived independently of Spark."""

    def __init__(self, n: int, seed: int):
        if n >= 1 << KEY_SHIFT:
            raise ValueError(f"corpus of {n} rows overflows the digest key")
        pdf = IM.make_images_pdf(0, n, seed=seed, with_bytes=False)
        self.pid = np.arange(n, dtype=np.int64)
        self.image_id = pdf["image_id"].to_numpy()
        self.lon, self.lat = K.phash_lonlat(pdf["phash"].to_numpy(np.int64))
        dw = pdf["w"].to_numpy(np.int64) * GROUND_RES // 2
        dh = pdf["h"].to_numpy(np.int64) * GROUND_RES // 2
        self.qt_point = K.calcqts_point(self.lon, self.lat, MAX_QT_LEVEL)
        self.qt = K.calcqts_bbox(self.lon - dw, self.lat - dh,
                                 self.lon + dw, self.lat + dh,
                                 max_depth=MAX_QT_LEVEL)
        self._order = np.argsort(self.lon, kind="stable")
        self._lon_sorted = self.lon[self._order]

    def in_box(self, minlon, minlat, maxlon, maxlat) -> np.ndarray:
        """Indices of points inside the closed box."""
        i0 = np.searchsorted(self._lon_sorted, minlon, "left")
        i1 = np.searchsorted(self._lon_sorted, maxlon, "right")
        idx = self._order[i0:i1]
        lat = self.lat[idx]
        return idx[(lat >= minlat) & (lat <= maxlat)]


# ------------------------------------------------------------------ joins

def bbox_digest(pts: Points, boxes: pd.DataFrame) -> tuple[int, int, int]:
    keys = [np.int64(q) << KEY_SHIFT | pts.pid[pts.in_box(x0, y0, x1, y1)]
            for q, x0, y0, x1, y1 in boxes[
                ["qid", "minlon", "minlat", "maxlon", "maxlat"]]
            .itertuples(index=False)]
    return digest(np.concatenate(keys) if keys else [])


def pip_digest(pts: Points, polys: pd.DataFrame) -> tuple[int, int, int]:
    keys = []
    for p in polys.itertuples(index=False):
        idx = pts.in_box(p.minlon, p.minlat, p.maxlon, p.maxlat)
        inside = K.points_in_polygon(pts.lon[idx], pts.lat[idx],
                                     p.verts_lon, p.verts_lat)
        keys.append(np.int64(poly_num(p.poly_id)) << KEY_SHIFT
                    | pts.pid[idx[inside]])
    return digest(np.concatenate(keys) if keys else [])


def knn_rows_expected(queries: pd.DataFrame, n_points: int) -> int:
    return int(np.minimum(queries["k"].to_numpy(np.int64), n_points).sum())


def knn_check(pts: Points, queries: pd.DataFrame, got: list,
              sample_qids) -> list[str]:
    """Compare the engine's rows for ``sample_qids`` with a brute-force
    top-k.  ``got`` holds (qid, pid, dist_m) rows.  A point may swap with
    another at the k-th distance (a tie), so the check compares sorted
    distance profiles: the true distances of the returned points must be
    the oracle's k smallest, and the reported distances must match them.
    Returns mismatch descriptions."""
    by_q: dict[int, list] = {}
    for qid, pid, dist in got:
        by_q.setdefault(int(qid), []).append((int(pid), float(dist)))
    qs = queries.set_index("qid")
    errors = []
    for qid in sample_qids:
        q = qs.loc[qid]
        k = min(int(q["k"]), len(pts.pid))
        d = K.haversine_m(pts.lon, pts.lat, int(q["lon"]), int(q["lat"]))
        kth = np.partition(d, k - 1)[k - 1]
        best = np.sort(d[d <= kth])[:k]
        rows = by_q.get(int(qid), [])
        pids = np.array([r[0] for r in rows], np.int64)
        if len(rows) != k or len(np.unique(pids)) != k:
            errors.append(f"knn qid {qid}: {len(rows)} rows, want {k}")
            continue
        true_d = np.sort(d[pids])
        if (not np.allclose(true_d, best, rtol=1e-9, atol=1e-6)
                or not np.allclose(np.sort([r[1] for r in rows]), true_d,
                                   rtol=1e-9, atol=1e-6)):
            errors.append(f"knn qid {qid}: neighbours differ from oracle")
    return errors


# ----------------------------------------------------------------- tiling

def plan_cells(pts: Points, depth: int) -> pd.DataFrame:
    """The (cell, weight) histogram of the rows' bbox qts at ``depth``:
    what ``prepare_quadtree_tree`` aggregates, computed in numpy."""
    cells, weights = np.unique(K.qt_round(pts.qt, depth), return_counts=True)
    return pd.DataFrame({"cell": cells, "weight": weights.astype(np.int64)})


def tile_plan(pts: Points, depth: int, target: int) -> pd.DataFrame:
    """The expected (tile, weight) plan at the engine's planning depth:
    the numpy histogram fed to the pure ``find_tree_groups``."""
    return T.find_tree_groups(plan_cells(pts, depth), target=target)


def plan_depth_errors(pts: Points, depth: int, group_depth: int,
                      tolerance: float = 0.15) -> list[str]:
    """Check the engine's planning depth against ``choose_plan_depth``'s
    rule: the deepest depth (at most ``group_depth``) whose distinct-cell
    count stays under ``max_cells``.  The engine counts cells with an
    approximate sketch (5% relative error), so exact counts within
    ``tolerance`` of the limit pass either way."""
    max_cells = inspect.signature(
        T.choose_plan_depth).parameters["max_cells"].default

    def ncells(d: int) -> int:
        return len(np.unique(K.qt_round(pts.qt, d)))

    if not 0 <= depth <= group_depth:
        return [f"plan depth {depth} outside 0..{group_depth}"]
    errors = []
    n = ncells(depth)
    if n > max_cells * (1 + tolerance):
        errors.append(f"plan depth {depth} has {n} cells, "
                      f"over max_cells {max_cells}")
    if depth < group_depth:
        deeper = ncells(depth + 1)
        if deeper < max_cells * (1 - tolerance):
            errors.append(f"plan depth {depth} is too coarse: depth "
                          f"{depth + 1} has only {deeper} cells")
    return errors


def tile_fingerprint(pts: Points, plan_tiles) -> list[tuple]:
    """Per-tile Count fingerprint for a given tile plan: each row goes to
    its deepest plan tile that is a qt ancestor of the row's bbox qt,
    then (tile, num, min/max id, min/max lon, min/max lat) per tile,
    sorted by tile — the rows ``count_fingerprint`` writes."""
    roots = np.unique(np.append(np.asarray(plan_tiles, np.int64), 0))
    tile = np.zeros(len(pts.qt), np.int64)
    unset = np.ones(len(pts.qt), bool)
    for d in range(MAX_QT_LEVEL, -1, -1):
        cand = K.qt_round(pts.qt, d)
        hit = unset & np.isin(cand, roots)
        tile[hit] = cand[hit]
        unset &= ~hit
    g = pd.DataFrame({"tile": tile, "id": pts.image_id, "lon": pts.lon,
                      "lat": pts.lat}).groupby("tile")
    fp = pd.DataFrame({"num": g.size(), "min_id": g["id"].min(),
                       "max_id": g["id"].max(), "min_lon": g["lon"].min(),
                       "max_lon": g["lon"].max(), "min_lat": g["lat"].min(),
                       "max_lat": g["lat"].max()}).sort_index()
    return [(int(t), int(r.num), r.min_id, r.max_id, int(r.min_lon),
             int(r.max_lon), int(r.min_lat), int(r.max_lat))
            for t, r in fp.iterrows()]
