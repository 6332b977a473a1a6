"""Expected answers, computed once per run outside every timed window.

The checks are independent of the engine's kernels: point-in-polygon is
the plain crossing rule evaluated with the same IEEE operations in the
same order as the engine and the repo's SQL oracle, so results must be
equal, not merely close. Reference-query points are extracted by DuckDB
running the repo's own synthesis CTE over the generated events file;
synthesised points are rebuilt in numpy from the same integer
arithmetic as ``sources.pages.synth_points``.
"""

from __future__ import annotations

import math

import numpy as np

from raster_join_spark.fixtures import RECT_INSET_X, RECT_INSET_Y, X0, X1, Y0, Y1


def crossing_pip(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Ray-crossing parity, full-array form: for each edge (vi, vj),
    flip where (vi.y > y) != (vj.y > y) and x < (vj.x-vi.x)*(y-vi.y)/(vj.y-vi.y)+vi.x."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(verts)
    for i in range(n):
        vix, viy = verts[i]
        vjx, vjy = verts[i - 1]
        straddle = (viy > py) != (vjy > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (vjx - vix) * (py - viy) / (vjy - viy) + vix
        inside ^= straddle & (px < xcross)
    return inside


def poly_members(px, py, verts) -> np.ndarray:
    """Indices of points inside one polygon; an inclusive MBR pre-filter
    (exact for the crossing rule) keeps the full-array test small."""
    lo, hi = verts.min(axis=0), verts.max(axis=0)
    cand = np.flatnonzero((px >= lo[0]) & (px <= hi[0]) & (py >= lo[1]) & (py <= hi[1]))
    return cand[crossing_pip(px[cand], py[cand], verts)]


def poly_verts(polys) -> list[np.ndarray]:
    return [polys.verts[polys.offsets[p] : polys.offsets[p + 1]] for p in range(polys.n_polys)]


def synth_xyv(n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """x, y, value_c of ``synth_points(spark, n, ...)``, rebuilt in numpy."""
    eid = np.arange(n, dtype=np.int64)
    hot = eid % 10 < 3
    y = np.where(hot, 40_500_000 + (eid * 12345) % 400_000, 24_500_000 + (eid * 48271) % 24_000_000)
    x = np.where(hot, -74_200_000 + (eid * 54321) % 400_000, -124_500_000 + (eid * 16807) % 57_000_000)
    return x.astype(np.float64), y.astype(np.float64), (eid * 7919) % 10_000


def cell_xy(grid, x, y):
    xp = np.floor((x - grid.x0) / grid.cell_w).astype(np.int64)
    yp = np.floor((y - grid.y0) / grid.cell_h).astype(np.int64)
    ok = (xp >= 0) & (xp < grid.nx) & (yp >= 0) & (yp < grid.ny)
    return xp, yp, ok


def per_poly(polys, x, y, v=None) -> tuple[list[int], list[int]]:
    """Exact per-polygon (count, sum of v)."""
    cnt, tot = [], []
    for verts in poly_verts(polys):
        idx = poly_members(x, y, verts)
        cnt.append(len(idx))
        tot.append(int(v[idx].sum()) if v is not None else 0)
    return cnt, tot


def raster_per_poly(polys, grid, x, y, v=None) -> tuple[list[int], list[int]]:
    """Whole-cell attribution: a point counts for a polygon iff its cell
    centre, (x0 + xp*w) + 0.5*w, is inside it."""
    xp, yp, ok = cell_xy(grid, x, y)
    cells = (xp + grid.nx * yp)[ok]
    vals = v[ok] if v is not None else np.zeros(len(cells), np.int64)
    uc, inv = np.unique(cells, return_inverse=True)
    c_cnt = np.bincount(inv, minlength=len(uc))
    c_sum = np.bincount(inv, weights=vals, minlength=len(uc))
    cx = (grid.x0 + (uc % grid.nx) * grid.cell_w) + 0.5 * grid.cell_w
    cy = (grid.y0 + (uc // grid.nx) * grid.cell_h) + 0.5 * grid.cell_h
    cnt, tot = [], []
    for verts in poly_verts(polys):
        idx = poly_members(cx, cy, verts)
        cnt.append(int(c_cnt[idx].sum()))
        tot.append(int(round(c_sum[idx].sum())))
    return cnt, tot


def rect_counts(side: int, x, y) -> list[int]:
    """Closed-form membership for ``fixtures.rect_polyset(side)``: every
    bound is an integer + 0.5, so no point lies on an edge."""
    sw, sh = (X1 - X0) / side, (Y1 - Y0) / side
    sxp = np.floor((x - X0) / sw).astype(np.int64)
    syp = np.floor((y - Y0) / sh).astype(np.int64)
    ok = (sxp >= 0) & (sxp < side) & (syp >= 0) & (syp < side)
    ok &= (x > X0 + sxp * sw + RECT_INSET_X) & (x < X0 + (sxp + 1) * sw - RECT_INSET_X)
    ok &= (y > Y0 + syp * sh + RECT_INSET_Y) & (y < Y0 + (syp + 1) * sh - RECT_INSET_Y)
    return np.bincount((sxp + side * syp)[ok], minlength=side * side).tolist()


def topk(ids, x, y, qx: float, qy: float, k: int) -> list[tuple[int, int, int]]:
    """Exact k nearest by (dist2, id): [(event_id, rank, dist2)]."""
    d = (x - qx) * (x - qx) + (y - qy) * (y - qy)
    kth = np.partition(d, k - 1)[k - 1]
    cand = np.flatnonzero(d <= kth)
    order = np.lexsort((ids[cand], d[cand]))[:k]
    return [(int(ids[cand[i]]), r + 1, int(d[cand[i]])) for r, i in enumerate(order)]


def reference_points(events_path: str):
    """(event_id, x, y, ts_us, lang, value_c) of every page, extracted by
    DuckDB through the engine's synthesis CTE (the repo's oracle path)."""
    import duckdb

    from raster_join_spark.sources.pages import points_oracle_sql

    con = duckdb.connect(config={"threads": 2})
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        df = con.execute(
            points_oracle_sql("event_id, x, y, epoch_us(warc_ts) AS ts_us, lang, value_c")
        ).df()
    finally:
        con.close()
    return {
        "id": df["event_id"].to_numpy(np.int64),
        "x": df["x"].to_numpy(np.float64),
        "y": df["y"].to_numpy(np.float64),
        "ts": df["ts_us"].to_numpy(np.int64),
        "lang": df["lang"].to_numpy(object),
        "value_c": df["value_c"].to_numpy(np.int64),
    }


def same_counts(got: dict, want: list[int]) -> str | None:
    exp = {p: c for p, c in enumerate(want)}
    if got != exp:
        bad = sorted(p for p in set(exp) | set(got) if got.get(p) != exp.get(p))[:5]
        return f"count mismatch at polygons {bad}: got {[got.get(p) for p in bad]} want {[exp.get(p) for p in bad]}"
    return None


def same_avgs(got: dict, cnt: list[int], tot: list[int]) -> str | None:
    """AVG per polygon: sum / count, NULL for an empty polygon."""
    if set(got) != set(range(len(cnt))):
        return f"avg: rows for polygons {sorted(got)}, want 0..{len(cnt) - 1}"
    for p, (c, s) in enumerate(zip(cnt, tot)):
        g = got[p]
        if c == 0:
            if g is not None:
                return f"avg polygon {p}: got {g} want NULL"
        elif g is None or not math.isclose(g, s / c, rel_tol=1e-12):
            return f"avg polygon {p}: got {g} want {s / c}"
    return None
