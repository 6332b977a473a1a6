"""Spatial-join strategies vs the reference's semantics oracle.

Mirrors the reference's correctness methodology (SURVEY.md §5): the exact
strategies (index J2, hybrid J3) must agree with brute force row-for-row;
the approximate raster join (J1) must satisfy the error-bound property
(exact within [cnt-fp1, cnt+fn1], RasterJoin/main.cpp:178-193).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_join_spark.fixtures import micro_fixture
from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_multi
from raster_join_spark.geo.polygons import blob_polygons
from raster_join_spark.operators.spatial_join import AggSpec, SpatialJoin


@pytest.fixture(scope="module")
def random_points():
    rng = np.random.RandomState(99)
    n = 4000
    x = np.round(rng.uniform(0, 1000, n))
    y = np.round(rng.uniform(0, 1000, n))
    val = rng.randint(0, 100, n)
    return x, y, val


@pytest.fixture(scope="module")
def points_df(spark, random_points):
    x, y, val = random_points
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(len(x))],
            "x": x.astype(np.float64),
            "y": y.astype(np.float64),
            "val": val.astype(np.int64),
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def polyset():
    return blob_polygons(8, 0, 0, 1000, 1000, n_verts=9, seed=31)


@pytest.fixture(scope="module")
def grid():
    return GridSpec(0.0, 0.0, 25.0, 25.0, 40, 40)


def brute_counts(x, y, ps, val=None):
    pt_idx, poly_ids = pip_multi(x, y, ps.verts, ps.offsets)
    cnt = np.zeros(ps.n_polys, dtype=np.int64)
    sums = np.zeros(ps.n_polys, dtype=np.int64)
    for i, p in zip(pt_idx, poly_ids):
        cnt[p] += 1
        if val is not None:
            sums[p] += val[i]
    return cnt, sums


# ------------------------------------------------------------ micro fixture


def test_micro_fixture_counts(spark):
    """Reference baseLineSample (baseline.hpp:139-217): poly0=2, poly1=3."""
    px, py, polys = micro_fixture()
    df = spark.createDataFrame(
        pd.DataFrame({"url": [f"p{i}" for i in range(5)], "x": px, "y": py})
    )
    grid = GridSpec(4.8, 4.8, 0.05, 0.05, 12, 12)
    sj = SpatialJoin(spark, polys, grid)
    for strategy in (sj.index_join, sj.hybrid_join):
        got = {r["poly_id"]: r["agg"] for r in strategy(df).collect()}
        assert got == {0: 2, 1: 3}, strategy.__name__


# ----------------------------------------------------- exact strategies


def test_index_join_matches_bruteforce(spark, points_df, polyset, grid, random_points):
    x, y, val = random_points
    exp_cnt, _ = brute_counts(x, y, polyset)
    sj = SpatialJoin(spark, polyset, grid)
    got = sj.index_join(points_df).orderBy("poly_id").toPandas()
    np.testing.assert_array_equal(got["agg"].to_numpy(), exp_cnt)


def test_hybrid_equals_index(spark, points_df, polyset, grid, random_points):
    x, y, val = random_points
    exp_cnt, exp_sum = brute_counts(x, y, polyset, val)
    sj = SpatialJoin(spark, polyset, grid)
    cnt = sj.hybrid_join(points_df).orderBy("poly_id").toPandas()
    np.testing.assert_array_equal(cnt["agg"].to_numpy(), exp_cnt)
    # sum + avg parity (A2; reference wires Avg, Sum enum exists, Common.h:26)
    s = sj.hybrid_join(points_df, AggSpec("sum", "val", "s")).orderBy("poly_id").toPandas()
    np.testing.assert_array_equal(
        np.nan_to_num(s["s"].to_numpy(), nan=0).astype(np.int64), exp_sum
    )
    a = sj.hybrid_join(points_df, AggSpec("avg", "val", "a")).orderBy("poly_id").toPandas()
    nonzero = exp_cnt > 0
    np.testing.assert_allclose(
        a["a"].to_numpy()[nonzero], exp_sum[nonzero] / exp_cnt[nonzero]
    )


def test_assign_polygons_row_for_row(spark, points_df, polyset, grid, random_points):
    """Per-point tile+polygon assignments match brute force ROW-FOR-ROW
    (north_star requirement)."""
    x, y, val = random_points
    pt_idx, poly_ids = pip_multi(x, y, polyset.verts, polyset.offsets)
    expected = {(f"u{i}", int(p)) for i, p in zip(pt_idx, poly_ids)}
    sj = SpatialJoin(spark, polyset, grid)
    got_rows = sj.assign_polygons(points_df).collect()
    got = {(r["url"], r["poly_id"]) for r in got_rows}
    assert got == expected
    assert len(got_rows) == len(got_rows)  # no duplicate pairs
    # cell ids in the assignment match the grid kernel
    cells = grid.cell_ids_np(x, y)
    idx = {f"u{i}": int(c) for i, c in enumerate(cells)}
    for r in got_rows:
        assert idx[r["url"]] == r["cell_id"]


# ----------------------------------------------------- raster + bounds


def test_raster_join_matches_cover_semantics(spark, points_df, polyset, random_points):
    """Raster count per poly == count of points whose CELL CENTER is inside
    (the J1 whole-pixel attribution)."""
    x, y, val = random_points
    fine = GridSpec(0.0, 0.0, 5.0, 5.0, 200, 200)
    sj = SpatialJoin(spark, polyset, fine)
    got = sj.raster_join(points_df).orderBy("poly_id").toPandas()["agg"].to_numpy()

    cells = fine.cell_ids_np(x, y)
    ccx, ccy = fine.cell_centers_np(cells)
    exp = np.zeros(polyset.n_polys, dtype=np.int64)
    from raster_join_spark.geo.pip import pip_mask

    for p in range(polyset.n_polys):
        exp[p] = int(pip_mask(ccx, ccy, polyset.poly_verts(p)).sum())
    np.testing.assert_array_equal(got, exp)


def test_error_bounds_contain_exact(spark, points_df, polyset, random_points):
    """Epsilon-bound property (RasterJoin/main.cpp:178-193): the exact count
    lies within the whole-pixel interval [cnt-fp1, cnt+fn1] for EVERY
    polygon, at two grid resolutions."""
    x, y, val = random_points
    exact, _ = brute_counts(x, y, polyset)
    for cell in (5.0, 20.0):
        n = int(1000 / cell)
        fine = GridSpec(0.0, 0.0, cell, cell, n, n)
        sj = SpatialJoin(spark, polyset, fine)
        eb = sj.error_bounds(points_df).orderBy("poly_id").toPandas()
        assert (eb["lo1"].to_numpy() <= exact).all(), f"cell={cell}"
        assert (exact <= eb["hi1"].to_numpy()).all(), f"cell={cell}"
        # raster error shrinks with resolution: interval width sane
        assert (eb["hi1"] >= eb["lo1"]).all()
        # fraction-weighted interval is within the whole-pixel one
        assert (eb["lo"] >= eb["lo1"] - 1e-9).all()
        assert (eb["hi"] <= eb["hi1"] + 1e-9).all()
        # micro-unit integer interval tracks the float one to within the
        # per-cell quantization (frac floor costs < 1 unit per boundary
        # cell contribution; bound loosely by total count)
        n_pts = int(eb["cnt"].sum())
        assert (np.abs(eb["lo_u6"] - eb["lo"] * 1e6) <= n_pts + 1).all()
        assert (np.abs(eb["hi_u6"] - eb["hi"] * 1e6) <= n_pts + 1).all()


def test_raster_error_shrinks_with_resolution(spark, points_df, polyset, random_points):
    x, y, val = random_points
    exact, _ = brute_counts(x, y, polyset)
    errs = []
    for cell in (50.0, 10.0, 2.0):
        n = int(1000 / cell)
        g = GridSpec(0.0, 0.0, cell, cell, n, n)
        sj = SpatialJoin(spark, polyset, g)
        got = sj.raster_join(points_df).orderBy("poly_id").toPandas()["agg"].to_numpy()
        errs.append(np.abs(got - exact).sum())
    assert errs[0] >= errs[1] >= errs[2]
    assert errs[2] <= max(1, 0.05 * exact.sum())


# ----------------------------------------------------- coarse scan


def test_coarse_scan_superset_then_exact(spark, points_df, polyset, grid, random_points):
    """S5/S6: the coarse sigma is a superset at cell granularity; chaining
    the exact sigma reproduces the brute-force box filter
    (BackendIndex/main.cpp:129-168's testBackendIndex)."""
    x, y, val = random_points
    box = (100.0, 200.0, 480.0, 730.0)
    sj = SpatialJoin(spark, polyset, grid)
    coarse = sj.coarse_scan(points_df, *box)
    n_coarse = coarse.count()
    exact_mask = (x >= box[0]) & (y >= box[1]) & (x <= box[2]) & (y <= box[3])
    n_exact_df = coarse.filter(
        (F.col("x") >= box[0]) & (F.col("y") >= box[1])
        & (F.col("x") <= box[2]) & (F.col("y") <= box[3])
    ).count()
    assert n_coarse >= int(exact_mask.sum())
    assert n_exact_df == int(exact_mask.sum())


def test_split_mode_equals_fused(spark, points_df, polyset, grid):
    """fused='split' (interior resolved JVM-side, only boundary-cell
    points through Arrow) must match the one-pass kernel plan exactly
    for count, sum and avg."""
    from raster_join_spark.operators.spatial_join import AggSpec

    sj = SpatialJoin(spark, polyset, grid)
    for agg in (AggSpec(), AggSpec("sum", "val", "agg"), AggSpec("avg", "val", "agg")):
        a = sj.hybrid_join(points_df, agg).orderBy("poly_id").toPandas()
        b = sj.hybrid_join(points_df, agg, fused="split").orderBy("poly_id").toPandas()
        assert a["agg"].tolist() == b["agg"].tolist(), agg.op


def test_fused_sum_exact_above_2pow53(spark, polyset, grid):
    """Integral SUM stays bit-exact when values exceed float64's 2^53
    integer range: 2^55+1 is not float64-representable, so any float
    narrowing in the transfer or the partial accumulation would lose the
    +1 per row. The kernel must transfer int64 and guard the bincount
    fast path (falling back to exact int64 scatter-add)."""
    n = 100
    big = (1 << 55) + 1
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "x": np.round(rng.uniform(0, 1000, n)),
            "y": np.round(rng.uniform(0, 1000, n)),
            "val": np.full(n, big, dtype=np.int64),
        }
    )
    df = spark.createDataFrame(pdf)
    sj = SpatialJoin(spark, polyset, grid)
    got = sj.hybrid_join(df, AggSpec("sum", "val", "agg")).orderBy("poly_id").toPandas()
    cnt, _ = brute_counts(pdf["x"].to_numpy(), pdf["y"].to_numpy(), polyset)
    exp = cnt * big  # exact int64 per polygon
    exp_series = [int(v) if v else None for v in exp]
    assert [None if pd.isna(v) else int(v) for v in got["agg"]] == exp_series


def test_fused_auto_selection(spark, points_df, polyset, random_points):
    """fused='auto' (r7 rule): the hierarchical split for every
    partial-aggregable op — its plan shows the boundary deep semi-join
    (LeftSemi) feeding MapInArrow plus the chained interior broadcast
    probes, and NO SortMergeJoin. Results identical to the fused
    kernel."""
    fine = GridSpec(0.0, 0.0, 5.0, 5.0, 200, 200)
    sj = SpatialJoin(spark, polyset, fine)

    stats: dict = {}
    got = sj.hybrid_join(points_df, fused="auto", stats=stats)
    assert stats["plan"] == "split"
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    a = got.orderBy("poly_id").toPandas()
    b = sj.hybrid_join(points_df).orderBy("poly_id").toPandas()
    assert a["agg"].tolist() == b["agg"].tolist()


def test_aggspec_rejects_unknown_op_and_missing_col():
    """The plans branch on op with avg as the fall-through, so an op
    outside count|sum|avg would run as AVG, and sum/avg without a column
    would sum NULLs; both must fail at construction."""
    for op, col in (("max", "val"), ("min", None), ("sum", None), ("avg", None)):
        with pytest.raises(ValueError):
            AggSpec(op, col)
    for op, col in (("count", None), ("sum", "val"), ("avg", "val")):
        assert AggSpec(op, col).op == op


def test_hybrid_join_plan_domain(spark, points_df, polyset, grid):
    """hybrid_join has two physical plans: fused=True runs the fused
    kernel, "split" and "auto" the split; stats["plan"] names the plan
    that runs. Any other fused or coord_transfer value is refused rather
    than silently run as the fused kernel."""
    sj = SpatialJoin(spark, polyset, grid)
    for fused, plan in ((True, "fused"), ("split", "split"), ("auto", "split")):
        stats: dict = {}
        sj.hybrid_join(points_df, fused=fused, stats=stats)
        assert stats["plan"] == plan, fused
    for fused in ("splt", "jvm", False, None, 1):
        stats = {}
        with pytest.raises(ValueError, match="fused"):
            sj.hybrid_join(points_df, fused=fused, stats=stats)
        assert stats == {}
    for mode in ("int", "float"):
        with pytest.raises(ValueError, match="coord_transfer"):
            sj.hybrid_join(points_df, coord_transfer=mode)


@pytest.fixture(scope="module")
def dyadic_grid():
    """Integral origin + cell sizes that stay quarter-integers through
    two x8 refinements (64 -> 8 -> 1) — the hierarchical split's
    exactness precondition, unlike the cell-25 `grid` fixture."""
    return GridSpec(0.0, 0.0, 64.0, 64.0, 16, 16)


def test_hier_levels_engage_and_nest(spark, polyset, dyadic_grid):
    """Hierarchy structure invariants on a dyadic grid: the descent
    engages (>1 level), each level's pair tables live on the refined
    grid, and every deeper boundary/interior pair sits under a
    PREVIOUS-level boundary cell (the nesting that makes the staged
    boundary semi-joins and the marker chain exact)."""
    sj = SpatialJoin(spark, polyset, dyadic_grid)
    assert sj._hier_ok()
    levels = sj._hier_levels()
    assert len(levels) > 1
    for j in range(1, len(levels)):
        gp, _, _, bc_prev, _ = levels[j - 1]
        g, ic, ip, bc, bp = levels[j]
        f = SpatialJoin.HIER_FACTORS[j - 1]
        assert g.nx == gp.nx * f and g.ny == gp.ny * f
        prev_b = set(np.unique(bc_prev).tolist())
        for cells in (ic, bc):
            gx, gy = cells % g.nx, cells // g.nx
            parents = (gx // f) + gp.nx * (gy // f)
            assert set(np.unique(parents).tolist()) <= prev_b
    # one probe map per level, markers on all but the deepest
    maps = sj._hier_join_maps()
    assert len(maps) == len(levels)
    for j, (g, mdf) in enumerate(maps):
        has_marker = mdf.filter(F.col("poly_id") == -1).count() > 0
        assert has_marker == (j < len(maps) - 1)


def test_hier_split_matches_brute_force(spark, points_df, polyset,
                                        dyadic_grid, random_points):
    """End-to-end exactness of the multi-level split (chained probes +
    staged boundary semi-joins + deep-CSR Arrow kernel) against the
    numpy brute force, for count and sum."""
    x, y, val = random_points
    cnt, sums = brute_counts(x, y, polyset, val)
    sj = SpatialJoin(spark, polyset, dyadic_grid)
    assert len(sj._hier_levels()) > 1
    got_cnt = (
        sj.hybrid_join(points_df, fused="split")
        .orderBy("poly_id").toPandas()["agg"].to_numpy()
    )
    assert got_cnt.tolist() == cnt.tolist()
    got_sum = (
        sj.hybrid_join(points_df, agg=AggSpec("sum", "val"), fused="split")
        .orderBy("poly_id").toPandas()["agg"].fillna(0).to_numpy()
    )
    assert got_sum.astype(np.int64).tolist() == sums.tolist()
    got_avg = (
        sj.hybrid_join(points_df, agg=AggSpec("avg", "val"), fused="split")
        .orderBy("poly_id").toPandas()["agg"].to_numpy()
    )
    # same single IEEE divide as the engine's finalize: sum/cnt in f64
    want_avg = np.where(cnt > 0, sums / np.where(cnt > 0, cnt, 1), np.nan)
    assert np.array_equal(got_avg, want_avg, equal_nan=True)


def test_hier_split_poly4096_budget_stop(spark):
    """4096 rect polygons on the bench grid: the level-2 refinement
    exceeds HIER_PAIR_BUDGET, so the descent stops early — the split
    must stay exact across the budget-stop boundary (2-level chain,
    staged semi with mid = level 0), agreeing with the fused kernel."""
    from raster_join_spark.fixtures import COARSE_GRID, rect_polyset
    from raster_join_spark.sources.pages import synth_points

    sj = SpatialJoin(spark, rect_polyset(), COARSE_GRID)
    assert sj._hier_ok()
    levels = sj._hier_levels()
    assert 2 <= len(levels) <= len(SpatialJoin.HIER_FACTORS) + 1
    pts = synth_points(spark, 100_000, 8)
    a = sj.hybrid_join(pts, fused="split").orderBy("poly_id").toPandas()
    b = sj.hybrid_join(pts, fused=True).orderBy("poly_id").toPandas()
    assert a["agg"].tolist() == b["agg"].tolist()
    assert int(a["agg"].sum()) > 0


def test_rect_polyset_pip_equals_closed_form():
    """The 4096-rect gate fixture's load-bearing property: with every
    bound an exact (integer + 0.5) float64, ray-cast PIP over the rect
    equals the closed-form range test for all integer-microdegree points
    — the oracle uses the closed form, the engine runs real PIP."""
    import numpy as np

    from raster_join_spark.fixtures import (
        RECT_INSET_X,
        RECT_INSET_Y,
        X0,
        X1,
        Y0,
        Y1,
        rect_polyset,
    )
    from raster_join_spark.geo.pip import pip_mask

    side = 64
    ps = rect_polyset(side)
    sw, sh = (X1 - X0) / side, (Y1 - Y0) / side
    rng = np.random.RandomState(3)
    # random integer points + points hugging rect edges (off by 0/1)
    px = np.round(rng.uniform(X0, X1, 4000))
    py = np.round(rng.uniform(Y0, Y1, 4000))
    for p in (0, 63, 64 * 32 + 17, 4095):
        v = ps.poly_verts(p)
        for ex in (np.floor(v[0, 0]), np.ceil(v[0, 0]), np.floor(v[2, 0])):
            px = np.r_[px, ex, ex]
            py = np.r_[py, np.floor(v[0, 1]), np.ceil(v[2, 1])]
    sxp = np.floor((px - X0) / sw).astype(np.int64)
    syp = np.floor((py - Y0) / sh).astype(np.int64)
    ok = (sxp >= 0) & (sxp < side) & (syp >= 0) & (syp < side)
    inside_cf = (
        ok
        & (px > X0 + sxp * sw + RECT_INSET_X)
        & (px < X0 + (sxp + 1) * sw - RECT_INSET_X)
        & (py > Y0 + syp * sh + RECT_INSET_Y)
        & (py < Y0 + (syp + 1) * sh - RECT_INSET_Y)
    )
    poly_cf = np.where(inside_cf, sxp + side * syp, -1)
    got = np.full(len(px), -1, dtype=np.int64)
    for p in np.unique(poly_cf[poly_cf >= 0]):
        m = pip_mask(px, py, ps.poly_verts(int(p)))
        assert np.array_equal(m, poly_cf == p)  # exact agreement both ways
        got[m] = p
    # and points the closed form calls outside must be outside their slot's rect
    out_idx = np.flatnonzero(~inside_cf & ok)[:200]
    for i in out_idx:
        p = int(sxp[i] + side * syp[i])
        assert not pip_mask(px[i : i + 1], py[i : i + 1], ps.poly_verts(p))[0]


def test_float32_decision_diff():
    """Documents the float32-vs-float64 PIP decision diff on the fixture
    distribution (100k synthesized points x 16 oracle polygons). float32
    ulp at ~1.2e8 microdegrees is 8 units, so only points within ~8
    microdegrees (~0.9 m) of an edge can flip; the count is asserted
    tiny and stable — the reference's storage precision
    (TaxiRecord.hpp:121-133) changes answers by at most this much.
    Recorded count: 1 flipped (point, polygon) decision in 100k points
    (driver-gated f32 row: spatial_index_f32)."""
    import numpy as np

    from raster_join_spark.fixtures import ORACLE_POLYS
    from raster_join_spark.geo.pip import pip_multi

    ids = np.arange(100_000, dtype=np.int64)
    hot = (ids % 10) < 3
    y = np.where(hot, 40_500_000 + (ids * 12345) % 400_000,
                 24_500_000 + (ids * 48271) % 24_000_000).astype(np.float64)
    x = np.where(hot, -74_200_000 + (ids * 54321) % 400_000,
                 -124_500_000 + (ids * 16807) % 57_000_000).astype(np.float64)
    v, o = ORACLE_POLYS.verts, ORACLE_POLYS.offsets
    p64 = set(zip(*pip_multi(x, y, v, o, dtype=np.float64)))
    p32 = set(zip(*pip_multi(x, y, v, o, dtype=np.float32)))
    diff = len(p64 ^ p32)
    assert diff <= 20, f"f32/f64 decision diff unexpectedly large: {diff}"
    # stability pin: bump deliberately if the fixture changes
    assert diff == 1, f"recorded diff count changed: {diff}"


def test_coord_transfer_modes_identical(spark, points_df, polyset, grid):
    """The packed transfer must be bit-identical to the float64 one — the
    packed int64 (y<<32 | x&0xffffffff) round-trips negative x."""
    sj = SpatialJoin(spark, polyset, grid)
    base = sj.hybrid_join(points_df, AggSpec("sum", "val", "agg")).toPandas()
    got = sj.hybrid_join(
        points_df, AggSpec("sum", "val", "agg"), coord_transfer="packed"
    ).toPandas()
    assert got.sort_values("poly_id", ignore_index=True).equals(
        base.sort_values("poly_id", ignore_index=True)
    )


def test_refinement_auto_and_equivalence(spark):
    """Tiny-polygon regime (round-4 verdict item 1): when polygons span
    < ~2 query cells, every covered query cell is a boundary cell and
    all points pay exact PIP (the reference hits the same wall sweeping
    --polygonDataset). SpatialJoin then classifies on an internal
    k-refined grid. Results are grid-independent by construction, so
    refined and unrefined runs must agree row-for-row; the public
    cell_id stays the CALLER's grid."""
    rng = np.random.RandomState(5)
    n = 3000
    x = np.round(rng.uniform(0, 1000, n))
    y = np.round(rng.uniform(0, 1000, n))
    df = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(n)], "x": x, "y": y})
    )
    tiny = blob_polygons(1024, 0, 0, 1000, 1000, n_verts=7, seed=13)
    coarse = GridSpec(0.0, 0.0, 25.0, 25.0, 40, 40)
    sj = SpatialJoin(spark, tiny, coarse)  # refine="auto" default
    assert sj.tables.boundary_fraction() > sj.REFINE_BFRAC_MIN
    assert sj.refine_k > 1  # the all-boundary regime triggers refinement

    base = SpatialJoin(spark, tiny, coarse, refine=1)
    got_r = sj.hybrid_join(df).orderBy("poly_id").toPandas()
    got_1 = base.hybrid_join(df).orderBy("poly_id").toPandas()
    assert got_r["agg"].tolist() == got_1["agg"].tolist()

    # brute-force ground truth
    pt_idx, poly_ids = pip_multi(x, y, tiny.verts, tiny.offsets)
    cnt = np.zeros(tiny.n_polys, dtype=np.int64)
    for p in poly_ids:
        cnt[p] += 1
    assert got_r["agg"].tolist() == cnt.tolist()

    # per-point pairs: identical sets, and cell_id is the CALLER grid
    pr = sj.assign_polygons(df, cols=("url",)).toPandas()
    p1 = base.assign_polygons(df, cols=("url",)).toPandas()
    key = lambda t: sorted(zip(t["url"], t["cell_id"], t["poly_id"]))
    assert key(pr) == key(p1)
    cells = {u: c for u, c in zip(pr["url"], pr["cell_id"])}
    caller_cells = coarse.cell_ids_np(x, y)
    for i in range(0, n, 97):
        u = f"u{i}"
        if u in cells:
            assert cells[u] == caller_cells[i]

    # the ordinary fixture stays unrefined
    big = blob_polygons(8, 0, 0, 1000, 1000, n_verts=9, seed=31)
    assert SpatialJoin(spark, big, coarse).refine_k == 1


def test_boundary_fraction_cell_weights():
    """classify-side unit check of the weighted estimator: loading all
    the weight onto boundary cells drives the fraction toward 1, onto
    interior cells toward 0; no weights reproduces the pair-count
    ratio."""
    from raster_join_spark.geo.classify import BOUNDARY, classify_cells

    ps = blob_polygons(4, 0, 0, 100, 100, n_verts=8, seed=3)
    g = GridSpec(0.0, 0.0, 5.0, 5.0, 20, 20)
    t = classify_cells(g, ps)
    b_mask = t.cls_kind == BOUNDARY
    b_cells = np.unique(t.cls_cell[b_mask])
    i_cells = np.unique(t.cls_cell[~b_mask])
    i_only = np.setdiff1d(i_cells, b_cells)
    assert len(b_cells) and len(i_only)

    base = t.boundary_fraction()
    assert 0 < base < 1
    hi = t.boundary_fraction(cell_weights=(b_cells, np.full(len(b_cells), 10.0)))
    lo = t.boundary_fraction(cell_weights=(i_only, np.full(len(i_only), 10.0)))
    assert hi == 1.0 and lo == 0.0
    # a histogram that misses every covered cell falls back to pair counts
    miss = t.boundary_fraction(cell_weights=(np.array([10**9]), np.array([5.0])))
    assert miss == base


def test_boundary_fraction_empty_histogram():
    """An EMPTY histogram (zero sampled cells) must take the pair-count
    fallback, not IndexError — `&` is bitwise, so the old guard
    evaluated wc[idx_c] on a size-0 array before the length check."""
    from raster_join_spark.geo.classify import classify_cells

    ps = blob_polygons(4, 0, 0, 100, 100, n_verts=8, seed=3)
    g = GridSpec(0.0, 0.0, 5.0, 5.0, 20, 20)
    t = classify_cells(g, ps)
    base = t.boundary_fraction()
    got = t.boundary_fraction(
        cell_weights=(np.array([], np.int64), np.array([], np.float64))
    )
    assert got == base
