"""The four spatial-join strategies of the reference, as Spark plans.

Reference physical operators -> our logical plans (all share two
driver-built broadcast artifacts: the rasterized polygon-grid tables from
geo/classify.py and the flat CSR polygon arrays):

- **index_join** (J2, RasterJoin/join/IndexJoin.cpp:52-198 + grid probe
  shaders/index.glsl:186-249): point -> cell -> broadcast-join MBR
  candidate lists -> exact ray-cast PIP (Arrow-vectorized pandas UDF)
  -> groupBy(poly_id). Accurate.
- **raster_join** (J1, RasterJoin/join/RasterJoin.cpp:91-260): points
  pre-aggregated per cell (the "point rasterization" pass becomes a
  map-side-combined groupBy(cell)) -> broadcast-join the center-inside
  cover table (the "polygon rasterization" pass, computed once on the
  driver) -> re-aggregate per polygon. Approximate within epsilon.
- **hybrid_join** (J3, RasterJoin/join/HybridJoin.cpp:339-359,
  shaders/hybrid.glsl:224-301): interior-cell points resolve by broadcast
  map-join alone (no PIP); boundary-cell points go through the exact PIP
  path; union. Accurate, faster than index_join when boundaries are thin.
- **error_bounds** (J4, RasterJoin/join/RasterJoinBounds.cpp:202-381,
  shaders/line-bound.frag:219-262): raster result plus per-polygon
  [agg-fp, agg+fn] intervals from boundary-cell accounting — both the
  whole-pixel (fp1/fn1) and the area-fraction-weighted (fp/fn) variants.

Scale design (the part that matters at 100 TB / 1000 executors):
- The polygon side is ALWAYS broadcast (a few MB); the point side never
  shuffles for the join itself — candidate expansion is a map-side
  broadcast hash join.
- groupBy(cell) and groupBy(poly_id) both enjoy partial (map-side)
  aggregation, so hot NYC-style cells collapse to <=1 row per task
  before the exchange: the shuffle volume is O(distinct cells per task),
  NOT O(points). This is the same trick as the reference's per-thread
  partial vectors (CPUJoin.cpp:93-116), which Spark gives us for free.
- The only Python in the plan is the PIP kernel over boundary points,
  Arrow-batched, vectorized over points x edges in numpy.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.geo.classify import (
    BOUNDARY,
    INTERIOR,
    POLY_GRID_CACHE,
    PolyGridTables,
    classify_pairs,
)
from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_candidates
from raster_join_spark.geo.polygons import PolygonSet


def _cell_csr(cells: np.ndarray, polys: np.ndarray, n_cells: int | None = None) -> dict:
    """Sort (cell, poly) pairs by cell into a lookup. ``starts`` is
    sentinel-terminated (len(uniq)+1 entries), so per-group counts are
    ``starts[i+1] - starts[i]`` — no separate counts array. When the
    grid is small enough (< ~32M cells) a DENSE position index
    (``dense_pos[cell] -> group index, -1 empty``; one int32 per cell)
    replaces the searchsorted lookup in the hot kernel and the int64
    ``cells`` array is dropped as redundant. Everything is
    width-minimized (int32 positions/offsets/ids) — pair counts and
    poly ids are far below 2^31 in any broadcastable artifact, and at
    k-refined classification grids (millions of cells) the compact
    layout roughly halves a 200+ MB broadcast vs a naive
    (start, count)-per-cell pair of arrays plus duplicated sparse form.
    """
    order = np.argsort(cells, kind="stable")
    sc = cells[order]
    sp = polys[order]
    uniq, starts = np.unique(sc, return_index=True)
    assert len(sp) < 2**31, "pair table exceeds int32 offset space"
    if len(sp) == 0 or int(sp.max()) < 2**31:
        sp = sp.astype(np.int32, copy=False)
    starts32 = np.append(starts, len(sc)).astype(np.int32)
    out = {
        "cells": uniq,
        "starts": starts32,
        "polys": sp,
        "dense_pos": None,
    }
    if n_cells is not None and 0 < n_cells <= 32_000_000:
        pos = np.full(n_cells, -1, dtype=np.int32)
        pos[uniq] = np.arange(len(uniq), dtype=np.int32)
        out["dense_pos"] = pos
        out["cells"] = None  # redundant under the dense position index
    return out


def _csr_expand(csr: dict, cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For each input row's cell, expand to (row_idx, poly_id) pairs for
    every polygon listed under that cell — fully vectorized, no Python
    loop over rows."""
    starts_arr = csr["starts"]
    if len(starts_arr) <= 1:  # empty table
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if csr.get("dense_pos") is not None:
        dp = csr["dense_pos"]
        valid = (cells >= 0) & (cells < len(dp))
        pos = np.where(valid, dp[np.where(valid, cells, 0)], -1)
        rows0 = np.nonzero(pos >= 0)[0]
        if len(rows0) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        p = pos[rows0].astype(np.int64)
    else:
        uniq = csr["cells"]
        idx = np.searchsorted(uniq, cells)
        idx_c = np.clip(idx, 0, len(uniq) - 1)
        hit = (uniq[idx_c] == cells) & (cells >= 0)
        rows0 = np.nonzero(hit)[0]
        if len(rows0) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        p = idx_c[rows0].astype(np.int64)
    s = starts_arr[p].astype(np.int64)
    counts = (starts_arr[p + 1] - starts_arr[p]).astype(np.int64)
    tot = int(counts.sum())
    if tot == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    rows = np.repeat(rows0, counts)
    # within-group offsets: arange(tot) - repeat(exclusive_cumsum, counts)
    excl = np.cumsum(counts) - counts
    offs = np.arange(tot, dtype=np.int64) - np.repeat(excl, counts) + np.repeat(s, counts)
    return rows, csr["polys"][offs]


@dataclass(frozen=True)
class AggSpec:
    """Aggregation parity with the reference (Common.h:26 {Count, Avg, Sum},
    DataHandler.cpp:68-71). ``col=None`` -> COUNT(*); sum and avg need a
    column. Validated at construction: every plan below branches on
    ``op`` with avg as the fall-through, so an unknown op or a missing
    column would otherwise run as a silently wrong aggregate."""

    op: str = "count"  # count | sum | avg
    col: str | None = None
    alias: str = "agg"

    def __post_init__(self) -> None:
        if self.op not in ("count", "sum", "avg"):
            raise ValueError(f"AggSpec op must be count, sum or avg, got {self.op!r}")
        if self.op != "count" and self.col is None:
            raise ValueError(f"AggSpec({self.op!r}) needs a value column")

    def partials(self) -> list[Column]:
        """Map-side partial expressions: ``_cnt`` and ``_sum`` (NULL
        without a value column), the input of :meth:`exprs`."""
        s = F.sum(F.col(self.col)) if self.col else F.lit(None).cast("double")
        return [F.count(F.lit(1)).alias("_cnt"), s.alias("_sum")]

    def exprs(self) -> list[Column]:
        """Final-stage expressions over the partials."""
        if self.op == "count":
            return [F.sum("_cnt").alias(self.alias)]
        if self.op == "sum":
            return [F.sum("_sum").alias(self.alias)]
        return [(F.sum("_sum") / F.sum("_cnt")).alias(self.alias)]


class SpatialJoin:
    """One polygon collection + one grid, four join strategies.

    Builds the broadcast artifacts once (driver-side numpy rasterization,
    memoized in POLY_GRID_CACHE), then exposes the strategies as
    DataFrame -> DataFrame operators.
    """

    # --- internal classification-grid refinement (tiny-polygon regime) --
    # When polygons shrink below ~2 query cells, EVERY covered cell of
    # the query grid is a boundary cell and all points pay the exact PIP
    # kernel (the reference's own --polygonDataset sweep hits this wall,
    # experiments/results-paper/scalability/taxi-ooc-polygons.txt; our
    # measured cliff: 65,536 polys -> hybrid 6.5x slower than raster,
    # BENCH/poly_scaling.md). The EXACT paths don't depend on the grid
    # semantically — any grid whose interior cells are strictly inside
    # the polygon yields identical results — so hybrid classification
    # may run on an internal k-refined grid that restores the interior
    # fast-path share. Raster/error-bounds keep the caller's grid: their
    # epsilon semantics are defined on it.
    REFINE_BFRAC_MIN = 0.4  # refine only when the base grid is boundary-bound
    REFINE_TARGET_SPAN = 8.0  # aim: median polygon spans ~8 refined cells/axis
    REFINE_MAX_K = 8
    REFINE_COVER_BUDGET = 12_000_000  # driver classify cost cap (MBR-cover pairs)

    def __init__(
        self,
        spark: SparkSession,
        polyset: PolygonSet,
        grid: GridSpec,
        x: str = "x",
        y: str = "y",
        dtype=np.float64,
        refine: int | str = "auto",
        ring_semantics: str = "reference",
    ) -> None:
        """``dtype=np.float32`` reproduces the reference's storage
        precision end-to-end (TaxiRecord.hpp:121-133 narrows coordinates
        to float32): PIP and cell classification then make the identical
        edge-case decisions as the reference binaries. Default float64
        matches the SQL oracle bit-for-bit.

        ``refine``: the internal classification-grid refinement factor
        for the EXACT (hybrid/assign) paths — ``"auto"`` (default) picks
        a power-of-two factor when the polygon collection is tiny
        relative to the query grid (see the class constants), ``1``
        disables, an int forces a factor. Results are identical at any
        factor; only the physical interior/boundary split changes.
        float32 parity mode never refines (classification decisions
        must mirror the reference's exactly).

        ``ring_semantics``: how multi-ring (hole-bearing) polygons are
        interpreted, across ALL strategies (classification, PIP, cover):
        ``"reference"`` (default) is the reference's bug-for-bug rule —
        rings flatten into one vertex run (PolyHandler.cpp:49-80
        pindexes) and the crossing parity walks that cycle, phantom
        inter-ring edges included, so hole interiors count OUTSIDE but
        thin slivers along the phantom edges misclassify vs ideal
        donuts; ``"evenodd"`` is standard OGC even-odd with rings
        honored (PolygonSet.evenodd_view — per-ring parity XOR, no
        phantom-edge slivers). Single-ring collections are identical
        under both."""
        if ring_semantics not in ("reference", "evenodd"):
            raise ValueError(
                f"ring_semantics must be 'reference' or 'evenodd', "
                f"got {ring_semantics!r}"
            )
        if ring_semantics == "evenodd":
            polyset = polyset.evenodd_view()
        self.spark = spark
        self.polyset = polyset
        self.grid = grid
        self.x = x
        self.y = y
        self.dtype = dtype
        self.tables: PolyGridTables = POLY_GRID_CACHE.get(grid, polyset, dtype=dtype)
        if np.dtype(dtype) != np.float64:
            self.refine_k = 1
        elif refine == "auto":
            self.refine_k = self._auto_refine_k()
        else:
            self.refine_k = max(int(refine), 1)
        self.cls_grid = grid.refined(self.refine_k)
        # flat CSR polygon arrays broadcast to every executor once —
        # the analogue of the reference's GPU polygon textures
        # (GLFunction.cpp:158-197); a few MB even at 65k polygons.
        self._bc_polys = spark.sparkContext.broadcast(
            (polyset.verts, polyset.offsets)
        )

    def _auto_refine_k(self) -> int:
        """Pick the refinement factor from driver-side geometry only (no
        data scan): refine iff the base classification is boundary-bound,
        sizing k so the median polygon spans ~REFINE_TARGET_SPAN refined
        cells per axis, halved until the MBR-cover pair count (the
        classify + broadcast cost driver) fits the budget."""
        if self.tables.boundary_fraction() < self.REFINE_BFRAC_MIN:
            return 1
        mbrs = self.polyset.mbrs
        if len(mbrs) == 0:
            return 1
        wx = np.maximum((mbrs[:, 2] - mbrs[:, 0]) / self.grid.cell_w, 1e-9)
        wy = np.maximum((mbrs[:, 3] - mbrs[:, 1]) / self.grid.cell_h, 1e-9)
        span = float(np.median(0.5 * (wx + wy)))
        if span <= 0:
            return 1
        k = int(
            2
            ** np.clip(
                np.round(np.log2(self.REFINE_TARGET_SPAN / span)),
                0,
                int(np.log2(self.REFINE_MAX_K)),
            )
        )
        while k > 1:
            cover = float(((np.floor(wx * k) + 2) * (np.floor(wy * k) + 2)).sum())
            if cover <= self.REFINE_COVER_BUDGET:
                break
            k //= 2
        return k

    @property
    def cls_tables(self) -> PolyGridTables:
        """Interior/boundary tables on the internal classification grid
        (== the query-grid tables when refine_k == 1). Refined tables
        skip the area-fraction stage — only error_bounds needs fractions
        and it always runs on the query grid."""
        if self.refine_k == 1:
            return self.tables
        return POLY_GRID_CACHE.get(
            self.cls_grid, self.polyset, dtype=self.dtype, with_frac=False
        )

    def _ck(self, name: str) -> str:
        """Cache key for classification-grid-dependent artifacts —
        suffixed with the refine level AND dtype (an f32 parity
        instance classifies with different arithmetic, so its pair
        tables must never serve an f64 twin on the same grid)."""
        return f"{name}@r{self.refine_k}{np.dtype(self.dtype).char}"

    # ------------------------------------------------------------ helpers

    # session-level cache of the small dimension DataFrames: building a
    # 1M+-row DataFrame from pandas costs ~1s of driver time, and the
    # artifact is immutable per (polyset, grid) — build once, reuse across
    # queries (the reference rebuilds per query; see classify.py notes)
    _PAIRS_CACHE: dict[tuple, DataFrame] = {}

    # session-level cache of the Arrow-kernel broadcast artifact: at 65k
    # polygons with a k=4 refined grid the CSR artifact is ~108 MB and
    # sc.broadcast() pays ~2.7s of driver pickling PER CALL — but the
    # artifact is immutable per (collection content, grid, dtype,
    # refine), so one broadcast serves every query, like the reference's
    # persistent GPU polygon textures (GLFunction.cpp:158-197). Eviction
    # is LRU (hits reinsert at the back; the front entry is the coldest)
    # and evicted broadcasts are unpersist(blocking=False)'d — executors
    # drop the blocks, but an in-flight lazy plan that still holds the
    # handle simply re-fetches from the driver (only destroy() would
    # break it), so the hottest artifacts are never force-rebroadcast.
    _BC_CACHE: dict[tuple, object] = {}
    _BC_CACHE_MAX = 16

    def _bc_cached(self, tag: tuple, build):
        """Broadcast ``build()`` once per (session, collection content,
        grid, dtype, refine_k, ``tag``) through the LRU above."""
        key = (
            id(self.spark),
            self.polyset.cache_token,
            self.grid,
            np.dtype(self.dtype).char,
            self.refine_k,
        ) + tag
        bc = self._BC_CACHE.pop(key, None)
        if bc is None:
            bc = self.spark.sparkContext.broadcast(build())
            while len(self._BC_CACHE) >= self._BC_CACHE_MAX:
                old = self._BC_CACHE.pop(next(iter(self._BC_CACHE)))
                try:
                    old.unpersist(blocking=False)
                except Exception:
                    pass  # session already stopped
        self._BC_CACHE[key] = bc  # (re)insert: most-recently-used
        return bc

    def _bc_art(self):
        """The per-executor membership artifact (interior CSR, boundary
        CSR, flat polygon vertices) shared by every Arrow-kernel plan
        (fused partials, per-point pairs, single-level split boundary
        stage)."""
        return self._bc_cached((), self._bc_art_dict)

    def _bc_art_dict(self) -> dict:
        """The artifact value behind :meth:`_bc_art` — exposed so size
        measurement (bench.py's polygon sweep) weighs the EXACT dict the
        kernel ships, not a hand-rebuilt copy that could drift."""
        t = self.cls_tables
        int_c, int_p = t.interior_pairs()
        b_c, b_p, _, _ = t.boundary_pairs()
        return {
            "interior": _cell_csr(int_c, int_p, self.cls_grid.n_cells),
            "boundary": _cell_csr(b_c, b_p, self.cls_grid.n_cells),
            "verts": self.polyset.verts,
            "offsets": self.polyset.offsets,
        }

    def _pairs_df(
        self,
        cell: np.ndarray,
        poly: np.ndarray,
        cache_key: str,
        extra: dict | None = None,
    ) -> DataFrame:
        key = (id(self.spark), self.polyset.cache_token, self.grid, cache_key)
        hit = self._PAIRS_CACHE.pop(key, None)
        if hit is not None:
            self._PAIRS_CACHE[key] = hit  # reinsert: most-recently-used
            return hit
        data = {"cell_id": cell.astype(np.int64), "poly_id": poly.astype(np.int64)}
        for k, (arr, _) in (extra or {}).items():
            data[k] = arr
        schema = T.StructType(
            [
                T.StructField("cell_id", T.LongType(), False),
                T.StructField("poly_id", T.LongType(), False),
            ]
            + [
                T.StructField(k, dt, False)
                for k, (_, dt) in (extra or {}).items()
            ]
        )
        df = self.spark.createDataFrame(pd.DataFrame(data), schema=schema)
        # (r8) coalesce + persist the broadcast-side map: every query
        # execution otherwise re-parses the python-serialized literal
        # partitions AND collects them through defaultParallelism tiny
        # tasks per broadcast build (measured: the split plan's three
        # chained probe maps + two boundary cell sets cost ~0.9s/query
        # of pure rebuild at any scale; 1-partition persisted maps cut
        # spatial_split_count 2.3s -> 1.3s at sf1.0). Maps derive from
        # the polygon fixture only (never from the scanned table), so
        # this is broadcast-side constant data like the _BC_CACHE CSR
        # artifact, LRU-bounded the same way. ~4M rows per partition
        # keeps a budget-sized map's one-time build parallel enough.
        # The LRU owns the unpersist.
        df = df.coalesce(max(1, len(cell) // 4_000_000 + 1)).persist()
        while len(self._PAIRS_CACHE) >= 64:  # LRU: evict coldest only
            old = self._PAIRS_CACHE.pop(next(iter(self._PAIRS_CACHE)))
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass
        self._PAIRS_CACHE[key] = df
        return df

    _CELLS_CACHE: dict[tuple, DataFrame] = {}

    def _cells_df(self, cells: np.ndarray, cache_key: str) -> DataFrame:
        """Small broadcastable table of distinct cell ids (session-cached)."""
        key = (id(self.spark), self.polyset.cache_token, self.grid, cache_key)
        hit = self._CELLS_CACHE.get(key)
        if hit is not None:
            return hit
        df = (
            self.spark.createDataFrame(
                pd.DataFrame({"cell_id": np.unique(cells).astype(np.int64)}),
                schema=T.StructType(
                    [T.StructField("cell_id", T.LongType(), False)]
                ),
            )
            # same rationale as _pairs_df (r8): one-partition persisted
            # literal — broadcast builds collect one task from cache
            # instead of re-parsing python-serialized partitions
            .coalesce(1)
            .persist()
        )
        if len(self._CELLS_CACHE) > 64:
            for old in self._CELLS_CACHE.values():
                try:
                    old.unpersist(blocking=False)
                except Exception:
                    pass
            self._CELLS_CACHE.clear()
        self._CELLS_CACHE[key] = df
        return df

    def with_cell(self, points: DataFrame) -> DataFrame:
        """Tile assignment: attach the row-major cell id (native exprs,
        index.glsl:229-233); out-of-grid points get NULL and are dropped
        by the inner joins below, mirroring the reference's discard."""
        return points.withColumn(
            "cell_id", self.grid.cell_id_col(F.col(self.x), F.col(self.y))
        )

    def _pip_filter(self, df: DataFrame) -> DataFrame:
        """Exact ray-cast refinement: keep (point, candidate poly) rows
        whose point is inside the polygon. Arrow-batched pandas UDF over
        float64 (same IEEE op order as the SQL oracle); the kernel
        vectorizes over points x edges (index.glsl:47-67 rule)."""
        bc = self._bc_polys
        dtype = self.dtype

        @F.pandas_udf(T.BooleanType())
        def _pip(x: pd.Series, y: pd.Series, poly: pd.Series) -> pd.Series:
            verts, offsets = bc.value
            mask = pip_candidates(
                x.to_numpy(np.float64),
                y.to_numpy(np.float64),
                poly.to_numpy(np.int64),
                verts,
                offsets,
                dtype=dtype,
            )
            return pd.Series(mask)

        return df.filter(_pip(F.col(self.x), F.col(self.y), F.col("poly_id")))

    def _cell_partials(self, points: DataFrame, agg: AggSpec) -> DataFrame:
        """Point 'rasterization': per-cell partial aggregates
        (RasterJoin.cpp:215-221's additive-blend canvas as a hash agg
        with map-side combine)."""
        pts = self.with_cell(points).filter(F.col("cell_id").isNotNull())
        return pts.groupBy("cell_id").agg(*agg.partials())

    def _densify(self, out: DataFrame, agg: AggSpec, include_zero: bool) -> DataFrame:
        """Densify a per-polygon aggregate to all polygons (the reference
        emits every polygon position 0..N-1, RasterJoin/main.cpp:202-224):
        absent polygons count 0, their sum/avg is NULL."""
        if not include_zero:
            return out
        all_polys = self.spark.range(self.polyset.n_polys).withColumnRenamed(
            "id", "poly_id"
        )
        fill = F.lit(0) if agg.op == "count" else F.lit(None)
        return all_polys.join(F.broadcast(out), "poly_id", "left").select(
            "poly_id", F.coalesce(F.col(agg.alias), fill).alias(agg.alias)
        )

    # --------------------------------------------------------- strategies

    def index_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
    ) -> DataFrame:
        """J2 accurate: MBR candidate lists -> PIP everywhere."""
        cand = self._pairs_df(self.tables.cand_cell, self.tables.cand_poly, cache_key="cand")
        pts = self.with_cell(points)
        joined = pts.join(F.broadcast(cand), "cell_id", "inner")
        exact = self._pip_filter(joined)
        if agg.op == "count":
            e = F.count(F.lit(1))
        elif agg.op == "sum":
            e = F.sum(agg.col)
        else:
            e = F.avg(agg.col)
        return self._densify(
            exact.groupBy("poly_id").agg(e.alias(agg.alias)), agg, include_zero
        )

    def assign_polygons(
        self, points: DataFrame, cols: Iterable[str] = ("url",)
    ) -> DataFrame:
        """Per-point polygon assignment (the north_star's per-point tile
        assignment output): exact hybrid-path resolution, one row per
        (point, containing polygon), emitted from one Arrow pass (no JVM
        pair materialization + re-filter)."""
        return self._fused_pairs(points, list(cols))

    def _fused_pairs(self, points: DataFrame, cols: list[str]) -> DataFrame:
        """One mapInArrow pass: per batch, interior memberships via CSR
        lookup, boundary memberships via exact PIP, emit (cols..., cell_id,
        poly_id) pairs directly. Carried columns are gathered with
        pyarrow.compute.take, so strings and other payload never
        materialize as Python objects. Membership resolves on the
        internal classification grid (refine_k); the emitted cell_id is
        always the CALLER's grid cell (the public tile assignment)."""
        bc = self._bc_art()
        grid = self.grid
        cls_grid = self.cls_grid
        refined = self.refine_k > 1
        dtype = self.dtype
        x_name, y_name = self.x, self.y
        in_schema = points.select(*cols, x_name, y_name).schema
        schema = T.StructType(
            [f for f in in_schema if f.name in cols]
            + [
                T.StructField("cell_id", T.LongType(), False),
                T.StructField("poly_id", T.LongType(), False),
            ]
        )

        def fn(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            art = bc.value
            verts, offsets = art["verts"], art["offsets"]
            for batch in batches:
                names = batch.schema.names
                x = np.asarray(
                    batch.column(names.index(x_name)).to_numpy(zero_copy_only=False),
                    np.float64,
                )
                y = np.asarray(
                    batch.column(names.index(y_name)).to_numpy(zero_copy_only=False),
                    np.float64,
                )
                cells = cls_grid.cell_ids_np(x, y)
                ri, pi = _csr_expand(art["interior"], cells)
                rb, pb = _csr_expand(art["boundary"], cells)
                if len(rb):
                    m = pip_candidates(x[rb], y[rb], pb, verts, offsets, dtype=dtype)
                    rb, pb = rb[m], pb[m]
                rows = np.concatenate([ri, rb])
                polys = np.concatenate([pi, pb]).astype(np.int64)
                # emitted cell_id is the caller-grid tile (public output)
                out_cells = grid.cell_ids_np(x, y) if refined else cells
                idx = pa.array(rows)
                arrays = [
                    pc.take(batch.column(names.index(c)), idx) for c in cols
                ]
                arrays += [pa.array(out_cells[rows]), pa.array(polys)]
                out_schema = pa.schema(
                    [batch.schema.field(names.index(c)) for c in cols]
                    + [
                        pa.field("cell_id", pa.int64(), nullable=False),
                        pa.field("poly_id", pa.int64(), nullable=False),
                    ]
                )
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

        target = max(self.spark.sparkContext.defaultParallelism, 1)
        src = points.select(*cols, x_name, y_name)
        if src.rdd.getNumPartitions() > 2 * target:
            src = src.coalesce(2 * target)
        return src.mapInArrow(fn, schema)

    def hybrid_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
        fused: bool | str = True,
        coord_transfer: str | None = None,
        stats: dict | None = None,
    ) -> DataFrame:
        """J3 accurate: interior fast path + boundary exact refinement.
        Result is identical to index_join; only the physical plan differs
        (PIP runs on boundary-cell points only). Two physical plans:

        - ``fused=True`` (the signature default; the flagship and the
          ``spatial_hybrid_*`` gate queries, QueryEngine and the bench's
          fused rows run it): the one-pass mapInArrow partial-vector
          kernel (:meth:`_fused_agg`). Every point crosses the Arrow
          boundary once; interior cells resolve by CSR lookup, boundary
          cells by the exact PIP kernel.
        - ``fused="split"`` (the ``spatial_split_*`` gate queries) and
          ``fused="auto"`` (bench.py's split row): the HIERARCHICAL
          split (:meth:`_split_agg`). Interior membership resolves
          through chained per-level broadcast hashmap probes entirely
          JVM-side, and only the ~2% of points the boundary-only
          quadtree leaves unresolved cross the Arrow boundary; it scans
          the input TWICE (interior chain and boundary semi-join are
          separate consumers). It beat the fused kernel only at the
          1.6B-row stratum on 32 cores (best-of-3 17.2s vs 20.8s,
          BENCH/split_ab.jsonl); at sf0.1 on 4 cores the fused kernel
          is ~7x faster.

        Any other ``fused`` value raises ValueError.

        Hierarchical-split exactness additionally assumes INTEGRAL point
        coordinates (the engine's canonical integer-microdegree space,
        exact in float64): the multi-level floor-nesting argument in
        ``_hier_ok`` bounds rounding against cell edges at binary
        fractions, which a non-integral coordinate within ~1 ulp of a
        refined cell edge could violate (ADVICE r7). Callers feeding
        non-integral coords should pass ``fused=True`` (the fused kernel
        and single-level split carry no such data precondition).

        ``coord_transfer`` (None | "packed") sets how coordinates cross
        the Arrow boundary. None ships the columns' own type; "packed"
        ships both int32-exact coordinates in one int64 column — half
        the bytes of float64 and half the per-row field count, the two
        measured feed costs (BENCH/hybrid_rootcause.md). The kernel
        widens back to float64, so results are bit-identical, provided
        the coordinates ARE int32-exact integers. Nothing checks that:
        non-integral coordinates are truncated and the answer is wrong.

        ``stats`` (optional dict) records the decision:
        {"plan": "fused"|"split", "refine_k": int}."""
        if fused is not True and fused not in ("split", "auto"):
            raise ValueError(f"fused must be True, 'split' or 'auto', got {fused!r}")
        if coord_transfer not in (None, "packed"):
            raise ValueError(
                f"coord_transfer must be None or 'packed', got {coord_transfer!r}"
            )
        if stats is not None:
            stats["plan"] = "fused" if fused is True else "split"
            stats["refine_k"] = self.refine_k
        if fused is True:
            return self._fused_agg(points, agg, include_zero, coord_transfer)
        return self._split_agg(points, agg, include_zero, coord_transfer)

    # --------------------------- hierarchical boundary-only refinement
    #
    # The split plan's Arrow share is the point mass in BOUNDARY cells of
    # the classification grid (34.5% of points on the bench fixture).
    # Uniform k-refinement shrinks it but grows the interior probe map
    # k^2-fold (a full k=64 cover of the fixture grid would be ~90M
    # cells). The hierarchy refines ONLY the previous level's boundary
    # (cell, poly) pairs — a quadtree-style adaptive split: map sizes
    # grow with the polygon PERIMETER (O(P*k)) instead of the area
    # (O(A*k^2)), so two x8 levels reach k=64-equivalent boundary
    # thinness (1.97% of points on the bench fixture) with interior
    # maps of 38k/317k pairs (fixture levels 228x96 -> 1824x768 ->
    # 14592x6144).

    HIER_FACTORS: tuple[int, ...] = (8, 8)
    HIER_PAIR_BUDGET = 16_000_000  # stop refining past this pair count

    def _hier_ok(self) -> bool:
        """Exactness precondition for the hierarchical descent: the
        chained left joins rely on cell NESTING — floor((v-o)/(w/f))
        // f == floor((v-o)/w) for every data value v. With integral
        microdegree coordinates (the engine's canonical space, exact in
        f64) and cell sizes that stay exact multiples of 2^-16 at every
        level, both floors are exact: cell edges sit at multiples of
        p/2^16, whose distance from any non-coincident integer v is
        >= 2^-16 ~= 1.5e-5, while the single correctly-rounded IEEE
        divide perturbs the quotient by <= 0.5 ulp (~6e-12 at the
        deepest grid's quotient magnitudes) — five orders of magnitude
        of margin, so a floor can never flip across a level. Grids
        whose refined cells leave that binary-fraction family (or f32
        parity mode, whose decisions are pinned single-level) fall back
        to the single-level split — still exact, just a fatter Arrow
        share."""
        if np.dtype(self.dtype) != np.float64:
            return False  # f32 parity mode pins single-level decisions
        if not (float(self.grid.x0).is_integer() and float(self.grid.y0).is_integer()):
            return False
        w, h = self.cls_grid.cell_w, self.cls_grid.cell_h
        for f in self.HIER_FACTORS:
            w, h = w / f, h / f
            if not (float(w * 65536).is_integer() and float(h * 65536).is_integer()):
                return False
        return True

    _HIER_CACHE: dict[tuple, list] = {}

    def _hier_levels(self) -> list[tuple[GridSpec, np.ndarray, np.ndarray, np.ndarray, np.ndarray]]:
        """Per level: (grid, interior_cells, interior_polys,
        boundary_cells, boundary_polys). Level 0 is the instance's
        classification tables; level i+1 classifies the f x f children
        of level i's boundary pairs only (geo/classify.classify_pairs).
        Driver-side numpy, memoized per (collection, grid, factors)."""
        key = (
            self.polyset.cache_token,
            self.grid,
            self.refine_k,
            self.HIER_FACTORS,
        )
        hit = self._HIER_CACHE.get(key)
        if hit is not None:
            return hit
        t = self.cls_tables
        int_c, int_p = t.interior_pairs()
        b_c, b_p, _, _ = t.boundary_pairs()
        levels = [(self.cls_grid, int_c, int_p, b_c, b_p)]
        g = self.cls_grid
        for f in self.HIER_FACTORS:
            if len(b_c) == 0 or len(b_c) * f * f > self.HIER_PAIR_BUDGET:
                break
            gc = g.refined(f)
            pgx = b_c % g.nx
            pgy = b_c // g.nx
            dx = np.tile(np.arange(f, dtype=np.int64), f)
            dy = np.repeat(np.arange(f, dtype=np.int64), f)
            cgx = (pgx[:, None] * f + dx[None, :]).ravel()
            cgy = (pgy[:, None] * f + dy[None, :]).ravel()
            cpoly = np.repeat(b_p, f * f)
            kind = classify_pairs(gc, self.polyset, cpoly, cgx, cgy)
            cells = cgx + gc.nx * cgy
            mi = kind == INTERIOR
            mb = kind == BOUNDARY
            levels.append((gc, cells[mi], cpoly[mi], cells[mb], cpoly[mb]))
            g, b_c, b_p = gc, cells[mb], cpoly[mb]
        if len(self._HIER_CACHE) > 16:
            self._HIER_CACHE.clear()
        self._HIER_CACHE[key] = levels
        return levels

    def _hier_join_maps(self) -> list[tuple[GridSpec, DataFrame]]:
        """The interior chain's probe maps, one BROADCAST join per map,
        ONE map per level — smallest map first.

        Per-row probe cost is dominated by the probe map's cache
        residency, not the join count: the level-0 map is tiny (5.3k
        entries on the bench fixture — L1/L2-cache resident) and
        resolves the ~65% of rows in level-0 interior cells outright,
        so only descending rows ever touch the bigger deep maps. An
        alternative that MERGED level 0's interior pairs (expanded x64)
        into level 1's map to save one join was measured ~1.7x slower
        at the 1.6B stratum (11.5s vs 6.9s interior chain,
        BENCH/split_ab.jsonl variant rows): every row paid a 298k-entry
        probe where most needed only the tiny one. Map rows are
        (cell_id, poly_id) with poly_id = -1 MARKER rows ('descend to
        the next level') for the level's distinct boundary cells; the
        deepest map carries no markers — unresolved rows are the
        boundary sink's job (_split_agg routes them by the staged
        boundary semi-joins). Single-level instances get one
        marker-free interior map on the classification grid."""
        levels = self._hier_levels() if self._hier_ok() else None
        if levels is None or len(levels) == 1:
            t = self.cls_tables
            ic, ip = t.interior_pairs()
            return [
                (
                    self.cls_grid,
                    self._pairs_df(ic, ip, cache_key=self._ck("hierm0-flat")),
                )
            ]
        out: list[tuple[GridSpec, DataFrame]] = []
        for j, (g, ic, ip, bc, _) in enumerate(levels):
            cells = [ic]
            polys = [ip]
            if j < len(levels) - 1:
                mark = np.unique(bc)
                cells.append(mark)
                polys.append(np.full(len(mark), -1, np.int64))
            out.append(
                (
                    g,
                    self._pairs_df(
                        np.concatenate(cells),
                        np.concatenate(polys),
                        cache_key=self._ck(f"hierm{j}v2|{self.HIER_FACTORS}"),
                    ),
                )
            )
        return out

    def _bc_art_hier(self, levels):
        """Broadcast kernel artifact for the hierarchical split's Arrow
        stage: the DEEPEST level's boundary-pair CSR (sparse-keyed; deep
        grids exceed the dense-index bound) — exactly the pairs the JVM
        chain could not resolve, so kernel PIP neither double-counts a
        JVM-resolved (point, poly) nor misses an unresolved one."""
        deep_grid, _, _, b_c, b_p = levels[-1]
        return self._bc_cached(
            ("hier", self.HIER_FACTORS),
            lambda: {
                "interior": None,
                "boundary": _cell_csr(b_c, b_p, deep_grid.n_cells),
                "verts": self.polyset.verts,
                "offsets": self.polyset.offsets,
            },
        )

    def _split_agg(
        self,
        points: DataFrame,
        agg: AggSpec,
        include_zero: bool,
        coord_transfer: str | None = None,
    ) -> DataFrame:
        """Split plan — minimum Arrow traffic for exact results.

        Interior-cell contributions never touch Python: each point
        probes a chain of broadcast (cell, poly) hashmaps — level 0 the
        classification grid, each further level the boundary-only x8
        refinement of the previous one (see HIER_FACTORS notes above) —
        and feeds a P-key map-side-combined groupBy. EXACT semantics,
        because an interior cell's points all belong to the polygon by
        construction. Only points still unresolved after the deepest
        level (in cells the quadtree could not classify either way,
        ~2% of points on the bench fixture vs 67% single-level) cross
        the Arrow boundary for the PIP kernel, against exactly the
        unresolved (cell, poly) pairs. The python stage — the
        per-row-priciest link (BENCH/hybrid_rootcause.md) — shrinks by
        that factor, and the whole plan scales like the pure-JVM
        raster join.

        r7 rework (recorded A/B: BENCH/split_ab.jsonl): r3-r6
        pre-aggregated per CELL (groupBy(cell_id) partials, the raster
        plan's shape) before the interior join. Fine on the base grid
        (22k cells), but on a k-refined classification grid the
        per-task hash agg keys on MILLIONS of cells and dominated the
        stage — the reason the r3-r6 auto rule kept the fused kernel
        on uncached input. Direct per-row probes into small broadcast
        hashmaps + a P-key agg are cardinality-independent: whole-stage
        codegen, no shuffle wider than P rows per task.
        """
        hier = self._hier_ok()
        levels = self._hier_levels() if hier else None

        # chained LEFT joins (_hier_join_maps): key_i is the level-i
        # cell id WHEN the row is still descending (marker match at
        # level i-1), else NULL (null keys never match — a resolved row
        # passes the remaining joins untouched, so each (point, poly)
        # contribution appears exactly once)
        chained = points
        poly_cols: list[Column] = []
        descending: Column | None = None
        for i, (g, mdf) in enumerate(self._hier_join_maps()):
            m = mdf.select(
                F.col("cell_id").alias(f"_hc{i}"), F.col("poly_id").alias(f"_hp{i}")
            )
            cell = g.cell_id_col(F.col(self.x), F.col(self.y))
            key = cell if descending is None else F.when(descending, cell)
            chained = chained.join(F.broadcast(m), key == F.col(f"_hc{i}"), "left")
            poly_cols.append(F.when(F.col(f"_hp{i}") >= 0, F.col(f"_hp{i}")))
            descending = F.col(f"_hp{i}") == -1

        jvm_part = (
            chained.withColumn("poly_id", F.coalesce(*poly_cols))
            .filter(F.col("poly_id").isNotNull())
            .groupBy("poly_id")
            .agg(*agg.partials())
        )
        # Boundary sink: membership probes on the boundary-cell sets —
        # no marker chain needed, because nesting makes descent
        # implicit: a deep cell is in the deep set iff its whole
        # ancestry stayed boundary, so membership alone selects exactly
        # the rows the chain would have routed down. The probe is
        # STAGED (penultimate level's boundary set first, then the
        # deepest): the mid set is an order of magnitude smaller —
        # cache-resident — and its semi-join discards ~88% of rows
        # before they ever touch the big deep set, which cut the
        # boundary leg 8.3s -> 6.8s at the 1.6B stratum
        # (BENCH/split_ab.jsonl variant rows). Subset precondition
        # (deep boundary cells lie under mid boundary cells) holds by
        # construction — each level refines only the previous level's
        # boundary pairs — and is pinned by a unit test.
        # (A one-scan variant that rode the boundary rows through the
        # interior aggregation as bucketed collect_list payloads was
        # measured SLOWER at the 1.6B stratum: ObjectHashAggregate
        # breaks whole-stage codegen, charging interpreted per-row cost
        # on the FULL input, not just the 2% boundary. At rest the
        # second scan is one extra column-pruned parquet pass (x, y
        # only); measured on this host a full 1.6B-row scan costs ~1s
        # of the plan's ~13s, so scan count is NOT the split plan's
        # cost driver — probe work is. A cell-RANGE-clustered layout
        # could additionally file-skip non-boundary tiles on this scan;
        # TileStore's hash cell_buckets deliberately trade that for
        # write balance, so no such pruning is claimed here.)
        bpts = points
        if hier and len(levels) > 1:
            deep_grid, deep_bcells = levels[-1][0], levels[-1][3]
            art_bc, grid_override = self._bc_art_hier(levels), levels[-1][0]
            mid_grid, mid_bcells = levels[-2][0], levels[-2][3]
            mcells = self._cells_df(
                mid_bcells, cache_key=self._ck(f"hiermidb|{self.HIER_FACTORS}")
            )
            bpts = bpts.join(
                F.broadcast(mcells.select(F.col("cell_id").alias("_midbc"))),
                mid_grid.cell_id_col(F.col(self.x), F.col(self.y))
                == F.col("_midbc"),
                "left_semi",
            )
        else:
            deep_grid = self.cls_grid
            deep_bcells = self.cls_tables.boundary_pairs()[0]
            art_bc = grid_override = None
        bcells = self._cells_df(
            deep_bcells, cache_key=self._ck(f"hierbcells|{self.HIER_FACTORS}")
        )
        bpts = (
            bpts.withColumn(
                "cell_id", deep_grid.cell_id_col(F.col(self.x), F.col(self.y))
            )
            .filter(F.col("cell_id").isNotNull())
            .join(F.broadcast(bcells), "cell_id", "left_semi")
        )
        py_part = self._arrow_partials(
            bpts,
            agg,
            use_interior=False,
            coord_transfer=coord_transfer,
            art_bc=art_bc,
            grid_override=grid_override,
        )
        partials = jvm_part.unionByName(py_part)
        out = partials.groupBy("poly_id").agg(*agg.exprs())
        return self._densify(out, agg, include_zero)

    def _fused_agg(
        self,
        points: DataFrame,
        agg: AggSpec,
        include_zero: bool,
        coord_transfer: str | None = None,
    ) -> DataFrame:
        """One-pass exact aggregation — the plan we'd run at 100 TB.

        mapInArrow over (x, y[, val]): per Arrow batch, resolve interior
        membership by CSR lookup of the cell, boundary membership by the
        exact PIP kernel, and emit a PARTIAL per-polygon vector (<=P rows
        per batch). The exchange then carries #batches x P rows instead of
        O(points) pair rows — the reference's per-thread partial vectors
        (CPUJoin/CPUJoin.cpp:93-116) in Spark clothes. No JVM-side pair
        materialization. ``coord_transfer``: see :meth:`hybrid_join`.
        """
        partials = self._arrow_partials(
            points, agg, use_interior=True, coord_transfer=coord_transfer
        )
        out = partials.groupBy("poly_id").agg(*agg.exprs())
        return self._densify(out, agg, include_zero)

    def _arrow_partials(
        self,
        points: DataFrame,
        agg: AggSpec,
        use_interior: bool,
        coord_transfer: str | None = None,
        art_bc=None,
        grid_override: GridSpec | None = None,
    ) -> DataFrame:
        """The Arrow-batched partial-vector kernel stage: (poly_id, _cnt,
        _sum) rows, <= n_polys per input batch. ``use_interior=False``
        is the split plan's boundary-only variant (the caller already
        resolved interior cells JVM-side). Membership resolves on the
        internal classification grid (refine_k) unless the caller ships
        its own artifact + grid (``art_bc``/``grid_override``: the
        hierarchical split's deepest-level boundary CSR)."""
        # the shared memoized artifact always carries the interior CSR;
        # the split plan's boundary-only variant just ignores it (the
        # shared broadcast amortizes across plans, which beats shipping
        # a second, slightly smaller artifact)
        bc = art_bc if art_bc is not None else self._bc_art()
        grid = grid_override if grid_override is not None else self.cls_grid
        dtype = self.dtype
        n_polys = self.polyset.n_polys
        x_name, y_name = self.x, self.y
        want_sum = agg.col is not None
        cols = [x_name, y_name] + ([agg.col] if want_sum else [])
        agg_col = agg.col
        # integral inputs keep integral partials end-to-end: the final
        # SUM is then LongType, matching the BIGINT oracle bit-for-bit.
        # Values transfer as int64 (never narrowed through float64) and
        # the per-batch partial uses the float64-bincount fast path ONLY
        # while every intermediate sum provably stays under 2^53 —
        # otherwise it falls back to an exact int64 scatter-add, so
        # exactness never silently degrades at large magnitudes
        integral = want_sum and isinstance(
            points.schema[agg.col].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        )

        schema = T.StructType(
            [
                T.StructField("poly_id", T.LongType(), False),
                T.StructField("_cnt", T.LongType(), False),
                T.StructField("_sum", T.LongType() if integral else T.DoubleType(), True),
            ]
        )

        # mapInArrow, not mapInPandas: the kernel consumes raw numpy, so
        # the pandas layer is a pure copy tax on the feed — Arrow float64
        # columns view zero-copy into numpy. At full machine width the
        # feed is the bandwidth-bound term (BENCH/hybrid_rootcause.md),
        # so one fewer per-row copy matters.
        def fn(batches):
            import pyarrow as pa

            out_fields = [
                pa.field("poly_id", pa.int64(), nullable=False),
                pa.field("_cnt", pa.int64(), nullable=False),
                pa.field("_sum", pa.int64() if integral else pa.float64()),
            ]
            out_schema = pa.schema(out_fields)
            art = bc.value
            verts, offsets = art["verts"], art["offsets"]
            for rb in batches:
                names = rb.schema.names
                if "_xy" in names:
                    # packed transfer: ONE int64 column carries both int32
                    # coords — Spark's MapInBatch wrap pays per FIELD, so
                    # one field halves the dominant per-row feed cost;
                    # unpack is two vectorized shifts (sign-extending)
                    xy = np.asarray(
                        rb.column(names.index("_xy")).to_numpy(zero_copy_only=False),
                        dtype=np.int64,
                    )
                    x = ((xy << 32) >> 32).astype(np.float64)
                    y = (xy >> 32).astype(np.float64)
                else:
                    x = np.asarray(
                        rb.column(names.index(x_name)).to_numpy(zero_copy_only=False),
                        dtype=np.float64,
                    )
                    y = np.asarray(
                        rb.column(names.index(y_name)).to_numpy(zero_copy_only=False),
                        dtype=np.float64,
                    )
                val = (
                    np.asarray(
                        rb.column(names.index(agg_col)).to_numpy(zero_copy_only=False),
                        np.int64 if integral else np.float64,
                    )
                    if want_sum
                    else None
                )
                cells = grid.cell_ids_np(x, y)
                cnt = np.zeros(n_polys, np.int64)
                sm = (
                    np.zeros(n_polys, np.int64 if integral else np.float64)
                    if want_sum
                    else None
                )

                def acc_sum(polys, vals):
                    # float64 bincount is the fast path; its partial sums
                    # are exact integers only while bounded by 2^53, so
                    # large-magnitude integral batches take the exact
                    # (slower) int64 scatter-add instead of silently
                    # losing low bits while claiming BIGINT parity
                    if (
                        integral
                        and len(vals)
                        and float(np.abs(vals).max()) * len(vals) >= 2.0**53
                    ):
                        np.add.at(sm, polys, vals)
                    else:
                        out = np.bincount(polys, weights=vals, minlength=n_polys)
                        sm[:] += out.astype(np.int64) if integral else out

                if use_interior:
                    rows_i, polys_i = _csr_expand(art["interior"], cells)
                    if len(rows_i):
                        cnt += np.bincount(polys_i, minlength=n_polys)
                        if want_sum:
                            acc_sum(polys_i, val[rows_i])

                rows_b, polys_b = _csr_expand(art["boundary"], cells)
                if len(rows_b):
                    mask = pip_candidates(
                        x[rows_b], y[rows_b], polys_b, verts, offsets, dtype=dtype
                    )
                    pb = polys_b[mask]
                    cnt += np.bincount(pb, minlength=n_polys)
                    if want_sum:
                        acc_sum(pb, val[rows_b][mask])

                nz = np.nonzero(cnt)[0]
                sm_out = sm[nz] if want_sum else np.full(len(nz), np.nan)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(nz.astype(np.int64)),
                        pa.array(cnt[nz]),
                        pa.array(sm_out),
                    ],
                    schema=out_schema,
                )

        # Python-stage task sizing: each mapInPandas task pays a fixed
        # JVM<->worker protocol cost (~20 ms measured), so a python stage
        # wants FEW, BIG tasks — coalesce (no shuffle) to ~1 task per core
        # unless the input is already coarser. On a real cluster this is
        # executors*cores; tasks then stream many Arrow batches each.
        target = max(self.spark.sparkContext.defaultParallelism, 1)
        if coord_transfer == "packed":
            # both int32-exact coords in one int64: y in the high word,
            # x (two's-complement) in the low — see the unpack in fn()
            xy = F.shiftleft(F.col(y_name).cast("long"), 32).bitwiseOR(
                F.col(x_name).cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
            )
            src = points.select(xy.alias("_xy"), *cols[2:])
        else:
            src = points.select(*cols)
        if src.rdd.getNumPartitions() > 2 * target:
            src = src.coalesce(2 * target)
        return src.mapInArrow(fn, schema)

    def raster_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
    ) -> DataFrame:
        """J1 approximate: whole cells attributed by center-inside cover.
        Error bounded by epsilon when the grid was sized with
        epsilon_to_cell_size (GLFunction.cpp:26-30)."""
        cover = self._pairs_df(self.tables.cover_cell, self.tables.cover_poly, cache_key="cover")
        cells = self._cell_partials(points, agg)
        per_poly = cells.join(F.broadcast(cover), "cell_id", "inner")
        out = per_poly.groupBy("poly_id").agg(*agg.exprs())
        return self._densify(out, agg, include_zero)

    def error_bounds(self, points: DataFrame) -> DataFrame:
        """J4: raster count plus per-polygon error intervals.

        For each boundary cell b of polygon p with cell count c(b):
          attributed (center inside)  -> fp1 += c(b); fp += (1-frac)*c(b)
          not attributed              -> fn1 += c(b); fn += frac*c(b)
        Output per polygon: cnt (raster), [cnt-fp1, cnt+fn1] (whole-pixel,
        sound: exact is always inside), [cnt-fp, cnt+fn] (area-weighted,
        the paper's tight interval). Mirrors RasterJoinBounds.cpp:202-381 +
        interval assembly RasterJoin/main.cpp:178-193.

        Alongside the float lo/hi, lo_u6/hi_u6 carry the tight interval in
        integer MICRO-UNITS (per-cell area fraction pre-quantized to
        floor(frac*1e6) on the driver, then summed as int64): the whole
        fold is integer arithmetic, so it is bit-identical across Spark /
        DuckDB regardless of float summation order — the oracle-gateable
        form of the tight interval per the repo's quantization rule.
        (int64 headroom: cnt*1e6 overflows only past ~9e12 rows/polygon.)
        """
        t = self.tables
        b_c, b_p, b_f, b_ci = t.boundary_pairs()
        frac_u6 = np.floor(b_f.astype(np.float64) * 1e6).astype(np.int64)
        boundary = self._pairs_df(
            b_c,
            b_p,
            cache_key="boundary_frac",
            extra={
                "frac": (b_f.astype(np.float64), T.DoubleType()),
                "frac_u6": (frac_u6, T.LongType()),
                "attributed": (b_ci.astype(np.bool_), T.BooleanType()),
            },
        )
        cells = self._cell_partials(points, AggSpec("count"))

        raster = (
            cells.join(
                F.broadcast(self._pairs_df(t.cover_cell, t.cover_poly, cache_key="cover")),
                "cell_id",
                "inner",
            )
            .groupBy("poly_id")
            .agg(F.sum("_cnt").alias("cnt"))
        )
        bounds = (
            cells.join(F.broadcast(boundary), "cell_id", "inner")
            .groupBy("poly_id")
            .agg(
                F.sum(F.when(F.col("attributed"), F.col("_cnt")).otherwise(0)).alias("fp1"),
                F.sum(F.when(~F.col("attributed"), F.col("_cnt")).otherwise(0)).alias("fn1"),
                F.sum(
                    F.when(F.col("attributed"), (1 - F.col("frac")) * F.col("_cnt")).otherwise(0.0)
                ).alias("fp"),
                F.sum(
                    F.when(~F.col("attributed"), F.col("frac") * F.col("_cnt")).otherwise(0.0)
                ).alias("fn"),
                F.sum(
                    F.when(
                        F.col("attributed"),
                        (F.lit(1_000_000) - F.col("frac_u6")) * F.col("_cnt"),
                    ).otherwise(F.lit(0))
                ).alias("fp_u6"),
                F.sum(
                    F.when(~F.col("attributed"), F.col("frac_u6") * F.col("_cnt")).otherwise(
                        F.lit(0)
                    )
                ).alias("fn_u6"),
            )
        )
        all_polys = self.spark.range(self.polyset.n_polys).withColumnRenamed("id", "poly_id")
        return (
            all_polys.join(raster, "poly_id", "left")
            .join(bounds, "poly_id", "left")
            .select(
                "poly_id",
                F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
                (F.coalesce(F.col("cnt"), F.lit(0)) - F.coalesce(F.col("fp1"), F.lit(0))).alias("lo1"),
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("fn1"), F.lit(0))).alias("hi1"),
                (F.coalesce(F.col("cnt"), F.lit(0)) - F.coalesce(F.col("fp"), F.lit(0.0))).alias("lo"),
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("fn"), F.lit(0.0))).alias("hi"),
                (
                    F.coalesce(F.col("cnt"), F.lit(0)) * F.lit(1_000_000)
                    - F.coalesce(F.col("fp_u6"), F.lit(0))
                ).alias("lo_u6"),
                (
                    F.coalesce(F.col("cnt"), F.lit(0)) * F.lit(1_000_000)
                    + F.coalesce(F.col("fn_u6"), F.lit(0))
                ).alias("hi_u6"),
            )
        )

    def coarse_scan(self, points: DataFrame, x0: float, y0: float, x1: float, y1: float) -> DataFrame:
        """S5 partition-pruned range scan: rows whose CELL overlaps the
        query box — a superset at hash-cell granularity, exactly like the
        reference's coarse sigma (HashGridIndex.cpp:78-137). The exact
        sigma (S6) is a plain .filter chained after."""
        stx, sty, enx, eny = self.grid.mbr_cell_range(x0, y0, x1, y1)
        pts = self.with_cell(points).filter(F.col("cell_id").isNotNull())
        xp = F.col("cell_id") % self.grid.nx
        yp = (F.col("cell_id") / self.grid.nx).cast("long")
        return pts.filter(
            (xp >= stx) & (xp < enx) & (yp >= sty) & (yp < eny)
        )
