"""The benchmark's two workloads.

Each workload builds its inputs from the seed, gives a warm-up pass
(one op of every kind, in a fixed order), yields rounds of ops (one
op of every kind per round, in a seeded order, so every run measures the
same mix), and checks each op's result against an answer computed once
per run outside the timed windows.

An op's ``run`` is the timed part: it builds the plan fresh through the
engine's public API and forces full execution — aggregates are collected
(at most a few thousand rows), per-point outputs are written to the
``noop`` sink. Nothing is ever ``count()``-ed: Catalyst reduces a
count over an ``include_zero`` aggregate to ``HashAggregate <- Range``
and the join never runs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

import oracle
from probe import JOIN_NODES, PY_NODES

SIZES = {
    # full size: what the recorded numbers measure
    "full": {
        "ref_events": 10_000,  # sf0.01
        "ref_rounds": 10,  # one warm-up pass, then up to nine measured rounds
        "synth_n": 2_000_000,
        "synth_parts": 16,
        "pip_probe_n": 200_000,
    },
    # smoke size: the benchmark's own self-test
    "smoke": {
        "ref_events": 2_000,
        "ref_rounds": 3,
        "synth_n": 20_000,
        "synth_parts": 4,
        "pip_probe_n": 5_000,
    },
}

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T_BASE = dt.datetime(2024, 1, 1)
KNN_K = 5
KNN_BULK_MOD = 10  # a knn_bulk query table is every 10th page, as in __spark_entry__'s knn_bulk


def seeded_polys(seed: int):
    """16 integer-vertex blobs shaped like the repo's oracle16 fixture —
    12 across the US box, 4 inside the hot cluster that holds 30% of the
    points — with vertex jitter drawn from the workload seed."""
    from raster_join_spark.fixtures import HOT_X0, HOT_X1, HOT_Y0, HOT_Y1, X0, X1, Y0, Y1
    from raster_join_spark.geo.polygons import PolygonSet, blob_polygons

    wide = blob_polygons(12, X0, Y0, X1, Y1, n_verts=8, seed=seed * 2 + 1)
    hot = blob_polygons(4, HOT_X0, HOT_Y0, HOT_X1, HOT_Y1, n_verts=7, seed=seed * 2 + 2)
    polys = [
        [(float(round(x)), float(round(y))) for x, y in ps.poly_verts(p)]
        for ps in (wide, hot)
        for p in range(ps.n_polys)
    ]
    return PolygonSet.from_list(polys, name=f"blob16-s{seed}")


class Op:
    """One request. ``run`` is timed; ``fetch`` runs right after, untimed,
    and returns what ``check`` needs; ``check`` returns an error or None."""

    kind = ""
    points = 0
    # plan guard: every pattern must match the op's guard_text
    need: tuple[str, ...] = ()

    def run(self, ctx):
        raise NotImplementedError

    def guard_text(self, ctx, res, group: str) -> str:
        """The physical plan Catalyst chose for the op's DataFrame. For an
        executed adaptive plan this includes the initial plan, so a join
        that adaptive execution later skips because its input came back
        empty still counts; only optimizer pruning fails the guard."""
        return res["df"]._jdf.queryExecution().executedPlan().toString()

    def fetch(self, ctx, res):
        return res.get("rows")

    def check(self, ctx, data, group: str) -> str | None:
        raise NotImplementedError


def _rows_by_poly(rows, col="agg") -> dict:
    return {int(r["poly_id"]): (None if r[col] is None else r[col]) for r in rows}


# ======================================================== reference_query


class ReferenceQuery:
    name = "reference_query"
    why = (
        "the paper's query via plans.query.QueryEngine, plus knn_join and knn_join_bulk, on "
        "sources.pages at sf0.01: per-request fixed costs (plan build, regex CTE, one-task scans) dominate"
    )

    round_s = 14.0  # one round of fresh requests on the 4-core host

    def __init__(self, seed: int, size: dict, work: str) -> None:
        self.seed, self.size, self.work = seed, size, work
        self.events_path = os.path.join(work, "events.parquet")
        self.polys = seeded_polys(seed)

    def build_inputs(self) -> None:
        """A seeded table with the schema of the repo's `events` test data, one row group."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.RandomState(self.seed)
        n = self.size["ref_events"]
        ts = np.datetime64(T_BASE, "us") + np.sort(rng.randint(0, 30 * 86_400_000_000, size=n)).astype(
            "timedelta64[us]"
        )
        table = pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.randint(0, 150, size=n).astype(np.int64)),
                "event_type": pa.array([EVENT_TYPES[i] for i in rng.randint(0, 5, size=n)]),
                "value": pa.array(np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, size=n)]),
            }
        )
        pq.write_table(table, self.events_path, row_group_size=n)

    def requests(self, rng) -> list[list[dict]]:
        """A seeded pool of distinct requests, in rounds of one per kind.
        Each kind keeps one request structure (window kind, constraint
        attributes); the seed draws the box, the time window and the
        constraint values, so runs on different seeds do the same work."""
        from raster_join_spark.fixtures import X0, X1, Y0, Y1
        from raster_join_spark.plans.query import Aggregation, ConstraintType, QueryConstraint

        lang = lambda: QueryConstraint("lang", ConstraintType.EQ, EVENT_TYPES[rng.randint(5)])  # noqa: E731
        above = lambda: QueryConstraint("value_c", ConstraintType.GT, int(rng.randint(500, 3000)))  # noqa: E731
        below = lambda: QueryConstraint("value_c", ConstraintType.LTE, int(rng.randint(3000, 20000)))  # noqa: E731
        # (fn, aggregation, query box drawn (else the collection's bbox), constraints)
        kinds = [
            ("hybrid", Aggregation.COUNT, True, (lang,)),
            ("index", Aggregation.COUNT, True, (lang, below)),
            ("raster", Aggregation.AVG, False, (above,)),
            ("errorbounds", Aggregation.COUNT, True, ()),
            ("knn", None, None, None),
            ("knn_bulk", None, None, None),
        ]
        pool = []
        residues = rng.permutation(KNN_BULK_MOD)  # distinct query tables, round by round
        for n in range(self.size["ref_rounds"]):
            pool.append(out := [])
            for i in rng.permutation(len(kinds)):
                fn, agg, boxed, cons = kinds[i]
                if fn == "knn":
                    out.append({"fn": fn})
                    continue
                if fn == "knn_bulk":
                    out.append({"fn": fn, "residue": int(residues[n % KNN_BULK_MOD])})
                    continue
                box = None  # the collection's bbox, as the reference does
                if boxed:
                    w, h = rng.uniform(20e6, 45e6), rng.uniform(10e6, 20e6)
                    bx, by = rng.uniform(X0, X1 - w), rng.uniform(Y0, Y1 - h)
                    box = (float(round(bx)), float(round(by)), float(round(bx + w)), float(round(by + h)))
                d0 = int(rng.randint(0, 12))
                d1 = d0 + int(rng.randint(10, 19))
                out.append({
                    "fn": fn, "agg": agg, "box": box, "cons": [c() for c in cons],
                    "t0": (T_BASE + dt.timedelta(days=d0)).strftime("%Y-%m-%d %H:%M:%S"),
                    "t1": (T_BASE + dt.timedelta(days=d1)).strftime("%Y-%m-%d %H:%M:%S"),
                })
        return pool

    def prepare(self, rng) -> None:
        make = {"knn": lambda r: RefKnnOp(self), "knn_bulk": lambda r: RefKnnBulkOp(self, r["residue"])}
        self.pool = [
            [make.get(r["fn"], lambda r: RefQueryOp(self, r))(r) for r in reqs]
            for reqs in self.requests(rng)
        ]

    def warmup(self) -> list[Op]:
        """The pool's first round. A request runs faster, and its time
        spreads wider, when the process has run it before (on the 4-core
        host: one raster request repeated 1.57-2.05 s, fresh ones
        2.18-2.48 s), so the measured rounds never repeat a warm-up request."""
        return sorted(self.pool[0], key=lambda o: o.kind)

    def rounds(self):
        """The rest of the pool, round by round; it repeats only past its end."""
        i = 0
        while True:
            yield self.pool[1 + i % (len(self.pool) - 1)]
            i += 1

    def expected(self, ops) -> None:
        """Expected answers of the given ops, each distinct request once."""
        if not hasattr(self, "pts"):
            self.pts = oracle.reference_points(self.events_path)
            self.xy = (self.pts["x"], self.pts["y"])
            self.knn_bulk_want: dict[int, set] = {}
        for op in set(ops):
            op.expect()

    def source_scan(self, spark) -> None:
        from raster_join_spark.sources.pages import points_df

        points_df(spark, self.work).select("event_id", "x", "y", "warc_ts", "lang", "value_c") \
            .write.format("noop").mode("overwrite").save()


class RefQueryOp(Op):
    need = (r"Scan parquet", "|".join(JOIN_NODES + PY_NODES))

    def __init__(self, wl: ReferenceQuery, req: dict) -> None:
        self.wl, self.req = wl, req
        agg = req["agg"].name.lower()
        self.kind = f"q_{req['fn']}_{agg}" if req["fn"] != "errorbounds" else "q_errorbounds"
        self.points = wl.size["ref_events"]

    def run(self, ctx):
        from raster_join_spark.fixtures import COARSE_GRID
        from raster_join_spark.plans.query import Aggregation, QueryEngine
        from raster_join_spark.sources.pages import points_df

        r, tr = self.req, ctx.tracer
        with tr.span("sources.plan"):
            pts = points_df(ctx.spark, self.wl.work)
        with tr.span("query.setup"):
            eng = QueryEngine(ctx.spark, pts, COARSE_GRID).set_polygon_query(self.wl.polys)
            eng.set_query_constraints(r["cons"])
            eng.set_aggregation(r["agg"], "value_c" if r["agg"] is Aggregation.AVG else None)
        with tr.span("query.window"):
            eng.execute_query(r["box"], r["t0"], r["t1"])
        with tr.span("query.plan"):
            df = eng.execute_function(r["fn"])
        with tr.span("query.exec"):
            rows = df.collect()
        return {"df": df, "rows": rows}

    def fetch(self, ctx, res):
        if ctx.tracer.enabled:
            from probe import final_plan_text

            ctx.tracer.note("regex_terms", final_plan_text(res["df"]).count("regexp_extract("))
        return res["rows"]

    def window_mask(self) -> np.ndarray:
        from raster_join_spark.fixtures import COARSE_GRID as g

        p, r = self.wl.pts, self.req
        box = r["box"] if r["box"] is not None else self.wl.polys.bbox
        stx, sty, enx, eny = g.mbr_cell_range(*box)
        xp, yp, ok = oracle.cell_xy(g, p["x"], p["y"])
        m = ok & (xp >= stx) & (xp < enx) & (yp >= sty) & (yp < eny)
        t0 = np.datetime64(r["t0"].replace(" ", "T"), "us").astype(np.int64)
        t1 = np.datetime64(r["t1"].replace(" ", "T"), "us").astype(np.int64)
        m &= (p["ts"] >= t0) & (p["ts"] <= t1)
        for c in r["cons"]:
            col = p[c.attr]
            m &= {
                "EQ": col == c.value, "LT": col < c.value, "LTE": col <= c.value,
                "GT": col > c.value, "GTE": col >= c.value,
            }[c.op.name]
        return m

    def expect(self) -> None:
        from raster_join_spark.fixtures import COARSE_GRID

        p = self.wl.pts
        m = self.window_mask()
        x, y, v = p["x"][m], p["y"][m], p["value_c"][m]
        self.exact = oracle.per_poly(self.wl.polys, x, y, v)
        self.raster = oracle.raster_per_poly(self.wl.polys, COARSE_GRID, x, y, v)

    def check(self, ctx, rows, group):
        fn, agg = self.req["fn"], self.req["agg"].name
        if fn == "errorbounds":
            got = {int(r["poly_id"]): r for r in rows}
            if len(got) != self.wl.polys.n_polys:
                return f"errorbounds: {len(got)} rows"
            for pid, exact in enumerate(self.exact[0]):
                g = got[pid]
                if g["cnt"] != self.raster[0][pid]:
                    return f"errorbounds polygon {pid}: cnt {g['cnt']} != raster {self.raster[0][pid]}"
                if not g["lo1"] <= exact <= g["hi1"]:
                    return f"errorbounds polygon {pid}: exact {exact} outside [{g['lo1']}, {g['hi1']}]"
            return None
        cnt, tot = self.raster if fn == "raster" else self.exact
        got = _rows_by_poly(rows)
        if agg == "COUNT":
            return oracle.same_counts(got, cnt)
        return oracle.same_avgs(got, cnt, tot)


class RefKnnOp(Op):
    kind = "q_knn"
    need = (r"Scan parquet", "|".join(JOIN_NODES))

    def __init__(self, wl: ReferenceQuery) -> None:
        self.wl = wl
        self.points = wl.size["ref_events"]

    def run(self, ctx):
        from raster_join_spark.fixtures import COARSE_GRID, KNN_QUERIES
        from raster_join_spark.operators.knn import knn_join
        from raster_join_spark.sources.pages import points_df

        tr = ctx.tracer
        with tr.span("sources.plan"):
            pts = points_df(ctx.spark, self.wl.work)
        with tr.span("knn.probe"):
            df = knn_join(ctx.spark, pts, COARSE_GRID, KNN_QUERIES, KNN_K, n_total=self.points)
            rows = df.collect()
        return {"df": df, "rows": rows}

    def guard_text(self, ctx, res, group: str) -> str:
        """knn_join runs its probe rounds as actions of its own."""
        return ctx.metrics.plan_text(group)

    def expect(self) -> None:
        from raster_join_spark.fixtures import KNN_QUERIES

        p = self.wl.pts
        self.want = {
            (q, eid, rank, d2)
            for q, qx, qy in KNN_QUERIES
            for eid, rank, d2 in oracle.topk(p["id"], p["x"], p["y"], qx, qy, KNN_K)
        }

    def check(self, ctx, rows, group):
        got = {(int(r["q_id"]), int(r["event_id"]), int(r["rank"]), int(r["dist2"])) for r in rows}
        return None if got == self.want else f"knn: {len(got ^ self.want)} rows differ"


class RefKnnBulkOp(Op):
    """Set-oriented kNN in __spark_entry__'s knn_bulk shape: the query table is the
    pages whose event_id is ``residue`` modulo 10 (the seed picks it)."""

    kind = "q_knn_bulk"
    need = (r"Scan parquet", "|".join(JOIN_NODES + PY_NODES))

    def __init__(self, wl: ReferenceQuery, residue: int) -> None:
        self.wl, self.residue = wl, residue
        self.points = wl.size["ref_events"]
        self.queries = len(range(residue, self.points, KNN_BULK_MOD))

    def run(self, ctx):
        from pyspark.sql import functions as F

        from raster_join_spark.fixtures import COARSE_GRID
        from raster_join_spark.operators.knn import knn_join_bulk
        from raster_join_spark.sources.pages import points_df

        tr = ctx.tracer
        with tr.span("sources.plan"):
            pts = points_df(ctx.spark, self.wl.work)
        with tr.span("knn.queries"):
            qdf = pts.filter(F.col("event_id") % KNN_BULK_MOD == self.residue).select(
                F.col("event_id").alias("q_id"), F.col("x").alias("qx"), F.col("y").alias("qy")
            )
        stats: dict = {}
        with tr.span("knn.exec"):
            out = knn_join_bulk(ctx.spark, pts, COARSE_GRID, qdf, KNN_K, n_total=self.points, stats=stats)
        with tr.span("knn.sink"):
            out.write.format("noop").mode("overwrite").save()
        phase = stats.get("phase_sec", {})
        tr.note("knn", {
            "rounds": stats.get("rounds", 0),
            "exhaustive": int(bool(stats.get("exhaustive"))),
            "setup_s": phase.get("setup_sec", 0.0),
            "occupancy_s": phase.get("occupancy_sec", 0.0),
            "round_s": sum(phase.get("round_sec", [])),
            "finalize_s": phase.get("finalize_sec", 0.0),
        })
        return {"df": out}

    def guard_text(self, ctx, res, group: str) -> str:
        """knn_join_bulk runs its probe rounds as actions of its own."""
        return ctx.metrics.plan_text(group)

    def fetch(self, ctx, res):
        out = res["df"]
        rows = out.collect()
        out.unpersist()
        return rows

    def expect(self) -> None:
        p, memo = self.wl.pts, self.wl.knn_bulk_want
        if self.residue not in memo:
            q = np.flatnonzero(p["id"] % KNN_BULK_MOD == self.residue)
            memo[self.residue] = {
                (int(p["id"][i]), eid, rank, d2)
                for i in q
                for eid, rank, d2 in oracle.topk(p["id"], p["x"], p["y"], p["x"][i], p["y"][i], KNN_K)
            }
        self.want = memo[self.residue]

    def check(self, ctx, rows, group):
        got = {(int(r["q_id"]), int(r["event_id"]), int(r["rank"]), int(r["dist2"])) for r in rows}
        return None if got == self.want else f"knn_bulk: {len(got ^ self.want)} rows differ"


# ============================================================== synth_agg


class SynthAgg:
    name = "synth_agg"
    why = (
        "millions of spark.range-synthesised points, no regex source: kernels, the Arrow "
        "boundary and shuffles dominate; per-point assign sits beside 16-row aggregates"
    )

    round_s = 9.0  # one round on the 4-core host

    def __init__(self, seed: int, size: dict, work: str) -> None:
        self.seed, self.size, self.work = seed, size, work
        self.polys = seeded_polys(seed)
        self.n = size["synth_n"]

    def build_inputs(self) -> None:
        from raster_join_spark.fixtures import rect_polyset

        self.rects = rect_polyset()

    def prepare(self, rng) -> None:
        self.ops = [SynthOp(self, k) for k in SynthOp.KINDS]
        self.rng = rng

    def warmup(self) -> list[Op]:
        """Every op once; an op's plan is the same on every run of it."""
        return sorted(self.ops, key=lambda o: o.kind)

    def rounds(self):
        while True:
            yield [self.ops[i] for i in self.rng.permutation(len(self.ops))]

    def expected(self, ops) -> None:
        from raster_join_spark.fixtures import FINE_GRID, RECT_SIDE

        x, y, v = oracle.synth_xyv(self.n)
        self.want = {}
        self.want["count"], self.want["sum"] = oracle.per_poly(self.polys, x, y, v)
        self.want["rect"] = oracle.rect_counts(RECT_SIDE, x, y)
        self.want["raster"] = oracle.raster_per_poly(self.polys, FINE_GRID, x, y)[0]
        self.xy = (x, y)

    def source_scan(self, spark) -> None:
        from raster_join_spark.sources.pages import synth_points

        synth_points(spark, self.n, self.size["synth_parts"]).write.format("noop").mode("overwrite").save()


class SynthOp(Op):
    KINDS = ("hybrid_count", "split_count", "hybrid_sum", "rect_count", "raster_count", "assign")

    def __init__(self, wl: SynthAgg, kind: str) -> None:
        self.wl, self.kind = wl, kind
        self.points = wl.n
        work = "MapInArrow" if kind != "raster_count" else "|".join(JOIN_NODES)
        self.need = (rf"Range \(0, {wl.n},", work)

    def run(self, ctx):
        from raster_join_spark.fixtures import COARSE_GRID, FINE_GRID
        from raster_join_spark.operators.spatial_join import AggSpec, SpatialJoin
        from raster_join_spark.sources.pages import synth_points

        tr, k, wl = ctx.tracer, self.kind, self.wl
        with tr.span("sources.plan"):
            pts = synth_points(ctx.spark, wl.n, wl.size["synth_parts"])
        polys = wl.rects if k == "rect_count" else wl.polys
        grid = FINE_GRID if k == "raster_count" else COARSE_GRID
        with tr.span("geo.classify4096" if k == "rect_count" else "geo.classify"):
            sj = SpatialJoin(ctx.spark, polys, grid)
        stats: dict = {}
        with tr.span(f"spatial_join.{k}.plan"):
            if k == "raster_count":
                df = sj.raster_join(pts)
            elif k == "assign":
                df = sj.assign_polygons(pts, cols=("event_id",))
            else:
                agg = AggSpec("sum", "value_c") if k == "hybrid_sum" else AggSpec()
                df = sj.hybrid_join(pts, agg, fused="split" if k == "split_count" else True, stats=stats)
        with tr.span(f"spatial_join.{k}.exec"):
            if k == "assign":
                df.write.format("noop").mode("overwrite").save()
                rows = None
            else:
                rows = df.collect()
        if stats:
            tr.note("plan", stats.get("plan"))
            tr.note("refine_k", stats.get("refine_k"))
        return {"df": df, "rows": rows}

    def check(self, ctx, rows, group):
        w = self.wl.want
        k = self.kind
        if k == "assign":
            got = ctx.metrics.python_rows(group)["rows_out"]
            want = sum(w["count"])
            return None if got == want else f"assign emitted {got:.0f} pairs, want {want}"
        got = _rows_by_poly(rows)
        if k == "hybrid_sum":
            got = {p: (0 if s is None else int(s)) for p, s in got.items()}
            return oracle.same_counts(got, w["sum"])
        want = {"hybrid_count": w["count"], "split_count": w["count"],
                "rect_count": w["rect"], "raster_count": w["raster"]}[k]
        return oracle.same_counts(got, want)


WORKLOADS = {w.name: w for w in (ReferenceQuery, SynthAgg)}
