"""Benchmark for raster_join_spark: one workload per process, one
closed-loop client, every result checked.

    python3 perfbench/run.py --workload reference_query|synth_agg \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. The process starts Spark at
``local[<cpus>]``, builds the workload's inputs from the seed, warms every
plan shape once at full size (guarding that each op's plan still holds
its input scan and its join or Python node), then runs whole rounds of
ops until the workload's nominal round time covers ``--seconds`` (at
least one), and computes the expected answers after the timed loops.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` then runs one
more round in which every op also runs traced, and prints the per-layer
metrics. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from probe import PlanPruned

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit, better) — BENCHMARK.json lists the same names and units
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("points_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]
SYNTH_KINDS = ("hybrid_count", "split_count", "hybrid_sum", "rect_count", "raster_count", "assign")
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("sources.plan_s", "s", "lower"),
        ("sources.scan_s", "s", "lower"),
        ("query.setup_s", "s", "lower"),
        ("query.window_s", "s", "lower"),
        ("query.plan_s", "s", "lower"),
        ("query.exec_s", "s", "lower"),
        ("query.regex_terms", "count", "lower"),
        ("geo.classify_cold_s", "s", "lower"),
        ("geo.classify_cached_s", "s", "lower"),
        ("geo.classify4096_cold_s", "s", "lower"),
        ("geo.classify4096_cached_s", "s", "lower"),
        ("geo.pip_pts_per_s", "1/s", "higher"),
        ("geo.pip_edge_tests", "count", "lower"),
        ("geo.boundary_frac", "frac", "lower"),
    ]
    + [(f"spatial_join.{k}.{p}", "s", "lower") for k in SYNTH_KINDS for p in ("plan_s", "exec_s")]
    + [
        ("knn.probe_s", "s", "lower"),
        ("knn.exec_s", "s", "lower"),
        ("knn.setup_s", "s", "lower"),
        ("knn.occupancy_s", "s", "lower"),
        ("knn.round_s", "s", "lower"),
        ("knn.finalize_s", "s", "lower"),
        ("knn.rounds", "count", "lower"),
        ("knn.exhaustive", "count", "lower"),
        ("knn.queries_per_s", "1/s", "higher"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.executor_cpu_s", "s", "lower"),
        ("spark.core_busy_frac", "frac", "higher"),
        ("spark.shuffle_read_bytes", "bytes", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("spark.spill_bytes", "bytes", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("arrow.rows_in", "count", "lower"),
        ("arrow.rows_frac", "frac", "lower"),
        ("trace.op_p50_s", "s", "lower"),
        ("trace.overhead_frac", "frac", "lower"),
        ("trace.spans_per_op", "count", "lower"),
        ("host.load1_start", "load", "lower"),
        ("host.load1_end", "load", "lower"),
        ("host.steal_frac", "frac", "lower"),
    ]
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("reference_query", "synth_agg"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    return ap.parse_args(argv)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Ctx:
    def __init__(self, spark, tracer, metrics, cpus: int) -> None:
        self.spark, self.tracer, self.metrics, self.cpus = spark, tracer, metrics, cpus


def start_spark(work: str, cpus: int):
    """Spark at local[cpus] with every scratch path inside ``work``."""
    from raster_join_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap at its full size and touched from the start: otherwise
            # its resident size follows the collector's sizing decisions,
            # and peak_rss_mb spread 0.20 over five seeds
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Record:
    __slots__ = ("op_id", "op", "group", "wall", "data", "err")

    def __init__(self, op_id, op, group) -> None:
        self.op_id, self.op, self.group = op_id, op, group
        self.wall, self.data, self.err = 0.0, None, None


def exec_op(ctx: Ctx, op, op_id: int, guard: bool = False) -> Record:
    """Run one op: timed ``run``, then untimed ``fetch`` of what its check
    needs. With ``guard``, first assert its plan was not pruned."""
    from probe import guard_plan

    rec = Record(op_id, op, f"perfbench-op{op_id}")
    ctx.spark.sparkContext.setJobGroup(rec.group, op.kind)
    ctx.tracer.begin_op(op_id)
    try:
        t0 = time.perf_counter()
        with ctx.tracer.span("op"):
            res = op.run(ctx)
        rec.wall = time.perf_counter() - t0
        if guard:
            ctx.metrics.drain()
            guard_plan(op.kind, op.guard_text(ctx, res, rec.group), op.need)
        rec.data = op.fetch(ctx, res)
    except PlanPruned:
        raise
    except Exception:  # one failed op is counted, the run goes on
        rec.err = traceback.format_exc()
        print(f"[perfbench] op {op_id} ({op.kind}) raised:\n{rec.err}", file=sys.stderr)
    return rec


def run_rounds(ctx: Ctx, rounds, n_rounds: int, first_id: int) -> list[Record]:
    """Closed loop, one client, ``n_rounds`` whole rounds."""
    recs: list[Record] = []
    for _ in range(n_rounds):
        for op in next(rounds):
            recs.append(exec_op(ctx, op, first_id + len(recs)))
    return recs


def run_pairs(ctx: Ctx, rounds, first_id: int) -> tuple[list[Record], list[Record], list[Record]]:
    """One round for the trace: every op runs once untraced to prime the
    request's caches (a repeated request runs faster the second time),
    then twice more, untraced and traced, alternating which goes first.
    Returns (primes, untraced, traced)."""
    out: tuple[list[Record], list[Record], list[Record]] = ([], [], [])
    for k, op in enumerate(next(rounds)):
        for traced in (None, False, True) if k % 2 == 0 else (None, True, False):
            ctx.tracer.enabled = bool(traced)
            rec = exec_op(ctx, op, first_id + sum(map(len, out)))
            out[0 if traced is None else 1 + traced].append(rec)
    ctx.tracer.enabled = False
    return out


def check_all(ctx: Ctx, recs: list[Record]) -> int:
    failed = 0
    for r in recs:
        if r.err is None:
            try:
                r.err = r.op.check(ctx, r.data, r.group)
            except Exception:
                r.err = traceback.format_exc()
            if r.err:
                print(f"[perfbench] op {r.op_id} ({r.op.kind}) wrong: {r.err}", file=sys.stderr)
        failed += r.err is not None
    return failed


def timed(fn, reps: int = 1) -> list[float]:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


def layer_metrics(ctx: Ctx, wl, traced, paired, untraced, setup: dict, host: dict) -> dict:
    """Per-layer numbers from the traced ops' spans, their Spark job groups
    and a few direct probes made after the loops. ``paired`` are the same
    ops run untraced beside them; ``untraced`` is the end-to-end loop."""
    import numpy as np

    import oracle
    from probe import steal_frac
    from raster_join_spark.fixtures import COARSE_GRID
    from raster_join_spark.geo.pip import pip_multi
    from raster_join_spark.operators.spatial_join import SpatialJoin

    tr = ctx.tracer
    ok = [r for r in traced if r.err is None]
    ids = {r.op_id for r in ok}
    m: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}

    def span_med(span: str) -> float:
        return median(tr.durations(span, ids))

    m["session.start_s"] = setup["session_s"]
    m["sources.plan_s"] = span_med("sources.plan")
    m["sources.scan_s"] = median(timed(lambda: wl.source_scan(ctx.spark), reps=3))
    for k in ("setup", "window", "plan", "exec"):
        m[f"query.{k}_s"] = span_med(f"query.{k}")
    m["query.regex_terms"] = median([tr.attrs[i]["regex_terms"] for i in ids if "regex_terms" in tr.attrs.get(i, {})])
    for key in ("classify_cold_s", "classify_cached_s", "classify4096_cold_s", "classify4096_cached_s"):
        m[f"geo.{key}"] = setup.get(key, 0.0)
    polys = wl.polys
    n = wl.size["pip_probe_n"]
    px, py, _ = oracle.synth_xyv(n)
    t = median(timed(lambda: pip_multi(px, py, polys.verts, polys.offsets), reps=3))
    m["geo.pip_pts_per_s"] = n / t
    m["geo.pip_edge_tests"] = float(n * len(polys.verts))
    x, y = wl.xy
    cells = COARSE_GRID.cell_ids_np(x, y)
    uc, cnt = np.unique(cells[cells >= 0], return_counts=True)
    sj = SpatialJoin(ctx.spark, polys, COARSE_GRID)
    m["geo.boundary_frac"] = sj.tables.boundary_fraction((uc, cnt))
    for k in SYNTH_KINDS:
        for p in ("plan", "exec"):
            m[f"spatial_join.{k}.{p}_s"] = span_med(f"spatial_join.{k}.{p}")
    m["knn.probe_s"] = span_med("knn.probe")
    m["knn.exec_s"] = span_med("knn.exec")
    knn = [tr.attrs[i]["knn"] for i in ids if "knn" in tr.attrs.get(i, {})]
    for key in ("setup_s", "occupancy_s", "round_s", "finalize_s", "rounds", "exhaustive"):
        m[f"knn.{key}"] = median([s[key] for s in knn])
    q = [r for r in untraced if r.err is None and getattr(r.op, "queries", 0)]
    if q:
        m["knn.queries_per_s"] = sum(r.op.queries for r in q) / sum(r.wall for r in q)

    ctx.metrics.drain()
    per_op = []
    for r in ok:
        st = ctx.metrics.stages(r.group)
        py = ctx.metrics.python_rows(r.group)
        st["core_busy_frac"] = st["executor_run_s"] / (r.wall * ctx.cpus)
        st["rows_in"] = py["rows_in"]
        st["rows_frac"] = py["rows_in"] / r.op.points
        per_op.append(st)
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "core_busy_frac",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"spark.{key}"] = median([s[key] for s in per_op])
    m["arrow.rows_in"] = median([s["rows_in"] for s in per_op])
    m["arrow.rows_frac"] = median([s["rows_frac"] for s in per_op])

    m["trace.op_p50_s"] = median([r.wall for r in ok])
    # geometric mean over ops of traced / untraced wall (same op, back to back)
    ratios = [t.wall / u.wall for t, u in zip(traced, paired) if t.err is None and u.err is None]
    m["trace.overhead_frac"] = float(np.exp(np.mean(np.log(ratios)))) - 1.0 if ratios else 0.0
    m["trace.spans_per_op"] = len([s for s in tr.spans if s["op"] in ids]) / max(len(ids), 1)
    m["host.load1_start"] = host["start"]["load1"]
    m["host.load1_end"] = host["end"]["load1"]
    m["host.steal_frac"] = steal_frac(host["start"], host["end"])
    return m


def write_spans(out_dir: str, args, tracer, setup: dict, host: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
    with open(path, "w") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "setup": setup,
                            "host": host, "decisions": {str(k): v for k, v in tracer.attrs.items()}}) + "\n")
        for s in tracer.spans:
            f.write(json.dumps(s) + "\n")
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "raster_join_spark", "__init__.py")):
        print(f"[perfbench] no raster_join_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers import the engine from the checkout; scratch stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    cpus = len(os.sched_getaffinity(0))

    import numpy as np

    from probe import RssSampler, SparkMetrics, Tracer, host_state, process_age_s, steal_frac
    from workloads import SIZES, WORKLOADS

    size = SIZES["smoke" if args.smoke else "full"]
    host = {"start": host_state()}
    setup: dict[str, float] = {}
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work, cpus)
            setup["session_s"] = time.perf_counter() - t0
            ctx = Ctx(spark, Tracer(), SparkMetrics(spark), cpus)
            wl = WORKLOADS[args.workload](args.seed, size, work)
            rng = np.random.RandomState(args.seed)
            wl.build_inputs()
            wl.prepare(rng)
            setup["inputs_s"] = time.perf_counter() - t0 - setup["session_s"]
            setup.update(classify_times(spark, wl))

            # warm every plan shape at full size, in one fixed order for
            # every seed (the JIT's first profiles shape the whole run);
            # guard each op
            warm = [exec_op(ctx, op, -1 - i, guard=True) for i, op in enumerate(wl.warmup())]
            if args.smoke:
                prune_control(ctx, wl)
            setup_s = process_age_s()
            setup["warm_ops"] = {r.op.kind: r.wall for r in warm}
            print(f"[perfbench] setup {setup_s:.2f}s: session {setup['session_s']:.2f}s, inputs "
                  f"{setup['inputs_s']:.2f}s, warm-up {sum(r.wall for r in warm):.2f}s", file=sys.stderr)
            # whole rounds until the workload's nominal round time covers
            # --seconds, so every run on every host measures the same work
            n_rounds = max(1, math.ceil(args.seconds / wl.round_s))
            rounds = wl.rounds()
            untraced = run_rounds(ctx, rounds, n_rounds, 0)
            recs = untraced
            if args.trace:
                primes, plain, traced = run_pairs(ctx, rounds, len(untraced))
                recs = untraced + primes + plain + traced

            t1 = time.perf_counter()
            wl.expected([r.op for r in warm + recs])
            print(f"[perfbench] expected answers {time.perf_counter() - t1:.2f}s", file=sys.stderr)
            ctx.metrics.drain()
            warm_failed = check_all(ctx, warm)
            failed = check_all(ctx, recs)
            host["end"] = host_state()
            if args.trace:
                metrics = layer_metrics(ctx, wl, traced, plain, untraced, setup, host)
        peak_rss = rss.peak
    except PlanPruned as e:
        print(f"[perfbench] plan guard failed: {e}", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            t1 = time.perf_counter()
            stop_spark(spark)
            print(f"[perfbench] stop {time.perf_counter() - t1:.2f}s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    good = [r for r in untraced if r.err is None]
    walls = [r.wall for r in good]
    if not args.trace:
        busy = sum(walls)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": median(walls),
            "ops_per_s": len(good) / busy if busy else 0.0,
            "points_per_s": sum(r.op.points for r in good) / busy if busy else 0.0,
            "peak_rss_mb": peak_rss / 2**20,
        }
    units = {n: u for n, u, _ in (PER_LAYER if args.trace else END_TO_END)}
    if args.trace:
        path = write_spans(os.path.join(ROOT, ".perfbench", "spans"), args, ctx.tracer, setup, host)
        print(f"[perfbench] spans: {path}", file=sys.stderr)
    for n, v in metrics.items():
        print(f"{args.workload} {n} = {v:.6g} {units[n]}")
    kinds: dict[str, list[float]] = {}
    for r in good:
        kinds.setdefault(r.op.kind, []).append(r.wall)
    print(f"[perfbench] op walls in order: {[(r.op.kind, round(r.wall, 3)) for r in recs]}", file=sys.stderr)
    for k, w in sorted(kinds.items()):
        print(f"{args.workload} op {k}: n={len(w)} median={median(w):.3f}s warm-up={setup['warm_ops'].get(k, 0):.3f}s")
    print(f"{args.workload} ops={len(recs)} failed={failed} warm_failed={warm_failed} "
          f"failed_frac={failed / max(len(recs), 1):.4f} load1={host['start']['load1']}->{host['end']['load1']} "
          f"steal={steal_frac(host['start'], host['end']):.4f}")
    result = {
        "correct": failed == 0 and warm_failed == 0 and len(good) > 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def classify_times(spark, wl) -> dict:
    """SpatialJoin builds, timed from outside: the first build of a
    collection on a grid classifies it (cold); later builds hit the
    classification cache (cached)."""
    from raster_join_spark.fixtures import COARSE_GRID, rect_polyset
    from raster_join_spark.operators.spatial_join import SpatialJoin

    out: dict[str, float] = {}
    sets = [("classify", wl.polys)]
    if wl.name == "synth_agg":
        sets.append(("classify4096", rect_polyset()))
    for key, polys in sets:
        out[f"{key}_cold_s"] = timed(lambda: SpatialJoin(spark, polys, COARSE_GRID))[0]
        out[f"{key}_cached_s"] = median(timed(lambda: SpatialJoin(spark, polys, COARSE_GRID), reps=3))
    return out


def prune_control(ctx: Ctx, wl) -> None:
    """Negative control for the plan guard: count() over an include_zero
    aggregate must be caught as pruned (Catalyst drops the join)."""
    from probe import PlanPruned, guard_plan
    from raster_join_spark.fixtures import COARSE_GRID
    from raster_join_spark.operators.spatial_join import SpatialJoin
    from raster_join_spark.sources.pages import synth_points

    group = "perfbench-prune-control"
    ctx.spark.sparkContext.setJobGroup(group, "prune control")
    n = 1000
    SpatialJoin(ctx.spark, wl.polys, COARSE_GRID).hybrid_join(synth_points(ctx.spark, n, 2)).count()
    ctx.metrics.drain()
    try:
        guard_plan("prune-control", ctx.metrics.plan_text(group), (rf"Range \(0, {n},", "MapInArrow"))
    except PlanPruned:
        print("[perfbench] plan guard negative control: count() plan rejected as pruned", file=sys.stderr)
        return
    raise AssertionError("plan guard accepted a count() plan that Catalyst pruned")


if __name__ == "__main__":
    sys.exit(main())
