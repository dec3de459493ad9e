"""The three workloads, each a closed loop driven by one client.

* ``build``    — the write path: ``ArrowClusterEngine.load`` of a seeded
  hotspot corpus, ``append`` of a +10 % batch, and ``radius_hierarchy``
  over a seeded subset (sources → grid_cluster → parquet write, and the
  radius job chain).
* ``serve``    — the read path over the same grid layer: a seeded mix of
  viewport ``get_clusters`` through ``ClusterLayer`` (a quarter repeat the
  previous key), ``get_children``, paginated ``get_leaves`` and
  ``get_cluster_expansion_zoom``, zooms 0-17, world- to street-sized
  boxes, some across the antimeridian.
* ``pipeline`` — LLM-pipeline and graph queries from the registry over
  fixed generated tables, each noop-written; the seed permutes the order.

Each workload generates its inputs from the seed, runs one untimed
warm-up pass, then timed passes until ``--seconds`` have elapsed (at least
one). Output checks are queued and run after the last pass, outside the
measured region. With ``--trace 1`` it runs an untraced pass, a traced
pass and another untraced pass instead, and reports the layer metrics of
the traced pass.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from contextlib import contextmanager
from typing import Callable

import numpy as np

import gen
import oracle
import pipeline_data
import stats
from metrics import BUILD_OPS, END_TO_END, PER_LAYER, PIPELINE_QUERIES, SERVE_OPS, SPARK_PER_OP, SPARK_PER_RUN
from spans import Tracer
from sparkmeter import MemoryMeter, SparkMeter, cpu_seconds, event_log_file

from arrow_supercluster_spark.config import DEFAULT_OPTIONS, ClusterOptions
from arrow_supercluster_spark.engine import ArrowClusterEngine, ClusterLayer
from arrow_supercluster_spark.operators import grid_cluster as gc
from arrow_supercluster_spark.operators import radius_cluster as rc

BUILD_POINTS = 50_000
APPEND_POINTS = 5_000
RADIUS_POINTS = 5_000
# The radius hierarchy costs about 17 Spark jobs per level whatever the
# corpus size, so its zoom range is what sets the run time; three levels
# keep the whole build pass within the run budget.
RADIUS_OPTS = ClusterOptions(max_zoom=2)
SERVE_POINTS = 20_000
# One serve block: 8 viewport requests (2 of them repeat the previous
# key), 5 get_children, 4 get_leaves, 3 expansion-zoom requests.
BLOCK = {"get_clusters": 8, "get_children": 5, "get_leaves": 4, "get_cluster_expansion_zoom": 3}
REPEAT_VIEWS = (3, 6)  # which of a block's viewport requests repeat the one before


class Run:
    """State of one benchmark run."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, session_s: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        sc = spark.sparkContext
        self.pids = [os.getpid(), int(sc._jvm.java.lang.ProcessHandle.current().pid())]
        log = event_log_file(os.path.join(work, "events"), sc.applicationId) if trace else None
        self.meter = SparkMeter(spark, log)
        self.memory = MemoryMeter(spark)
        self.tracer = Tracer(enabled=False)
        self.spark_ops: dict[str, list[dict]] = {}
        self.op_cpu: list[float] = []
        self.op_mem: list[float] = []
        self.pass_cpu: list[float] = []
        self.checks: list[Callable[[], None]] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def record(self, what: str, error: str | None) -> None:
        """Count one operation and whether its output check failed."""
        self.attempted += 1
        if error is not None:
            self.failed += 1
            print(f"perfbench: {what}: {error}", file=sys.stderr, flush=True)

    def check_all(self) -> None:
        """Run the queued output checks."""
        for check in self.checks:
            check()
        self.checks.clear()

    @contextmanager
    def op(self, name: str):
        """One operation: restart the memory peaks (before the operation
        starts), run it under its own job group, then add its CPU time and
        peak memory to ``op_cpu`` and ``op_mem`` (and, in the traced pass,
        its Spark totals to ``spark_ops``)."""
        sink = self.spark_ops.setdefault(name, []) if self.tracer.enabled else None
        self.memory.restart()
        cpu = cpu_seconds(self.pids)
        with self.meter.op(name, sink):
            yield
            cpu = cpu_seconds(self.pids) - cpu
            mem = self.memory.peak_mib()
        self.op_cpu.append(cpu)
        self.op_mem.append(mem)

    def timed_passes(self, one_pass) -> list[list[tuple[str, float]]]:
        """Run ``one_pass`` until ``seconds`` have elapsed (at least once).
        Each pass returns its ``(operation, seconds)`` latencies; its CPU
        time is the sum of its operations'; its checks wait in ``checks``."""
        passes = []
        self.op_cpu.clear()
        self.op_mem.clear()
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < self.seconds:
            first = len(self.op_cpu)
            passes.append(one_pass())
            self.pass_cpu.append(sum(self.op_cpu[first:]))
        return passes

    def bracketed(self, untraced_pass, traced_pass):
        """Untraced pass, traced pass, untraced pass: returns the traced
        pass's result and the tracing overhead, its wall time less the
        mean of the two around it (which cancels warm-up drift). The event
        log is on for the whole traced run, so its cost is not included."""
        t = time.perf_counter()
        untraced_pass()
        before = time.perf_counter() - t
        self.tracer.enabled = True
        t = time.perf_counter()
        out = traced_pass()
        traced = time.perf_counter() - t
        self.tracer.enabled = False
        t = time.perf_counter()
        untraced_pass()
        after = time.perf_counter() - t
        return out, traced - (before + after) / 2

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def end_to_end(self, setup_s: float, passes) -> dict:
        """The end-to-end metrics, after printing the per-operation detail
        (``detail(passes)``) as a line of its own."""
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": stats.median(self.pass_cpu),
            "op_peak_mem_mib": float(np.mean(self.op_mem)),
        }
        print(json.dumps({"detail": detail(passes)}), flush=True)
        return {name: {"value": values[name], "unit": unit} for name, unit, _, _ in END_TO_END}

    def per_layer(self, values: dict) -> dict:
        """Every layer metric; a layer this workload did not exercise is 0."""
        for field in SPARK_PER_OP:
            for op, totals in self.spark_ops.items():
                values[f"spark.{field}.{op}"] = float(np.mean([t[field] for t in totals]))
        for field in SPARK_PER_RUN:
            values[f"spark.{field}"] = float(sum(sum(t[field] for t in ts) for ts in self.spark_ops.values()))
        unknown = set(values) - {m[0] for m in PER_LAYER}
        if unknown:
            raise KeyError(f"unlisted layer metrics {sorted(unknown)}")
        return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit, _, _ in PER_LAYER}


def detail(passes) -> dict:
    """Per-operation medians, the latency median and tail (the highest
    percentile with ten samples beyond it), throughput, sample counts."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for name, sec in p:
            by_op.setdefault(name, []).append(sec)
    out = {
        f"{name}_s": {"value": stats.median(v), "unit": "s", "samples": len(v)}
        for name, v in sorted(by_op.items())
    }
    ops = [sec for p in passes for _, sec in p]
    out["op_p50_ms"] = {"value": 1000.0 * stats.median(ops), "unit": "ms", "samples": len(ops)}
    pct = stats.tail_percentile(len(ops))
    if pct is not None:
        out[f"op_p{pct}_ms"] = {"value": 1000.0 * stats.nearest_rank(ops, pct), "unit": "ms", "samples": len(ops)}
    out["ops_per_s"] = {"value": len(ops) / sum(ops), "unit": "1/s", "samples": len(ops)}
    out["pass_s"] = {"value": stats.median([sum(sec for _, sec in p) for p in passes]), "unit": "s", "samples": len(passes)}
    return out


# -- build -------------------------------------------------------------------

class BuildInputs:
    """The generated build corpus and its expected leaf levels."""

    def __init__(self, paths: dict):
        self.paths = dict(paths, radius=paths["subset"])
        base_o = oracle.PointsOracle([self.paths["points"]], DEFAULT_OPTIONS)
        all_o = oracle.PointsOracle([self.paths["points"], self.paths["append"]], DEFAULT_OPTIONS)
        rad_o = oracle.PointsOracle([self.paths["radius"]], RADIUS_OPTS)
        self.n_base, self.n_all, self.n_radius = base_o.n_points, all_o.n_points, rad_o.n_points
        self.leaf_base = base_o.level(DEFAULT_OPTIONS.leaf_zoom)
        self.leaf_all = all_o.level(DEFAULT_OPTIONS.leaf_zoom)
        for o in (base_o, all_o, rad_o):
            o.close()


def check_hierarchy(path: str, n: int, leaf) -> str | None:
    opts = DEFAULT_OPTIONS
    sums = oracle.hierarchy_sums(path)
    want = {z: n for z in range(opts.min_zoom, opts.leaf_zoom + 1)}
    if sums != want:
        bad = sorted(z for z in set(sums) | set(want) if sums.get(z) != want.get(z))
        return f"points not conserved at zooms {bad}"
    return oracle.same_nodes(oracle.hierarchy_level(path, opts.leaf_zoom), leaf)


def radius_counts(out) -> dict[int, tuple[int, int]]:
    """zoom → (items, points) of a radius hierarchy."""
    from pyspark.sql import functions as F

    rows = out.groupBy("zoom").agg(F.count(F.lit(1)), F.sum("num_points")).collect()
    return {int(r[0]): (int(r[1]), int(r[2])) for r in rows}


def check_build_pass(run: Run, inp: BuildInputs, name: str, pass_dir: str, out) -> None:
    """Check one build pass's outputs, then delete its files."""
    run.record(f"{name} grid_load", check_hierarchy(f"{pass_dir}/hierarchy", inp.n_base, inp.leaf_base))
    run.record(f"{name} append", check_hierarchy(f"{pass_dir}/hierarchy_gen1", inp.n_all, inp.leaf_all))
    counts = radius_counts(out)
    zooms = range(RADIUS_OPTS.min_zoom, RADIUS_OPTS.leaf_zoom + 1)
    bad = [z for z in zooms if counts.get(z, (0, 0))[1] != inp.n_radius]
    run.record(f"{name} radius_hier", f"points not conserved at zooms {bad}" if bad or len(counts) != len(zooms) else None)
    shutil.rmtree(pass_dir)


def build_pass(run: Run, inp: BuildInputs, name: str) -> tuple[dict, dict]:
    """One load → append → radius-hierarchy pass; its checks are queued.
    Returns op latencies and the pass's directory and radius output."""
    spark = run.spark
    pass_dir = run.path(name)
    eng = ArrowClusterEngine(spark, workdir=pass_dir)
    lat = {}
    with run.op("grid_load"), run.tracer.span("op.grid_load"):
        t = time.perf_counter()
        eng.load(spark.read.parquet(inp.paths["points"]))
        lat["grid_load"] = time.perf_counter() - t
    with run.op("append"), run.tracer.span("op.append"):
        t = time.perf_counter()
        eng.append(spark.read.parquet(inp.paths["append"]))
        lat["append"] = time.perf_counter() - t
    with run.op("radius_hier"), run.tracer.span("op.radius_hier"):
        t = time.perf_counter()
        out = rc.radius_hierarchy(gc.prepare_points(spark.read.parquet(inp.paths["radius"])), RADIUS_OPTS)
        out.write.format("noop").mode("overwrite").save()
        lat["radius_hier"] = time.perf_counter() - t
    run.checks.append(lambda: check_build_pass(run, inp, name, pass_dir, out))
    return lat, {"dir": pass_dir, "out": out}


def layout(path: str, n_points: int) -> dict:
    """File count, bytes and nodes of a written hierarchy, per input point."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    nodes = oracle.hierarchy_nodes(path)
    return {
        "grid_cluster.hierarchy_files": len(files),
        "grid_cluster.hierarchy_bytes_per_point": sum(os.path.getsize(f) for f in files) / n_points,
        "grid_cluster.nodes_per_point": nodes / n_points,
    }


def build(run: Run) -> dict:
    t = time.perf_counter()
    paths = gen.write_points(run.path("build_data"), run.seed, BUILD_POINTS, APPEND_POINTS, RADIUS_POINTS)
    inp = BuildInputs(paths)
    build_pass(run, inp, "warmup")
    setup_s = run.session_s + (time.perf_counter() - t)

    counter = iter(range(1_000_000))

    def one_pass():
        lat, _ = build_pass(run, inp, f"pass{next(counter)}")
        return list(lat.items())

    if not run.trace:
        metrics = run.end_to_end(setup_s, run.timed_passes(one_pass))
    else:
        metrics = run.per_layer(build_traced(run, inp, one_pass))
    run.check_all()
    return run.result(metrics)


def build_traced(run: Run, inp: BuildInputs, untraced_pass) -> dict:
    spark, tr = run.spark, run.tracer
    targets = [
        (gc, "materialize_from_leaf", "grid_cluster.materialize_from_leaf"),
        (rc, "radius_cluster_level", "radius_cluster.radius_cluster_level"),
    ]

    def traced_pass():
        with tr.wrapping(targets):
            return build_pass(run, inp, "traced")

    (lat, info), overhead = run.bracketed(untraced_pass, traced_pass)
    v = {f"op.{op}_s": lat[op] for op in BUILD_OPS}
    v["trace.overhead_s"] = overhead
    tr.enabled = True  # for the layer probes below
    v["grid_cluster.materialize_from_leaf_s"] = sum(tr.self_times("grid_cluster.materialize_from_leaf"))
    v.update(layout(f"{info['dir']}/hierarchy", inp.n_base))
    counts = radius_counts(info["out"])
    levels_run = len(tr.self_times("radius_cluster.radius_cluster_level"))
    shrank = sum(
        1 for z in range(RADIUS_OPTS.min_zoom, RADIUS_OPTS.max_zoom + 1)
        if counts.get(z, (0, 0))[0] < counts.get(z + 1, (0, 0))[0]
    )
    v["radius_cluster.useful_level_ratio"] = shrank / levels_run if levels_run else 0.0

    # layers that run lazily inside load/append, timed on their own
    leaf = DEFAULT_OPTIONS.leaf_zoom
    pts = spark.read.parquet(inp.paths["points"])
    with tr.span("sources.prepare_points"):
        gc.prepare_points(pts).write.format("noop").mode("overwrite").save()
    prepared = gc.prepare_points(pts)
    with tr.span("grid_cluster.cell_agg"):
        gc.cell_agg(gc.with_cells(prepared, leaf), leaf).write.format("noop").mode("overwrite").save()
    old_leaf = spark.read.parquet(f"{info['dir']}/hierarchy").filter(f"zoom = {leaf}").drop("zoom")
    new_leaf = gc.cell_agg(gc.with_cells(gc.prepare_points(spark.read.parquet(inp.paths["append"])), leaf), leaf)
    with tr.span("grid_cluster.merge_leaf_aggregates"):
        gc.merge_leaf_aggregates(old_leaf, new_leaf.drop("zoom")).write.format("noop").mode("overwrite").save()
    items = gc.prepare_points(spark.read.parquet(inp.paths["radius"])).selectExpr(
        "id", "x", "y", "CAST(1 AS BIGINT) AS num_points"
    ).localCheckpoint()
    with tr.span("radius_cluster.radius_cluster_level"):
        rc.radius_cluster_level(items, RADIUS_OPTS.max_zoom, RADIUS_OPTS).write.format("noop").mode("overwrite").save()
    for name in ("sources.prepare_points", "grid_cluster.cell_agg", "grid_cluster.merge_leaf_aggregates"):
        v[f"{name}_s"] = tr.self_times(name)[-1]
    v["radius_cluster.radius_cluster_level_s"] = tr.self_times("radius_cluster.radius_cluster_level")[-1]
    return v


# -- serve -------------------------------------------------------------------

ZOOMS = {  # zoom range per request kind; children and expansion need a finer level
    "get_clusters": (0, DEFAULT_OPTIONS.leaf_zoom),
    "get_children": (0, DEFAULT_OPTIONS.max_zoom),
    "get_leaves": (0, DEFAULT_OPTIONS.leaf_zoom),
    "get_cluster_expansion_zoom": (0, DEFAULT_OPTIONS.max_zoom),
}


def block_zooms(lo: int, hi: int, k: int, block: int) -> list[int]:
    """``k`` zooms from lo..hi, one from each of ``k`` equal strata, moving
    through each stratum from block to block: every block spans the zoom
    range, and the zooms do not depend on the seed, so blocks cost alike."""
    return [int(s[block % len(s)]) for s in np.array_split(np.arange(lo, hi + 1), k)]


class RequestMaker:
    """Seeded request blocks over the expected node table."""

    def __init__(self, nodes, rng):
        self.rng = rng
        self.by_zoom = {z: g.reset_index(drop=True) for z, g in nodes.groupby("zoom")}
        self.last_view = None
        self.blocks = 0

    def _node(self, zoom: int, min_points: int):
        g = self.by_zoom[zoom]
        if (g.num_points >= min_points).any():
            g = g[g.num_points >= min_points]
        return g.iloc[int(self.rng.integers(len(g)))]

    def _view(self, zoom: int):
        rng = self.rng
        width = 360.0 / 2.0**zoom * 3.0 * rng.uniform(0.7, 1.4)
        if width >= 360.0:
            return (-180.0, -85.0, 180.0, 85.0)
        node = self._node(zoom, 1)
        lng = float(node.lng)
        if rng.random() < 0.15:  # a view across the antimeridian
            lng = 180.0 - width / 4.0 if lng > 0 else -180.0 + width / 4.0
        lat = float(np.clip(node.lat, -80.0, 80.0))
        half_h = min(width * 0.3, 85.0)
        return (lng - width / 2, max(-85.0, lat - half_h), lng + width / 2, min(85.0, lat + half_h))

    def block(self) -> list[tuple]:
        kinds = [k for k, n in BLOCK.items() for _ in range(n)]
        kinds = [kinds[i] for i in self.rng.permutation(len(kinds))]
        fresh = dict(BLOCK, get_clusters=BLOCK["get_clusters"] - len(REPEAT_VIEWS))
        zooms = {k: iter(self.rng.permutation(block_zooms(*ZOOMS[k], n, self.blocks))) for k, n in fresh.items()}
        self.blocks += 1
        out, n_views = [], 0
        for kind in kinds:
            if kind == "get_clusters":
                n_views += 1
                if n_views in REPEAT_VIEWS:
                    zoom, box = self.last_view
                else:
                    z = int(next(zooms[kind]))
                    zoom, box = z, self._view(z)
                    self.last_view = (zoom, box)
                out.append((kind, (zoom + float(self.rng.uniform(0.0, 0.99)), box)))
                continue
            z = int(next(zooms[kind]))
            node = self._node(z, 1 if kind == "get_leaves" else 2)
            cell = (z, int(node.cell_x), int(node.cell_y))
            if kind == "get_leaves":
                limit = int(self.rng.integers(5, 51))
                offset = int(self.rng.integers(0, max(1, min(int(node.num_points), 100))))
                out.append((kind, cell + (limit, offset)))
            else:
                out.append((kind, cell))
        return out


def serve_request(layer: ClusterLayer, kind: str, args):
    eng = layer._engine
    if kind == "get_clusters":
        zoom, box = args
        return layer.get_clusters(zoom, box)
    if kind == "get_children":
        return eng.get_children(*args).collect()
    if kind == "get_leaves":
        z, cx, cy, limit, offset = args
        return eng.get_leaves(z, cx, cy, limit=limit, offset=offset).collect()
    return eng.get_cluster_expansion_zoom(*args)


def check_request(orc: oracle.PointsOracle, kind: str, args, got) -> str | None:
    node_exact = ["zoom", "cell_x", "cell_y", "num_points", "is_cluster", "rep_id"]
    if kind == "get_clusters":
        zoom, box = args
        return oracle.same_rows([r.asDict() for r in got], orc.clusters(math.floor(zoom), box), node_exact, ["lng", "lat"])
    if kind == "get_children":
        return oracle.same_rows([r.asDict() for r in got], orc.children(*args), node_exact, ["lng", "lat"])
    if kind == "get_leaves":
        return oracle.same_rows([r.asDict() for r in got], orc.leaves(*args), ["rank", "id", "lng", "lat", "city"], [])
    want = orc.expansion_zoom(*args)
    return None if got == want else f"expansion zoom {got}, expected {want}"


def serve(run: Run) -> dict:
    t = time.perf_counter()
    paths = gen.write_points(run.path("serve_data"), run.seed, SERVE_POINTS)
    orc = oracle.PointsOracle([paths["points"]], DEFAULT_OPTIONS)
    orc.make_node_table()
    layer = ClusterLayer(run.spark, workdir=run.path("engine"))
    layer.set_data(run.spark.read.parquet(paths["points"]))
    maker = RequestMaker(orc.nodes(), np.random.default_rng(run.seed))
    served = []

    def one_pass():
        lat = []
        for kind, args in maker.block():
            with run.op(kind), run.tracer.span(f"serve.{kind}"):
                t0 = time.perf_counter()
                got = serve_request(layer, kind, args)
                lat.append((kind, time.perf_counter() - t0))
            served.append((kind, args, got))
        return lat

    one_pass()  # warm-up
    setup_s = run.session_s + (time.perf_counter() - t)

    if not run.trace:
        metrics = run.end_to_end(setup_s, run.timed_passes(one_pass))
    else:
        metrics = run.per_layer(serve_traced(run, layer, orc, one_pass, served))
    for kind, args, got in served:
        run.record(f"serve {kind}{args}", check_request(orc, kind, args, got))
    orc.close()
    return run.result(metrics)


def serve_traced(run: Run, layer, orc, untraced_pass, served) -> dict:
    tr = run.tracer

    def traced_pass():
        first = len(served)
        with tr.wrapping([(layer._engine, "get_clusters", "engine.ArrowClusterEngine.get_clusters")]):
            untraced_pass()
        return served[first:]

    traced, overhead = run.bracketed(untraced_pass, traced_pass)
    v = {"trace.overhead_s": overhead}
    for op in SERVE_OPS:
        v[f"engine.{op}_ms"] = 1000.0 * stats.median([s.duration for s in tr.spans if s.name == f"serve.{op}"])
    views = sum(1 for k, _, _ in traced if k == "get_clusters")
    v["engine.layer_hit_ratio"] = 1.0 - len(tr.self_times("engine.ArrowClusterEngine.get_clusters")) / views
    rows = [1 if isinstance(got, int) else len(got) for _, _, got in traced]
    v["engine.rows_per_query"] = float(np.mean(rows))
    v.update(layout(f"{layer._engine.workdir}/hierarchy", orc.n_points))
    return v


# -- pipeline ----------------------------------------------------------------

def pipeline(run: Run) -> dict:
    import __spark_entry__

    queries = __spark_entry__.queries()
    spark = run.spark
    t = time.perf_counter()
    data = pipeline_data.write_tables(run.path("pipeline_data"))
    expected = pipeline_data.load_expected()
    rng = np.random.default_rng(run.seed)
    for q in [PIPELINE_QUERIES[i] for i in rng.permutation(len(PIPELINE_QUERIES))]:
        with run.op(q):
            got = oracle.frame_digest(queries[q](spark, data).toPandas())
        run.record(q, None if got == expected[q] else f"result digest {got}, expected {expected[q]}")
    setup_s = run.session_s + (time.perf_counter() - t)

    def one_pass(mem=None):
        lat = []
        for q in [PIPELINE_QUERIES[i] for i in rng.permutation(len(PIPELINE_QUERIES))]:
            with run.op(q), run.tracer.span(f"plans.{q}"):
                t0 = time.perf_counter()
                queries[q](spark, data).write.format("noop").mode("overwrite").save()
                lat.append((q, time.perf_counter() - t0))
            if mem is not None:
                mem[q] = run.op_mem[-1]
            run.record(q, None)
        return lat

    if not run.trace:
        return run.result(run.end_to_end(setup_s, run.timed_passes(one_pass)))
    mem: dict[str, float] = {}
    lat, overhead = run.bracketed(one_pass, lambda: one_pass(mem))
    v = {"trace.overhead_s": overhead, "op.pipeline_s": sum(sec for _, sec in lat)}
    for q in PIPELINE_QUERIES:
        v[f"plans.{q}_s"] = run.tracer.self_times(f"plans.{q}")[-1]
        v[f"peak_mem_mib.{q}"] = mem[q]
    return run.result(run.per_layer(v))


WORKLOADS = {"build": build, "serve": serve, "pipeline": pipeline}
