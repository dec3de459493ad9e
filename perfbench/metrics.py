"""The benchmark's metrics, and which end-to-end metric each layer metric
should move.

Every run reports every metric of its kind, whatever the workload: the
end-to-end metrics are defined over the workload's own operation stream,
and a layer metric of a layer the workload does not exercise reads 0.

End-to-end (``--trace 0``), per workload:

* ``setup_s``      session start, input generation, oracle preparation
                   and the untimed warm-up pass.
* ``pass_cpu_s``   median CPU time (user + system) of the Python driver,
                   the JVM and the Python workers over one pass of the
                   workload's operation set, summed over its operations
                   (so the full GCs between them are left out): build = load, append, radius
                   hierarchy; serve = one 20-request block; pipeline = the
                   query set.
* ``op_peak_mem_mib`` mean, over the timed operations, of each one's peak
                   memory: the Python driver's resident-set high-water mark
                   plus the JVM's peak old-generation and non-heap use,
                   from a full GC just before the operation (see
                   ``sparkmeter.MemoryMeter``). Each operation is measured
                   from a collected heap because over a whole pass the old
                   generation also piles up garbage promoted by earlier
                   operations, which made a pass's peak spread 6-18 %
                   over five seeds.

Wall time is what a user waits for, but on a shared 4-core host the
quartile spread of a pass's wall time over ten seeds was 20-30 %, more
than any bound allows, while its CPU time spread 4-13 %. So the
gated metrics are CPU time and memory, and every untraced run prints the
wall-time figures on a ``detail`` line before the result: per-operation
medians (``grid_load_s``, ``append_s``, ``radius_hier_s``, each query's
``<name>_s``, each request kind's), ``pass_s`` (the pipeline's total query
time), ``op_p50_ms``, the highest percentile with ten samples beyond it,
and ``ops_per_s``, each with its sample count.

``BENCHMARK.json`` lists the same names; ``tests/test_perfbench_config``
keeps the two in step.
"""

from __future__ import annotations

BUILD_OPS = ("grid_load", "append", "radius_hier")
SERVE_OPS = ("get_clusters", "get_children", "get_leaves", "get_cluster_expansion_zoom")
# One query per pipeline layer plus the set-similarity join. Left out:
# q_dedup_minhash (no SQL twin to check against) and, to fit the run
# budget, q_dup_components (dedup is covered by q_dedup_exact), q_label_prop,
# q_triangle_count (graph is covered by q_pagerank) and q_dbscan.
PIPELINE_QUERIES = (
    "q_dedup_exact", "q_cosine_topk", "q_top_tokens", "q_decontam_auto",
    "q_setsim_join", "q_lof_outliers", "q_pagerank",
)

# name, unit, better, bound. Quartile spreads over five seeds on a shared
# 4-core host: setup_s 2-8 %, pass_cpu_s 4-13 %, op_peak_mem_mib 1-4 %; a
# 256 MiB array held from load onwards raises build's op_peak_mem_mib 16 %.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
    ("op_peak_mem_mib", "MiB", "lower", 0.15),
)

# Spark totals kept per operation; the rest are summed per run.
SPARK_PER_OP = ("jobs", "stages", "shuffle_write_bytes", "executor_run_s", "scheduler_delay_s", "python_bytes_sent")
SPARK_PER_RUN = ("tasks", "spill_bytes")
SPARK_UNITS = {
    "jobs": ("count", "lower"), "stages": ("count", "lower"), "tasks": ("count", "lower"),
    "shuffle_write_bytes": ("B", "lower"), "spill_bytes": ("B", "lower"),
    "executor_run_s": ("s", "lower"), "scheduler_delay_s": ("s", "lower"),
    "python_bytes_sent": ("B", "lower"),
}


def _per_layer():
    """(name, unit, better, the end-to-end metric it should move)."""
    out = [
        ("op.grid_load_s", "s", "lower", "pass_cpu_s on build"),
        ("op.append_s", "s", "lower", "pass_cpu_s on build"),
        ("op.radius_hier_s", "s", "lower", "pass_cpu_s on build"),
        ("op.pipeline_s", "s", "lower", "pass_cpu_s on pipeline"),
        ("sources.prepare_points_s", "s", "lower", "op.grid_load_s, pass_cpu_s on build"),
        ("grid_cluster.cell_agg_s", "s", "lower", "op.grid_load_s, pass_cpu_s on build"),
        ("grid_cluster.materialize_from_leaf_s", "s", "lower", "op.grid_load_s and op.append_s on build"),
        ("grid_cluster.merge_leaf_aggregates_s", "s", "lower", "op.append_s on build"),
        ("grid_cluster.nodes_per_point", "nodes/point", "lower", "op.grid_load_s on build, engine.*_ms on serve"),
        ("grid_cluster.hierarchy_files", "count", "lower", "op.grid_load_s on build, engine.*_ms on serve"),
        ("grid_cluster.hierarchy_bytes_per_point", "B/point", "lower", "op.grid_load_s on build, engine.*_ms on serve"),
        ("radius_cluster.radius_cluster_level_s", "s", "lower", "op.radius_hier_s on build"),
        ("radius_cluster.useful_level_ratio", "ratio", "higher", "op.radius_hier_s on build"),
    ]
    for op in SERVE_OPS:
        out.append((f"engine.{op}_ms", "ms", "lower", "pass_cpu_s on serve"))
    out += [
        ("engine.layer_hit_ratio", "ratio", "higher", "pass_cpu_s on serve"),
        ("engine.rows_per_query", "rows", "lower", "pass_cpu_s on serve"),
    ]
    for q in PIPELINE_QUERIES:
        out.append((f"plans.{q}_s", "s", "lower", "op.pipeline_s, pass_cpu_s on pipeline"))
    for q in PIPELINE_QUERIES:
        out.append((f"peak_mem_mib.{q}", "MiB", "lower", "op_peak_mem_mib on pipeline"))
    for field in SPARK_PER_OP:
        unit, better = SPARK_UNITS[field]
        for op in BUILD_OPS + SERVE_OPS + PIPELINE_QUERIES:
            out.append((f"spark.{field}.{op}", unit, better, f"the end-to-end time of {op}"))
    for field in SPARK_PER_RUN:
        unit, better = SPARK_UNITS[field]
        out.append((f"spark.{field}", unit, better, "pass_cpu_s on every workload"))
    out.append(("trace.overhead_s", "s", "lower", "none: traced minus untraced pass wall time"))
    return tuple(out)


PER_LAYER = _per_layer()
