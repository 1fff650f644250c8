"""Turn one harness result (raw samples) into the reported metrics."""
import math
import statistics

END_TO_END = {"setup_s": "s", "suite_s": "s", "peak_heap_mb": "MB"}
PER_LAYER = {
    "tables.resolve_cold_ms": "ms", "tables.resolve_hit_ms": "ms",
    "query.construct_s": "s", "query.construct_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "exec.peak_mem_mb": "MB", "driver.result_mb": "MB",
    "stage.staged": "count", "stage.cached_mb": "MB", "stage.release_s": "s",
    "osm.official_s": "s", "osm.ingest_nodes_s": "s",
    "osm.ingest_ways_s": "s", "osm.fix_node_tags_s": "s",
    "osm.fix_way_tags_s": "s", "osm.update_history_s": "s",
    "osm.csv_write_s": "s", "osm.audit_s": "s", "osm.explore_s": "s",
    "osm.csv_bytes_per_input_byte": "ratio", "osm.fixes_phone": "count",
    "osm.fixes_name": "count", "trace.suite_s": "s",
}
# traced figures printed as text only: spill is 0 on both workloads (nothing
# spills at their sizes with the default memory settings)
PRINTED_LAYER = {"spill.mb": "MB"}
P90_MIN_BEYOND = 10


def p90(samples):
    """The 90th percentile, or None unless at least P90_MIN_BEYOND samples
    lie strictly beyond it."""
    if len(samples) < 2:
        return None
    q = statistics.quantiles(samples, n=10, method="inclusive")[8]
    beyond = sum(1 for s in samples if s > q)
    return q if beyond >= P90_MIN_BEYOND else None


def report(raw, workload, trace):
    """{'correct', 'metrics': {name: {value, unit}}, 'printed': {name:
    (value, unit)}} — `metrics` holds exactly the end-to-end metrics
    (trace off) or the per-layer metrics (trace on); `printed` adds the
    figures reported only as text (median and, where the sample rule
    allows it, p90 latency, fail rate, the OSM ETL throughput and explore
    time)."""
    lat = [o["s"] for o in raw["ops"] if o["ok"]]
    e2e = {
        "setup_s": raw["setup_s"],
        "suite_s": statistics.median(raw["passes_s"]),
        "peak_heap_mb": raw["peak_heap_mb"],
    }
    printed = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    printed["query_p50_s"] = (statistics.median(lat) if lat else math.nan,
                              "s")
    q90 = p90(lat)
    if q90 is not None:
        printed["query_p90_s"] = (q90, "s")
    printed["query_samples"] = (len(lat), "count")
    printed["warmup_s"] = (raw["warmup_s"], "s")
    printed["fail_rate"] = (raw["failed"] / max(1, raw["attempted"]),
                            "ratio")
    if workload == "osm_etl":
        etl = statistics.median(raw["etl_s"]) if raw["etl_s"] else math.nan
        printed["etl_mb_s"] = (raw["input_mb"] / etl, "MB/s")
        printed["etl_s"] = (etl, "s")
        printed["explore_s"] = (statistics.median(raw["explore_s"])
                                if raw["explore_s"] else math.nan, "s")
    if trace:
        layers = raw["layers"]
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        printed.update({k: (layers[k], u) for k, u in
                        {**PER_LAYER, **PRINTED_LAYER}.items()})
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    correct = (raw["failed"] == 0 and raw["attempted"] > 0 and
               all(math.isfinite(m["value"]) for m in metrics.values()))
    return {"correct": correct, "metrics": metrics, "printed": printed}
