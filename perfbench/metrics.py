"""Metric definitions: what each run reports, with units and direction.

``END_TO_END`` and ``PER_LAYER`` are the metrics of the result line
(``--trace 0`` and ``--trace 1``); BENCHMARK.json lists the same names.
``REPORT_ONLY`` are end-to-end figures printed for the workloads they
apply to, but not part of the result line, because a result line must
carry the same non-zero metrics on every workload.
"""

from __future__ import annotations

# name, unit, better, bound (share of the parent's median)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("select_p50_s", "s", "lower", 0.25),
    ("queries_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
)

# name, unit, applies to
REPORT_ONLY = (
    ("select_p90_s", "s", ("interactive", "ingest")),
    ("insert_p50_s", "s", ("ingest",)),
    ("insert_p90_s", "s", ("ingest",)),
    ("insert_rows_per_s", "rows/s", ("ingest",)),
    ("merge_p50_s", "s", ("ingest",)),
    ("write_amp", "ratio", ("ingest",)),
    ("space_amp", "ratio", ("ingest",)),
    ("error_rate", "ratio", ("interactive", "ingest")),
)

# name, unit, better. Per-workload values are means per timed operation
# of the traced run, except ratios (formed from run totals) and session.*.
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("operators.grank_s", "s", "lower"),
    ("operators.join_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.executor_run_s", "s", "lower"),
    ("exec.executor_cpu_s", "s", "lower"),
    ("exec.scheduler_delay_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.core_utilization", "ratio", "higher"),
    ("tables.load_table_s", "s", "lower"),
    ("tables.relation_cache_hit_ratio", "ratio", "higher"),
    ("tables.scan_files", "count", "lower"),
    ("tables.scan_rows", "count", "lower"),
    ("tables.scan_bytes", "bytes", "lower"),
    ("tables.scan_time_ms", "ms", "lower"),
    ("functions.python_rows", "count", "lower"),
    ("functions.python_bytes_sent", "bytes", "lower"),
    ("functions.python_bytes_received", "bytes", "lower"),
    ("functions.python_eval_ms", "ms", "lower"),
    ("pipeline.candidate_pairs", "count", "lower"),
    ("pipeline.pairs_kept_ratio", "ratio", "higher"),
    ("ch_sql.statement_self_s", "s", "lower"),
    ("ch_sql.translate_s", "s", "lower"),
    ("ch_sql.translate_calls", "count", "lower"),
    ("ch_sql.translate_cache_hit_ratio", "ratio", "higher"),
    ("sources.parse_s", "s", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.merge_s", "s", "lower"),
    ("sources.files_written", "count", "lower"),
    ("sources.bytes_written", "bytes", "lower"),
    ("sources.live_files", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(ops: list[dict], counts: dict, session: dict, cores: int,
              overhead_s: float) -> dict[str, float]:
    """Per-workload aggregates of the traced run's operation records."""
    n = max(1, len(ops))
    tot: dict[str, float] = {}
    for rec in ops:
        for k, v in rec.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                tot[k] = tot.get(k, 0.0) + v
    out = {}
    for name, *_ in PER_LAYER:
        out[name] = tot.get(name, 0.0) / n
    out["session.start_s"] = session.get("start_s", 0.0)
    out["session.warmup_s"] = session.get("warmup_s", 0.0)
    out["exec.core_utilization"] = _ratio(
        tot.get("exec.exec_run_s", 0.0),
        tot.get("exec.exec_wall_s", 0.0) * cores)
    hits = counts.get("tables.cache_hits", 0)
    out["tables.relation_cache_hit_ratio"] = _ratio(
        hits, hits + counts.get("tables.cache_misses", 0))
    out["pipeline.pairs_kept_ratio"] = _ratio(
        tot.get("pipeline.output_rows", 0.0),
        tot.get("pipeline.candidate_pairs", 0.0))
    calls = tot.get("ch_sql.translate_calls", 0.0)
    out["ch_sql.translate_cache_hit_ratio"] = _ratio(
        max(0.0, calls - counts.get("ch_sql.translate_miss", 0)), calls)
    out["trace.overhead_s"] = overhead_s
    return out


def classify(ops: list[dict], cores: int) -> dict[str, dict]:
    """Per query: latency-bound or work-bound, from how much of the
    execute wall time the executors kept the cores busy and how many
    tasks a stage had to spread over them."""
    by: dict[str, dict] = {}
    for rec in ops:
        d = by.setdefault(rec["op"], {"n": 0, "latency_s": 0.0,
                                      "run_s": 0.0, "wall_s": 0.0,
                                      "tasks": 0, "stages": 0,
                                      "build_s": 0.0, "jobs": 0})
        d["n"] += 1
        d["latency_s"] += rec["latency_s"]
        d["build_s"] += rec["queries.build_s"]
        d["run_s"] += rec["exec.exec_run_s"]
        d["wall_s"] += rec["exec.exec_wall_s"]
        d["tasks"] += rec["exec.tasks"]
        d["stages"] += rec["exec.stages"]
        d["jobs"] += rec["exec.jobs"]
    out = {}
    for name, d in by.items():
        util = _ratio(d["run_s"], d["wall_s"] * cores)
        tps = _ratio(d["tasks"], d["stages"])
        out[name] = {
            "latency_s": d["latency_s"] / d["n"],
            "build_share": _ratio(d["build_s"], d["latency_s"]),
            "jobs": d["jobs"] / d["n"],
            "core_utilization": util,
            "tasks_per_stage": tps,
            "bound": ("work" if util >= 0.5 and tps >= cores / 2
                      else "latency"),
        }
    return out
