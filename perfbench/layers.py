"""The per-layer metric catalogue of traced runs.

Names are ``<module>.<function>.<measure>``; each value is the median
over the calls the traced window made. A layer the workload does not
call reports 0. What each one should move is listed in README.md.
"""

from __future__ import annotations

import statistics

from perfbench import trace
from perfbench.workloads import CURATION_QUERIES, WAREHOUSE_QUERIES

_UNITS = {
    "wall_s": "s",
    "build_s": "s",
    "serve_s": "s",
    "driver_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "batches": "count",
    "files_read": "count",
    "files_removed": "count",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "bytes_written": "bytes",
    "files_rewritten_ratio": "ratio",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "op_mean_s": "s",
}

_TF = "operators.table_format."
_MAINTENANCE = ("wall_s", "jobs", "driver_s", "files_removed")

CATALOGUE: list[tuple[str, tuple[str, ...]]] = [
    (
        "etl.run_citibike_etl",
        ("wall_s", "jobs", "stages", "tasks", "driver_s", "exec_cpu_s",
         "shuffle_bytes", "spill_bytes", "gc_s", "bytes_written"),
    ),
    ("sources.readers.read_ride_csv", ("wall_s", "exec_cpu_s", "input_bytes")),
    ("operators.dims.build_date_dim", ("wall_s", "shuffle_bytes")),
    ("operators.dims.build_station_dim", ("wall_s", "shuffle_bytes")),
    ("operators.fact.build_ride_fact", ("wall_s", "shuffle_bytes", "spill_bytes")),
    *[(f"plans.{q}", ("build_s", "serve_s", "jobs", "stages", "exec_cpu_s")) for q in WAREHOUSE_QUERIES],
    (
        _TF + "fl_merge_upsert",
        ("wall_s", "jobs", "stages", "tasks", "driver_s", "exec_cpu_s",
         "shuffle_bytes", "bytes_written", "files_rewritten_ratio"),
    ),
    (_TF + "fl_delete", ("wall_s", "jobs", "driver_s", "bytes_written")),
    (_TF + "fl_read_mor", ("wall_s", "jobs", "driver_s", "input_bytes", "files_read")),
    ("streaming.changes_feed.replicate_changes", ("wall_s", "jobs", "driver_s", "batches")),
    (_TF + "fl_optimize", (*_MAINTENANCE, "bytes_written")),
    (_TF + "fl_compact", (*_MAINTENANCE, "bytes_written")),
    (_TF + "fl_vacuum", _MAINTENANCE),
    (_TF + "commits", ("write_amp", "space_amp")),
    *[(f"plans.{q}", ("build_s", "serve_s", "jobs", "exec_cpu_s")) for q in CURATION_QUERIES],
    ("tracing.overhead", ("op_mean_s",)),
]


def per_layer(wl, tracer, log_dir: str, untraced: list[float], traced: list[float]):
    """Fold the event log into the traced window's spans and read the
    catalogue off them. Returns (metrics, metadata)."""
    jobs = trace.read_event_logs(log_dir)
    counts = trace.fold(tracer.spans, jobs)
    medians = trace.per_name(tracer.spans)
    # a query's build and serve are child spans of the query's span
    for name, m in list(medians.items()):
        for part in ("build", "serve"):
            child = medians.get(f"{name}.{part}")
            if child is not None:
                m[f"{part}_s"] = child["wall_s"]
    summary = wl.summary()
    medians[_TF + "commits"] = {
        k: summary[k] for k in ("write_amp", "space_amp") if k in summary
    }
    overhead = statistics.fmean(traced) - statistics.fmean(untraced) if traced and untraced else 0.0
    medians["tracing.overhead"] = {"op_mean_s": overhead}

    metrics = {}
    for span, measures in CATALOGUE:
        for m in measures:
            metrics[f"{span}.{m}"] = (float(medians.get(span, {}).get(m, 0.0)), _UNITS[m])
    meta = {
        "jobs_attributed": counts["attributed"],
        "jobs_unattributed": counts["unattributed"],
        "spans": len(tracer.spans),
        "untraced_op_mean_s": statistics.fmean(untraced) if untraced else None,
        "traced_op_mean_s": statistics.fmean(traced) if traced else None,
        "span_calls": {k: v["calls"] for k, v in medians.items() if "calls" in v},
    }
    return metrics, meta
