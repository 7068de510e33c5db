"""The per-layer metrics of a traced run.

``PER_LAYER`` fixes every name, unit and direction; each workload reports
all of them, 0 where the layer does not run. ``collect`` merges the
numbers a workload measured in-process (prefix timings, cache counters)
with the ones read from the Spark event log.
"""

from __future__ import annotations

import statistics

import eventlog

# (spark job group, layer label) — the groups workloads.py tags jobs with
SPARK_GROUPS = (("pip", "pip_job"), ("knn", "knn_job"), ("pyramid", "pyramid_job"),
                ("focal", "focal_job"), ("mask", "mask_job"), ("request", "request_jobs"))
SPARK_METRICS = (("task_cpu_s", "s", "lower"), ("gc_s", "s", "lower"),
                 ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
                 ("failed_tasks", "count", "lower"))

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.extract_geometry_s", "s", "lower"),
    ("sources.docs_rows", "count", "lower"),
    ("sources.geo_rows", "count", "lower"),
    ("spatial_join.cover_build_s", "s", "lower"),
    ("spatial_join.pip_s", "s", "lower"),
    ("spatial_join.matched_rows", "count", "higher"),
    ("spatial_join.match_ratio", "ratio", "higher"),
    ("tiling.key_agg_s", "s", "lower"),
    ("tiling.key_agg_shuffle_bytes", "bytes", "lower"),
    ("tiling.rasterize_s", "s", "lower"),
    ("tiling.pyramid_up_s", "s", "lower"),
    ("tiling.pyramid_write_s", "s", "lower"),
    ("tiling.pyramid_tiles", "count", "higher"),
    ("knn.bulk_s", "s", "lower"),
    ("knn.jobs", "count", "lower"),
    ("knn.result_rows", "count", "higher"),
    ("maml.focal_s", "s", "lower"),
    ("maml.mask_s", "s", "lower"),
    ("maml.focal_shuffle_bytes", "bytes", "lower"),
    ("engine.get_tile_ms", "ms", "lower"),
    ("engine.render_ms", "ms", "lower"),
    ("engine.feature_info_ms", "ms", "lower"),
    ("engine.jobs_per_request", "count", "lower"),
    ("cache.hit_ratio", "ratio", "higher"),
    ("cache.hits", "count", "higher"),
    ("cache.misses", "count", "lower"),
    ("cache.invalidations", "count", "lower"),
] + [(f"spark.{label}.{m}", unit, better)
     for _, label in SPARK_GROUPS for m, unit, better in SPARK_METRICS]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def collect(workload: str, measured: dict, log_dir: str, session_s: float) -> dict:
    log = eventlog.EventLog(log_dir)
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out["session.start_s"] = session_s
    per_request = measured.pop("_requests_with_jobs", 0)
    out.update(measured)
    for group, label in SPARK_GROUPS:
        if group == "request":
            g = log.groups.get(group, eventlog.GroupStats())
            n = max(per_request, 1)
            s = eventlog.GroupStats(jobs=g.jobs / n, cpu_s=g.cpu_s / n, gc_s=g.gc_s / n,
                                 shuffle_write_bytes=g.shuffle_write_bytes / n,
                                 spill_bytes=g.spill_bytes / n, failed_tasks=g.failed_tasks)
            if per_request:
                out["engine.jobs_per_request"] = s.jobs
        else:
            s = log.per_iteration(group)
        out[f"spark.{label}.task_cpu_s"] = s.cpu_s
        out[f"spark.{label}.gc_s"] = s.gc_s
        out[f"spark.{label}.shuffle_write_bytes"] = s.shuffle_write_bytes
        out[f"spark.{label}.spill_bytes"] = s.spill_bytes
        out[f"spark.{label}.failed_tasks"] = s.failed_tasks

    if workload == "docs_join":
        counts: dict[str, list] = {}
        for execs in log.executions_of("pip").values():
            for ex in execs:
                if ex.plan:
                    for k, v in eventlog.join_rows(log, ex.plan).items():
                        counts.setdefault(k, []).append(v)
        out["sources.docs_rows"] = _median(counts.get("docs_rows"))
        out["sources.geo_rows"] = _median(counts.get("geo_rows"))
        matched = _median(counts.get("matched_rows"))
        geo = out["sources.geo_rows"]
        out["spatial_join.matched_rows"] = matched
        out["spatial_join.match_ratio"] = matched / geo if geo else 0.0
        out["tiling.key_agg_shuffle_bytes"] = log.per_iteration("pip").shuffle_write_bytes
        out["knn.jobs"] = log.per_iteration("knn").jobs
    if workload in ("raster_pyramid", "tile_serving"):
        first, rest = [], []
        for execs in log.executions_of("pyramid").values():
            first.append(execs[0].seconds)
            rest.append(sum(e.seconds for e in execs[1:]))
        out["tiling.pyramid_up_s"] = _median(rest)
        out["tiling.pyramid_write_s"] = _median(first) - out["tiling.rasterize_s"]
        out["maml.focal_shuffle_bytes"] = log.per_iteration("focal").shuffle_write_bytes
    return out
