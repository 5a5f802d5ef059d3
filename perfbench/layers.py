"""Per-layer metrics of one traced job, from Spark's record of it.

Layer names are repository modules plus ``spark`` for the execution
substrate. Plan nodes are attributed to a layer by what the node runs,
as its plan description shows it: the extract ``MapInPandas`` emits
``url, feat_id, kind, lon, lat``; the spatial join's exact test is the
``pip`` Arrow UDF; tiling is ``FlatMapGroupsInPandas``. In vector_copy
every Python node of a FlatGeobuf job counts to ``fgb`` and of a
GeoPackage job to ``gpkg``.
"""

from __future__ import annotations

import os
import re

from perfbench.sparkstats import GroupRecord, PlanNode
from perfbench.trace import union_length

PY_TIME = "pythonTotalTime"
PY_BOOT = "pythonBootTime"
PY_SENT = "pythonDataSent"
PY_RECV = "pythonDataReceived"
PY_ROWS = "pythonNumRowsReceived"
ROWS = "numOutputRows"

_EXTRACT_OUT = re.compile(
    r"\[url#\d+L?, feat_id#\d+, kind#\d+, lon#\d+, lat#\d+\]")

# every per-layer metric the traced run reports, with its unit
METRICS = {
    "session.start_s": "s",
    "testdata.fixture_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.scan_s": "s",
    "spark.scan_bytes": "B",
    "spark.codegen_s": "s",
    "spark.broadcast_s": "s",
    "extract.python_s": "s",
    "extract.python_boot_s": "s",
    "extract.bytes_to_python": "B",
    "extract.bytes_from_python": "B",
    "extract.rows_out": "count",
    "extract.evaluations": "count",
    "extract.kernel_us_per_page": "us",
    "cover.plan_s": "s",
    "cover.cells": "count",
    "spatial_join.candidates": "count",
    "spatial_join.hits": "count",
    "spatial_join.hit_ratio": "ratio",
    "spatial_join.python_s": "s",
    "spatial_join.bytes_to_python": "B",
    "geometry.pip_ns_per_candidate": "ns",
    "tiling.python_s": "s",
    "png.encode_ms_per_tile": "ms",
    "png.bytes_per_tile": "B",
    "pmtiles.sink_s": "s",
    "pmtiles.encode_ms_per_archive": "ms",
    "fgb.decode_us_per_feature": "us",
    "fgb.encode_us_per_feature": "us",
    "fgb.python_s": "s",
    "gpkg.encode_us_per_feature": "us",
    "gpkg.python_s": "s",
    "sink.shuffle_write_bytes": "B",
    "sink.busy_task_ratio": "ratio",
    "sink.files": "count",
    "sink.output_bytes": "B",
}


def is_python(n: PlanNode) -> bool:
    return PY_TIME in n.metrics


def is_extract(n: PlanNode) -> bool:
    return n.name == "MapInPandas" and bool(_EXTRACT_OUT.search(n.desc))


def is_pip(n: PlanNode) -> bool:
    return n.name == "ArrowEvalPython" and "[pip(" in n.desc


def is_tiling(n: PlanNode) -> bool:
    return n.name == "FlatMapGroupsInPandas"


def is_cover_table(n: PlanNode) -> bool:
    return (n.name == "LocalTableScan" and "cell_id#" in n.desc
            and "full#" in n.desc)


def job_metrics(rec: GroupRecord, kind: str, start: float, end: float,
                cores: int, out_dir: str, hits: int | None) -> dict:
    """Layer metrics of one job whose wall clock ran [start, end]
    (epoch seconds)."""
    wall = end - start
    ran = [s for s in rec.stages if s.status == "COMPLETE"]
    cpu = sum(s.cpu_s for s in ran)
    m = {
        "spark.jobs": len(rec.job_ids),
        "spark.stages": len(ran),
        "spark.tasks": sum(s.num_tasks for s in ran),
        "spark.driver_gap_s": wall - union_length(
            (max(s.submit, start), min(s.complete, end)) for s in ran),
        "spark.executor_run_s": sum(s.run_s for s in ran),
        "spark.executor_cpu_s": cpu,
        "spark.cpu_util": cpu / (wall * cores),
        "spark.task_skew": rec.longest_stage_skew,
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in ran),
        "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in ran),
        "spark.spill_bytes": sum(s.spill_bytes for s in ran),
        "spark.gc_s": sum(s.gc_s for s in ran),
        "spark.scan_s": rec.sum_nodes(
            "scanTime", lambda n: n.name.startswith("Scan")),
        "spark.scan_bytes": rec.sum_nodes(
            "filesSize", lambda n: n.name.startswith("Scan")),
        "spark.codegen_s": rec.sum_nodes(
            "pipelineTime", lambda n: n.name.startswith("WholeStageCodegen")),
        "spark.broadcast_s": sum(
            rec.sum_nodes(k, lambda n: n.name == "BroadcastExchange")
            for k in ("collectTime", "buildTime", "broadcastTime")),
        "extract.python_s": rec.sum_nodes(PY_TIME, is_extract),
        "extract.python_boot_s": rec.sum_nodes(PY_BOOT, is_extract),
        "extract.bytes_to_python": rec.sum_nodes(PY_SENT, is_extract),
        "extract.bytes_from_python": rec.sum_nodes(PY_RECV, is_extract),
        "extract.rows_out": rec.sum_nodes(PY_ROWS, is_extract),
        "extract.evaluations": rec.count_nodes(
            lambda n: is_extract(n) and n.metrics.get(PY_ROWS, 0) > 0),
        "tiling.python_s": rec.sum_nodes(PY_TIME, is_tiling),
    }
    if kind == "pip":
        cands = rec.sum_nodes(PY_ROWS, is_pip)
        m.update({
            "cover.cells": rec.sum_nodes(ROWS, is_cover_table),
            "spatial_join.candidates": cands,
            "spatial_join.hits": hits,
            "spatial_join.hit_ratio": hits / cands if cands else 0.0,
            "spatial_join.python_s": rec.sum_nodes(PY_TIME, is_pip),
            "spatial_join.bytes_to_python": rec.sum_nodes(PY_SENT, is_pip),
        })
    if kind in ("fgb", "gpkg"):
        m[f"{kind}.python_s"] = rec.sum_nodes(PY_TIME, is_python)
    if kind in ("tiles", "fgb", "gpkg") and rec.last_stage is not None:
        sink = rec.last_stage
        files = [os.path.join(out_dir, f) for f in os.listdir(out_dir)]
        m.update({
            "sink.shuffle_write_bytes": sink.shuffle_read_bytes,
            "sink.busy_task_ratio":
                rec.last_stage_busy_tasks / max(sink.num_tasks, 1),
            "sink.files": len(files),
            "sink.output_bytes": sum(os.path.getsize(f) for f in files),
        })
        if kind == "tiles":
            m["pmtiles.sink_s"] = sink.run_s
    return m
