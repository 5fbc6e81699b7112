"""Metric names and units, read from BENCHMARK.json, and the end-to-end
metric each per-layer metric should move.

BENCHMARK.json's schema has no room for the mapping, so it lives here
and the traced run prints it beside the numbers. Every workload reports
every per-layer metric; a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "BENCHMARK.json")


def _units(kind: str) -> dict[str, str]:
    with open(SPEC, encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


END_TO_END = _units("end_to_end")
PER_LAYER = _units("per_layer")

# per-layer metric -> end-to-end metric @ workload it should move
MOVES: dict[str, str] = {
    "session.warmup_s": "setup_s @ all",
    "kayvee.parse_s": "cpu_s @ kv_lines",
    "routing.route_self_s": "cpu_s @ kv_lines",
    "routing.routes_per_record": "cpu_s @ kv_lines",
    "project.project_self_s": "cpu_s @ kv_lines",
    "project.dd_points": "cpu_s @ kv_lines",
    "project.quarantined": "cpu_s @ kv_lines",
    "project.cw_rows": "cpu_s @ kv_lines",
    "kv.per_record_cpu_s": "cpu_s @ kv_lines",
    "kv.per_record_share": "cpu_s @ kv_lines",
    "sinks.process_batch_s": "cpu_s, wall.latency_p50_s @ kv_lines",
    "sinks.jobs_per_batch": "cpu_s, wall.latency_p50_s @ kv_lines",
    "sinks.cw_calls_per_batch": "wall.latency_p90_s @ kv_lines",
    "sinks.bytes_written": "cpu_s @ kv_lines",
    "sinks.failed_batches": "failed (result) @ kv_lines",
    "stream.trigger_s": "wall.latency_p50_s @ kv_lines",
    "stream.add_batch_s": "wall.latency_p50_s @ kv_lines",
    "stream.planning_s": "wall.latency_p50_s @ kv_lines",
    "stream.wal_commit_s": "wall.latency_p50_s @ kv_lines",
    "stream.commit_offsets_s": "wall.latency_p50_s @ kv_lines",
    "stream.latest_offset_s": "wall.latency_p50_s @ kv_lines",
    "stream.driver_gap_s": "wall.latency_p50_s @ kv_lines",
    "stream.batches": "wall.latency_p50_s @ kv_lines",
    "stream.backlog_files_max": "wall.latency_p90_s @ kv_lines",
    "volume.rollup_batch_s": "cpu_s @ kv_lines",
    "dedup.llm40_incremental_near_dup.wall_s": "cpu_s @ dedup_state",
    "dedup.jobs": "cpu_s, wall.unit_s @ dedup_state",
    "dedup.stages": "cpu_s, wall.unit_s @ dedup_state",
    "dedup.pairs_out": "correct (result) @ dedup_state",
    "state.st01_stream_hourly_rollup.wall_s": "cpu_s @ dedup_state",
    "state.st03_stream_stateful_totals.wall_s": "cpu_s @ dedup_state",
    "state.add_batch_s": "cpu_s @ dedup_state",
    "state.commit_s": "cpu_s @ dedup_state",
    "state.rows": "peak_rss_mb @ dedup_state",
    "state.memory_mb": "peak_rss_mb @ dedup_state",
    "state.partitions": "cpu_s @ dedup_state",
    "wall.setup_s": "none: wall-clock twin of setup_s",
    "wall.unit_s": "none: wall-clock per unit of work",
    "wall.records_per_s": "none: wall-clock throughput",
    "wall.latency_p50_s": "none: wall-clock latency",
    "wall.latency_p90_s": "none: wall-clock latency",
    "trickle.latency_p50_s": "none: open-loop latency",
    "trickle.latency_p90_s": "none: open-loop latency",
    "trickle.generator_late_s": "none: open-loop generator lateness",
    "memory.jvm_mb": "peak_rss_mb @ all",
    "host.calib_s": "none: host-speed diagnostic",
    "trace.overhead_frac": "none: traced / untraced cpu_s - 1",
}
