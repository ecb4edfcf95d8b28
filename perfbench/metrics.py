"""The benchmark's metrics: names, units and how each is computed.

End-to-end metrics are CPU seconds: user plus system time of the
driver, the JVM (less its JIT compiler threads) and its Python workers.
On a shared 4-vCPU host, the wall time of one step moved by up to 75 %
between runs with the host's load. CPU time moved by about 10 %.
Wall-clock latencies are reported per layer in the traced run.
"""

from __future__ import annotations

import statistics

from perfbench.analytics import QUERIES

# calls that write table data; every other call reads
WRITE_OPS = {"executor.compact_table", "snapshots.upsert_mor", "snapshots.maintain_mor"}

E2E_UNITS = {
    "setup_s": "s",
    "step_cpu_s": "s",
    "write_cpu_s": "s",
    "read_cpu_s": "s",
}

LAYERS = (
    "benchmark",
    "session",
    "compaction.daemon",
    "compaction.executor",
    "compaction.planner",
    "compaction.snapshots",
    "sources.snapshot_table",
    "sources.sql_router",
    "sources.inventory",
    "operators",
    "functions",
    "streaming",
    "workload",
)

# client operations; each gets per-layer wall seconds and CPU seconds
# (summed over the measured phase) and Spark jobs
_OPS = (
    "executor.compact_table",
    "daemon.stats_report",
    "snapshots.upsert_mor",
    "snapshot_table.sql_point_read",
    "snapshots.read_table_at",
    "snapshots.maintain_mor",
    "inventory.report",
    *(f"query.{q}" for q in QUERIES),
)

_OTHER_UNITS = {
    "session.get_spark_s": "s",
    "setup_wall_s": "s",
    "step_wall_s": "s",
    "peak_rss_mb": "MB",
    "executor.spark_tasks": "count",
    "executor.bytes_rewritten": "B",
    "executor.files_before": "count",
    "executor.files_after": "count",
    "executor.partitions_compacted_ratio": "ratio",
    "executor.compact_mb_per_s": "MB/s",
    "daemon.cycle_p50_s": "s",
    "snapshots.upsert_p50_s": "s",
    "snapshots.commit_s": "s",
    "snapshot_table.point_read_p50_s": "s",
    "snapshots.scan_plan_files_kept_ratio": "ratio",
    "snapshots.pending_delete_entries": "count",
    "snapshots.scan_read_p50_s": "s",
    "snapshots.maintenance_triggers": "count",
    "snapshots.snapshot_compact_s": "s",
    "snapshots.cdc_ops_per_s": "1/s",
    "snapshots.live_files": "count",
    "snapshots.live_bytes": "B",
    "snapshots.bytes_on_disk": "B",
    "snapshots.space_amp": "ratio",
    "inventory.file_inventory_s": "s",
    "inventory.files_listed": "count",
    "inventory.report_p50_s": "s",
    "trace.step_cpu_s": "s",
    "trace.spans": "count",
    "trace.bookkeeping_s": "s",
    "trace.overhead_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, as BENCHMARK.json lists
    them."""
    names: dict[str, str] = {}
    for op in _OPS:
        names[f"{op}_s"] = "s"
        names[f"{op}_cpu_s"] = "s"
        names[f"{op}.spark_jobs"] = "count"
    names.update(_OTHER_UNITS)
    for layer in LAYERS:
        names[f"self_s.{layer}"] = "s"
    return names


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _per_step(ctx, keep) -> list[float]:
    sums: dict[int, float] = {}
    for step, name, _wall, cpu in ctx.rec.calls:
        if step is not None and keep(name):
            sums[step] = sums.get(step, 0.0) + cpu
    return [sums.get(i, 0.0) for i in range(len(ctx.steps))]


def end_to_end(ctx) -> dict:
    return {
        "setup_s": ctx.setup_cpu_s,
        "step_cpu_s": median(_per_step(ctx, lambda n: True)),
        "write_cpu_s": median(_per_step(ctx, lambda n: n in WRITE_OPS)),
        "read_cpu_s": median(_per_step(ctx, lambda n: n not in WRITE_OPS)),
    }


def _layer_family(layer: str) -> str:
    for fam in ("operators", "functions", "streaming"):
        if layer.startswith(fam + "."):
            return fam
    return layer if layer in LAYERS else "benchmark"


def per_layer(ctx) -> dict:
    rec, lay = ctx.rec, ctx.layer
    spans = rec.by_name()
    wall = {name: [w for s, n, w, _c in rec.calls if n == name and s is not None] for name in _OPS}
    cpu = {name: [c for s, n, _w, c in rec.calls if n == name and s is not None] for name in _OPS}

    def span_s(name: str) -> float:
        return spans.get(name, {}).get("s", 0.0)

    out: dict[str, float] = {}
    for op in _OPS:
        out[f"{op}_s"] = sum(wall[op])
        out[f"{op}_cpu_s"] = sum(cpu[op])
        out[f"{op}.spark_jobs"] = spans.get(op, {}).get("jobs", 0)
    stats = wall["daemon.stats_report"]
    cdc = ("snapshots.upsert_mor", "snapshot_table.sql_point_read", "snapshots.read_table_at", "snapshots.maintain_mor")
    cdc_time = sum(sum(wall[n]) for n in cdc)
    out.update(
        {
            "session.get_spark_s": ctx.setup_parts.get("session", 0.0),
            "setup_wall_s": sum(ctx.setup_parts.values()),
            "step_wall_s": median(ctx.steps),
            "peak_rss_mb": ctx.peak_rss_mb,
            "executor.spark_tasks": spans.get("executor.compact_table", {}).get("tasks", 0),
            "executor.bytes_rewritten": lay.get("executor.bytes_rewritten", 0),
            "executor.files_before": lay.get("executor.files_before", 0),
            "executor.files_after": lay.get("executor.files_after", 0),
            "executor.partitions_compacted_ratio": lay.get("executor.partitions_compacted", 0)
            / max(1, lay.get("executor.partitions_qualifying", 0)),
            "executor.compact_mb_per_s": median(
                [b / 1e6 / t for b, t in zip(lay.get("compact_bytes", []), wall["executor.compact_table"])]
            ),
            "daemon.cycle_p50_s": median(
                [a + b + c for a, b, c in zip(stats[0::2], wall["executor.compact_table"], stats[1::2])]
            ),
            "snapshots.upsert_p50_s": median(wall["snapshots.upsert_mor"]),
            "snapshots.commit_s": span_s("compaction.snapshots.SnapshotLog.commit"),
            "snapshot_table.point_read_p50_s": median(wall["snapshot_table.sql_point_read"]),
            "snapshots.scan_read_p50_s": median(wall["snapshots.read_table_at"]),
            "snapshots.maintenance_triggers": lay.get("snapshots.maintenance_triggers", 0),
            "snapshots.snapshot_compact_s": span_s("compaction.snapshots.snapshot_compact"),
            "snapshots.cdc_ops_per_s": sum(len(wall[n]) for n in cdc) / cdc_time if cdc_time else 0.0,
            "inventory.file_inventory_s": span_s("sources.inventory.file_inventory"),
            "inventory.files_listed": lay.get("inventory.files_listed", 0),
            "inventory.report_p50_s": median(wall["inventory.report"]),
            "trace.step_cpu_s": median(_per_step(ctx, lambda n: True)),
            "trace.spans": len(rec.spans),
            "trace.bookkeeping_s": rec.bookkeeping_s,
            "trace.overhead_ratio": rec.bookkeeping_s / ctx.measured_s if ctx.measured_s else 0.0,
        }
    )
    for key in ("scan_plan_files_kept_ratio", "pending_delete_entries", "live_files", "live_bytes",
                "bytes_on_disk", "space_amp"):
        out[f"snapshots.{key}"] = median(lay.get(f"samples:snapshots.{key}", []))
    self_t = {layer: 0.0 for layer in LAYERS}
    for layer, t in rec.self_time_by_layer().items():
        self_t[_layer_family(layer)] += t
    for layer, t in self_t.items():
        out[f"self_s.{layer}"] = t
    return out
