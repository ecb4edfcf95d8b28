"""The compaction daemon's cycle, one part of the ``compact_analytics``
workload.

Each cycle copies a fragmented ``region=NN`` table of many small files
(hard links to the seeded original) and runs the reference daemon's
cycle on it (one cycle warms up, a measured step runs
``CYCLES_PER_STEP``): ``compaction.daemon.stats_report``,
``compaction.executor.compact_table``, ``stats_report`` again. The
benchmark checks the rewrite against a row count and order-insensitive
fingerprint it computes itself before and after, requires fewer files
after than before, and checks each stats report's totals against a
directory listing.
"""

from __future__ import annotations

import os
import shutil

from perfbench import checks, gen
from perfbench.context import RunContext

# compaction cycles per measured step, each on a fresh copy
CYCLES_PER_STEP = 2
# per scale: regions × files per region × rows per file
SIZES = {
    "full": {"regions": 16, "files": 8, "rows": 500},
    "tiny": {"regions": 4, "files": 4, "rows": 100},
}


def link_tree(src: str, dst: str) -> None:
    for dirpath, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(out, exist_ok=True)
        for name in files:
            os.link(os.path.join(dirpath, name), os.path.join(out, name))


class CompactionCycle:
    def __init__(self, ctx: RunContext):
        from hbase_compact_spark.compaction import daemon, executor

        self.ctx = ctx
        self.daemon, self.executor = daemon, executor
        self.size = SIZES[ctx.scale]
        self.seed_tree = os.path.join(ctx.work, "inputs", "regions")
        self.cycle = 0

    def trace_targets(self) -> list:
        return [
            (self.daemon, "stats_report"),
            (self.executor, "compact_table"),
            (self.executor, "partition_summary"),
        ]

    def generate(self) -> None:
        z, ctx = self.size, self.ctx
        ctx.inputs["regions"] = gen.region_tree(self.seed_tree, ctx.seed, z["regions"], z["files"], z["rows"])
        self.seed_fp = checks.tree_fingerprint(self.seed_tree)

    def setup(self) -> None:
        self._cycle(record=False)

    def step(self) -> None:
        for _ in range(CYCLES_PER_STEP):
            self._cycle(record=True)

    def _cycle(self, record: bool) -> None:
        ctx = self.ctx
        root = os.path.join(ctx.work, "tables", f"regions-{self.cycle}")
        self.cycle += 1
        link_tree(self.seed_tree, root)
        files_before, bytes_before = checks.tree_files(root)

        rows = ctx.attempt("stats_report", ctx.call, record, "daemon.stats_report", "compaction.daemon",
                           lambda: self.daemon.stats_report(ctx.spark, root).collect())
        if rows is not None:
            ctx.verify("stats_report", checks.check_stats_report(rows, root))
        rep = ctx.attempt("compact_table", ctx.call, record, "executor.compact_table", "compaction.executor",
                          self.executor.compact_table, ctx.spark, root)
        if rep is not None:
            files_after, _ = checks.tree_files(root)
            fp = checks.tree_fingerprint(root)
            reason = None
            if fp != self.seed_fp:
                reason = f"fingerprint {fp[:3]} != {self.seed_fp[:3]} (columns {sorted(fp[3])})"
            elif files_after >= files_before:
                reason = f"files_after {files_after} >= files_before {files_before}"
            ctx.verify("compact_table", reason)
            if record:
                lay = ctx.layer
                lay.setdefault("compact_bytes", []).append(bytes_before)
                lay["executor.files_before"] = lay.get("executor.files_before", 0) + files_before
                lay["executor.files_after"] = lay.get("executor.files_after", 0) + files_after
                lay["executor.bytes_rewritten"] = lay.get("executor.bytes_rewritten", 0) + sum(
                    r.bytes_total for r in rep.compacted
                )
                lay["executor.partitions_qualifying"] = lay.get("executor.partitions_qualifying", 0) + sum(
                    1 for r in rep.results if r.files_before > 1
                )
                lay["executor.partitions_compacted"] = lay.get("executor.partitions_compacted", 0) + len(rep.compacted)
        rows = ctx.attempt("stats_report", ctx.call, record, "daemon.stats_report", "compaction.daemon",
                           lambda: self.daemon.stats_report(ctx.spark, root).collect())
        if rows is not None:
            ctx.verify("stats_report", checks.check_stats_report(rows, root))
        shutil.rmtree(root, ignore_errors=True)
