"""The ``cdc_mor_serve`` workload: a merge-on-read CDC stream served
from a snapshot-logged ``orders`` table, closed-loop with one client.

Set-up bootstraps the snapshot log on the seeded range-partitioned
table, annotates per-file ``o_orderkey`` stats and registers the SQL
view. A warm-up round with one point read follows, so the first
upsert, read and scan of the process are paid in set-up.

Each step is one round: ``snapshot_upsert_mor`` of a seeded batch
(updates of live keys plus new keys), point reads on ``o_orderkey``
through the SQL view (``sql_router`` → ``sources.snapshot_table``), one
aggregate read through ``read_table_at`` and ``maintain_mor``.
``maintain_mor`` uses the pending-entry policy ``MAX_PENDING = 4``
(``snapshot_compact`` once a fifth entry is pending). A run holds fewer
rounds than that, so within a run it is the metadata-only probe and the
reads pay the merge-on-read tax of the pending entries. A pandas model of
the table, updated by every upsert, must match every read exactly.
"""

from __future__ import annotations

import os

from perfbench import checks, gen
from perfbench.compaction import link_tree
from perfbench.context import RunContext

# per scale: table rows, key-range files, keys per batch, point reads
# per round
SIZES = {
    "full": {"rows": 150_000, "files": 16, "batch": 1000, "reads": 2},
    "tiny": {"rows": 3_000, "files": 4, "batch": 50, "reads": 2},
}
MAX_PENDING = 4
INSERT_SHARE = 0.1
VIEW = "perfbench_orders"


class CdcServe:
    def __init__(self, ctx: RunContext):
        from hbase_compact_spark.compaction import snapshots
        from hbase_compact_spark.sources import sql_router

        self.ctx = ctx
        self.snapshots, self.sql_router = snapshots, sql_router
        self.size = SIZES[ctx.scale]
        self.base = os.path.join(ctx.work, "inputs", "orders")
        self.root = os.path.join(ctx.work, "tables", "orders")

    def trace_targets(self) -> list:
        s = self.snapshots
        return [
            (s, "snapshot_upsert_mor"),
            (s, "read_table_at"),
            (s, "maintain_mor"),
            (s, "snapshot_compact"),
            (s, "scan_plan"),
            (s, "annotate_stats"),
            (s.SnapshotLog, "commit"),
            (s.SnapshotLog, "bootstrap"),
            (self.sql_router, "create_snapshot_view"),
        ]

    def generate(self) -> None:
        z, ctx = self.size, self.ctx
        ctx.inputs["cdc_orders"] = gen.cdc_base(self.base, ctx.seed, z["rows"], z["files"])
        self.model = checks.OrdersModel(self.base)
        self.next_key = z["rows"]

    def setup(self) -> None:
        ctx, s = self.ctx, self.snapshots
        link_tree(self.base, self.root)
        self.schema = ctx.spark.read.parquet(self.base).schema
        s.SnapshotLog(ctx.spark, self.root).bootstrap()
        s.annotate_stats(ctx.spark, self.root, cols=["o_orderkey"])
        self.sql_router.create_snapshot_view(ctx.spark, VIEW, self.root)
        self.step(record=False, reads=1)

    def step(self, record: bool = True, reads: int | None = None) -> None:
        ctx, s, z = self.ctx, self.snapshots, self.size
        batch = gen.upsert_batch(ctx.rng, self.model.live_keys(), self.next_key, z["batch"], INSERT_SHARE)
        self.next_key += z["batch"]
        pdf = batch.to_pandas()
        sdf = ctx.spark.createDataFrame(pdf, schema=self.schema)
        res = ctx.attempt("upsert", ctx.call, record, "snapshots.upsert_mor", "compaction.snapshots",
                          s.snapshot_upsert_mor, ctx.spark, self.root, sdf, ["o_orderkey"])
        if res is not None:
            self.model.upsert(pdf)

        hot = pdf["o_orderkey"].to_numpy()
        live = self.model.live_keys()
        for i in range(z["reads"] if reads is None else reads):
            pool = hot if i % 2 == 0 else live
            key = int(pool[int(ctx.rng.integers(0, len(pool)))])
            sql = f"SELECT * FROM {VIEW} WHERE o_orderkey = {key}"
            rows = ctx.attempt("point_read", ctx.call, record, "snapshot_table.sql_point_read",
                               "sources.snapshot_table", lambda: ctx.spark.sql(sql).collect())
            if rows is not None:
                ctx.verify("point_read", self.model.check_point(key, rows))

        row = ctx.attempt("scan_read", ctx.call, record, "snapshots.read_table_at", "compaction.snapshots",
                          self._aggregate)
        if row is not None:
            ctx.verify("scan_read", self.model.check_aggregate(row))

        if record and ctx.rec.trace:
            self._sample_read_side(key)
        m = ctx.attempt("maintain", ctx.call, record, "snapshots.maintain_mor", "compaction.snapshots",
                        s.maintain_mor, ctx.spark, self.root, max_pending=MAX_PENDING)
        if record and m is not None:
            ctx.layer["snapshots.maintenance_triggers"] = ctx.layer.get("snapshots.maintenance_triggers", 0) + int(
                m["triggered"]
            )
        if record and ctx.rec.trace:
            self._sample_space()

    def _aggregate(self):
        df = self.snapshots.read_table_at(self.ctx.spark, self.root)
        return df.selectExpr(
            "count(*) AS n",
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS price",
            "max(o_orderkey) AS max_key",
            "count(DISTINCT o_custkey) AS n_cust",
        ).collect()[0]

    def _sample(self, name: str, value: float) -> None:
        self.ctx.layer.setdefault("samples:" + name, []).append(value)

    def _sample_read_side(self, key: int) -> None:
        """Traced runs only, before maintenance: the share of files
        ``scan_plan`` keeps for a point predicate and the pending delete
        entries the round's reads paid for."""
        s = self.snapshots
        log = s.SnapshotLog(self.ctx.spark, self.root)
        plan = s.scan_plan(self.ctx.spark, self.root, {"o_orderkey": key})
        kept, pruned = int(plan["kept_files"]), int(plan["pruned_files"])
        self._sample("snapshots.scan_plan_files_kept_ratio", kept / max(1, kept + pruned))
        self._sample("snapshots.pending_delete_entries", len(log.delete_files(log.latest())))

    def _sample_space(self) -> None:
        """Traced runs only, after maintenance: live files and bytes of
        the latest snapshot against the bytes under the table root."""
        log = self.snapshots.SnapshotLog(self.ctx.spark, self.root)
        files = log.files(log.latest())
        live = sum(int(b) for _, b in files)
        disk = 0
        for dirpath, _dirs, names in os.walk(self.root):
            disk += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        self._sample("snapshots.live_files", len(files))
        self._sample("snapshots.live_bytes", live)
        self._sample("snapshots.bytes_on_disk", disk)
        self._sample("snapshots.space_amp", disk / max(1, live))
