"""Registered queries and the reference's inventory report, the
analytics part of the ``compact_analytics`` workload.

Each step is one *pass*: every query of ``QUERIES`` in order, each run
through the program's query registry after
``registry.clear_session_caches()`` and executed with a ``noop`` write,
then one *inventory report* — ``sources.inventory.file_inventory`` over
a seeded ``region/family/file`` tree followed by the reference's
per-store COUNT/SUM/MAX/arg-max, the more-than-one-file filter and the
per-region rollup (``operators.relational``).

Checks: once per run every query with a DuckDB twin in
``registry.ORACLE`` must match it on the generated tables (rows and an
order-insensitive value digest); on every pass each query's row count
must equal the first one; every inventory report must equal the same
aggregates computed with ``os.walk``.
"""

from __future__ import annotations

import os

from perfbench import checks, gen
from perfbench.context import RunContext

# one query per layer family: the relational core (groupby_stats),
# compaction.planner (bin_packing_plan), functions.multimodal and
# streaming.tumbling; operators.relational runs in the inventory report
QUERIES = [
    "groupby_stats",
    "bin_packing_plan",
    "multimodal_image_decode",
    "stream_tumbling",
]
SIZES = {
    "full": {"sf": 0.01, "regions": 16, "families": 4, "files": 16},
    "tiny": {"sf": 0.001, "regions": 4, "families": 2, "files": 5},
}


class QueryMix:
    def __init__(self, ctx: RunContext):
        import __spark_entry__  # noqa: F401  (imports every workload module)
        from hbase_compact_spark import registry
        from hbase_compact_spark.operators import relational
        from hbase_compact_spark.sources import inventory

        self.ctx = ctx
        self.registry, self.relational, self.inventory = registry, relational, inventory
        self.size = SIZES[ctx.scale]
        self.sf_dir = os.path.join(ctx.work, "inputs", "sf")
        self.inv_root = os.path.join(ctx.work, "inputs", "stores")
        self.rows: dict[str, int] = {}

    def trace_targets(self) -> list:
        from hbase_compact_spark.compaction import planner
        from hbase_compact_spark.functions import multimodal
        from hbase_compact_spark.streaming import tumbling

        rel, inv = self.relational, self.inventory
        return [
            (inv, "file_inventory"),
            (inv, "derived_inventory"),
            (planner, "plan_bins"),
            (rel, "group_stats"),
            (rel, "argmax_by"),
            (rel, "having"),
            (rel, "rollup_with_total"),
            (multimodal, "with_image_payload"),
            (multimodal, "extract_image_features"),
            (tumbling, "events_stream"),
            (tumbling, "tumbling_counts"),
        ]

    # ---------------------------------------------------------- inputs
    def generate(self) -> None:
        z, ctx = self.size, self.ctx
        ctx.inputs.update(gen.fixture_tables(self.sf_dir, ctx.seed, z["sf"]))
        ctx.inputs["stores"] = gen.inventory_tree(self.inv_root, ctx.seed, z["regions"], z["families"], z["files"])
        self.inv_want = checks.inventory_oracle(self.inv_root)

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        """The warm-up pass: every query once, collected, and one
        checked inventory report."""
        self.results = {name: self._collect(name) for name in QUERIES}
        self._inventory_step(record=False)

    def check_setup(self) -> None:
        """Compare the warm-up pass with the DuckDB twins (after set-up,
        so the comparison is not counted as set-up time)."""
        import duckdb

        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{self.sf_dir}/{f}')")
        for name, pdf in self.results.items():
            if pdf is None:
                continue
            self.rows[name] = len(pdf)
            sql = self.registry.ORACLE.get(name)
            if sql is not None:
                got, want = checks.frame_hash(pdf), checks.frame_hash(con.execute(sql).fetchdf())
                self.ctx.verify(name, None if got == want else f"spark {got} != duckdb {want}")
            else:
                self.ctx.verify(name, None if len(pdf) else "no rows")
        con.close()
        self.results = {}

    def _collect(self, name: str):
        def run():
            self.registry.clear_session_caches()
            return self.registry.QUERIES[name](self.ctx.spark, self.sf_dir).toPandas()

        return self.ctx.attempt(name, run)

    # ------------------------------------------------------------ step
    def step(self, record: bool = True) -> None:
        """One pass; ``record=False`` is the warm-up."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        ctx = self.ctx
        for name in QUERIES:
            obs = Observation(f"rows_{name}")

            def run(name=name, obs=obs):
                self.registry.clear_session_caches()
                df = self.registry.QUERIES[name](ctx.spark, self.sf_dir)
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                return obs.get["n"]

            n = ctx.attempt(name, ctx.call, record, f"query.{name}", "workload", run)
            if n is not None:
                ctx.verify(name, None if n == self.rows.get(name) else f"{n} rows, first pass had {self.rows.get(name)}")
        self._inventory_step(record)

    def _inventory_report(self):
        rel, spark = self.relational, self.ctx.spark
        inv = self.inventory.file_inventory(spark, self.inv_root)
        keys = ["region", "family"]
        stores = rel.having(
            rel.group_stats(inv, keys, "size_bytes").join(rel.argmax_by(inv, keys, "size_bytes", "file"), keys),
            "filenum > 1",
        ).collect()
        rollup = rel.rollup_with_total(inv, ["region"], "size_bytes").collect()
        return stores, rollup

    def _inventory_step(self, record: bool) -> None:
        ctx = self.ctx
        out = ctx.attempt("inventory_report", ctx.call, record, "inventory.report", "sources.inventory",
                          self._inventory_report)
        if out is None:
            return
        stores, rollup = out
        got_stores = {
            (r["region"], r["family"]): (int(r["filenum"]), int(r["total_bytes"]), int(r["max_bytes"]), r["argmax"])
            for r in stores
        }
        got_rollup = {r["region"]: (int(r["filenum"]), int(r["total_bytes"])) for r in rollup}
        want_stores, want_rollup = self.inv_want
        ok = got_stores == want_stores and got_rollup == want_rollup
        ctx.verify("inventory_report", None if ok else "per-store or rollup aggregates differ from os.walk")
        if record:
            ctx.layer["inventory.files_listed"] = ctx.layer.get("inventory.files_listed", 0) + want_rollup["ALL"][0]
