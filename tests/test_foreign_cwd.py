"""Snapshot-log reads from a driver started OUTSIDE the repo.

Python data-source planner workers do not inherit the driver's
sys.path. The batch planner (sources/snapshot_table.py) gets the
package through the pyFiles zip; the streaming planner
(streaming/table_tail.py) gets the same zip's path through the
module state pickled with its data source. Both then import
compaction.snapshots.PureSnapshotLog. Under pytest from the repo root
both workers would find the package anyway, so this test runs a fresh
driver process with cwd=tmp_path, no PYTHONPATH, and the package put
on sys.path only inside the driver script.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        append_partitioned,
    )
    from hbase_compact_spark.sources.snapshot_table import read_table
    from hbase_compact_spark.streaming.table_tail import tail_stream

    root = os.path.abspath("t")
    spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(root)
    SnapshotLog(spark, root).bootstrap()
    append_partitioned(
        spark, root, spark.range(20, 35).selectExpr("id", "id * 2 AS v")
    )
    out = os.path.abspath("out")

    def sink(bdf, bid):
        bdf.write.mode("append").parquet(out)

    q = (
        tail_stream(spark, root)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.abspath("ck"))
        .start()
    )
    q.awaitTermination(300)
    result = {{
        "tail": spark.read.parquet(out).count(),
        "batch": read_table(spark, root).count(),
    }}
    spark.stop()
    print("RESULT " + json.dumps(result))
    """
)


def test_tail_and_batch_plan_from_foreign_cwd(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    assert json.loads(lines[-1][len("RESULT "):]) == {"tail": 35, "batch": 35}
