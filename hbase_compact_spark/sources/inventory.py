"""File-inventory sources — the reference's core record.

The reference folds over `(table, region, family, file, size)` tuples
obtained from HDFS `listStatus` per (region, family) store directory
(QHBaseCompact.java:139,144-149,244 — region list x family loop x file
listing). We model the same record as a DataFrame with two producers:

* :func:`file_inventory` — a REAL listing of a filesystem tree via
  Spark's `binaryFile` source (metadata-only scan: path, length,
  modificationTime; content column dropped so nothing is read). This
  is the production path the compaction engine runs on.

* :func:`derived_inventory` — a DETERMINISTIC inventory derived from
  the `lineitem` fixture so the DuckDB oracle can compute the exact
  same rows (FIXTURES.md §B). Used by the oracle-checked analytics
  queries (`compaction_candidates`, `snapshot_diff`, ...).

At 100 TB the inventory itself is small (one row per file — a 100 TB
table at 128 MB/file is ~800k rows), so inventory analytics are never
the bottleneck; they aggregate before any driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_compact_spark.tables import load_table

# DuckDB-dialect CTE producing the identical derived inventory.
# Mirror of derived_inventory() below — keep the two in sync.
# floor() (not round/cast) so both engines truncate IEEE doubles the
# same way; DuckDB CAST(double AS BIGINT) rounds while Spark's
# truncates, so the cast happens only after floor().
INVENTORY_SQL = """
    SELECT table_name, region, family, file,
           max(size_bytes) AS size_bytes, max(mtime) AS mtime
    FROM (
      SELECT
        'lineitem' AS table_name,
        concat('region_', CAST(l_orderkey % 8 AS VARCHAR)) AS region,
        concat(l_returnflag, '_', l_linestatus) AS family,
        concat('hfile_', CAST(l_orderkey AS VARCHAR), '_',
               CAST(l_linenumber AS VARCHAR)) AS file,
        CAST(floor(l_extendedprice * 1000) AS BIGINT) AS size_bytes,
        l_shipdate AS mtime
      FROM lineitem
    )
    GROUP BY table_name, region, family, file
"""


def derived_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic `(table, region, family, file, size_bytes, mtime)`
    inventory derived from `lineitem` (one file row per line item).

    Shapes mirror the reference's domain: ~8 regions x 6 families with
    many files each, skewed sizes. File names must be UNIQUE per group
    (a directory can't hold two files with one name) but the fixture
    lineitem has duplicate (orderkey, linenumber) pairs, so duplicates
    collapse via max-aggregation — mirrored in INVENTORY_SQL.
    """
    # r15 (guide §2.3 "shuffle fewer bytes / narrower types"): the
    # string keys (region/family/file) are injective functions of
    # (l_orderkey, l_linenumber, l_returnflag, l_linestatus) — file
    # encodes orderkey+linenumber uniquely, family its two 1-char
    # flags — so the dedup aggregation groups on the NARROW source
    # columns (two ints + two 1-char strings) and the presentation
    # strings are built once per surviving row AFTER the exchange,
    # instead of shuffling ~50 B of concatenated strings per row and
    # hash-comparing them in the aggregate. Same rows out (the DuckDB
    # INVENTORY_SQL dual is unchanged and stays hash-identical).
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_linestatus",
            F.floor(F.col("l_extendedprice") * 1000)
            .cast("long")
            .alias("size_bytes"),
            F.col("l_shipdate").alias("mtime"),
        )
        .groupBy(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
        )
        .agg(
            F.max("size_bytes").alias("size_bytes"),
            F.max("mtime").alias("mtime"),
        )
    )
    return agg.select(
        F.lit("lineitem").alias("table_name"),
        F.concat(F.lit("region_"), (F.col("l_orderkey") % 8).cast("string")).alias(
            "region"
        ),
        F.concat_ws("_", "l_returnflag", "l_linestatus").alias("family"),
        F.concat(
            F.lit("hfile_"),
            F.col("l_orderkey").cast("string"),
            F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ).alias("file"),
        "size_bytes",
        "mtime",
    )


def file_inventory(spark: SparkSession, root: str, *, depth: tuple[str, ...] = ("region", "family")) -> DataFrame:
    """Real file inventory of a directory tree laid out as
    ``root/<region>/<family>/<file>`` (the HDFS store-dir layout the
    reference lists, QHBaseCompact.java:147-149).

    Uses the `binaryFile` source but immediately drops `content`, so
    Spark's FileIndex does a distributed listing and only metadata
    columns survive — the Spark analog of `listStatus`. Works on any
    Hadoop-compatible FS (local, HDFS, S3A) at any scale because the
    listing itself is parallelized across executors.
    """
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select("path", "length", "modificationTime")
    )
    # Paths come back as URIs (file:/... locally, hdfs://... on a
    # cluster). Strip the scheme from BOTH the listed path and the
    # caller's root (a URI or relative root would otherwise never
    # prefix-match and silently mis-key every region/family), then
    # remove the root prefix with EXACT string arithmetic — a regex
    # built from the root would misfire on any regex metacharacter in
    # the path (`+`, `(`, ...). The root is qualified through the
    # same Hadoop FileSystem the listing uses, so file://, hostful
    # hdfs:// and relative roots all resolve identically.
    from hbase_compact_spark.compaction.executor import (
        URI_SCHEME_RE,
        _qualified_root,
    )

    rootlit = _qualified_root(spark, root) + "/"
    stripped = F.regexp_replace("path", URI_SCHEME_RE, "")
    rel = F.when(
        stripped.startswith(rootlit),
        stripped.substr(F.lit(len(rootlit) + 1), F.length(stripped)),
    ).otherwise(stripped)
    parts = F.split(rel, "/")
    cols = [F.lit("table").alias("table_name")]
    for i, name in enumerate(depth):
        cols.append(parts.getItem(i).alias(name))
    return df.select(
        *cols,
        F.element_at(parts, -1).alias("file"),
        F.col("length").alias("size_bytes"),
        F.col("modificationTime").alias("mtime"),
        F.col("path"),
    )
