"""Compaction rewrite executor — the Spark analog of the reference's
whole purpose (QHC.java = QHBaseCompact.java).

Where the reference fires an async `majorCompact` RPC per (region,
family) store and polls the file listing until the largest file's
name changes (QHC.java:167,171-184), this engine REWRITES each
partition directory itself:

    read partition -> repartition(n_bins) [-> sortWithinPartitions]
    -> write temp dir -> verify count + content fingerprint
    -> atomic-ish swap (old files out, new files in) -> checkpoint.

Differences from the reference, by design:
* completion is a HARD verification (count + order-insensitive row
  fingerprint), not the reference's soft-fail poll timeout
  (QHC.java:71-72 proceeds on timeout with only a warning);
* progress is checkpointed per partition (generalizing the
  regionindex cursor, QHC.java:102-115,193-194) so a crashed run
  resumes and a finished run is a no-op;
* pacing (inter-partition sleep, QHC.java:195) and the time-of-day
  window gate (QHC.java:48-60) are explicit policy knobs.

Scale: each partition rewrite is a distributed Spark job; partitions
are processed serially by default exactly like the reference's
one-region-at-a-time design goal (README.md:8-9) — raise
`max_partitions_per_run` / parallelize the driver loop when cluster
headroom allows. File moves go through the Hadoop FileSystem API, so
the same code path works on file://, hdfs:// and s3a://.

Crash durability of the swap: before the first rename, the executor
writes a per-partition SWAP MANIFEST (hidden `_swap_manifest.json`
in the partition dir) listing every planned move and every old file
to retire; `compact_table` reconciles leftover manifests on startup,
completing interrupted swaps so a crash mid-swap can never leave the
old+new superset in place to be re-verified into permanent
duplication. Renames are individually atomic on HDFS/local; on S3A
each rename is copy+delete, so the manifest is what bounds the crash
window there too (readers that must never see a mixed set should
scan through a snapshot listing taken after reconciliation).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import posixpath
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hbase_compact_spark.compaction.checkpoint import CompactionCheckpoint

SWAP_MANIFEST_NAME = "_swap_manifest.json"
# single-bin partitions below this size join the batched rewrite;
# larger ones keep their own concurrent per-partition job (overhead
# amortizes, and one big rel would straggle the batch's
# one-file-per-rel write stage)
_BATCH_MAX_PARTITION_BYTES = 16 * 1024 * 1024


@dataclass
class PartitionResult:
    partition: str
    files_before: int
    files_after: int
    bytes_total: int
    rows: int
    skipped: str | None = None


@dataclass
class CompactionReport:
    table_root: str
    results: list[PartitionResult] = field(default_factory=list)

    @property
    def compacted(self) -> list[PartitionResult]:
        return [r for r in self.results if r.skipped is None]


def _row_hash(columns: list[str]) -> Column:
    """Per-row xxhash64 over every data column."""
    return F.expr("xxhash64(" + ", ".join(f"`{c}`" for c in columns) + ")")


def _fingerprint_lanes(h_col: str) -> list[Column]:
    """The three aggregate columns of a content fingerprint over the
    projected per-row hash column `h_col`: n (row count), fp (bit_xor)
    and fpsum (DECIMAL sum).

    bit_xor alone is blind to even-multiplicity substitutions
    ({X,X,Y} and {Y,Y,Y} xor identically), so a DECIMAL-exact SUM of
    the same per-row hashes rides along: the sum changes unless the
    multiset of hashes is preserved. Both lanes are commutative and
    ANSI-safe (sum in DECIMAL(38,0) cannot overflow below ~1e19 rows).
    Callers project the hash ONCE into `h_col` and aggregate over it —
    aggregate-level CSE is not guaranteed, and inlining the expression
    into both lanes would hash every row twice."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(`{h_col}`)").alias("fp"),
        F.expr(f"sum(cast(`{h_col}` as decimal(38,0)))").alias("fpsum"),
    ]


def _unused_column(base: str, columns: list[str]) -> str:
    """`base`, suffixed with underscores until no column has the name —
    a helper column must never shadow (and then drop) a real one."""
    while base in columns:
        base += "_"
    return base


def _fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """(row_count, xor fingerprint, sum fingerprint) —
    order-insensitive content identity in one distributed pass (see
    _fingerprint_lanes)."""
    row = (
        df.select(_row_hash(df.columns).alias("__h"))
        .select(*_fingerprint_lanes("__h"))
        .collect()[0]
    )
    return int(row["n"]), int(row["fp"] or 0), int(row["fpsum"] or 0)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _in_time_window(start: str, end: str, now: datetime | None = None) -> bool:
    """The reference's lexicographic HH:mm:ss window compare
    (QHC.java:52). start > end (midnight wrap) never opens — matching
    the reference's observed (if surprising) semantics."""
    tod = (now or datetime.now()).strftime("%H:%M:%S")
    return start <= tod <= end


def list_partition_files(
    spark: SparkSession, table_root: str
) -> dict[str, list[tuple[str, int]]]:
    """Distributed listing of every data file under `table_root`,
    grouped by its parent (leaf partition) directory — the Spark
    analog of per-store `listStatus` (QHC.java:149). Returns relative
    dir -> [(file_uri, size)]."""
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(table_root)
        .select("path", "length")
    )
    # Spark returns fully-qualified URIs (file:/..., hdfs://nn/...);
    # qualify the caller's root through the same FileSystem and
    # compare scheme-stripped absolute paths, so file:///, hostful
    # hdfs:// and relative roots all resolve to correct relative
    # partition keys instead of falling back to absolute parents.
    root_abs = _qualified_root(spark, table_root)
    out: dict[str, list[tuple[str, int]]] = {}
    for r in df.collect():  # one row per FILE: bounded metadata
        path = r["path"]
        parent_abs = _uri_path(posixpath.dirname(path))
        if parent_abs == root_abs:
            rel = ""
        elif parent_abs.startswith(root_abs + "/"):
            rel = parent_abs[len(root_abs) + 1 :]
        else:  # different FS/mount than the root: keep absolute
            rel = parent_abs
        if any(c.startswith(("_", ".")) for c in rel.split("/") if c):
            continue  # temp/trash trees are not data (any _-component)
        out.setdefault(rel, []).append((path, int(r["length"])))
    return out


def _uri_path(uri: str) -> str:
    """Filesystem path component of a URI-or-plain-path string."""
    parsed = urlparse(uri)
    return parsed.path if parsed.scheme else uri


# the scheme + authority prefix of a listed file URI — the
# column-expression twin of _uri_path: "file:/a", "file:///a" and
# "hdfs://nn:8020/a" all reduce to the filesystem path component
URI_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(//[^/]*)?"


def _qualified_root(spark: SparkSession, table_root: str) -> str:
    """`table_root` qualified through its Hadoop FileSystem, scheme-
    stripped and without a trailing slash — the prefix every listed
    file path (after URI_SCHEME_RE) shares, so file:///, hostful
    hdfs:// and relative roots all key files identically."""
    fs, root_path, _ = _hadoop_fs(spark, table_root)
    return _uri_path(str(fs.makeQualified(root_path))).rstrip("/")


def listing_df(spark: SparkSession, table_root: str) -> DataFrame:
    """Every data file under `table_root` as a DataFrame
    (partition string, relpath string, size long) — the fully
    DISTRIBUTED listing: URI→relative-path derivation is pure JVM
    expression work (whole-stage codegen, no Python workers),
    temp/trash `_`-component trees are filtered in the same stage, and
    nothing per-file reaches the driver until a caller aggregates or
    collects. This is the 10⁶-file path; callers that genuinely need a
    per-partition dict use list_partition_files (one partition at a
    time, bounded)."""
    root_abs = _qualified_root(spark, table_root)

    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(table_root)
        .select("path", "length")
    )
    abs_path = F.regexp_replace(F.col("path"), URI_SCHEME_RE, "")
    parent = F.regexp_replace(abs_path, r"/[^/]*$", "")
    name = F.regexp_extract(abs_path, r"[^/]+$", 0)
    partition = (
        F.when(parent == F.lit(root_abs), F.lit(""))
        .when(
            parent.startswith(root_abs + "/"),
            F.substring(parent, len(root_abs) + 2, 1 << 20),
        )
        .otherwise(parent)  # different FS/mount: keep absolute
    )
    out = df.select(
        partition.alias("partition"),
        F.col("length").cast("long").alias("size"),
        name.alias("name"),
    ).filter(
        # temp/trash trees are not data (any _- or .-component)
        ~F.col("partition").rlike(r"(^|/)[_.]")
    )
    return out.select(
        "partition",
        F.when(F.col("partition") == "", F.col("name"))
        .otherwise(F.concat_ws("/", "partition", "name"))
        .alias("relpath"),
        "size",
    )


def _list_one_partition(
    spark: SparkSession, table_root: str, rel: str
) -> tuple[list[tuple[str, int]], bool]:
    """([(file_uri, size)], pure) of ONE leaf partition directory via
    a single listStatus — the bounded on-demand companion to the
    distributed listing: compact_table resolves file lists only for
    partitions it is about to rewrite. `pure` is True when the
    directory holds nothing beyond those visible .parquet files and
    hidden (_/. prefixed) entries — i.e. reading the DIRECTORY is
    equivalent to reading the file list (no stray files, no
    subdirectories that Spark's reader would partition-discover)."""
    fs, root, jvm = _hadoop_fs(spark, table_root)
    Path = jvm.org.apache.hadoop.fs.Path
    part = Path(posixpath.join(table_root, rel)) if rel else root
    out = []
    pure = True
    for st in fs.listStatus(part):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue  # hidden: ignored by Spark's reader too
        if (
            st.isFile()
            and name.endswith(".parquet")
        ):
            out.append((str(st.getPath()), int(st.getLen())))
        else:
            pure = False  # subdir or non-parquet visible file
    return sorted(out), pure


def partition_summary(spark: SparkSession, table_root: str) -> DataFrame:
    """Per-partition (partition, filenum, total_bytes) aggregated ON
    EXECUTORS — the driver receives one row per PARTITION, never one
    per file. This is the stats-report / compaction-ordering input at
    any file count."""
    return listing_df(spark, table_root).groupBy("partition").agg(
        F.count(F.lit(1)).alias("filenum"),
        F.sum("size").alias("total_bytes"),
    )


def fileset_signature(names: list[str]) -> str:
    """Order-insensitive signature of a partition's file NAMES. Lets
    the checkpoint distinguish 'done and unchanged' from 'done but new
    files arrived since' — the arrival of any file re-opens the
    partition for compaction."""
    items = sorted(posixpath.basename(n) for n in names)
    return hashlib.md5("\n".join(items).encode()).hexdigest()[:16]


def _compact_one(
    spark: SparkSession,
    table_root: str,
    rel: str,
    files: list[tuple[str, int]],
    n_bins: int,
    sort_by: list[str] | None,
    trash_dir: str | None = None,
    cluster_by: list[str] | None = None,
) -> tuple[int, list[str]]:
    """Rewrite one partition; returns (verified row count, new file
    names). `cluster_by` z-orders the rewrite across those columns
    (multi-column min/max pruning) instead of the plain
    repartition + per-file sort."""
    part_dir = posixpath.join(table_root, rel) if rel else table_root
    src = spark.read.parquet(*[p for p, _ in files])
    # Pack the small-file scan into byte-capped partitions: Spark's
    # openCostInBytes weighting turns a 64-small-file partition into
    # ~dozens of near-empty scan tasks, and with many partitions
    # compacting concurrently the per-task scheduling overhead — not
    # bytes — dominates the rewrite. Coalesce (narrow, no shuffle) to
    # ~32 MB of REAL bytes per scan task; a 128 GB partition still
    # fans out to thousands of tasks, a fragmented 6 MB one becomes
    # exactly one.
    total_bytes = sum(sz for _, sz in files)
    scan_parts = max(1, -(-total_bytes // (32 << 20)))
    if scan_parts < len(files):
        src = src.coalesce(scan_parts)
    # stable per-partition tmp name (md5, not the salted builtin hash)
    # so a crashed run's leftover tmp dir is simply overwritten by the
    # retry instead of orphaned under an unreproducible name
    tmp_dir = posixpath.join(
        table_root, f"_compact_tmp_{hashlib.md5(rel.encode()).hexdigest()[:12]}"
    )

    if cluster_by:
        # repartitionByRange SAMPLES its child to pick split points, so
        # Observation metrics would double-count; fingerprint with a
        # dedicated pass instead (3 passes total on this path)
        from hbase_compact_spark.functions.zorder import cluster_by_zorder

        n_before, *fps_before = _fingerprint(src)
        fp_before = tuple(fps_before)
        writer = cluster_by_zorder(src, cluster_by, n_bins)
        writer.write.mode("overwrite").parquet(tmp_dir)
    else:
        # fingerprint the source DURING the rewrite pass (Observation
        # metrics) instead of a separate scan: 2 passes per partition
        # (write+observe, verify read-back) rather than 3. The hash
        # column is observed, then dropped before the write.
        obs = Observation()
        h_col = _unused_column("__fp_h", src.columns)
        observed = (
            src.withColumn(h_col, _row_hash(src.columns))
            .observe(obs, *_fingerprint_lanes(h_col))
            .drop(h_col)
        )
        writer = observed.repartition(n_bins)
        if sort_by:
            writer = writer.sortWithinPartitions(*sort_by)
        writer.write.mode("overwrite").parquet(tmp_dir)
        metrics = obs.get
        n_before, fp_before = (
            int(metrics["n"]),
            (int(metrics["fp"] or 0), int(metrics["fpsum"] or 0)),
        )

    rewritten = spark.read.parquet(tmp_dir)
    n_after, *fps_after = _fingerprint(rewritten)
    fp_after = tuple(fps_after)
    if (n_before, fp_before) != (n_after, fp_after):
        # hard verification where the reference soft-fails
        _rm(spark, tmp_dir)
        raise RuntimeError(
            f"compaction verification failed for {rel}: "
            f"rows {n_before}->{n_after}, fingerprint changed"
        )
    new_names = _swap_files(
        spark, tmp_dir, part_dir, [p for p, _ in files], trash_dir, rel=rel
    )
    return n_after, new_names


def _compact_batch(
    spark: SparkSession,
    table_root: str,
    items: list,
    sort_by: list[str] | None,
    trash_dir: str | None,
    ckpt,
    dirs_ok: bool,
) -> None:
    """Rewrite MANY single-bin partitions in ONE read-shuffle-write
    pass plus one read-back verification.

    The per-partition path pays driver-side planning + job scheduling
    per partition — right for big partitions, but a fragmented table
    is typically thousands-to-millions of SMALL partitions, and a
    driver cannot run 10^6 jobs (the reference's serial region loop,
    QHC.java:139-170, has the same flaw one process at a time). Here
    every 1-bin partition is tagged with its relative path (derived
    from input_file_name, so the tag is a per-FILE constant), unioned,
    hash-repartitioned BY that tag (all rows of a partition land in
    one task -> exactly one output file each), and written once via
    partitionBy.

    Verification, without a second scan of the fragmented source:
    - the WRITE pass observes global count + xor/sum hash lanes over
      the data columns (Observation metrics, same lanes as
      _compact_one) — one source read total;
    - a metadata-only per-rel COUNT over the source (column-pruned to
      zero data columns, so parquet serves it from footer row counts)
      pins each partition's row count individually;
    - the read-back aggregate over the COMPACTED files (16-64x fewer
      files than the source) recomputes per-rel count + both hash
      lanes; per-rel counts must equal the source's and the combined
      lanes must equal the observed globals.
    Rows cannot migrate between partitions undetected: the tag is a
    per-file constant and partitionBy routes each row to its tag's
    directory, so a tag-derivation bug would shift whole files and
    trip the per-rel count check (tag derivation itself is pinned by
    adversarial-name tests).

    The swap stays per-partition through the same crash-safe manifest
    (_swap_files), so batch atomicity semantics are unchanged: each
    partition independently either swaps fully or is reconciled."""
    from urllib.parse import unquote

    # ONE read + ONE analysis for the whole batch — per-partition
    # spark.read calls would reinstate the driver cost being removed.
    # When every batched partition's planned fileset is exactly its
    # directory listing (dirs_ok — the overwhelmingly common case),
    # read the DIRECTORIES: a handful of roots lists orders of
    # magnitude faster than enumerating every file path to the file
    # index, and schema inference reads a single footer. Otherwise
    # fall back to the explicit file list with a one-file schema so
    # stray non-planned files are never pulled into the rewrite.
    # Scope file-split sizing to an ISOLATED session (same
    # SparkContext, own SQLConf): the default 4 MB openCostInBytes
    # turns a thousand ~100 KB store files into hundreds of
    # near-empty scan tasks whose scheduling — not bytes — would
    # dominate both read passes. Mutating the CALLER's session conf
    # instead would silently resize every concurrent query sharing
    # the session (the repo shares sessions across workloads), so the
    # batch reads run through `bspark` and the caller session is
    # never touched. cloneSession() copies the caller's session state
    # (runtime SQL confs, so planner behavior — AQE, shuffle
    # partitions, session TZ — matches) in one JVM call; subsequent
    # conf.set calls affect only the clone.
    bspark = SparkSession(
        spark.sparkContext, spark._jsparkSession.cloneSession()
    )
    bspark.conf.set("spark.sql.files.openCostInBytes", str(64 << 10))
    bspark.conf.set("spark.sql.files.maxPartitionBytes", str(32 << 20))
    if dirs_ok:
        src = bspark.read.parquet(
            *[posixpath.join(table_root, rel) for rel, _f, _n, _r in items]
        )
    else:
        all_files = [p for _rel, files, _n, _r in items for p, _ in files]
        schema = bspark.read.parquet(all_files[0]).schema
        src = bspark.read.schema(schema).parquet(*all_files)
    bcol = _unused_column("__hcs_rel", src.columns)
    # input_file_name returns a percent-ENCODED URI ("x y" -> "x%20y",
    # "%" -> "%25"): decode before extracting the tag, or encoded-name
    # partitions silently fail to match their planned rel. url_decode
    # is form-decoding ('+' -> space), which would corrupt literal '+'
    # in dir names — shield it first.
    fname = F.url_decode(
        F.regexp_replace(F.input_file_name(), r"\+", "%2B")
    )
    if all("/" not in rel and rel for rel, _f, _n, _r in items):
        # single-level partitions: the tag is just the parent dir
        # name (split beats a per-row regex on the hot path)
        tag = F.element_at(F.split(fname, "/"), -2)
    else:
        # multi-level: strip the scheme/authority from the decoded
        # file URI and anchor on the QUALIFIED root path, exactly as
        # listing_df does — os.path.abspath would mangle URI roots
        # (file:///t, hdfs://nn/t) into cwd-prefixed nonsense and tag
        # every row '' (the unknown-tag guard would then kill the
        # whole batch after the rewrite).
        root_abs = _qualified_root(spark, table_root)
        fname_abs = F.regexp_replace(fname, URI_SCHEME_RE, "")
        tag = F.regexp_extract(
            fname_abs,
            ".*\\Q" + root_abs + "\\E/(.*)/[^/]+$",
            1,
        )
    row_hash = _row_hash(src.columns)
    h_col = _unused_column("__fp_h", src.columns)

    tmp_batch = posixpath.join(
        table_root, f"_compact_batchtmp_{uuid.uuid4().hex[:10]}"
    )
    try:
        # metadata-only per-rel row counts: groupBy(tag).count() reads
        # NO data columns, so the parquet reader answers from footer
        # row counts. Runs CONCURRENTLY with the write job (separate
        # thread — the write's output tasks are capped at one per
        # partition, so cores are free); nothing destructive happens
        # until both have finished and been cross-checked.
        import threading

        count_out: dict = {}

        def run_count() -> None:
            try:
                count_out["before_n"] = {
                    r["rel"]: int(r["n"])
                    for r in src.groupBy(tag.alias("rel"))
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            except BaseException as exc:  # surfaced after join
                count_out["err"] = exc

        count_thread = threading.Thread(target=run_count, daemon=True)
        count_thread.start()
        obs = Observation()
        observed = (
            src.withColumn(h_col, row_hash)
            .observe(obs, *_fingerprint_lanes(h_col))
            .drop(h_col)
            .withColumn(bcol, tag)
        )
        writer = observed.repartition(len(items), F.col(bcol))
        if sort_by:
            writer = writer.sortWithinPartitions(bcol, *sort_by)
        writer.write.partitionBy(bcol).mode("overwrite").parquet(tmp_batch)
        metrics = obs.get
        g_before = (
            int(metrics["n"]),
            int(metrics["fp"] or 0),
            int(metrics["fpsum"] or 0),
        )
        count_thread.join()
        if "err" in count_out:
            raise count_out["err"]
        before_n = count_out["before_n"]
        # fail-safe BEFORE any swap: every observed tag must be a
        # planned partition, or rows would be routed to a directory
        # no swap claims and then deleted with tmp_batch
        unknown = set(before_n) - {rel for rel, _f, _n, _r in items}
        if unknown:
            raise RuntimeError(
                "batch tag derivation produced unplanned partitions "
                f"{sorted(unknown)[:5]}; refusing to rewrite"
            )
        # The directory-read fast path scanned DIRECTORIES, so a data
        # file landing between planning and the batch read would have
        # its rows compacted into the new output while _swap_files
        # retires only the PLANNED files — the late file would survive
        # alongside the compacted copy of its rows, permanently
        # duplicating them (and the per-rel count check cannot see it:
        # both sides read the same directory snapshot). Re-list every
        # batched partition — the source read is complete here (the
        # write job and the footer-count job both finished above), so
        # any file the read could have seen is visible to the re-list
        # — and later swap only those whose listing still equals the
        # planned fileset; a changed partition is left untouched for
        # the next run to re-plan. The re-list is ONE recursive
        # binaryFile listing over just the batched dirs (JVM-parallel,
        # no per-file py4j round trips — the 10^5-partition path),
        # OVERLAPPED with the read-back verification job below. A late
        # NON-parquet visible file is invisible to this listing, but
        # also harmless: one present during the read fails the parquet
        # read outright, one arriving after it contributes no read
        # rows and merely survives the swap untouched.
        relist_out: dict = {}
        relist_thread = None
        if dirs_ok:
            r_abs = _qualified_root(spark, table_root)

            def run_relist() -> None:
                try:
                    found: dict[str, list[str]] = {
                        rel: [] for rel, _f, _n, _r in items
                    }
                    rows = (
                        bspark.read.format("binaryFile")
                        .option("pathGlobFilter", "*.parquet")
                        .option("recursiveFileLookup", "true")
                        .load(
                            [
                                posixpath.join(table_root, rel)
                                for rel, _f, _n, _r in items
                            ]
                        )
                        .select("path")
                        .collect()
                    )
                    for row in rows:
                        p = _uri_path(row["path"])
                        if not p.startswith(r_abs + "/"):
                            continue  # foreign mount: cannot be planned
                        tail = p[len(r_abs) + 1 :]
                        d = posixpath.dirname(tail)
                        while d and d not in found:
                            d = posixpath.dirname(d)  # nested late subdir
                        if d:
                            found[d].append(tail)
                    relist_out["found"] = {
                        rel: sorted(tails) for rel, tails in found.items()
                    }
                except BaseException as exc:  # surfaced after join
                    relist_out["err"] = exc

            relist_thread = threading.Thread(target=run_relist, daemon=True)
            relist_thread.start()
        rewritten = bspark.read.parquet(tmp_batch)
        after_rows = (
            rewritten.withColumn(h_col, row_hash)
            .groupBy(bcol)
            .agg(*_fingerprint_lanes(h_col))
            .collect()
        )
        after_n = {r[bcol]: int(r["n"]) for r in after_rows}
        g_after = (
            sum(int(r["n"]) for r in after_rows),
            _xor_all(int(r["fp"] or 0) for r in after_rows),
            sum(int(r["fpsum"] or 0) for r in after_rows),
        )
        bad = [
            rel
            for rel, _f, _n, _r in items
            if before_n.get(rel) != after_n.get(rel)
        ]
        if bad or g_before != g_after:
            raise RuntimeError(
                "batched compaction verification failed: "
                f"per-rel count mismatches {bad}, "
                f"global lanes {g_before} -> {g_after}"
            )
        # map each rel to its escaped partition dir under tmp_batch
        # (Spark %-escapes special path chars in partition values);
        # list via Hadoop FS so hdfs:// and s3a:// roots work too
        fs, tmp_path, _jvm = _hadoop_fs(spark, tmp_batch)
        subdirs = {}
        for st in fs.listStatus(tmp_path):
            name = st.getPath().getName()
            if name.startswith(f"{bcol}="):
                subdirs[unquote(name.split("=", 1)[1])] = posixpath.join(
                    tmp_batch, name
                )
        if relist_thread is not None:
            relist_thread.join()
            if "err" in relist_out:
                raise relist_out["err"]
        for rel, files, _n_bins, res in items:
            if dirs_ok:
                planned = sorted(
                    _uri_path(p)[len(r_abs) + 1 :] for p, _ in files
                )
                if relist_out["found"][rel] != planned:
                    res.skipped = "concurrent_arrival"
                    continue
            if rel not in subdirs and not before_n.get(rel):
                # zero-row partition (all its source files are empty):
                # partitionBy wrote no dir for its tag; swap against an
                # empty staging dir so the old files still retire
                empty = posixpath.join(tmp_batch, f"{bcol}=__zero__")
                fs.mkdirs(_jvm.org.apache.hadoop.fs.Path(empty))
                subdirs[rel] = empty
            part_dir = (
                posixpath.join(table_root, rel) if rel else table_root
            )
            new_names = _swap_files(
                spark,
                subdirs[rel],
                part_dir,
                [p for p, _ in files],
                trash_dir,
                rel=rel,
            )
            res.rows = before_n.get(rel, 0)
            ckpt.mark_done(
                rel,
                files_before=len(files),
                files_after=len(new_names),
                rows=res.rows,
                fileset=fileset_signature(new_names),
            )
    finally:
        _rm(spark, tmp_batch)


def _xor_all(vals) -> int:
    out = 0
    for v in vals:
        out ^= v
    return out


def compact_table(
    spark: SparkSession,
    table_root: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    checkpoint: CompactionCheckpoint | None = None,
    sort_by: list[str] | None = None,
    pacing_seconds: float = 0.0,
    time_window: tuple[str, str] | None = None,
    max_partitions_per_run: int | None = None,
    concurrency: int | None = None,
    priority: str = "name",
    trash: bool = False,
    cluster_by: list[str] | None = None,
) -> CompactionReport:
    """Compact every small-file partition of a parquet table in place.

    A partition qualifies when it has >1 file (QHC.java:151) AND the
    planned bin count is lower than the current file count (no
    pointless rewrites). `sort_by` preserves the sorted-run property
    of the reference's HFiles in the rewritten parquet.

    `concurrency` > 1 rewrites that many partitions at once (Spark
    schedules the concurrent jobs across the cluster). The default
    (None) is ADAPTIVE: each partition's own write parallelism is
    only its bin count, so enough rewrites run concurrently to cover
    the cluster's core count — serial rewrites of small partitions
    leave almost every executor idle and land well under the
    reference's 40 s/GB completion budget (QHC.java:170; measured
    7.3 MB/s serial vs 41.6 MB/s at concurrency 8). Pass
    `concurrency=1` explicitly for the reference's one-region-at-a-
    time minimal-impact behavior (README.md:8-9).

    `priority="fragmentation"` visits the most-fragmented partitions
    first (most files), so a bounded run (`max_partitions_per_run`)
    spends its budget where it buys the most; `"name"` is the
    reference's positional-cursor order. `trash=True` retires old
    files into `<root>/_trash/<epoch>/` instead of deleting —
    reclaim with purge_trash().

    `cluster_by=[c1, c2, ...]` Z-ORDERS each rewrite across those
    columns (range-partition + sort on the interleaved-bit Morton
    value, functions/zorder.py): every output file covers a compact
    hyper-rectangle of the clustered columns, so parquet min/max
    pruning works for predicates on ANY of them — the Delta
    OPTIMIZE ZORDER BY / Iceberg sort-order layout move, here as
    part of the compaction rewrite it shares a pass with.
    """
    ckpt = checkpoint or CompactionCheckpoint(
        posixpath.join(table_root, "_compaction_checkpoint.json")
    )
    report = CompactionReport(table_root)
    reconcile_swaps(spark, table_root)  # finish any crash-interrupted
    # swap BEFORE listing, so the listing never sees an old+new mix
    # Per-file rows aggregate ON EXECUTORS: the driver receives one
    # (filenum, bytes) row per PARTITION, and only partitions that
    # might actually be rewritten get their file list (one bounded
    # listStatus each) — O(partitions + files-in-touched-partitions)
    # driver memory instead of O(all files).
    summary = {
        r["partition"]: (int(r["filenum"]), int(r["total_bytes"]))
        for r in partition_summary(spark, table_root).collect()
    }
    trash_dir = (
        posixpath.join(table_root, "_trash", str(int(time.time())))
        if trash
        else None
    )
    if priority == "fragmentation":
        order = sorted(summary, key=lambda r: (-summary[r][0], r))
    else:  # deterministic name order, like the reference's positional
        # region cursor (QHC.java:133,146)
        order = sorted(summary)
    todo: list[tuple[str, list[tuple[str, int]], int, PartitionResult]] = []
    purity: dict[str, bool] = {}  # rel -> dir listing == planned files
    done = 0
    ck_state = ckpt.load()
    for rel in order:
        n_files, total = summary[rel]
        n_bins = max(1, math.ceil(total / target_bytes))
        res = PartitionResult(rel, n_files, n_bins, total, rows=0)
        if n_files <= 1:
            res.skipped = "single_file"  # the >1 gate, QHC.java:151
        elif n_bins >= n_files:
            res.skipped = "already_compact"
        elif (
            max_partitions_per_run is not None
            and done >= max_partitions_per_run
        ):
            # budget exhausted: tag WITHOUT listing — at 10^6
            # fragmented partitions a capped run must not pay one
            # listStatus per partition it will not touch (a partition
            # that is merely checkpointed also reports pacing_budget
            # here; the label difference is cosmetic, the skip is not)
            res.skipped = "pacing_budget"
        else:
            files, pure = _list_one_partition(spark, table_root, rel)
            ck_entry = ck_state.get(rel)
            cur_sig = fileset_signature([p for p, _ in files])
            if ck_entry is not None and ck_entry.get("fileset") in (None, cur_sig):
                # done AND unchanged since (legacy entries without a
                # fileset are honored as plain done-markers); a changed
                # listing — new files arrived — re-opens the partition
                res.skipped = "checkpointed"
        report.results.append(res)
        if not res.skipped:
            done += 1
            todo.append((rel, files, n_bins, res))
            purity[rel] = pure

    # SMALL single-bin partitions batch into ONE job pair (union-tag
    # -> partitionBy write + one per-tag verify agg) unless a knob
    # asks for the reference's serial region-at-a-time politeness
    # (explicit concurrency=1, pacing, time windows) or the rewrite
    # needs the per-partition z-order path. A fragmented table is
    # mostly small 1-bin partitions, and per-partition driver
    # planning is what caps throughput there — see _compact_batch.
    # Partitions ABOVE the size gate keep their own overlapped
    # concurrent jobs: their per-job overhead amortizes over real
    # bytes, and one big rel inside the batch would otherwise
    # straggle the whole single-file-per-rel write stage.
    if (
        concurrency != 1
        and time_window is None
        and not pacing_seconds
        and not cluster_by
    ):
        batchable = [
            t
            for t in todo
            if t[2] == 1
            and t[0]
            and t[3].bytes_total < _BATCH_MAX_PARTITION_BYTES
        ]
        if len(batchable) >= 2:
            _compact_batch(
                spark,
                table_root,
                batchable,
                sort_by,
                trash_dir,
                ckpt,
                dirs_ok=all(purity[t[0]] for t in batchable),
            )
            batched = {id(t) for t in batchable}
            todo = [t for t in todo if id(t) not in batched]

    def run_one(item) -> None:
        rel, files, n_bins, res = item
        if time_window is not None:
            while not _in_time_window(*time_window):
                time.sleep(1.0)  # reference sleeps 60 s (QHC.java:54);
                # 1 s keeps tests responsive, policy not semantics
        res.rows, new_names = _compact_one(
            spark, table_root, rel, files, n_bins, sort_by, trash_dir,
            cluster_by=cluster_by,
        )
        ckpt.mark_done(
            rel,
            files_before=len(files),
            files_after=n_bins,
            rows=res.rows,
            fileset=fileset_signature(new_names),
        )
        if pacing_seconds:
            time.sleep(pacing_seconds)  # QHC.java:195 inter-region pause

    if concurrency is None:
        # cover the cluster width: ceil(cores / avg bins per rewrite),
        # bounded by the work available and a sanity cap on in-flight
        # driver threads / concurrent temp dirs
        avg_bins = max(
            1, sum(n for _, _, n, _ in todo) / len(todo)
        ) if todo else 1
        concurrency = max(
            1,
            min(
                len(todo) or 1,
                math.ceil(spark.sparkContext.defaultParallelism / avg_bins),
                16,
            ),
        )
    if concurrency <= 1:
        for item in todo:
            run_one(item)
    else:
        from concurrent.futures import ThreadPoolExecutor

        # Spark job submission is thread-safe; CompactionCheckpoint
        # writes whole-file atomically, and mark_done is serialized by
        # a lock so concurrent completions don't lose updates.
        lock = __import__("threading").Lock()
        real_mark = ckpt.mark_done

        def locked_mark(key: str, **meta) -> None:
            with lock:
                real_mark(key, **meta)

        ckpt.mark_done = locked_mark  # type: ignore[method-assign]
        try:
            with ThreadPoolExecutor(max_workers=concurrency) as pool:
                list(pool.map(run_one, todo))
        finally:
            ckpt.mark_done = real_mark  # type: ignore[method-assign]
    return report


def _swap_files(
    spark: SparkSession,
    tmp_dir: str,
    dest_dir: str,
    old_files: list[str],
    trash_dir: str | None = None,
    *,
    rel: str = "",
) -> list[str]:
    """Move rewritten files into the partition dir and retire the old
    ones, under a write-ahead swap manifest.

    Before the first rename, a hidden manifest in the partition dir
    records every planned (tmp -> dest) move and every old file to
    retire; it is deleted only after the swap fully completes. A
    crash at ANY point therefore leaves either (a) no manifest — the
    partition untouched, tmp dir re-writable — or (b) a manifest
    from which reconcile_swaps() deterministically finishes the job.
    New-file names carry a uuid so retries and same-second batches
    can never collide. Every rename's return value is checked. With
    `trash_dir`, retired files are MOVED to
    `<trash>/<partition-rel>/<name>` (rename, cheap on any FS) so a
    bad rewrite is recoverable until purge_trash runs — the rel
    component prevents cross-partition basename collisions."""
    fs, _, jvm = _hadoop_fs(spark, tmp_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    new_files = [
        st.getPath()
        for st in fs.listStatus(Path(tmp_dir))
        if st.getPath().getName().endswith(".parquet")
    ]
    batch = uuid.uuid4().hex[:10]
    moves = [
        (str(src), str(Path(dest_dir, f"compacted-{batch}-{i:05d}.parquet")))
        for i, src in enumerate(new_files)
    ]
    manifest = {
        "tmp_dir": tmp_dir,
        "rel": rel,
        "moves": moves,
        "old": [str(Path(p)) for p in old_files],
        "trash_dir": trash_dir,
    }
    mpath = Path(dest_dir, SWAP_MANIFEST_NAME)
    _write_json(fs, Path, mpath, manifest)
    for src_uri, dest_uri in moves:
        if not fs.rename(Path(src_uri), Path(dest_uri)):
            raise RuntimeError(f"rename failed: {src_uri} -> {dest_uri}")
    for old in manifest["old"]:
        _retire_old(fs, Path, Path(old), trash_dir, rel)
    fs.delete(Path(tmp_dir), True)
    fs.delete(mpath, False)
    return [posixpath.basename(_uri_path(d)) for _, d in moves]


def _write_json(fs, Path, path, payload: dict) -> None:
    """Atomic publish: write a sibling temp file, then rename onto the
    target — a reader racing the write sees either the previous
    complete file or the new complete file, never a truncated stream
    (swap manifests are read by the concurrent-read path in
    reader.py, where a half-written JSON would crash the reader)."""
    tmp = Path(
        path.getParent(), f".{path.getName()}.tmp-{uuid.uuid4().hex[:8]}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode()))
    finally:
        out.close()
    fs.delete(path, False)  # rename-over is not portable; delete first
    if not fs.rename(tmp, path):
        fs.delete(tmp, False)
        raise RuntimeError(f"atomic json publish failed: {path}")


def _read_json(fs, jvm, path) -> dict:
    # py4j passes primitive arrays by value, so InputStream.read(buf)
    # can't fill a Python buffer — read through a Java reader instead
    stream = fs.open(path)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
        return json.loads("\n".join(lines))
    finally:
        stream.close()


def _retire_old(fs, Path, old_path, trash_dir: str | None, rel: str) -> None:
    """Delete an old file, or move it into the per-partition trash
    subtree; rename failures raise instead of silently leaving
    duplicate rows in the partition."""
    if not fs.exists(old_path):
        return  # already retired (reconcile re-run)
    if trash_dir:
        parent = Path(trash_dir, rel) if rel else Path(trash_dir)
        fs.mkdirs(parent)
        dest = Path(parent, old_path.getName())
        if not fs.rename(old_path, dest):
            raise RuntimeError(f"trash rename failed: {old_path} -> {dest}")
    else:
        if not fs.delete(old_path, False):
            raise RuntimeError(f"delete failed: {old_path}")


def reconcile_swaps(spark: SparkSession, table_root: str) -> int:
    """Complete any swap a previous run left interrupted (crash
    between the manifest write and the manifest delete). For each
    leftover manifest: finish the planned renames (skipping moves
    whose destination already landed), retire the listed old files,
    drop the tmp dir, then drop the manifest. Idempotent — safe to
    run on every startup; returns the number of swaps completed.
    Without this, a re-run would read the old+new superset as source
    and verify the duplicated rows against themselves, baking the
    duplication in permanently."""
    fs, root, jvm = _hadoop_fs(spark, table_root)
    Path = jvm.org.apache.hadoop.fs.Path
    qroot = fs.makeQualified(root)
    if not fs.exists(qroot):
        return 0
    # Find leftover manifests with ONE JVM-side glob (brace
    # alternation over partition depths 0-6) instead of draining a
    # recursive listFiles iterator through py4j — the iterator pays
    # one py4j round trip PER FILE, turning a clean 1000-file startup
    # into seconds and a 10^6-file one into hours. The glob returns
    # only matches (normally zero). Tables nested deeper than 6
    # partition levels fall back to the exhaustive walk, detected by
    # a single depth-7 probe glob.
    base = str(qroot)
    if any(c in base for c in "*?[]{}\\"):
        # a glob metacharacter in the TABLE ROOT itself would corrupt
        # the pattern (brace alternation swallows a literal '{', a
        # '[x]' range-matches) and could silently return no manifests
        # — the interrupted swap would never reconcile and the next
        # run would bake the old+new duplication in permanently.
        # Exhaustive walk for such roots; they are rare, the glob fast
        # path covers the normal fleet.
        manifests = []
        it = fs.listFiles(qroot, True)
        while it.hasNext():
            p = it.next().getPath()
            if p.getName() == SWAP_MANIFEST_NAME:
                manifests.append(p)
    else:
        depth_pats = ",".join(
            "/".join(["*"] * d) + ("/" if d else "") + SWAP_MANIFEST_NAME
            for d in range(0, 7)
        )
        manifests = [
            st.getPath()
            for st in (fs.globStatus(Path(f"{base}/{{{depth_pats}}}")) or [])
        ]
        deep = fs.globStatus(Path(base + "/" + "/".join(["*"] * 7)))
        if deep is not None and len(deep) > 0:
            it = fs.listFiles(qroot, True)
            while it.hasNext():
                p = it.next().getPath()
                if p.getName() == SWAP_MANIFEST_NAME:
                    manifests.append(p)
            seen = set()
            manifests = [
                m for m in manifests
                if str(m) not in seen and not seen.add(str(m))
            ]
    fixed = 0
    for mpath in manifests:
        data = _read_json(fs, jvm, mpath)
        for src_uri, dest_uri in data["moves"]:
            src, dest = Path(src_uri), Path(dest_uri)
            if fs.exists(src):
                if fs.exists(dest):
                    # rename is atomic move, so src+dest both present
                    # means a non-atomic copy got interrupted (object
                    # store): the staged tmp copy is authoritative
                    fs.delete(dest, False)
                if not fs.rename(src, dest):
                    raise RuntimeError(f"rename failed: {src} -> {dest}")
            elif not fs.exists(dest):
                raise RuntimeError(
                    f"swap reconcile lost a file: neither {src_uri} nor "
                    f"{dest_uri} exists"
                )
        for old in data["old"]:
            _retire_old(fs, Path, Path(old), data.get("trash_dir"), data.get("rel", ""))
        fs.delete(Path(data["tmp_dir"]), True)
        fs.delete(mpath, False)
        fixed += 1
    return fixed


def purge_trash(
    spark: SparkSession, table_root: str, *, older_than_s: float = 0.0
) -> int:
    """Delete retired pre-compaction files older than the retention
    window. Returns the number of files removed. The trash layout is
    `<root>/_trash/<epoch>/<partition-rel>/<file>` — one directory
    per swap batch, partition-relative below it (so equal basenames
    from different partitions never collide)."""
    fs, root, jvm = _hadoop_fs(spark, posixpath.join(table_root, "_trash"))
    if not fs.exists(root):
        return 0
    removed = 0
    cutoff = time.time() - older_than_s
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        try:
            batch_ts = int(name)
        except ValueError:
            continue
        if batch_ts <= cutoff:
            n = 0
            it = fs.listFiles(st.getPath(), True)
            while it.hasNext():
                it.next()
                n += 1
            fs.delete(st.getPath(), True)
            removed += n
    return removed


def _rm(spark: SparkSession, path: str) -> None:
    fs, hpath, _ = _hadoop_fs(spark, path)
    fs.delete(hpath, True)
