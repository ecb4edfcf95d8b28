"""Invariant tests for the snapshot-lifecycle declared queries
(workload_compaction.py / workload_streaming.py): beyond the driver's
hash compare, these assert the SCALE claims — files really pruned by
stats/blooms, merge candidates really narrowed, replayed batches
really invisible, schema evolution really metadata-only."""

from __future__ import annotations

import posixpath

import pytest
from pyspark.sql import functions as F

from hbase_compact_spark.compaction.snapshots import (
    SnapshotLog,
    read_table_at,
    scan_plan,
)
from hbase_compact_spark.workload_compaction import (
    BLOOM_KEY,
    DEL_HI,
    DEL_LO,
    INS_OFFSET,
    INS_SRC_MAX,
    UPD_HI,
    UPD_LO,
    bloom_lookup_root,
    delete_scan_root,
    evolution_root,
    merge_scan_root,
)
from hbase_compact_spark.workload_streaming import ingest_root

SF_DIR = "/root/testdata/sf0.001"


def test_delete_scan_prunes_and_is_versioned(spark):
    root = delete_scan_root(spark, SF_DIR)
    log = SnapshotLog(spark, root)
    v = log.latest()
    snap = log.read(v)
    assert snap["op"] == "delete"
    # the delete must NOT have rewritten every file: untouched ranges
    # are carried by reference (same relpaths as the parent version)
    parent_files = {p for p, _ in log.files(snap["parent"])}
    final_files = {p for p, _ in log.files(v)}
    carried = parent_files & final_files
    assert carried, "delete rewrote every file — stats pruning failed"
    # deleted rows gone, pre-delete version still serves them
    after = read_table_at(spark, root, v)
    assert after.filter(
        F.col("o_orderkey").between(DEL_LO, DEL_HI)
    ).count() == 0
    before = read_table_at(spark, root, snap["parent"])
    assert before.filter(
        F.col("o_orderkey").between(DEL_LO, DEL_HI)
    ).count() > 0


def test_merge_scan_narrows_candidates(spark):
    root = merge_scan_root(spark, SF_DIR)
    log = SnapshotLog(spark, root)
    v = log.latest()
    snap = log.read(v)
    assert snap["op"] == "merge"
    parent_files = {p for p, _ in log.files(snap["parent"])}
    final_files = {p for p, _ in log.files(v)}
    # stats narrowed the merge: most range-partitioned files carried
    carried = parent_files & final_files
    assert len(carried) >= len(parent_files) // 2
    after = read_table_at(spark, root, v)
    # updates applied
    upd = after.filter(F.col("o_orderkey").between(UPD_LO, UPD_HI))
    assert upd.filter(F.col("o_orderstatus") != "U").count() == 0
    assert upd.count() == UPD_HI - UPD_LO + 1
    # inserts present exactly once
    ins = after.filter(F.col("o_orderkey") >= INS_OFFSET)
    assert ins.count() == INS_SRC_MAX + 1
    assert ins.filter(F.col("o_orderstatus") != "I").count() == 0


def test_bloom_lookup_skips_files(spark):
    root = bloom_lookup_root(spark, SF_DIR)
    plan = scan_plan(spark, root, {"o_orderkey": BLOOM_KEY})
    assert plan["pruned_files"] >= 4, (
        f"blooms pruned only {plan['pruned_files']} of 8 hash files"
    )
    # a range probe on the same key uses stats ONLY (no bloom probe);
    # on the hash layout min/max are near-full-domain, so the bloom
    # path must prune strictly more — the bitsets are doing the work
    plan_range = scan_plan(
        spark, root, {"o_orderkey": (BLOOM_KEY, BLOOM_KEY)}
    )
    assert plan["pruned_files"] > plan_range["pruned_files"]


def test_schema_evolution_projects_and_hides(spark):
    root = evolution_root(spark, SF_DIR)
    df = read_table_at(spark, root)
    assert "o_priority" in df.columns
    assert "o_orderstatus" not in df.columns
    # pre-evolution rows (odd keys) project NULL; post rows carry data
    assert df.filter(
        (F.col("o_orderkey") % 2 == 1) & F.col("o_priority").isNotNull()
    ).count() == 0
    assert df.filter(
        (F.col("o_orderkey") % 2 == 0) & F.col("o_priority").isNull()
    ).count() == 0
    # time travel to v1 serves the ORIGINAL schema
    v1 = read_table_at(spark, root, 1)
    assert "o_orderstatus" in v1.columns
    assert "o_priority" not in v1.columns
    # evolution commit (v2) shares every file with v1: metadata-only
    log = SnapshotLog(spark, root)
    assert log.files(1) == log.files(2)
    # the declared schema SURVIVES the post-evolution append: without
    # the carry, v3 readers fall back to parquet inference, which
    # picks an arbitrary generation's physical schema
    assert log.read(3).get("schema"), "append commit dropped the schema"


def test_ingest_root_batches_and_replay(spark):
    from hbase_compact_spark.streaming.ingest import (
        committed_batch_ids,
        replay_batch,
    )
    from hbase_compact_spark.tables import load_table

    root = ingest_root(spark, SF_DIR)
    log = SnapshotLog(spark, root)
    ids = committed_batch_ids(log)
    assert len(ids) >= 4  # one commit per staged file
    n_versions = len(log.versions())
    n_rows = read_table_at(spark, root).count()
    # replaying ANY committed batch id is a no-op
    probe = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).limit(3)
    assert replay_batch(spark, root, probe, min(ids)) is False
    assert len(log.versions()) == n_versions
    assert read_table_at(spark, root).count() == n_rows
    # the ingested table equals the batch dual
    ev = load_table(spark, SF_DIR, "events")
    assert n_rows == ev.count()


def test_read_incremental_contract(spark, tmp_path):
    """Incremental reads return exactly the delta files' rows, reject
    rewrite-crossing ranges, and serve an empty delta with the right
    schema."""
    from pyspark.sql import functions as F

    from hbase_compact_spark.compaction.snapshots import (
        read_incremental,
        snapshot_compact,
    )

    root = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    df.filter("id < 60").repartition(2).write.parquet(root)
    log = SnapshotLog(spark, root)
    log.bootstrap()  # v1
    df.filter("id >= 60").repartition(2).write.mode("overwrite").parquet(
        f"{root}/delta"
    )
    log.commit_current(op="append", parent=1)  # v2
    inc = read_incremental(spark, root, 1, 2)
    assert sorted(r["id"] for r in inc.collect()) == list(range(60, 100))
    # empty delta: metadata-only commit between the endpoints
    log.commit_current(op="append", parent=2)  # v3, same files
    assert read_incremental(spark, root, 2, 3).count() == 0
    assert read_incremental(spark, root, 2, 3).columns == ["id", "v"]
    # a rewrite inside the range is rejected
    rep = snapshot_compact(spark, root, target_bytes=1 << 40)
    assert rep["rewritten"] >= 1
    with pytest.raises(ValueError, match="rewrite"):
        read_incremental(spark, root, 1, log.latest())


def test_read_changes_cdc_semantics(spark):
    """CDC across the merge commit: update pre/post-image pairs +
    inserts; carried-verbatim rewrite rows cancel; only the touched
    files open; empty range -> empty feed."""
    from hbase_compact_spark.compaction.snapshots import read_changes

    root = merge_scan_root(spark, SF_DIR)
    log = SnapshotLog(spark, root)
    merge_v = max(
        v for v in log.versions() if log.read(v).get("op") == "merge"
    )
    from_v = max(v for v in log.versions() if v < merge_v)
    feed = read_changes(spark, root, from_v, merge_v).cache()
    n_upd = (UPD_HI - UPD_LO + 1)
    dels = feed.filter(F.col("_change_type") == "delete")
    ins = feed.filter(F.col("_change_type") == "insert")
    # every update key emits exactly one pre-image and one post-image
    assert dels.count() == n_upd
    assert (
        dels.filter(F.col("o_orderkey").between(UPD_LO, UPD_HI)).count()
        == n_upd
    )
    assert ins.filter(F.col("o_orderstatus") == "U").count() == n_upd
    # inserts: the templated new keys
    assert (
        ins.filter(F.col("o_orderkey") >= INS_OFFSET).count()
        == INS_SRC_MAX + 1
    )
    # nothing else leaked through (carried rows cancelled exactly)
    assert feed.count() == 2 * n_upd + (INS_SRC_MAX + 1)
    # pre-images carry the ORIGINAL status/price (not 'U')
    assert dels.filter(F.col("o_orderstatus") == "U").count() == 0
    # empty range
    empty = read_changes(spark, root, from_v, from_v)
    assert empty.count() == 0
    assert "_change_type" in empty.columns
    feed.unpersist()


def test_ingest_rebuild_discards_stale_checkpoint(spark):
    """A rebuild after a crashed attempt wipes table+log but used to
    reuse the streaming checkpoint — whose offsets make Structured
    Streaming skip re-delivering batches the wiped log never saw,
    silently losing rows. The rebuild must start from a clean
    checkpoint and re-deliver everything."""
    import shutil

    from hbase_compact_spark.tables import load_table

    root = ingest_root(spark, SF_DIR)
    # simulate the crash window: materialization gone, checkpoint left
    shutil.rmtree(root)
    root2 = ingest_root(spark, SF_DIR)
    assert root2 == root
    log = SnapshotLog(spark, root2)
    ops = [log.read(v).get("op", "") for v in log.versions()]
    assert sum(op.startswith("append:batch=") for op in ops) >= 4
    n = read_table_at(spark, root2).count()
    assert n == load_table(spark, SF_DIR, "events").count()


def test_read_changes_across_schema_evolution(spark):
    """CDC semantics around metadata-only schema changes: the evolve
    commit (v1->v2) touches zero files so the change feed is EMPTY,
    and the feed across the post-evolution append (v2->v3) carries
    exactly the appended rows as inserts under the evolved schema."""
    from hbase_compact_spark.compaction.snapshots import read_changes
    from hbase_compact_spark.workload_compaction import evolution_root

    root = evolution_root(spark, SF_DIR)
    assert read_changes(spark, root, 1, 2).count() == 0
    feed = read_changes(spark, root, 2, 3)
    assert feed.filter(F.col("_change_type") == "delete").count() == 0
    ins = feed.filter(F.col("_change_type") == "insert")
    assert ins.count() > 0
    # inserts carry the evolved column for real
    assert ins.filter(F.col("o_priority").isNull()).count() == 0
    # the dropped column is hidden from the feed's schema
    assert "o_orderstatus" not in feed.columns


def test_lifecycle_time_travel_and_pruned_read(spark):
    """ingest_compact_lifecycle's supporting claims: (a) the builder
    committed >= _LC_STREAM_FILES append batches then exactly one
    compact; (b) the pre-compaction version stays readable across the
    compaction boundary and returns the identical row set (old files
    are never touched, only de-referenced); (c) the compacted layout
    is multiple z-ordered files whose stats PRUNE a point read's scan
    list; (d) the pruned read equals full-scan + filter exactly."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        read_table_at,
        read_table_where,
        scan_plan,
    )
    from hbase_compact_spark.workload_compaction import (
        _LC_STREAM_FILES,
        lifecycle_root,
    )

    root = lifecycle_root(spark, SF_DIR)
    log = SnapshotLog(spark, root)
    versions = log.versions()
    ops = {v: log.read(v).get("op", "") for v in versions}
    assert (
        sum(op.startswith("append:batch=") for op in ops.values())
        >= _LC_STREAM_FILES
    )
    (v_compact,) = [v for v in versions if ops[v] == "compact"]
    v_pre = max(v for v in versions if v < v_compact)
    assert len(log.files(v_compact)) < len(log.files(v_pre))

    pre = read_table_at(spark, root, version=v_pre)
    post = read_table_at(spark, root)
    assert sorted(map(tuple, pre.collect())) == sorted(
        map(tuple, post.collect())
    )

    files_post = len(log.files(log.latest()))
    assert files_post >= 2  # multiple files, else pruning is vacuous
    lo = post.agg(F.min("event_id")).first()[0]
    plan = scan_plan(spark, root, {"event_id": (lo, lo)})
    assert len(plan["paths"]) < files_post  # stats skipped files
    got = read_table_where(spark, root, {"event_id": (lo, lo)})
    exp = post.where(F.col("event_id") == lo)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_ivm_aggregate_equals_full_recompute(spark):
    """The maintained view (base aggregate at v_from plus CDC deltas)
    must equal a FRESH aggregate over the post-merge snapshot —
    row-for-row, with the decimal sums exact. This is the IVM
    contract itself, proven inside Spark (the oracle proves it again
    cross-engine from the source table)."""
    from hbase_compact_spark.compaction.snapshots import read_table_at
    from hbase_compact_spark.workload_compaction import (
        ivm_aggregate,
        merge_scan_root,
    )

    sf_dir = "/root/testdata/sf0.001"
    maintained = {
        r["o_orderstatus"]: (r["n_orders"], r["total_price"])
        for r in ivm_aggregate(spark, sf_dir).collect()
    }
    root = merge_scan_root(spark, sf_dir)
    recomputed = {
        r["o_orderstatus"]: (r["n"], r["s"])
        for r in read_table_at(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
            .cast("double")
            .alias("s"),
        )
        .collect()
    }
    assert maintained == recomputed
    # the merge makes the view move: updated statuses shrink, 'U'
    # and 'I' appear — a vacuous delta would prove nothing
    assert "U" in maintained and "I" in maintained


def test_expire_reclaims_only_dead_files(spark):
    """Retention books the oracle hash can't see: expire drops v1 and
    physically deletes exactly the files no surviving snapshot
    references; v1 becomes unreadable; the kept versions' files all
    still exist (orphan-free, nothing live lost); the base staging is
    untouched (runs mutate a copy)."""
    import os
    import posixpath

    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        expire_snapshots,
        read_table_at,
    )
    from hbase_compact_spark.workload_compaction import (
        _expire_base_root,
        _expire_working_copy,
    )

    base = _expire_base_root(spark, SF_DIR)
    base_log = SnapshotLog(spark, base)
    assert base_log.latest() == 3
    v1_files = {p for p, _ in base_log.files(1)}
    live = {
        p for v in (2, 3) for p, _ in base_log.files(v)
    }
    dead = v1_files - live
    assert dead, "staging must leave v1-only files for expire to reclaim"

    work = _expire_working_copy(spark, SF_DIR)
    n_before = read_table_at(spark, work).count()
    stats = expire_snapshots(spark, work, keep_last=2)
    assert stats == {"expired": 1, "deleted_files": len(dead)}
    for p in dead:
        assert not os.path.exists(posixpath.join(work, p))
    for p in live:
        assert os.path.exists(posixpath.join(work, p))
    # v1 is gone; latest still reads the same rows
    log = SnapshotLog(spark, work)
    assert log.versions() == [2, 3]
    assert read_table_at(spark, work).count() == n_before
    # the immutable base still has every file (copies share data via
    # hardlinks but deletes must not reach through)
    for p in v1_files | live:
        assert os.path.exists(posixpath.join(base, p))


# ---------------------------------------------------------------------------
# Partition-spec evolution (snapshot_partition_evolution)


def test_partition_evolution_is_metadata_only_and_reads_mixed(spark):
    """v2 (the spec change) must reference EXACTLY v1's files (zero
    rewrite); v3 adds only `_hp_event_type=` files; the latest read
    unions both layout generations into the full expected frame and
    time travel still serves the pre-evolution subset."""
    from hbase_compact_spark.compaction.snapshots import (
        PARTITION_DIR_PREFIX,
        partition_spec_of,
    )
    from hbase_compact_spark.workload_compaction import (
        _PE_MOD,
        _partevol_root,
    )
    from hbase_compact_spark.tables import load_table

    root = _partevol_root(spark, SF_DIR)
    log = SnapshotLog(spark, root)
    assert log.latest() == 3
    v1_files = set(p for p, _ in log.files(1))
    v2_files = set(p for p, _ in log.files(2))
    assert v1_files == v2_files  # metadata-only evolution
    assert log.read(2)["op"] == "evolve-partitioning"
    spec = partition_spec_of(log, 3)
    assert spec == {"spec_id": 1, "partition_by": ["event_type"]}
    assert partition_spec_of(log, 1) is None  # pre-evolution
    added = set(p for p, _ in log.files(3)) - v2_files
    assert added and all(
        f"{PARTITION_DIR_PREFIX}event_type=" in p for p in added
    )
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    got_all = read_table_at(spark, root)
    assert sorted(map(tuple, got_all.collect())) == sorted(
        map(tuple, ev.collect())
    )
    got_v1 = read_table_at(spark, root, 1)
    want_v1 = ev.filter(F.col("event_id") % _PE_MOD != 0)
    assert sorted(map(tuple, got_v1.collect())) == sorted(
        map(tuple, want_v1.collect())
    )


def test_partition_evolution_prunes_from_path_alone(spark):
    """scan_plan must drop every evolved-generation file whose
    `_hp_event_type=` path value misses an equality predicate WITHOUT
    any stats annotation, and the pruned read must equal full-scan +
    filter exactly."""
    from hbase_compact_spark.compaction.snapshots import (
        PARTITION_DIR_PREFIX,
        read_table_where,
    )
    from hbase_compact_spark.workload_compaction import _partevol_root

    root = _partevol_root(spark, SF_DIR)
    log = SnapshotLog(spark, root)
    evolved = [
        p for p, _ in log.files(3)
        if f"{PARTITION_DIR_PREFIX}event_type=" in p
    ]
    types = sorted(
        {p.split("event_type=")[1].split("/")[0] for p in evolved}
    )
    assert len(types) >= 2, "fixture must hold several event types"
    target = types[0]
    plan = scan_plan(spark, root, {"event_type": target})
    kept_evolved = [
        p for p in plan["paths"]
        if f"{PARTITION_DIR_PREFIX}event_type=" in p
    ]
    # every surviving evolved file carries the target's value...
    assert kept_evolved and all(
        f"{PARTITION_DIR_PREFIX}event_type={target}/" in p
        for p in kept_evolved
    )
    # ...and every other-valued evolved file was pruned (no stats
    # were ever annotated on this table — the path alone did it)
    assert plan["pruned_files"] >= len(evolved) - len(kept_evolved) > 0
    got = read_table_where(spark, root, {"event_type": target})
    want = read_table_at(spark, root).filter(
        F.col("event_type") == target
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_evolve_partitioning_rejects_bad_specs(spark, tmp_path):
    """Unknown data columns and legacy hive-layout tables (whose
    partition values exist only as path structure) must be rejected
    loudly — a metadata-only spec cannot apply to either."""
    import pytest as _pytest

    from hbase_compact_spark.compaction.snapshots import (
        evolve_partitioning,
    )

    plain = str(tmp_path / "plain")
    spark.range(10).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS bucket"
    ).write.parquet(plain)
    with _pytest.raises(ValueError, match="not a data column"):
        evolve_partitioning(spark, plain, ["nope"])
    with _pytest.raises(ValueError, match="at least one column"):
        evolve_partitioning(spark, plain, [])
    hive = str(tmp_path / "hive")
    spark.range(10).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS bucket"
    ).write.partitionBy("bucket").parquet(hive)
    with _pytest.raises(ValueError, match="legacy hive path columns"):
        evolve_partitioning(spark, hive, ["id"])


def test_append_partitioned_without_spec_is_plain_append(spark, tmp_path):
    """On a never-evolved table append_partitioned must behave as a
    plain explicit-manifest append: root-level files, no `_hp_` dirs,
    and the parent's file list carried by reference."""
    from hbase_compact_spark.compaction.snapshots import (
        PARTITION_DIR_PREFIX,
        append_partitioned,
    )

    root = str(tmp_path / "t")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(root)
    v = append_partitioned(
        spark, root, spark.range(5, 9).selectExpr("id", "id * 2 AS v")
    )
    log = SnapshotLog(spark, root)
    assert v == 2
    assert all(
        PARTITION_DIR_PREFIX not in p for p, _ in log.files(2)
    )
    assert read_table_at(spark, root).count() == 9


def test_partition_evolution_composes_with_compaction(spark, tmp_path):
    """snapshot_compact groups rewrites BY DIRECTORY, so compacting a
    spec-evolved table keeps every `_hp_` layout dir (rewritten files
    land back inside their partition) — path-value pruning and the
    full-table read must survive a compaction after the evolution."""
    from hbase_compact_spark.compaction.snapshots import (
        PARTITION_DIR_PREFIX,
        append_partitioned,
        evolve_partitioning,
        snapshot_compact,
    )

    root = str(tmp_path / "t")
    base = spark.range(200).selectExpr(
        "id", "CAST(id % 4 AS STRING) AS grp", "id * 10 AS v"
    )
    base.filter("id < 100").coalesce(1).write.parquet(root)
    evolve_partitioning(spark, root, ["grp"])
    # two small appends -> >1 file per _hp_ dir, so compaction has
    # something to merge inside each partition
    append_partitioned(spark, root, base.filter("id >= 100 AND id < 150"))
    append_partitioned(spark, root, base.filter("id >= 150"))
    log = SnapshotLog(spark, root)
    pre = [p for p, _ in log.files(log.latest())]
    assert sum(f"{PARTITION_DIR_PREFIX}grp=" in p for p in pre) >= 8
    res = snapshot_compact(spark, root, target_bytes=1 << 30)
    assert res["rewritten"] >= 4  # each _hp_ dir merged
    post = [p for p, _ in log.files(log.latest())]
    evolved_post = [p for p in post if f"{PARTITION_DIR_PREFIX}grp=" in p]
    # layout survived: compacted files still live under their spec dir
    assert evolved_post and len(evolved_post) < sum(
        f"{PARTITION_DIR_PREFIX}grp=" in p for p in pre
    )
    plan = scan_plan(spark, root, {"grp": "1"})
    assert plan["pruned_files"] >= 3  # other grp dirs pruned by path
    got = read_table_at(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, base.collect())
    )


# ---------------------------------------------------------------------------
# Named refs (snapshot_ref_read)


def test_refs_pin_versions_against_expiry(spark, tmp_path):
    """A tagged version must survive expire_snapshots at ANY
    retention setting — its files stay readable through the ref —
    while unpinned old versions are reclaimed as usual; dropping the
    ref releases the pin on the next expire."""
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        expire_snapshots,
        read_table_at,
    )

    root = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(root)
    append_partitioned(spark, root, spark.range(10, 20).selectExpr("id", "id * 2 AS v"))
    append_partitioned(spark, root, spark.range(20, 30).selectExpr("id", "id * 2 AS v"))
    log = SnapshotLog(spark, root)
    assert log.latest() == 3
    log.set_ref("audit", 1, kind="tag")
    stats = expire_snapshots(spark, root, keep_last=1)
    # v2 expired; v1 pinned by the tag, v3 kept by retention
    assert stats["expired"] == 1
    assert log.versions() == [1, 3]
    assert read_table_at(spark, root, "audit").count() == 10
    assert read_table_at(spark, root).count() == 30
    assert log.drop_ref("audit")
    stats = expire_snapshots(spark, root, keep_last=1)
    assert stats["expired"] == 1 and log.versions() == [3]


def test_ref_semantics(spark, tmp_path):
    """Tags are immutable (same-target re-tag is an idempotent no-op,
    retarget raises), branches move, unknown refs raise with the
    available names, bad names/targets are rejected."""
    import pytest as _pytest

    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        read_table_at,
    )

    root = str(tmp_path / "t")
    spark.range(5).selectExpr("id").write.parquet(root)
    append_partitioned(spark, root, spark.range(5, 8).selectExpr("id"))
    log = SnapshotLog(spark, root)
    log.set_ref("rel", 1, kind="tag")
    assert log.set_ref("rel", 1, kind="tag")["version"] == 1  # no-op
    with _pytest.raises(ValueError, match="immutable"):
        log.set_ref("rel", 2, kind="tag")
    log.set_ref("main", 1, kind="branch")
    log.set_ref("main", 2, kind="branch")  # branches move
    assert log.resolve_ref("main") == 2
    assert read_table_at(spark, root, "main").count() == 8
    with _pytest.raises(FileNotFoundError, match="rel"):
        read_table_at(spark, root, "nope")
    with _pytest.raises(ValueError, match="not a committed snapshot"):
        log.set_ref("x", 99)
    with _pytest.raises(ValueError, match="invalid ref name"):
        log.set_ref("../escape", 1)


def test_partition_spec_can_evolve_twice(spark, tmp_path):
    """A second evolve_partitioning (new spec id, different column)
    must compose: three layout generations (plain, _hp_grp, _hp_tag)
    read as one table, and pruning uses whichever _hp_ value each
    file actually carries."""
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        evolve_partitioning,
        partition_spec_of,
        read_table_at,
    )

    root = str(tmp_path / "t")
    base = spark.range(90).selectExpr(
        "id",
        "CAST(id % 3 AS STRING) AS grp",
        "CAST(id % 2 AS STRING) AS tag",
    )
    base.filter("id < 30").coalesce(1).write.parquet(root)
    evolve_partitioning(spark, root, ["grp"])
    append_partitioned(spark, root, base.filter("id >= 30 AND id < 60"))
    evolve_partitioning(spark, root, ["tag"])
    append_partitioned(spark, root, base.filter("id >= 60"))
    log = SnapshotLog(spark, root)
    assert partition_spec_of(log) == {"spec_id": 2, "partition_by": ["tag"]}
    files = [p for p, _ in log.files(log.latest())]
    assert any("_hp_grp=" in p for p in files)
    assert any("_hp_tag=" in p for p in files)
    got = read_table_at(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, base.collect())
    )
    # prune on tag: only spec-2 files carry _hp_tag, others kept
    plan = scan_plan(spark, root, {"tag": "0"})
    assert plan["pruned_files"] >= 1
    assert all("_hp_tag=1" not in p for p in plan["paths"])


def test_hp_path_pruning_survives_special_characters(spark, tmp_path):
    """Partition values with spaces, percent signs, '=' and unicode
    round-trip through Spark's hive-style path escaping and the
    reader/pruner's percent-decoding: read_table_where must equal
    full-scan + filter for EVERY value, and equality pruning must
    still drop the other values' files (the r7 compaction lesson —
    input paths come back percent-ENCODED — applied to the new
    `_hp_` layout)."""
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        evolve_partitioning,
        read_table_at,
        read_table_where,
    )

    vals = ["plain", "with space", "pct%25", "eq=sign", "ünïcode"]
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, vals[i % len(vals)], i * 1.5) for i in range(50)],
        "id long, k string, v double",
    )
    df.filter("id < 10").coalesce(1).write.parquet(root)
    evolve_partitioning(spark, root, ["k"])
    append_partitioned(spark, root, df.filter("id >= 10"))
    got_all = read_table_at(spark, root)
    assert sorted(map(tuple, got_all.collect())) == sorted(
        map(tuple, df.collect())
    )
    log = SnapshotLog(spark, root)
    n_evolved = sum(
        "_hp_k=" in p for p, _ in log.files(log.latest())
    )
    assert n_evolved >= len(vals)
    for target in vals:
        plan = scan_plan(spark, root, {"k": target})
        # every other value's evolved file pruned by path alone
        assert plan["pruned_files"] >= len(vals) - 1, (target, plan)
        got = read_table_where(spark, root, {"k": target})
        want = df.filter(F.col("k") == target)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), target


# ---------------------------------------------------------------------------
# Merge-on-read deletes (snapshot_mor_delete_scan)


def _mor_table(spark, tmp_path, n=40, files=4):
    from hbase_compact_spark.compaction.snapshots import annotate_stats

    root = str(tmp_path / "t")
    (
        spark.range(n)
        .selectExpr("id", "id * 2 AS v")
        .repartitionByRange(files, "id")
        .write.parquet(root)
    )
    annotate_stats(spark, root, cols=["id"])
    return root


def test_mor_delete_rewrites_zero_bytes_and_time_travels(spark, tmp_path):
    """A merge-on-read delete commit must leave the DATA file manifest
    byte-identical to the parent's (zero rewrite — the whole point),
    the read must subtract exactly the matching rows, time travel must
    still serve the pre-delete version, and a repeated identical
    delete must be an idempotent no-op (already-pending entries apply
    to the candidate read, so nothing is recorded twice)."""
    from hbase_compact_spark.compaction.snapshots import (
        read_table_at,
        read_table_where,
        snapshot_delete,
    )

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    v1 = log.latest()
    pre_files = log.files(v1)
    res = snapshot_delete(spark, root, {"id": (10, 14)}, mode="mor")
    assert res["deleted_rows"] == 5 and res["rewritten_files"] == 0
    v2 = res["version"]
    assert log.files(v2) == pre_files  # zero data bytes rewritten
    assert [n for n, _ in log.delete_files(v2)]
    got = sorted(r["id"] for r in read_table_at(spark, root).collect())
    assert got == [i for i in range(40) if not 10 <= i <= 14]
    assert read_table_at(spark, root, v1).count() == 40  # time travel
    # pruned read path applies the anti-join too
    w = sorted(
        r["id"] for r in read_table_where(spark, root, {"id": (8, 16)}).collect()
    )
    assert w == [8, 9, 15, 16]
    again = snapshot_delete(spark, root, {"id": (10, 14)}, mode="mor")
    assert again["deleted_rows"] == 0 and again["version"] == v2


def test_mor_compact_applies_and_retires_deletes(spark, tmp_path):
    """snapshot_compact is where pending entries get physically
    applied: partitions holding affected files always qualify for
    rewrite, the rewrite reads effective rows, the new snapshot
    carries NO delete files, rows stay gone, and the change feed
    across the compact is EMPTY (applying old entries physically is
    not a logical change)."""
    from hbase_compact_spark.compaction.snapshots import (
        read_changes,
        read_table_at,
        snapshot_compact,
        snapshot_delete,
    )

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    res = snapshot_delete(spark, root, {"id": (10, 14)}, mode="mor")
    v2 = res["version"]
    out = snapshot_compact(spark, root, target_bytes=1 << 30)
    v3 = out["version"]
    assert out["rewritten"] >= 1
    assert log.delete_files(v3) == []  # retired
    got = sorted(r["id"] for r in read_table_at(spark, root).collect())
    assert got == [i for i in range(40) if not 10 <= i <= 14]
    assert read_changes(spark, root, v2, v3).count() == 0


def test_mor_cdc_incremental_and_expiry_semantics(spark, tmp_path):
    """read_changes across a MOR delete emits exactly the deleted
    rows as 'delete' (file set unchanged — the delta comes from the
    delete-entry diff); read_incremental REFUSES to cross the commit;
    expire_snapshots reclaims delete files once no kept version
    references them."""
    import os

    import pytest as _pytest

    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        expire_snapshots,
        read_changes,
        read_incremental,
        snapshot_compact,
        snapshot_delete,
    )

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    v1 = log.latest()
    res = snapshot_delete(spark, root, {"id": (3, 5)}, mode="mor")
    v2 = res["version"]
    ch = read_changes(spark, root, v1, v2)
    assert sorted((r["id"], r["_change_type"]) for r in ch.collect()) == [
        (3, "delete"), (4, "delete"), (5, "delete"),
    ]
    with _pytest.raises(ValueError, match="mor_delete"):
        read_incremental(spark, root, v1, v2)
    # appends after the delete still carry + read correctly
    append_partitioned(
        spark, root, spark.range(100, 103).selectExpr("id", "id * 2 AS v")
    )
    assert log.delete_files(log.latest()) == log.delete_files(v2)
    snapshot_compact(spark, root, target_bytes=1 << 30)
    deletes_dir = os.path.join(root, "_snapshots", "deletes")
    assert os.listdir(deletes_dir)  # still referenced by old versions
    expire_snapshots(spark, root, keep_last=1)
    assert os.listdir(deletes_dir) == []  # reclaimed with the versions


def test_mor_cow_rewrites_never_resurrect(spark, tmp_path):
    """A copy-on-write DELETE or MERGE on a table with pending MOR
    entries must apply them to every file it rewrites (no
    resurrection) and retire exactly the consumed entries — carried
    files keep theirs through the consolidated delete file."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_stats,
        read_table_at,
        snapshot_delete,
        snapshot_merge,
    )

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    snapshot_delete(spark, root, {"id": (10, 14)}, mode="mor")
    # COW delete hits the FIRST file (ids 0..9); ids 10..14 pend in
    # the second — their entries must survive the rewrite commit
    res = snapshot_delete(spark, root, {"id": (0, 1)})
    assert res["rewritten_files"] >= 1
    assert sum(n for _, n in log.delete_files(res["version"])) == 5
    got = sorted(r["id"] for r in read_table_at(spark, root).collect())
    assert got == [i for i in range(2, 40) if not 10 <= i <= 14]
    # MERGE keyed on logically-deleted rows sees them as NOT MATCHED
    # (they are gone) — the rows come back as fresh INSERTS in new
    # files; the pending entries still subtract the old positions
    annotate_stats(spark, root, cols=["id"])
    src = spark.createDataFrame([(12, 999), (11, 888)], "id long, v long")
    m = snapshot_merge(spark, root, src, key_cols=["id"])
    assert m["matched"] == 0 and m["inserted"] == 2
    vals = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert vals[12] == 999 and vals[11] == 888
    assert 13 not in vals and 14 not in vals and 10 not in vals
    # MERGE matching a LIVE row in the pending file rewrites it and
    # consumes the file's entries — nothing resurrects, all retired
    src2 = spark.createDataFrame([(15, 555)], "id long, v long")
    m2 = snapshot_merge(spark, root, src2, key_cols=["id"])
    assert m2["matched"] == 1
    vals2 = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert vals2[15] == 555
    assert 13 not in vals2 and 14 not in vals2 and 10 not in vals2
    assert log.delete_files(m2["version"]) == []  # all consumed


def test_mor_shuffled_anti_join_branch_matches_broadcast(spark, tmp_path, monkeypatch):
    """Force the shuffled anti-join branch (broadcast threshold 0) and
    pin bit-identical results against the default broadcast path —
    the 100 TB degrade path must be a pure strategy change."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mor_table(spark, tmp_path)
    S_delete = S.snapshot_delete
    S_delete(spark, root, {"id": (7, 23)}, mode="mor")
    broadcast_rows = sorted(
        map(tuple, S.read_table_at(spark, root).collect())
    )
    monkeypatch.setattr(S, "MOR_BROADCAST_ROWS", 0)
    shuffled_rows = sorted(
        map(tuple, S.read_table_at(spark, root).collect())
    )
    assert broadcast_rows == shuffled_rows
    # no explicit broadcast HINT below the threshold — AQE may still
    # (correctly) pick a broadcast strategy from runtime sizes, but
    # the plan must not be pinned to one when the delete set is big
    plan = (
        S.read_table_at(spark, root)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "strategy=broadcast" not in plan


def test_mor_composes_with_partition_evolution(spark, tmp_path):
    """MOR entries anchor on manifest relpaths, so they must subtract
    correctly from files living under an evolved `_hp_` layout (the
    no-basePath read group) AND from legacy plain files in the same
    snapshot — one anti-join across both layout generations."""
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        evolve_partitioning,
        read_table_at,
        snapshot_delete,
    )

    root = str(tmp_path / "t")
    spark.range(10).selectExpr(
        "id", "CAST(id % 2 AS LONG) AS grp"
    ).write.parquet(root)
    evolve_partitioning(spark, root, ["grp"])
    append_partitioned(
        spark,
        root,
        spark.range(10, 20).selectExpr("id", "CAST(id % 2 AS LONG) AS grp"),
    )
    res = snapshot_delete(spark, root, {"id": (8, 12)}, mode="mor")
    assert res["deleted_rows"] == 5 and res["rewritten_files"] == 0
    got = sorted(r["id"] for r in read_table_at(spark, root).collect())
    assert got == [i for i in range(20) if not 8 <= i <= 12]


def test_compact_migrates_legacy_files_into_current_spec(spark, tmp_path):
    """snapshot_compact(migrate_spec=True) rewrites every file that
    does not live under the CURRENT partition spec's `_hp_` layout
    into it — post-compact the table has ONE layout generation, reads
    are equal, path pruning now covers the migrated files, and a
    pending MOR delete composes: its rows stay gone through the
    migration and its consumed entries retire."""
    from hbase_compact_spark.compaction.snapshots import (
        PARTITION_DIR_PREFIX,
        append_partitioned,
        evolve_partitioning,
        read_table_at,
        scan_plan,
        snapshot_compact,
        snapshot_delete,
    )

    root = str(tmp_path / "t")
    spark.range(12).selectExpr(
        "id", "CAST(id % 3 AS LONG) AS grp"
    ).write.parquet(root)
    evolve_partitioning(spark, root, ["grp"])
    append_partitioned(
        spark,
        root,
        spark.range(12, 24).selectExpr("id", "CAST(id % 3 AS LONG) AS grp"),
    )
    snapshot_delete(spark, root, {"id": (4, 6)}, mode="mor")
    log = SnapshotLog(spark, root)
    pre_rows = sorted(
        map(tuple, read_table_at(spark, root).collect())
    )
    pre_plain = [
        p
        for p, _ in log.files(log.latest())
        if f"{PARTITION_DIR_PREFIX}grp=" not in p
    ]
    assert pre_plain  # the pre-evolution generation exists

    out = snapshot_compact(
        spark, root, target_bytes=1 << 30, migrate_spec=True
    )
    assert out["migrated"] == len(pre_plain)
    post = [p for p, _ in log.files(out["version"])]
    assert post and all(f"{PARTITION_DIR_PREFIX}grp=" in p for p in post)
    assert log.delete_files(out["version"]) == []  # MOR entries retired
    got = sorted(map(tuple, read_table_at(spark, root).collect()))
    assert got == pre_rows  # including the still-deleted 4..6
    assert all(4 <= i <= 6 or True for i, _ in got)
    assert not any(4 <= i <= 6 for i, _ in got)
    # the whole table now prunes by PATH: grp=1 keeps only its files
    plan = scan_plan(spark, root, {"grp": 1})
    n_files = len(post)
    per_val = sum(1 for p in post if f"{PARTITION_DIR_PREFIX}grp=1" in p)
    assert plan["pruned_files"] == n_files - per_val >= 2
    # idempotent: a second migrate-compact finds nothing to migrate
    again = snapshot_compact(
        spark, root, target_bytes=1 << 30, migrate_spec=True
    )
    assert again["migrated"] == 0


def test_eqdelete_zero_scan_scope_and_null_keys(spark, tmp_path):
    """An equality delete commit must scan and rewrite ZERO data files
    (the data manifest is byte-identical to the parent's), the read
    must subtract exactly the key matches, time travel must serve the
    pre-delete version, same-key rows appended AFTER the delete must
    survive (the scope pins Iceberg's sequence-number rule), NULL key
    values must never match (SQL equality), and key columns absent
    from the schema must be rejected."""
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        read_table_at,
        snapshot_delete_by_key,
    )

    root = str(tmp_path / "t")
    rows = [(i, i * 2) for i in range(20)] + [(None, 999)]
    spark.createDataFrame(rows, "id long, v long").repartition(
        2
    ).write.parquet(root)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    v1 = log.latest()
    pre_files = log.files(v1)
    keys = spark.createDataFrame([(3,), (15,), (None,)], "id long")
    res = snapshot_delete_by_key(spark, root, keys)
    assert res["deleted_keys"] == 3
    assert res["scanned_files"] == 0 and res["rewritten_files"] == 0
    assert log.files(res["version"]) == pre_files
    got = sorted(
        (r["id"] if r["id"] is not None else -1)
        for r in read_table_at(spark, root).collect()
    )
    # NULL-keyed row survives; ids 3 and 15 are gone
    assert got == [-1] + [i for i in range(20) if i not in (3, 15)]
    assert read_table_at(spark, root, v1).count() == 21  # time travel
    # re-insert key 3 AFTER the delete: outside every scope -> lives
    append_partitioned(
        spark, root, spark.createDataFrame([(3, 333)], "id long, v long")
    )
    vals = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert vals[3] == 333 and 15 not in vals
    # empty key frame is a committed no-op
    empty = snapshot_delete_by_key(
        spark, root, spark.createDataFrame([], "id long")
    )
    assert empty["deleted_keys"] == 0
    assert empty["version"] == log.latest()
    # unknown key column rejected before anything lands
    with pytest.raises(ValueError, match="not in the table schema"):
        snapshot_delete_by_key(
            spark, root, spark.createDataFrame([(1,)], "nope long")
        )


def test_eqdelete_compact_applies_and_retires(spark, tmp_path):
    """snapshot_compact physically applies pending equality entries
    (every scoped file qualifies for rewrite), the new snapshot
    carries no delete files, rows stay gone, and the change feed
    across the compact is EMPTY — applying old entries physically is
    not a logical change."""
    from hbase_compact_spark.compaction.snapshots import (
        read_changes,
        read_table_at,
        snapshot_compact,
        snapshot_delete_by_key,
    )

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    keys = spark.createDataFrame([(i,) for i in range(10, 15)], "id long")
    res = snapshot_delete_by_key(spark, root, keys)
    v2 = res["version"]
    out = snapshot_compact(spark, root, target_bytes=1 << 30)
    v3 = out["version"]
    assert out["rewritten"] >= 1
    assert log.delete_files(v3) == []  # retired
    got = sorted(r["id"] for r in read_table_at(spark, root).collect())
    assert got == [i for i in range(40) if not 10 <= i <= 14]
    assert read_changes(spark, root, v2, v3).count() == 0


def test_eqdelete_cow_retirement_carries_and_shrinks_scope(spark, tmp_path):
    """A COW rewrite on a table with a pending equality entry must
    apply it to every file it rewrites (no resurrection) and retire
    it PRECISELY: a rewrite touching none of the entry's scope carries
    the entry by NAME (no new file), one touching part of the scope
    rewrites it into a fresh `e-` entry whose scope shrank to the
    carried files, and one consuming the whole scope drops it."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_stats,
        read_table_at,
        snapshot_delete,
        snapshot_delete_by_key,
        append_partitioned,
    )

    root = _mor_table(spark, tmp_path)  # ids 0..39 in 4 range files
    log = SnapshotLog(spark, root)
    keys = spark.createDataFrame([(3,), (15,)], "id long")
    snapshot_delete_by_key(spark, root, keys)
    eq_name = log.delete_files(log.latest())[0][0]
    assert eq_name.startswith("e-")
    # append a file OUTSIDE the scope, then COW-delete only ITS rows:
    # the eq entry's scope is untouched -> carried by the same name
    append_partitioned(
        spark, root, spark.range(100, 110).selectExpr("id", "id * 2 AS v")
    )
    annotate_stats(spark, root, cols=["id"])
    res = snapshot_delete(spark, root, {"id": (100, 101)})
    assert res["rewritten_files"] >= 1
    assert [n for n, _ in log.delete_files(res["version"])] == [eq_name]
    # COW-delete ids 0..1: rewrites the first scope file (ids 0..9,
    # consuming key 3's physical rows) -> fresh e- name, scope shrunk,
    # key 15 still subtracts, nothing resurrects
    res2 = snapshot_delete(spark, root, {"id": (0, 1)})
    after = log.delete_files(res2["version"])
    assert len(after) == 1
    new_name, n_keys = after[0]
    assert new_name.startswith("e-") and new_name != eq_name
    assert n_keys == 2  # keys travel whole; the SCOPE is what shrank
    import os

    old_scope = spark.read.parquet(
        os.path.join(root, "_snapshots", "deletes", eq_name, "scope")
    ).count()
    new_scope = spark.read.parquet(
        os.path.join(root, "_snapshots", "deletes", new_name, "scope")
    ).count()
    assert new_scope < old_scope
    got = sorted(r["id"] for r in read_table_at(spark, root).collect())
    assert got == [
        i for i in range(2, 40) if i not in (3, 15)
    ] + [i for i in range(102, 110)]


def test_eqdelete_cdc_incremental_and_expiry(spark, tmp_path):
    """read_changes across an equality delete emits exactly the
    in-scope key-matching rows as 'delete'; read_incremental REFUSES
    to cross the commit; expire_snapshots reclaims `e-` dirs once no
    kept version references them."""
    import os

    from hbase_compact_spark.compaction.snapshots import (
        expire_snapshots,
        read_changes,
        read_incremental,
        snapshot_compact,
        snapshot_delete_by_key,
    )

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    v1 = log.latest()
    keys = spark.createDataFrame([(3,), (4,), (5,), (77,)], "id long")
    res = snapshot_delete_by_key(spark, root, keys)
    v2 = res["version"]
    ch = read_changes(spark, root, v1, v2)
    assert sorted((r["id"], r["_change_type"]) for r in ch.collect()) == [
        (3, "delete"), (4, "delete"), (5, "delete"),
    ]  # key 77 matches no row: no phantom change
    with pytest.raises(ValueError, match="mor_delete_eq"):
        read_incremental(spark, root, v1, v2)
    snapshot_compact(spark, root, target_bytes=1 << 30)
    deletes_dir = os.path.join(root, "_snapshots", "deletes")
    assert os.listdir(deletes_dir)  # still referenced by old versions
    expire_snapshots(spark, root, keep_last=1)
    assert os.listdir(deletes_dir) == []  # e- dirs reclaimed


def test_eqdelete_mixed_with_positional(spark, tmp_path):
    """Positional and equality entries pending SIMULTANEOUSLY: the
    read subtracts both kinds in one pass, a repeated read under the
    forced shuffled branch is bit-identical, and compaction retires
    both."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    S.snapshot_delete(spark, root, {"id": (20, 24)}, mode="mor")
    keys = spark.createDataFrame([(3,), (22,), (35,)], "id long")
    S.snapshot_delete_by_key(spark, root, keys)
    kinds = sorted(n[0] for n, _ in log.delete_files(log.latest()))
    assert kinds == ["d", "e"]
    expect = [
        i for i in range(40) if not 20 <= i <= 24 and i not in (3, 35)
    ]
    got = sorted(r["id"] for r in S.read_table_at(spark, root).collect())
    assert got == expect
    out = S.snapshot_compact(spark, root, target_bytes=1 << 30)
    assert log.delete_files(out["version"]) == []
    got2 = sorted(r["id"] for r in S.read_table_at(spark, root).collect())
    assert got2 == expect


def test_eqdelete_shuffled_branch_matches_broadcast(spark, tmp_path, monkeypatch):
    """Force the non-broadcast key-join branch (threshold 0) and pin
    bit-identical results — the 100 TB degrade path for a huge key
    set must be a pure strategy change."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mor_table(spark, tmp_path)
    keys = spark.createDataFrame([(i,) for i in range(5, 25)], "id long")
    S.snapshot_delete_by_key(spark, root, keys)
    broadcast_rows = sorted(
        map(tuple, S.read_table_at(spark, root).collect())
    )
    monkeypatch.setattr(S, "MOR_BROADCAST_ROWS", 0)
    shuffled_rows = sorted(
        map(tuple, S.read_table_at(spark, root).collect())
    )
    assert broadcast_rows == shuffled_rows
    assert [t[0] for t in broadcast_rows] == [
        i for i in range(40) if not 5 <= i <= 24
    ]


def test_mor_upsert_one_commit_zero_rewrite(spark, tmp_path):
    """snapshot_upsert_mor lands the batch + the scoped equality
    delete in ONE commit: parents carried by reference, new files
    added, matched keys serve the NEW row, the new rows survive their
    own delete keys (scope excludes them), inserts just appear, and a
    second upsert of the SAME key wins over the first (each scope
    covers every earlier file). Compaction settles the chain."""
    from hbase_compact_spark.compaction.snapshots import (
        read_table_at,
        snapshot_compact,
        snapshot_upsert_mor,
    )

    root = _mor_table(spark, tmp_path)  # ids 0..39, v = id*2
    log = SnapshotLog(spark, root)
    v1 = log.latest()
    pre = set(log.files(v1))
    src = spark.createDataFrame(
        [(5, 500), (15, 1500), (100, 1000)], "id long, v long"
    )
    res = snapshot_upsert_mor(spark, root, src, ["id"])
    assert res["upserted_keys"] == 3
    assert res["rewritten_files"] == 0 and res["scanned_files"] == 0
    assert log.read(res["version"])["op"] == "mor_upsert"
    post = set(log.files(res["version"]))
    assert pre <= post and len(post) > len(pre)
    vals = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert vals[5] == 500 and vals[15] == 1500 and vals[100] == 1000
    assert len(vals) == 41  # 40 base + 1 insert, no duplicates
    assert read_table_at(spark, root, v1).count() == 40  # time travel
    # upsert the same key AGAIN: latest wins, still exactly one row
    res2 = snapshot_upsert_mor(
        spark, root, spark.createDataFrame([(5, 555)], "id long, v long"),
        ["id"],
    )
    vals2 = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert vals2[5] == 555 and len(vals2) == 41
    # duplicate source keys rejected
    with pytest.raises(ValueError, match="unique"):
        snapshot_upsert_mor(
            spark, root,
            spark.createDataFrame([(1, 1), (1, 2)], "id long, v long"),
            ["id"],
        )
    # compaction settles everything: entries retired, rows identical
    out = snapshot_compact(spark, root, target_bytes=1 << 30)
    assert log.delete_files(out["version"]) == []
    vals3 = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert vals3 == vals2


def test_mor_upsert_cdc_and_spec_layout(spark, tmp_path):
    """read_changes across a MOR upsert emits the update's pre-image
    as 'delete' and post-image + inserts as 'insert'; under an evolved
    partition spec the upsert's new files land in the CURRENT `_hp_`
    layout."""
    from hbase_compact_spark.compaction.snapshots import (
        PARTITION_DIR_PREFIX,
        append_partitioned,
        evolve_partitioning,
        read_changes,
        read_table_at,
        snapshot_upsert_mor,
    )

    root = str(tmp_path / "t")
    spark.range(10).selectExpr(
        "id", "CAST(id % 2 AS LONG) AS grp", "id * 2 AS v"
    ).write.parquet(root)
    evolve_partitioning(spark, root, ["grp"])
    log = SnapshotLog(spark, root)
    v1 = log.latest()
    src = spark.createDataFrame(
        [(3, 1, 333), (50, 0, 5000)], "id long, grp long, v long"
    )
    res = snapshot_upsert_mor(spark, root, src, ["id"])
    new_files = set(log.files(res["version"])) - set(log.files(v1))
    assert new_files and all(
        f"{PARTITION_DIR_PREFIX}grp=" in p for p, _ in new_files
    )
    ch = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in read_changes(spark, root, v1, res["version"]).collect()
    )
    assert ch == [(3, 6, "delete"), (3, 333, "insert"), (50, 5000, "insert")]
    got = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert got[3] == 333 and got[50] == 5000 and len(got) == 11


def _manifest_rows(tbl):
    return set(
        zip(*(tbl.column(c).to_pylist()
              for c in ("relpath", "size", "stats", "blooms")))
    )


@pytest.mark.parametrize("parent", ["stats_blooms", "sharded"])
def test_mor_upsert_manifest_matches_carried(spark, tmp_path, parent):
    """The upsert's child manifest (`_carried_manifest` with keep=None:
    the parent's parts hard-linked, nothing parsed) holds row for row
    what the rewrite paths' route builds (keep = every parent file,
    filtered on executors): parent rows carried with their payloads,
    added files annotated on the same stat and bloom columns — on a
    stats+bloom table and on a range-sharded parent manifest."""
    import json
    import os

    import hbase_compact_spark.compaction.snapshots as S

    root = _mor_table(spark, tmp_path)  # stats on id
    if parent == "stats_blooms":
        S.annotate_blooms(spark, root, cols=["id"])
    else:
        S.shard_manifest(spark, root, by="id", shards=2)
    log = SnapshotLog(spark, root)
    base = log.latest()
    base_files = log.files(base)
    src = spark.createDataFrame([(5, 500), (100, 1000)], "id long, v long")
    v = S.snapshot_upsert_mor(spark, root, src, ["id"])["version"]
    added = sorted(set(log.files(v)) - set(base_files))
    assert added
    carried = S._carried_manifest(spark, log, base, base_files, added)
    want = _manifest_rows(S._read_manifest_table(log._manifest_local(carried)))
    got = _manifest_rows(log.manifest_table(v))
    assert got == want
    # the parent's parts are shared by hard link, not re-encoded
    parent_man = log._manifest_local(log.read(base)["manifest"])
    child_man = log._manifest_local(log.read(v)["manifest"])
    parent_parts = (
        S._parquet_parts(parent_man) if os.path.isdir(parent_man)
        else [parent_man]
    )
    assert parent_parts and all(
        os.path.samefile(p, os.path.join(child_man, os.path.basename(p)))
        for p in parent_parts
    )
    # not vacuous: the added rows carry the parent's annotations (an
    # empty landed file has a row count but no column range)
    new_rows = [r for r in got if (r[0], r[1]) in set(added)]
    filled = [r for r in new_rows if json.loads(r[2])["rows"]]
    assert filled and all("id" in json.loads(r[2])["cols"] for r in filled)
    if parent == "stats_blooms":
        assert all("id" in json.loads(r[3]) for r in new_rows)


def test_mor_upsert_merges_small_manifest_parts(spark, tmp_path, monkeypatch):
    """Each upsert links its parent's manifest parts and adds one; once
    MANIFEST_MERGE_PARTS parent parts are small, the child merges them
    into one. The part count stays bounded over a stream of upserts,
    and no manifest row is lost or duplicated by a merge."""
    import os

    import hbase_compact_spark.compaction.snapshots as S

    monkeypatch.setattr(S, "MANIFEST_MERGE_PARTS", 3)
    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    counts, merged = [], 0
    for i in range(6):
        parent = log.latest()
        want = log.manifest_table(parent)
        src = spark.createDataFrame([(1000 + i, i)], "id long, v long")
        v = S.snapshot_upsert_mor(spark, root, src, ["id"])["version"]
        man = log._manifest_local(log.read(v)["manifest"])
        counts.append(len(S._parquet_parts(man)))
        merged += any(n.startswith("merged-") for n in os.listdir(man))
        got = _manifest_rows(log.manifest_table(v))
        added = sorted(set(log.files(v)) - set(log.files(parent)))
        assert added and _manifest_rows(want) <= got
        assert len(got) == want.num_rows + len(added) == len(log.files(v))
    assert merged and max(counts) <= 3 + 1, counts
    got = {r["id"]: r["v"] for r in read_table_at(spark, root).collect()}
    assert all(got[1000 + i] == i for i in range(6))


def test_mor_upsert_null_keys_are_duplicates(spark, tmp_path):
    """Two source rows with a NULL key are duplicate keys (GROUP BY and
    DISTINCT treat NULLs as equal): the upsert refuses before landing
    anything."""
    from hbase_compact_spark.compaction.snapshots import snapshot_upsert_mor

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    v = log.latest()
    src = spark.createDataFrame([(None, 1), (None, 2)], "id long, v long")
    with pytest.raises(ValueError, match="unique"):
        snapshot_upsert_mor(spark, root, src, ["id"])
    assert log.latest() == v


def test_mor_upsert_spark_job_budget(spark, tmp_path):
    """One upsert on a stats-annotated table starts at most 6 Spark
    jobs: the key aggregate, written straight out as the key file, and
    the data landing write. The scope, the child manifest and the
    entry's keys are driver-side metadata. Counted by job group, so
    jobs of other threads are not."""
    import uuid

    from hbase_compact_spark.compaction.snapshots import snapshot_upsert_mor

    root = _mor_table(spark, tmp_path)
    src = spark.createDataFrame(
        [(i, i) for i in range(0, 60, 3)], "id long, v long"
    )
    sc = spark.sparkContext
    group = f"upsert-budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "snapshot_upsert_mor job budget")
    try:
        res = snapshot_upsert_mor(spark, root, src, ["id"])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert res["upserted_keys"] == 20
    assert 3 <= len(jobs) <= 6, jobs
    assert read_table_at(spark, root).count() == 40 + 6  # 14 updates, 6 inserts


def test_eqdelete_scope_probed_from_stats(spark, tmp_path, monkeypatch):
    """The equality entry's scope — compaction's blast radius — must
    shrink to the files the manifest stats cannot rule out (the
    metadata-only probe, zero data scan): a one-key delete on a
    range-partitioned stats-annotated column scopes ONE file of four,
    keys that provably exist nowhere commit NOTHING, and forcing the
    probe off (cap 0) yields the full-scope entry with identical read
    results."""
    import os

    import hbase_compact_spark.compaction.snapshots as S

    root = _mor_table(spark, tmp_path)  # 4 range files, stats on id
    log = SnapshotLog(spark, root)
    res = S.snapshot_delete_by_key(
        spark, root, spark.createDataFrame([(13,)], "id long")
    )
    name = log.delete_files(res["version"])[0][0]
    scope = spark.read.parquet(
        os.path.join(root, "_snapshots", "deletes", name, "scope")
    ).count()
    assert scope == 1  # three of four files ruled out by stats
    expect = [i for i in range(40) if i != 13]
    assert sorted(
        r["id"] for r in S.read_table_at(spark, root).collect()
    ) == expect
    # provably-absent keys: no commit at all
    ghost = S.snapshot_delete_by_key(
        spark, root, spark.createDataFrame([(500,)], "id long")
    )
    assert ghost["deleted_keys"] == 0
    assert ghost["version"] == res["version"]
    # probe forced off -> full-scope entry, same read results
    monkeypatch.setattr(S, "MERGE_KEY_PROBE_CAP", 0)
    res2 = S.snapshot_delete_by_key(
        spark, root, spark.createDataFrame([(14,)], "id long")
    )
    name2 = [
        n for n, _ in log.delete_files(res2["version"]) if n != name
    ][0]
    scope2 = spark.read.parquet(
        os.path.join(root, "_snapshots", "deletes", name2, "scope")
    ).count()
    assert scope2 == 4  # unprobed: every base file in scope
    assert sorted(
        r["id"] for r in S.read_table_at(spark, root).collect()
    ) == [i for i in range(40) if i not in (13, 14)]


def test_sweep_orphans_reclaims_uncommitted_delete_entries(spark, tmp_path):
    """A delete/upsert commit that crashed after landing its entry
    leaves an unreferenced `e-`/`d-` under `_snapshots/deletes/`;
    sweep_orphans reclaims it past the grace period — and never
    touches entries a version references."""
    import os

    import hbase_compact_spark.compaction.snapshots as S

    root = _mor_table(spark, tmp_path)
    log = SnapshotLog(spark, root)
    # committed entry: must survive the sweep
    S.snapshot_delete_by_key(
        spark, root, spark.createDataFrame([(7,)], "id long")
    )
    live = log.delete_files(log.latest())[0][0]
    # orphan entry: landed but never committed (simulated crash); it
    # shares the live entry's key files, as a retried commit would
    deletes = os.path.join(root, "_snapshots", "deletes")
    orphan = S._write_eq_delete_dir(log, os.path.join(deletes, live), ["x"])
    res = S.sweep_orphans(spark, root, grace_seconds=0.0)
    assert res["deleted_delete_entries"] == 1
    left = set(os.listdir(deletes))
    assert live in left and orphan not in left
    # grace period protects an in-flight commit's fresh entry
    orphan2 = S._write_eq_delete_dir(log, os.path.join(deletes, live), ["x"])
    res2 = S.sweep_orphans(spark, root, grace_seconds=3600.0)
    assert res2["deleted_delete_entries"] == 0
    assert orphan2 in set(
        os.listdir(os.path.join(root, "_snapshots", "deletes"))
    )


def test_rollback_restores_state_spec_and_mor(spark, tmp_path):
    """snapshot_rollback is a metadata-only FORWARD commit: the file
    list is exactly the target's, the rolled-back versions stay
    time-travelable, pending MOR entries are pinned to the target's
    (not carried from the head), a rollback across a partition-spec
    evolution restores the target's spec (including back to
    plain layout), read_incremental refuses to cross it, ref
    resolution works as the target, and a same-version rollback is a
    committed no-op."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mor_table(spark, tmp_path)  # ids 0..39, 4 range files
    log = SnapshotLog(spark, root)
    v1 = log.latest()
    files1 = log.files(v1)
    # head moves: a MOR delete then an eq delete (pending entries)
    S.snapshot_delete(spark, root, {"id": (10, 14)}, mode="mor")
    S.snapshot_delete_by_key(
        spark, root, spark.createDataFrame([(3,)], "id long")
    )
    vh = log.latest()
    assert len(log.delete_files(vh)) == 2
    # rollback to the clean v1 — all rows back, no pending entries
    res = S.snapshot_rollback(spark, root, v1)
    assert not res["noop"]
    assert log.files(res["version"]) == files1
    assert log.delete_files(res["version"]) == []
    assert S.read_table_at(spark, root).count() == 40
    # audit trail intact: the bad head still serves its state
    assert S.read_table_at(spark, root, vh).count() == 34
    # incremental refuses to cross the range (and refuses the
    # rollback commit itself, named when it is the only crossing)
    with pytest.raises(ValueError, match="crosses a rewrite commit"):
        S.read_incremental(spark, root, v1)
    with pytest.raises(ValueError, match="rollback"):
        S.read_incremental(spark, root, res["version"] - 1, res["version"])
    # no-op rollback: same version, nothing committed
    again = S.snapshot_rollback(spark, root, res["version"])
    assert again["noop"] and again["version"] == log.latest()
    # ref as target: tag the clean state, evolve the spec, roll back
    # to the TAG — the spec must restore to plain layout
    log.set_ref("clean", res["version"], kind="tag")
    S.evolve_partitioning(spark, root, ["v"])
    assert S.partition_spec_of(log) is not None
    res2 = S.snapshot_rollback(spark, root, "clean")
    assert S.partition_spec_of(log) is None  # plain layout restored
    assert log.files(res2["version"]) == files1
    # and forward again onto an evolved line: spec pins to the target
    v_spec = S.evolve_partitioning(spark, root, ["v"])
    S.append_partitioned(
        spark, root, spark.createDataFrame([(100, 0)], "id long, v long")
    )
    S.snapshot_rollback(spark, root, v_spec)
    assert S.partition_spec_of(log)["partition_by"] == ["v"]
    assert S.read_table_at(spark, root).count() == 40
    # spec-id uniqueness across rollbacks (ADVICE r10): the rollback
    # re-stamps the pinned spec with a FRESH id, so a later evolution
    # (which derives next-id from the nearest parent-chain record) can
    # never re-issue an id that a shadowed, different spec already
    # used. One more evolution exercises exactly that path.
    S.evolve_partitioning(spark, root, ["id"])
    by_id: dict[int, tuple] = {}
    for ver in log.versions():
        sp = log.read(ver).get("partition_spec")
        if sp is None:
            continue
        cols = tuple(sp["partition_by"])
        seen = by_id.setdefault(int(sp["spec_id"]), cols)
        assert seen == cols, (
            f"spec_id {sp['spec_id']} names two different specs: "
            f"{seen} vs {cols}"
        )


# ---------------------------------------------------------------------
# Hidden-partitioning TRANSFORMS (VERDICT r10 task 3): days / bucket /
# truncate spec fields — write-path layout, metadata-only pruning from
# the path alone, and spec migration through snapshot_compact.


def test_transform_write_and_prune_functions_agree(spark):
    """The JVM write-path expression and the driver-side pruning
    function MUST compute the same value for every transform — that
    identity is what makes path-only pruning sound. Checked value-for-
    value over ints (incl. negatives), strings, and timestamps."""
    import datetime

    import hbase_compact_spark.compaction.snapshots as S

    df = spark.createDataFrame(
        [
            (i - 25, f"key_{i:03d}", datetime.datetime(2024, 3, 1 + i % 27, i % 24, 30, 59, 123456))
            for i in range(54)
        ],
        "i long, s string, ts timestamp",
    )
    fields = [
        S.parse_partition_field("bucket(8, i)"),
        S.parse_partition_field("bucket(8, s)"),
        S.parse_partition_field("truncate(4, i)"),
        S.parse_partition_field("truncate(4, s)"),
        S.parse_partition_field("days(ts)"),
        S.parse_partition_field("hours(ts)"),
        S.parse_partition_field("months(ts)"),
    ]
    sel = [S._partition_field_expr(df, f).alias(f.name) for f in fields] + [
        "i", "s", "ts"
    ]
    for r in df.select(*sel).collect():
        for f in fields:
            src_val = r[f.source]
            want = S._transform_bound(f, src_val)
            assert str(want) == r[f.name], (
                f"{f}: JVM={r[f.name]!r} python={want!r} src={src_val!r}"
            )


def test_days_transform_layout_prunes_from_path(spark, tmp_path):
    """days(ts) spec: appends land under `_hp_ts_day=yyyy-MM-dd`
    dirs, a ts range scan opens ONLY matching day dirs (plus the
    stats-free plain generation, conservatively kept), and the read
    equals full-scan + filter exactly."""
    import datetime

    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(240).selectExpr(
        "id",
        "timestampadd(HOUR, CAST(id AS INT), timestamp'2024-03-01 00:00:00') AS ts",
    )
    df.filter("ts < timestamp'2024-03-04 00:00:00'").coalesce(1).write.parquet(root)
    S.evolve_partitioning(spark, root, ["days(ts)"])
    S.append_partitioned(
        spark, root, df.filter("ts >= timestamp'2024-03-04 00:00:00'")
    )
    log = SnapshotLog(spark, root)
    spec_files = [p for p, _ in log.files(log.latest()) if "_hp_ts_day=" in p]
    assert len({p.split("/")[0] for p in spec_files}) == 7  # days 04..10
    lo = datetime.datetime(2024, 3, 6)
    hi = datetime.datetime(2024, 3, 7, 23, 59, 59)
    plan = scan_plan(spark, root, {"ts": (lo, hi)})
    for p in plan["paths"]:
        if "_hp_ts_day=" in p:
            assert "_hp_ts_day=2024-03-06" in p or "_hp_ts_day=2024-03-07" in p, p
    assert plan["pruned_files"] >= 5  # the other 5 day dirs dropped
    got = S.read_table_where(spark, root, {"ts": (lo, hi)})
    want = df.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    assert sorted(map(tuple, got.select("id", "ts").collect())) == sorted(
        map(tuple, want.select("id", "ts").collect())
    )
    assert got.count() == 48  # two full days of hourly rows


def test_bucket_transform_prunes_point_lookups(spark, tmp_path):
    """bucket(4, id) spec: a point lookup keeps exactly one bucket
    dir of the spec generation (1/N of the appended files) and the
    read equals the filter; range predicates on the source column do
    NOT prune buckets (non-monotonic transform)."""
    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(400).selectExpr("id", "id * 3 AS v")
    df.filter("id < 100").coalesce(1).write.parquet(root)
    S.evolve_partitioning(spark, root, ["bucket(4, id)"])
    S.append_partitioned(spark, root, df.filter("id >= 100"))
    log = SnapshotLog(spark, root)
    buckets = {
        p.split("=", 1)[1].split("/")[0]
        for p, _ in log.files(log.latest())
        if "_hp_id_bucket4=" in p
    }
    assert buckets == {"0", "1", "2", "3"}
    import zlib

    target = 251
    b = str(zlib.crc32(str(target).encode()) % 4)
    plan = scan_plan(spark, root, {"id": target})
    for p in plan["paths"]:
        if "_hp_id_bucket4=" in p:
            assert f"_hp_id_bucket4={b}" in p, p
    assert plan["pruned_files"] >= 3
    got = S.read_table_where(spark, root, {"id": target})
    assert [tuple(r) for r in got.select("id", "v").collect()] == [
        (251, 753)
    ]
    # a RANGE on id must not prune buckets (only the eq path derives)
    plan_rng = scan_plan(spark, root, {"id": (200, 210)})
    kept_buckets = {
        p.split("=", 1)[1].split("/")[0]
        for p in plan_rng["paths"]
        if "_hp_id_bucket4=" in p
    }
    assert kept_buckets == {"0", "1", "2", "3"}


def test_truncate_transform_layout_and_pruning(spark, tmp_path):
    """truncate(4, s) on strings: appended files land under the 4-char
    prefix dirs, prefix-range predicates prune, and the read is
    exact. Integer truncate is covered by the parity test above and
    the floor-to-multiple rule (negatives round DOWN, Iceberg-style)."""
    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(120).selectExpr(
        "id", "concat('grp', CAST(id % 3 AS STRING), '_', CAST(id AS STRING)) AS s"
    )
    df.filter("id < 30").coalesce(1).write.parquet(root)
    S.evolve_partitioning(spark, root, ["truncate(4, s)"])
    S.append_partitioned(spark, root, df.filter("id >= 30"))
    log = SnapshotLog(spark, root)
    prefixes = {
        p.split("=", 1)[1].split("/")[0]
        for p, _ in log.files(log.latest())
        if "_hp_s_trunc4=" in p
    }
    assert prefixes == {"grp0", "grp1", "grp2"}
    plan = scan_plan(spark, root, {"s": ("grp1_", "grp1_zzzz")})
    for p in plan["paths"]:
        if "_hp_s_trunc4=" in p:
            assert "_hp_s_trunc4=grp1" in p, p
    assert plan["pruned_files"] >= 2
    got = S.read_table_where(spark, root, {"s": ("grp1_", "grp1_zzzz")})
    want = df.filter("s >= 'grp1_' AND s <= 'grp1_zzzz'")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_transform_spec_migration_and_validation(spark, tmp_path):
    """snapshot_compact(migrate_spec=True) rewrites plain-generation
    files INTO the transform layout (identity→transform migration),
    after which the whole table prunes from the path; and
    evolve_partitioning rejects unsound transform specs loudly."""
    import pytest as _pytest

    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(240).selectExpr(
        "id",
        "timestampadd(HOUR, CAST(id AS INT), timestamp'2024-03-01 00:00:00') AS ts",
    )
    df.filter("ts < timestamp'2024-03-04 00:00:00'").repartition(2).write.parquet(root)
    S.evolve_partitioning(spark, root, ["days(ts)"])
    S.append_partitioned(
        spark, root, df.filter("ts >= timestamp'2024-03-04 00:00:00'")
    )
    res = S.snapshot_compact(spark, root, migrate_spec=True)
    assert res["migrated"] == 2
    log = SnapshotLog(spark, root)
    assert all(
        "_hp_ts_day=" in p for p, _ in log.files(log.latest())
    )  # one layout now
    got = S.read_table_at(spark, root)
    assert sorted(map(tuple, got.select("id").collect())) == [
        (i,) for i in range(240)
    ]
    # post-migration: the whole table prunes from the path
    import datetime

    plan = scan_plan(
        spark, root,
        {"ts": (datetime.datetime(2024, 3, 2), datetime.datetime(2024, 3, 2, 23, 59, 59))},
    )
    assert all("_hp_ts_day=2024-03-02" in p for p in plan["paths"])
    # validation: wrong source type, name collision, bad syntax
    r2 = str(tmp_path / "t2")
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS id_day").write.parquet(r2)
    with _pytest.raises(ValueError, match="date/timestamp"):
        S.evolve_partitioning(spark, r2, ["days(id)"])
    with _pytest.raises(ValueError, match="date/timestamp"):
        S.evolve_partitioning(spark, r2, ["hours(id)"])
    with _pytest.raises(ValueError, match="unparseable"):
        S.evolve_partitioning(spark, r2, ["weeks(id)"])
    # truncate on a double column
    r3 = str(tmp_path / "t3")
    spark.range(10).selectExpr("CAST(id AS DOUBLE) AS d").write.parquet(r3)
    with _pytest.raises(ValueError, match="string/integer"):
        S.evolve_partitioning(spark, r3, ["truncate(2, d)"])
    # derived-name collision with a real data column
    r4 = str(tmp_path / "t4")
    spark.range(10).selectExpr(
        "id", "current_timestamp() AS ts", "CAST(id AS STRING) AS ts_day"
    ).write.parquet(r4)
    with _pytest.raises(ValueError, match="collides"):
        S.evolve_partitioning(spark, r4, ["days(ts)"])


def test_transform_scan_query_prunes_day_dirs(spark):
    """The registered snapshot_transform_scan fixture: its day-window
    predicate must open only in-window `_hp_ts_day` dirs (the spec
    generation prunes from the path alone) while the stats-free plain
    generation is conservatively kept."""
    import datetime

    from hbase_compact_spark.workload_compaction import (
        TR_HI,
        TR_LO,
        transform_scan_root,
    )

    root = transform_scan_root(spark, SF_DIR)
    plan = scan_plan(
        spark,
        root,
        {
            "ts": (
                datetime.datetime.fromisoformat(TR_LO),
                datetime.datetime.fromisoformat(TR_HI),
            )
        },
    )
    spec_kept = 0
    for p in plan["paths"]:
        if "_hp_ts_day=" in p:
            d = p.split("_hp_ts_day=", 1)[1][:10]
            assert "2024-01-13" <= d <= "2024-01-20", p
            spec_kept += 1
    assert spec_kept > 0           # the window's spec files are served
    assert plan["pruned_files"] > 0  # out-of-window day dirs dropped


def test_metadata_tables_open_no_data_files(spark):
    """`table$files` / `table$partitions` (VERDICT r10 task 5) must
    plan over snapshot METADATA only: every input file of both plans
    lives under `_snapshots/` (the manifest parquet + delete-entry
    payloads), never a data file; flags and rollups are exact; and
    total_bytes is real (positive, summing to the manifest's size
    column)."""
    from hbase_compact_spark.compaction.snapshots import (
        table_files_meta,
        table_partitions_meta,
    )
    from hbase_compact_spark.workload_compaction import files_meta_root

    root = files_meta_root(spark, SF_DIR)
    files = table_files_meta(spark, root)
    parts = table_partitions_meta(spark, root)
    for df in (files, parts):
        inputs = df.inputFiles()
        assert inputs, "plan should read the manifest parquet"
        for f in inputs:
            assert "/_snapshots/" in f, f"data file opened: {f}"
    rows = files.collect()
    assert len(rows) == 8
    assert all(r["size_bytes"] > 0 and r["row_count"] > 0 for r in rows)
    assert {r["part_dir"] for r in rows} == {f"rng={i}" for i in range(4)}
    assert all(
        r["eq_pending"] == (r["part_dir"] == "rng=0") for r in rows
    )
    assert not any(r["pos_pending"] for r in rows)
    prow = {r["part_dir"]: r for r in parts.collect()}
    assert all(prow[d]["n_files"] == 2 for d in prow)
    assert all(prow[d]["total_bytes"] > 0 for d in prow)
    log = SnapshotLog(spark, root)
    assert sum(prow[d]["total_bytes"] for d in prow) == sum(
        s for _, s in log.files(log.latest())
    )
    assert prow["rng=0"]["n_eq_pending_files"] == 2


# ---------------------------------------------------------------------
# Write-path SORT ORDERS (VERDICT r10 stretch task): a table-level
# declaration every writer honors — appends arrive pre-prunable,
# compaction defaults to the declared shape.


def test_sort_order_appends_arrive_prunable(spark, tmp_path):
    """Two identical tables, one with a declared sort order: after the
    same append + stats annotation, a range predicate on the sort
    column prunes MORE files from the ordered table (its files carry
    disjoint ranges) — and the declaration itself is metadata-only."""
    import hbase_compact_spark.compaction.snapshots as S

    df = spark.range(4000).selectExpr(
        "pmod(hash(id), 4000) AS k", "id AS v"
    )

    def build(root, declare):
        df.limit(1).write.parquet(root)  # seed so the log can bootstrap
        log = SnapshotLog(spark, root)
        log.bootstrap()
        if declare:
            before = log.files(log.latest())
            v = S.set_sort_order(spark, root, ["k"])
            assert log.files(v) == before  # metadata-only
            assert S.sort_order_of(log) == {"order_id": 1, "sort_by": ["k"]}
        S.append_partitioned(spark, root, df)
        S.annotate_stats(spark, root, cols=["k"])
        return log

    sorted_log = build(str(tmp_path / "s"), True)
    plain_log = build(str(tmp_path / "p"), False)
    pred = {"k": (100, 199)}
    plan_s = scan_plan(spark, str(tmp_path / "s"), pred)
    plan_p = scan_plan(spark, str(tmp_path / "p"), pred)
    assert plan_s["pruned_files"] > plan_p["pruned_files"]
    # the ordered table serves the window from a small file fraction
    assert plan_s["kept_files"] <= max(
        3, plan_s["kept_files"] + plan_s["pruned_files"] - 3
    )
    got = S.read_table_where(spark, str(tmp_path / "s"), pred)
    want = list(map(tuple, df.filter("k BETWEEN 100 AND 199").collect()))
    want += [
        tuple(r) for r in df.limit(1).collect() if 100 <= r["k"] <= 199
    ]  # the 1-row bootstrap seed duplicates one df row
    assert sorted(map(tuple, got.collect())) == sorted(want)


def test_compact_defaults_to_declared_sort_order(spark, tmp_path):
    """snapshot_compact with NO explicit sort/cluster args must honor
    the declared order: post-compact files carry disjoint sort-column
    ranges (strictly improving pruning), and unsetting the order
    (sort_by=[]) restores plain repartition rewrites."""
    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("pmod(hash(id), 2000) AS k", "id AS v")
    df.repartition(6).write.parquet(root)  # hash layout: all files span k
    log = SnapshotLog(spark, root)
    log.bootstrap()
    S.annotate_stats(spark, root, cols=["k"])
    S.set_sort_order(spark, root, ["k"])
    total = sum(s for _, s in log.files())
    res = S.snapshot_compact(spark, root, target_bytes=max(1, total // 3))
    assert res["rewritten"] >= 1 and res["new_files"] >= 2
    stats = log.stats(res["version"])
    ranges = sorted(
        tuple(stats[p]["cols"]["k"])
        for p, _ in log.files(res["version"])
        if p in stats
    )
    assert len(ranges) >= 2
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b  # disjoint per-file key ranges
    # rows survived the rewrite exactly
    assert S.read_table_at(spark, root).count() == 2000
    # unset: the next compact stops range-clustering (no error paths)
    S.set_sort_order(spark, root, [])
    assert S.sort_order_of(log) is None
    # declared-order ids stay monotonic across set/unset
    assert S._latest_order_id(log) == 2


def test_sort_order_validation_and_rollback_pin(spark, tmp_path):
    """Unknown sort columns are rejected; a rollback across a
    set_sort_order pins the target's (un)sorted state explicitly."""
    import pytest as _pytest

    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(root)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    v1 = log.latest()
    with _pytest.raises(ValueError, match="not data columns"):
        S.set_sort_order(spark, root, ["nope"])
    with _pytest.raises(ValueError, match="duplicate"):
        S.set_sort_order(spark, root, ["id", "id"])
    S.set_sort_order(spark, root, ["id"])
    assert S.sort_order_of(log) is not None
    S.snapshot_rollback(spark, root, v1)
    assert S.sort_order_of(log) is None  # pinned back to unsorted
    S.snapshot_rollback(spark, root, log.latest() - 1)
    assert S.sort_order_of(log) == {"order_id": 3, "sort_by": ["id"]}


def test_hours_and_months_transform_layouts_prune(spark, tmp_path):
    """hours(ts) and months(ts) complete the time-granularity family:
    appends land under ISO-prefix dirs ('yyyy-MM-dd HH' / 'yyyy-MM'),
    raw-ts windows prune to the matching dirs, and reads are exact."""
    import datetime

    import hbase_compact_spark.compaction.snapshots as S

    # hours: 72 hourly rows, spec generation = hours 24..71
    rh = str(tmp_path / "h")
    df = spark.range(72).selectExpr(
        "id",
        "timestampadd(HOUR, CAST(id AS INT), timestamp'2024-03-01 00:00:00') AS ts",
    )
    df.filter("id < 24").coalesce(1).write.parquet(rh)
    S.evolve_partitioning(spark, rh, ["hours(ts)"])
    S.append_partitioned(spark, rh, df.filter("id >= 24"))
    lo = datetime.datetime(2024, 3, 2, 5)
    hi = datetime.datetime(2024, 3, 2, 9, 59, 59)
    plan = scan_plan(spark, rh, {"ts": (lo, hi)})
    kept_hours = {
        p.split("_hp_ts_hour=", 1)[1][:13]
        for p in plan["paths"]
        if "_hp_ts_hour=" in p
    }
    assert kept_hours == {f"2024-03-02 {h:02d}" for h in range(5, 10)}
    assert plan["pruned_files"] >= 40
    got = S.read_table_where(spark, rh, {"ts": (lo, hi)})
    assert got.count() == 5 and got.filter(
        "ts < timestamp'2024-03-02 05:00:00'"
    ).count() == 0

    # months: 120 daily rows across 4 months, spec = months 2..4
    rm = str(tmp_path / "m")
    dm = spark.range(120).selectExpr(
        "id",
        "timestampadd(DAY, CAST(id AS INT), timestamp'2024-01-01 00:00:00') AS ts",
    )
    dm.filter("id < 31").coalesce(1).write.parquet(rm)
    S.evolve_partitioning(spark, rm, ["months(ts)"])
    S.append_partitioned(spark, rm, dm.filter("id >= 31"))
    plan = scan_plan(
        spark, rm,
        {"ts": (datetime.datetime(2024, 3, 1), datetime.datetime(2024, 3, 31, 23, 59))},
    )
    kept_months = {
        p.split("_hp_ts_month=", 1)[1][:7]
        for p in plan["paths"]
        if "_hp_ts_month=" in p
    }
    assert kept_months == {"2024-03"}
    got = S.read_table_where(
        spark, rm,
        {"ts": (datetime.datetime(2024, 3, 1), datetime.datetime(2024, 3, 31, 23, 59))},
    )
    assert got.count() == 31  # march days


# ---------------------------------------------------------------------
# ADVICE r11: driver-side transform-bound derivation must be PROVABLY
# value-identical to the JVM write path, or return None (conservative
# no-prune) — never a diverging rendering that prunes the wrong dirs.


def test_transform_bound_rendering_guards():
    """_transform_bound only derives bucket predicates when the Python
    rendering is byte-identical to Spark's string cast: bool ('True'
    vs 'true') and non-integral floats never derive; integral-valued
    float probes coerce to the int rendering Spark uses for integral
    columns ('251', never '251.0'). Time transforms canonicalize
    Spark-accepted-but-non-canonical strings ('T' separators, aware
    offsets) and refuse unparseable ones."""
    import datetime
    import zlib

    import hbase_compact_spark.compaction.snapshots as S

    b4 = S.parse_partition_field("bucket(4, id)")
    assert S._transform_bound(b4, True) is None
    assert S._transform_bound(b4, 251.5) is None
    assert S._transform_bound(b4, datetime.date(2024, 1, 1)) is None
    assert S._transform_bound(b4, 251.0) == S._transform_bound(b4, 251)
    assert S._transform_bound(b4, 251) == str(
        zlib.crc32(b"251") % 4
    )
    hours = S.parse_partition_field("hours(ts)")
    months = S.parse_partition_field("months(ts)")
    # 'T'-separated ISO renders to the canonical space-separated dir
    assert S._transform_bound(hours, "2024-01-13T05:00:00") == "2024-01-13 05"
    # aware offsets convert to the engine's UTC before slicing
    assert (
        S._transform_bound(hours, "2024-01-13T05:00:00+02:00")
        == "2024-01-13 03"
    )
    assert (
        S._transform_bound(
            hours,
            datetime.datetime(
                2024, 1, 13, 5, tzinfo=datetime.timezone(
                    datetime.timedelta(hours=2)
                )
            ),
        )
        == "2024-01-13 03"
    )
    # non-zero-padded / unparseable strings: no derived predicate
    assert S._transform_bound(months, "2024-3-15") is None
    assert S._transform_bound(months, "not a time") is None


def test_bucket_prune_float_probe_on_integral_column(spark, tmp_path):
    """ADVICE r11 (medium): a float equality probe 251.0 against an
    integral bucket source must prune to the bucket of '251' (Spark's
    cast rendering), not of '251.0' — for bucket(4) those are buckets
    0 and 3, so the old str(value) derivation silently dropped the
    matching row."""
    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(400).selectExpr("id", "id * 3 AS v")
    df.filter("id < 100").coalesce(1).write.parquet(root)
    S.evolve_partitioning(spark, root, ["bucket(4, id)"])
    S.append_partitioned(spark, root, df.filter("id >= 100"))
    plan = scan_plan(spark, root, {"id": (251.0, 251.0)})
    kept = {
        p.split("_hp_id_bucket4=", 1)[1].split("/")[0]
        for p in plan["paths"]
        if "_hp_id_bucket4=" in p
    }
    assert kept == {"0"}  # crc32('251') % 4, the bucket holding id=251
    got = S.read_table_where(spark, root, {"id": (251.0, 251.0)})
    assert [tuple(r) for r in got.select("id", "v").collect()] == [(251, 753)]


def test_bucket_spec_rejects_unsafe_source_types(spark, tmp_path):
    """evolve_partitioning validates bucket() sources like truncate():
    only string/integral columns render identically in the Python
    pruner and Spark's string cast — float/bool sources are rejected
    at declaration time instead of mispruning at read time."""
    import pytest as _pytest

    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    spark.range(10).selectExpr(
        "id", "CAST(id AS DOUBLE) AS d", "id % 2 = 0 AS b"
    ).coalesce(1).write.parquet(root)
    with _pytest.raises(ValueError, match="bucket"):
        S.evolve_partitioning(spark, root, ["bucket(4, d)"])
    with _pytest.raises(ValueError, match="bucket"):
        S.evolve_partitioning(spark, root, ["bucket(4, b)"])
    S.evolve_partitioning(spark, root, ["bucket(4, id)"])  # integral OK


def test_hours_prune_with_noncanonical_string_bounds(spark, tmp_path):
    """ADVICE r11 (medium): an hours(ts) range probe with ISO
    'T'-separated string bounds must open the SAME hour dirs as the
    canonical rendering — the old raw value[:13] slice produced
    '2024-03-01T05', which sorts above every space-separated dir value
    and pruned the whole in-range day. Unparseable bounds must fall
    back to no pruning, never wrong pruning."""
    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(48).selectExpr(
        "id",
        "timestampadd(HOUR, CAST(id AS INT), timestamp'2024-03-01 00:00:00') AS ts",
    )
    df.filter("id < 8").coalesce(1).write.parquet(root)
    S.evolve_partitioning(spark, root, ["hours(ts)"])
    S.append_partitioned(spark, root, df.filter("id >= 8"))
    probe = {"ts": ("2024-03-01T10:00:00", "2024-03-01T11:30:00")}
    plan = scan_plan(spark, root, probe)
    kept_hours = {
        p.split("_hp_ts_hour=", 1)[1].split("/")[0]
        for p in plan["paths"]
        if "_hp_ts_hour=" in p
    }
    assert kept_hours == {"2024-03-01 10", "2024-03-01 11"}
    got = S.read_table_where(spark, root, probe)
    assert sorted(r["id"] for r in got.collect()) == [10, 11]
    # a bound fromisoformat cannot parse: conservative full keep of the
    # spec generation plus exact in-plan filtering — rows still correct
    sloppy = {"ts": ("2024-3-1 10:00:00", "2024-3-1 11:30:00")}
    got2 = S.read_table_where(spark, root, sloppy)
    assert sorted(r["id"] for r in got2.collect()) == [10, 11]


# ---------------------------------------------------------------------
# snapshot_merge_full (VERDICT r11 task 4): the conditional MERGE
# clause matrix — matched UPDATE/DELETE with conditions, NOT MATCHED
# INSERT, NOT MATCHED BY SOURCE DELETE — plus candidate narrowing and
# MOR composition.


def _mf_table(spark, tmp_path, n=100, files=4):
    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    (
        spark.range(n)
        .selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS val", "'A' AS st")
        .repartitionByRange(files, "id")
        .sortWithinPartitions("id")
        .write.parquet(root)
    )
    S.annotate_stats(spark, root, cols=["id"])
    return root


def _mf_source(spark):
    # keys id%6==0: %12==0 -> 'X' (delete), %24==6 -> +100 (update
    # fires), %24==18 -> -50 (update condition false, carry)
    src = spark.range(100).filter("id % 6 = 0").selectExpr(
        "id",
        "CASE WHEN id % 24 = 6 THEN id*1.5 + 100 "
        "ELSE id*1.5 - 50 END AS val",
        "CASE WHEN id % 12 = 0 THEN 'X' ELSE 'A' END AS st",
    )
    ins = spark.range(1000, 1005).selectExpr(
        "id", "CAST(id AS DOUBLE) AS val", "'N' AS st"
    )
    return src.unionByName(ins)


def test_merge_full_clause_matrix(spark, tmp_path):
    """Every clause fires on its residue class and ONLY there; the
    delete clause is evaluated before update (a row satisfying both
    dies); matched rows inside the retention window survive (BY
    SOURCE means by source)."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mf_table(spark, tmp_path)
    res = S.snapshot_merge_full(
        spark,
        root,
        _mf_source(spark),
        ["id"],
        update_set={"val": "__src_val"},
        update_condition="__src_val > val",
        delete_condition="__src_st = 'X'",
        unmatched_delete_predicates={"id": (None, 10)},
    )
    assert res["deleted_matched"] == 9   # 0,12,...,96
    assert res["deleted_unmatched"] == 9  # ids 1..10 minus 6 (matched)
    assert res["updated"] == 4           # 6,30,54,78
    assert res["inserted"] == 5
    rows = {
        r["id"]: (r["val"], r["st"])
        for r in S.read_table_at(spark, root).collect()
    }
    assert len(rows) == 100 - 9 - 9 + 5
    assert 0 not in rows and 96 not in rows      # matched deletes
    assert 1 not in rows and 10 not in rows      # retention deletes
    assert rows[6] == (6 * 1.5 + 100, "A")       # update fired
    assert rows[18] == (18 * 1.5, "A")           # condition false: carry
    assert rows[11] == (11 * 1.5, "A")           # outside window
    assert rows[1000] == (1000.0, "N")           # insert


def test_merge_full_narrows_candidates_and_carries(spark, tmp_path):
    """A narrow-key source + narrow retention window must leave the
    provably-untouched files carried BY REFERENCE (same relpaths in
    the child manifest), with candidate_files < all files."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mf_table(spark, tmp_path, n=400, files=8)
    log = S.SnapshotLog(spark, root)
    log.bootstrap()
    before = {p for p, _ in log.files(log.latest())}
    src = spark.range(10, 13).selectExpr(
        "id", "CAST(0.0 AS DOUBLE) AS val", "'X' AS st"
    )
    res = S.snapshot_merge_full(
        spark,
        root,
        src,
        ["id"],
        delete_condition="__src_st = 'X'",
        insert_unmatched=False,
        unmatched_delete_predicates={"id": (390, 395)},
    )
    assert res["deleted_matched"] == 3
    assert res["deleted_unmatched"] == 6
    assert 1 <= res["candidate_files"] <= 3  # stats narrowed 8 files
    after = {p for p, _ in log.files(log.latest())}
    # at least the middle files are carried byte-identical
    assert len(before & after) >= 5
    got = S.read_table_at(spark, root)
    assert got.count() == 400 - 9
    assert got.filter("id BETWEEN 10 AND 12").count() == 0
    assert got.filter("id BETWEEN 390 AND 395").count() == 0


def test_merge_full_noop_commits_nothing(spark, tmp_path):
    """No clause firing anywhere = metadata-only no-op: same version,
    zero commits, zero rewritten files."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mf_table(spark, tmp_path)
    log = S.SnapshotLog(spark, root)
    log.bootstrap()
    v0 = log.latest()
    src = spark.range(5000, 5003).selectExpr(
        "id", "CAST(0.0 AS DOUBLE) AS val", "'X' AS st"
    )
    res = S.snapshot_merge_full(
        spark,
        root,
        src,
        ["id"],
        delete_condition="__src_st = 'X'",
        insert_unmatched=False,
    )
    assert res["version"] == v0
    assert log.latest() == v0
    assert all(
        res[k] == 0
        for k in ("updated", "deleted_matched", "deleted_unmatched", "inserted")
    )


def test_merge_full_applies_and_retires_pending_mor(spark, tmp_path):
    """Full merge on a table with pending MOR deletes: the rewrite
    reads EFFECTIVE rows (never resurrects), and entries consumed by
    the rewritten files are retired from the child snapshot."""
    import hbase_compact_spark.compaction.snapshots as S

    root = _mf_table(spark, tmp_path)
    S.snapshot_delete(spark, root, {"id": (20, 24)}, mode="mor")
    src = spark.range(22, 23).selectExpr(
        "id", "CAST(9999.0 AS DOUBLE) AS val", "'A' AS st"
    )
    res = S.snapshot_merge_full(
        spark,
        root,
        src,
        ["id"],
        update_set={"val": "__src_val"},
        insert_unmatched=True,
    )
    got = S.read_table_at(spark, root)
    # id 22 was MOR-deleted BEFORE the merge, so the merge sees no
    # matched row: the source row INSERTS instead of resurrecting
    assert res["inserted"] == 1 and res["updated"] == 0
    assert [r["val"] for r in got.filter("id = 22").collect()] == [9999.0]
    assert got.filter("id BETWEEN 20 AND 24 AND id <> 22").count() == 0
    assert got.count() == 100 - 5 + 1


def test_years_transform_layout_and_pruning(spark, tmp_path):
    """years(ts): appends land under `_hp_ts_year=yyyy` dirs, a raw-ts
    range scan opens only matching year dirs, read exact — completes
    the Iceberg time-transform family (years/months/days/hours)."""
    import datetime

    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(48).selectExpr(
        "id",
        "timestampadd(MONTH, CAST(id AS INT), timestamp'2020-01-15 12:00:00') AS ts",
    )
    df.filter("id < 12").coalesce(1).write.parquet(root)
    S.evolve_partitioning(spark, root, ["years(ts)"])
    S.append_partitioned(spark, root, df.filter("id >= 12"))
    log = SnapshotLog(spark, root)
    years = {
        p.split("_hp_ts_year=", 1)[1].split("/")[0]
        for p, _ in log.files(log.latest())
        if "_hp_ts_year=" in p
    }
    assert years == {"2021", "2022", "2023"}
    lo = datetime.datetime(2022, 1, 1)
    hi = datetime.datetime(2022, 12, 31, 23, 59)
    plan = scan_plan(spark, root, {"ts": (lo, hi)})
    kept = {
        p.split("_hp_ts_year=", 1)[1].split("/")[0]
        for p in plan["paths"]
        if "_hp_ts_year=" in p
    }
    assert kept == {"2022"}
    got = S.read_table_where(spark, root, {"ts": (lo, hi)})
    assert got.count() == 12  # the 12 months of 2022
    # parity: driver bound == JVM rendering
    fld = S.parse_partition_field("years(ts)")
    assert S._transform_bound(fld, datetime.datetime(2022, 3, 1)) == "2022"


def test_truncate_decimal_transform_parity_and_pruning(spark, tmp_path):
    """truncate(W, decimal): floors in UNSCALED units (Iceberg's
    TruncateDecimal — truncate(50, decimal(9,2)) buckets by 0.50),
    negatives floor like pmod, and the driver-side bound renders
    byte-identically to Spark's string cast at the COLUMN scale."""
    import decimal

    import hbase_compact_spark.compaction.snapshots as S

    root = str(tmp_path / "t")
    df = spark.range(-40, 200).selectExpr(
        "id", "CAST(id * 0.07 AS DECIMAL(9,2)) AS d"
    )
    df.filter("id < 0").coalesce(1).write.parquet(root)
    S.evolve_partitioning(spark, root, ["truncate(50, d)"])
    S.append_partitioned(spark, root, df.filter("id >= 0"))
    log = SnapshotLog(spark, root)
    # JVM/driver value parity over every row
    fld = S.parse_partition_field("truncate(50, d)")
    rows = (
        df.select(
            "d", S._partition_field_expr(df, fld).alias("jvm")
        )
        .collect()
    )
    for r in rows:
        want = S._transform_bound(fld, r["d"], scale=2)
        assert str(want) == r["jvm"], (r["d"], want, r["jvm"])
    # range probe prunes to the covering 0.50-buckets
    probe = {"d": (decimal.Decimal("1.00"), decimal.Decimal("1.99"))}
    plan = scan_plan(spark, root, probe)
    kept = {
        p.split("_hp_d_trunc50=", 1)[1].split("/")[0]
        for p in plan["paths"]
        if "_hp_d_trunc50=" in p
    }
    assert kept == {"1.00", "1.50"}
    got = S.read_table_where(spark, root, probe)
    want_ids = [
        r["id"]
        for r in df.filter(
            "d >= CAST(1.00 AS DECIMAL(9,2)) AND d <= CAST(1.99 AS DECIMAL(9,2))"
        ).collect()
    ]
    assert sorted(r["id"] for r in got.collect()) == sorted(want_ids)
    # a probe finer than the column scale refuses to derive (no wrong
    # prune), rows still exact through the in-plan filter
    fine = S._transform_bound(
        fld, decimal.Decimal("1.005"), scale=2
    )
    assert fine is None
