"""Optimistic-retry commit protocol (VERDICT r10 task 1).

Every snapshot-log writer must survive losing the commit race to a
DISJOINT concurrent committer (validate → rebase → recommit) and must
ABORT — never silently clobber — when the concurrent commit overlaps
the files it rewrote. The reference assumes a single writer (its one
checkpoint file, QHBaseCompact.java:102-115); these tests pin the
multi-writer contract the engine adds on top.

Races are injected deterministically: SnapshotLog.commit is wrapped so
the FIRST commit attempt of the writer under test first lands a real
concurrent commit (through the same public API), then proceeds — the
exact interleaving of a writer that derived its plan, did its work,
and reached the commit point just after someone else committed.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

import hbase_compact_spark.compaction.snapshots as S
from hbase_compact_spark.compaction.snapshots import (
    SnapshotConflictError,
    SnapshotLog,
    read_table_at,
)


def _tbl(spark, tmp_path, n=40, files=4):
    root = str(tmp_path / "t")
    (
        spark.range(n)
        .selectExpr("id", "id * 2 AS v")
        .repartitionByRange(files, "id")
        .write.parquet(root)
    )
    S.annotate_stats(spark, root, cols=["id"])
    return root


def _land_append(spark, root, rows, schema="id long, v long"):
    """A real concurrent APPEND through the log: land one parquet file
    beside the table's and commit_append it (the ingest path's shape)."""
    df = spark.createDataFrame(rows, schema)
    tmp = os.path.join(root, "_race_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    name = f"race-{uuid.uuid4().hex[:8]}.parquet"
    dest = os.path.join(root, name)
    os.replace(part, dest)
    shutil.rmtree(tmp)
    log = SnapshotLog(spark, root)
    log.commit_append(
        [(name, os.path.getsize(dest))], op="append", parent=log.latest()
    )
    return name


def _install_race(monkeypatch, race_fn):
    """Fire `race_fn` (a real concurrent commit) immediately before
    the next commit attempt, exactly once. Returns the shared state
    dict so tests can assert the race actually fired."""
    orig = SnapshotLog.commit
    state = {"fired": False}

    def racing(self, *a, **k):
        if not state["fired"]:
            state["fired"] = True
            race_fn()
        return orig(self, *a, **k)

    monkeypatch.setattr(SnapshotLog, "commit", racing)
    return state


def test_compact_rebases_across_concurrent_append(spark, tmp_path, monkeypatch):
    """Compaction racing an append (the daily production race):
    disjoint → the compact REBASES, carrying the appended file into
    its child manifest, and no row from either writer is lost."""
    root = _tbl(spark, tmp_path)
    appended = {}
    state = _install_race(
        monkeypatch,
        lambda: appended.setdefault(
            "name", _land_append(spark, root, [(100, 200), (101, 202)])
        ),
    )
    res = S.snapshot_compact(spark, root, target_bytes=1 << 30)
    assert state["fired"] and res["rewritten"] >= 1
    log = SnapshotLog(spark, root)
    assert res["version"] == log.latest()
    final = {p for p, _ in log.files(res["version"])}
    assert appended["name"] in final  # the winner's file carried
    got = read_table_at(spark, root)
    assert got.count() == 42
    assert got.filter("id IN (100, 101)").count() == 2
    assert got.agg(F.sum("v")).collect()[0][0] == sum(
        i * 2 for i in range(40)
    ) + 200 + 202


def test_cow_delete_rebases_across_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """COW row-delete racing a disjoint append: the delete commits
    (the stats-less appendee cannot be PROVEN disjoint, so this path
    re-derives rather than rebases — see the serializability tests
    below); the deleted rows are gone, the appended rows survive."""
    root = _tbl(spark, tmp_path)
    state = _install_race(
        monkeypatch, lambda: _land_append(spark, root, [(500, 1000)])
    )
    res = S.snapshot_delete(spark, root, {"id": (0, 5)})
    assert state["fired"] and res["deleted_rows"] == 6
    got = read_table_at(spark, root)
    assert got.count() == 40 - 6 + 1
    assert got.filter("id <= 5").count() == 0
    assert got.filter("id = 500").count() == 1


def test_overlapping_rewrites_rederive_not_clobber(spark, tmp_path, monkeypatch):
    """COW delete racing a compact that rewrote the SAME files: the
    rebase must abort (carrying the rebased keep list would resurrect
    the pre-compact files), and the delete then RE-DERIVES its whole
    plan against the compacted latest — never clobbering the winner,
    never losing the delete (the MOR branch's semantics, extended to
    COW by the r12 serializable-retry loop). A caller-pinned explicit
    version still surfaces the conflict instead of retrying."""
    root = _tbl(spark, tmp_path)
    pinned = SnapshotLog(spark, root).latest()
    state = _install_race(
        monkeypatch,
        lambda: S.snapshot_compact(spark, root, target_bytes=1 << 30),
    )
    res = S.snapshot_delete(spark, root, {"id": (0, 5)})
    assert state["fired"] and res["deleted_rows"] == 6
    log = SnapshotLog(spark, root)
    # the delete's parent chain contains the compact — winner intact
    ops = [log.read(v)["op"] for v in log.versions()]
    assert "compact" in ops and ops[-1] == "delete"
    got = read_table_at(spark, root)
    assert got.count() == 34 and got.filter("id <= 5").count() == 0
    # version-pinned delete: the pinned state is gone, so it aborts
    state2 = _install_race(
        monkeypatch,
        lambda: S.snapshot_compact(spark, root, target_bytes=1 << 30),
    )
    with pytest.raises(SnapshotConflictError):
        S.snapshot_delete(spark, root, {"id": (6, 8)}, version=pinned)


def test_mor_positional_delete_rederives_across_compact(
    spark, tmp_path, monkeypatch
):
    """Positional MOR delete racing a compact: positions recorded
    against the pre-compact files are stale, so the retry re-derives
    (re-scans candidates at the new latest) — the final entries
    reference the compacted files, the aborted attempt's delete file
    is cleaned up, and the read is exact."""
    root = _tbl(spark, tmp_path)
    state = _install_race(
        monkeypatch,
        lambda: S.snapshot_compact(spark, root, target_bytes=1 << 30),
    )
    res = S.snapshot_delete(spark, root, {"id": (10, 14)}, mode="mor")
    assert state["fired"] and res["deleted_rows"] == 5
    log = SnapshotLog(spark, root)
    assert log.read(log.latest())["op"] == "mor_delete"
    got = read_table_at(spark, root)
    assert got.count() == 35 and got.filter("id BETWEEN 10 AND 14").count() == 0
    # exactly one live delete entry on disk: the losing attempt's file
    # was removed before the re-derivation
    entries = [
        e for e in os.listdir(os.path.join(root, "_snapshots", "deletes"))
        if not e.startswith("_")
    ]
    assert len(entries) == 1
    # and it references the compacted generation, not the stale files
    (entry,) = entries
    referenced = {
        r["relpath"]
        for r in spark.read.parquet(
            os.path.join(root, "_snapshots", "deletes", entry)
        ).collect()
    }
    live = {p for p, _ in log.files(log.latest())}
    assert referenced <= live


def test_eq_delete_rederives_scope_across_append(spark, tmp_path, monkeypatch):
    """Equality delete racing an append that lands ANOTHER row of the
    deleted key: the appended commit is EARLIER in the log, so the
    re-derived scope covers its file too and both versions of the key
    die — the serial order the log records."""
    root = _tbl(spark, tmp_path)
    state = _install_race(
        monkeypatch, lambda: _land_append(spark, root, [(5, 9999)])
    )
    res = S.snapshot_delete_by_key(
        spark, root, spark.createDataFrame([(5,)], "id long")
    )
    assert state["fired"] and res["deleted_keys"] == 1
    got = read_table_at(spark, root)
    assert got.filter("id = 5").count() == 0
    assert got.count() == 39  # both copies of key 5 subtracted


def test_mor_upsert_rebases_across_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """MOR upsert racing an append of a shared key: the upsert is
    LATER in the log, so its row wins (scope re-derived at the new
    latest covers the appended file), its own landed files are reused
    (no double write), and the rebase loses no one's rows."""
    root = _tbl(spark, tmp_path)
    state = _install_race(
        monkeypatch, lambda: _land_append(spark, root, [(7, 7777), (600, 0)])
    )
    batch = spark.createDataFrame([(7, 14_000), (601, 1)], "id long, v long")
    res = S.snapshot_upsert_mor(spark, root, batch, ["id"])
    assert state["fired"] and res["upserted_keys"] == 2
    got = read_table_at(spark, root)
    rows = {r["id"]: r["v"] for r in got.collect()}
    assert rows[7] == 14_000  # upsert (later commit) wins the shared key
    assert rows[600] == 0 and rows[601] == 1  # disjoint rows both survive
    assert got.count() == 42  # 40 base (key 7 replaced) + 600 + 601
    assert got.filter("id = 7").count() == 1


def test_mor_upsert_failure_leaves_no_orphans(spark, tmp_path, monkeypatch):
    """An upsert that raises AFTER landing its batch — a conflict on a
    caller-pinned version, or retry exhaustion — deletes the data files
    it landed and its `_tmp-*` key staging dir: nothing is left for
    sweep_orphans, and no entry dir of a lost attempt survives."""
    root = _tbl(spark, tmp_path)
    deletes = os.path.join(root, "_snapshots", "deletes")
    landed = []
    orig_land = S._land_spec_files

    def recording_land(*a, **k):
        out = orig_land(*a, **k)
        landed.extend(out)
        return out

    monkeypatch.setattr(S, "_land_spec_files", recording_land)

    def leftovers():
        log = SnapshotLog(spark, root)
        referenced = {p for v in log.versions() for p, _ in log.files(v)}
        on_disk = {
            os.path.relpath(os.path.join(d, n), root)
            for d, _, names in os.walk(root)
            if "_snapshots" not in d
            for n in names
            if n.startswith("append-")
        }
        staged = [
            n for n in (os.listdir(deletes) if os.path.isdir(deletes) else [])
            if n.startswith("_tmp-")
        ]
        return on_disk - referenced, staged

    batch = spark.createDataFrame([(7, 14_000), (601, 1)], "id long, v long")
    pinned = SnapshotLog(spark, root).latest()
    state = _install_race(
        monkeypatch, lambda: _land_append(spark, root, [(600, 0)])
    )
    with pytest.raises(SnapshotConflictError):
        S.snapshot_upsert_mor(spark, root, batch, ["id"], version=pinned)
    assert state["fired"] and landed
    assert leftovers() == (set(), [])
    assert not any(os.path.exists(os.path.join(root, p)) for p, _ in landed)
    # every attempt loses: the bounded retry gives up, then cleans up
    landed.clear()
    orig_commit = SnapshotLog.commit
    counter = {"n": 0}

    def always_racing(self, *a, **k):
        if k.get("op") == "mor_upsert":
            counter["n"] += 1
            _land_append(spark, root, [(2000 + counter["n"], 0)])
        return orig_commit(self, *a, **k)

    monkeypatch.setattr(SnapshotLog, "commit", always_racing)
    with pytest.raises(SnapshotConflictError, match="kept conflicting"):
        S.snapshot_upsert_mor(spark, root, batch, ["id"])
    assert counter["n"] == S.COMMIT_REBASE_RETRIES + 1 and landed
    assert leftovers() == (set(), [])
    log = SnapshotLog(spark, root)
    entries = {n for v in log.versions() for n, _ in log.delete_files(v)}
    assert set(os.listdir(deletes)) <= entries  # no lost attempt's e- dir


def test_mor_upsert_cleanup_follows_the_claim(spark, tmp_path, monkeypatch):
    """The upsert's cleanup removes only what no version can reference.
    An error before the version claim (here in the child-manifest
    build) deletes the landed data files and the attempt's entry dir;
    an error inside the claim, after the version JSON is already linked
    into place, keeps them, because that version references them."""
    root = _tbl(spark, tmp_path)
    deletes = os.path.join(root, "_snapshots", "deletes")
    log = SnapshotLog(spark, root)
    v0 = log.latest()
    landed = []
    orig_land = S._land_spec_files

    def recording_land(*a, **k):
        out = orig_land(*a, **k)
        landed.extend(out)
        return out

    monkeypatch.setattr(S, "_land_spec_files", recording_land)
    batch = spark.createDataFrame([(7, 14_000), (601, 1)], "id long, v long")

    def broken_manifest(*a, **k):
        raise OSError("manifest volume full")

    orig_manifest = S._carried_manifest
    monkeypatch.setattr(S, "_carried_manifest", broken_manifest)
    with pytest.raises(OSError, match="volume full"):
        S.snapshot_upsert_mor(spark, root, batch, ["id"])
    monkeypatch.setattr(S, "_carried_manifest", orig_manifest)
    assert log.latest() == v0 and landed
    assert not any(os.path.exists(os.path.join(root, p)) for p, _ in landed)
    assert os.listdir(deletes) == []  # no entry dir, no key staging

    orig_claim = S.PureSnapshotLog._claim_version

    def claim_then_fail(self, n, payload):
        orig_claim(self, n, payload)
        raise OSError("tmp unlink failed")

    landed.clear()
    monkeypatch.setattr(S.PureSnapshotLog, "_claim_version", claim_then_fail)
    with pytest.raises(OSError, match="unlink"):
        S.snapshot_upsert_mor(spark, root, batch, ["id"])
    monkeypatch.setattr(S.PureSnapshotLog, "_claim_version", orig_claim)
    assert log.latest() == v0 + 1 and landed
    assert all(os.path.exists(os.path.join(root, p)) for p, _ in landed)
    assert all(
        os.path.isdir(os.path.join(deletes, n))
        for n, _ in log.delete_files(v0 + 1)
    )
    got = read_table_at(spark, root)
    assert got.count() == 41
    assert got.filter("id = 7").collect()[0]["v"] == 14_000


def test_rebase_bounded_retries_exhaust(spark, tmp_path, monkeypatch):
    """A writer that loses EVERY retry must surface the conflict after
    the bounded attempt count, not spin forever."""
    root = _tbl(spark, tmp_path)
    orig = SnapshotLog.commit
    counter = {"n": 0}

    def always_racing(self, *a, **k):
        op = k.get("op") or (a[1] if len(a) > 1 else "")
        if op == "compact":
            counter["n"] += 1
            _land_append(spark, root, [(1000 + counter["n"], 0)])
        return orig(self, *a, **k)

    monkeypatch.setattr(SnapshotLog, "commit", always_racing)
    with pytest.raises(SnapshotConflictError, match="kept conflicting"):
        S.snapshot_compact(spark, root, target_bytes=1 << 30)
    assert counter["n"] == S.COMMIT_REBASE_RETRIES + 1


def test_cow_delete_serializable_across_matching_append(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: COW delete racing an append whose rows MATCH the
    delete predicate. Rebasing would carry the appended file and let
    its matching rows survive (snapshot isolation); the engine instead
    re-derives against the new latest — serializable, like mode='mor'
    and Iceberg's row-level-delete default — so the appended match
    dies too."""
    root = _tbl(spark, tmp_path)
    state = _install_race(
        monkeypatch, lambda: _land_append(spark, root, [(3, 999), (700, 1)])
    )
    res = S.snapshot_delete(spark, root, {"id": (0, 5)})
    assert state["fired"]
    # 6 base matches + the concurrently-appended id=3
    assert res["deleted_rows"] == 7
    got = read_table_at(spark, root)
    assert got.filter("id <= 5").count() == 0
    assert got.filter("id = 700").count() == 1  # disjoint appendee lives
    assert got.count() == 40 - 6 + 1


def test_cow_delete_rebase_carries_provably_disjoint_append(
    spark, tmp_path, monkeypatch
):
    """The serializability veto is stats-driven, not blanket: when the
    concurrently-appended file's stats PROVE it holds no predicate
    matches, the rebase carries it and commits without re-deriving
    (exactly one losing commit attempt)."""
    root = _tbl(spark, tmp_path)
    orig_commit = SnapshotLog.commit
    state = {"fired": False, "delete_commits": 0}

    def racing_and_counting(self, *a, **k):
        op = k.get("op") or (a[1] if len(a) > 1 else "")
        if op == "delete":
            state["delete_commits"] += 1
        if not state["fired"]:
            state["fired"] = True
            _land_append(spark, root, [(500, 1000)])
            S.annotate_stats(spark, root, cols=["id"])
        return orig_commit(self, *a, **k)

    monkeypatch.setattr(SnapshotLog, "commit", racing_and_counting)
    res = S.snapshot_delete(spark, root, {"id": (0, 5)})
    assert state["fired"] and res["deleted_rows"] == 6
    assert state["delete_commits"] == 2  # one losing attempt + rebase
    got = read_table_at(spark, root)
    assert got.count() == 40 - 6 + 1
    assert got.filter("id = 500").count() == 1


def test_rewrite_conflict_leaves_no_orphan_delete_entries(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: a losing rewrite attempt's freshly-consolidated
    delete entries are removed in the conflict path — only the
    original MOR entry (owned by its own commit, kept for time
    travel) and the winning attempt's consolidation remain on disk."""
    root = _tbl(spark, tmp_path)
    # pending positional entry on rows the COW delete will NOT rewrite
    S.snapshot_delete(spark, root, {"id": (35, 37)}, mode="mor")

    def race():
        _land_append(spark, root, [(900, 0)])
        S.annotate_stats(spark, root, cols=["id"])

    _install_race(monkeypatch, race)
    res = S.snapshot_delete(spark, root, {"id": (0, 5)})
    assert res["deleted_rows"] == 6
    deletes_dir = os.path.join(root, "_snapshots", "deletes")
    on_disk = {e for e in os.listdir(deletes_dir) if not e.startswith("_")}
    log = SnapshotLog(spark, root)
    live = {n for n, _ in log.delete_files(log.latest())}
    # the MOR commit's original entry + exactly ONE live consolidation;
    # the losing attempt's consolidation must not linger
    assert len(live) == 1
    assert len(on_disk) == 2, sorted(on_disk)
    got = read_table_at(spark, root)
    assert got.count() == 40 - 6 - 3 + 1
    assert got.filter("id BETWEEN 35 AND 37").count() == 0


def test_merge_full_serializable_across_matching_append(
    spark, tmp_path, monkeypatch
):
    """Full MERGE racing an append that lands a row inside the
    retention window (NOT MATCHED BY SOURCE DELETE): carrying it
    would let the row dodge the retention clause — the merge
    re-derives against the new latest and the appended row dies too."""
    root = _tbl(spark, tmp_path)
    state = _install_race(
        monkeypatch, lambda: _land_append(spark, root, [(2, 123), (800, 1)])
    )
    src = spark.createDataFrame([(50, 999)], "id long, v long")
    res = S.snapshot_merge_full(
        spark,
        root,
        src,
        ["id"],
        insert_unmatched=True,
        unmatched_delete_predicates={"id": (0, 5)},
    )
    assert state["fired"]
    # 6 base rows + the concurrently-appended id=2
    assert res["deleted_unmatched"] == 7 and res["inserted"] == 1
    got = read_table_at(spark, root)
    assert got.filter("id <= 5").count() == 0
    assert got.filter("id = 800").count() == 1
    assert got.filter("id = 50").count() == 1
    assert got.count() == 40 - 6 + 1 + 1


def test_merge_full_rebases_across_disjoint_append(
    spark, tmp_path, monkeypatch
):
    """Full MERGE racing an append whose stats PROVE it untouched by
    both clauses: the rebase carries it — one losing commit attempt,
    no re-derivation, appendee intact."""
    root = _tbl(spark, tmp_path)
    orig_commit = SnapshotLog.commit
    state = {"fired": False, "merge_commits": 0}

    def racing(self, *a, **k):
        op = k.get("op") or (a[1] if len(a) > 1 else "")
        if op == "merge":
            state["merge_commits"] += 1
        if not state["fired"]:
            state["fired"] = True
            _land_append(spark, root, [(500, 1000)])
            S.annotate_stats(spark, root, cols=["id"])
        return orig_commit(self, *a, **k)

    monkeypatch.setattr(SnapshotLog, "commit", racing)
    src = spark.createDataFrame([(10, 111), (11, 222)], "id long, v long")
    res = S.snapshot_merge_full(
        spark,
        root,
        src,
        ["id"],
        update_set={"v": "__src_v"},
        insert_unmatched=False,
    )
    assert state["fired"] and res["updated"] == 2
    assert state["merge_commits"] == 2  # one losing attempt + rebase
    got = read_table_at(spark, root)
    rows = {r["id"]: r["v"] for r in got.collect()}
    assert rows[10] == 111 and rows[11] == 222
    assert rows[500] == 1000  # the appendee carried through the rebase
    assert got.count() == 41



def test_concurrent_claims_land_exactly_one_version(spark, tmp_path):
    """Threads racing for the SAME parent, half through
    SnapshotLog.commit and half through
    PureSnapshotLog.commit_manifest_table, share one commit point:
    each round lands exactly one version, every loser raises
    SnapshotConflictError, and losers leave no tmp JSON and no
    manifest that no version references."""
    root = _tbl(spark, tmp_path)
    log = SnapshotLog(spark, root)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for rnd in range(4):
            _race_one_round(spark, root, log, f"race{rnd}", n_threads=8)
    finally:
        sys.setswitchinterval(switch)

    log_dir = os.path.join(root, S.SNAPSHOT_DIR)
    assert not glob.glob(os.path.join(log_dir, "_tmp-*.json"))
    referenced = {log.read(v)["manifest"] for v in log.versions()}
    on_disk = {
        n
        for n in os.listdir(os.path.join(log_dir, S.MANIFEST_SUBDIR))
        if n.startswith("m-")
    }
    assert on_disk == referenced


def _race_one_round(spark, root, log, op, n_threads):
    """n_threads committers, alternating SnapshotLog and
    PureSnapshotLog, all derived from the current latest version,
    released together at a barrier."""
    parent = log.latest()
    files = log.files(parent)
    committers = [
        SnapshotLog(spark, root) if i % 2 else S.PureSnapshotLog(root)
        for i in range(n_threads)
    ]
    tbl = committers[0].manifest_table(parent)
    barrier = threading.Barrier(n_threads, timeout=60)

    def claim(c):
        barrier.wait()
        try:
            if isinstance(c, SnapshotLog):
                return c.commit(files, op=op, parent=parent)
            return c.commit_manifest_table(tbl, op=op, parent=parent)
        except SnapshotConflictError as exc:
            return exc

    with ThreadPoolExecutor(n_threads) as pool:
        outcomes = list(pool.map(claim, committers, timeout=120))
    # every non-winner came back as a SnapshotConflictError (any other
    # exception would have propagated out of pool.map)
    assert [o for o in outcomes if isinstance(o, int)] == [parent + 1]
    assert log.versions()[-2:] == [parent, parent + 1]
