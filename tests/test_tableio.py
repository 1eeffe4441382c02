"""Snapshot-append table emulation: atomic visibility, time travel, and
crash-orphan invisibility."""

from __future__ import annotations

import os

import pytest

from ocr_spark.tableio import ParquetManifestIO


def _df(spark, values):
    return spark.createDataFrame([(v,) for v in values], schema="v int")


def test_append_and_read_union(spark, tmp_path):
    io = ParquetManifestIO(str(tmp_path))
    s0 = io.append(_df(spark, [1, 2]), "t")
    s1 = io.append(_df(spark, [3]), "t")
    assert (s0, s1) == (0, 1)
    got = sorted(r.v for r in io.read(spark, "t").collect())
    assert got == [1, 2, 3]


def test_time_travel(spark, tmp_path):
    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1, 2]), "t")
    io.append(_df(spark, [3]), "t")
    got = sorted(r.v for r in io.read(spark, "t", asof=0).collect())
    assert got == [1, 2]


def test_orphan_data_is_invisible(spark, tmp_path):
    """Data written without a manifest commit (crash between the two
    steps) must never be read."""
    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    orphan = tmp_path / "t" / "data" / "s000099"
    _df(spark, [999]).write.parquet(str(orphan))
    assert os.path.exists(orphan)
    got = [r.v for r in io.read(spark, "t").collect()]
    assert got == [1]
    assert io.snapshots("t") == [0]


def test_read_uncommitted_table_raises(spark, tmp_path):
    io = ParquetManifestIO(str(tmp_path))
    with pytest.raises(FileNotFoundError):
        io.read(spark, "missing")


def test_asof_below_compaction_horizon_raises(spark, tmp_path):
    """Time travel to an id whose state compact() reclaimed must raise a
    clear 'compacted away' error (not a misleading 'no committed
    snapshots'), while asof at-or-above the surviving id keeps working
    and returns the compacted equivalent."""
    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    io.append(_df(spark, [2]), "t")
    io.append(_df(spark, [3]), "t")
    io.compact(spark, "t")
    got = sorted(r.v for r in io.read(spark, "t", asof=2).collect())
    assert got == [1, 2, 3]
    with pytest.raises(ValueError, match="compacted away"):
        io.read(spark, "t", asof=1)


def test_compact_conflicting_append_raises_and_preserves(spark, tmp_path):
    """Optimistic-conflict discipline: a snapshot committed between
    compact()'s fold and its manifest swap must abort the swap
    (ConcurrentWriteError) and leave every committed row readable —
    never silently erase the racing append's snapshot."""
    import contextlib

    from ocr_spark.tableio import ConcurrentWriteError

    io = ParquetManifestIO(str(tmp_path))
    io2 = ParquetManifestIO(str(tmp_path))  # the "concurrent" writer
    io.append(_df(spark, [1]), "t")
    io.append(_df(spark, [2]), "t")

    orig_lock = io._writer_lock
    fired = []

    @contextlib.contextmanager
    def race_then_lock(table, timeout_s=60.0):
        # simulate a writer that wins the lock first: commit snapshot 2
        # after compact's fold read, before its swap takes the lock
        if not fired:
            fired.append(True)
            io2.append(_df(spark, [3]), table)
        with orig_lock(table, timeout_s=timeout_s):
            yield

    io._writer_lock = race_then_lock
    with pytest.raises(ConcurrentWriteError, match="re-run"):
        io.compact(spark, "t", vacuum=True)
    io._writer_lock = orig_lock
    got = sorted(r.v for r in io.read(spark, "t").collect())
    assert got == [1, 2, 3]  # nothing erased, racing append intact
    assert io.snapshots("t") == [0, 1, 2]
    # the store is still compactable once no writer races it
    io.compact(spark, "t", vacuum=True)
    got = sorted(r.v for r in io.read(spark, "t").collect())
    assert got == [1, 2, 3]
    assert io.snapshots("t") == [2]


def test_compact_folds_captured_snapshot_set_not_a_reload(spark, tmp_path):
    """compact() must fold exactly the snapshot set it captured for the
    conflict check — reading via self.read() would RE-load the manifest,
    so an append landing in between gets folded into the output while
    the swap still aborts against the stale `folded` list (a spurious
    ConcurrentWriteError after a wasted full fold job).  Pin: the fold
    never goes through read()."""
    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    io.append(_df(spark, [2]), "t")

    def no_reload(*a, **k):
        raise AssertionError(
            "compact must read the captured snapshot dirs, not re-load "
            "the manifest via read()"
        )

    io.read = no_reload
    io.compact(spark, "t", vacuum=True)
    del io.read  # restore the class method
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]
    assert io.snapshots("t") == [1]


def test_writer_lock_contention_and_crash_release(spark, tmp_path):
    """A HELD flock blocks a second writer until timeout; a lock file
    left behind by a crashed writer carries no flock, so the next writer
    acquires immediately — no staleness heuristic, no steal race (the
    old stat→unlink→recreate steal let two waiters unlink each other's
    fresh lock and both enter the critical section)."""
    import fcntl
    import os as _os
    import time as _time

    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    lock = tmp_path / "t" / ".manifest.lock"

    # contention: flock conflicts between open-file descriptions even
    # within one process — a genuine holder blocks the writer
    fd = _os.open(str(lock), _os.O_CREAT | _os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    with pytest.raises(TimeoutError, match="writer lock"):
        with io._writer_lock("t", timeout_s=0.2):
            pass
    fcntl.flock(fd, fcntl.LOCK_UN)
    _os.close(fd)

    # crashed writer: its leftover lock FILE (no live flock — the kernel
    # released it with the process), however old or new, never blocks
    old = _time.time() - 10_000
    _os.utime(lock, (old, old))
    t0 = _time.monotonic()
    io.append(_df(spark, [2]), "t")
    assert _time.monotonic() - t0 < 30  # no stale-threshold wait
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]
    # the lock file persists by design: unlinking would let a third
    # writer lock a NEW inode at the path while a waiter holds the old
    assert lock.exists()


def test_vacuum_orphans_reclaims_only_aged_unreferenced_dirs(
    spark, tmp_path, backdate_tree
):
    """remove-orphan-files semantics: an unreferenced data directory
    (crashed append / aborted compaction) older than ``min_age_s`` is
    deleted; committed directories and YOUNG unreferenced directories
    (possibly an append in progress — data lands before the manifest
    commit) are untouched."""
    import os as _os
    import time as _time

    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    io.append(_df(spark, [2]), "t")
    old_orphan = tmp_path / "t" / "data" / "s000099-dead0000"
    young_orphan = tmp_path / "t" / "data" / "s000100-cafe0000"
    live_write = tmp_path / "t" / "data" / "s000101-beef0000"
    _df(spark, [888]).write.parquet(str(old_orphan))
    _df(spark, [999]).write.parquet(str(young_orphan))
    past = _time.time() - 10_000
    backdate_tree(old_orphan, past)
    # the in-flight long-write case: Spark stages task files deep under
    # _temporary/, so the TOP-LEVEL dir's mtime goes stale while the
    # write is still live — age must be the tree-wide newest mtime
    staging = live_write / "_temporary" / "0" / "attempt_0"
    staging.mkdir(parents=True)
    (staging / "part-00000.parquet").write_bytes(b"in-flight")
    _os.utime(live_write, (past, past))

    deleted = io.vacuum_orphans("t", min_age_s=3600.0)
    assert deleted == ["data/s000099-dead0000"]
    assert not old_orphan.exists()
    assert young_orphan.exists()  # may be an in-flight append
    assert live_write.exists()  # live write: fresh file deep in the tree
    import shutil as _shutil
    _shutil.rmtree(live_write)
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]

    # min_age_s=0 reclaims the young one too; committed data still reads
    assert io.vacuum_orphans("t", min_age_s=0.0) == [
        "data/s000100-cafe0000"
    ]
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 2]
    assert io.vacuum_orphans("t", min_age_s=0.0) == []  # idempotent


def test_vacuum_orphans_spares_dir_committed_after_listing(
    spark, tmp_path, backdate_tree
):
    """The committed-data-loss race the two-phase protocol closes: a
    directory unreferenced at LISTING time but committed (manifest swap)
    while the vacuum walks other candidates must be re-seen by the
    lock-held re-validation and spared — age alone cannot protect it
    once the walk time exceeds min_age_s."""
    import contextlib
    import time as _time

    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    # the racing append's data dir: written (and aged well past any
    # min_age_s) but not yet committed when the vacuum lists candidates
    racing = tmp_path / "t" / "data" / "s000050-feed0000"
    _df(spark, [50]).write.parquet(str(racing))
    backdate_tree(racing, _time.time() - 10_000)

    orig_lock = io._writer_lock
    locks = []

    @contextlib.contextmanager
    def commit_between_phases(table, timeout_s=60.0):
        # 1st acquisition = candidate listing; before the 2nd (the
        # re-validation), the racing append commits its manifest swap
        locks.append(True)
        if len(locks) == 2:
            import json as _json
            mpath = tmp_path / "t" / "manifest.json"
            m = _json.loads(mpath.read_text())
            m["snapshots"].append(
                {"id": 50, "dir": "data/s000050-feed0000"}
            )
            mpath.write_text(_json.dumps(m))
        with orig_lock(table, timeout_s=timeout_s):
            yield

    io._writer_lock = commit_between_phases
    deleted = io.vacuum_orphans("t", min_age_s=0.0)
    io._writer_lock = orig_lock
    assert deleted == []  # spared: committed between listing and delete
    assert racing.exists()
    assert sorted(r.v for r in io.read(spark, "t").collect()) == [1, 50]


def test_append_aborts_if_orphan_vacuum_reclaimed_its_dir(
    spark, tmp_path
):
    """The other side of the protocol: an append whose data dir an
    orphan vacuum (min_age_s=0) reclaimed while it waited for the lock
    must fail loudly instead of committing a dangling manifest
    reference every later read would trip on."""
    import contextlib

    from ocr_spark.tableio import ConcurrentWriteError

    io = ParquetManifestIO(str(tmp_path))
    io2 = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")

    orig_lock = io._writer_lock
    fired = []

    @contextlib.contextmanager
    def vacuum_then_lock(table, timeout_s=60.0):
        # an aggressive vacuum runs between the append's data write and
        # its manifest swap; min_age_s=0 waives the in-flight guard
        if not fired:
            fired.append(True)
            io2.vacuum_orphans(table, min_age_s=0.0)
        with orig_lock(table, timeout_s=timeout_s):
            yield

    io._writer_lock = vacuum_then_lock
    with pytest.raises(ConcurrentWriteError, match="re-run the append"):
        io.append(_df(spark, [2]), "t")
    io._writer_lock = orig_lock
    # nothing committed, nothing dangling: the store still reads clean
    assert io.snapshots("t") == [0]
    assert [r.v for r in io.read(spark, "t").collect()] == [1]


def test_append_aborts_when_vacuumed_dir_was_recreated_by_retries(
    spark, tmp_path
):
    """The subtle variant the tombstone closes: the vacuum reclaims the
    append's dir MID-write, then committer task retries recreate the
    path, so at commit time the dir EXISTS but holds only the
    post-vacuum tasks' files.  An existence check alone would commit the
    partial snapshot; the tombstone records the reclaim and aborts."""
    import contextlib
    import os as _os

    from ocr_spark.tableio import ConcurrentWriteError

    io = ParquetManifestIO(str(tmp_path))
    io2 = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    data_root = tmp_path / "t" / "data"

    orig_lock = io._writer_lock
    fired = []

    @contextlib.contextmanager
    def vacuum_then_recreate(table, timeout_s=60.0):
        if not fired:
            fired.append(True)
            io2.vacuum_orphans(table, min_age_s=0.0)
            # the tombstone names the reclaimed dir; "task retries"
            # recreate that exact path with partial content
            tombs = [
                n for n in _os.listdir(data_root)
                if n.endswith(".tombstone")
            ]
            assert len(tombs) == 1
            recreated = data_root / tombs[0][: -len(".tombstone")]
            _df(spark, [999]).write.parquet(str(recreated))
        with orig_lock(table, timeout_s=timeout_s):
            yield

    io._writer_lock = vacuum_then_recreate
    with pytest.raises(ConcurrentWriteError, match="recreated"):
        io.append(_df(spark, [2]), "t")
    io._writer_lock = orig_lock
    # the tombstone was consumed by the aborted commit; nothing dangling
    assert not any(
        n.endswith(".tombstone") for n in os.listdir(data_root)
    )
    assert io.snapshots("t") == [0]
    assert [r.v for r in io.read(spark, "t").collect()] == [1]
    # the recreated partial dir is an ordinary orphan: reclaimable
    deleted = io.vacuum_orphans("t", min_age_s=0.0)
    assert len(deleted) == 1
    assert [r.v for r in io.read(spark, "t").collect()] == [1]


def test_tombstone_reclaim_requires_quiescence_opt_in(spark, tmp_path):
    """vacuum_orphans must NEVER remove tombstones — even aged,
    dir-gone ones: a writer stalled through two sweep windows would
    otherwise see its marker swept, its dir recreated by task retries,
    and a PARTIAL directory committed.  Reclaim is vacuum_expired's
    job (operator-asserted quiescence), and even there a marker whose
    dir is PRESENT stays (it still guards a recreated partial dir)."""
    import os as _os
    import time as _time

    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    data_root = tmp_path / "t" / "data"
    old_tomb = data_root / "s000033-dead0000.tombstone"
    new_tomb = data_root / "s000034-cafe0000.tombstone"
    guarded_tomb = data_root / "s000035-beef0000.tombstone"
    old_tomb.write_bytes(b"")
    new_tomb.write_bytes(b"")
    guarded_tomb.write_bytes(b"")
    (data_root / "s000035-beef0000").mkdir()  # "recreated" partial dir
    past = _time.time() - 10_000
    _os.utime(old_tomb, (past, past))

    io.vacuum_orphans("t", min_age_s=3600.0)
    assert old_tomb.exists() and new_tomb.exists()  # orphans spares ALL

    reclaimed = io.vacuum_expired("t")
    assert not old_tomb.exists() and not new_tomb.exists()
    assert guarded_tomb.exists()  # dir present ⇒ marker stays
    assert "data/s000033-dead0000.tombstone" in reclaimed
    assert [r.v for r in io.read(spark, "t").collect()] == [1]


def test_failed_reclaim_spares_another_vacuums_tombstone(
    spark, tmp_path, backdate_tree, monkeypatch
):
    """Concurrent-vacuum marker safety: when the rename-aside fails
    (the dir vanished under us — typically a concurrent vacuum got
    there first), the failure cleanup must only remove a tombstone
    THIS attempt created.  A pre-existing tombstone belongs to the
    vacuum that actually renamed the dir aside; unlinking it would let
    the original writer's task retries recreate the path and commit a
    silently partial directory."""
    import os as _os
    import time as _time

    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    data_root = tmp_path / "t" / "data"
    orphan = data_root / "s000055-dead0000"
    _df(spark, [7]).write.parquet(str(orphan))
    backdate_tree(orphan, _time.time() - 10_000)
    foreign_tomb = data_root / "s000055-dead0000.tombstone"
    foreign_tomb.write_bytes(b"")  # another vacuum's live marker

    real_rename = os.rename

    def failing_rename(src, dst, *a, **kw):
        if src == str(orphan):
            raise OSError("simulated: dir vanished before rename")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", failing_rename)
    assert io.vacuum_orphans("t", min_age_s=3600.0) == []
    assert foreign_tomb.exists()  # NOT ours to unlink

    # complementary case: no pre-existing marker — the tombstone this
    # attempt created is cleaned up on the same failure
    foreign_tomb.unlink()
    assert io.vacuum_orphans("t", min_age_s=3600.0) == []
    assert not foreign_tomb.exists()
    monkeypatch.undo()

    # and with the failure gone, the reclaim completes normally — here
    # with an AGED pre-existing marker (a prior vacuum created it, then
    # crashed): the reclaim must refresh the reused marker's mtime, or
    # the very next stale sweep (aged + dir now gone) would unlink it
    # before the writer's min_age_s grace window ever started
    foreign_tomb.write_bytes(b"")
    _os.utime(foreign_tomb, (_time.time() - 10_000,) * 2)
    assert io.vacuum_orphans("t", min_age_s=3600.0) == [
        "data/s000055-dead0000"
    ]
    assert not orphan.exists()
    assert foreign_tomb.exists()
    assert _os.path.getmtime(foreign_tomb) > _time.time() - 600
    assert [r.v for r in io.read(spark, "t").collect()] == [1]


def test_vacuum_orphans_reclaims_crash_leaked_tmp_manifests(
    spark, tmp_path
):
    """A writer crashing between mkstemp and os.replace leaks a
    tmp*.manifest in the table dir; no snapshot ever references it, so
    vacuum_orphans reclaims it (under the lock — a live writer's
    mkstemp→replace runs entirely inside its lock section)."""
    io = ParquetManifestIO(str(tmp_path))
    io.append(_df(spark, [1]), "t")
    leaked = tmp_path / "t" / "tmpdeadbeef.manifest"
    leaked.write_text("{}")
    deleted = io.vacuum_orphans("t", min_age_s=3600.0)
    assert deleted == ["tmpdeadbeef.manifest"]
    assert not leaked.exists()
    # the real manifest is untouched and the table still reads
    assert [r.v for r in io.read(spark, "t").collect()] == [1]


def test_json_ingest_quarantines_corrupt_records(spark, tmp_path):
    """S3 ingest robustness: PERMISSIVE JSON reads surface malformed rows
    in the corrupt-record column instead of failing the whole job (the
    quarantine pattern a 100 TB ingest needs — one bad producer must not
    kill the run), while FAILFAST raises for strict pipelines.

    Gotcha pinned here: since Spark 2.3 a query may not reference ONLY
    the corrupt-record column of a raw JSON scan — cache the parsed
    frame first."""
    from pyspark.sql import functions as F

    p = tmp_path / "events.jsonl"
    p.write_text("\n".join([
        '{"user_id": 1, "value": 2.0}',
        '{"user_id": 2, "value": }',
        "not json at all",
        '{"user_id": 3, "value": 4.5}',
    ]))
    schema = "user_id bigint, value double, _corrupt string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(str(p))
        .cache()
    )
    try:
        good = df.filter(F.col("_corrupt").isNull())
        bad = df.filter(F.col("_corrupt").isNotNull())
        assert {r.user_id for r in good.collect()} == {1, 3}
        assert bad.count() == 2

        with pytest.raises(Exception, match="[Mm]alformed"):
            (
                spark.read.schema("user_id bigint, value double")
                .option("mode", "FAILFAST")
                .json(str(p))
                .collect()
            )
    finally:
        df.unpersist()
