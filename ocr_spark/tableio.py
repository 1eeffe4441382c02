"""Table I/O seam: Iceberg-style snapshot semantics in the sandbox.

Production targets an Iceberg catalog (`spark.read.table` /
`df.writeTo(...).append()` — :class:`IcebergIO`, config-gated since no
Iceberg jar ships here).  The sandbox backend,
:class:`ParquetManifestIO`, emulates the properties the pipeline relies
on with plain parquet plus an atomically-replaced JSON manifest:

- **snapshot isolation**: readers list data directories through the
  manifest only — a crash mid-write leaves an orphan directory that no
  reader ever sees;
- **atomic append**: data lands in a fresh ``data/s<NNN>`` directory first,
  then the manifest is swapped via ``os.replace`` (atomic on POSIX);
- **time travel**: every append records a snapshot; ``read(asof=N)``
  reconstructs the table as of snapshot N.

This is the S4 sink seam (SURVEY.md §2.1): `lineage.run_resumable` writes
through plain partitioned parquet for bucket-overwrite semantics, while
this module provides the append/snapshot flavor for derived tables
(extraction outputs, dedup verdicts, lineage archives).
"""

from __future__ import annotations

import contextlib
import json
import os
import secrets
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "manifest.json"
_LOCK = ".manifest.lock"


class ConcurrentWriteError(RuntimeError):
    """A snapshot was committed between a compaction's fold and its
    manifest swap; the store was left untouched."""


class DuplicateTagError(RuntimeError):
    """An append carried a ``tag`` the manifest already records — the
    tagged commit already happened (e.g. a foreachBatch replay of an
    already-committed micro-batch).  The caller treats this as success:
    nothing was written twice."""


class ParquetManifestIO:
    """Snapshot-append table over a directory tree."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, _MANIFEST)

    def _load(self, table: str) -> dict:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return {"snapshots": []}
        with open(path) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        """Durably swap the manifest: write a temp file, FSYNC it,
        os.replace, then fsync the directory.  rename-without-fsync is
        the classic crash hole — after a power loss the replaced
        manifest.json can come back empty or truncated (the rename
        metadata made it to disk before the data pages), bricking every
        later ``_load`` with a JSONDecodeError.  Call under the writer
        lock."""
        table_dir = os.path.join(self.root, table)
        fd, tmp = tempfile.mkstemp(dir=table_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path(table))  # atomic commit
        dfd = os.open(table_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    @contextlib.contextmanager
    def _writer_lock(self, table: str, timeout_s: float = 60.0):
        """Mutual exclusion for manifest READ-MODIFY-SWAP sections.

        ``os.replace`` makes each individual swap atomic, but two
        concurrent read-modify-swap sequences can still lose an update
        (both load the same manifest; the second swap erases the first's
        snapshot).  Real Iceberg serializes commits with a catalog CAS;
        this sandbox backend serializes them with a kernel ``flock`` on a
        persistent lock file, held only around the load→swap section —
        never during the Spark data write, so contention is sub-second.

        ``flock`` rather than an ``O_CREAT|O_EXCL`` + stale-steal file
        lock: the kernel releases a crashed holder's lock with its
        process, so there is no staleness concept to misjudge — and the
        steal itself (stat, then unlink, then recreate) is a TOCTOU race
        in which two waiters can each unlink the other's fresh lock and
        both enter the critical section, losing a committed snapshot.
        The lock file is never unlinked (unlinking would let a third
        writer lock a NEW inode at the same path while a waiter still
        holds the old one).  Advisory, but every writer goes through
        here; local-POSIX scope is this backend's contract — production
        concurrency is the Iceberg catalog's CAS."""
        import fcntl

        table_dir = os.path.join(self.root, table)
        os.makedirs(table_dir, exist_ok=True)
        lock = os.path.join(table_dir, _LOCK)
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            deadline = time.monotonic() + timeout_s
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"could not acquire writer lock {lock!r} "
                            f"within {timeout_s}s; another writer holds it"
                        )
                    time.sleep(0.05)
            try:
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    def _check_commitable(self, table: str, data_dir: str, rel_dir: str,
                          op: str) -> None:
        """Pre-commit guard (call under the writer lock): the data dir
        must still exist AND must never have been vacuumed.  A tombstone
        (left by :meth:`vacuum_orphans` before it renames a dir aside)
        marks a reclaimed dir even when Spark committer retries
        recreated the path with a partial file set; consume it and
        abort the commit."""
        tomb = data_dir + ".tombstone"
        vacuumed = os.path.exists(tomb)
        if vacuumed:
            with contextlib.suppress(OSError):
                os.unlink(tomb)
        if vacuumed or not os.path.isdir(data_dir):
            what = (
                "vacuumed (possibly partially recreated by task retries)"
                if vacuumed else "removed"
            )
            raise ConcurrentWriteError(
                f"table {table!r}: data dir {rel_dir!r} was {what} "
                "before commit (orphan vacuum with too-small "
                f"min_age_s?); nothing committed — re-run the {op}"
            )

    def _resolve(self, table: str, d: str) -> str:
        """Manifest data paths are RELATIVE to the table dir:
        a store copied or moved wholesale keeps working — with absolute
        paths a forked store silently read (and vacuumed!) the
        original's data directories.  Absolute entries from older
        manifests still resolve as written."""
        if os.path.isabs(d):
            return d
        return os.path.join(self.root, table, d)

    def append(self, df: DataFrame, table: str,
               tag: str | None = None) -> int:
        """Write ``df`` as a new snapshot; returns the snapshot id.

        Data first, manifest second: the write is invisible until the
        atomic manifest swap commits it.  Ids are max+1, not
        len(snapshots): after a :meth:`compact` the manifest holds one
        snapshot carrying the pre-compaction max id, and the next append
        must keep ids monotone (a len-based id would collide with
        history and break ``read(asof=...)`` ordering).

        ``tag`` makes the append an IDEMPOTENCE primitive: the manifest
        records each tag exactly once, and a second append carrying an
        already-recorded tag raises :class:`DuplicateTagError` *under
        the writer lock* (no check-then-act race) without committing
        anything.  This is how a streaming ``foreachBatch`` replay of an
        already-committed micro-batch is detected exactly-once — the
        same role Iceberg's WAP/branch commit or a Delta txn appId/
        version plays.  Tags live in the manifest's commit log, not in
        the data: :meth:`compact` preserves them, so a replay arriving
        after store maintenance is still refused."""
        # Provisional id for the directory NAME only (cosmetic); the real
        # id is recomputed under the writer lock, where the manifest
        # cannot change underneath us.  Unique suffix: an orphan from a
        # crashed append must never collide with the retry (a
        # deterministic s<N> path would fail errorifexists forever and
        # brick the table).
        pre_manifest = self._load(table)
        if tag is not None and tag in pre_manifest.get("tags", {}):
            # cheap pre-write refusal (saves the Spark write); the
            # authoritative race-free check repeats under the lock below
            raise DuplicateTagError(
                f"table {table!r}: tag {tag!r} already committed as "
                f"snapshot {pre_manifest['tags'][tag]}"
            )
        prov_id = (
            max((s["id"] for s in pre_manifest["snapshots"]), default=-1)
            + 1
        )
        rel_dir = f"data/s{prov_id:06d}-{secrets.token_hex(4)}"
        data_dir = os.path.join(self.root, table, rel_dir)
        df.write.mode("errorifexists").parquet(data_dir)

        with self._writer_lock(table):
            # The manifest must never reference a vacuumed directory: an
            # orphan vacuum with a too-small ``min_age_s`` may have
            # reclaimed the dir while this append waited for the lock
            # (the vacuum re-validates membership under the lock, but
            # this dir was not yet referenced).  Fail loudly here rather
            # than commit a dangling reference every later read trips
            # on.  The tombstone check closes the subtler variant: if
            # the vacuum struck MID-write, committer task retries can
            # RECREATE the directory (setupTask mkdirs) and finish with
            # only the post-vacuum tasks' files — the dir exists but is
            # silently partial, which only the vacuum's tombstone
            # records.
            self._check_commitable(table, data_dir, rel_dir, "append")
            manifest = self._load(table)
            if tag is not None and tag in manifest.get("tags", {}):
                raise DuplicateTagError(
                    f"table {table!r}: tag {tag!r} was committed as "
                    f"snapshot {manifest['tags'][tag]} while this append "
                    "wrote its data (concurrent replay); nothing "
                    "committed — the orphan dir awaits vacuum_orphans"
                )
            snap_id = (
                max((s["id"] for s in manifest["snapshots"]), default=-1)
                + 1
            )
            manifest["snapshots"].append({"id": snap_id, "dir": rel_dir})
            if tag is not None:
                manifest.setdefault("tags", {})[tag] = snap_id
            self._commit_manifest(table, manifest)
        return snap_id

    def exists(self, table: str) -> bool:
        """Whether ``table`` has committed: the one store-existence check
        callers use before a :meth:`read` (which raises on a table with
        no snapshots).  A manifest is only ever written by a commit that
        leaves at least one snapshot in it, so its presence is the test
        — a hand-made empty manifest therefore counts as an existing
        table, which keeps layout probes (e.g. a legacy table name)
        seeing it."""
        return os.path.exists(self._manifest_path(table))

    def tags(self, table: str) -> dict[str, int]:
        """Committed tag → snapshot id.  Snapshot ids below a compaction
        horizon are no longer readable via ``asof``, but their tags
        remain — a tag answers "did this commit happen", not "what data
        did it carry"."""
        return dict(self._load(table).get("tags", {}))

    def read(self, spark: SparkSession, table: str,
             asof: int | None = None) -> DataFrame:
        """Union of all committed snapshots (≤ ``asof`` when given).

        Time travel to an id below the compaction horizon (every
        surviving snapshot id > ``asof``) raises — the pre-compaction
        states were the storage :meth:`compact` reclaimed."""
        all_snaps = self._load(table)["snapshots"]
        snaps = all_snaps
        if asof is not None:
            snaps = [s for s in all_snaps if s["id"] <= asof]
            if not snaps and all_snaps:
                raise ValueError(
                    f"table {table!r}: snapshots <= {asof} were compacted "
                    f"away (oldest surviving id: "
                    f"{min(s['id'] for s in all_snaps)})"
                )
        if not snaps:
            raise FileNotFoundError(
                f"table {table!r} has no committed snapshots"
            )
        return spark.read.parquet(
            *[self._resolve(table, s["dir"]) for s in snaps]
        )

    def snapshots(self, table: str) -> list[int]:
        return [s["id"] for s in self._load(table)["snapshots"]]

    def compact(self, spark: SparkSession, table: str,
                transform=None, vacuum: bool = False) -> int:
        """Fold every committed snapshot into ONE, optionally applying
        ``transform`` (a DataFrame → DataFrame fold, e.g. sum-by-key for
        an accretive frequency store) — the maintenance operation that
        keeps an incremental store's snapshot count (and its read-side
        union/re-aggregation cost) from growing one entry per ingest run
        forever.

        Same commit discipline as :meth:`append`: compacted data lands
        in a fresh directory first, then the manifest is atomically
        swapped to a SINGLE snapshot carrying the pre-compaction max id
        (so later appends stay monotone and a reader that raced the swap
        saw either the full old history or the compacted form — both
        reconstruct the same table).  Time travel BELOW the surviving id
        is intentionally discarded — that is the storage being reclaimed;
        ``read(asof=<id below the horizon>)`` raises, while
        ``read(asof=<surviving id or later>)`` returns the compacted
        equivalent.  ``vacuum=True`` deletes the old data directories
        after the swap (only safe when no concurrent reader can still
        hold the old manifest — the same contract as Iceberg's
        expire-snapshots).

        Concurrency: the fold reads the manifest WITHOUT the writer lock
        (it runs a Spark job), so a concurrent append may commit while
        the fold runs.  The swap re-loads the manifest under the lock
        and, if the snapshot set is no longer exactly the one folded,
        raises :class:`ConcurrentWriteError` and leaves the store
        untouched (the compacted directory stays an unreferenced orphan)
        — the same optimistic-conflict discipline as an Iceberg commit;
        re-run the compaction.  Returns the surviving snapshot id.

        Without ``vacuum``, the pre-compaction directories are recorded
        in the manifest's ``expired`` list rather than simply dropped:
        they are awaiting an explicit :meth:`vacuum_expired` (once no
        reader can still hold the old manifest), and the record keeps
        :meth:`vacuum_orphans` — whose job is CRASH leavings only — from
        conflating them with orphans and deleting them out from under a
        long-running reader."""
        import shutil

        manifest = self._load(table)
        if not manifest["snapshots"]:
            raise FileNotFoundError(
                f"table {table!r} has no committed snapshots"
            )
        folded = [(s["id"], s["dir"]) for s in manifest["snapshots"]]
        keep_id = max(s["id"] for s in manifest["snapshots"])
        old_rel = [s["dir"] for s in manifest["snapshots"]]
        # Read the CAPTURED snapshot dirs directly — self.read() would
        # re-load the manifest, so an append landing between the load
        # above and the read would be folded into the output while the
        # conflict check below still compares against `folded` and
        # aborts: a spurious ConcurrentWriteError after a wasted full
        # fold job.  Reading `folded`'s dirs keeps the fold and the
        # check on the same snapshot set (a real concurrent append still
        # aborts the swap, as it must).
        df = spark.read.parquet(
            *[self._resolve(table, d) for _, d in folded]
        )
        if transform is not None:
            df = transform(df)
        rel_dir = f"data/c{keep_id:06d}-{secrets.token_hex(4)}"
        data_dir = os.path.join(self.root, table, rel_dir)
        df.write.mode("errorifexists").parquet(data_dir)

        with self._writer_lock(table):
            # same guard as append (incl. the tombstone check)
            self._check_commitable(table, data_dir, rel_dir, "compaction")
            current_manifest = self._load(table)
            current = [
                (s["id"], s["dir"])
                for s in current_manifest["snapshots"]
            ]
            if current != folded:
                raise ConcurrentWriteError(
                    f"table {table!r}: snapshots changed during "
                    f"compaction (folded {[i for i, _ in folded]}, now "
                    f"{[i for i, _ in current]}); store untouched — "
                    "re-run the compaction"
                )
            prior_expired = current_manifest.get("expired", [])
            new_manifest = {
                "snapshots": [{"id": keep_id, "dir": rel_dir}],
                # vacuum=True reclaims prior expired dirs below too;
                # otherwise the fold's old dirs join the expired queue
                "expired": [] if vacuum else prior_expired + old_rel,
                # tags are commit-log facts, not data: a replay guard
                # (append with an already-seen tag) must keep refusing
                # after maintenance folds the data away
                "tags": current_manifest.get("tags", {}),
            }
            self._commit_manifest(table, new_manifest)
        if vacuum:
            for d in old_rel + prior_expired:
                shutil.rmtree(self._resolve(table, d), ignore_errors=True)
        return keep_id

    def vacuum_expired(self, table: str) -> list[str]:
        """Delete the directories a previous ``compact(vacuum=False)``
        expired — call once no reader can still hold a pre-compaction
        manifest (Iceberg's expire-snapshots file cleanup, decoupled
        from the compaction commit).  Returns the deleted entries.

        Also reclaims orphaned tombstone markers whose data dir is gone:
        this op's contract is operator-asserted QUIESCENCE (no writers
        in flight), which is exactly the condition under which removing
        a tombstone is safe — ``vacuum_orphans`` deliberately never
        touches them, because an age heuristic cannot distinguish a
        dead writer from one stalled through two sweep windows (see the
        note there)."""
        import shutil

        with self._writer_lock(table):
            manifest = self._load(table)
            expired = manifest.get("expired", [])
            manifest["expired"] = []
            if expired:
                self._commit_manifest(table, manifest)
            data_root = os.path.join(self.root, table, "data")
            reclaimed: list[str] = []
            if os.path.isdir(data_root):
                for name in sorted(os.listdir(data_root)):
                    if not name.endswith(".tombstone"):
                        continue
                    full = os.path.join(data_root, name)
                    # dir PRESENT ⇒ the marker still guards a vacuumed-
                    # then-recreated partial dir; it leaves only with it
                    if not os.path.isdir(full[: -len(".tombstone")]):
                        with contextlib.suppress(OSError):
                            os.unlink(full)
                            reclaimed.append(f"data/{name}")
        # deletions need no lock: these dirs left the manifest above and
        # nothing ever re-registers an existing directory
        for d in expired:
            shutil.rmtree(self._resolve(table, d), ignore_errors=True)
        return expired + reclaimed

    def vacuum_orphans(self, table: str,
                       min_age_s: float = 3600.0) -> list[str]:
        """Delete data directories the current manifest does not
        reference — the leavings of crashed appends (data written, lock
        or manifest swap never reached) and :class:`ConcurrentWriteError`
        -aborted compactions — Iceberg's remove-orphan-files for this
        backend.  Directories a ``compact`` EXPIRED rather than vacuumed
        are spared — they are tracked history a late reader may still be
        scanning, reclaimable only through the explicit
        :meth:`vacuum_expired` opt-in.  The mtime walks and the deletes
        themselves run OUTSIDE the lock (they can take minutes on
        multi-GB crash leavings, and a blocked append times out at 60 s).

        Committed data is never touched, even racing an in-flight
        append, via a two-sided protocol: (1) each aged candidate is
        re-validated against a FRESH manifest under the writer lock,
        marked with a ``.tombstone`` file, and atomically renamed aside
        before the (lock-free) delete — so a dir committed after the
        initial listing is re-seen and spared; (2) :meth:`append`/
        :meth:`compact` verify under the same lock that their data dir
        still exists AND carries no tombstone before swapping the
        manifest — so a dir this vacuum reclaimed during the writer's
        data write can never be committed, neither as a dangling
        reference nor as a silently PARTIAL directory when Spark
        committer task retries recreated the path after the reclaim
        (the writer fails loudly instead; only possible when
        ``min_age_s`` undercuts the write's duration).  Tombstone
        markers are never reclaimed here — only :meth:`vacuum_expired`
        (operator-asserted quiescence) removes them: no age heuristic
        can distinguish a dead writer from one stalled through two
        sweep windows, and a swept marker would let that writer commit
        a partial, task-retry-recreated directory.

        ``min_age_s`` guards the benign case: an in-flight
        :meth:`append` writes its data directory BEFORE taking the lock,
        so a young unreferenced directory is usually a commit in
        progress — sparing it avoids aborting that append.  Age is
        measured against a timestamp captured at listing time (walking
        earlier multi-GB candidates must not age later ones into
        eligibility), and is the NEWEST mtime anywhere under the
        directory, not the top-level dir's own: Spark's committer stages
        task files deep under ``_temporary/``, so a multi-hour write
        leaves the top-level mtime stale minutes in while the tree
        underneath keeps refreshing.  The walk stops at the FIRST young
        file — a live staging tree is spared in O(1), not O(files).
        Same contract as Iceberg's ``older_than``.  Returns the deleted
        paths relative to the table dir (including any crash-leaked
        ``tmp*.manifest`` files, which are reclaimed under the listing
        lock — a writer's mkstemp→replace runs entirely inside the lock,
        so any tmp manifest visible while we hold it is orphaned)."""
        import shutil

        candidates: list[str] = []
        deleted: list[str] = []
        table_dir = os.path.join(self.root, table)
        with self._writer_lock(table):
            now = time.time()  # listing-time clock: ages are vs THIS
            manifest = self._load(table)
            protected = {
                os.path.realpath(self._resolve(table, d))
                for d in (
                    [s["dir"] for s in manifest["snapshots"]]
                    + manifest.get("expired", [])
                )
            }
            data_root = os.path.join(table_dir, "data")
            if os.path.isdir(data_root):
                candidates = [
                    d for name in sorted(os.listdir(data_root))
                    if os.path.isdir(d := os.path.join(data_root, name))
                    and os.path.realpath(d) not in protected
                ]
                # Tombstones are NEVER auto-reclaimed here:
                # "aged + dir gone" does not prove the tombstoned
                # writer is dead — a write stalled through TWO
                # consecutive >min_age_s windows could see its
                # tombstone swept, its dir recreated by committer task
                # retries, and _check_commitable then commit a PARTIAL
                # directory with the marker gone.  The markers are
                # bytes-sized and bounded by crash count; reclaim goes
                # through vacuum_expired, whose contract is operator-
                # asserted quiescence.
            for name in sorted(os.listdir(table_dir)):
                if name.startswith("tmp") and name.endswith(".manifest"):
                    with contextlib.suppress(OSError):
                        os.unlink(os.path.join(table_dir, name))
                        deleted.append(name)
        fresh_after = now - min_age_s  # any mtime past this ⇒ spare
        for d in candidates:
            try:
                spare = os.path.getmtime(d) > fresh_after
                if not spare:
                    for sub, _dirs, files in os.walk(d):
                        if os.path.getmtime(sub) > fresh_after or any(
                            os.path.getmtime(os.path.join(sub, f))
                            > fresh_after
                            for f in files
                        ):
                            spare = True
                            break
            except OSError:
                continue  # deleted/racing: nothing to reclaim
            if spare:
                continue
            # Re-validate + rename aside under the lock (cheap, atomic);
            # the expensive recursive delete happens on the renamed path
            # outside it.  Unique suffix: a crash between rename and
            # rmtree leaves a dir the next vacuum reclaims as an orphan.
            # The tombstone (created BEFORE the rename) is what lets an
            # in-flight writer discover its dir was reclaimed even when
            # Spark committer task retries recreate the path afterwards
            # — the writer's pre-commit guard consumes it and aborts
            # rather than commit a partial directory.
            trash = f"{d}.vacuum-{secrets.token_hex(4)}"
            tomb = d + ".tombstone"
            with self._writer_lock(table):
                m2 = self._load(table)
                referenced = {
                    os.path.realpath(self._resolve(table, p))
                    for p in (
                        [s["dir"] for s in m2["snapshots"]]
                        + m2.get("expired", [])
                    )
                }
                if os.path.realpath(d) in referenced:
                    continue  # committed while we walked: spare it
                # O_EXCL so a CONCURRENT vacuum's live tombstone is
                # recognized: the failure path below must only unlink a
                # tombstone THIS attempt created — removing another
                # vacuum's marker after it renamed the dir aside would
                # let a returning writer's task retries recreate the
                # path and commit a silently partial directory.
                tomb_mine = False
                try:
                    os.close(os.open(
                        tomb, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                    tomb_mine = True
                except FileExistsError:
                    # another vacuum marked it; reuse the marker — but
                    # refresh its mtime: it carries the CRASHED attempt's
                    # creation time, and once this attempt renames the
                    # dir aside an already-aged marker would satisfy the
                    # stale sweep (aged + dir gone) immediately, removing
                    # the writer's partial-commit guard before its
                    # min_age_s grace window ever started.
                    try:
                        os.utime(tomb, None)
                    except OSError:
                        continue  # cannot refresh ⇒ must not reclaim
                except OSError:
                    continue  # cannot mark ⇒ must not reclaim
                try:
                    os.rename(d, trash)
                except OSError:
                    if tomb_mine:
                        with contextlib.suppress(OSError):
                            os.unlink(tomb)
                    continue  # vanished/racing: nothing to reclaim
            shutil.rmtree(trash, ignore_errors=True)
            deleted.append(f"data/{os.path.basename(d)}")
        return deleted


class IcebergIO:  # pragma: no cover - needs an Iceberg catalog
    """Production backend: ``append``/``read`` against a real catalog
    (configure ``spark.sql.catalog.<name>`` with the Iceberg jar).

    The TAGGED exactly-once protocol (``tags()`` / ``exists()`` /
    ``append(tag=)``, which ingest.py's commit path depends on) is
    implemented on the parquet-manifest backend only: the Iceberg
    mapping is a WAP commit plus ``ALTER TABLE … CREATE TAG`` in one
    transaction, and shipping that untestable (no catalog or jar exists
    in this sandbox) would be a claim, not an implementation — these
    members raise ``NotImplementedError`` naming the gap rather than
    letting an AttributeError or a silently dropped tag masquerade as
    support."""

    _TAG_GAP = (
        "the tagged (exactly-once) ingest protocol is parquet-manifest-"
        "only for now; the Iceberg mapping is WAP + CREATE TAG in one "
        "transaction and needs a real catalog to implement and test "
        "against"
    )

    def __init__(self, catalog: str = "docs") -> None:
        self.catalog = catalog

    def append(self, df: DataFrame, table: str,
               tag: str | None = None) -> int:
        if tag is not None:
            raise NotImplementedError(self._TAG_GAP)
        df.writeTo(f"{self.catalog}.{table}").append()
        return -1  # snapshot id available via the catalog's metadata tables

    def tags(self, table: str) -> dict[str, int]:
        raise NotImplementedError(self._TAG_GAP)

    def exists(self, table: str) -> bool:
        raise NotImplementedError(self._TAG_GAP)

    def read(self, spark: SparkSession, table: str,
             asof: int | None = None) -> DataFrame:
        if asof is not None:
            return spark.read.option("snapshot-id", asof).table(
                f"{self.catalog}.{table}"
            )
        return spark.read.table(f"{self.catalog}.{table}")
