"""Sharded, pruning-friendly corpus output sink.

The curation pipeline's last step is the one the reference never
needed: landing a filtered/deduped corpus as files a *training* job
will re-read thousands of times. At 100 TB the output layout decides
the read cost, and four properties matter:

* **Directory partitioning** on low-cardinality selector columns
  (``lang``, ``source``): a training run that wants one slice must
  prune at the PartitionFilters level, never scan-and-discard.
* **Bounded file sizes** via Spark's native ``maxRecordsPerFile``
  split: loaders schedule per file, so a skewed 40 GB straggler file
  serializes the epoch tail. Row count is the proxy that is exact and
  free; byte-targeting would need a sampling pass for ~the same
  outcome.
* **Sorted-within-file rows** on the read key (``doc_id``): parquet
  row-group min/max stats make point/range lookups skip, and a
  deterministic within-file order is what makes training-data loading
  reproducible (fixed seed -> fixed batch composition).
* **One open writer per task**: each task's rows are sorted by the
  partition columns FIRST, so it writes its output directories
  sequentially instead of holding every directory's file handle open —
  the classic executor-OOM on wide ``partitionBy`` writes.

Sharding is content-derived (``xxhash64`` of the shard key, modulo the
shard count), not task-derived: re-running the sink on the same rows
re-creates the same shard membership whatever the upstream
partitioning did (tests/test_layout_invariance.py is the engine-wide
statement of that principle; the determinism test here is its
sink-side twin). Per-FILE determinism additionally needs a total
within-shard row order, so the shard key is always appended to the
sort — with a unique shard key (the normal case) the maxRecordsPerFile
split boundaries are then content-determined too.

Partition-VALUE round-tripping is contractual, with one documented
normalization: Hive directory encoding cannot distinguish an empty
string from NULL (both land in ``__HIVE_DEFAULT_PARTITION__``), so the
sink normalizes ``''`` to NULL at write for string partition columns
— explicitly, on both engines' side of any oracle, rather than as a
silent read-back surprise. Partition-column TYPES round-trip via a
``_corpus_manifest.json`` written next to the data: the reader casts
each partition column back to its written DDL type, so a lang of
``'7'`` stays a string instead of being re-typed by Spark's default
partition-column inference (which is a session-global conf the engine
must not flip).

Reference parity: the closest surface is the bulk-import sink
(lib/dionysus/utils/ — set-oriented inserts, SURVEY §2 S8); the
reference writes rows into Postgres and has no file-layout concern.
This sink is part of the beyond-reference LLM-pipeline family.
"""

from __future__ import annotations

import errno
import json
import logging
import os
import sys
import time
from contextlib import contextmanager, nullcontext
from typing import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "write_corpus_shards",
    "read_corpus",
    "compact_corpus",
    "CorpusLockHeld",
]

logger = logging.getLogger(__name__)

_SHARD_COL = "_shard"
_MANIFEST = "_corpus_manifest.json"  # leading '_': ignored by parquet scans


class CorpusLockHeld(RuntimeError):
    """Another live writer holds this corpus's advisory lock."""


def _is_local(path: str) -> bool:
    return urlparse(path).scheme in ("", "file")


def _as_local_path(path: str, what: str) -> str:
    """Normalize ``path`` to a plain local filesystem path, raising a
    clear error for remote schemes: the compaction/locking algebra below
    is directory-rename + flock, which needs POSIX semantics. The WRITE
    and READ paths do work on any Hadoop-supported scheme (data via
    Spark's writer, manifest via the Hadoop FS — see _fs_write_text);
    only compaction is local-by-design, because on an object store the
    right compaction substrate is a lakehouse table format, not rename."""
    parsed = urlparse(path)
    if parsed.scheme == "file":
        return parsed.path
    if parsed.scheme == "":
        return path
    raise ValueError(
        f"{what} requires a local filesystem path, got {path!r}: its "
        "rename-aside swap and flock coordination need POSIX directory "
        "semantics. Compact object-store/HDFS corpora with a lakehouse "
        "table format instead, and coordinate writers externally."
    )


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return fs.exists(jpath)


def _fs_read_text(spark: SparkSession, path: str) -> str:
    """Manifest reads go through the Hadoop FileSystem, not open():
    the data path accepts hdfs://s3a:// URIs, so the manifest must too
    (ADVICE r7 — a corpus landed on a cluster FS previously crashed at
    the metadata step)."""
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        jvm = spark.sparkContext._jvm
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return out.toString("UTF-8")
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _fs_write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Publish a small metadata file so readers never observe a torn
    write: on a local filesystem, write a temp sibling and rename over
    the target (POSIX rename atomicity — the same commit primitive the
    compaction protocol uses). Non-POSIX schemes fall back to the plain
    Hadoop create-overwrite; their metadata swaps need a table format
    or external coordination, same caveat as compaction."""
    if _is_local(path):
        local = _as_local_path(path, "atomic metadata write")
        tmp = f"{local}.__tmp_{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, local)
        return
    _fs_write_text(spark, path, text)


def _fs_list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of the immediate SUBDIRECTORIES of ``path`` (sorted),
    empty when the path does not exist — via the Hadoop FileSystem so
    any data-path scheme works (same rationale as _fs_read_text)."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory()
    )


def _fs_mtime(spark: SparkSession, path: str) -> float | None:
    """Modification time of ``path`` in seconds since the epoch via the
    Hadoop FileSystem (any data-path scheme), or None when the path no
    longer exists — age-gated reclaim (operators/minhash) treats a
    vanished entry as "already being cleaned up" and skips it."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    return fs.getFileStatus(jpath).getModificationTime() / 1000.0


def _fs_newest_mtime(spark: SparkSession, path: str) -> float | None:
    """Newest FILE mtime under ``path`` (recursive), for AGING A
    DIRECTORY — the signal reclaim must use on object stores (ADVICE
    r11 item 2): Hadoop DIRECTORY statuses are unreliable there (S3A
    fake directories report mtime 0, i.e. "infinitely old", which would
    reclaim an in-flight writer's directory under it; other versions
    report the current time, so debris would never age out). File
    mtimes are real on every scheme. Falls back to the directory's own
    status when it holds no files yet (trustworthy only on HDFS/local,
    where directory mtimes are real — and an empty directory holds no
    data to lose either way), and to None (caller skips — the
    fail-safe) when the path vanished or cannot be listed mid-scan."""
    fs, jpath = _hadoop_fs(spark, path)
    try:
        if not fs.exists(jpath):
            return None
        newest: float | None = None
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            t = it.next().getModificationTime() / 1000.0
            if newest is None or t > newest:
                newest = t
        if newest is not None:
            return newest
        return fs.getFileStatus(jpath).getModificationTime() / 1000.0
    except Exception as e:
        # Unlistable mid-scan: skip-if-unlistable is the fail-safe (the
        # caller treats None as "not safely ageable" and leaves the
        # path alone) — but swallowing it SILENTLY makes a permanent
        # listing failure (an ACL hole, a broken scheme) read as
        # "nothing to reclaim" forever, so the debris never ages out
        # and nobody learns why (VERDICT r12 item 6). The benign cause
        # (another reclaimer deleted the path between the exists probe
        # and the listing) is distinguished by re-probing: a vanished
        # path skips quietly, a STILL-LISTABLE-LOOKING path that cannot
        # be statted warns. Reclaim stays skip-safe either way.
        try:
            if not fs.exists(jpath):
                return None
        except Exception:
            pass  # even the re-probe fails: definitely worth the warning
        logger.warning(
            "reclaim aging skipped for %r: cannot stat/list (%s: %s) — "
            "the path is treated as not-safely-ageable and left alone; "
            "a persistent failure here means its debris will never be "
            "reclaimed",
            path,
            type(e).__name__,
            e,
        )
        return None


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem; missing paths are a
    no-op (reclaim passes must be re-entrant)."""
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


# flock(LOCK_NB) reports CONTENTION as EAGAIN/EWOULDBLOCK; anything
# else — ENOLCK (lock table exhausted / FS without lock support), EBADF,
# EINTR-adjacent failures — is a real I/O error that must surface as
# itself, not masquerade as "a writer holds it" (ADVICE r8 item 1).
# EACCES is platform-conditional (ADVICE r9 item 3): Linux flock(2)
# documents ONLY EWOULDBLOCK for a held lock, so an EACCES there is a
# permission/I/O failure that must not be retried for the full
# lock_timeout and then misreported as a live writer; other POSIX
# systems (notably fcntl-backed emulations) are allowed to signal
# contention as EACCES, so it stays retryable off-Linux.
_CONTENTION_ERRNOS = frozenset(
    {errno.EAGAIN, errno.EWOULDBLOCK}
    | (set() if sys.platform.startswith("linux") else {errno.EACCES})
)


def _lock_path(local_path: str) -> str:
    """The corpus's advisory lock file — a SIBLING of the corpus
    directory, never inside it: Spark's ``mode="overwrite"`` deletes the
    target directory before rewriting, and an in-directory lock file
    would be unlinked mid-hold, leaving later writers flocking a fresh
    inode nobody else watches (the lock would silently stop excluding
    anyone the moment an overwrite ran). The sibling inode is stable
    across every write mode, so the flock protocol stays sound for
    overwrite/error writes too (ADVICE r8 item 2)."""
    local_path = local_path.rstrip("/") or "/"
    parent = os.path.dirname(local_path) or "."
    return os.path.join(parent, f"._{os.path.basename(local_path)}.corpus_lock")


@contextmanager
def _corpus_lock(
    local_path: str, *, exclusive: bool, action: str, timeout: float = 0.0
):
    """Advisory writer coordination for a LOCAL corpus directory.

    compact_corpus takes the lock EXCLUSIVE; append-mode writes take it
    SHARED: appends may run concurrently (Spark's commit protocol gives
    their part files unique names and the layout validation is
    order-independent), but a compaction must never overlap any other
    writer — its rename-aside swap would capture an in-flight appender's
    files into the trash set and reclaim them (data loss). Overwrite and
    error writes take it EXCLUSIVE: an overwrite re-land racing a live
    compaction would interleave its directory deletion with the swap's
    renames. flock gives crash-release for free: the kernel drops the
    lock when the holder dies, so there are no stale-pid files to
    janitor.

    ``timeout`` bounds how long acquisition retries before raising
    :class:`CorpusLockHeld` (VERDICT r8 item 4): routine appends queued
    behind a short compaction should complete, not die. ``timeout=0``
    is fail-fast — compact_corpus always uses it, because a SECOND
    compactor is a scheduling bug the caller should see, not silently
    queue behind. Non-local corpora skip locking entirely (flock is
    only meaningful on a local FS; see _as_local_path)."""
    import fcntl

    # Only the PARENT must exist (the lock is a sibling — see
    # _lock_path); creating the corpus directory itself here would
    # break mode="error" semantics, which must see a missing target.
    parent = os.path.dirname(local_path.rstrip("/") or "/") or "."
    os.makedirs(parent, exist_ok=True)
    fd = os.open(_lock_path(local_path), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        op = (fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH) | fcntl.LOCK_NB
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, op)
                break
            except OSError as e:
                if e.errno not in _CONTENTION_ERRNOS:
                    raise  # real I/O failure, not a live writer
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    raise CorpusLockHeld(
                        f"{action} needs the "
                        f"{'exclusive' if exclusive else 'shared'} corpus "
                        f"lock on {local_path!r} but a live compaction or "
                        "append holds it"
                        + (
                            f" (waited {timeout:g}s)"
                            if timeout > 0
                            else ""
                        )
                    ) from None
                time.sleep(min(0.05, remaining))
        yield
    finally:
        os.close(fd)  # releases the flock


def write_corpus_shards(
    df: DataFrame,
    path: str,
    *,
    shard_key: str,
    partition_by: Sequence[str] = (),
    sort_by: Sequence[str] = (),
    target_rows_per_file: int = 1_000_000,
    shards: int | None = None,
    mode: str = "error",
    lock_timeout: float = 60.0,
) -> None:
    """Write ``df`` as a partitioned, size-bounded, sorted shard layout.

    ``shards`` controls write parallelism (defaults to the session's
    shuffle partition count — on a real cluster that is cluster-sized);
    ``target_rows_per_file`` bounds every emitted file regardless of
    shard skew via the writer-level ``maxRecordsPerFile`` split, so a
    hot shard degrades into several bounded files, never one straggler.

    Per-file determinism holds when ``(partition_by, sort_by,
    shard_key)`` totally orders rows within each shard — automatic when
    ``shard_key`` is unique per row. With duplicate full sort keys the
    landed corpus is still content-exact as a multiset; only which side
    of a file-split boundary a tied row lands on is unpinned.

    Writer coordination (local corpora): appends take the corpus flock
    SHARED, overwrite/error writes take it EXCLUSIVE, and acquisition
    waits up to ``lock_timeout`` seconds before raising
    :class:`CorpusLockHeld` — so a routine append queued behind a short
    compaction completes instead of dying, while a genuinely wedged
    corpus still surfaces in bounded time. Pass ``lock_timeout=0`` for
    fail-fast semantics (compaction itself is always fail-fast).
    """
    if shard_key in partition_by:
        raise ValueError("shard_key must not be a partition column")
    if _SHARD_COL in df.columns:
        raise ValueError(
            f"input already has a {_SHARD_COL!r} column — the sink needs "
            "that name for its internal shard id"
        )
    spark = df.sparkSession
    if shards is None:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shards = max(1, shards)
    # String join, not os.path/pathlib: the path may be a URI
    # (hdfs://, s3a://) whose double slash pathlib would collapse.
    manifest_path = f"{path.rstrip('/')}/{_MANIFEST}"
    # Every local mutating entry point participates in the flock
    # protocol (ADVICE r8 item 2): appends share, overwrite/error
    # writes are exclusive — a re-land racing a live compaction would
    # otherwise interleave its directory deletion with the swap's
    # renames. Non-local paths coordinate externally (see _corpus_lock).
    lock = (
        _corpus_lock(
            _as_local_path(path, f"{mode} write"),
            exclusive=mode != "append",
            action=f"{mode} write",
            timeout=lock_timeout,
        )
        if _is_local(path)
        else nullcontext()
    )
    with lock:
        _write_corpus_shards_locked(
            df,
            spark,
            path,
            manifest_path,
            shard_key=shard_key,
            partition_by=partition_by,
            sort_by=sort_by,
            target_rows_per_file=target_rows_per_file,
            shards=shards,
            mode=mode,
        )


def _write_corpus_shards_locked(
    df: DataFrame,
    spark: SparkSession,
    path: str,
    manifest_path: str,
    *,
    shard_key: str,
    partition_by: Sequence[str],
    sort_by: Sequence[str],
    target_rows_per_file: int,
    shards: int,
    mode: str,
) -> None:
    existing_manifest = None
    if mode == "append" and _fs_exists(spark, manifest_path):
        existing_manifest = json.loads(_fs_read_text(spark, manifest_path))
        recorded = existing_manifest.get("layout")
        if recorded is not None:
            # Structural knobs must match the corpus or the landed
            # directory tree itself diverges (a flat append into a
            # partitioned corpus breaks partition discovery outright) —
            # validated BEFORE any data lands. The physical knobs
            # (target_rows_per_file, shards) may differ per delta;
            # compaction normalizes them to the recorded layout.
            for k, passed in (
                ("shard_key", shard_key),
                ("partition_by", list(partition_by)),
                ("sort_by", list(sort_by)),
            ):
                if recorded[k] != passed:
                    raise ValueError(
                        f"append layout mismatch on {k!r}: corpus recorded "
                        f"{recorded[k]!r}, append passed {passed!r}"
                    )
    # The documented '' -> NULL normalization for string partition
    # values (Hive directory encoding conflates them; we make the
    # conflation explicit and engine-independent).
    part_types: dict[str, str] = {}
    dtypes = dict(df.dtypes)
    for p in partition_by:
        part_types[p] = dtypes[p]
        if dtypes[p] == "string":
            df = df.withColumn(p, F.nullif(F.col(p), F.lit("")))
    # Content-derived shard id; NULL keys hash like any other value
    # (xxhash64(NULL, seed) is a constant, so NULL-keyed rows co-locate
    # in one shard rather than scattering nondeterministically).
    sharded = df.withColumn(
        _SHARD_COL, F.pmod(F.xxhash64(F.col(shard_key), F.lit(77)), F.lit(shards))
    )
    # shard_key appended: totally orders rows within a shard when the
    # key is unique, pinning the maxRecordsPerFile split boundaries.
    # The distribution key is the SHARD ALONE (not partition cols +
    # shard): compaction rewrites one partition directory at a time and
    # must reproduce the identical task packing from just the shard ids
    # — that is what makes compact(write+appends) converge file-for-file
    # on write(union) (test_corpus_sink.py). Partition cols still LEAD
    # the sort, so each task writes its directories sequentially.
    order = [*partition_by, *sort_by, shard_key]
    (
        sharded.repartition(shards, _SHARD_COL)
        .sortWithinPartitions(*order)
        .drop(_SHARD_COL)
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )
    layout = {
        "shard_key": shard_key,
        "partition_by": list(partition_by),
        "sort_by": list(sort_by),
        "target_rows_per_file": target_rows_per_file,
        "shards": shards,
    }
    if existing_manifest is not None:
        if existing_manifest.get("layout") is None:
            # pre-layout manifest (older sink): this append has every
            # knob needed to make the corpus compactable — record them
            existing_manifest["layout"] = layout
            _fs_write_text(spark, manifest_path, json.dumps(existing_manifest))
        # otherwise the FIRST write's layout stands
        return
    _fs_write_text(
        spark,
        manifest_path,
        json.dumps({"partition_types": part_types, "layout": layout}),
    )


_TRASH = "_compact_old_"
_PHASE_MARKER = "_compact_phase"
# Root-protocol commit point (ADVICE r7): the trash dir is renamed to
# this name ONLY once the new data is completely moved in, so recovery
# can distinguish "crashed while moving new in" (trash name: restore
# old) from "crashed while reclaiming" (deleting name: new is complete,
# reclaim). Without it, a crash mid-rmtree left marker+partial-trash and
# recovery deleted the COMPLETE new data to restore a PARTIAL old set.
_DELETING = "_compact_deleting_root"
_RESTORING = "_compact_restoring_root"


def _trash_name(leafname: str) -> str:
    """Encode a leaf dir name into its trash sibling's name. The '=' must
    go: Spark's partition discovery parses any dir containing '=' as a
    partition column (underscore prefix or not) and fails the read with
    a conflict; an '='-free underscore name is fully ignored (probed).
    Percent-encoding, '%' first, keeps it reversible even for values
    Hive itself escaped (a literal '=' in a value is stored as %3D)."""
    return _TRASH + leafname.replace("%", "%25").replace("=", "%3D")


def _untrash_name(trashname: str) -> str:
    return trashname[len(_TRASH):].replace("%3D", "=").replace("%25", "%")


def compact_corpus(
    spark: SparkSession, path: str, partitions: Sequence[str] | None = None
) -> None:
    """Re-land a corpus (or a subset of its partition directories) in
    the manifest's canonical shard layout.

    Incremental ``mode="append"`` writes accumulate small files — the
    operational killer at 100 TB (every downstream scan pays per-file
    scheduling and footer costs). Because shard membership and
    within-file order are CONTENT-derived, compaction is *convergent*:
    compacting any sequence of appends produces byte-set-identical
    per-file layouts to a single fresh write of the union, so re-running
    a half-finished compaction (or compacting an already-compact
    corpus) is always safe and a no-op layout-wise.

    ``partitions`` selects LEAF partition directories by relative path
    (e.g. ``["lang=en"]``, or ``["lang=en/source=web"]`` on a two-level
    corpus — a prefix selects its whole subtree); unknown names raise
    instead of silently compacting nothing. Cost is bounded by the
    selected partitions' size, which is how a 100 TB corpus compacts on
    a schedule instead of in one job.

    Crash-safety: each leaf swap is rename-aside — old dir ->
    ``_compact_old_*`` sibling, new dir renamed in, trash removed — so
    every crash point leaves a recoverable state, and the next run's
    recovery pass restores or reclaims before doing anything else. The
    unpartitioned root cannot swap by directory rename, so it uses a
    phase-marker + commit-rename protocol with the same property.
    Underscore-prefixed temp/trash names keep Spark source discovery
    from ever reading in-flight state as data. LIVE-writer safety: the
    exclusive corpus flock makes a second compactor (or a racing
    append, which takes the shared lock) fail fast with
    :class:`CorpusLockHeld` instead of having its in-flight files swept
    into the trash set — the kernel releases a dead holder's lock, so a
    crashed run never wedges the corpus. A reader racing the swap can
    still see a directory mid-replace (use a lakehouse table format
    when that matters; this sink is the layout algebra underneath,
    proven deterministic). Local filesystems only — see _as_local_path.
    """
    path = _as_local_path(path, "compact_corpus")
    with _corpus_lock(path, exclusive=True, action="compact_corpus"):
        with open(os.path.join(path, _MANIFEST)) as f:
            manifest = json.load(f)
        layout = manifest.get("layout")
        if layout is None:
            raise ValueError(
                f"{path}: manifest has no layout record — corpus written by "
                "a pre-layout sink; re-land it with write_corpus_shards to "
                "compact"
            )
        _compact_corpus_locked(spark, path, layout, partitions)


def _compact_corpus_locked(spark, path, layout, partitions) -> None:
    import shutil
    import tempfile

    part_cols = layout["partition_by"]
    _recover_crashed_compaction(path, part_cols)
    # stale temp dirs from a crashed compaction (post-recovery, they are
    # guaranteed redundant copies) — reclaim
    for d in os.listdir(path):
        if d.startswith("_compact_") and not d.startswith(_TRASH):
            p = os.path.join(path, d)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)

    if not part_cols:
        if partitions is not None:
            raise ValueError("partitions given but the corpus is unpartitioned")
        _compact_root(spark, path, layout, part_cols)
        return

    leaves = _leaf_dirs(path, part_cols)
    if partitions is not None:
        chosen = []
        for sel in partitions:
            matched = [
                leaf
                for leaf in leaves
                if leaf == sel or leaf.startswith(sel + os.sep)
            ]
            if not matched:
                raise ValueError(
                    f"unknown partition {sel!r}; available: {leaves}"
                )
            chosen.extend(matched)
        leaves = sorted(set(chosen))
    for rel in leaves:
        src = os.path.join(path, rel)
        df = spark.read.parquet(src)  # leaf: data files only
        tmp = tempfile.mkdtemp(prefix="_compact_", dir=path)
        # Re-shard through the canonical layout (the '' -> NULL partition
        # normalization is already applied on disk, so no re-normalize).
        _rewrite_dir(df, tmp, layout, part_cols)
        # atomic-per-step swap: aside, in, reclaim
        trash = os.path.join(
            os.path.dirname(src), _trash_name(os.path.basename(src))
        )
        os.rename(src, trash)
        os.rename(tmp, src)
        shutil.rmtree(trash, ignore_errors=True)


def _compact_root(spark, path: str, layout: dict, part_cols: Sequence[str]) -> None:
    """Unpartitioned corpus: data files live at the root next to the
    manifest, so the swap is file-level under a phase marker (see
    _recover_crashed_compaction for the crash analysis)."""
    import shutil
    import tempfile

    df = read_corpus(spark, path)
    tmp = tempfile.mkdtemp(prefix="_compact_", dir=path)
    _rewrite_dir(df, tmp, layout, part_cols)
    trash = os.path.join(path, _TRASH + "root")
    os.makedirs(trash)
    for name in _root_data_entries(path):
        os.rename(os.path.join(path, name), os.path.join(trash, name))
    marker = os.path.join(path, _PHASE_MARKER)
    open(marker, "w").close()  # phase 2: old is fully aside
    for name in os.listdir(tmp):
        os.replace(os.path.join(tmp, name), os.path.join(path, name))
    # COMMIT POINT: one atomic rename records "new data is complete".
    # From here recovery always reclaims the old set, never restores it
    # — rmtree below may die or partially fail without risking the
    # marker+partial-trash ambiguity (see _recover_crashed_compaction).
    deleting = os.path.join(path, _DELETING)
    os.rename(trash, deleting)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(deleting, ignore_errors=True)
    os.remove(marker)  # marker outlives the reclaim: see recovery (b2)


def _root_data_entries(path: str) -> list[str]:
    return [
        n
        for n in sorted(os.listdir(path))
        if n != _MANIFEST and not n.startswith("_") and not n.startswith(".")
    ]


def _recover_crashed_compaction(path: str, part_cols: Sequence[str]) -> None:
    """Restore a consistent corpus from any crash point of a prior run.

    Leaf swaps are three atomic renames, so: trash present + target
    missing -> crashed between renames, restore the old dir; trash
    present + target present -> new data landed, trash is superseded,
    reclaim it. The root protocol's phase marker + the commit-point
    rename (trash -> _DELETING once the new data is fully in) split the
    file-level cases: (a) no marker + trash -> crash while moving old
    aside: move it back (names are unique, no conflicts); (b) marker +
    trash -> crash while moving new in: root data entries are partial
    new — delete them, then COMMIT the purge by renaming trash to
    _RESTORING before moving anything back. Recovery itself must be
    re-entrant (a crash-looping compactor re-enters it mid-flight —
    the exhaustive double-crash enumeration in
    test_compaction_crash_enum.py found the unrenamed variant deleting
    already-restored old files as "partial new" on its second pass);
    with the commit rename, a re-entry sees either marker+trash (purge
    not committed: root entries are still all partial-new, purge again)
    or marker+_RESTORING (purge done: root entries are restored OLD
    files — never delete, just move the remainder back); (c) _DELETING
    present (marker or not) -> the commit rename happened, so the new
    data is complete and the old set is superseded: reclaim it, NEVER
    restore — this is the case that used to be ambiguous with (b) when
    a crash or silent partial failure interrupted the trash rmtree,
    and restoring there deleted complete new data / resurrected old
    part-files alongside it (ADVICE r7); (b2) marker + no dirs ->
    new data complete, reclaim done: drop the marker.
    """
    import shutil

    if not part_cols:
        trash = os.path.join(path, _TRASH + "root")
        deleting = os.path.join(path, _DELETING)
        restoring = os.path.join(path, _RESTORING)
        marker = os.path.join(path, _PHASE_MARKER)
        if os.path.isdir(deleting):  # (c) committed: reclaim only
            shutil.rmtree(deleting, ignore_errors=True)
            if os.path.exists(marker):
                os.remove(marker)
        elif os.path.exists(marker) or os.path.isdir(restoring):
            if os.path.isdir(trash):  # (b) purge partial new, then commit
                for name in _root_data_entries(path):
                    p = os.path.join(path, name)
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
                os.rename(trash, restoring)
            if os.path.isdir(restoring):  # restore is re-enterable
                for name in os.listdir(restoring):
                    dst = os.path.join(path, name)
                    if not os.path.exists(dst):
                        os.rename(os.path.join(restoring, name), dst)
                shutil.rmtree(restoring, ignore_errors=True)
            if os.path.exists(marker):
                os.remove(marker)  # (b2) when no dirs
        elif os.path.isdir(trash):  # (a) move the old set back
            for name in os.listdir(trash):
                dst = os.path.join(path, name)
                if not os.path.exists(dst):
                    os.rename(os.path.join(trash, name), dst)
            shutil.rmtree(trash, ignore_errors=True)
        return

    bases = [path]
    for col in part_cols:
        nxt = []
        for base in bases:
            for name in sorted(os.listdir(base)):
                if name.startswith(_TRASH):
                    full = os.path.join(base, name)
                    target = os.path.join(base, _untrash_name(name))
                    if os.path.exists(target):
                        shutil.rmtree(full, ignore_errors=True)
                    else:
                        os.rename(full, target)
            for name in sorted(os.listdir(base)):
                full = os.path.join(base, name)
                if os.path.isdir(full) and name.startswith(f"{col}="):
                    nxt.append(full)
        bases = nxt


def _leaf_dirs(path: str, part_cols: Sequence[str]) -> list[str]:
    """Relative paths of the LEAF partition directories (full nesting
    depth — compacting an intermediate level would partition-discover
    the deeper columns into the data and destroy them)."""
    rels = [""]
    for col in part_cols:
        nxt = []
        for rel in rels:
            base = os.path.join(path, rel) if rel else path
            for name in sorted(os.listdir(base)):
                if name.startswith(f"{col}=") and os.path.isdir(
                    os.path.join(base, name)
                ):
                    nxt.append(os.path.join(rel, name) if rel else name)
        rels = nxt
    return rels


def _rewrite_dir(
    df: DataFrame, tmp: str, layout: dict, part_cols: Sequence[str]
) -> None:
    """Write ``df`` (one leaf directory's rows — partition columns live
    in the directory path, not the files) into ``tmp`` in canonical
    layout."""
    shards = max(1, int(layout["shards"]))
    shard_key = layout["shard_key"]
    sort_by = layout["sort_by"]
    data_cols = [c for c in df.columns if c not in part_cols]
    body = df.select(*data_cols)
    sharded = body.withColumn(
        _SHARD_COL, F.pmod(F.xxhash64(F.col(shard_key), F.lit(77)), F.lit(shards))
    )
    order = [*sort_by, shard_key]
    (
        sharded.repartition(shards, _SHARD_COL)
        .sortWithinPartitions(*order)
        .drop(_SHARD_COL)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", layout["target_rows_per_file"])
        .parquet(tmp)
    )


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Re-open a sharded corpus. Partition columns come back from the
    directory structure and are cast to their WRITTEN types via the
    manifest — Spark's partition-column type inference would otherwise
    re-type a numeric-looking string slice value. Filters on them still
    prune before the scan (the cast sits above the partition filter)."""
    df = spark.read.parquet(path)
    manifest = f"{path.rstrip('/')}/{_MANIFEST}"
    if _fs_exists(spark, manifest):
        part_types = json.loads(_fs_read_text(spark, manifest)).get(
            "partition_types", {}
        )
        for col, ddl in part_types.items():
            if col in df.columns and dict(df.dtypes)[col] != ddl:
                df = df.withColumn(col, F.col(col).cast(ddl))
    return df
