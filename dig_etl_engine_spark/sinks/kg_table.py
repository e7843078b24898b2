"""KG-table sinks (K2-K4) — the Spark equivalents of the reference's
Logstash→Elasticsearch path.

Reference:
  * K2 — ``manager.py:194-229``: Logstash writes ``{project}_out`` docs to
    ES index ``{project}`` with ``document_id => %{doc_id}`` — idempotent
    last-write-wins upsert per doc_id.
  * K3 — ``manager.py:237-255``: PUT the index mapping if absent
    (create-table-if-not-exists bootstrap).
  * K4 — ``dig_tabular_import.py:493-533``; ``ts_converter.py:218-227``:
    JSON-lines file export.

Design: the KG table is a parquet directory (Delta's ``MERGE INTO`` is the
drop-in production upgrade — same call shape — but Delta isn't in this
container). It is merge-on-read, like the reference's Elasticsearch
store, whose Lucene segments are written once and merged in the
background: an upsert appends the batch as one immutable delta dir, a
read resolves last-write-wins over buckets ∪ deltas, and buckets are
rewritten only when deltas are folded into them. Last-write-wins
ordering uses an explicit ``order_col`` (kafka offset / batch id): ES's
behavior is "later write replaces earlier", which in a parallel engine
MUST be made explicit or batch-internal ordering is nondeterministic
(SURVEY §4 R5; ``etk_worker.py:133-134`` sends synchronously per doc).

On-disk format of the bucketed table (one format; every entry point
reads and writes only this):

  * ``_kg_manifest`` — the pointer-committed catalog and the table's
    only metadata file: ``{"v": 3, "gen", "buckets", "widened": true,
    "key", "order", "schema", "live": {bucket: dir}, "deltas": [dir,
    ...], "grace": [[dir, gen, ts], ...]}``. ``buckets`` is the table's
    bucket count, fixed at birth; rows are placed by
    ``pmod(xxhash64(widened key), buckets)``. ``key`` and ``order`` are
    the last-write-wins columns and ``schema`` the table's Spark schema
    (JSON), all fixed at birth, so neither a reader nor a writer infers
    anything from parquet footers;
  * live and grace bucket dirs — immutable hidden epochs
    ``.kbe_<bucket>_<token>``, written only by the one fold
    (``_fold_into_buckets``: a birth, every ``_MAX_DELTAS``-th upsert,
    a compaction, a rebucket). A table an older build rebucketed may
    still name visible ``_kb=<bucket>`` dirs; they stay readable and
    writable, and the next fold of their bucket supersedes them;
  * delta dirs — immutable hidden ``.kgd_<token>`` dirs, one per
    upserted micro-batch, listed in commit order under ``deltas`` until
    a fold moves their rows into buckets;
  * ``KG_NAIVE_READ_GUARD`` — present while any live dir or delta is
    hidden.

``upsert_partitioned`` is the only way rows get into a table. A table
is born with its manifest: ``create_table_if_not_exists`` commits a
generation-0 manifest with nothing live, and an ``upsert_partitioned``
into an absent path commits one with its first batch's buckets.
Root ``*.parquet`` files without a manifest (an older build's flat
table or seed), ``_kb=`` dirs without a manifest, and a manifest that
is not v3 with a bucket count and the widened hash, are retired
formats: every entry point refuses them with a ``ValueError`` and
leaves their files alone.
"""

from __future__ import annotations

import contextlib
import glob as glob_mod
import logging
import os
import shutil
import socket
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)


class TableLockTimeout(RuntimeError):
    """Another writer holds the table's advisory lock and did not
    release it within the timeout."""


# --------------------------------------------------------------------------
# Pointer-file commit — the one-rename publication primitive shared by every
# multi-file swap in the engine (the epoch stores of ``publish_epoch``, the
# bucketed table's manifest below). The ES-alias-swap analog
# (`manager.py:237-255` bootstrap pattern under /root/reference): the index
# never serves a 404 mid-reindex because readers resolve an alias, and the
# alias flip is a single atomic metadata write. Here the alias is a small
# file whose content names the live root(s); the flip is ``os.replace`` —
# atomic on POSIX — so a reader sees either the old payload or the new one,
# never a missing or partial pointer. This retires the rename-aside
# protocol's honest-contract hole ("a read landing between the two renames
# sees a missing root"): with pointer indirection there IS no between-renames
# window, because data dirs are immutable once written and only the pointer
# moves. Local-FS semantics; on HDFS ``os.replace`` maps to an overwriting
# FileSystem.rename, on S3 use a manifest-committing table format (Delta).

def pointer_path(root: str, name: str = "_CURRENT") -> str:
    return os.path.join(root, name)


def _fsync_dirent(dirpath: str) -> None:
    """Best-effort fsync of a DIRECTORY — flushes dirent updates (a
    rename/replace) so later operations cannot be persisted ahead of
    them. Shared by every driver-side publish in this module; OSError
    is swallowed because some filesystems reject directory fsync."""
    try:
        fd = os.open(dirpath or ".", os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def commit_pointer(root: str, payload: str, *,
                   name: str = "_CURRENT") -> None:
    """Atomically publish ``payload`` as the live pointer under ``root``.

    Write-to-temp + fsync + ``os.replace``: a crash before the replace
    leaves the old pointer intact (temp files are swept by the owning
    writer's entry-time recovery); a crash after leaves the new one —
    there is no state in which the pointer is absent or torn. The fsync
    matters: without it a power loss can commit the rename but not the
    payload bytes, publishing an empty pointer."""
    os.makedirs(root, exist_ok=True)
    tmp = pointer_path(root, f".{name}.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, pointer_path(root, name))
    # fsync the PARENT DIRECTORY too: os.replace updates a dirent, and
    # without flushing it a power loss can persist the commit's
    # FOLLOW-UP work (the sweep's unlinks of superseded dirs) while the
    # rename itself is still unflushed — after reboot the pointer would
    # name deleted directories. Payload fsync alone does not order the
    # dirent against later operations (r11 round-close review).
    _fsync_dirent(root)


def resolve_pointer(root: str, *, name: str = "_CURRENT") -> str | None:
    """Read the live pointer payload, or None when no pointer exists
    (a never-written table). Read-only — never heals anything (healing
    is the writers' job, under their lock).

    ONLY the two errnos that prove absence (ENOENT for a missing file
    or parent, ENOTDIR for a path component that is a file — both mean
    "this root has never committed a pointer") map to None. Every
    other OSError propagates: a transient open() failure (EMFILE under
    a busy Spark driver, EACCES, an NFS hiccup) must fail the caller's
    operation, NOT silently reclassify a pointer-committed table as
    unborn — for the bucket manifest that demotion would make
    the next upsert treat the table as a birth write, commit a fresh
    manifest referencing only its own batch, and sweep every
    previously committed epoch dir (silent table truncation — the
    exact hole ``_load_manifest`` already refuses to open for parse
    errors; r11 external review, medium)."""
    try:
        with open(pointer_path(root, name), encoding="utf-8") as fh:
            return fh.read()
    except (FileNotFoundError, NotADirectoryError):
        return None


def sweep_pointer_tmps(root: str, *, name: str = "_CURRENT") -> None:
    """Drop orphaned pointer temp files left by a writer that crashed
    between its payload write and its ``os.replace`` — recomputable by
    construction. Writer-entry-time only (runs under the table lock);
    a temp that cannot be removed now is retried by the next entry."""
    for stale in glob_mod.glob(
            os.path.join(glob_mod.escape(root), f".{name}.tmp.*")):
        try:
            os.remove(stale)
        except OSError:
            pass


# --------------------------------------------------------------------------
# Epoch stores — the one way to publish a directory that is rebuilt
# wholesale (the BM25 stats, the build-once fixture cache, streaming rollup
# state). ``path/_CURRENT`` holds ``<live> [<grace>]``: the first token
# names the immutable ``epoch_<token>/`` dir readers use, the second the
# previous one, kept for readers that resolved the pointer before the last
# flip. Nothing else lives under ``path`` but pointer temp files. A reader
# resolves the pointer once and reads one complete build; it never sees a
# missing root or a mix of two builds.

def live_epoch(path: str) -> str | None:
    """The root the pointer under ``path`` names, or None when no
    pointer names an existing epoch dir (never published)."""
    toks = (resolve_pointer(path) or "").split()
    if toks and os.path.isdir(os.path.join(path, toks[0])):
        return os.path.join(path, toks[0])
    return None


def sweep_epochs(path: str) -> None:
    """Drop pointer temps and every ``epoch_*`` dir the pointer does not
    name: a crashed publish's orphan or a superseded grace copy. The
    live and grace epochs are never touched, so a crash at any point of
    the sweep leaves both readable; a dir that cannot be removed now is
    retried by the next sweep."""
    sweep_pointer_tmps(path)
    keep = set((resolve_pointer(path) or "").split())
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return
    for n in names:
        if n.startswith("epoch_") and n not in keep \
                and os.path.isdir(os.path.join(path, n)):
            shutil.rmtree(os.path.join(path, n), ignore_errors=True)


def publish_epoch(path: str, write: Callable[[str], None]) -> str:
    """Publish a new build under ``path`` and return its root.

    ``write(root)`` fills a fresh ``path/epoch_<token>/``; then the
    files are made durable (:func:`_fsync_tree`), the pointer flips to
    ``<new> <previous>`` in one :func:`commit_pointer`, and
    :func:`sweep_epochs` drops everything else. A crash before the flip
    leaves the previous build live and an orphan the next sweep drops;
    a crash after it leaves the new build live. Takes no lock: callers
    whose writers can race hold :func:`table_lock` (it is not
    reentrant, so the lock stays with the caller)."""
    prev = live_epoch(path)
    tok = f"epoch_{uuid.uuid4().hex[:8]}"
    root = os.path.join(path, tok)
    write(root)
    # data before the pointer: the writer's files are not fsynced, and
    # the fsynced pointer must never name torn files after a power loss
    _fsync_tree(root)
    commit_pointer(path, f"{tok} {os.path.basename(prev)}" if prev else tok)
    sweep_epochs(path)
    return root


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (PermissionError, OverflowError):
        return True
    return True


@contextlib.contextmanager
def table_lock(target_path: str, *, timeout: float = 300.0,
               stale_after: float = 3600.0):
    """Advisory single-writer lock for a KG table (``<table>.__lock__``
    directory; ``mkdir`` is the atomic test-and-set). Every mutating
    entry point takes it, closing the same-host lost-update window:
    without it, two concurrent upserts each read the table, then each
    swaps its own merge in — the second swap silently drops the first's
    batch — and a nightly ``scripts/maintain.py`` compaction overlapping
    a live ingest can swap a stale bucket copy over fresh rows. With the
    lock, writer 2 blocks until writer 1's swap completes, then merges
    against the committed result, preserving the "pure function of
    (key, order)" contract under concurrency.

    Scope is honest: the owner check (recorded pid+host) can only break
    a dead owner's lock on the SAME host; a crashed writer on another
    host holds the lock until ``stale_after`` expires. Multi-driver
    fleets writing one table need a real transaction log — Delta's
    MERGE, the documented production drop-in for this whole module.

    A live owner HEARTBEATS (a daemon thread refreshes the lock dir's
    mtime every ``stale_after/4``, capped at 60 s), so the TTL break
    only ever fires on owners that stopped heartbeating — without it, a
    legitimately long operation (a multi-hour compaction of a huge
    table) would have its lock stolen mid-write by any contender that
    out-waited ``stale_after``, re-opening the exact lost-update window
    the lock exists to close. The mtime refresh travels through the
    shared filesystem, so cross-host contenders see it too."""
    lockd = target_path + ".__lock__"
    owner = os.path.join(lockd, "owner")
    me = f"{os.getpid()} {socket.gethostname()}"
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.mkdir(lockd)
            break
        except FileExistsError:
            pass
        except FileNotFoundError:
            # first-ever write to a fresh path: create the parent
            os.makedirs(os.path.dirname(lockd) or ".", exist_ok=True)
            continue
        try:
            age = time.time() - os.stat(lockd).st_mtime
        except OSError:
            continue  # released between the mkdir and the stat
        dead_local = False
        try:
            pid_s, host = open(owner, encoding="utf-8").read().split()
            dead_local = (host == socket.gethostname()
                          and not _pid_alive(int(pid_s)))
        except (OSError, ValueError):
            pass  # owner file not written yet / torn: trust the TTL
        if (dead_local and age > 2.0) or age > stale_after:
            # break the stale lock rename-aside so two breakers never
            # race a half-removed directory
            aside = f"{lockd}.stale.{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lockd, aside)
            except OSError:
                continue  # someone else broke or released it first
            logger.warning("table_lock: broke stale lock on %s "
                           "(age %.0fs, dead_local=%s)", target_path,
                           age, dead_local)
            shutil.rmtree(aside, ignore_errors=True)
            continue
        if time.monotonic() > deadline:
            raise TableLockTimeout(
                f"{target_path}: another writer holds {lockd} "
                f"(age {age:.0f}s); concurrent mutation would lose "
                f"updates — retry, or remove the lock if the owner is "
                f"known dead")
        time.sleep(0.25)
    stop = threading.Event()

    def _heartbeat():
        beat = min(max(stale_after / 4.0, 0.05), 60.0)
        while not stop.wait(beat):
            try:
                os.utime(lockd)
            except OSError:
                return  # lock dir gone (released/stolen): stop quietly

    hb = threading.Thread(target=_heartbeat, daemon=True,
                          name="kg-table-lock-heartbeat")
    try:
        with open(owner, "w", encoding="utf-8") as fh:
            fh.write(me)
        hb.start()
        yield
    finally:
        stop.set()
        if hb.is_alive():
            hb.join(timeout=5.0)
        # release only what is provably still OURS: if this owner froze
        # past stale_after and a contender broke the lock, `lockd` now
        # belongs to the new owner — blindly rmtree'ing it would admit a
        # THIRD writer alongside the second (cascading theft). If our
        # own owner-file write failed, the dir leaks instead and heals
        # through the dead-pid / TTL break like any crashed owner's.
        try:
            still_me = open(owner, encoding="utf-8").read() == me
        except OSError:
            still_me = False
        if still_me:
            shutil.rmtree(lockd, ignore_errors=True)
        else:
            logger.warning("table_lock: not releasing %s — owner "
                           "changed (lock was broken while we held "
                           "it; our writes may have raced the new "
                           "owner's)", lockd)


def _contains_null_type(dt: T.DataType) -> bool:
    """True when the type (recursively) contains NullType — Spark's
    parquet writer rejects void columns, so a table created with one
    would fail only at its first upsert, long after the mistake."""
    if isinstance(dt, T.NullType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_null_type(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_null_type(dt.elementType)
    if isinstance(dt, T.MapType):
        return (_contains_null_type(dt.keyType)
                or _contains_null_type(dt.valueType))
    return False


def create_table_if_not_exists(spark: SparkSession, path: str,
                               schema: T.StructType, *,
                               buckets: int = 64) -> bool:
    """K3: create an empty KG table with a pinned schema; returns True
    if created. Pinning the schema up front (like the ES mapping PUT)
    stops the first writer's inferred types from becoming the contract:
    every batch is aligned to it (see :func:`_align_to_table`).

    The table is born with its manifest: one :func:`commit_pointer`
    publishes a generation-0 manifest with ``buckets`` buckets, the
    ``doc_id`` key and ``kafka_offset`` order columns, ``schema``,
    nothing live and no deltas. No Spark job runs and no parquet file
    is written; the first :func:`upsert_partitioned` folds its batch
    into the birth buckets exactly as an upsert into an absent path
    does. A table keyed on other columns is born by its first
    ``upsert_partitioned`` instead.

    Runs under :func:`table_lock` and enters through the shared entry
    recovery, so a retired format, or a missing table beside an older
    build's stranded aside (see :func:`_refuse_stranded_aside`), raises
    ``ValueError`` before anything is written, and a table that already
    has a manifest returns False. A schema holding ``NullType``
    anywhere, and ``buckets`` below 1, raise ``ValueError``."""
    with table_lock(path):
        if _recover_partitioned_swap(path) is not None:
            return False
        if _contains_null_type(schema):
            raise ValueError(
                f"create_table_if_not_exists: {path}: the schema has a "
                "void column (NullType), which Spark's parquet writer "
                "rejects — give every column a concrete type.")
        commit_pointer(path, _dump_manifest(_new_manifest(
            schema, buckets=buckets, key="doc_id", order="kafka_offset")),
            name=_MANIFEST)
        return True


def dedupe_last_write_wins(df: DataFrame, key_col: str = "doc_id",
                           order_col: str = "kafka_offset") -> DataFrame:
    """Keep the row with the greatest ``order_col`` per key — ES overwrite
    semantics made deterministic (ties broken by the order column only;
    give every record a unique offset upstream)."""
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _refuse_stranded_aside(target_path: str) -> None:
    """Refuse a missing table whose only complete copy sits in a
    sibling an older build's rename-aside swap left: ``<table>.__old__``
    (the flat upsert moved the table there), ``<table>.rebucket_old``
    (the rebucket did), or a ``<table>.rebucket_tmp.*`` staging dir
    holding its ``_kg_manifest`` (a rebucketed copy that never moved
    in). A crash between such a swap's two renames left the aside as
    the only copy, and nothing heals it any more. Going on would let a
    writer create a new table from one batch, or a reader serve
    nothing, while the real table sits ignored beside it. Touches no
    file."""
    if os.path.isdir(target_path):
        return
    asides = [a for a in (target_path + ".__old__",
                          target_path + ".rebucket_old")
              if os.path.isdir(a)]
    asides += sorted(
        d for d in glob_mod.glob(glob_mod.escape(target_path)
                                 + ".rebucket_tmp.*")
        if os.path.exists(os.path.join(d, _MANIFEST)))
    if asides:
        raise ValueError(
            f"{target_path} does not exist but {', '.join(asides)} "
            "does: an older build crashed mid-swap and the aside holds "
            f"the only complete copy of the table. Rename {asides[0]} "
            f"back to {target_path}, then retry.")


# ---------------------------------------------------------------------------
# Bucket manifest: the pointer-committed catalog of the bucketed table's
# live directories (verdict r10 item 2 — the same one-rename publication
# primitive as the BM25 stats epochs, applied per table).
#
# Layout contract: table data lives in IMMUTABLE directories — hidden
# ``.kbe_<bucket>_<token>`` bucket epochs, which only the fold writes
# (an older build's rebucket left visible ``_kb=<bucket>`` dirs, still
# read and superseded like epochs), and hidden ``.kgd_<token>`` deltas,
# one per upserted micro-batch. ``read_partitioned`` is the ONLY read
# API: a raw ``spark.read.parquet(root)`` cannot see hidden dirs, and
# the ``KG_NAIVE_READ_GUARD`` tripwire makes it fail loudly. The
# manifest file ``_kg_manifest`` is the table's ONE metadata file: it
# maps bucket id → live dir name, lists the deltas in commit order,
# records the grace copies, and carries what is fixed at birth — the
# bucket count, the ``widened: true`` hash-version token every reader
# checks, the key and order columns and the schema. It is replaced
# atomically by ``commit_pointer``. Every writer publishes through
# that one flip (``_commit_buckets``), and each call commits at most
# one generation: a delta commit, a fold of many buckets and deltas, a
# compaction (deltas and fragmented buckets in one fold) and a rebucket
# (every row under the new count) each land in ONE rename — there is
# no per-bucket between-renames window where a bucket is missing, no
# sibling dir beside the table, and no rollback protocol: a crash
# before the flip leaves only unreferenced dirs (recomputable, swept at
# the next writer entry), a crash after leaves the commit fully
# applied.
#
# Reader grace: each commit records the dirs it stops referencing — a
# rewritten bucket's PREVIOUS dir, a folded delta, every old dir of a
# rebucketed table — in the manifest's
# ``grace`` list, each entry stamped with the committing generation and
# wall-clock time. Sweeps keep live ∪ deltas ∪ grace, so an in-flight
# reader that resolved a pre-flip manifest keeps complete roots until
# its entries age past the RETENTION window (Delta's
# retain-until-VACUUM doctrine). Retention is configurable (r11 external
# review, low — the fixed one-interval grace broke lock-free scans that
# outlive two quick successive commits under continuous micro-batch
# ingest): an entry is reclaimed only once it is BOTH more than
# ``GRACE_RETAIN_GENERATIONS`` commits old AND (when a time window is
# set) older than ``GRACE_RETAIN_SECONDS``. The defaults reproduce the
# original doctrine — one writer interval, no time floor; a deployment
# with long concurrent scans raises either knob (generation depth for
# bursty ingest, the time window for "no scan runs longer than X"
# guarantees). Reclamation happens AT COMMIT (targeted: exactly the
# entries the prune releases, by name) and at every writer entry,
# whose recovery lists the table root and sweeps whatever the manifest
# does not reference. The cost of retention is that an idle table
# keeps its last commits' superseded copies until the next writer
# entry.
GRACE_RETAIN_GENERATIONS: int = 1
GRACE_RETAIN_SECONDS: float = 0.0

_MANIFEST = "_kg_manifest"

# name prefixes of every dir that holds table rows: bucket epochs, an
# older build's visible rebucketed buckets, deltas
_DATA_DIR_PREFIXES = (".kbe_", "_kb=", ".kgd_")

# Naive-read tripwire (verdict r11 item 3): once any committed bucket
# lives in a hidden ``.kbe_`` epoch dir, a raw ``spark.read.parquet``
# at the table root is WRONG — on an older build's rebucketed table
# that was upserted since (visible ``_kb=`` dirs coexisting with hidden
# epochs or deltas) it silently serves stale/partial rows. This
# visible non-parquet
# file makes such a read fail loudly instead (Spark's footer read
# names the file: CANNOT_READ_FILE_FOOTER .../KG_NAIVE_READ_GUARD),
# while every sanctioned path ignores it — ``read_partitioned`` reads
# explicit bucket dirs, and DuckDB-style ``root/*.parquet`` globs never
# see it. ``scripts/maintain.py --check`` reports the layout state.
_NAIVE_READ_GUARD = "KG_NAIVE_READ_GUARD"

# Deltas a table may hold before the next upsert folds them into its
# buckets. Every read pays a last-write-wins shuffle over buckets ∪
# deltas while any delta is live, and a fold costs about one
# copy-on-write merge of the touched buckets, so the constant trades
# the read overhead of up to this many deltas against one fold per this
# many micro-batches. Measured in one session on a 4-core host
# (perfbench ingest_fresh inputs, seed 11: an 800-document table in 64
# buckets, 100-document batches drained by run_ingest, each followed by
# the fresh search): the search took 0.15-0.2 s longer with deltas live
# than right after a fold, flat from 1 to 22 deltas; an upsert that
# folds took 2.5-3.5 s longer than one that commits a delta (1.3-1.9
# s). Taking 0.18 s and 3 s, the cost per batch is 0.89 s at 4, 0.53 s
# at 8, 0.36 s at 16 and 0.27 s at 32; 16 takes most of the gain while
# no read ever scans more than 15 delta dirs.
_MAX_DELTAS: int = 16


def _new_manifest(schema: T.StructType, *, buckets: int, key: str,
                  order: str) -> dict:
    """The in-memory manifest of a table about to be born (generation
    0, nothing live): what ``create_table_if_not_exists`` commits and a
    birth fold commits onto; a rebucket builds its new count's manifest
    here too. The one check of a bucket count: ``buckets`` below 1
    raises ``ValueError`` (0 would fail inside the Spark job on a
    remainder by zero, a negative count would place rows in negative
    bucket ids)."""
    if buckets < 1:
        raise ValueError(f"buckets={buckets!r} — a KG table needs at "
                         "least one bucket.")
    return {"gen": 0, "buckets": buckets, "key": key, "order": order,
            "schema": schema, "live": {}, "deltas": [], "grace": []}


def _load_manifest(target_path: str) -> dict | None:
    """Parse the table's bucket manifest, or None for a table that has
    none (absent, or a birth that crashed before its flip).
    Returns ``{"gen": int, "buckets": int, "key": str, "order": str,
    "schema": StructType, "live": {bucket: dirname}, "deltas":
    [dirname, ...], "grace": [(dirname, gen_created, ts_created),
    ...]}``. Read-only; a torn or unparsable manifest is impossible by
    the pointer-commit contract, so parse errors are raised, not masked
    — masking one would silently demote the table to a birth write
    whose sweep deletes every committed dir.

    Retired formats raise ``ValueError`` naming the path and what was
    found, for the same reason: root ``*.parquet`` files with no
    manifest (an older build's flat table or empty seed), ``_kb=`` dirs
    with no manifest (the pre-manifest layout), and a manifest that is
    not v3, has no bucket count, or does not declare the widened hash.
    No entry point reads, heals or rewrites them, so their files stay
    exactly as found."""
    import json

    raw = resolve_pointer(target_path, name=_MANIFEST)
    if raw is None:
        names = sorted(os.listdir(target_path)
                       if os.path.isdir(target_path) else ())
        flat = [n for n in names if n.endswith(".parquet")]
        kb = [n for n in names if n.startswith("_kb=")]
        for found, what in ((flat, "flat parquet file(s)"),
                            (kb, "_kb= bucket dir(s)")):
            if found:
                raise ValueError(
                    f"{target_path}: {len(found)} {what} "
                    f"({', '.join(found[:3])}"
                    f"{', ...' if len(found) > 3 else ''}) and no "
                    f"{_MANIFEST} — a retired layout that no entry point "
                    "reads or rewrites. It is plain parquet: read it "
                    "with spark.read.parquet(<root>) and "
                    "upsert_partitioned the rows into a fresh table.")
        return None
    m = json.loads(raw)
    if m.get("v") != 3 or m.get("buckets") is None \
            or m.get("widened") is not True:
        raise ValueError(
            f"{os.path.join(target_path, _MANIFEST)}: retired manifest "
            f"format (v={m.get('v')!r}, buckets={m.get('buckets')!r}, "
            f"widened={m.get('widened')!r}; this version reads only v=3 "
            "with a bucket count and widened=true) — no entry point "
            "reads or rewrites it. Read the live dirs it names with "
            "spark.read.parquet and upsert_partitioned the rows into a "
            "fresh table.")
    return {
        "gen": int(m["gen"]),
        "buckets": int(m["buckets"]),
        "key": m["key"],
        "order": m["order"],
        "schema": T.StructType.fromJson(m["schema"]),
        "live": {int(k): v for k, v in m["live"].items()},
        "deltas": list(m["deltas"]),
        "grace": [(d, int(g), float(ts)) for d, g, ts in m["grace"]],
    }


def _dump_manifest(m: dict) -> str:
    """The ONE serializer of the manifest wire format (every writer —
    commit and recovery's grace prune — goes through here, so a
    format change lands exactly once). ``widened``
    is constant: every table hashes widened keys (see
    :func:`_bucket_expr`), and the token is what a reader checks."""
    import json

    return json.dumps({
        "v": 3, "gen": m["gen"], "buckets": m["buckets"], "widened": True,
        "key": m["key"], "order": m["order"],
        "schema": m["schema"].jsonValue(),
        "live": {str(k): v for k, v in sorted(m["live"].items())},
        "deltas": m["deltas"],
        "grace": [[d, g, ts] for d, g, ts in m["grace"]],
    })


def _referenced_dirs(m: dict) -> set[str]:
    """Every dir the manifest keeps: live buckets, deltas and grace
    copies. Anything else under the table root that looks like table
    data is a crashed writer's orphan or a released grace copy."""
    return (set(m["live"].values()) | set(m["deltas"])
            | {d for d, _, _ in m["grace"]})


def _prune_grace(grace: list, gen: int) -> tuple[list, list[str]]:
    """Apply the retention policy to a grace list: keep an entry while
    it is within ``GRACE_RETAIN_GENERATIONS`` commits of ``gen`` OR
    (when a time window is configured) younger than
    ``GRACE_RETAIN_SECONDS``. Returns (kept_list, released_dir_names) —
    the released dirs are exactly what the caller may reclaim. Pure
    (no filesystem access): callable from both the commit path and the
    entry recovery without re-listing anything."""
    now = time.time()
    kept: list = []
    dropped: list[str] = []
    for d, g, ts in grace:
        if g > gen - GRACE_RETAIN_GENERATIONS or (
                GRACE_RETAIN_SECONDS > 0
                and now - ts < GRACE_RETAIN_SECONDS):
            kept.append((d, g, ts))
        else:
            dropped.append(d)
    return kept, dropped


def _write_naive_read_guard(target_path: str, m: dict) -> None:
    """Drop the visible non-parquet tripwire file once any live bucket
    is a hidden epoch dir or any delta is live (see
    ``_NAIVE_READ_GUARD``). Idempotent; a crash before this write is
    healed by the next commit or entry recovery. Never written while
    every live dir is a visible ``_kb=`` name and no delta is live
    (there a root read still resolves the full table)."""
    if not m["deltas"] and not any(
            d.startswith(".kbe_") for d in m["live"].values()):
        return
    guard = os.path.join(target_path, _NAIVE_READ_GUARD)
    if os.path.exists(guard):
        return
    try:
        with open(guard, "w", encoding="utf-8") as fh:
            fh.write(
                "This bucketed KG table routes reads through its "
                "manifest (_kg_manifest): some committed rows live "
                "in hidden .kbe_* / .kgd_* directories that a raw "
                "directory listing cannot see, so a naive "
                "spark.read.parquet(<table root>) would silently "
                "return stale or partial rows. This deliberately "
                "non-parquet file makes such a read fail loudly "
                "instead. Read via "
                "dig_etl_engine_spark.sinks.kg_table.read_partitioned; "
                "scripts/maintain.py --check <table> "
                "reports the layout state.\n")
    except OSError:
        logger.warning("kg_table: could not write naive-read guard "
                       "under %s", target_path, exc_info=True)


def _fsync_tree(root: str) -> None:
    """fsync every file, then every directory, under ``root`` (bottom-
    up) — the data half of the durability contract. Spark writes staged
    parquet without fsync, so without this walk a power loss could
    persist the (fsynced) manifest or pointer while the files it names
    are torn or empty; with it the commit order is data → dirents →
    pointer, and a manifest can only name durable files. File fsync
    failures PROPAGATE (a file that cannot be made durable must not be
    referenced by the manifest — the batch fails and replays);
    directory fsync is best-effort like ``commit_pointer``'s
    parent-dirent flush (some filesystems reject it). Cost is O(files
    in the staged epochs) — the touched buckets, never the table."""
    for dirpath, _dirnames, filenames in os.walk(root, topdown=False):
        for fn in filenames:
            fd = os.open(os.path.join(dirpath, fn), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        try:
            fd = os.open(dirpath, os.O_RDONLY)
        except OSError:
            continue
        try:
            os.fsync(fd)
        except OSError:
            pass
        finally:
            os.close(fd)


def _sweep_unreferenced_buckets(target_path: str, m: dict) -> None:
    """Drop bucket and delta dirs the manifest does not reference (see
    :func:`_referenced_dirs`), plus orphaned manifest temp files. Safe
    by the manifest invariant: every committed dir is referenced, so
    unreferenced = a crashed writer's staged epoch or delta, or a
    pruned grace copy — all recomputable/superseded. Runs under the
    table lock, at every writer entry (the commit path reclaims its
    released grace dirs by name instead of listing the root). A dir or
    temp that cannot be removed now (an NFS silly-rename, EBUSY) stays
    unreferenced, so the next entry retries it."""
    referenced = _referenced_dirs(m)
    try:
        names = os.listdir(target_path)
    except OSError:
        return
    for name in names:
        if name.startswith(_DATA_DIR_PREFIXES) \
                and name not in referenced \
                and os.path.isdir(os.path.join(target_path, name)):
            shutil.rmtree(os.path.join(target_path, name),
                          ignore_errors=True)
    sweep_pointer_tmps(target_path, name=_MANIFEST)


def _commit_buckets(target_path: str, m: dict, new_dirs: dict[int, str],
                    *, deltas: list[str]) -> dict:
    """The bucketed table's linearization point: publish ``new_dirs``
    (bucket id → epoch dir name, already fully written under
    ``target_path``) and the delta list ``deltas`` with ONE atomic
    manifest replace onto ``m`` (the manifest the caller's entry
    recovery parsed — the whole read→write→commit runs under the table
    lock and nothing in between rewrites it, so it is exact), then
    reclaim the grace dirs this commit releases.

    Replaces the per-bucket rename-aside swap of the pre-r11
    bucketed table: that protocol had a between-renames instant per bucket
    where the bucket dir was absent and external readers saw a
    missing root; here data dirs never move after being written, only
    the manifest flips, so every resolve-time view is a complete
    committed set. Crash matrix: before the flip → target unchanged,
    staged dirs unreferenced (swept at next entry), the batch replays
    idempotently; after the flip → commit fully applied, superseded
    dirs sweep now or at next entry. The rewritten buckets' previous
    dirs and the deltas ``deltas`` no longer lists are kept as
    generation-stamped grace copies for in-flight readers (see the
    ``_MANIFEST`` doctrine above).

    Returns the committed manifest. Reclamation here is TARGETED: the
    retention prune (:func:`_prune_grace`) names exactly the grace dirs
    this commit releases, and only those are removed — no root
    listing, so the commit is O(touched dirs) in syscalls. Anything
    else unreferenced (a crashed writer's orphans, a released dir whose
    removal failed) is swept by the next writer entry's recovery
    (:func:`_recover_partitioned_swap`)."""
    gen = m["gen"] + 1
    now = time.time()
    live = dict(m["live"])
    grace = list(m["grace"])
    for n, d in new_dirs.items():
        if n in live:
            grace.append((live[n], gen, now))
        live[n] = d
    grace += [(d, gen, now) for d in m["deltas"] if d not in deltas]
    grace, released = _prune_grace(grace, gen)
    m = dict(m, gen=gen, live=live, deltas=deltas, grace=grace)
    commit_pointer(target_path, _dump_manifest(m), name=_MANIFEST)
    # reclaim exactly what the prune released (the flip above already
    # de-referenced them; readers within the retention window still
    # resolve pre-flip manifests whose dirs are all still referenced)
    for d in released:
        shutil.rmtree(os.path.join(target_path, d), ignore_errors=True)
    _write_naive_read_guard(target_path, m)
    return m


def _recover_partitioned_swap(target_path: str) -> dict | None:
    """Entry-time recovery for the bucketed table, shared by every
    mutating entry point (create, upsert, compaction, rebucket). There
    is no rollback protocol — the manifest flip is the linearization
    point — so recovery only sweeps: crashed writers' ``.upsert_tmp_*``
    staging, grace entries past the retention window (see the
    ``_MANIFEST`` doctrine), every dir the pruned manifest no longer
    references —
    crashed writers' staged epochs and deltas and expired grace copies
    alike — and orphaned manifest temp files. With no manifest yet,
    ``.kbe_*`` and ``.kgd_*`` dirs can only be a birth publisher that
    crashed before its flip: recomputable orphans, dropped. A retired
    format raises from :func:`_load_manifest`, and a missing table
    beside a stranded aside from :func:`_refuse_stranded_aside`,
    before anything is touched. The naive-read guard is healed last.

    This is the ONE recovery: every entry runs all of it, so whatever a
    crash or a failed removal left behind is retried by the next
    writer, and grace entries that expired by clock (with
    ``GRACE_RETAIN_SECONDS`` set) are reclaimed even by an entry that
    commits nothing. On a 64-bucket table with 15 deltas and 64 grace
    dirs it took about 0.3 ms on a 4-core host, against about a second
    for the upsert it precedes.

    Returns the table's parsed manifest as this recovery left it
    (post-prune; None when there is none) for the caller to REUSE
    instead of re-parsing.
    """
    if not os.path.isdir(target_path):
        _refuse_stranded_aside(target_path)
        return None
    m = _load_manifest(target_path)
    esc = glob_mod.escape(target_path)
    for stale in glob_mod.glob(os.path.join(esc, ".upsert_tmp_*")):
        shutil.rmtree(stale, ignore_errors=True)
    if m is None:
        for prefix in (".kbe_", ".kgd_"):
            for orphan in glob_mod.glob(os.path.join(esc, prefix + "*")):
                shutil.rmtree(orphan, ignore_errors=True)
        return None
    # prune expired grace (the rewrite keeps the generation — only data
    # commits advance it), then sweep what the pruned manifest no
    # longer references
    grace, _released = _prune_grace(m["grace"], m["gen"])
    if grace != m["grace"]:
        m["grace"] = grace
        commit_pointer(target_path, _dump_manifest(m), name=_MANIFEST)
    _sweep_unreferenced_buckets(target_path, m)
    _write_naive_read_guard(target_path, m)
    return m


def _publish_staged_buckets(target_path: str, staging: str, token: str,
                            *, manifest: dict,
                            expected: set[int] | None = None) -> dict:
    """Pure-filesystem commit of a fold (:func:`_fold_into_buckets`):
    move each staged ``_kb=<n>`` subdir to its immutable epoch name
    ``.kbe_<n>_<token>`` (renames of not-yet-referenced dirs — crashing
    here leaves only recomputable orphans, never a torn table), publish
    them ALL with one atomic manifest flip (:func:`_commit_buckets`)
    that also retires every delta of ``manifest`` (the fold read them),
    then sweep the staging residue (``_SUCCESS`` marker), and return
    the manifest the table is left with. Contrast with
    the retired per-bucket rename-aside swap: there is no per-bucket
    missing-dir instant and no rollback path — the flip either happened
    (commit fully applied) or it didn't (table unchanged; the batch
    replays idempotently). Module-level so the crash-fuzz suite can
    inject faults without a Spark write per iteration.

    ``expected`` (the buckets the fold read back) is the
    placement-invariant tripwire: a staged bucket OUTSIDE it means
    rows read from a live directory re-hashed into a bucket whose
    incumbent rows were never read — publishing it would REPLACE that
    bucket's live dir and silently drop those rows (reachable only on
    a table whose stored rows violate key↔directory placement, e.g. a
    data file copied into the wrong bucket dir by hand). Refusing
    BEFORE any rename leaves
    the table untouched and the staging sweepable; the fix is
    ``rebucket_partitioned``, which rewrites every row under one
    hash."""
    staged_dirs = sorted(glob_mod.glob(
        os.path.join(glob_mod.escape(staging), "_kb=*")))
    ids = [int(os.path.basename(d).split("=", 1)[1])
           for d in staged_dirs]
    if expected is not None:
        rogue = sorted(set(ids) - set(expected))
        if rogue:
            raise ValueError(
                f"{target_path}: folded rows hash into bucket(s) "
                f"{rogue} that the fold never read back — stored rows "
                f"in the folded directories hash outside their own "
                f"bucket (placement-invariant violation: a data file "
                f"was moved or written outside the table protocol). "
                f"Publishing would silently drop those buckets' "
                f"incumbent rows; run rebucket_partitioned on "
                f"{target_path} to rewrite the table under one hash.")
    # data durability BEFORE the manifest may reference it: flush the
    # staged files (Spark writes them without fsync) so the commit
    # order is data → dirents → pointer — see _fsync_tree
    for staged in staged_dirs:
        _fsync_tree(staged)
    new_dirs: dict[int, str] = {}
    for staged, kbv in zip(staged_dirs, ids):
        name = f".kbe_{kbv}_{token}"
        os.rename(staged, os.path.join(target_path, name))
        new_dirs[kbv] = name
    m = manifest
    if new_dirs or m["deltas"]:
        m = _commit_buckets(target_path, m, new_dirs, deltas=[])
    shutil.rmtree(staging, ignore_errors=True)  # _SUCCESS marker etc.
    return m


def _publish_delta(target_path: str, name: str, *, manifest: dict) -> None:
    """Pure-filesystem commit of one upserted micro-batch: fsync the
    delta dir ``name`` (already fully written under ``target_path``,
    never read until referenced), append it to the manifest's delta
    list with one atomic manifest flip (:func:`_commit_buckets` — no
    bucket changes). A crash before the flip leaves an unreferenced
    delta, swept at the next entry, and the batch replays
    idempotently; after the flip the batch is applied."""
    _fsync_tree(os.path.join(target_path, name))
    _commit_buckets(target_path, manifest, {},
                    deltas=manifest["deltas"] + [name])


def upsert_partitioned(spark: SparkSession, target_path: str,
                       batch: DataFrame, *, key_col: str = "doc_id",
                       order_col: str = "kafka_offset",
                       buckets: int | None = None,
                       lock_timeout: float = 300.0) -> None:
    """K2: MERGE the batch into the hash-bucket-partitioned KG table by
    key — the one way rows get into a KG table. Stored rows keep their
    ``order_col`` and compete with the batch under the same
    last-write-wins rule, so the table is a pure function of (key,
    order), independent of how a stream chopped the records into
    micro-batches, and batch replays are idempotent. The whole
    entry→write→commit runs under :func:`table_lock` (see there for the
    lost-update scenario it closes — the overlap partner is a second
    ingest or a nightly ``compact_partitioned``/
    ``rebucket_partitioned`` run against a live ingest).

    Merge-on-read (the on-disk format is in the module docstring): the
    batch is aligned to the table's schema, deduplicated by
    last-write-wins, and written as ONE immutable delta dir
    (``.kgd_<token>``), fsynced and committed by appending it to the
    manifest's ``deltas`` list in one atomic manifest replace
    (:func:`_publish_delta`). No bucket is read or rewritten, so a
    batch costs O(batch), not O(touched buckets); ``read_partitioned``
    resolves last-write-wins over buckets ∪ deltas. When the table
    already holds ``_MAX_DELTAS - 1`` deltas, or nothing live (a birth:
    an absent path, or a table :func:`create_table_if_not_exists`
    made), the batch is folded into the buckets together with any
    deltas instead (:func:`_fold_into_buckets` — the one code path that
    writes bucket dirs, shared with :func:`compact_partitioned` and
    :func:`rebucket_partitioned`). Every crash point
    leaves the table serving a complete committed state: before the
    flip the batch simply hasn't happened (its staged dirs are
    unreferenced orphans, swept at the next entry) and replays
    idempotently; after the flip it is fully applied. There is no
    rollback path and no per-bucket missing-directory instant. Delta's
    MERGE is the production drop-in (same semantics, real commit log).

    The bucket count, the key and order columns and the schema are
    TABLE properties, stamped into the manifest at birth (by
    :func:`create_table_if_not_exists`, or by an upsert into an absent
    path, which takes the batch's schema). Every batch is aligned to
    the manifest's schema, and a batch-only new column is refused.
    ``buckets`` is only the birth count (64 when None): later calls use
    the manifest's value, and log an explicit argument that differs
    from it (merging under a different count
    would place the same keys in different buckets and
    ``read_partitioned`` would return duplicate keys; grow an outscaled
    table with :func:`rebucket_partitioned`). A ``key_col`` or
    ``order_col`` that differs from the manifest's raises
    ``ValueError`` naming both, and so does a birth ``buckets`` below 1.

    A retired on-disk format (see :func:`_load_manifest`), or a missing
    table beside an aside an older build stranded (see
    :func:`_refuse_stranded_aside`), raises ``ValueError`` before
    anything on disk changes."""
    with table_lock(target_path, timeout=lock_timeout):
        _upsert_partitioned_locked(spark, target_path, batch,
                                   key_col=key_col, order_col=order_col,
                                   buckets=buckets)


def _bucket_expr(df: DataFrame, key_col: str, buckets: int):
    """``_kb = pmod(xxhash64(key), buckets)`` with the key WIDENED to a
    canonical per-family type first (integral → BIGINT, float →
    DOUBLE; shared with the Bloom filter via ``functions/hashkey.py``).
    xxhash64 hashes INT and BIGINT differently for equal values, so
    without widening a batch whose key column arrives narrower than the
    original writer's would bucket the SAME logical keys into DIFFERENT
    ``_kb=`` directories — the partitioned merge then reads the wrong
    partitions and last-write-wins silently keeps both rows (the r7
    external-review bloom finding, same class; closed here
    proactively). Every writer and re-bucketer of a table MUST go
    through this one expression, built from the dataframe the
    expression is APPLIED to (an expression built from another frame's
    schema would pick the cast from the wrong dtype)."""
    from dig_etl_engine_spark.functions.hashkey import widen_for_hash

    key = widen_for_hash(F.col(key_col),
                         df.schema[key_col].dataType.simpleString())
    return F.pmod(F.xxhash64(key), F.lit(buckets)).cast("int")


_INT_WIDTHS = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
_FLT_WIDTHS = {"float": 1, "double": 2}


def _num_family(t: str) -> str | None:
    if t in _INT_WIDTHS:
        return "integral"
    if t in _FLT_WIDTHS:
        return "fractional"
    return None


def _align_to_table(batch: DataFrame, ref_schema, *,
                    target_path: str) -> DataFrame:
    """Cast the batch's common columns to the TABLE's exact types — the
    bucketed table's schema is a cross-bucket contract (r9).

    The hazard this closes (found by the r9 migration golden): the
    partitioned merge rewrites only the TOUCHED buckets, so a batch
    column arriving WIDER than the table's (bigint vs int) used to
    coerce the union up and rewrite those buckets at the wider parquet
    type — the table became cross-bucket schema-inconsistent and
    ``read_partitioned`` failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH
    on the next read touching both widths.

    Same-family numeric drift aligns via a GUARDED ``try_cast``: a
    value that does not fit the table's type raises at execution
    (deployment-independent — a plain cast wraps silently under
    ansi=false and throws under ansi=true), everything else lands at
    the table's birth type so every bucket file keeps one schema.
    Cross-family drift and batch-only NEW columns are refused — adding
    a column to a bucketed table is a full-table rewrite, not a merge.
    Columns MISSING from the batch stay fine (the union fills nulls
    and the rewrite keeps the full table schema). Fractional
    down-casts (double→float) lose precision by construction; the
    table's birth type is the declared contract, same as any fixed
    parquet schema — but a FINITE double overflowing to float
    ±Infinity is a misencoding, not a precision loss, and raises like
    the integral overflow does (``try_cast`` alone cannot see it:
    double→float overflow yields Inf, not NULL — r9 round-close
    review)."""
    ref_types = {f.name: f.dataType.simpleString()
                 for f in ref_schema.fields if f.name != "_kb"}
    extra = [c for c in batch.columns if c not in ref_types]
    if extra:
        raise ValueError(
            f"upsert_partitioned: batch adds column(s) {extra} not "
            f"present in the bucketed table {target_path} — a per-bucket "
            "merge would leave the new column in touched buckets only "
            "(a cross-bucket schema mix read_partitioned cannot "
            "resolve). Adding a column is a full-table rewrite: "
            "read_partitioned → withColumn → write to a fresh path.")
    exprs = []
    drift = False
    for c in batch.columns:
        t_b = batch.schema[c].dataType.simpleString()
        t_t = ref_types[c]
        if t_b == t_t:
            exprs.append(F.col(c))
            continue
        if _num_family(t_b) is None or _num_family(t_b) != _num_family(t_t):
            raise ValueError(
                f"upsert_partitioned: batch column {c}:{t_b} cannot "
                f"merge into the table's {c}:{t_t} at {target_path} "
                "(cross-family or unsupported type drift) — cast the "
                "batch explicitly to the table's type.")
        drift = True
        tc = F.col(c).try_cast(t_t)
        # try_cast yields NULL on integral overflow, but double→float
        # overflow yields ±Infinity (verified on Spark 4.1.2) — guard a
        # FINITE source turning infinite separately
        does_not_fit = F.col(c).isNotNull() & tc.isNull()
        if t_t in _FLT_WIDTHS:
            inf = F.lit(float("inf"))
            does_not_fit = does_not_fit | (
                (F.abs(tc) == inf) & (F.abs(F.col(c)) != inf))
        exprs.append(
            F.when(does_not_fit,
                   F.raise_error(F.lit(
                       f"upsert_partitioned: a value in batch column "
                       f"{c} ({t_b}) does not fit the table's {t_t} — "
                       f"the bucketed table keeps its birth type; fix "
                       f"the value or rewrite the table at a wider "
                       f"type.")))
            .otherwise(tc).cast(t_t).alias(c))
    return batch.select(*exprs) if drift else batch


def _check_key_family(batch_schema: T.StructType,
                      table_schema: T.StructType, key_col: str) -> None:
    """Reject a batch whose key type cannot hash-agree with the stored
    table's: cross-family (string vs bigint — the union would silently
    coerce to string while the bucket hashes diverge, leaving duplicate
    keys across partitions). Same-family width drift is fine: the
    widened hash maps both widths to one canonical type."""
    from dig_etl_engine_spark.functions.hashkey import canonical_hash_type

    b_t = batch_schema[key_col].dataType.simpleString()
    t_t = table_schema[key_col].dataType.simpleString()
    if canonical_hash_type(b_t) != canonical_hash_type(t_t):
        raise ValueError(
            f"upsert_partitioned: batch key {key_col}:{b_t} cannot "
            f"hash-agree with the table's {key_col}:{t_t} (cross-family)"
            " — the merge would bucket the same logical keys into "
            "different partitions and silently keep duplicates. "
            "Cast the batch key explicitly.")


def _check_lww_columns(target_path: str, m: dict, key_col: str,
                       order_col: str | None = None) -> None:
    """Refuse a ``key_col``/``order_col`` argument that differs from the
    manifest's: the last-write-wins columns are fixed at birth, and
    merging or reading under others would keep duplicate keys or let
    the wrong row win."""
    for arg, val, stored in (("key_col", key_col, m["key"]),
                             ("order_col", order_col, m["order"])):
        if val is not None and val != stored:
            raise ValueError(
                f"{target_path}: {arg}={val!r} differs from the "
                f"manifest's {stored!r} — a table's key and order "
                "columns are fixed at birth. Pass "
                f"{arg}={stored!r}, or upsert_partitioned the rows into "
                "a fresh table.")


def _upsert_partitioned_locked(spark: SparkSession, target_path: str,
                               batch: DataFrame, *, key_col: str,
                               order_col: str,
                               buckets: int | None) -> None:
    # recovery FIRST: it returns the table's parsed manifest (the one
    # parse this entry pays)
    m = _recover_partitioned_swap(target_path)
    if m is not None:
        _check_lww_columns(target_path, m, key_col, order_col)
        if buckets is not None and buckets != m["buckets"]:
            logger.warning(
                "upsert_partitioned: table %s is bucketed %d-way; "
                "ignoring buckets=%d argument (rebucket_partitioned "
                "changes the count)", target_path, m["buckets"], buckets)
        # The manifest's schema is the table's contract: check the
        # key's hash-compatibility against it, then align the batch to
        # its EXACT types (r9, found by the migration golden): letting
        # a union coerce a wider batch column up would write parquet
        # files of a different type and leave the table
        # schema-inconsistent — see _align_to_table. Post-alignment,
        # batch and table hash from one key dtype.
        _check_key_family(batch.schema, m["schema"], key_col)
        batch = _align_to_table(batch, m["schema"],
                                target_path=target_path)
    b = dedupe_last_write_wins(batch, key_col, order_col)
    if m is None:
        m = _new_manifest(b.schema, buckets=64 if buckets is None
                          else buckets, key=key_col, order=order_col)
    # a birth (nothing live: an absent path or a created table) lands
    # its batch in the buckets, like every _MAX_DELTAS-th upsert
    if not m["live"] or len(m["deltas"]) + 1 >= _MAX_DELTAS:
        _fold_into_buckets(spark, target_path, m, b)
    else:
        name = f".kgd_{uuid.uuid4().hex[:8]}"
        b.write.parquet(os.path.join(target_path, name))
        if _parquet_rows(os.path.join(target_path, name)):
            # m is still exact: we hold the table lock and nothing
            # since the entry recovery rewrote the manifest
            _publish_delta(target_path, name, manifest=m)
        else:
            # an empty micro-batch commits nothing
            shutil.rmtree(os.path.join(target_path, name),
                          ignore_errors=True)


def _parquet_rows(path: str) -> int:
    """Rows in the parquet files directly under ``path``, from their
    footers — a driver-side read, no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _fold_into_buckets(spark: SparkSession, target_path: str, m: dict,
                       incoming: DataFrame | None = None,
                       rewrite: frozenset[int] = frozenset()) -> dict:
    """The one code path that writes bucket dirs: fold ``incoming`` (a
    deduplicated batch aligned to the table, or None) and every delta
    ``m`` lists into the buckets, rewrite the live buckets ``rewrite``
    names whether or not a row lands in them, and return the committed
    manifest. Callers: :func:`upsert_partitioned` at a birth (``m``
    with nothing live: a :func:`_new_manifest`, or the generation-0
    manifest :func:`create_table_if_not_exists` committed) and once a
    table holds ``_MAX_DELTAS - 1`` deltas (``rewrite`` empty),
    :func:`compact_partitioned` (the deltas, and the fragmented
    buckets as ``rewrite``) and :func:`rebucket_partitioned` (every
    old dir as a delta of a table with nothing live).

      1. incoming ∪ deltas is bucketed, deduplicated, and its touched
         bucket ids collected (≤ ``buckets`` values — a driver-safe
         list);
      2. only the live dirs of those buckets and of ``rewrite`` are
         read back (the pruning is structural: other dirs are never
         opened), with the manifest's schema rather than one inferred
         from footers;
      3. last-write-wins merges them with step 1's rows (a live dir
         read back with no incoming row or delta is written as it
         is: its rows are already unique);
      4. the merged buckets are written to a dot-prefixed staging dir
         inside the table and published by
         :func:`_publish_staged_buckets`: each moves to an immutable
         hidden epoch dir (``.kbe_<n>_<token>``), and ONE atomic
         manifest replace makes them live and retires the folded
         deltas. Superseded bucket dirs and folded deltas become grace
         entries.

    Step 4 deliberately avoids Spark's dynamic partition overwrite: its
    job commit deletes each touched partition directory before moving
    the staged one in, so a driver crash mid-commit loses the
    pre-existing rows of that bucket with no recovery artifact."""
    key, order, buckets = m["key"], m["order"], m["buckets"]
    b = incoming
    if m["deltas"]:
        deltas = spark.read.schema(m["schema"]).parquet(
            *[os.path.join(target_path, d) for d in m["deltas"]])
        b = deltas if b is None else \
            b.unionByName(deltas, allowMissingColumns=True)
    if b is not None:
        b = dedupe_last_write_wins(
            b.withColumn("_kb", _bucket_expr(b, key, buckets)), key, order)
    touched = None
    if m["live"]:
        touched = set(rewrite)
        if b is not None:
            touched |= {r[0] for r in b.select("_kb").distinct().collect()}
        touched_dirs = [os.path.join(target_path, m["live"][n])
                        for n in sorted(touched) if n in m["live"]]
        if touched_dirs:
            existing = (spark.read.schema(m["schema"])
                        .parquet(*touched_dirs))
            existing = existing.withColumn(
                "_kb", _bucket_expr(existing, key, buckets))
            b = existing if b is None else dedupe_last_write_wins(
                existing.unionByName(b, allowMissingColumns=True),
                key, order)
    token = uuid.uuid4().hex[:8]
    staging = os.path.join(target_path, f".upsert_tmp_{token}")
    # one task per bucket writes one file per bucket: the dedupe's
    # shuffle leaves each bucket spread over several tasks, and every
    # bucket it wrote would be left fragmented for compaction to
    # rewrite again
    b.repartition("_kb").write.partitionBy("_kb").parquet(staging)
    # the tripwire set: every staged bucket must be one the fold read
    # back (= touched) — on a birth write or a rebucket nothing is live,
    # so there are no incumbents to protect
    return _publish_staged_buckets(target_path, staging, token,
                                   manifest=m, expected=touched)


def compact_partitioned(spark: SparkSession, target_path: str, *,
                        lock_timeout: float = 300.0) -> int:
    """Fold the table's deltas into its buckets and rewrite every live
    bucket that holds more than one parquet file, in ONE fold
    (:func:`_fold_into_buckets`, with the fragmented buckets as its
    ``rewrite`` set): one Spark job chain, however many buckets it
    rewrites, and one atomic manifest flip (:func:`_commit_buckets`).
    The fold writes one file per bucket and leaves a table with no
    deltas, so reads stop paying the last-write-wins shuffle; buckets
    neither a delta nor fragmentation touches keep their exact dirs.
    Returns the number of buckets rewritten (0, committing nothing,
    when there is no delta and no fragmented bucket).

    The rewritten buckets are hidden immutable epoch directories
    (``.kbe_<n>_<token>`` — never read until referenced), published
    by the one flip (verdict r10 item 2 — the ES alias-swap contract:
    the index never serves a 404 mid-reindex). A call commits at most
    one generation, so each superseded dir and folded delta is a
    generation-stamped grace copy that a reader resolved before the
    call keeps for the whole retention window. There is NO crash
    window in which a bucket is missing: before the flip the table
    serves its exact previous state (orphan epochs are swept at the
    next entry); after it the compaction is fully applied.

    Writer exclusion is ENFORCED via :func:`table_lock` (a concurrent
    upsert could otherwise commit a delta between this function's read
    and its flip, losing the upsert — with the lock it simply waits).
    Readers need no coordination: :func:`read_partitioned` resolves the
    manifest in one atomic pointer read. A raw ``spark.read.parquet``
    at the table root is NOT the read API: it cannot see the hidden
    dirs, and the ``KG_NAIVE_READ_GUARD`` tripwire makes it fail
    loudly. Delta's OPTIMIZE is the managed-table equivalent of this
    commit shape.

    A retired on-disk format raises ``ValueError`` before anything on
    disk changes (see :func:`_load_manifest`).
    """
    with table_lock(target_path, timeout=lock_timeout):
        # the shared entry recovery sweeps orphans/expired grace; its
        # parsed manifest is reused instead of a second parse
        m = _recover_partitioned_swap(target_path)
        if m is None:
            return 0
        fragmented = frozenset(
            n for n, d in m["live"].items()
            if sum(f.endswith(".parquet") for f in
                   os.listdir(os.path.join(target_path, d))) > 1)
        if not m["deltas"] and not fragmented:
            return 0
        before = m["live"]
        m = _fold_into_buckets(spark, target_path, m, rewrite=fragmented)
        return sum(before.get(n) != d for n, d in m["live"].items())


def rebucket_partitioned(spark: SparkSession, target_path: str,
                         new_buckets: int, *,
                         key_col: str = "doc_id",
                         lock_timeout: float = 300.0) -> int:
    """Change a partitioned KG table's bucket count — the maintenance op
    for a table that outgrew its birth layout. Bucket SIZE, not bucket
    count, is what should stay constant as a table grows: a 64-bucket
    table that was right at 1 TB has 100× oversized buckets at 100 TB
    (each fold rewrites whole buckets), so growth is periodic
    rebucketing, exactly like re-sharding a key-value store.

    One fold (:func:`_fold_into_buckets`) inside the table: the live
    buckets' plain scan and the deltas, read as the deltas of a table
    with ``new_buckets`` buckets and nothing live, are bucketed under
    the new count, deduplicated and written to hidden ``.kbe_`` epochs.
    One manifest flip then publishes them with the new ``buckets``, and
    every dir the old manifest referenced becomes a grace entry — so a
    reader that resolved the old manifest keeps complete rows, a crash
    before the flip leaves the table as it was (orphan epochs are swept
    at the next entry), and no dir ever sits beside the table. Enters
    through the shared entry recovery and runs under
    :func:`table_lock` (writer exclusion against live upserts). Returns
    the row count of the rebucketed table, read from the new epochs'
    parquet footers (no Spark job).

    The rebucketed table keeps the manifest's key, order and schema and
    holds no deltas. Every row is rehashed, so this is also the repair
    for a table whose stored rows violate key↔bucket placement. A
    created table that holds no row commits just the new count. A table
    with no manifest raises ``ValueError``, and so does a ``key_col``
    that differs from the manifest's, and a ``new_buckets`` below 1.
    """
    with table_lock(target_path, timeout=lock_timeout):
        m = _recover_partitioned_swap(target_path)
        if m is None:
            raise ValueError(
                f"rebucket_partitioned: {target_path} has no {_MANIFEST}"
                " — there is no bucketed table to rebucket. "
                "create_table_if_not_exists or upsert_partitioned "
                "creates one.")
        _check_lww_columns(target_path, m, key_col)
        # under the new count no old dir is a bucket: each joins the
        # deltas, so the fold's flip moves every one of them to grace
        old = [d for _, d in sorted(m["live"].items())] + m["deltas"]
        m = dict(_new_manifest(m["schema"], buckets=new_buckets,
                               key=m["key"], order=m["order"]),
                 gen=m["gen"], grace=m["grace"], deltas=old)
        if not old:
            # a created table with no row: nothing to fold
            _commit_buckets(target_path, m, {}, deltas=[])
            return 0
        m = _fold_into_buckets(spark, target_path, m)
        return sum(_parquet_rows(os.path.join(target_path, d))
                   for d in m["live"].values())


def layout_report(target_path: str) -> dict:
    """Read-only layout diagnosis of a KG table for
    ``scripts/maintain.py --check`` (verdict r11 item 3): classifies
    the table (``absent`` / ``manifest`` / ``retired``), counts visible
    vs hidden live dirs and live deltas, and returns ``findings`` —
    human-readable anomaly strings, empty on a healthy table. Hidden
    epochs and deltas are the layout every writer produces, so they
    are no finding; these are: a missing table, a hidden live dir or
    delta without the naive-read guard file, unreferenced bucket and
    delta dirs, stray flat parquet files beside a manifest, an older
    build's ``<table>.rebucket_tmp.*``, ``<table>.rebucket_old``,
    ``<table>.__tmp__*`` or ``<table>.__seed__*`` sibling beside the
    table, and a retired on-disk format (a finding, not an error).
    Takes no lock and
    mutates nothing — safe against a live ingest (the counts are a
    snapshot; only the classification is load-bearing). A torn
    manifest still raises (the caller reports it as unreadable)."""
    import json

    report: dict = {"path": target_path, "era": "absent",
                    "findings": []}
    if not os.path.isdir(target_path):
        report["findings"].append("table directory does not exist")
        return report
    esc = glob_mod.escape(target_path)
    siblings = sorted(
        glob_mod.glob(esc + ".rebucket_tmp.*")
        + glob_mod.glob(esc + ".rebucket_old")
        + glob_mod.glob(esc + ".__tmp__*")
        + glob_mod.glob(esc + ".__seed__*"))
    if siblings:
        report["findings"].append(
            f"{len(siblings)} sibling dir(s) an older build's swap or "
            "seed left "
            f"beside the table ({', '.join(siblings[:3])}"
            f"{', ...' if len(siblings) > 3 else ''}): nothing reads "
            "or sweeps them; remove them once the table reads correctly")
    names = os.listdir(target_path)
    try:
        m = _load_manifest(target_path)
    except json.JSONDecodeError:
        raise
    except ValueError as ex:
        report["era"] = "retired"
        report["findings"].append(str(ex))
        return report
    if m is None:
        report["findings"].append(
            f"table directory holds no {_MANIFEST}")
        litter = [n for n in names
                  if n.startswith((".upsert_tmp_", ".kbe_", ".kgd_"))]
        if litter:
            report["findings"].append(
                f"crashed-writer litter: {sorted(litter)[:5]} — swept "
                "by the next mutating entry's recovery")
        return report
    report["era"] = "manifest"
    report["gen"] = m["gen"]
    report["buckets"] = m["buckets"]
    hidden = {n: d for n, d in m["live"].items()
              if d.startswith(".kbe_")}
    visible = {n: d for n, d in m["live"].items() if n not in hidden}
    report["live_hidden"] = len(hidden)
    report["live_visible"] = len(visible)
    report["deltas"] = len(m["deltas"])
    report["grace_dirs"] = len(m["grace"])
    guard = _NAIVE_READ_GUARD in names
    report["guard_present"] = guard
    if (hidden or m["deltas"]) and not guard:
        report["findings"].append(
            f"naive-read guard file {_NAIVE_READ_GUARD} missing beside "
            f"{len(hidden)} hidden live bucket(s) and "
            f"{len(m['deltas'])} hidden delta(s): a raw "
            "spark.read.parquet(root) would silently serve "
            "stale/partial rows; the next commit or writer entry "
            "restores it")
    referenced = _referenced_dirs(m)
    orphans = [n for n in names
               if n.startswith(_DATA_DIR_PREFIXES)
               and n not in referenced
               and os.path.isdir(os.path.join(target_path, n))]
    if orphans:
        n_delta = sum(n.startswith(".kgd_") for n in orphans)
        report["findings"].append(
            f"{len(orphans)} unreferenced bucket or delta dir(s), "
            f"{n_delta} of them .kgd_ delta(s) (crashed writer's "
            "orphans or expired grace): swept at the next writer entry")
    flat = [f for f in names if f.endswith(".parquet")]
    if flat:
        report["findings"].append(
            f"{len(flat)} stray flat parquet file(s) at the root of a "
            "manifest table: an older build's first-upsert migration "
            "committed their rows and crashed before deleting them; "
            "nothing reads or folds them in — remove them")
    return report


def read_partitioned(spark: SparkSession, target_path: str) -> DataFrame:
    """Read a partitioned KG table without the internal bucket column.
    One atomic pointer read of the manifest names the live bucket dirs
    and deltas, so a concurrent upsert/compaction never makes rows
    transiently invisible. They are read by explicit path with the
    manifest's schema — no footer inference, no Spark job at
    construction — so nothing else under the table root mixes into
    the read. With no deltas this is the plain
    scan of the buckets; with deltas it is
    :func:`dedupe_last_write_wins` over buckets ∪ deltas on the
    manifest's key and order columns (a shuffle, until a fold leaves
    the table without deltas).

    A table :func:`create_table_if_not_exists` made reads as zero rows
    with the manifest's schema. Every writer, rebucketing included,
    publishes by one manifest flip inside the table, so there is no
    moment at which the table dir is missing. A path with no manifest,
    a retired on-disk format (see :func:`_load_manifest`) and a missing
    table beside an older build's stranded aside (see
    :func:`_refuse_stranded_aside`) raise ``ValueError``."""
    _refuse_stranded_aside(target_path)
    m = _load_manifest(target_path)
    if m is None:
        raise ValueError(
            f"read_partitioned: {target_path} has no {_MANIFEST} — no "
            "KG table here. create_table_if_not_exists or "
            "upsert_partitioned creates one.")
    # explicit per-dir roots (no basePath): no _kb partition column is
    # inferred, and hidden dirs read like visible ones
    dirs = [d for _, d in sorted(m["live"].items())] + m["deltas"]
    df = spark.read.schema(m["schema"]).parquet(
        *[os.path.join(target_path, d) for d in dirs])
    if not m["deltas"]:
        return df
    return dedupe_last_write_wins(df, m["key"], m["order"])


def write_jsonlines(df: DataFrame, path: str, *,
                    compression: str | None = None) -> None:
    """K4: JSON-lines export (`.jl` / `.jl.gz`); one file per partition —
    ``coalesce(1)`` first when a single upload-shaped file is required."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
