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
    ``.kbe_<bucket>_<token>`` written by folds and compactions, or
    visible ``_kb=<bucket>`` dirs on a table born by
    ``rebucket_partitioned``;
  * delta dirs — immutable hidden ``.kgd_<token>`` dirs, one per
    upserted micro-batch, listed in commit order under ``deltas`` until
    a fold moves their rows into buckets;
  * ``.kg_swept_gen`` — the advisory swept-generation sidecar;
  * ``KG_NAIVE_READ_GUARD`` — present while any live dir or delta is
    hidden.

``upsert_partitioned`` is the only way rows get into a table. A table
with no manifest is flat — a ``create_table_if_not_exists`` seed, or a
table an older build wrote with rows — and migrates on its first
``upsert_partitioned``.
``_kb=`` dirs without a manifest, and a manifest that is not v3 with a
bucket count and the widened hash, are retired formats: every entry
point refuses them with a ``ValueError`` and leaves their files alone.
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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)


class TableLockTimeout(RuntimeError):
    """Another writer holds the table's advisory lock and did not
    release it within the timeout."""


# --------------------------------------------------------------------------
# Pointer-file commit — the one-rename publication primitive shared by every
# multi-file swap in the engine (BM25 stats epochs in ``functions/kg.py``,
# the bucketed table's manifest below). The ES-alias-swap analog
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


def sweep_pointer_tmps(root: str, *, name: str = "_CURRENT") -> bool:
    """Drop orphaned pointer temp files left by a writer that crashed
    between its payload write and its ``os.replace`` — recomputable by
    construction. Writer-entry-time only (runs under the table lock).
    Returns True only when every matching temp is actually gone, so a
    caller's "fully swept" verdict can fold it in (an undeletable tmp
    must not be stamped over and shielded by the fast path — round-12
    review, second pass)."""
    clean = True
    for stale in glob_mod.glob(
            os.path.join(glob_mod.escape(root), f".{name}.tmp.*")):
        try:
            os.remove(stale)
        except OSError:
            pass
        clean &= not os.path.exists(stale)
    return clean


def _rmtree_verified(path: str) -> bool:
    """``shutil.rmtree(ignore_errors=True)`` + verify: returns True only
    when ``path`` is actually gone afterwards. The ONE idiom behind
    every "stamp only when clean" site — reclamation that silently
    fails (NFS silly-rename, EBUSY) must read as not-clean so the
    swept-gen sidecar stays unstamped and the next entry retries
    (round-12 review)."""
    shutil.rmtree(path, ignore_errors=True)
    return not os.path.isdir(path)


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


def _is_table_dir(path: str) -> bool:
    """True when ``path`` is a directory carrying any committed-table
    marker — the ONE definition of "a table exists here", shared by the
    bootstrap existence check and the seed's refuse-to-delete guard so
    the two can never drift apart (drift would let the seed rmtree a
    dir the caller considers a committed table)."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") or f == "_SUCCESS"
        or f.startswith("_kb=")       # bucket dirs (even a retired
        or f == _MANIFEST             # layout) ARE a table: never seed
        for f in os.listdir(path))


def _contains_null_type(dt: T.DataType) -> bool:
    """True when the type (recursively) contains NullType — Spark's
    parquet writer rejects void columns loudly, and the seed path must
    not be WIDER than the writer it replaces (pyarrow would happily
    write a null-typed column, deferring the failure to the first real
    upsert of a now-committed broken table)."""
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


def _write_empty_seed(path: str, schema: T.StructType) -> None:
    """Driver-side zero-row parquet seed — no Spark job. The footer
    carries the same ``org.apache.spark.sql.parquet.row.metadata`` key a
    Spark writer embeds (the catalyst StructType JSON), so a later
    ``spark.read.parquet`` restores EXACTLY the pinned schema — not the
    parquet-type fallback conversion — just as if Spark had written the
    seed itself. Build-aside (uuid-suffixed, module convention) +
    atomic rename; staged bytes fsynced before the rename via
    :func:`_fsync_tree` and the parent dirent flushed after it (both
    gated on ``FSYNC_STAGED_DATA`` — an unflushed dirent orders nothing
    when the data beneath it was never flushed), the same
    data-before-publish ordering as the bucketed commit. NullType
    anywhere in the schema raises up front so the caller's Spark
    fallback reproduces the old loud bootstrap error.

    Caller contract: runs under ``table_lock`` (the bootstrap in
    :func:`create_table_if_not_exists` takes it), so the entry-time
    staging sweep can only ever reclaim a CRASHED predecessor's dir,
    never a live peer's mid-write staging — all creators serialize on
    the lock. The marker refusal below stays as defense in depth for
    any out-of-band caller."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if _contains_null_type(schema):
        raise ValueError("void column in seed schema — Spark's parquet "
                         "writer would reject it; let the fallback say so")
    arrow = to_arrow_schema(schema).with_metadata(
        {b"org.apache.spark.sql.parquet.row.metadata":
         schema.json().encode()})
    # reclaim crashed predecessors' staging dirs (recomputable garbage;
    # same entry-time sweep discipline as the bucketed table's
    # .upsert_tmp_* staging, and like that sweep it runs under the
    # table lock)
    for stale in glob_mod.glob(glob_mod.escape(path) + ".__seed__*"):
        shutil.rmtree(stale, ignore_errors=True)
    if os.path.isdir(path):
        if _is_table_dir(path):
            # a committed table is already here (an out-of-band creator,
            # or a caller that skipped the existence check) — refuse
            # rather than delete it (the old Spark mode('overwrite')
            # write WOULD have deleted it; the caller's except path
            # re-checks and returns False)
            raise FileExistsError(path)
        shutil.rmtree(path)          # stray non-table dir: mirror overwrite
    tmp = path + f".__seed__{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        pq.write_table(arrow.empty_table(),
                       os.path.join(tmp, "part-00000-seed.snappy.parquet"),
                       compression="snappy")
        open(os.path.join(tmp, "_SUCCESS"), "wb").close()
        _fsync_tree(tmp)
        os.rename(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # don't leak the aside
        raise
    if FSYNC_STAGED_DATA:            # order the rename like commit_pointer
        _fsync_dirent(os.path.dirname(path))


def create_table_if_not_exists(spark: SparkSession, path: str,
                               schema: T.StructType) -> bool:
    """K3: bootstrap an empty table with a pinned schema; returns True if
    created. Pinning the schema up front (like the ES mapping PUT) stops
    the first writer's inferred types from becoming the contract.

    The seed is written on the driver (:func:`_write_empty_seed`) — an
    empty-DataFrame Spark write costs a full job (task scheduling + the
    Hadoop commit protocol, ~0.9 s on the bench host) purely to emit a
    zero-row file; guide §5 (the driver should do almost no data work —
    and scheduling a cluster job to write 0 rows is the inverse). Types
    the Arrow converter cannot express fall back to the Spark write.

    Creation is serialized under :func:`table_lock`, like every other
    mutating entry point in this module — exclusion closes the
    concurrent-creation TOCTOU wholesale (the existence re-check, the
    staging sweep, the seed rename AND the destructive
    ``mode('overwrite')`` fallback job all run while no peer can
    mutate the table), instead of point-patching each window. The
    except-path re-check stays as defense in depth against creators
    that bypass this function.

    A missing table beside an older build's stranded ``<table>.__old__``
    aside raises ``ValueError`` before anything is created: a seed there
    would hide the only complete copy from every later refusal."""
    if _is_table_dir(path):           # cheap lock-free fast path: the
        return False                  # common case is "already exists"
    _refuse_stranded_aside(path)
    with table_lock(path):
        if _is_table_dir(path):       # a peer created it while we waited
            return False
        try:
            _write_empty_seed(path, schema)
        except Exception:
            if _is_table_dir(path):   # an out-of-band creator won
                logger.info("create_table_if_not_exists: driver seed "
                            "lost a creation race at %s; keeping the "
                            "winner's table", path)
                return False
            logger.warning("create_table_if_not_exists: driver-side "
                           "seed failed at %s; falling back to the "
                           "Spark write", path, exc_info=True)
            spark.createDataFrame([], schema).write.mode("overwrite") \
                .parquet(path)
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
    """Refuse a table whose only complete copy sits at
    ``<table>.__old__``. Older builds committed flat tables with a
    rename-aside swap (table aside, merged copy in); a crash between
    the two renames left the aside as the only copy, and nothing heals
    it any more. Going on would let a writer create a new table from
    one batch, or a reader serve nothing, while the real table sits
    ignored beside it. Touches no file."""
    old = target_path + ".__old__"
    if not os.path.isdir(target_path) and os.path.isdir(old):
        raise ValueError(
            f"{target_path} does not exist but {old} does: an older "
            "build crashed mid-swap and the aside holds the only "
            f"complete copy of the table. Rename {old} back to "
            f"{target_path}, then retry.")


# ---------------------------------------------------------------------------
# Bucket manifest: the pointer-committed catalog of the bucketed table's
# live directories (verdict r10 item 2 — the same one-rename publication
# primitive as the BM25 stats epochs, applied per table).
#
# Layout contract: table data lives in IMMUTABLE directories — hidden
# ``.kbe_<bucket>_<token>`` bucket epochs written by folds and
# compactions, the visible ``_kb=<bucket>`` dirs a
# ``rebucket_partitioned`` birth references in place, and hidden
# ``.kgd_<token>`` deltas, one per upserted micro-batch.
# ``read_partitioned`` is the ONLY read API: a raw
# ``spark.read.parquet(root)`` cannot see hidden dirs, so it fails
# loudly on a fully-epoch table and would silently serve stale/partial
# rows on a rebucketed table with deltas or hidden epochs beside its
# visible ``_kb=`` dirs (see ``compact_partitioned``'s docstring). The
# manifest file ``_kg_manifest`` is the table's ONE metadata file: it
# maps bucket id → live dir name, lists the deltas in commit order,
# records the grace copies, and carries what is fixed at birth — the
# bucket count, the ``widened: true`` hash-version token every reader
# checks, the key and order columns and the schema. It is replaced
# atomically by ``commit_pointer``. A delta commit, a fold of many
# buckets and deltas, or a compaction therefore lands in ONE rename —
# there is no per-bucket between-renames window where a bucket is
# missing, and no rollback protocol: a crash before the flip leaves
# only unreferenced dirs (recomputable, swept at the next writer
# entry), a crash after leaves the commit fully applied.
#
# Reader grace: each commit records the dirs it stops referencing — a
# rewritten bucket's PREVIOUS dir, a folded delta — in the manifest's
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
# entries the prune releases) and at entry recovery after a crash —
# the steady-state write path never lists the table root (see
# ``_SWEPT_GEN``). The cost of retention is that an idle table keeps
# its last commits' superseded copies until the next writer entry.
GRACE_RETAIN_GENERATIONS: int = 1
GRACE_RETAIN_SECONDS: float = 0.0

_MANIFEST = "_kg_manifest"

# name prefixes of every dir that holds table rows: bucket epochs,
# rebucketed visible buckets, deltas
_DATA_DIR_PREFIXES = (".kbe_", "_kb=", ".kgd_")

# Swept-generation sidecar (verdict r11 item 4 — the entry-sweep syscall
# tax): ``.kg_swept_gen`` records the manifest generation whose commit
# (or entry recovery) last left the table fully swept. A mutating entry
# whose manifest generation equals the sidecar skips the whole recovery
# scan — the staging glob, the grace prune, and the O(live dirs)
# unreferenced sweep — making steady-state upserts O(touched buckets) in
# syscalls. The file is ADVISORY and fail-safe by construction: writers
# UNLINK it before staging any new on-disk state (so a crashed writer's
# orphans are found by the next entry's full sweep) and re-stamp it only
# after a complete commit+sweep; a torn or stale value can only compare
# unequal to the live generation (generations grow, a torn prefix is a
# smaller number, a parse failure reads as absent) — every failure mode
# degrades to one extra full sweep, never to a skipped-but-needed one.
_SWEPT_GEN = ".kg_swept_gen"

# Naive-read tripwire (verdict r11 item 3): once any committed bucket
# lives in a hidden ``.kbe_`` epoch dir, a raw ``spark.read.parquet``
# at the table root is WRONG — on a rebucketed-then-upserted table
# (visible ``_kb=`` dirs coexisting with hidden epochs) it silently
# serves stale/partial rows, indefinitely. This visible non-parquet
# file makes such a read fail loudly instead (Spark's footer read
# names the file: CANNOT_READ_FILE_FOOTER .../KG_NAIVE_READ_GUARD),
# while every sanctioned path ignores it — ``read_partitioned`` reads
# explicit bucket dirs, the flat-file migration pass matches only
# ``*.parquet`` names, and DuckDB-style ``root/*.parquet`` globs never
# see it. ``scripts/maintain.py --check`` reports the layout state.
_NAIVE_READ_GUARD = "KG_NAIVE_READ_GUARD"

# fsync staged epoch data before the manifest references it (r11
# external review, low): Spark writes staged parquet without fsync, so
# without this walk a power loss could persist the (fsynced) manifest
# while the epoch files it names are torn or empty — the durability
# guarantee held for the pointer metadata only. With it, the commit
# order is data → dirents → pointer, and a manifest can only name
# durable files. Deployments on filesystems where the walk is
# prohibitive (or that delegate durability to replication, as HDFS
# does) may disable it and accept the narrower metadata-only claim.
FSYNC_STAGED_DATA: bool = True

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
    0, nothing live): what a birth fold or a rebucket commits onto."""
    return {"gen": 0, "buckets": buckets, "key": key, "order": order,
            "schema": schema, "live": {}, "deltas": [], "grace": []}


def _load_manifest(target_path: str) -> dict | None:
    """Parse the table's bucket manifest, or None for a table that has
    none (absent, flat, or a birth that crashed before its flip).
    Returns ``{"gen": int, "buckets": int, "key": str, "order": str,
    "schema": StructType, "live": {bucket: dirname}, "deltas":
    [dirname, ...], "grace": [(dirname, gen_created, ts_created),
    ...]}``. Read-only; a torn or unparsable manifest is impossible by
    the pointer-commit contract, so parse errors are raised, not masked
    — masking one would silently demote the table to a birth write
    whose sweep deletes every committed dir.

    Retired formats raise ``ValueError`` naming the path and what was
    found, for the same reason: ``_kb=`` dirs with no manifest (the
    pre-manifest layout), and a manifest that is not v3, has no bucket
    count, or does not declare the widened hash. No entry point reads,
    heals or rewrites them, so their files stay exactly as found."""
    import json

    raw = resolve_pointer(target_path, name=_MANIFEST)
    if raw is None:
        kb = sorted(n for n in (os.listdir(target_path)
                                if os.path.isdir(target_path) else ())
                    if n.startswith("_kb="))
        if kb:
            raise ValueError(
                f"{target_path}: {len(kb)} _kb= bucket dir(s) "
                f"({', '.join(kb[:3])}{', ...' if len(kb) > 3 else ''}) "
                f"and no {_MANIFEST} — a retired pre-manifest layout "
                "that no entry point reads or rewrites. It is a plain "
                "partitioned parquet tree: read it with "
                "spark.read.parquet(<root>) and upsert_partitioned the "
                "rows into a fresh table.")
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
    commit, recovery's grace prune, rebucket's birth manifest — goes
    through here, so a format change lands exactly once). ``widened``
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


def _read_swept_gen(target_path: str) -> int | None:
    """The generation the table was last left fully swept at, or None
    (absent / torn / unparsable — all read as "must sweep")."""
    try:
        with open(os.path.join(target_path, _SWEPT_GEN),
                  encoding="utf-8") as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def _invalidate_swept_gen(target_path: str) -> None:
    """Unlink the swept-gen sidecar BEFORE staging any new on-disk
    state: if this writer crashes mid-work, the next entry finds no
    sidecar and runs the full recovery sweep over the orphans."""
    try:
        os.remove(os.path.join(target_path, _SWEPT_GEN))
    except OSError:
        pass


def _stamp_swept_gen(target_path: str, gen: int) -> None:
    """Record that generation ``gen``'s commit left the table fully
    swept. Advisory, plain write, no payload fsync: every loss/tear
    mode of the FILE reads back as absent or as a stale (smaller)
    generation — see the ``_SWEPT_GEN`` doctrine — costing one extra
    full sweep, never a skipped-but-needed one.

    The parent-directory fsync BEFORE creating the file is the one
    ordering that matters: the caller's reclamation unlinks dirents in
    this same directory, and without a barrier a power loss could
    persist the stamp's create while losing the unlinks — reboot would
    then show a MATCHING sidecar beside resurrected unreferenced dirs
    that the fast path shields forever. Flushing the dirents first
    means a power loss can only lose the stamp (safe direction); if
    the directory fsync itself fails, we skip stamping — one extra
    full sweep, same safe direction (round-12 review, second pass)."""
    try:
        fd = os.open(target_path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        return  # cannot order the unlinks before the stamp: don't stamp
    finally:
        os.close(fd)
    try:
        with open(os.path.join(target_path, _SWEPT_GEN), "w",
                  encoding="utf-8") as fh:
            fh.write(str(gen))
    except OSError:
        pass


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
                "run rebucket_partitioned to normalize the layout for "
                "external tools; scripts/maintain.py --check <table> "
                "reports the layout state.\n")
    except OSError:
        logger.warning("kg_table: could not write naive-read guard "
                       "under %s", target_path, exc_info=True)


def _fsync_tree(root: str) -> None:
    """fsync every file, then every directory, under ``root`` (bottom-
    up) — the data half of the durability contract (see
    ``FSYNC_STAGED_DATA``). File fsync failures PROPAGATE (a file that
    cannot be made durable must not be referenced by the manifest — the
    batch fails and replays); directory fsync is best-effort like
    ``commit_pointer``'s parent-dirent flush (some filesystems reject
    it). Cost is O(files in the staged epochs) — the touched buckets,
    never the table."""
    if not FSYNC_STAGED_DATA:
        return
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


def _sweep_unreferenced_buckets(target_path: str, m: dict) -> bool:
    """Drop bucket and delta dirs the manifest does not reference (see
    :func:`_referenced_dirs`), plus orphaned manifest temp files. Safe
    by the manifest invariant: every committed dir is referenced, so
    unreferenced = a crashed writer's staged epoch or delta, or a
    pruned grace copy — all recomputable/superseded. Runs under the
    table lock only, and only on the NON-steady path (entry recovery
    after a crash / first touch of a table; see ``_SWEPT_GEN`` — the
    commit path reclaims its released grace dirs by name instead of
    listing the root).

    Returns True only when everything targeted is actually GONE — the
    caller must not stamp the swept-gen sidecar on a partial sweep
    (an NFS silly-rename or EBUSY can defeat rmtree), or the leftover
    would be shielded by the fast path forever (round-12 review)."""
    referenced = _referenced_dirs(m)
    try:
        names = os.listdir(target_path)
    except OSError:
        return False
    clean = True
    for name in names:
        if name.startswith(_DATA_DIR_PREFIXES) \
                and name not in referenced \
                and os.path.isdir(os.path.join(target_path, name)):
            clean &= _rmtree_verified(os.path.join(target_path, name))
    clean &= sweep_pointer_tmps(target_path, name=_MANIFEST)
    return clean


def _commit_buckets(target_path: str, m: dict, new_dirs: dict[int, str],
                    *, deltas: list[str]) -> tuple[dict, bool]:
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

    Returns ``(manifest, clean)``: the committed manifest, and whether
    the reclamation removed everything it targeted. Callers stamp the
    generation into the swept-gen sidecar once their residue cleanup
    is done, and ONLY when ``clean`` (plus their own cleanup) holds — a
    partial rmtree (NFS silly-rename, EBUSY) must leave the sidecar
    unstamped so the next entry's full sweep retries instead of the
    fast path shielding the leftover forever (round-12 review).
    Reclamation here is TARGETED: the retention prune
    (:func:`_prune_grace`) names exactly the grace dirs this commit
    releases, and only those are removed — no root listing, keeping
    the steady-state commit O(touched dirs) in syscalls (verdict r11
    item 4). Anything else unreferenced (a crashed writer's orphans)
    is the entry recovery's job, which runs whenever the sidecar is
    stale."""
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
    clean = True
    for d in released:
        clean &= _rmtree_verified(os.path.join(target_path, d))
    _write_naive_read_guard(target_path, m)
    return m, clean


def _recover_partitioned_swap(target_path: str
                              ) -> tuple[dict | None, bool]:
    """Entry-time recovery for the bucketed table, shared by every
    mutating entry point (upsert, compaction). There is no rollback
    protocol — the manifest flip is the linearization point — so
    recovery only sweeps: crashed writers' ``.upsert_tmp_*`` staging,
    grace entries past the retention window (see the ``_MANIFEST``
    doctrine), every dir the pruned manifest no longer references —
    crashed writers' staged epochs and deltas and expired grace copies
    alike — and orphaned manifest temp files. With no manifest yet,
    ``.kbe_*`` and ``.kgd_*`` dirs can only be a birth publisher that
    crashed before its flip: recomputable orphans, dropped. A retired
    format raises from :func:`_load_manifest` before anything is
    touched.

    STEADY-STATE FAST PATH (verdict r11 item 4): when the swept-gen
    sidecar equals the manifest's generation, every commit since the
    last full sweep completed cleanly (writers unlink the sidecar
    before staging and re-stamp it only after commit+cleanup), so
    there is nothing to sweep — return after two small file reads
    instead of root listings plus per-dir stats. A crashed writer can
    never leave a matching sidecar; a hand-modified table can
    (documented limitation — the protocol's files are not a defense
    against out-of-band edits; ``maintain.py --check`` and
    ``rebucket_partitioned`` are).

    Returns ``(manifest, steady)``: the table's parsed manifest as
    this recovery left it (post-prune; None when there is none) for
    the caller to REUSE instead of re-parsing — the parse is the
    dominant fast-path cost at large bucket counts — and whether the
    fast path was taken (a steady table provably has no stray flat
    files except hand-planted ones, so the caller may skip its
    migration listdir too).
    """
    if not os.path.isdir(target_path):
        return None, False
    m = _load_manifest(target_path)
    if m is not None and _read_swept_gen(target_path) == m["gen"] \
            and not _prune_grace(m["grace"], m["gen"])[1]:
        # the prune probe is pure (no filesystem) and closes the
        # time-window hole the sidecar alone would open: with
        # GRACE_RETAIN_SECONDS configured, grace entries expire by
        # CLOCK, not by generation — a non-committing entry (a nightly
        # compaction that finds nothing to rewrite) must still reclaim
        # them, or an idle table retains superseded copies forever.
        # The guard heal runs even on the fast path: the file is
        # advisory and can be removed out-of-band, and a read-mostly
        # table may see no data commit for a long time.
        _write_naive_read_guard(target_path, m)
        return m, True
    esc = glob_mod.escape(target_path)
    clean = True
    if m is None:
        for prefix in (".kbe_", ".kgd_"):
            for orphan in glob_mod.glob(os.path.join(esc, prefix + "*")):
                shutil.rmtree(orphan, ignore_errors=True)
    for stale in glob_mod.glob(os.path.join(esc, ".upsert_tmp_*")):
        clean &= _rmtree_verified(stale)
    # prune expired grace, sweep unreferenced dirs, then record the
    # table as fully swept at this generation (the prune rewrite keeps
    # the generation — only data commits advance it) — but ONLY when
    # every removal verifiably landed: a partial rmtree must leave the
    # sidecar unstamped so the next entry retries
    if m is not None:
        grace, _released = _prune_grace(m["grace"], m["gen"])
        if grace != m["grace"]:
            m["grace"] = grace
            commit_pointer(target_path, _dump_manifest(m), name=_MANIFEST)
        clean &= _sweep_unreferenced_buckets(target_path, m)
        _write_naive_read_guard(target_path, m)
        if clean:
            _stamp_swept_gen(target_path, m["gen"])
    return m, False


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

    ``expected`` (the fold's touched-bucket set) is the
    placement-invariant tripwire: a staged bucket OUTSIDE it means
    rows read from a touched directory re-hashed into a bucket whose
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
                f"upsert_partitioned: merged rows hash into bucket(s) "
                f"{rogue} that this batch never touched — stored rows "
                f"in the touched directories hash outside their own "
                f"bucket (placement-invariant violation: a data file "
                f"was moved or written outside the table protocol). "
                f"Publishing would silently drop those buckets' "
                f"incumbent rows; run rebucket_partitioned on "
                f"{target_path} to rewrite the table under one hash.")
    # data durability BEFORE the manifest may reference it: flush the
    # staged files (Spark writes them without fsync) so the commit
    # order is data → dirents → pointer — see FSYNC_STAGED_DATA
    for staged in staged_dirs:
        _fsync_tree(staged)
    new_dirs: dict[int, str] = {}
    for staged, kbv in zip(staged_dirs, ids):
        name = f".kbe_{kbv}_{token}"
        os.rename(staged, os.path.join(target_path, name))
        new_dirs[kbv] = name
    m = manifest
    clean = True
    if new_dirs or m["deltas"]:
        m, clean = _commit_buckets(target_path, m, new_dirs, deltas=[])
    clean &= _rmtree_verified(staging)  # _SUCCESS marker etc.
    # an EMPTY publish (a micro-batch that delivered no rows) commits
    # nothing, but the entry-time sidecar unlink already happened:
    # re-stamp the current generation so an empty-batch stream doesn't
    # permanently defeat the fast path (round-12 review, second pass).
    # A birth that staged nothing has no manifest on disk to stamp.
    if clean and m["live"]:
        # all residue verifiably gone — the next entry may fast-path;
        # on a partial cleanup the sidecar stays unstamped so the
        # next entry's full sweep retries (round-12 review)
        _stamp_swept_gen(target_path, m["gen"])
    return m


def _publish_delta(target_path: str, name: str, *, manifest: dict) -> None:
    """Pure-filesystem commit of one upserted micro-batch: fsync the
    delta dir ``name`` (already fully written under ``target_path``,
    never read until referenced), append it to the manifest's delta
    list with one atomic manifest flip (:func:`_commit_buckets` — no
    bucket changes), then stamp the swept-gen sidecar. A crash before
    the flip leaves an unreferenced delta, swept at the next entry,
    and the batch replays idempotently; after the flip the batch is
    applied."""
    _fsync_tree(os.path.join(target_path, name))
    m, clean = _commit_buckets(target_path, manifest, {},
                               deltas=manifest["deltas"] + [name])
    if clean:
        _stamp_swept_gen(target_path, m["gen"])


def upsert_partitioned(spark: SparkSession, target_path: str,
                       batch: DataFrame, *, key_col: str = "doc_id",
                       order_col: str = "kafka_offset",
                       buckets: int = 64,
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
    already holds ``_MAX_DELTAS - 1`` deltas, the batch is folded into
    the buckets together with them instead (:func:`_fold_into_buckets`
    — the one code path that merges rows into buckets, shared with the
    birth write and :func:`compact_partitioned`). Every crash point
    leaves the table serving a complete committed state: before the
    flip the batch simply hasn't happened (its staged dirs are
    unreferenced orphans, swept at the next entry) and replays
    idempotently; after the flip it is fully applied. There is no
    rollback path and no per-bucket missing-directory instant. Delta's
    MERGE is the production drop-in (same semantics, real commit log).

    The bucket count, the key and order columns and the schema are
    TABLE properties, stamped into the manifest by the birth write.
    ``buckets`` is only the birth count: later calls use the manifest's
    value regardless of the argument (merging under a different count
    would place the same keys in different buckets and
    ``read_partitioned`` would return duplicate keys; grow an outscaled
    table with :func:`rebucket_partitioned`). A ``key_col`` or
    ``order_col`` that differs from the manifest's raises
    ``ValueError`` naming both.

    A retired on-disk format (``_kb=`` dirs without a manifest, or a
    manifest that is not v3 with a bucket count and the widened hash),
    or a missing table whose ``<table>.__old__`` aside an older build
    stranded, raises ``ValueError`` before anything on disk changes."""
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
                    target_path: str, frame: str = "batch",
                    allow_new: bool = False) -> DataFrame:
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
    a column to a bucketed table is a full-table rewrite, not a merge —
    EXCEPT under ``allow_new`` (the flat-bootstrap case, where the
    caller rewrites every row in one pass anyway, so a new column lands
    in every bucket atomically and first-upsert schema evolution stays
    legal).
    Columns MISSING from the batch stay fine (the union fills nulls
    and the rewrite keeps the full table schema). Fractional
    down-casts (double→float) lose precision by construction; the
    table's birth type is the declared contract, same as any fixed
    parquet schema — but a FINITE double overflowing to float
    ±Infinity is a misencoding, not a precision loss, and raises like
    the integral overflow does (``try_cast`` alone cannot see it:
    double→float overflow yields Inf, not NULL — r9 round-close
    review). ``frame`` names the frame being aligned in every
    diagnostic ("batch", or the stray flat-file migration frame — a
    wedged migration must blame the on-disk stray, not the caller's
    conforming batch)."""
    ref_types = {f.name: f.dataType.simpleString()
                 for f in ref_schema.fields if f.name != "_kb"}
    extra = [c for c in batch.columns if c not in ref_types]
    if extra and not allow_new:
        raise ValueError(
            f"upsert_partitioned: {frame} adds column(s) {extra} not "
            f"present in the bucketed table {target_path} — a per-bucket "
            "merge would leave the new column in touched buckets only "
            "(a cross-bucket schema mix read_partitioned cannot "
            "resolve). Adding a column is a full-table rewrite: "
            "read_partitioned → withColumn → write to a fresh path.")
    exprs = []
    drift = False
    for c in batch.columns:
        if c not in ref_types:          # allow_new: pass through as-is
            exprs.append(F.col(c))
            drift = True
            continue
        t_b = batch.schema[c].dataType.simpleString()
        t_t = ref_types[c]
        if t_b == t_t:
            exprs.append(F.col(c))
            continue
        if _num_family(t_b) is None or _num_family(t_b) != _num_family(t_t):
            raise ValueError(
                f"upsert_partitioned: {frame} column {c}:{t_b} cannot "
                f"merge into the table's {c}:{t_t} at {target_path} "
                "(cross-family or unsupported type drift) — cast the "
                f"{frame} explicitly to the table's type.")
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
                       f"upsert_partitioned: a value in {frame} column "
                       f"{c} ({t_b}) does not fit the table's {t_t} — "
                       f"the bucketed table keeps its birth type; fix "
                       f"the value or rewrite the table at a wider "
                       f"type.")))
            .otherwise(tc).cast(t_t).alias(c))
    return batch.select(*exprs) if drift else batch


def _check_key_family(batch_schema: T.StructType,
                      table_schema: T.StructType, key_col: str, *,
                      frame: str = "batch") -> None:
    """Reject a batch whose key type cannot hash-agree with the stored
    table's: cross-family (string vs bigint — the union would silently
    coerce to string while the bucket hashes diverge, leaving duplicate
    keys across partitions). Same-family width drift is fine: the
    widened hash maps both widths to one canonical type. ``frame``
    names the offending frame in the diagnostic — when the check runs
    over the on-disk stray migration frame, blaming "the batch" points
    the operator at data no batch cast can ever fix."""
    from dig_etl_engine_spark.functions.hashkey import canonical_hash_type

    b_t = batch_schema[key_col].dataType.simpleString()
    t_t = table_schema[key_col].dataType.simpleString()
    if canonical_hash_type(b_t) != canonical_hash_type(t_t):
        raise ValueError(
            f"upsert_partitioned: {frame} key {key_col}:{b_t} cannot "
            f"hash-agree with the table's {key_col}:{t_t} (cross-family)"
            " — the merge would bucket the same logical keys into "
            "different partitions and silently keep duplicates. "
            f"Cast the {frame} key explicitly.")


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
                               order_col: str, buckets: int) -> None:
    _refuse_stranded_aside(target_path)
    # recovery FIRST: it returns the table's parsed manifest (the one
    # parse this entry pays — the dominant fast-path cost at large
    # bucket counts) plus whether the fast path was taken
    m, steady = _recover_partitioned_swap(target_path)
    if m is not None:
        _check_lww_columns(target_path, m, key_col, order_col)
        if m["buckets"] != buckets:
            logger.warning(
                "upsert_partitioned: table %s is bucketed %d-way; "
                "ignoring buckets=%d argument (rebucket_partitioned "
                "changes the count)", target_path, m["buckets"], buckets)

    # Migration / crash-recovery: flat root *.parquet files exist when the
    # table is a create_table bootstrap, was written with rows by an
    # older build's flat full-rewrite merge, OR a previous migration
    # crashed between its commit and its cleanup (flat files beside a
    # committed manifest). Fold ALL flat rows into this batch — they
    # land in the birth buckets or in this batch's delta — and delete
    # the flat files after the commit, so the layout converges to pure
    # manifest-routed dirs from any starting state. The files are read
    # by explicit path (a whole-directory read of a mixed layout throws
    # 'conflicting directory structures'). NOT _SUCCESS: deleting it
    # would make the table look absent to create_table_if_not_exists.
    # A STEADY table (sidecar fast path) provably has no strays except
    # hand-planted ones — every protocol path that can leave a flat
    # file also leaves the sidecar unlinked — so the migration listdir
    # is skipped there, keeping the steady-state write path free of
    # root listings entirely.
    flat_files: list[str] = []
    if not steady and os.path.isdir(target_path):
        flat_files = [f for f in os.listdir(target_path)
                      if f.endswith(".parquet")]
    stray = spark.read.parquet(
        *[os.path.join(target_path, f) for f in flat_files]) \
        if flat_files else None

    # The INCUMBENT schema (the manifest's, else the flat bootstrap's) is
    # the table's contract: check the key's hash-compatibility against
    # it, then align every writer-side frame to its EXACT types (r9,
    # found by the migration golden): letting a union coerce a wider
    # batch column up would write parquet files of a different type and
    # leave the table schema-inconsistent — see _align_to_table. The
    # alignment also subsumes the r8 stray-width rule (a stray column of
    # a different width would otherwise hash into the wrong partition):
    # post-alignment, batch, stray and table hash from one key dtype.
    _STRAY_FRAME = ("stray flat-file migration frame (on disk at the "
                    "table root, not this batch)")
    schema = m["schema"] if m is not None else (
        stray.schema if stray is not None else None)
    if schema is not None:
        _check_key_family(batch.schema, schema, key_col)
        # batch-only NEW columns are refused once the table has a
        # manifest (rows already stored would lack the column); in the
        # flat-bootstrap case every row (stray ∪ batch) is written in
        # this one pass, so schema evolution on the first partitioned
        # upsert stays legal (r9 round-close review)
        batch = _align_to_table(batch, schema, target_path=target_path,
                                allow_new=m is None)
        if stray is not None and m is not None:
            _check_key_family(stray.schema, schema, key_col,
                              frame=_STRAY_FRAME)
            stray = _align_to_table(stray, schema,
                                    target_path=target_path,
                                    frame=_STRAY_FRAME)
    if stray is not None:
        batch = stray.unionByName(batch, allowMissingColumns=True)
    b = dedupe_last_write_wins(batch, key_col, order_col)

    if m is None:
        _fold_into_buckets(spark, target_path, _new_manifest(
            b.schema, buckets=buckets, key=key_col, order=order_col), b)
    elif len(m["deltas"]) + 1 >= _MAX_DELTAS:
        _fold_into_buckets(spark, target_path, m, b)
    else:
        name = f".kgd_{uuid.uuid4().hex[:8]}"
        # drop the swept-gen sidecar before the first byte of new
        # on-disk state: a crash anywhere past this line leaves an
        # orphan AND no sidecar, so the next entry runs the full sweep
        _invalidate_swept_gen(target_path)
        b.write.parquet(os.path.join(target_path, name))
        if _parquet_rows(os.path.join(target_path, name)):
            # m is still exact: we hold the table lock and nothing
            # since the entry recovery rewrote the manifest
            _publish_delta(target_path, name, manifest=m)
        elif _rmtree_verified(os.path.join(target_path, name)):
            # an empty micro-batch commits nothing; re-stamp so an
            # empty-batch stream keeps the fast path
            _stamp_swept_gen(target_path, m["gen"])
    for f in flat_files:
        try:
            os.remove(os.path.join(target_path, f))
        except OSError:
            # non-fatal: a stray flat file just gets re-merged (and
            # re-deleted) by the next upsert's migration pass — but say so,
            # silent leftovers made one real incident hard to trace
            logger.warning("upsert_partitioned: could not remove migrated "
                           "flat file %s", os.path.join(target_path, f),
                           exc_info=True)


def _parquet_rows(path: str) -> int:
    """Rows in the parquet files directly under ``path``, from their
    footers — a driver-side read, no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _fold_into_buckets(spark: SparkSession, target_path: str, m: dict,
                       incoming: DataFrame | None = None) -> dict:
    """The one code path that merges rows into buckets: fold
    ``incoming`` (a deduplicated batch aligned to the table, or None)
    and every delta ``m`` lists into the buckets, and return the
    committed manifest. Callers: the birth or flat-migration write
    (``m`` a :func:`_new_manifest`), :func:`compact_partitioned`
    (deltas only), and :func:`upsert_partitioned` once a table holds
    ``_MAX_DELTAS - 1`` deltas.

      1. incoming ∪ deltas is bucketed, deduplicated, and its touched
         bucket ids collected (≤ ``buckets`` values — a driver-safe
         list);
      2. only those buckets' live dirs are read back (the pruning is
         structural: untouched dirs are never opened), with the
         manifest's schema rather than one inferred from footers;
      3. last-write-wins merges them with step 1's rows;
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
    b = dedupe_last_write_wins(
        b.withColumn("_kb", _bucket_expr(b, key, buckets)), key, order)
    touched = None
    if m["live"]:
        touched = {r[0] for r in b.select("_kb").distinct().collect()}
        touched_dirs = [os.path.join(target_path, m["live"][n])
                        for n in sorted(touched) if n in m["live"]]
        if touched_dirs:
            existing = (spark.read.schema(m["schema"])
                        .parquet(*touched_dirs))
            existing = existing.withColumn(
                "_kb", _bucket_expr(existing, key, buckets))
            b = dedupe_last_write_wins(
                existing.unionByName(b, allowMissingColumns=True),
                key, order)
    token = uuid.uuid4().hex[:8]
    staging = os.path.join(target_path, f".upsert_tmp_{token}")
    _invalidate_swept_gen(target_path)
    # one task per bucket writes one file per bucket: the dedupe's
    # shuffle leaves each bucket spread over several tasks, and the
    # small-file pass of compact_partitioned then rewrote every folded
    # bucket (a fold of 22 deltas into 64 buckets: 2.5 s, then 13 s of
    # compaction, 4-core host)
    b.repartition("_kb").write.partitionBy("_kb").parquet(staging)
    # the tripwire set: every staged bucket must come from step 1's
    # fold (= touched) — on a birth write there are no incumbents to
    # protect
    return _publish_staged_buckets(target_path, staging, token,
                                   manifest=m, expected=touched)


def compact_partitioned(spark: SparkSession, target_path: str, *,
                        target_file_bytes: int = 128 << 20,
                        min_files: int = 2,
                        lock_timeout: float = 300.0) -> int:
    """Fold the table's deltas into its buckets, then compact small
    files. The fold (:func:`_fold_into_buckets`) rewrites the buckets
    the deltas touch and leaves a table with no deltas, so reads stop
    paying the last-write-wins shuffle. The small-file pass then
    rewrites each bucket holding ≥ ``min_files`` files down to
    ceil(bytes/target) files; untouched buckets keep their exact files.
    Returns the number of buckets rewritten by either step.

    Each step publishes its rewritten buckets as hidden immutable epoch
    directories (``.kbe_<n>_<token>`` — never read until referenced)
    with ONE atomic manifest replace (:func:`_commit_buckets`; verdict
    r10 item 2 — the ES alias-swap contract: the index never serves a
    404 mid-reindex). Never reading and overwriting the same path in
    one job also keeps clear of Spark's self-overwrite guard. There is
    NO crash window in which a bucket is missing: before a flip the
    table serves its exact previous state (orphan epochs are swept at
    the next entry); after it the step is fully applied, with each
    superseded dir and folded delta retained as a generation-stamped
    grace copy for in-flight readers.

    Local-FS rename semantics here; on HDFS swap ``os.replace`` for an
    overwriting FileSystem.rename, on S3 use a manifest-committing
    table format (Delta's OPTIMIZE is the managed-table equivalent of
    exactly this commit shape).

    Writer exclusion is ENFORCED via :func:`table_lock` (a concurrent
    upsert could otherwise commit a delta between this function's read
    and its flip, losing the upsert — with the lock it simply waits).
    Readers need no coordination: :func:`read_partitioned` resolves the
    manifest in one atomic pointer read. Naive directory listings
    (``spark.read.parquet`` straight at the table root) are NOT the
    read API, in EITHER direction: on a table whose buckets all live in
    hidden epoch dirs such a read fails loudly (no visible data files,
    plus the ``KG_NAIVE_READ_GUARD`` tripwire), but on a rebucketed
    table that was upserted or compacted since — visible ``_kb=`` dirs
    coexisting with hidden deltas or epochs — it would SILENTLY serve
    stale or partial rows; the tripwire makes that read fail too. Route
    every reader through :func:`read_partitioned`; a one-shot
    :func:`rebucket_partitioned` normalizes the layout if it bothers an
    external tool.

    A retired on-disk format raises ``ValueError`` before anything on
    disk changes (see :func:`_load_manifest`).
    """
    with table_lock(target_path, timeout=lock_timeout):
        return _compact_partitioned_locked(
            spark, target_path, target_file_bytes=target_file_bytes,
            min_files=min_files)


def _compact_partitioned_locked(spark: SparkSession, target_path: str,
                                *, target_file_bytes: int,
                                min_files: int) -> int:
    import glob
    import math

    # sweep orphans/expired grace — the shared entry recovery (its
    # parsed manifest is reused below instead of a second parse)
    m, _steady = _recover_partitioned_swap(target_path)
    if m is None:
        return 0
    rewritten: set[int] = set()
    if m["deltas"]:
        before = m["live"]
        m = _fold_into_buckets(spark, target_path, m)
        rewritten = {n for n, d in m["live"].items() if before.get(n) != d}
    todo: list[tuple[int, str, int]] = []
    for kb, dname in sorted(m["live"].items()):
        d = os.path.join(target_path, dname)
        files = glob.glob(os.path.join(glob.escape(d), "*.parquet"))
        if len(files) >= min_files:
            nbytes = sum(os.path.getsize(f) for f in files)
            nfiles = max(1, math.ceil(nbytes / target_file_bytes))
            # skip buckets already AT the target layout: rewriting 3
            # ~target-sized files into 3 files pays a full-bucket
            # rewrite for zero gain, on every nightly run, forever
            if nfiles < len(files):
                todo.append((kb, d, nfiles))
    # write every compacted copy to its (hidden, not-yet-referenced)
    # epoch dir, then publish them ALL with one atomic manifest flip —
    # a crash before the flip leaves only recomputable orphan epochs
    # (swept at the next entry) and the table serving its exact
    # pre-compaction state; compaction never changes data, so there is
    # nothing to replay
    token = uuid.uuid4().hex[:8]
    new_dirs: dict[int, str] = {}
    if todo:
        # new on-disk state follows: invalidate the fast-path sidecar
        # first so a crash mid-compaction is fully swept at next entry
        _invalidate_swept_gen(target_path)
    for kb, d, nfiles in todo:
        name = f".kbe_{kb}_{token}"
        (spark.read.parquet(d).coalesce(nfiles)
         .write.parquet(os.path.join(target_path, name)))
        _fsync_tree(os.path.join(target_path, name))
        new_dirs[kb] = name
    if new_dirs:
        m, clean = _commit_buckets(target_path, m, new_dirs,
                                   deltas=m["deltas"])
        if clean:
            _stamp_swept_gen(target_path, m["gen"])
    return len(rewritten | set(new_dirs))


def rebucket_partitioned(spark: SparkSession, target_path: str,
                         new_buckets: int, *,
                         key_col: str = "doc_id",
                         lock_timeout: float = 300.0) -> int:
    """Change a partitioned KG table's bucket count — the maintenance op
    for a table that outgrew its birth layout. Bucket SIZE, not bucket
    count, is what should stay constant as a table grows: a 64-bucket
    table that was right at 1 TB has 100× oversized buckets at 100 TB
    (each micro-batch rewrite touches 1/64th of the table), so growth is
    periodic rebucketing, exactly like re-sharding a key-value store.

    Protocol (single-writer maintenance op, like
    :func:`compact_partitioned`): read the whole table, rewrite under
    the new count into a sibling staging dir whose ``_kb=<n>`` dirs its
    own gen-0 manifest references in place (the manifest is written
    last, so it marks the staging complete), then swap with two renames
    — target aside to ``.rebucket_old``, staging in — and drop the old
    copy. Crash recovery on entry: a staging dir bearing its manifest
    with the table missing finishes the swap; a missing table with only
    the old copy restores it; stale staging dirs are swept. Returns the
    row count of the rebucketed table. Runs under :func:`table_lock`
    (writer exclusion against live upserts; see
    :func:`compact_partitioned` for the reader-atomicity caveat that
    the lock does NOT cover).

    The rebucketed table keeps the manifest's key, order and schema and
    holds no deltas (the read resolves them). A table with no manifest
    — none yet, or a flat one awaiting its first upsert — raises
    ``ValueError``, and so does a ``key_col`` that differs from the
    manifest's.
    """
    with table_lock(target_path, timeout=lock_timeout):
        return _rebucket_partitioned_locked(spark, target_path,
                                            new_buckets, key_col=key_col)


def _rebucket_partitioned_locked(spark: SparkSession, target_path: str,
                                 new_buckets: int, *,
                                 key_col: str) -> int:
    tmp = target_path + f".rebucket_tmp.{os.getpid()}"
    old = target_path + ".rebucket_old"

    # recovery before new work (states keyed by what survived a crash)
    for stale in glob_mod.glob(glob_mod.escape(target_path)
                               + ".rebucket_tmp.*"):
        if not os.path.isdir(target_path) and \
                os.path.exists(os.path.join(stale, _MANIFEST)):
            logger.warning("rebucket_partitioned: finishing interrupted "
                           "swap from %s", stale)
            os.rename(stale, target_path)
        else:
            shutil.rmtree(stale, ignore_errors=True)
    if not os.path.isdir(target_path) and os.path.isdir(old):
        logger.warning("rebucket_partitioned: restoring %s from %s",
                       target_path, old)
        os.rename(old, target_path)
    shutil.rmtree(old, ignore_errors=True)

    m = _load_manifest(target_path)
    if m is None:
        raise ValueError(
            f"rebucket_partitioned: {target_path} has no {_MANIFEST} — "
            "there is no bucketed table to rebucket. upsert_partitioned "
            "creates one, and migrates a flat table on its first call.")
    _check_lww_columns(target_path, m, key_col)
    df = read_partitioned(spark, target_path)
    kb = _bucket_expr(df, key_col, new_buckets)
    (df.withColumn("_kb", kb)
     .write.mode("overwrite").partitionBy("_kb").parquet(tmp))
    # data durability before the manifest references it (the staging
    # root is about to become the table — same contract as the
    # publish path's staged-epoch flush)
    _fsync_tree(tmp)
    # a rebucketed table is born manifest-routed: reference the fresh
    # _kb= dirs in place (gen 0, no grace — the whole root swaps at once)
    live = {int(n[4:]): n for n in os.listdir(tmp) if n.startswith("_kb=")}
    born = _new_manifest(m["schema"], buckets=new_buckets, key=m["key"],
                         order=m["order"])
    commit_pointer(tmp, _dump_manifest(dict(born, live=live)),
                   name=_MANIFEST)
    n = spark.read.option("basePath", tmp) \
        .parquet(os.path.join(tmp, "_kb=*")).count()
    os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)
    return n


def layout_report(target_path: str) -> dict:
    """Read-only layout diagnosis of a KG table for
    ``scripts/maintain.py --check`` (verdict r11 item 3): classifies
    the table (``absent`` / ``flat`` / ``manifest`` / ``retired``),
    counts visible vs hidden live dirs and live deltas, and returns
    ``findings`` — human-readable anomaly strings, empty when a naive
    ``spark.read.parquet(root)`` would be safe. Mixed layouts (hidden
    ``.kbe_`` epochs or ``.kgd_`` deltas beside visible dirs/files) are
    flagged with :func:`rebucket_partitioned` named as the normalizer
    and the guard file's presence reported; unreferenced bucket and
    delta dirs are flagged; a retired on-disk format is a finding, not
    an error. Takes no lock and mutates nothing — safe against a live
    ingest (the counts are a snapshot; only the classification is
    load-bearing). A torn manifest still raises (the caller reports it
    as unreadable)."""
    import json

    report: dict = {"path": target_path, "era": "absent",
                    "findings": []}
    if not os.path.isdir(target_path):
        report["findings"].append("table directory does not exist")
        return report
    names = os.listdir(target_path)
    try:
        m = _load_manifest(target_path)
    except json.JSONDecodeError:
        raise
    except ValueError as ex:
        report["era"] = "retired"
        report["findings"].append(str(ex))
        return report
    flat = [f for f in names if f.endswith(".parquet")]
    if m is None:
        report["era"] = "flat"
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
    if hidden or m["deltas"]:
        report["findings"].append(
            f"mixed/hidden layout: {len(hidden)} live bucket(s) in "
            f"hidden epoch dirs, {len(visible)} still visible, "
            f"{len(m['deltas'])} hidden delta(s) — a "
            "naive spark.read.parquet(root) CANNOT see this table "
            "correctly; read via kg_table.read_partitioned, or run "
            "rebucket_partitioned to normalize the layout for "
            "external tools"
            + ("" if guard else
               " [naive-read guard file MISSING — a raw root read "
               "would silently serve stale/partial rows; the next "
               "commit or writer entry restores it]"))
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
    if flat:
        report["findings"].append(
            f"{len(flat)} stray flat parquet file(s) at the root of a "
            "manifest table: folded in by the next upsert_partitioned")
    return report


def read_partitioned(spark: SparkSession, target_path: str) -> DataFrame:
    """Read a partitioned KG table without the internal bucket column.
    One atomic pointer read of the manifest names the live bucket dirs
    and deltas, so a concurrent upsert/compaction never makes rows
    transiently invisible. They are read by explicit path with the
    manifest's schema — no footer inference, no Spark job at
    construction — so stray flat files awaiting the next upsert's
    migration never mix into the read. With no deltas this is the plain
    scan of the buckets; with deltas it is
    :func:`dedupe_last_write_wins` over buckets ∪ deltas on the
    manifest's key and order columns (a shuffle, until a fold leaves
    the table without deltas).

    A table with no manifest is flat (a seed, or an older build's table
    awaiting its migration) and reads as one parquet dir; a table
    mid-rebucket swap (the whole dir briefly aside) reads from its
    ``.rebucket_old`` copy. A retired on-disk format raises
    ``ValueError`` (see :func:`_load_manifest`), and so does a missing
    table beside an older build's stranded ``.__old__`` aside."""
    _refuse_stranded_aside(target_path)
    if not os.path.isdir(target_path) and \
            os.path.isdir(target_path + ".rebucket_old"):
        # mid-swap fallback: the retired copy is the only complete
        # table during the instant between the swap's two renames
        target_path += ".rebucket_old"
    m = _load_manifest(target_path)
    if m is None:
        return spark.read.parquet(target_path)
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
