"""WebDataset-style tar-shard export/import — the sequential-read
training format (Aizman et al., "High Performance I/O For Large Scale
Deep Learning"; the `webdataset` library's convention): each sample is
a group of same-stem members (`{key}.txt`, `{key}.json`, and for
multimodal corpora `{key}.jpg` / `{key}.flac` …) inside fixed-size
`.tar` shards that a dataloader streams without random access.

Spark shape: rows are hash-assigned to shards (`pmod(xxhash64(id),
n_shards)` — reproducible across runs and partitionings), the frame is
hash-REPARTITIONED on the shard id and sorted within partitions on
``(_shard, _id)``, so each shard's rows arrive at exactly one task in
final member order; `mapInPandas` then STREAMS each Arrow batch into
the open shard tar — only one batch is ever resident in the Python
worker, so a shard of any size writes in bounded memory. Tar metadata
is pinned (mtime=0, uid/gid=0, ustar), so shard bytes are
bit-reproducible for identical input.

Write safety: the export is EAGER and staged — shards are written
under a hidden ``.staging-*`` directory inside the target path, and
only after the whole job succeeds does the swap run, rename-aside
style (:func:`_swap_export`): the previous export's
``shard-*.tar`` files are RETIRED into a hidden ``.old`` directory, a
``_RETIRED`` commit marker is written, the staged set moves in via
per-file atomic renames, and only then is ``.old`` dropped. No crash
point leaves zero complete exports on disk: a crash before the marker
is rolled back by :func:`_heal_export` (the retired shards move back),
a crash after it is rolled FORWARD (the staged set — complete by
construction at swap time — finishes moving in). The MUTATING heal
runs only at the start of every export (single-writer contract, so a
writer never races another writer's swap); readers instead resolve a
READ-ONLY effective view of a possibly-torn directory
(:func:`_effective_files`) — a reader must never move files, because
every successful export transiently passes through the torn states and
a concurrent reader "healing" a live writer's swap window would crash
the writer or interleave two exports. Stale staging dirs and
``*.tmp.*`` leftovers from pre-swap crashes are swept on the next
export (heal first — a committed swap's staging remnants are recovery
material, not leftovers). Single-writer contract: do not run two
exports against one path concurrently. Readers concurrent with a
writer see the pre-swap or post-swap export; a read that races the
brief swap window itself may observe a moving file and fail — retry.

Local-path writes here (single-node container); on a cluster the same
code points at a fuse/NFS mount or writes to a staging dir + uploads —
the tar assembly is already executor-side either way.

Reading back: shard PATHS are listed via `binaryFile` with the content
column pruned away (only `path` is projected, so file bytes never ride
the scan), and each executor task streams its tars member-by-member
with `tarfile.open(name=path)` — bounded memory like the write path,
and no `binaryFile` ~2 GiB whole-file cap. Members that are not
regular files (directories, links) or have no extension are skipped,
so foreign tars with READMEs or directory entries parse cleanly. ALL
non-txt/json members come back in a ``bins`` map column keyed by
extension, so a foreign shard carrying several modalities per sample
loses nothing. Samples are grouped by CONTIGUOUS runs of one stem —
the webdataset convention (required for any streaming reader); a tar
that interleaves stems yields one row per run.
"""

from __future__ import annotations

import glob
import io
import os
import shutil
import tarfile
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dig_etl_engine_spark.functions.localdf import local_df
from pyspark.sql import types as T

_MANIFEST_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("path", T.StringType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
])

_READ_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("key", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("meta", T.StringType()),
    T.StructField("bins", T.MapType(T.StringType(), T.BinaryType())),
])



def _glob_in(d: str, pattern: str) -> list[str]:
    """glob for ``pattern`` inside directory ``d`` with ``d`` escaped —
    a table path containing glob metacharacters ('/data/kg[prod]') must
    not silently turn recovery sweeps and torn-view resolution into
    no-ops (the brackets would parse as a character class)."""
    return glob.glob(os.path.join(glob.escape(d), pattern))


def _add_member(tar: tarfile.TarFile, name: str, payload: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tar.addfile(info, io.BytesIO(payload))


class _ShardWriter:
    """Streams rows (already in (_shard, _id) order) into shard tars,
    one open tar at a time, bounded memory."""

    def __init__(self, path: str, bin_ext: str):
        self.path = path
        self.bin_ext = bin_ext
        self.cur: int | None = None
        self.tar: tarfile.TarFile | None = None
        self.tmp = ""
        self.n = 0
        self.manifest: list[tuple[int, str, int, int]] = []

    def _close_current(self) -> None:
        if self.tar is not None:
            self.tar.close()
            final = os.path.join(self.path, f"shard-{self.cur:05d}.tar")
            os.replace(self.tmp, final)  # atomic: retries never tear
            self.manifest.append(
                (self.cur, final, self.n, os.path.getsize(final)))
        self.tar, self.cur, self.n = None, None, 0

    def add(self, shard: int, _id: int, text, meta, binv) -> None:
        if shard != self.cur:
            self._close_current()
            self.cur = shard
            self.tmp = os.path.join(
                self.path, f"shard-{shard:05d}.tar.tmp.{os.getpid()}")
            self.tar = tarfile.open(self.tmp, "w",
                                    format=tarfile.USTAR_FORMAT)
        key = f"{_id:012d}"
        if text is not None:  # NULL text → member omitted (≠ empty '')
            _add_member(self.tar, f"{key}.txt", text.encode("utf-8"))
        _add_member(self.tar, f"{key}.json",
                    (meta or "{}").encode("utf-8"))
        if binv is not None:
            _add_member(self.tar, f"{key}.{self.bin_ext}", bytes(binv))
        self.n += 1

    def finish(self) -> list[tuple[int, str, int, int]]:
        self._close_current()
        return self.manifest


def _heal_export(path: str, pattern: str = "shard-*.tar") -> None:
    """Repair a swap torn by a crash (see module docstring). The
    ``.old`` directory only exists inside a swap window; its
    ``_RETIRED`` marker separates the two crash classes. Before the
    marker: nothing new has moved in — roll BACK by restoring the
    retired shards. After it: the staged set was complete when the
    swap began — roll FORWARD by finishing the staged moves, then drop
    the retired copy. Idempotent; no-op on a healthy directory.
    ``pattern`` parameterizes the payload-file glob so other staged
    directory exports (``sources/avro.py``) share the protocol."""
    oldd = os.path.join(path, ".old")
    if not os.path.isdir(oldd):
        return
    if os.path.exists(os.path.join(oldd, "_RETIRED")):
        for staging in _glob_in(path, ".staging-*"):
            for s in _glob_in(staging, pattern):
                os.replace(s, os.path.join(path, os.path.basename(s)))
            shutil.rmtree(staging, ignore_errors=True)
    else:
        for s in _glob_in(oldd, pattern):
            os.replace(s, os.path.join(path, os.path.basename(s)))
    _drop_old(oldd, pattern)  # payload first, marker last (see _drop_old)


def _effective_files(path: str, pattern: str = "shard-*.tar") -> list[str]:
    """READ-ONLY view of a possibly-torn export directory — the reader
    counterpart of :func:`_heal_export`, which only writers may call
    (module docstring). The swap invariants make the reconstruction
    exact on any crashed state:

    * no ``.old`` dir → healthy; the live files are the export.
    * ``.old`` without ``_RETIRED`` → the crash hit mid-retirement and
      nothing staged has moved in: the OLD export is authoritative and
      is exactly ``path/pattern ∪ .old/pattern`` (each file is in one
      place; renames are atomic).
    * ``.old`` with ``_RETIRED`` → retirement completed, so every live
      ``path/pattern`` file is NEW; the staged set was complete at swap
      time, so the NEW export is ``path/pattern ∪ .staging-*/pattern``
      (preferring the already-moved-in copy on a basename collision).

    Concurrent-writer note: within each state, the globs run in
    rename-SOURCE-then-DESTINATION order (retirement moves live→.old;
    move-in moves staging→live), so a file renamed between the two
    globs is caught in at least one — never silently dropped. A phase
    TRANSITION during the resolution is detected by re-reading the
    marker state afterwards and retrying; a persistently unstable
    directory raises instead of returning a possibly mixed view."""
    oldd = os.path.join(path, ".old")
    marker = os.path.join(oldd, "_RETIRED")
    # retry bound: ONE concurrent swap moves the observed (isdir,
    # marker) state through four transitions (mkdir, marker write,
    # marker delete, dir delete), so the loop must tolerate at least
    # that many unstable resolutions before declaring the directory
    # persistently unstable
    for _ in range(6):
        state = (os.path.isdir(oldd), os.path.exists(marker))
        if not state[0]:
            files = {os.path.basename(p): p
                     for p in _glob_in(path, pattern)}
        elif state[1]:
            # move-in phase: staging is the rename source — glob it
            # FIRST, then let the already-moved-in live copy win
            files = {}
            for staging in _glob_in(path, ".staging-*"):
                for s in _glob_in(staging, pattern):
                    files[os.path.basename(s)] = s
            for p in _glob_in(path, pattern):
                files[os.path.basename(p)] = p
            # retired OLD payload is never part of this view
        else:
            # retirement phase: live is the rename source — glob it
            # FIRST, then fill gaps from .old
            files = {os.path.basename(p): p
                     for p in _glob_in(path, pattern)}
            for s in _glob_in(oldd, pattern):
                files.setdefault(os.path.basename(s), s)
        if (os.path.isdir(oldd), os.path.exists(marker)) == state:
            return sorted(files.values())
    raise RuntimeError(
        f"{path}: an export swap is in progress (state kept changing "
        "across six resolutions) — retry the read")


def _drop_old(oldd: str, pattern: str) -> None:
    """Delete a retired-export dir in crash-safe order: payload files
    FIRST, the ``_RETIRED`` marker LAST, then the dir. A plain rmtree
    may unlink the marker before the payload (scandir order is
    arbitrary); a crash in that window leaves marker-less ``.old``
    payload, which the pre-marker classifier would roll BACK over the
    committed new export (os.replace overwrites — the new export would
    be destroyed). With this order every crash point still classifies
    correctly: payload+marker → forward (no-op), marker-only → forward
    (no-op), empty dir without marker → rollback of nothing."""
    marker = os.path.join(oldd, "_RETIRED")
    for f in _glob_in(oldd, pattern):
        os.remove(f)
    if os.path.exists(marker):
        os.remove(marker)
    shutil.rmtree(oldd, ignore_errors=True)


def _swap_export(path: str, pattern: str,
                 staged_paths: list[str]) -> list[str]:
    """The forward half of the staged-export protocol, shared by every
    rename-aside sink (WebDataset tars, Avro containers): retire the
    live ``pattern`` files into ``.old``, write the ``_RETIRED`` commit
    marker, move the staged files in via per-file atomic renames, then
    drop ``.old`` (payload-first ordered delete — :func:`_drop_old`).
    Returns the final path of each ``staged_paths`` entry, in order.
    Every crash point is recoverable by :func:`_heal_export` (writers)
    or readable through :func:`_effective_files` (readers)."""
    oldd = os.path.join(path, ".old")
    if os.path.isdir(oldd):
        _drop_old(oldd, pattern)
    os.makedirs(oldd)
    for old in _glob_in(path, pattern):
        os.replace(old, os.path.join(oldd, os.path.basename(old)))
    with open(os.path.join(oldd, "_RETIRED"), "w", encoding="utf-8") as fh:
        fh.write("1")
    finals = []
    for spath in staged_paths:
        final = os.path.join(path, os.path.basename(spath))
        os.replace(spath, final)
        finals.append(final)
    _drop_old(oldd, pattern)
    return finals


def write_webdataset(df: DataFrame, path: str, *, id_col: str = "doc_id",
                     text_col: str = "text",
                     meta_cols: list[str] | None = None,
                     bin_col: str | None = None, bin_ext: str = "bin",
                     n_shards: int = 8) -> DataFrame:
    """Export ``df`` as ``shard-{k:05d}.tar`` files under ``path``;
    returns the already-materialized manifest ``(shard, path, n_docs,
    n_bytes)`` — the export runs EAGERLY inside this call (staged
    write, swap-on-success; see module docstring), so by the time it
    returns the shards under ``path`` are the new export and a failure
    raises without touching the previous one. Keys are zero-padded ids
    so tar member order == id order. ``bin_col`` adds a
    ``{key}.{bin_ext}`` member per row from a binary column — the
    multimodal payload path (bytes ride the same Arrow batches); NULL
    text or NULL payload → member omitted, matching the webdataset
    convention of absent extensions (so NULL and empty-string text
    survive a round trip DISTINGUISHABLY). Rows with a NULL id are
    rejected with a clear error."""
    from dig_etl_engine_spark.session import ship_package
    from dig_etl_engine_spark.sinks.kg_table import table_lock

    ship_package(df.sparkSession)
    meta_cols = meta_cols or []
    os.makedirs(path, exist_ok=True)
    # exclusive export: the entry sweep below deletes EVERY .staging-*
    # (a crashed run's leftovers are indistinguishable from a live
    # second writer's work dir), so two concurrent exporters destroy
    # each other without the advisory lock; with it they serialize and
    # the later one's export wins — the overwrite semantic an export
    # directory already promises. Readers stay lock-free (the torn-view
    # resolution in _effective_files covers them).
    with table_lock(path):
        return _write_webdataset_locked(
            df, path, id_col=id_col, text_col=text_col,
            meta_cols=meta_cols, bin_col=bin_col, bin_ext=bin_ext,
            n_shards=n_shards)


def _write_webdataset_locked(df: DataFrame, path: str, *, id_col: str,
                             text_col: str, meta_cols: list[str],
                             bin_col: str | None, bin_ext: str,
                             n_shards: int) -> DataFrame:
    _heal_export(path)  # finish/roll back any crashed swap FIRST
    # sweep leftovers of crashed runs (never the live shards)
    for stale in _glob_in(path, "shard-*.tar.tmp.*"):
        os.remove(stale)
    for stale in _glob_in(path, ".staging-*"):
        shutil.rmtree(stale, ignore_errors=True)
    staging = os.path.join(path, f".staging-{os.getpid()}")
    os.makedirs(staging, exist_ok=True)

    bin_expr = (F.col(bin_col).cast("binary") if bin_col
                else F.lit(None).cast("binary"))
    prepped = (df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(text_col).cast("string").alias("_text"),
        F.to_json(F.struct(*[F.col(c) for c in meta_cols])).alias("_meta"),
        bin_expr.alias("_bin"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_shards))
        .cast("int").alias("_shard"))
        .repartition(n_shards, "_shard")
        .sortWithinPartitions("_shard", "_id"))

    def write_partition(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
        w = _ShardWriter(staging, bin_ext)
        for b in batches:
            if b["_id"].isna().any():
                raise ValueError(
                    f"write_webdataset: NULL {id_col!r} rows cannot be "
                    "exported — filter or repair ids first")
            for _id, _text, _meta, _bin, _shard in zip(
                    b["_id"], b["_text"], b["_meta"], b["_bin"],
                    b["_shard"]):
                w.add(int(_shard), int(_id),
                      _text if _text is not None else None, _meta, _bin)
        yield pd.DataFrame(w.finish(), columns=["shard", "path",
                                                "n_docs", "n_bytes"])

    spark = df.sparkSession
    try:
        # the action: n_shards manifest rows cross the driver (bounded)
        rows = (prepped.mapInPandas(write_partition, _MANIFEST_SCHEMA)
                .collect())
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    # success → swap, rename-aside (shared protocol: _swap_export).
    # Every step is a per-file atomic rename and _heal_export can finish
    # or roll back from any crash point — never a window with zero
    # complete exports (the delete-then-move swap this replaces had one).
    finals = _swap_export(path, "shard-*.tar", [r["path"] for r in rows])
    final_rows = [(r["shard"], f, r["n_docs"], r["n_bytes"])
                  for r, f in zip(rows, finals)]
    shutil.rmtree(staging, ignore_errors=True)
    return local_df(spark, final_rows, _MANIFEST_SCHEMA)


def iter_samples(tar: tarfile.TarFile) -> Iterator[tuple[str, dict[str, bytes]]]:
    """Walk a shard tar sequentially and yield ``(stem, {ext: bytes})``
    per sample — one yield per CONTIGUOUS run of same-stem members (the
    webdataset convention; a tar that interleaves stems yields one
    sample per run). Non-regular members (directories, links) and
    members whose basename has no extension (READMEs) are skipped, so
    foreign tars parse cleanly. Memory is bounded by one sample's
    members, never the shard. Pure function of the tar stream —
    hypothesis-fuzzed in ``test_io.py`` against a reference grouping."""
    stem_cur: str | None = None
    parts: dict[str, bytes] = {}
    for m in tar:
        if not m.isfile() or "." not in os.path.basename(m.name):
            continue
        stem, ext = m.name.rsplit(".", 1)
        if stem != stem_cur:
            if stem_cur is not None:
                yield stem_cur, parts
            stem_cur, parts = stem, {}
        fh = tar.extractfile(m)
        if fh is None:
            continue
        parts[ext] = fh.read()
    if stem_cur is not None:
        yield stem_cur, parts


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Stream shard tars back into rows ``(shard, key, text, meta,
    bins)``. For ``file:`` / scheme-less paths, the shard list is
    resolved driver-side through the READ-ONLY torn-directory view
    (:func:`_effective_files` — a crashed swap is readable without
    mutating anything a live writer might be touching), handed to a
    `binaryFile` scan with ONLY the `path` column projected (content is
    pruned at the scan — bytes never load), then each task opens its
    tars with ``tarfile.open(name=...)`` and walks members
    sequentially: bounded memory regardless of shard size, no ~2 GiB
    binaryFile cap. binaryFile paths are URIs — they are parsed with
    ``urlparse`` and percent-decoded (a literal-prefix strip breaks on
    spaces and %-escapes). For non-local schemes (``hdfs:``, ``s3a:``
    …, where a local ``open()`` cannot reach the bytes) the reader
    falls back to the content-carrying binaryFile scan and streams the
    tar from the in-memory buffer — correct on any Hadoop filesystem,
    at the cost of binaryFile's ~2 GiB per-file cap; keep remote
    shards under that (the writer's ``n_shards`` controls size).
    ``text`` is NULL when the ``.txt`` member is absent; every other
    extension lands in the ``bins`` map (ext → bytes). Non-regular or
    extensionless members (directory entries, READMEs) are skipped.
    Samples are contiguous same-stem runs (the webdataset streaming
    convention); rows are yielded in chunks so a huge shard never
    materializes whole."""
    from urllib.parse import urlparse, unquote

    from dig_etl_engine_spark.session import ship_package

    ship_package(spark)
    local_fs = urlparse(path).scheme in ("", "file")
    if local_fs:
        # resolve a torn dir READ-ONLY (never heal from a reader — a
        # live writer's swap transiently looks torn, and a concurrent
        # mutating heal would corrupt it; see module docstring)
        local_root = unquote(urlparse(path).path) or path
        shard_list = _effective_files(local_root) \
            if os.path.isdir(local_root) else []
        if not shard_list:
            shard_list = [os.path.join(path, "shard-*.tar")]
        files = (spark.read.format("binaryFile")
                 .load(shard_list).select("path"))
    else:
        files = (spark.read.format("binaryFile")
                 .load(os.path.join(path, "shard-*.tar"))
                 .select("path", "content"))
    CHUNK = 1024

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["shard", "key", "text", "meta", "bins"]
        out: list[tuple] = []

        def row(shard, stem, parts):
            txt = parts.get("txt")
            bins = {k: v for k, v in parts.items()
                    if k not in ("txt", "json")} or None
            return (shard, stem,
                    txt.decode("utf-8") if txt is not None else None,
                    parts.get("json", b"{}").decode("utf-8"), bins)

        for b in batches:
            has_content = "content" in b.columns
            for i, fpath in enumerate(b["path"]):
                uri = urlparse(fpath)
                fname = os.path.basename(unquote(uri.path) or fpath)
                shard = int(fname.split("-")[1].split(".")[0])
                if has_content:
                    tar = tarfile.open(
                        fileobj=io.BytesIO(b["content"].iloc[i]))
                else:
                    tar = tarfile.open(unquote(uri.path))
                with tar:
                    for stem, parts in iter_samples(tar):
                        out.append(row(shard, stem, parts))
                        if len(out) >= CHUNK:
                            yield pd.DataFrame(out, columns=cols)
                            out = []
        if out:
            yield pd.DataFrame(out, columns=cols)

    return files.mapInPandas(parse, _READ_SCHEMA)
