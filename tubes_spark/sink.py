"""Sink — the reference's await-only consumer + contravariant algebra.

``Sink m a`` (Tubes/Sink.hs:94-96) consumes a stream.  Here a Sink wraps
``Callable[[DataFrame], None]`` and the algebra composes *writers*:

* ``contramap`` (Tubes/Sink.hs:98-99)  — pre-transform the batch
* ``divide``    (Tubes/Sink.hs:101-105)— split each element, feed two sinks
* ``conquer``   (Tubes/Sink.hs:107)    — discard (noop writer)
* ``choose``    (Tubes/Sink.hs:112-116)— route by predicate to one of two
* ``<>`` broadcast (Tubes/Sink.hs:118-119) — duplicate to both

Batch: the incoming DataFrame is persisted once, then each leaf sink
writes its slice.  Streaming: pass :meth:`Sink.for_each_batch` to
``writeStream.foreachBatch`` — the canonical multi-sink pattern.
Plain leaf sinks are at-least-once per sink; ``exactly_once_parquet``
upgrades a broadcast to effectively-once per sink with convergence
across sinks after a replay (per-epoch overwrite layout — see its
docstring for the exact guarantee and the remaining mid-failure
visibility bound, SURVEY.md §7.4 item 5).

Atomic groups (``atomic_parquet_group`` / ``atomic_bucketed_group``)
are the persisted form both indexes build on (MinHash ``bands``, ANN
``cells``).  This module is the only one that knows their on-disk
layout and their one publish protocol:

* append — each leaf writes ``<leaf>/data/epoch=<e>``, then ONE
  ``_commits/<e>`` marker renames into place (the visibility point);
* consolidate — every rewrite of committed history (compaction,
  latest-wins, row delete, index tombstone purge) goes through
  ``Sink._consolidate``: each leaf is rewritten into a run-unique
  ``<leaf>/compact/<dir>`` (bucketed when it is the bucket leaf), the
  ``_compacted/<K>`` marker naming that dir renames last, and gc
  removes superseded dirs together with their bucket-table
  registrations.

Readers list the markers, so a crash at any step leaves them on a
complete committed view.
"""

from __future__ import annotations

import contextvars
import json
import math
import os
import shutil
import threading
import uuid
from pathlib import Path
from typing import Callable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WriteFn = Callable[[DataFrame], None]

# Epoch of the micro-batch currently flowing through a sink tree (set by
# Sink.for_each_batch, None for plain batch calls).  A contextvar lets
# epoch-aware leaf sinks (exactly_once_parquet) see the batch id through
# any depth of contramap/divide/choose/broadcast composition without
# changing the WriteFn signature.
_CURRENT_EPOCH: contextvars.ContextVar = contextvars.ContextVar(
    "tubes_sink_epoch", default=None
)

# r14 optimization (VERDICT r13 #1, guide §1 driver round trips): the
# set of (applicationId, table) pairs whose external bucketed table is
# known registered AND current in this JVM's shared catalog.  A
# committed epoch directory is immutable for its lifetime (compaction
# writes NEW dirs; gc drops tables as it removes dirs), so once
# registered a re-read needs neither the tableExists probe nor the
# refreshTable re-listing — both were paid on EVERY index read, ~16
# gated queries x 3-8 reads each.  Writers that rewrite or remove a
# path (_write_bucketed_dir, compaction gc, tombstone purge) MUST
# invalidate through _forget_bucket_table.  Keyed by applicationId: a
# new application starts with an empty catalog, and catalog (non-temp)
# tables are shared across all sessions of one application.
_BUCKET_TBL_REGISTERED: "set[tuple[str, str]]" = set()

# plan-estimated (uncompressed) bytes per bucket of a new index
_BUCKET_TARGET_BYTES = 256 * 1024 * 1024

# Sink.leaf_snapshot's cache, shared by every reader of every group:
# (realpath of the group, leaf, reader key) -> (file identity, snapshot
# or None, bytes), least recently used first
_SNAPSHOTS: "dict[tuple, tuple]" = {}
_SNAPSHOT_LOCK = threading.Lock()

# spark.sql.parquet.compression.codec -> (pyarrow codec, Spark's file
# name extension); the driver-side bucket writer leaves any other codec
# to Spark's writer
_PARQUET_CODECS = {
    "snappy": ("snappy", ".snappy"), "zstd": ("zstd", ".zstd"),
    "gzip": ("gzip", ".gz"), "none": ("none", ""), "uncompressed": ("none", ""),
}

# the live-file bytes above which a compaction stays on Spark even under
# the broadcast threshold.  Timed on 4 cores against Spark's read, window
# and bucketed write: a deduping compaction of a MinHash `bands` leaf
# (about 24 bytes per row) wins up to 21 MiB of live files (1.07-1.19 s
# against 1.25-1.49 s), ties at 32-40 MiB and loses at 72 MiB (4.4-5.2 s
# against 2.9-3.6 s) — the pyarrow sorts and the numpy hash are single
# threaded — while holding 5-8x the live bytes in driver memory; an
# ANN `cells` leaf still wins at 65 MiB (1.06-1.09 s against 1.24-1.34 s).
_LOCAL_COMPACT_BYTES = 16 * 1024 * 1024

# Spark's Murmur3_x86_32 (the `hash` expression, seed 42, whose pmod is
# the bucket id of a bucketBy write) over uint32 numpy lanes
_M3_C1, _M3_C2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)


def _m3_rotl(x, r: int):
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _m3_mix_k1(k):
    return _m3_rotl(k * _M3_C1, 15) * _M3_C2


def _m3_mix_h1(h, k):
    return _m3_rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def _m3_fmix(h, length):
    h = h ^ length
    h = (h ^ (h >> np.uint32(16))) * np.uint32(0x85EBCA6B)
    h = (h ^ (h >> np.uint32(13))) * np.uint32(0xC2B2AE35)
    return h ^ (h >> np.uint32(16))


def _m3_column(col, h):
    """One column's step of Spark's ``hash(c1, c2, ...)``: each row's
    running hash ``h`` (uint32) re-seeds the hash of its value — an int
    as ``hashInt``, a bigint as ``hashLong``, a string's UTF-8 bytes as
    ``hashUnsafeBytes`` (little-endian 4-byte blocks, then each tail
    byte sign-extended on its own).  A NULL leaves the row's hash as it
    was."""
    import pyarrow as pa

    if pa.types.is_int32(col.type):
        out = _m3_fmix(
            _m3_mix_h1(h, _m3_mix_k1(col.fill_null(0).to_numpy().view(np.uint32))),
            np.uint32(4),
        )
    elif pa.types.is_int64(col.type):
        u = col.fill_null(0).to_numpy().view(np.uint64)
        out = _m3_mix_h1(h, _m3_mix_k1((u & np.uint64(0xFFFFFFFF)).astype(np.uint32)))
        out = _m3_fmix(
            _m3_mix_h1(out, _m3_mix_k1((u >> np.uint64(32)).astype(np.uint32))),
            np.uint32(8),
        )
    else:  # string
        _, offs, buf = col.buffers()
        off = np.frombuffer(offs, np.int32)[col.offset:col.offset + len(col) + 1]
        data = np.zeros(0, np.uint8) if buf is None else np.frombuffer(buf, np.uint8)
        start, n = off[:-1].astype(np.int64), np.diff(off).astype(np.int64)
        out = h.copy()
        # block j of every row that has one; rows with the most blocks
        # first, so the rows of step j are a prefix
        blocks = n // 4
        order = np.argsort(-blocks, kind="stable")
        desc = -blocks[order]
        for j in range(int(-desc[0]) if len(desc) else 0):
            r = order[:np.searchsorted(desc, -j)]
            p = start[r] + 4 * j
            k = data[p].astype(np.uint32)
            for b in (1, 2, 3):
                k |= data[p + b].astype(np.uint32) << np.uint32(8 * b)
            out[r] = _m3_mix_h1(out[r], _m3_mix_k1(k))
        tail = start + 4 * blocks
        for t in (0, 1, 2):
            r = np.flatnonzero(n % 4 > t)
            k = data[tail[r] + t].view(np.int8).astype(np.int32).view(np.uint32)
            out[r] = _m3_mix_h1(out[r], _m3_mix_k1(k))
        out = _m3_fmix(out, n.astype(np.uint32))
    return np.where(col.is_valid().to_numpy(zero_copy_only=False), out, h)


def bucket_ids(table, cols: "Sequence[str]", n: int) -> np.ndarray:
    """Spark's bucket id of every row of the Arrow ``table``:
    ``pmod(hash(cols), n)`` — what a ``bucketBy(n, *cols)`` write puts
    in the file name of the row's file.  ``cols`` are int32, int64 or
    string columns."""
    h = np.full(table.num_rows, 42, np.uint32)
    for c in cols:
        h = _m3_column(table.column(c).combine_chunks(), h)
    return np.mod(h.view(np.int32).astype(np.int64), int(n))


def _arrow_type(dt):
    """The Arrow type the driver-side bucket writer stores the Spark
    type ``dt`` as, or None for a type it leaves to Spark's writer:
    numbers, booleans, strings (binary collation), binaries and arrays
    of them."""
    import pyarrow as pa
    from pyspark.sql import types as T

    simple = {
        T.BooleanType: pa.bool_(), T.ByteType: pa.int8(), T.ShortType: pa.int16(),
        T.IntegerType: pa.int32(), T.LongType: pa.int64(), T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(), T.BinaryType: pa.binary(),
    }
    if type(dt) in simple:
        return simple[type(dt)]
    if type(dt) is T.StringType:
        return pa.string() if dt.collation == "UTF8_BINARY" else None
    if isinstance(dt, T.ArrayType) and not isinstance(dt.elementType, T.ArrayType):
        inner = _arrow_type(dt.elementType)
        return None if inner is None else pa.list_(
            pa.field("element", inner, dt.containsNull)
        )
    return None


def _as_nullable(dt):
    """Spark's ``asNullable``: what a parquet read reports for a written
    type — every field and array element nullable."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    return dt


class Sink:
    __slots__ = ("fn",)

    def __init__(self, fn: WriteFn):
        self.fn = fn

    def __call__(self, df: DataFrame) -> None:
        self.fn(df)

    # Contravariant (Tubes/Sink.hs:98-99)
    def contramap(self, f: Callable[[DataFrame], DataFrame]) -> "Sink":
        return Sink(lambda df: self.fn(f(df)))

    # Divisible.divide (Tubes/Sink.hs:101-105)
    @staticmethod
    def divide(split: Callable[[DataFrame], tuple[DataFrame, DataFrame]],
               s1: "Sink", s2: "Sink") -> "Sink":
        def run(df: DataFrame) -> None:
            df = df.persist()
            try:
                a, b = split(df)
                s1(a)
                s2(b)
            finally:
                df.unpersist()
        return Sink(run)

    # Divisible.conquer (Tubes/Sink.hs:107)
    @staticmethod
    def conquer() -> "Sink":
        return Sink(lambda df: None)

    # Decidable.choose (Tubes/Sink.hs:112-116): route by predicate.
    @staticmethod
    def choose(pred: Column, on_true: "Sink", on_false: "Sink") -> "Sink":
        """Total routing: the reference's ``choose`` is ``a -> Either b c``
        — every element reaches exactly one sink.  Under SQL three-valued
        logic ``filter(pred)`` and ``filter(~pred)`` BOTH drop
        NULL-predicate rows, so the false branch coalesces NULL to true
        (NULL routes to ``on_false``), mirroring ``pchoice`` (pipe.py)."""
        def run(df: DataFrame) -> None:
            df = df.persist()
            try:
                on_true(df.filter(pred))
                on_false(df.filter(F.coalesce(~pred, F.lit(True))))
            finally:
                df.unpersist()
        return Sink(run)

    # Semigroup broadcast (Tubes/Sink.hs:118-119): every element to both.
    def __add__(self, other: "Sink") -> "Sink":
        def run(df: DataFrame) -> None:
            df = df.persist()
            try:
                self(df)
                other(df)
            finally:
                df.unpersist()
        return Sink(run)

    # ------------------------------------------------------------- factories

    @staticmethod
    def parquet(path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> "Sink":
        def run(df: DataFrame) -> None:
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
        return Sink(run)

    @staticmethod
    def exactly_once_parquet(path: str) -> "Sink":
        """Idempotent per-epoch parquet sink — the effectively-once
        upgrade for multi-sink broadcast (SURVEY §7.4 item 5).

        Each micro-batch writes with OVERWRITE into its own
        ``data/epoch=<id>`` directory, so a REPLAYED batch (failure
        between the two sinks of a broadcast, restart from checkpoint)
        rewrites the same directory instead of appending duplicates —
        idempotence comes from the path layout, not from a marker race.
        A commit marker (written after the data) lets clean replays skip
        the rewrite entirely.  Structured Streaming re-delivers a failed
        epoch with identical content for replayable sources, which is
        what makes the overwrite equivalent to the lost write.

        Cross-sink story: a crash between sink A and sink B of ``sA +
        sB`` leaves the sinks divergent only until the restart replays
        the epoch — A's overwrite/skip is a no-op, B fills in, and both
        converge to identical committed sets.  That is effectively-once
        per sink and eventual atomicity across sinks; a mid-failure
        reader can still observe the gap (the honest bound without a
        cross-system transaction manager).

        Readers load ``<path>/data`` (epoch= directories read as a
        partition column with recursive discovery).  Batch (non-
        streaming) calls land in ``epoch=-1`` with plain overwrite.
        Markers live beside the data, so the protocol works on any
        shared filesystem the cluster writes to."""

        def run(df: DataFrame) -> None:
            epoch = _CURRENT_EPOCH.get()
            if epoch is None:
                df.write.mode("overwrite").parquet(f"{path}/data/epoch=-1")
                return
            if (Path(path) / "_commits" / str(int(epoch))).exists():
                return  # clean replay: this epoch already committed here
            df.write.mode("overwrite").parquet(f"{path}/data/epoch={int(epoch)}")
            Sink._publish_marker(Path(path) / "_commits", int(epoch))
        return Sink(run)

    @staticmethod
    def read_exactly_once(spark, path: str) -> DataFrame:
        """Read back an :meth:`exactly_once_parquet` sink's committed
        data (epoch appears as a partition column)."""
        return spark.read.option("basePath", f"{path}/data").parquet(
            f"{path}/data/epoch=*"
        )

    @staticmethod
    def atomic_parquet_group(
        group_dir: str,
        leaves: "dict[str, Callable[[DataFrame], DataFrame] | None]",
    ) -> "Sink":
        """Cross-sink ATOMIC VISIBILITY for a group of parquet leaves —
        the upgrade over ``sA + sB`` (eventual convergence) and
        ``exactly_once_parquet`` (per-sink idempotence): every leaf
        writes its per-epoch directory first, and ONE commit marker for
        the whole group is published last by an atomic rename.  Readers
        (:meth:`read_atomic_group`) list the marker directory and load
        only committed epochs, so an epoch becomes visible in ALL
        leaves at the marker rename or in NONE — a crash after some
        leaves wrote leaves orphan data directories that no reader ever
        sees, and the checkpoint replay overwrites them and commits.
        This is atomic visibility + effectively-once durability; what
        it is NOT is a cross-system transaction (leaves must share one
        filesystem namespace for the single marker to gate them all —
        the honest bound without an external transaction manager;
        reference parity note: Tubes/Sink.hs:118-119 ``<>`` runs both
        sinks in one IO action and inherits the same
        no-distributed-transaction caveat).

        ``leaves`` maps leaf name -> optional per-leaf transform (the
        ``divide``/``contramap`` composition point); leaves write in
        sorted-name order so failure injection in tests is
        deterministic.  On a real cluster the marker rename maps to an
        HDFS rename / S3 conditional put — both atomic publish
        primitives; task-side data writes stay distributed, only the
        tiny marker touches the driver.  (The one exception is a SMALL
        bucket leaf — :meth:`append_bucketed_epoch` given an Arrow table
        the driver already holds, or :meth:`compact_atomic_group` on a
        group under :meth:`_local_compact_limit` — written
        from the driver by :meth:`_write_bucket_files` into the same
        uncommitted dir, so the marker protocol and its crash contract
        are unchanged.)"""

        def run(df: DataFrame) -> None:
            epoch = _CURRENT_EPOCH.get()
            ep = -1 if epoch is None else int(epoch)
            if (Path(group_dir) / "_commits" / str(ep)).exists():
                return  # clean replay: whole group already committed

            def write_leaf(name: str) -> None:
                t = leaves[name]
                out = t(df) if t is not None else df
                out.write.mode("overwrite").parquet(
                    Sink._epoch_dir(group_dir, name, ep)
                )

            names = sorted(leaves)
            if len(names) == 1:
                write_leaf(names[0])
            else:
                # leaf writes are independent jobs gated by ONE marker:
                # overlap them (guide §2.6) so the group commits in the
                # slowest leaf's time, not the sum — on a cluster the
                # later jobs back-fill the earlier jobs' task tails.
                # Failure semantics are unchanged: any leaf error aborts
                # before the marker, leaving only orphan dirs no reader
                # sees (the crash-injection tests pin exactly this).
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(len(names), 4)) as px:
                    futs = [
                        # each leaf runs under a COPY of the caller's
                        # context so transforms that read _CURRENT_EPOCH
                        # (the cdc/tombstone leaves do) see the epoch —
                        # a bare pool thread starts from an empty context
                        px.submit(contextvars.copy_context().run, write_leaf, n)
                        for n in names
                    ]
                    for fut in futs:
                        fut.result()
            Sink._publish_marker(Path(group_dir) / "_commits", ep)

        return Sink(run)

    @staticmethod
    def _committed_epochs(group_dir: str) -> "tuple[list[int], int | None, str | None]":
        """Committed epoch ids, the latest compaction point K, and the
        per-leaf compact DIRECTORY NAME the K marker references.  The
        marker file's content names the data directory (unique per
        consolidation run) so publishing a new one never has to delete
        the directory readers currently resolve; an empty marker falls
        back to the deterministic ``upto=<K>``."""
        cdir = Path(group_dir) / "_commits"
        epochs = (
            sorted(int(p.name) for p in cdir.iterdir() if not p.name.startswith("."))
            if cdir.exists()
            else []
        )
        kdir = Path(group_dir) / "_compacted"
        ks = (
            [int(p.name) for p in kdir.iterdir() if not p.name.startswith(".")]
            if kdir.exists()
            else []
        )
        if not ks:
            return epochs, None, None
        k = max(ks)
        name = (kdir / str(k)).read_text().strip()
        return epochs, k, (name or f"upto={k}")

    # -- group layout ---------------------------------------------------
    # The only place the on-disk layout of an atomic group is spelled:
    #   <group>/_commits/<e>             commit marker of epoch e
    #   <group>/_compacted/<K>           consolidation marker; its content
    #                                    names each leaf's compact dir
    #   <group>/_bucketspec.json         optional bucket-layout declaration
    #   <group>/<leaf>/data/epoch=<e>    a leaf's rows of epoch e
    #   <group>/<leaf>/compact/<name>    a leaf's consolidated epochs <= K

    @staticmethod
    def _epoch_dir(group_dir: str, leaf: str, epoch: int) -> str:
        return f"{group_dir}/{leaf}/data/epoch={int(epoch)}"

    @staticmethod
    def _compact_dir(group_dir: str, leaf: str, name: str) -> str:
        return f"{group_dir}/{leaf}/compact/{name}"

    @staticmethod
    def _leaves(group_dir: str) -> "list[str]":
        p = Path(group_dir)
        if not p.is_dir():
            return []
        return sorted(
            c.name for c in p.iterdir() if c.is_dir() and not c.name.startswith("_")
        )

    @staticmethod
    def _publish_marker(marker_dir: Path, name, content: str = "") -> None:
        """Write ``content`` to ``.tmp.<name>`` and rename it to
        ``<name>`` — every marker of the group becomes visible in one
        atomic rename (an HDFS rename / S3 conditional put on a
        cluster)."""
        marker_dir.mkdir(parents=True, exist_ok=True)
        tmp = marker_dir / f".tmp.{name}"
        tmp.write_text(content)
        os.replace(tmp, marker_dir / str(name))

    @staticmethod
    def _sources(
        group_dir: str, leaf: str, as_of_epoch: "int | None" = None
    ) -> "tuple[list[int], str | None, list[str]]":
        """(committed epochs, the compact dir the latest marker names or
        None, the epoch dirs past the compaction point), optionally
        limited to epochs ``<= as_of_epoch``."""
        epochs, k, kname = Sink._committed_epochs(group_dir)
        if as_of_epoch is not None:
            epochs = [e for e in epochs if e <= as_of_epoch]
        compact = None if k is None else Sink._compact_dir(group_dir, leaf, kname)
        live = [
            Sink._epoch_dir(group_dir, leaf, e) for e in epochs if k is None or e > k
        ]
        return epochs, compact, live

    @staticmethod
    def live_leaf_dirs(group_dir: str, leaf: str) -> "list[str]":
        """The live directories of one leaf, in read order: the compact
        dir the latest consolidation published (if any), then every
        committed epoch dir past it."""
        _, compact, live = Sink._sources(group_dir, leaf)
        return ([compact] if compact is not None else []) + live

    @staticmethod
    def part_files(path: str) -> "list[tuple[str, int, int]]":
        """The parquet data files directly under ``path`` (what a
        parquet read of the dir loads: hidden ``.``/``_`` files
        excluded), sorted, each with its identity ``(path, size,
        mtime_ns)``.  A missing dir has none."""
        p = Path(path)
        if not p.is_dir():
            return []
        out = []
        for f in sorted(p.iterdir()):
            if f.name.endswith(".parquet") and not f.name.startswith((".", "_")):
                try:
                    st = f.stat()
                except FileNotFoundError:  # removed by a concurrent gc
                    continue
                out.append((str(f), st.st_size, st.st_mtime_ns))
        return out

    @staticmethod
    def live_part_files(group_dir: str, leaf: str) -> "list[tuple[str, int, int]]":
        """Every parquet data file of one leaf's live dirs
        (:meth:`live_leaf_dirs` order), with its identity ``(path, size,
        mtime_ns)`` — the committed rows of the leaf, file by file.
        Files of a live dir are immutable, so the identity list changes
        exactly when an append, consolidation or gc changes the rows."""
        return [
            f for d in Sink.live_leaf_dirs(group_dir, leaf)
            for f in Sink.part_files(d)
        ]

    @staticmethod
    def broadcast_threshold(spark) -> int:
        """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
        (-1: broadcasting disabled) — also the bound of every driver-side
        snapshot (:meth:`leaf_snapshot`)."""
        return int(
            spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )

    @staticmethod
    def _local_compact_limit(spark) -> int:
        """The live-file bytes up to which :meth:`_consolidate` compacts
        a small group on the driver: ``spark.sql.autoBroadcastJoinThreshold``
        capped at :data:`_LOCAL_COMPACT_BYTES` (-1: never)."""
        limit = Sink.broadcast_threshold(spark)
        return limit if limit < 0 else min(limit, _LOCAL_COMPACT_BYTES)

    @staticmethod
    def leaf_snapshot(
        group_dir: str, leaf: str, reader, load: Callable, limit: int,
        also: tuple = (),
    ):
        """A driver-resident snapshot of one leaf's live rows, cached, or
        None when the live files exceed ``limit`` bytes or ``load``
        declines them.

        ``load(files)`` builds the snapshot from the :meth:`live_part_files`
        list (anything with ``nbytes``; None when the rows hold something
        the reader does not reproduce).  It is reloaded whenever the
        identity (path, size, mtime_ns) of any live part file — or
        ``also``, the reader's other inputs — changes, so every append,
        consolidation, gc or rebuild at the same path is seen by the next
        call.  One cache serves every reader (keyed on the group's real
        path, ``leaf`` and the ``reader`` key): it holds at most ``limit``
        bytes of snapshots, evicting the least recently used, and one lock
        covers check-then-load."""
        files = Sink.live_part_files(group_dir, leaf)
        if sum(size for _, size, _ in files) > limit:
            return None
        key = (os.path.realpath(group_dir), leaf, reader)
        ident = (tuple(files), tuple(also))
        with _SNAPSHOT_LOCK:
            hit = _SNAPSHOTS.pop(key, None)
            if hit is not None and hit[0] == ident:
                _SNAPSHOTS[key] = hit  # most recently used goes last
                return hit[1]
            try:
                snap = load(files)
            except FileNotFoundError:  # a concurrent gc moved the live set
                return None
            _SNAPSHOTS[key] = (ident, snap, 0 if snap is None else snap.nbytes)
            total = sum(v[2] for v in _SNAPSHOTS.values())
            while total > limit:
                total -= _SNAPSHOTS.pop(next(iter(_SNAPSHOTS)))[2]
        return snap

    @staticmethod
    def _drop_dir(spark, path: str) -> None:
        """Remove a directory of the group together with any external
        bucketed table a reader registered over it (ADVICE r11: a
        removed dir's catalog entry would otherwise outlive it for the
        whole session)."""
        spark.sql(f"DROP TABLE IF EXISTS {Sink._forget_bucket_table(spark, path)}")
        shutil.rmtree(path, ignore_errors=True)

    # -- bucketed atomic-group layout ---------------------------------
    # A group may declare ONE leaf as bucket-laid-out via a tiny
    # `_bucketspec.json` at the group root ({"leaf","cols","n"}).
    # Epoch directories of that leaf are then written through Spark's
    # bucketBy writer (bucket ids live in the FILE NAMES), and readers
    # re-register each committed directory as an external bucketed
    # table, so a join against the leaf plans a bucketed FileScan with
    # NO Exchange on the leaf side — the arriving/batch side shuffles
    # once to align with the bucket count and that is the ONLY shuffle.
    # This is the storage layout the 100 TB incremental near-dedup
    # index needs (VERDICT r10 #1): index-side cost stops growing with
    # corpus age.  The marker protocol is unchanged — bucketed epoch
    # dirs are still invisible until the group commit marker lands, and
    # every consolidation (:meth:`_consolidate`) keeps the layout.
    # A SMALL leaf write (an epoch the driver screens already hold as
    # an Arrow table, or a compaction of a group whose live files fit
    # under _LOCAL_COMPACT_BYTES and the broadcast threshold) skips the
    # Spark job: :meth:`_write_bucket_files` writes the same files from
    # the driver.
    # That is safe because the file is the whole contract — Spark's
    # bucket id (pmod of its murmur3 hash, reproduced bit for bit by
    # `bucket_ids`) in the file name, rows sorted as sortBy sorts them,
    # and a footer with Spark's parquet schema and row metadata — so no
    # reader, Spark's bucketed scan included, reads them differently.

    @staticmethod
    def _bucket_spec(group_dir: str) -> "dict | None":
        """The group's bucket-layout declaration, or None (plain
        parquet layout).  First writer records it; it is immutable for
        the group's lifetime — bucket joins require every directory of
        the leaf to share one (cols, n) spec."""
        p = Path(group_dir) / "_bucketspec.json"
        if not p.exists():
            return None
        return json.loads(p.read_text())

    @staticmethod
    def plan_bytes(df: DataFrame) -> "int | None":
        """Plan-estimated size of ``df`` in bytes (a few py4j stats
        calls, no job), or None when Spark cannot size it.

        A source Spark cannot size (an RDD-backed ``createDataFrame``)
        reports ``spark.sql.defaultSizeInBytes`` (Long.MaxValue), and a
        projection over it scales that placeholder rather than measuring
        anything — a projection over a 200-row ``createDataFrame``
        estimates 4.1e18 — so an estimate at or above the default, at
        the root or at any leaf of the plan, is unknown.  So is a frame
        with no JVM plan to ask."""
        from py4j.protocol import Py4JError

        try:
            plan = df._jdf.queryExecution().optimizedPlan()
            conf = df.sparkSession._jsparkSession.sessionState().conf()
            unknown = int(conf.defaultSizeInBytes())
            est = int(plan.stats().sizeInBytes())
            leaves = plan.collectLeaves()
            if est >= unknown or any(
                int(leaves.apply(i).stats().sizeInBytes()) >= unknown
                for i in range(leaves.length())
            ):
                return None
        except (AttributeError, Py4JError):
            return None
        return est

    @staticmethod
    def size_derived_buckets(df: DataFrame, floor: int = 8, cap: int = 4096) -> int:
        """Default bucket count for a NEW persisted index: derived from
        the PLAN-ESTIMATED size of the frame being written (a few py4j
        stats calls, no job), not from the session's core count (r13
        optimization — guide §2: partitioning constants tuned to
        local-mode parallelism are wrong at both ends).  Target:
        ``_BUCKET_TARGET_BYTES`` (256 MB of plan-estimated — i.e.
        uncompressed — bytes per bucket, landing near the guide's
        100 MB-1 GB post-compression file target), clamped to
        [floor, cap].

        Unknown stats (:meth:`plan_bytes` is None) give the floor, not
        the cap.  Only the DEFAULT is sized: an explicit ``n_buckets``
        and every already-recorded ``_bucketspec`` win."""
        est = Sink.plan_bytes(df)
        if est is None:
            return int(floor)
        n = math.ceil(est / _BUCKET_TARGET_BYTES) or 1
        return max(int(floor), min(int(cap), n))

    @staticmethod
    def _record_bucket_spec(
        group_dir: str, leaf: str, cols: "Sequence[str]", n: int
    ) -> dict:
        """Atomically publish the group's bucket spec (tmp + rename,
        like every other marker here).  Idempotent; a differing
        existing spec raises — silently mixing bucket layouts would
        poison every read-side join."""
        spec = {"leaf": leaf, "cols": list(cols), "n": int(n)}
        prev = Sink._bucket_spec(group_dir)
        if prev is not None:
            if prev != spec:
                raise ValueError(
                    f"bucket spec mismatch under {group_dir}: {prev} vs {spec}"
                )
            return prev
        Sink._publish_marker(Path(group_dir), "_bucketspec.json", json.dumps(spec))
        return spec

    @staticmethod
    def _bucket_table_name(path: str) -> str:
        import hashlib

        # ADVICE r12: registration (f"{group_dir}/.../compact/{kname}")
        # and gc (str(Path(...))) build this path differently — a
        # trailing slash or doubled separator in group_dir would hash to
        # DIFFERENT table names and the stale catalog entry gc exists to
        # remove would survive.  Normalize so both sides hash the same
        # canonical string.
        return (
            "tubes_bidx_"
            + hashlib.md5(os.path.normpath(path).encode()).hexdigest()[:16]
        )

    @staticmethod
    def _forget_bucket_table(spark, path: str) -> str:
        """Invalidate the registration cache for ``path`` and return its
        table name — every DROP TABLE of a bucket table goes through
        here so the cache can never claim a dropped/rewritten table."""
        tbl = Sink._bucket_table_name(path)
        _BUCKET_TBL_REGISTERED.discard(
            (spark.sparkContext.applicationId, tbl)
        )
        return tbl

    @staticmethod
    def _write_bucketed_dir(
        df: DataFrame, path: str, cols: "Sequence[str]", n: int
    ) -> None:
        """Write ``path`` as ONE parquet file per bucket with Spark's
        bucket-id file naming (``part-...._00003....parquet``), via a
        transient external table that is dropped right after — the
        catalog entry is scaffolding, the bucket ids in the FILE NAMES
        are the durable artifact (:meth:`_read_bucketed_dir` re-derives
        a table from them in any later session).  The pre-repartition
        aligns write tasks 1:1 with buckets (same murmur3-pmod hash),
        so an upstream 400-partition scan can't emit 400 near-empty
        files per bucket (sources.write_bucketed has the same note).

        This is the writer of every large leaf and of every DML rewrite,
        and the reference :meth:`_write_bucket_files` is tested against:
        it costs a job, a shuffle and two catalog DDLs per write, which
        is most of a small epoch append."""
        spark = df.sparkSession
        Sink._drop_dir(spark, path)  # torn uncommitted rewrite
        tbl = Sink._bucket_table_name(path)
        (
            df.repartition(int(n), *[F.col(c) for c in cols])
            .write.mode("overwrite")
            .bucketBy(int(n), *cols)
            .sortBy(*cols)
            .option("path", path)
            .saveAsTable(tbl)
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # external: files stay

    @staticmethod
    def _bucket_files_ok(spark, schema, cols: "Sequence[str]") -> bool:
        """Whether :meth:`_write_bucket_files` reproduces what Spark's
        writer would write for ``schema`` bucketed on ``cols`` in this
        session: int, bigint or string bucket columns; every column of a
        type :func:`_arrow_type` maps, with no field metadata (Spark may
        turn it into parquet field ids); a codec pyarrow writes; the
        standard (non-legacy) parquet layout."""
        from pyspark.sql import types as T

        conf = spark.conf
        if conf.get("spark.sql.parquet.writeLegacyFormat", "false").lower() == "true":
            return False
        if conf.get("spark.sql.parquet.compression.codec").lower() not in _PARQUET_CODECS:
            return False
        types = {f.name: type(f.dataType) for f in schema.fields}
        if not all(types.get(c) in (T.IntegerType, T.LongType, T.StringType) for c in cols):
            return False
        return all(
            not f.metadata and _arrow_type(f.dataType) is not None
            for f in schema.fields
        )

    @staticmethod
    def _write_bucket_files(
        spark, table, schema, path: str, cols: "Sequence[str]", n: int
    ) -> None:
        """Write the Arrow ``table`` — the rows of the Spark ``schema`` —
        to ``path`` from the driver, as :meth:`_write_bucketed_dir` would
        write them in ``spark``'s session (callers check
        :meth:`_bucket_files_ok` first):

        * one file per non-empty bucket, named
          ``part-00000-<uuid>_<bucket:05d>.c000.<codec>.parquet`` with
          the bucket id :func:`bucket_ids` computes; an empty table
          writes no file;
        * rows sorted by ``cols`` ascending, NULLs first, strings by
          unsigned bytes (Spark's sortBy);
        * the parquet schema Spark writes (repetition, physical and
          logical types, the 3-level list), and Spark's two key-value
          metadata entries, ``org.apache.spark.version`` and
          ``org.apache.spark.sql.parquet.row.metadata`` (the JVM's
          ``StructType.json``), written as Arrow schema metadata — so
          the footer also holds pyarrow's ``ARROW:schema`` key, which
          Spark ignores and which restores the same Arrow types a
          pyarrow read derives from the parquet schema;
        * the codec of ``spark.sql.parquet.compression.codec``.

        Like the Spark writer it replaces ``path`` wholesale (a torn
        uncommitted write) together with any registration over it."""
        import re

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        codec, ext = _PARQUET_CODECS[
            spark.conf.get("spark.sql.parquet.compression.codec").lower()
        ]
        target = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in schema.fields],
            metadata={
                "org.apache.spark.version":
                    re.match(r"\d+\.\d+\.\d+", spark.version).group(),
                # the JVM's StructType.json, byte for byte (Python's
                # json orders the keys differently)
                "org.apache.spark.sql.parquet.row.metadata":
                    spark.sparkContext._jvm.org.apache.spark.sql.types.DataType
                    .fromJson(schema.json()).json(),
            },
        )
        table = table.select(schema.names).cast(target)
        Sink._drop_dir(spark, path)
        os.makedirs(path)
        if not table.num_rows:
            return
        bucket = pa.array(bucket_ids(table, cols, n))
        order = pc.sort_indices(
            table.select(list(cols)).append_column("__bucket__", bucket),
            [("__bucket__", "ascending")] + [(c, "ascending") for c in cols],
            null_placement="at_start",
        )
        table, bucket = table.take(order), bucket.take(order).to_numpy()
        starts = np.flatnonzero(np.diff(bucket, prepend=-1))
        uid = uuid.uuid4()
        for a, b in zip(starts, [*starts[1:], len(bucket)]):
            name = f"part-00000-{uid}_{bucket[a]:05d}.c000{ext}.parquet"
            pq.write_table(
                table.slice(a, b - a), f"{path}/{name}", compression=codec
            )

    @staticmethod
    def _write_bucket_leaf(data, path: str, cols: "Sequence[str]", n: int) -> None:
        """Write one bucketed leaf dir from ``data``: a DataFrame goes
        through Spark's writer (:meth:`_write_bucketed_dir`); a
        ``(spark, pyarrow.Table, StructType)`` triple is written from the
        driver (:meth:`_write_bucket_files`) when the table fits under
        ``spark``'s ``spark.sql.autoBroadcastJoinThreshold`` (-1
        disables) and :meth:`_bucket_files_ok`, else as a local relation
        through Spark's writer."""
        if isinstance(data, DataFrame):
            Sink._write_bucketed_dir(data, path, cols, n)
            return
        spark, table, schema = data
        if table.nbytes <= Sink.broadcast_threshold(spark) and Sink._bucket_files_ok(
            spark, schema, cols
        ):
            Sink._write_bucket_files(spark, table, schema, path, cols, n)
        else:
            Sink._write_bucketed_dir(
                spark.createDataFrame(table, schema), path, cols, n
            )

    @staticmethod
    def _read_leaf_local(group_dir: str, leaf: str, limit: int):
        """``(pyarrow.Table, StructType)`` of the committed rows of
        ``leaf`` exactly as :meth:`read_atomic_group` reads them — the
        compact dir's rows with their stored ``epoch``, then each live
        epoch dir's rows with ``epoch`` from the dir name; columns in
        that read's order, every type nullable — read with pyarrow, or
        None when the live files exceed ``limit`` bytes (-1: always),
        hold no row, a live dir is missing (Spark's read then fails
        loudly rather than a compaction dropping its rows), or their
        Spark schema records are missing or disagree."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import IntegerType, StructField, StructType

        epochs, compact, live = Sink._sources(group_dir, leaf)
        past = epochs[len(epochs) - len(live):]  # the epochs of `live`
        srcs = ([] if compact is None else [(compact, None)]) + list(zip(live, past))
        if not all(os.path.isdir(d) for d, _ in srcs):
            return None
        files = [(f, size, e) for d, e in srcs for f, size, _ in Sink.part_files(d)]
        if not files or sum(size for _, size, _ in files) > limit:
            return None
        schema, parts = None, []
        for f, _, e in files:
            pf = pq.ParquetFile(f)
            meta = (pf.metadata.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
            if meta is None:
                return None
            st = _as_nullable(StructType.fromJson(json.loads(meta)))
            if e is not None:
                st = st.add(StructField("epoch", IntegerType(), True))
            if schema is None:
                schema = st
            elif {x.name: x.dataType for x in st.fields} != {
                x.name: x.dataType for x in schema.fields
            }:
                return None  # unionByName would widen or fail: Spark decides
            t = pf.read()
            if e is not None:
                t = t.append_column("epoch", pa.array(np.full(t.num_rows, e, np.int32)))
            parts.append(t)
        if any(_arrow_type(f.dataType) is None for f in schema.fields):
            return None
        target = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType), True) for f in schema.fields]
        )
        return pa.concat_tables(
            [t.select(schema.names).cast(target) for t in parts]
        ), schema

    @staticmethod
    def _has_parquet(path: str) -> bool:
        """True iff the directory holds at least one parquet data file.
        A committed epoch CAN be legitimately empty — a
        ``append_scope="survivors"`` batch where every arrival was
        rejected appends zero rows, and a bucketed write of an empty
        frame emits no part files — and an empty dir has no footer to
        infer a schema from, so readers must skip it (r12; the row set
        it contributes is empty either way)."""
        return bool(Sink.part_files(path))

    @staticmethod
    def _footer_ddl(path: str) -> "str | None":
        """Spark DDL column list derived from ONE parquet footer via
        pyarrow — no Spark relation, no file-listing job.  Returns None
        (caller falls back to ``spark.read.parquet``) when the
        directory has no part file yet or any column uses a type
        outside the small map below (the persisted-index leaves only
        use these)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        parts = [p for p, _, _ in Sink.part_files(path)]
        if not parts:
            return None

        def spark_type(t: "pa.DataType") -> "str | None":
            simple = {
                pa.bool_(): "boolean", pa.int8(): "tinyint",
                pa.int16(): "smallint", pa.int32(): "int",
                pa.int64(): "bigint", pa.float32(): "float",
                pa.float64(): "double", pa.string(): "string",
                pa.large_string(): "string", pa.binary(): "binary",
                pa.large_binary(): "binary",
            }
            if t in simple:
                return simple[t]
            # timestamps/decimals/dates deliberately unmapped: their
            # Spark-side inference has engine-specific wrinkles (nanos
            # vs micros, NTZ) — the spark.read fallback handles them
            if pa.types.is_list(t) or pa.types.is_large_list(t):
                inner = spark_type(t.value_type)
                return None if inner is None else f"array<{inner}>"
            return None

        try:
            sch = pq.ParquetFile(parts[0]).schema_arrow
        except Exception:
            return None
        cols = []
        for f in sch:
            st = spark_type(f.type)
            if st is None:
                return None
            cols.append(f"`{f.name}` {st}")
        return ", ".join(cols)

    @staticmethod
    def _read_bucketed_dir(
        spark, path: str, cols: "Sequence[str]", n: int
    ) -> DataFrame:
        """A committed bucket-laid-out directory as a DataFrame whose
        scan carries the bucket partitioning (``Bucketed: true`` /
        ``SelectedBucketsCount`` in the plan): (re)register an external
        bucketed table over the existing files — schema from one
        parquet footer, CLUSTERED BY from the group spec.  Spark only
        honors bucket metadata through the catalog, never through a
        raw path read; registration is idempotent per path and costs
        one footer read the first time."""
        tbl = Sink._bucket_table_name(path)
        # r14 (VERDICT r13 #1): committed epoch dirs are immutable, so a
        # registration this application already made is still current —
        # skip the tableExists catalog probe and the refreshTable
        # re-listing (both py4j/catalog round trips paid per read, per
        # epoch dir, on every one of the 16 gated index queries).
        # Writers invalidate via _forget_bucket_table.
        key = (spark.sparkContext.applicationId, tbl)
        if key in _BUCKET_TBL_REGISTERED:
            return spark.table(tbl)
        if not spark.catalog.tableExists(tbl):
            # schema from one parquet footer, pure Python (r14): the
            # old `spark.read.parquet(path).schema` built a whole
            # DataSource relation (file listing + py4j) just to read
            # one footer.  Falls back to it for any arrow type the
            # small DDL mapper below doesn't cover.
            ddl = Sink._footer_ddl(path)
            if ddl is None:
                sch = spark.read.parquet(path).schema
                ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in sch.fields
                )
            bcols = ", ".join(f"`{c}`" for c in cols)
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
                f"INTO {int(n)} BUCKETS LOCATION '{path}'"
            )
        else:
            spark.catalog.refreshTable(tbl)  # bust stale file listings
        _BUCKET_TBL_REGISTERED.add(key)
        return spark.table(tbl)

    @staticmethod
    def atomic_bucketed_group(
        group_dir: str, leaf: str, cols: "Sequence[str]", n: int
    ) -> "Sink":
        """:meth:`atomic_parquet_group` for a single bucket-laid-out
        leaf: identical marker protocol (epoch dir first, group commit
        marker last, clean replays skip), but the epoch directory is
        written bucketed (:meth:`_write_bucket_leaf`: a DataFrame, or a
        ``(spark, pyarrow.Table, StructType)`` triple) so every committed
        directory joins shuffle-free on ``cols``.  Records the group's
        bucket spec on first use."""

        def run(df) -> None:
            spec = Sink._record_bucket_spec(group_dir, leaf, cols, n)
            epoch = _CURRENT_EPOCH.get()
            ep = -1 if epoch is None else int(epoch)
            if (Path(group_dir) / "_commits" / str(ep)).exists():
                return  # clean replay: whole group already committed
            Sink._write_bucket_leaf(
                df, Sink._epoch_dir(group_dir, leaf, ep), spec["cols"], spec["n"]
            )
            Sink._publish_marker(Path(group_dir) / "_commits", ep)

        return Sink(run)

    @staticmethod
    def read_bucketed_leaf(spark, group_dir: str) -> "list[DataFrame]":
        """The live data of a bucketed group's bucket leaf as one
        zero-Exchange bucketed frame per live directory (see
        :meth:`live_leaf_dirs`).  A survivors append can commit an EMPTY
        epoch (zero part files); it contributes no rows and has no
        footer to register a table from, so it is skipped.  A group
        without ``_bucketspec.json`` is refused: no writer produces
        that layout."""
        spec = Sink._bucket_spec(group_dir)
        if spec is None:
            raise ValueError(
                f"{group_dir} has no _bucketspec.json, so it is not a "
                "bucketed index this version can read; rebuild the index "
                "with its writer (write_minhash_index / write_ann_index / "
                "write_pq_ann_index)"
            )
        return [
            Sink._read_bucketed_dir(spark, d, spec["cols"], spec["n"])
            for d in Sink.live_leaf_dirs(group_dir, spec["leaf"])
            if Sink._has_parquet(d)
        ]

    @staticmethod
    def append_bucketed_epoch(
        df: "DataFrame | tuple",
        group_dir: str,
        leaf: str,
        cols: "Sequence[str]",
        n_buckets: "int | None" = None,
        epoch: "int | None" = None,
        compact_after: "int | None" = None,
        dedupe_keys: "dict[str, Sequence[str]] | None" = None,
        pin: "DataFrame | None" = None,
        spark=None,
    ) -> "DataFrame | None":
        """Commit ``df`` as one epoch of the group's bucket leaf —
        ``epoch``, or by default the one after the newest commit.  The
        group's first write records the bucket spec (``cols`` and
        ``n_buckets``); later writes use the recorded spec.

        ``df`` is a DataFrame (Spark's bucketed writer) or a
        ``(pyarrow.Table, StructType)`` pair the caller already holds on
        the driver, written under the session ``spark`` (required with a
        pair): a table under ``spark.sql.autoBroadcastJoinThreshold`` is
        written from the driver (:meth:`_write_bucket_files`, no Spark
        job), anything else as a local relation through Spark's writer.

        ``compact_after=K`` keeps the group self-maintaining: once K
        committed epochs sit past the compaction point, run
        :meth:`compact_atomic_group` with gc (and ``dedupe_keys``).
        ``pin`` is a frame whose lazy plan may read the dirs that gc
        removes; it is checkpointed before the compaction and returned
        (unchanged when no compaction ran)."""
        if isinstance(df, DataFrame):
            spark = df.sparkSession
        elif spark is None:
            raise ValueError("a (pyarrow.Table, StructType) epoch needs its session: spark=")
        spec = Sink._bucket_spec(group_dir) or {"cols": cols, "n": n_buckets}
        if epoch is None:
            epochs, _, _ = Sink._committed_epochs(group_dir)
            epoch = (max(epochs) if epochs else -1) + 1
        Sink.atomic_bucketed_group(
            group_dir, leaf, spec["cols"], spec["n"]
        ).for_each_batch()(df if isinstance(df, DataFrame) else (spark, *df), epoch)
        if compact_after is None:
            return pin
        epochs, k, _ = Sink._committed_epochs(group_dir)
        if len([e for e in epochs if k is None or e > k]) < compact_after:
            return pin
        if pin is not None:
            pin = pin.localCheckpoint(eager=True)
        Sink.compact_atomic_group(
            spark, group_dir, gc=True, dedupe_keys=dedupe_keys
        )
        return pin

    @staticmethod
    def read_atomic_group(
        spark,
        group_dir: str,
        name: str,
        as_of_epoch: "int | None" = None,
        evolve_schema: bool = False,
    ) -> DataFrame:
        """Read one leaf of an :meth:`atomic_parquet_group`, seeing only
        epochs whose GROUP marker committed — uncommitted data
        directories on disk are invisible by construction.  Epochs at
        or below the latest compaction point come from the consolidated
        directory; newer epochs from their own dirs (same rows either
        way — :meth:`compact_atomic_group` is a layout change only).

        ``as_of_epoch`` gives snapshot reads over the commit history
        (time travel): only epochs ``<= as_of_epoch`` are visible —
        exactly what a reader saw when that epoch was the newest
        commit, because commits are append-only and epoch dirs are
        immutable once their group marker lands.

        ``evolve_schema=True`` tolerates ADDITIVE schema changes across
        epochs (a later epoch introduced new columns): the live epochs
        read with parquet ``mergeSchema`` and the compact/live union
        fills columns a side lacks with NULL — the standard lakehouse
        add-a-column evolution.  The default keeps parquet's
        first-footer semantics: columns a later epoch introduced are
        simply INVISIBLE until the reader opts into evolution, so
        pre-evolution consumers keep their schema (no surprise NULL
        columns).  A latest-wins compaction after evolution bakes the
        merged schema into the consolidated layout."""
        epochs, compact, live = Sink._sources(group_dir, name, as_of_epoch)
        if not epochs:
            raise ValueError(f"no committed epochs under {group_dir}")

        # ADVICE r12: a committed epoch CAN be legitimately file-less (a
        # survivors-scope append where every arrival was rejected writes
        # zero part files), and so is the compact dir of a purge that
        # removed every row; spark.read.parquet over ONLY such dirs
        # fails schema inference — so skip local dirs _has_parquet rules
        # out (they contribute no rows either way).  Non-local paths
        # (is_dir() False) keep the plain read.
        def readable(d: str) -> bool:
            return not Path(d).is_dir() or Sink._has_parquet(d)

        parts = []
        if compact is not None and readable(compact):
            parts.append(spark.read.parquet(compact))
        live_dirs = [d for d in live if readable(d)]
        if live_dirs:
            rd = spark.read.option("basePath", os.path.dirname(live_dirs[0]))
            if evolve_schema:
                rd = rd.option("mergeSchema", "true")
            parts.append(
                rd.parquet(*live_dirs)
                .withColumn("epoch", F.col("epoch").cast("int"))
            )
        if not parts:
            raise ValueError(
                f"leaf {name!r} under {group_dir} has committed epochs but "
                "no readable data files (every live epoch is empty and no "
                "compaction exists) — nothing to infer a schema from"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=evolve_schema)
        if as_of_epoch is not None:
            out = out.filter(F.col("epoch") <= F.lit(int(as_of_epoch)))
        return out

    @staticmethod
    def _guard_schema_divergence(
        spark, group_dir: str, name: str, evolve_schema: bool
    ) -> None:
        """Refuse to CONSOLIDATE a leaf whose committed sources disagree
        on columns unless the caller opted into schema evolution
        (ADVICE r9): a first-footer read of a divergent leaf silently
        drops columns later epochs introduced, and a consolidating
        rewrite followed by purge/gc would make them PERMANENTLY
        unrecoverable.  Footer-only check — one schema read per source
        directory, no data scan."""
        import pyarrow.parquet as _pq

        if evolve_schema:
            return
        cols = []
        for s in Sink.live_leaf_dirs(group_dir, name):
            if not Path(s).exists():
                continue
            # ADVICE r10: divergence WITHIN one epoch directory (a
            # mid-epoch writer change) used to escape the single
            # first-footer read and could be silently dropped by
            # consolidation — and "first" footer depends on listing
            # order, so the check must be order-independent: read every
            # file's footer (pyarrow, footer-only, no data scan; on a
            # real cluster this sweep would run distributed, like
            # parquet's own mergeSchema pass) and diverge on
            # union != intersection.
            per_file = [
                set(_pq.ParquetFile(str(f)).schema_arrow.names) - {"epoch"}
                for f in sorted(Path(s).glob("*.parquet"))
                if not f.name.startswith((".", "_"))
            ]
            if not per_file:
                if Path(s).is_dir() and not Sink._has_parquet(s):
                    continue  # legitimately empty epoch (survivors append)
                # non-local path: single footer
                per_file = [set(spark.read.parquet(s).schema.names) - {"epoch"}]
            union = set().union(*per_file)
            inter = set.intersection(*per_file)
            if union != inter:
                raise ValueError(
                    f"leaf {name!r} has schema divergence WITHIN "
                    f"{s!r} (columns {sorted(union - inter)} appear in "
                    "some files of the directory but not all); "
                    "consolidating with first-footer semantics would "
                    "silently drop them — pass evolve_schema=True to "
                    "consolidate with mergeSchema + NULL-fill"
                )
            cols.append(union)
        if not cols:
            return
        diverged = set().union(*cols) - set.intersection(*cols)
        if diverged:
            raise ValueError(
                f"leaf {name!r} has schema divergence across committed "
                f"epochs (columns {sorted(diverged)} are not present in "
                "every epoch); consolidating with first-footer semantics "
                "would silently drop them and purge would make that "
                "permanent — pass evolve_schema=True to consolidate with "
                "mergeSchema + NULL-fill"
            )

    @staticmethod
    def _consolidate(
        spark,
        group_dir: str,
        tag: str,
        rewrite: "Callable[[str, DataFrame], DataFrame]",
        gc: bool,
        evolve_schema: bool = False,
        reuse_current: bool = False,
        local_rewrite: "Callable | None" = None,
    ) -> int:
        """THE consolidate-and-publish protocol — every rewrite of a
        group's committed history (compaction, latest-wins, delete,
        tombstone purge) runs through here.  Returns the consolidation
        point K (the highest committed epoch).

        1. Each leaf's committed rows (:meth:`read_atomic_group`, after
           the schema-divergence guard) pass through ``rewrite(leaf,
           df)`` and land in a run-unique ``compact/upto=<K><tag>.<id>``
           dir — written bucketed when the leaf is the group's bucket
           leaf, so the shuffle-free read survives every rewrite.
           A caller that also passes ``local_rewrite(leaf, table,
           schema)`` (the same rewrite over a pyarrow table; None when it
           cannot reproduce ``rewrite`` on those columns) has a small
           group — its only leaf is the bucket leaf, whose live files fit
           under :meth:`_local_compact_limit` (-1 disables) — read with
           pyarrow (:meth:`_read_leaf_local`) and written
           from the driver (:meth:`_write_bucket_files`): the same files
           without a Spark job.  Everything else here is shared.
        2. The ``_compacted/<K>`` marker, whose CONTENT names that dir,
           renames last: the one publish point.  Until it lands readers
           resolve the previous layout, which is never deleted before
           its replacement is live — a crash anywhere leaves readers on
           a complete copy, and a dead unreferenced dir for the next gc.
        3. With ``gc``, the consolidated epoch dirs and every other
           compact dir are removed through :meth:`_drop_dir`, which also
           drops their bucket-table registrations.  Commit markers stay:
           they define visibility history and cost one empty file each.

        ``reuse_current`` makes a rerun at an unchanged K a pure no-op
        (nothing rewritten; gc still sweeps)."""
        epochs, prev_k, prev_dir = Sink._committed_epochs(group_dir)
        if not epochs:
            raise ValueError(f"no committed epochs under {group_dir}")
        k = max(epochs)
        leaves = Sink._leaves(group_dir)
        if reuse_current and prev_k == k:
            new_dir = prev_dir
        else:
            new_dir = f"upto={k}{tag}.{uuid.uuid4().hex[:8]}"
            bspec = Sink._bucket_spec(group_dir)
            for name in leaves:
                Sink._guard_schema_divergence(spark, group_dir, name, evolve_schema)
                tmp = Sink._compact_dir(group_dir, name, f".tmp.{new_dir}")
                local = None
                if (local_rewrite is not None and not evolve_schema
                        and bspec is not None and leaves == [bspec["leaf"]]):
                    local = Sink._read_leaf_local(
                        group_dir, name, Sink._local_compact_limit(spark)
                    )
                    if local is not None:
                        local = local_rewrite(name, *local)
                if local is not None and Sink._bucket_files_ok(
                    spark, local[1], bspec["cols"]
                ):
                    Path(tmp).parent.mkdir(parents=True, exist_ok=True)
                    Sink._write_bucket_files(
                        spark, *local, tmp, bspec["cols"], bspec["n"]
                    )
                else:
                    df = rewrite(
                        name,
                        Sink.read_atomic_group(
                            spark, group_dir, name, evolve_schema=evolve_schema
                        ),
                    )
                    if bspec is not None and name == bspec["leaf"]:
                        Path(tmp).parent.mkdir(parents=True, exist_ok=True)
                        Sink._write_bucketed_dir(df, tmp, bspec["cols"], bspec["n"])
                    else:
                        df.write.mode("overwrite").parquet(tmp)
                os.replace(tmp, Sink._compact_dir(group_dir, name, new_dir))
            Sink._publish_marker(Path(group_dir) / "_compacted", k, new_dir)
        if gc:
            for name in leaves:
                for e in epochs:
                    Sink._drop_dir(spark, Sink._epoch_dir(group_dir, name, e))
                cdir = Path(Sink._compact_dir(group_dir, name, new_dir)).parent
                if cdir.exists():
                    for p in cdir.iterdir():
                        if p.name != new_dir:  # dead tmp/torn/superseded dirs
                            Sink._drop_dir(spark, str(p))
        return k

    @staticmethod
    def _pick_leaves(
        group_dir: str, leaves: "Sequence[str] | None"
    ) -> "list[str]":
        """The ``leaves`` subset a DML rewrite targets (default: all).
        Leaves outside it are consolidated content-identically in the
        same run (ADVICE r9: the group-wide ``_compacted/<K>`` marker
        names ONE dir, so every leaf must materialize it)."""
        all_leaves = Sink._leaves(group_dir)
        if leaves is None:
            return all_leaves
        unknown = set(leaves) - set(all_leaves)
        if unknown:
            raise ValueError(f"unknown leaves {sorted(unknown)} under {group_dir}")
        return list(leaves)

    @staticmethod
    def compact_atomic_group(
        spark,
        group_dir: str,
        gc: bool = False,
        evolve_schema: bool = False,
        dedupe_keys: "dict[str, Sequence[str]] | None" = None,
    ) -> int:
        """Consolidate every COMMITTED epoch of every leaf into one
        compacted directory per leaf and publish the compaction point
        atomically (:meth:`_consolidate`) — the small-files answer for a
        streaming sink that has accumulated thousands of per-epoch
        directories (the thing that kills namenode/list performance at
        100 TB).  Rows are unchanged; a rerun at an unchanged K is a
        pure no-op.  With ``gc=True`` the superseded epoch DATA dirs
        and any unreferenced compact dirs are removed after publish.
        Returns the compaction point K (the highest epoch consolidated).

        ``dedupe_keys`` maps a leaf name to its key columns and opts
        that leaf into SET semantics at consolidation: the compacted
        directory keeps ONE row per key tuple (the first-written row —
        ordered by epoch, then the remaining columns, so reruns are
        bit-stable).  ONLY valid for leaves whose readers treat rows as
        a set keyed on those columns (the MinHash band index is the
        canonical case: its reader semi-joins on (band, key), so
        cross-epoch repeats of a key are dead weight).  Epochs newer
        than the compaction point may still repeat a key until the next
        compaction — readers must not rely on global uniqueness, only
        on the key SET being preserved, which this never changes.

        A small group (see :meth:`_consolidate`) is compacted on the
        driver with pyarrow, keeping the same winners: rows sorted by
        the keys, ``epoch`` and the remaining columns ascending with
        NULLs first (strings by unsigned bytes, as Spark orders them),
        the first row of each key kept.  Keys and remaining columns of
        other than integer or string type go to the Spark window."""
        import pyarrow.compute as pc
        from pyspark.sql import Window
        from pyspark.sql import types as T

        def rewrite(name: str, df: DataFrame) -> DataFrame:
            if not dedupe_keys or name not in dedupe_keys:
                return df
            keys = list(dedupe_keys[name])
            rest = [c for c in df.columns if c not in keys and c != "epoch"]
            w = Window.partitionBy(*keys).orderBy("epoch", *rest)
            return (
                df.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .drop("__rn__")
            )

        def local_rewrite(name: str, table, schema):
            if not dedupe_keys or name not in dedupe_keys:
                return table, schema
            keys = list(dedupe_keys[name])
            rest = [c for c in schema.names if c not in keys and c != "epoch"]
            if not all(
                isinstance(schema[c].dataType, T.IntegralType)
                or type(schema[c].dataType) is T.StringType
                for c in keys + rest
            ):
                return None
            table = table.take(pc.sort_indices(
                table, [(c, "ascending") for c in keys + ["epoch"] + rest],
                null_placement="at_start",
            ))
            first = np.ones(table.num_rows, bool)
            if table.num_rows:
                same = np.ones(table.num_rows - 1, bool)
                for c in keys:
                    col = table.column(c)
                    a, b = col.slice(1), col.slice(0, table.num_rows - 1)
                    same &= pc.fill_null(
                        pc.or_kleene(pc.equal(a, b), pc.and_(a.is_null(), b.is_null())),
                        False,
                    ).to_numpy(zero_copy_only=False)
                first[1:] = ~same
            return table.filter(first), schema

        return Sink._consolidate(
            spark, group_dir, "", rewrite, gc, evolve_schema, reuse_current=True,
            local_rewrite=local_rewrite,
        )

    @staticmethod
    def _latest_wins(
        df: DataFrame, key_cols: "Sequence[str]", tombstone: "str | None"
    ) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.col("epoch").desc())
        out = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if tombstone is not None:
            out = out.filter(~F.coalesce(F.col(tombstone), F.lit(False)))
        return out

    @staticmethod
    def read_atomic_latest(
        spark,
        group_dir: str,
        name: str,
        key_cols: "Sequence[str]",
        tombstone: "str | None" = None,
        evolve_schema: bool = False,
    ) -> DataFrame:
        """MERGE-ON-READ view of an :meth:`atomic_parquet_group` leaf:
        the epoch log is an append-only CDC stream, and this read
        resolves it to latest-wins per key — a row in a newer committed
        epoch REPLACES the same key's older row, and (with
        ``tombstone``) a latest row whose tombstone column is true
        DELETES the key.  Upsert therefore costs one appended epoch
        (no rewrite at all) and the merge happens at read time — the
        Iceberg/Hudi MoR trade, with :meth:`compact_to_latest` as the
        copy-on-write counterpart when read amplification grows.

        Requires at most one row per key per epoch (an aggregated
        upsert batch satisfies this by construction; ties within an
        epoch would make latest-wins nondeterministic, so don't).

        Scale shape: one window over the key — the same shuffle a
        MERGE's join would pay, but against only the committed epochs
        a reader touches anyway; no driver state."""
        return Sink._latest_wins(
            Sink.read_atomic_group(spark, group_dir, name, evolve_schema=evolve_schema),
            key_cols,
            tombstone,
        )

    @staticmethod
    def compact_to_latest(
        spark,
        group_dir: str,
        key_cols: "Sequence[str]",
        tombstone: "str | None" = None,
        leaves: "Sequence[str] | None" = None,
        purge: bool = True,
        evolve_schema: bool = False,
    ) -> "dict[str, int]":
        """Copy-on-write counterpart of :meth:`read_atomic_latest`:
        rewrite each leaf to ONLY the latest-wins surviving rows
        (tombstoned keys dropped for good) and publish through
        :meth:`_consolidate` (``purge`` is its gc).  Run it when the
        epoch log's read amplification outgrows the merge-on-read
        window — after it, reads need no window at all.

        Honesty bound: this FORFEITS pre-compaction time travel — an
        ``as_of_epoch`` read afterwards sees only surviving rows (each
        still stamped with the epoch that produced it), not superseded
        versions; keep reading merge-on-read if you need full history.
        Returns per-leaf surviving-row counts.  A ``leaves`` SUBSET
        rewrites only the named leaves; the others are consolidated
        content-identically in the same run."""
        leaves = Sink._pick_leaves(group_dir, leaves)
        kept: "dict[str, int]" = {}

        def rewrite(name: str, df: DataFrame) -> DataFrame:
            if name not in leaves:
                return df
            df = Sink._latest_wins(df, key_cols, tombstone)
            kept[name] = df.count()
            return df

        Sink._consolidate(spark, group_dir, ".latest", rewrite, purge, evolve_schema)
        return kept

    @staticmethod
    def delete_rows_atomic(
        spark,
        group_dir: str,
        predicate: "str | dict[str, str]",
        leaves: "Sequence[str] | None" = None,
        purge: bool = True,
        evolve_schema: bool = False,
    ) -> "dict[str, int]":
        """Right-to-be-forgotten over an :meth:`atomic_parquet_group`:
        rewrite the table WITHOUT the rows matching ``predicate`` (a
        SQL boolean, or one per leaf) and publish the deletion through
        :meth:`_consolidate` — readers see either the full pre-delete
        table or the post-delete one, never a leaf half-scrubbed.
        Unlike compaction this is NOT a pure layout change: the delete
        applies to the whole commit HISTORY, so ``as_of_epoch``
        snapshots stop returning the purged rows too — the GDPR
        requirement that wins over time travel (the same resolution
        Delta/Iceberg reach via VACUUM, except here history MINUS the
        purged rows stays queryable because the consolidated layout
        keeps the epoch column).

        Crash contract: a crash anywhere leaves readers on a complete
        view, and RERUNNING the delete finishes both the logical scrub
        (idempotent: second run deletes 0) and the physical sweep.
        Compliance note: data is only physically gone when this returns
        with ``purge=True`` (which also prunes superseded
        ``_compacted`` markers); epochs committed AFTER the delete are
        untouched by it.  Returns per-leaf deleted-row counts.

        A ``leaves`` SUBSET scrubs only the named leaves; the others
        are consolidated content-identically in the same run.  On a
        group with additive schema evolution pass ``evolve_schema=True``
        — the default refuses to consolidate a schema-divergent leaf
        rather than silently dropping later epochs' columns."""
        leaves = Sink._pick_leaves(group_dir, leaves)
        preds = (
            predicate if isinstance(predicate, dict)
            else {name: predicate for name in leaves}
        )
        missing = set(leaves) - set(preds)
        if missing:
            raise ValueError(f"no delete predicate for leaves {sorted(missing)}")
        deleted: "dict[str, int]" = {}

        def rewrite(name: str, df: DataFrame) -> DataFrame:
            if name not in leaves:
                return df
            hit = F.coalesce(F.expr(preds[name]), F.lit(False))
            deleted[name] = df.filter(hit).count()
            return df.filter(~hit)

        k = Sink._consolidate(spark, group_dir, ".del", rewrite, purge, evolve_schema)
        if purge:
            for p in (Path(group_dir) / "_compacted").iterdir():
                if p.name.startswith(".") or int(p.name) < k:
                    p.unlink(missing_ok=True)  # superseded compaction markers
        return deleted

    @staticmethod
    def memory(out: list) -> "Sink":
        """Collect into a driver-side list — ``display`` test double
        (Tubes.hs:193-196)."""
        return Sink(lambda df: out.extend(df.collect()))

    @staticmethod
    def console(n: int = 20) -> "Sink":
        return Sink(lambda df: df.show(n, truncate=False))

    # --------------------------------------------------------------- streaming

    def for_each_batch(self):
        """Adapter for ``writeStream.foreachBatch`` — runs the whole sink
        tree once per micro-batch, exposing the epoch id to epoch-aware
        leaf sinks (exactly_once_parquet) via the module contextvar."""
        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            token = _CURRENT_EPOCH.set(int(epoch_id))
            try:
                self.fn(batch_df)
            finally:
                _CURRENT_EPOCH.reset(token)
        return fn


def tee(sink: Sink) -> Callable[[DataFrame], DataFrame]:
    """``tee`` (Tubes/Channel.hs:199-206): feed each batch to a sink,
    then forward it unchanged — a side-effect observer stage.

    The batch is shared via ``localCheckpoint`` rather than ``persist``:
    the sink's action materializes it once, the forwarded DataFrame reads
    the same blocks, and the ContextCleaner releases them when the RDD is
    garbage-collected — ``persist`` would pin the cached partitions in
    CacheManager until an unpersist nobody is positioned to call (the
    stage returns before downstream consumes the result)."""
    def stage(df: DataFrame) -> DataFrame:
        if not df.isStreaming:
            df = df.localCheckpoint(eager=False)
        sink(df)
        return df
    return stage
