"""Manifest-committed index store: the on-disk lifecycle shared by the
text near-dup (``dedup.neardup_index_*``), image phash
(``multimodal.phash_index_*``) and IVF vector
(``similarity.ivf_index_*``) indexes.

Layout under an index root ``<path>``:

* ``<table>/batch=<tag>/…`` — every build, append and compact writes
  its table data under its own batch partition (Spark writes);
* ``manifest/batch=<tag>/part-00000.parquet`` — one ``committed=true``
  row; a batch exists for readers only once this marker is published;
* ``meta/part-00000.parquet`` — one row of int32 index parameters,
  written once, when the index is created.

Every metadata operation — meta, commit marker, manifest swap, the
committed-set listing, sidecar reads, vacuum — runs on the driver
through the Hadoop ``FileSystem`` resolved from the path, so ``file:``,
``hdfs:`` and ``s3a:`` indexes take the same code and none of these
operations launches a Spark job. Markers and meta are published by
create-temp + rename: the temp name starts with a dot, which Spark and
the ``*.parquet`` globs skip, so a reader sees a whole file or none.

Durability contract:

* data lands first, under an unreferenced batch directory; the commit
  marker (append) or manifest swap (overwrite, compact) is the last
  write, so a crashed build or append is invisible, never corrupt;
* re-running an append with the same tag overwrites its own
  partitions and finds its (constant) marker already there — replay
  is idempotent;
* the swap stages the new manifest under a hidden directory, renames
  the old manifest aside and the staged one into place: a crash
  leaves the old view, or no manifest at all, which every reader
  reports as a torn index (``ValueError``), never a silent partial
  or empty view;
* meta is write-once, so no reader can see it missing or empty once
  the index exists.

Single-maintainer assumption: overwrite, compact and vacuum run from
the ingest owner; ``vacuum``'s grace window covers concurrent
appenders.
"""

from __future__ import annotations

import re
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

_PART = "part-00000.parquet"

# Index tables whose size is comparable to (or larger than) the corpus
# itself: a rebalance-before-write would add one full extra network
# pass of the biggest table at scale for a file-sizing win the
# scan-inherited partitioning already roughly delivers (shingle bytes
# are about n× the text bytes of the same scan split). The narrow
# tables (bands, sizes, hashes, centroids) are orders of magnitude
# smaller than the input that sized their partitioning, so for them
# the rebalance shuffle is cheap and the sliver-file fix is the win.
_CORPUS_HEAVY_TABLES = {"shingles"}


class _Store:
    """The Hadoop ``FileSystem`` of one index root, via the JVM
    gateway."""

    def __init__(self, spark, path: str):
        self.root = path.rstrip("/")
        self.jvm = spark._jvm
        self.gateway = spark.sparkContext._gateway
        self.Path = self.jvm.org.apache.hadoop.fs.Path
        self.fs = self.Path(self.root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def path(self, *parts: str):
        return self.Path("/".join((self.root,) + parts))

    def missing(self, err: Py4JJavaError) -> bool:
        return is_instance_of(
            self.gateway, err.java_exception, "java.io.FileNotFoundException"
        )

    def glob(self, *parts: str) -> list:
        found = self.fs.globStatus(self.path(*parts))
        return [] if found is None else list(found)

    def put(self, hpath, data: bytes) -> None:
        out = self.fs.create(hpath, False)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def get(self, hpath) -> pa.Table | None:
        """One parquet file decoded driver-side; None when absent."""
        try:
            ins = self.fs.open(hpath)
        except Py4JJavaError as err:
            if self.missing(err):
                return None
            raise
        try:
            data = bytes(self.jvm.org.apache.commons.io.IOUtils.toByteArray(ins))
        finally:
            ins.close()
        return pq.read_table(pa.BufferReader(data))

    def publish(self, dirname: str, table: pa.Table) -> None:
        """Write ``<dirname>/part-00000.parquet`` by create-temp +
        rename. Never replaces an existing file: a replayed commit
        finds its constant marker in place and drops its temp."""
        dst = self.path(dirname, _PART)
        tmp = self.path(dirname, f".tmp-{uuid.uuid4().hex}")
        self.put(tmp, _encode(table))
        if not self.fs.rename(tmp, dst):
            self.fs.delete(tmp, False)
            if not self.fs.exists(dst):
                raise OSError(f"could not publish {dst.toString()}")


def _encode(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


_COMMIT_ROW = pa.table({"committed": pa.array([True], pa.bool_())})


def _meta(st: _Store) -> dict | None:
    t = st.get(st.path("meta", _PART))
    if t is None:
        return None
    return {c: t.column(c)[0].as_py() for c in t.column_names}


def read_meta(spark, path: str) -> dict:
    """The index's one-row ``meta`` sidecar as a dict."""
    meta = _meta(_Store(spark, path))
    if meta is None:
        raise ValueError(f"no index meta at {path}/meta — not an index")
    return meta


def _committed(st: _Store) -> list[str]:
    """Tags whose commit marker landed — one glob over the manifest.
    The tag IS the ``manifest/batch=<tag>`` directory name."""
    return sorted(
        {
            s.getPath().getParent().getName().removeprefix("batch=")
            for s in st.glob("manifest", "batch=*", "*.parquet")
        }
    )


def committed_view(spark, path: str, exclude_tags=None) -> list[str]:
    """The committed batch tags a reader must see, minus
    ``exclude_tags`` (the streaming replay contract: a replayed
    micro-batch hides its own first-attempt append). A missing or
    empty manifest is a torn index and raises — an empty list would
    make every search silently filter out all history."""
    return _view(_Store(spark, path), exclude_tags)


def _view(st: _Store, exclude_tags=None) -> list[str]:
    tags = _committed(st)
    if not tags:
        raise ValueError(
            f"index at {st.root} has no committed batch under "
            f"{st.root}/manifest — torn build/append or manifest swap "
            "in flight"
        )
    skip = set(exclude_tags or ())
    return [t for t in tags if t not in skip]


def committed_table(spark, path: str, name: str, committed) -> DataFrame:
    """One index table restricted to ``committed`` batches — the
    ``batch.isin`` filter is partition pruning at the parquet scan, so
    torn batch partitions never load. Tags are compared as strings."""
    return (
        spark.read.parquet(f"{path}/{name}")
        .filter(F.col("batch").cast("string").isin(committed))
        .drop("batch")
    )


def read_committed_small(spark, path: str, name: str) -> pa.Table:
    """A sidecar-sized index table (the IVF centroids), committed
    batches only, read driver-side without a Spark job."""
    st = _Store(spark, path)
    tags = set(_view(st))
    parts = [
        st.get(s.getPath())
        for s in st.glob(name, "batch=*", "*.parquet")
        if s.getPath().getParent().getName().removeprefix("batch=") in tags
    ]
    if not parts:
        raise ValueError(f"no committed {name} rows in the index at {path}")
    return pa.concat_tables(parts)


def preflight(spark, path: str, mode: str, want: dict) -> bool:
    """Validate ``mode`` against what is at ``path``: the meta must
    match ``want``; append needs an index with a committed batch; an
    overwrite over a torn new build (meta written, nothing committed)
    recovers it in place. Returns True when meta already exists."""
    st = _Store(spark, path)
    meta = _meta(st)
    have = None if meta is None else {k: meta[k] for k in want}
    if have is not None and have != want:
        raise ValueError(
            f"index at {path} was built with {have}, {mode} requested "
            f"{want}"
            + ("" if mode == "append" else
               " — in-place rebuild with different parameters would "
               "pair the old view with the new meta mid-swap; use a "
               "fresh path")
        )
    if mode == "append":
        if have is None:
            raise ValueError(f"append requested but no index meta at {path}")
        if not _committed(st):
            raise ValueError(
                f"index at {path} is a torn build (meta written, "
                "manifest commit never landed) — nothing is committed "
                "to append to; retry with mode='overwrite' to recover "
                "in place"
            )
    return have is not None


def validate_batch_tag(bid: str) -> None:
    """Tags are ``[A-Za-z0-9._-]+`` with at least one letter: partition
    discovery type-infers a numeric or date-shaped value
    (``batch=20240101`` reads back as an int), which would break every
    tag-string comparison."""
    if not re.fullmatch(r"[A-Za-z0-9._-]+", bid) or not re.search(
        r"[A-Za-z]", bid
    ):
        raise ValueError(
            f"batch_tag {bid!r} must be [A-Za-z0-9._-]+ and contain a "
            "letter (a numeric/date-shaped tag gets type-inferred by "
            "partition discovery and breaks tag comparisons)"
        )


def _run_parallel(spark, fn, items) -> None:
    """The per-table writes are independent jobs whose only barrier is
    the manifest commit, so they overlap: one write's task tail
    back-fills the next one's ramp-up. Any failure propagates before
    the commit, so the torn-state contract is unchanged. Each item's
    target is wrapped on the caller's thread, so its pool thread runs
    under its own copy of the caller's Spark local properties (job
    group, description, scheduler pool): the jobs are attributed to the
    caller's group, and concurrent writes never share the mutable
    property set that carries each one's SQL execution id."""
    items = list(items)
    if len(items) > 1:
        targets = [inheritable_thread_target(spark)(fn) for _ in items]
        with ThreadPoolExecutor(max_workers=len(items)) as pool:
            list(pool.map(lambda target, item: target(item), targets, items))
    else:
        for item in items:
            fn(item)


def write_batch(
    spark,
    path: str,
    bid: str,
    mode: str,
    tables: dict,
    meta_vals: dict,
    fresh: bool,
    partition_by: dict | None = None,
) -> None:
    """The durable write sequence: per-batch data partitions first
    (invisible — nothing references them), the int32 meta if the
    index is ``fresh``, then the commit — one marker for an append,
    the manifest swap for an overwrite."""

    def _write_one(item):
        name, df = item
        pb = (partition_by or {}).get(name)
        if name not in _CORPUS_HEAVY_TABLES and not pb:
            # Size the batch's files with an AQE rebalance: index
            # tables are narrow projections of a much heavier input
            # and inherit a partitioning sized for its payload — one
            # sliver file per upstream task otherwise, and every
            # search pays the per-file open cost.
            df = df.hint("rebalance")
        w = df.write.mode("overwrite")
        if pb:
            # sub-partitioning within the batch dir (the IVF cell=
            # dirs): batch stays the outer level, so committed-batch
            # pruning and the table's own pruning compose at the scan
            w = w.partitionBy(*pb)
        w.parquet(f"{path}/{name}/batch={bid}")

    _run_parallel(spark, _write_one, tables.items())
    st = _Store(spark, path)
    if fresh:
        st.publish(
            "meta",
            pa.table(
                {k: pa.array([int(v)], pa.int32()) for k, v in meta_vals.items()}
            ),
        )
    if mode == "append":
        st.publish(f"manifest/batch={bid}", _COMMIT_ROW)
    else:
        _swap(st, [bid])


def _swap(st: _Store, bids: list) -> None:
    """Rewrite the manifest to reference exactly ``bids``: stage the
    new manifest under a hidden directory, rename the old one aside,
    rename the staged one in, delete the old one, and sweep
    ``.manifest-*`` leftovers of earlier crashed swaps. A crash leaves
    the old manifest or none; between the two renames a reader finds
    no manifest and raises. A reader whose listing straddles the first
    rename can still see part of the old view, which is why swaps run
    from the ingest owner, not concurrently with searches."""
    tok = uuid.uuid4().hex
    stage = st.path(f".manifest-swap-{tok}")
    row = _encode(_COMMIT_ROW)
    for b in bids:
        st.put(st.Path(stage, f"batch={b}/{_PART}"), row)
    mdir, old = st.path("manifest"), st.path(f".manifest-old-{tok}")
    if st.fs.exists(mdir) and not st.fs.rename(mdir, old):
        raise OSError(f"could not move {mdir.toString()} aside")
    if not st.fs.rename(stage, mdir):
        raise OSError(f"could not publish {mdir.toString()}")
    st.fs.delete(old, True)
    for s in st.glob(".manifest-*"):
        if tok not in s.getPath().getName():
            st.fs.delete(s.getPath(), True)


def compact(
    spark,
    path: str,
    tables: tuple,
    partition_by: dict | None = None,
    exclude_tags: list[str] | None = None,
) -> str | None:
    """Rewrite every committed batch (except ``exclude_tags``) of
    ``tables`` into one ``compact-<uuid>`` batch and swap the manifest
    to it plus the excluded tags. A pure physical rewrite: searches
    return the same rows before and after. Returns the new tag, or
    None without touching anything when nothing would be folded."""
    st = _Store(spark, path)
    committed = _view(st)
    excluded = sorted(set(exclude_tags or ()) & set(committed))
    fold = [t for t in committed if t not in set(excluded)]
    if not fold:
        return None
    bid = "compact-" + uuid.uuid4().hex

    def _rewrite_one(name: str) -> None:
        t = committed_table(spark, path, name, fold)
        pb = (partition_by or {}).get(name)
        if name in _CORPUS_HEAVY_TABLES:
            pass  # its committed-batch scan is already file-sized input
        elif not pb:
            # compaction exists to undo file-count bloat: never write
            # one file per scan task
            t = t.hint("rebalance")
        else:
            # partitioned tables rebalance by their partition columns,
            # so each cell dir gets advisory-sized files instead of
            # one sliver per (scan task × cell)
            t = t.hint("rebalance", *[F.col(c) for c in pb])
        w = t.write.mode("overwrite")
        if pb:
            w = w.partitionBy(*pb)
        w.parquet(f"{path}/{name}/batch={bid}")

    _run_parallel(spark, _rewrite_one, tables)
    _swap(st, [bid] + excluded)
    return bid


def vacuum(spark, path: str, grace_seconds: float, tables: tuple) -> list[str]:
    """Delete batch directories of ``tables`` that the manifest does
    not reference (superseded by a compact or overwrite, or torn
    appends whose marker never landed). Returns the removed URIs.

    In-flight-append race: an append writes its data dirs first and
    its marker last, so a listed dir may be about to commit. Deleting
    it would publish a ghost batch that searches silently miss. Two
    guards: the manifest is re-read after the listing and any tag in
    either read is spared; and ``grace_seconds`` spares directories
    younger than the window, measured on the storage clock. The
    default of 0 is safe only for a single owner with no concurrent
    appender; otherwise pass a grace above the longest append."""
    st = _Store(spark, path)
    committed = set(_view(st))
    cutoff_ms = time.time() * 1000.0
    if grace_seconds > 0:
        # compare against mtimes reported by the filesystem itself, so
        # driver/storage clock skew cannot narrow the window; stores
        # that report no mtime keep the driver clock
        probe = st.path(".vacuum-clock-probe")
        st.fs.create(probe, True).close()
        fs_now = st.fs.getFileStatus(probe).getModificationTime()
        st.fs.delete(probe, False)
        if fs_now > 0:
            cutoff_ms = float(fs_now)
        cutoff_ms -= grace_seconds * 1000.0
    candidates = []  # (tag, hadoop Path)
    for name in tables:
        tdir = st.path(name)
        if not st.fs.exists(tdir):
            continue
        for s in st.fs.listStatus(tdir):
            entry = s.getPath().getName()
            if not s.isDirectory() or not entry.startswith("batch="):
                continue
            if grace_seconds > 0:
                # directory mtimes are meaningless on object stores
                # (synthetic dirs report 0): age by the newest child,
                # and spare anything whose age is unknown
                mtime = s.getModificationTime()
                try:
                    for child in st.fs.listStatus(s.getPath()):
                        mtime = max(mtime, child.getModificationTime())
                except Py4JJavaError as err:
                    if not st.missing(err):
                        raise
                    continue  # vanished mid-listing: another owner's
                if mtime <= 0 or mtime >= cutoff_ms:
                    continue
            tag = entry.removeprefix("batch=")
            if tag not in committed:
                candidates.append((tag, s.getPath()))
    if not candidates:
        return []
    committed |= set(_committed(st))  # spare commits that just landed
    removed = []
    for tag, hp in sorted(candidates, key=lambda c: str(c[1])):
        if tag in committed:
            continue
        st.fs.delete(hp, True)
        removed.append(str(hp))
    return removed
