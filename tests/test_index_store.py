"""The manifest-committed index store (``index_store``) and the three
index families riding it.

Covers:

* the on-disk layout other readers depend on — int32 ``meta``, one
  ``committed=true`` row per ``manifest/batch=<tag>`` — readable by
  Spark;
* the rename-published manifest swap: exactly the surviving tags are
  referenced and leftovers of a crashed swap are swept;
* compact ``exclude_tags`` and the streaming auto-compact cadence that
  relies on it to keep the replay contract;
* torn states fail loud: an empty manifest raises, and an uncommitted
  manifest dir never counts for the IVF centroids;
* the IVF entry points ride the same compact / vacuum machinery;
* a concurrent reader never sees an empty meta or an empty committed
  set while the owner rebuilds and compacts;
* the per-table writes on pool threads keep the caller's job group;
* the AQE rebalance before index-table writes and the leaf-safe
  ``scan_partitions`` probe behind the widen guards.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from building_coffee_commodity_trading_data_warehouse_spark import index_store
from building_coffee_commodity_trading_data_warehouse_spark.operators import (
    dedup,
    similarity,
)
from building_coffee_commodity_trading_data_warehouse_spark.session import (
    scan_partitions,
)


def _docs(spark, n=40, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta token"),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )


def _emb(spark, n=120, d=8, seed=7, start=0):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, d).astype("float64")
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(start, start + n, dtype="int64"),
            "embedding": [list(map(float, v)) for v in vecs],
        }
    )
    return spark.createDataFrame(pdf, "vec_id long, embedding array<double>")


def _key(df):
    return sorted((r["q_id"], r["c_id"]) for r in df.select("q_id", "c_id").collect())


def test_driver_side_sidecars_match_spark_layout(spark, tmp_path):
    """The store-written meta and commit rows keep the layout Spark
    (and any other parquet reader) reads: int32 meta columns in
    ``meta/part-00000.parquet``, ``committed=true`` per batch."""
    p = str(tmp_path / "nd")
    dedup.neardup_index_build(_docs(spark), p, k=4, bands=2, n=2)
    srow = spark.read.parquet(f"{p}/meta").collect()[0]
    assert (srow["k"], srow["bands"], srow["n"]) == (4, 2, 2)
    mfile = os.path.join(p, "meta", "part-00000.parquet")
    assert str(pq.read_schema(mfile).field("k").type) == "int32"
    dedup.neardup_index_build(
        _docs(spark, start=40), p, k=4, bands=2, n=2,
        mode="append", batch_tag="b2",
    )
    mrows = spark.read.parquet(f"{p}/manifest").collect()
    assert all(r["committed"] is True for r in mrows)
    assert "b2" in {str(r["batch"]) for r in mrows}
    assert len(index_store.committed_view(spark, p)) == 2


def test_parallel_table_writes_carry_callers_job_group(spark, spark_jobs, tmp_path):
    """``write_batch`` writes its tables on pool threads; every job it
    launches still carries the caller's job group."""
    p = str(tmp_path / "grp")
    tables = {name: _docs(spark, n=10) for name in ("a", "b", "c")}

    def write():
        spark.sparkContext.setJobGroup("index-writes", "write_batch")
        index_store.write_batch(spark, p, "b1", "overwrite", tables, {"k": 1}, fresh=True)

    jobs = spark_jobs(write)
    assert len(jobs) >= len(tables)
    assert set(jobs.values()) == {"index-writes"}
    assert sorted(index_store.committed_view(spark, p)) == ["b1"]


def test_manifest_swap_rename_publish_and_sweep(spark, tmp_path):
    """Compaction publishes the manifest by rename: exactly the
    surviving tags are referenced, no staging/aside dirs remain, and
    stale ``.manifest-*`` leftovers from a prior crash are swept."""
    p = str(tmp_path / "nd")
    dedup.neardup_index_build(_docs(spark), p, k=4, bands=2, n=2)
    dedup.neardup_index_build(
        _docs(spark, start=40), p, k=4, bands=2, n=2,
        mode="append", batch_tag="b2",
    )
    # plant a stale crash leftover: the next successful swap sweeps it
    stale = os.path.join(p, ".manifest-swap-deadbeef")
    os.makedirs(os.path.join(stale, "batch=zombie"), exist_ok=True)
    bid = dedup.neardup_index_compact(spark, p)
    assert bid is not None and bid.startswith("compact-")
    assert index_store.committed_view(spark, p) == [bid]
    assert not glob.glob(os.path.join(p, ".manifest-*"))
    # excluded tags survive the swap alongside the compact batch
    dedup.neardup_index_build(
        _docs(spark, start=80), p, k=4, bands=2, n=2,
        mode="append", batch_tag="b3",
    )
    bid2 = dedup.neardup_index_compact(spark, p, exclude_tags=["b3"])
    assert sorted(index_store.committed_view(spark, p)) == sorted([bid2, "b3"])


def test_rebalanced_batch_writes_search_identical(spark, tmp_path):
    """The rebalance-before-write must not change WHAT the index holds
    — a search over the rebalanced index returns the same verdict rows
    as the in-flight (index-less) computation."""
    hist = _docs(spark, n=60)
    batch = _docs(spark, n=20, start=60)
    p = str(tmp_path / "nd")
    dedup.neardup_index_build(hist, p, k=4, bands=2, n=2)
    via_index = dedup.neardup_index_search(spark, p, batch, threshold=0.2)
    inflight = dedup.incremental_neardup(
        hist, batch, k=4, bands=2, n=2, threshold=0.2
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(via_index) == key(inflight)
    # and the small batch tables landed as a handful of files, not
    # one sliver per upstream task
    for t in ("bands", "sizes"):
        files = glob.glob(os.path.join(p, t, "batch=*", "*.parquet"))
        assert 0 < len(files) <= 4, (t, len(files))


def test_scan_partitions_leaf_vs_composed(spark):
    docs = _docs(spark)
    # leaf shapes: exact partition counts
    assert scan_partitions(docs) >= 1
    assert scan_partitions(docs.filter(F.col("doc_id") < 5)) >= 1
    assert scan_partitions(docs.select("doc_id")) >= 1
    # composed shapes: None — the widen guards must skip these
    assert scan_partitions(docs.groupBy("text").count()) is None
    assert (
        scan_partitions(docs.join(docs.select("doc_id"), "doc_id")) is None
    )


def test_remote_scheme_paths_raise_filesystem_error(spark):
    """A remote-scheme path goes through that scheme's Hadoop
    FileSystem: an unreachable one surfaces the filesystem's own error
    naming the scheme, not a spurious 'no meta' or torn verdict."""
    with pytest.raises(Exception) as ei:
        index_store.read_meta(spark, "hdfs:/definitely/missing/idx")
    assert "hdfs" in str(ei.value).lower()
    assert not isinstance(ei.value, ValueError)


def test_concurrent_reader_never_sees_empty_meta_or_manifest(spark, tmp_path):
    """Durability contract on a ``file:`` URI: while the owner runs an
    overwrite rebuild, an append and a compact, a reader looping meta
    and committed-set reads gets either a non-empty meta and tag list
    or the torn-index ValueError — never an empty meta or an empty
    committed set."""
    p = "file:" + str(tmp_path / "idx")
    dedup.neardup_index_build(_docs(spark), p, k=4, bands=2, n=2)
    stop = threading.Event()
    reads, bad = [0], []

    def reader():
        while not stop.is_set():
            try:
                meta = index_store.read_meta(spark, p)
                tags = index_store.committed_view(spark, p)
            except ValueError as err:
                if "torn" not in str(err):
                    bad.append(repr(err))
                continue
            except Exception as err:  # surfaced by the assert below
                bad.append(repr(err))
                continue
            if not meta or not tags:
                bad.append(f"empty read: meta={meta} tags={tags}")
            reads[0] += 1

    t = threading.Thread(target=reader)
    t.start()
    try:
        dedup.neardup_index_build(_docs(spark, start=100), p, k=4, bands=2, n=2)
        dedup.neardup_index_build(
            _docs(spark, start=200), p, k=4, bands=2, n=2,
            mode="append", batch_tag="b2",
        )
        dedup.neardup_index_compact(spark, p)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert not bad, bad[:5]
    assert reads[0] > 0
    assert len(index_store.committed_view(spark, p)) == 1


def test_ivf_compact_under_dynamic_overwrite_mode(spark, tmp_path):
    """Under a session-level partitionOverwriteMode=dynamic the IVF
    compact must still retire superseded batches from the manifest
    (the swap is a rename, independent of Spark write modes)."""
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") % 10 == 0)
    p = str(tmp_path / "ivf")
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        similarity.ivf_index_build(emb.filter("vec_id < 60"), p, n_centroids=4)
        similarity.ivf_index_append(
            emb.filter("vec_id >= 60"), p, batch_tag="b2"
        )
        before = _key(
            similarity.ivf_index_search(spark, p, qs, 3, 4, bounded=True)
        )
        bid = similarity.ivf_index_compact(spark, p)
        manifest = [
            r["batch"]
            for r in spark.read.parquet(f"{p}/manifest")
            .select(F.col("batch").cast("string").alias("batch"))
            .distinct()
            .collect()
        ]
        assert manifest == [bid], (
            f"dynamic overwrite leaked superseded manifest rows: {manifest}"
        )
        after = _key(
            similarity.ivf_index_search(spark, p, qs, 3, 4, bounded=True)
        )
        assert after == before
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def test_ivf_vacuum_grace_spares_young_then_removes(spark, tmp_path):
    """The vacuum in-flight-append guard through the IVF entry point —
    a just-written unreferenced batch dir (an append racing the
    vacuum) survives under a grace window and is removed once the
    grace is lifted."""
    emb = _emb(spark, n=60)
    p = str(tmp_path / "ivf")
    similarity.ivf_index_build(emb, p, n_centroids=4)
    # torn/in-flight append: vectors land, manifest row never does
    _emb(spark, n=20, seed=9, start=100).withColumn(
        "cell", F.lit(0)
    ).write.partitionBy("cell").parquet(f"{p}/vectors/batch=inflight")
    assert similarity.ivf_index_vacuum(spark, p, grace_seconds=3600) == []
    assert os.path.isdir(f"{p}/vectors/batch=inflight")
    removed = similarity.ivf_index_vacuum(spark, p, grace_seconds=0)
    assert any("batch=inflight" in r for r in removed)
    assert not os.path.isdir(f"{p}/vectors/batch=inflight")


def test_compact_exclude_tags_preserves_excluded_batch(spark, tmp_path):
    """compact(exclude_tags=[t]) folds every OTHER committed batch into
    one compact batch, keeps t's data dir untouched and its manifest
    row alive, and search results are identical before and after.
    compact(exclude_tags=<everything>) is a no-op that returns None."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(4)],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(10, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "alpha beta gamma tok2 delta eps"),
            (101, "zeta eta theta iota kappa lambda"),
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    dedup.neardup_index_build(docs, p, k=8, bands=4, n=2)
    dedup.neardup_index_build(
        extra, p, k=8, bands=4, n=2, mode="append", batch_tag="keepme"
    )
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["n_candidates"], r["best_jaccard"], r["is_neardup"])
        for r in df.collect()
    )
    before = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))

    # excluding every committed batch: nothing to fold, loud no-op
    tags = index_store.committed_view(spark, p)
    assert dedup.neardup_index_compact(spark, p, exclude_tags=tags) is None
    assert index_store.committed_view(spark, p) == sorted(tags)

    bid = dedup.neardup_index_compact(spark, p, exclude_tags=["keepme"])
    committed = index_store.committed_view(spark, p)
    assert sorted(committed) == sorted([bid, "keepme"])
    assert os.path.isdir(f"{p}/bands/batch=keepme")
    after = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
    assert after == before
    # the excluded tag is still addressable by the replay contract
    excl = key(
        dedup.neardup_index_search(
            spark, p, batch, threshold=0.4, exclude_tags=["keepme"]
        )
    )
    assert excl != after  # doc 101's match lives only in 'keepme'


def test_streaming_auto_compact_cadence(spark, tmp_path):
    """neardup_stream(compact_every=2) keeps the committed batch count
    bounded while producing verdicts identical to the uncompacted
    stream, and a replayed micro-batch stays byte-identical because
    its own tag is excluded from the fold."""
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import (
        pipeline,
    )

    hist = spark.createDataFrame(
        [(i, f"base doc {i} with alpha beta gamma delta") for i in range(4)],
        "doc_id long, text string",
    )
    deliveries = [
        [(10, "base doc 2 with alpha beta gamma delta"),
         (11, "novel text one omega psi chi phi upsilon")],
        [(20, "novel text one omega psi chi phi upsilon"),
         (21, "second novel rho sigma tau nu mu lambda kappa")],
        [(30, "second novel rho sigma tau nu mu lambda kappa"),
         (31, "third novel aleph beth gimel daleth he waw")],
    ]

    def run_stream(root, compact_every):
        ipath = f"{root}/idx"
        dedup.neardup_index_build(hist, ipath, k=8, bands=4, n=2)
        land = f"{root}/land"
        os.makedirs(land, exist_ok=True)
        for i, rows in enumerate(deliveries):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            df.coalesce(1).write.parquet(f"{root}/s{i}")
            pipeline.stage_delivery(f"{root}/s{i}", land, f"delivery_{i}")
        stream = pipeline.stream_documents(spark, land, max_files_per_trigger=1)
        q = pipeline.neardup_stream(
            stream, ipath, f"{root}/out", f"{root}/ckpt",
            threshold=0.4, append_survivors=True,
            compact_every=compact_every,
        )
        q.awaitTermination()
        verdicts = sorted(
            (r["doc_id"], r["is_neardup"], r["match_doc_id"])
            for r in spark.read.parquet(f"{root}/out").collect()
        )
        return ipath, verdicts, q

    p_plain, v_plain, _ = run_stream(str(tmp_path / "plain"), None)
    p_auto, v_auto, q_auto = run_stream(str(tmp_path / "auto"), 2)
    assert v_auto == v_plain  # cadence is a pure physical rewrite
    n_plain = len(index_store.committed_view(spark, p_plain))
    n_auto = len(index_store.committed_view(spark, p_auto))
    assert n_plain == 4  # build + 3 survivor appends
    assert n_auto <= 2  # compact batch + at most the newest tag

    # replay the LAST micro-batch against the compacted index:
    # sink and index must stay byte-identical (its own tag was
    # excluded from the fold, so self-exclusion still works)
    run = pipeline.lineage_prefix(q_auto.id)
    assert f"stream-{run}-2" in index_store.committed_view(spark, p_auto)
    before = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "auto" / "out")).collect())
    )
    last = spark.createDataFrame(deliveries[-1], "doc_id long, text string")
    pipeline._neardup_screen_batch(
        last, 2, p_auto, str(tmp_path / "auto" / "out"), 0.4, True,
        run=run, compact_every=2,
    )
    after = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "auto" / "out")).collect())
    )
    assert after == before


def test_committed_view_torn_empty_manifest_raises(spark, tmp_path):
    """A manifest dir that exists but holds no committed batch (crash
    mid-swap) must surface as the loud torn-index ValueError — not as
    an empty committed list that silently filters out ALL history."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(4)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    dedup.neardup_index_build(docs, p, k=8, bands=4, n=2)
    # simulate the crash: manifest dir exists, no batch dir inside
    for d in os.listdir(f"{p}/manifest"):
        full = os.path.join(f"{p}/manifest", d)
        shutil.rmtree(full) if os.path.isdir(full) else os.remove(full)
    with pytest.raises(ValueError, match="torn"):
        index_store.committed_view(spark, p)
    with pytest.raises(ValueError, match="torn"):
        dedup.neardup_index_search(
            spark,
            p,
            spark.createDataFrame(
                [(100, "alpha beta gamma tok2 delta eps")],
                "doc_id long, text string",
            ),
            threshold=0.4,
        )


def test_read_centroids_skips_uncommitted_manifest_dir(spark, tmp_path):
    """A torn append (manifest batch dir created, commit row's part
    file never written) must not count as committed for the centroid
    sidecar, so centroids and vectors agree on the committed set
    within one search."""
    emb = _emb(spark, n=60)
    p = str(tmp_path / "ivf")
    similarity.ivf_index_build(emb, p, n_centroids=4)
    C0 = similarity._read_centroids(spark, p)
    # torn append: centroid rows + an EMPTY manifest batch dir (the
    # dir exists, its commit part file does not)
    tags = index_store.committed_view(spark, p)
    shutil.copytree(f"{p}/centroids/batch={tags[0]}", f"{p}/centroids/batch=torn")
    os.makedirs(f"{p}/manifest/batch=torn", exist_ok=True)
    C1 = similarity._read_centroids(spark, p)
    assert np.array_equal(C0, C1), (
        "torn manifest dir counted as committed for centroids"
    )
