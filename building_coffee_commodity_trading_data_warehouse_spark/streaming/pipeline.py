"""Structured Streaming veneer (SURVEY.md §2.9/§7.7).

The reference is strictly batch, but its design *wants* incremental:
snapshot-stamped idempotent loads (STG.py:102-115) and commented-out
2-month refresh predicates (ODS.py:38,81). Here that becomes a
file-source stream over the landing directory whose every micro-batch
runs the same dedup-merge the batch path uses (foreachBatch →
plans/ingest.merge_into) — one code path for batch and streaming,
watermarked window aggregations for the analytics layer.

Scale: file-source streams list incrementally; state for windowed aggs
is bounded by the watermark; foreachBatch merges touch only the
partitions holding matched keys on a date-partitioned target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import index_store
from ..plans.ingest import merge_into

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
# Legacy landing format: TIMESTAMP(NANOS) parquet arrives as a long
# under nanosAsLong. Still the declared schema for an EMPTY landing
# directory (nothing to probe yet) — incremental producers in the test
# harness write this shape.
EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def stage_delivery(src: str, land: str, tag: str) -> None:
    """Symlink one logical delivery of ``src`` into the landing dir
    ``land`` under ``tag``. A single parquet file links directly; a
    parquet DIRECTORY (the layout every multi-task writer produces at
    scale) links each part file individually, because Spark's file
    stream source lists a landing dir one level deep and does not
    descend into nested directories — a dir symlinked as one entry
    would stream ZERO rows (the x10/x100 replicas' tables are
    32-file dirs)."""
    import os

    if os.path.isdir(src):
        flat = [
            f for f in sorted(os.listdir(src)) if f.endswith(".parquet")
        ]
        # NEVER drop rows silently (the bug this function exists to
        # prevent). A partitionBy() layout nests parts under key=value
        # dirs whose NAMES carry the partition column — flat symlinks
        # would silently drop that column (and, in a MIXED layout,
        # every nested partition's rows), so any nested part file
        # forces the batch-rewrite path, whether or not flat part
        # files also exist at the top level.
        nested = any(
            f.endswith(".parquet")
            for root, _, fs in os.walk(src)
            for f in fs
            if os.path.abspath(root) != os.path.abspath(src)
        )
        if nested:
            raise ValueError(
                f"partitioned parquet layout under {src!r}: stage via a "
                "batch rewrite (partition values live in directory names)"
            )
        if not flat:
            raise ValueError(f"no parquet part files under {src!r}")
        for i, f in enumerate(flat):
            os.symlink(
                os.path.join(src, f),
                os.path.join(land, f"{tag}_part{i:05d}.parquet"),
            )
    else:
        os.symlink(src, os.path.join(land, f"{tag}.parquet"))


def _landing_dir(path: str) -> str:
    """Expose a single parquet FILE through a symlinked landing dir —
    Spark's file stream source requires a directory (read-only
    testdata stays untouched). The target is resolved to an absolute
    path first (os.symlink stores it verbatim; a relative target
    would dangle against the tmpdir). Directories pass through."""
    import os
    import tempfile

    if os.path.isfile(path):
        land = tempfile.mkdtemp(prefix="spark_graft_landing_")
        os.symlink(
            os.path.abspath(path),
            os.path.join(land, os.path.basename(path)),
        )
        return land
    return path


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events landing path. Spark's file
    stream source requires a DIRECTORY; a single-file path is exposed
    through a symlinked landing dir (read-only testdata stays
    untouched).

    The stream reader needs an explicit schema; probe it from a batch
    scan of the same files so both physical ``ts`` generations work
    (nanos-as-long and TIMESTAMP_NTZ — see catalog.table), then
    normalize to instant TimestampType exactly like the batch catalog.
    An empty landing dir can't be probed — it declares the legacy
    nanos schema.
    """
    from pyspark.errors import AnalysisException

    path = _landing_dir(path)
    try:
        probe = spark.read.parquet(path)
        schema, ts_type = probe.schema, dict(probe.dtypes).get("ts")
    except AnalysisException:
        schema, ts_type = EVENTS_SCHEMA_NANOS, "bigint"
    df = spark.readStream.schema(schema).format("parquet").load(path)
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_documents(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a documents landing path — the
    schema-probed twin of ``stream_events`` without the timestamp
    normalization (documents carry no event time). A single-file path
    is exposed through a symlinked landing dir like stream_events; the
    schema is probed from a batch scan so the stream reader gets the
    explicit schema the file source requires.
    ``max_files_per_trigger`` caps files per micro-batch (availableNow
    honors it as maxBytes-style batching), so a multi-file landing dir
    demonstrably drains as MULTIPLE micro-batches."""
    path = _landing_dir(path)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def lineage_prefix(query_id) -> str:
    """Run prefix of a checkpoint LINEAGE, from the streaming query id
    Spark mints once into ``<checkpoint>/metadata``: stable across
    restarts and replays on the same checkpoint, fresh after the
    checkpoint is wiped. Starts with a letter — the index
    partition-tag contract (``index_store.validate_batch_tag``)."""
    return "r" + str(query_id).replace("-", "")[:12]


def _batch_run(batch: DataFrame) -> str:
    """The lineage prefix inside ``foreachBatch``: every micro-batch
    carries its query id as the ``sql.streaming.queryId`` local
    property."""
    return lineage_prefix(
        batch.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
    )


def neardup_stream(
    stream_docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    append_survivors: bool = False,
    compact_every: int | None = None,
):
    """Streaming NEAR-dup screening (the production deploy of
    ``dedup.neardup_index_search``): every arriving micro-batch of
    documents is searched against the PERSISTED band index and the
    per-doc verdicts land under ``out_path``. foreachBatch, because
    the search is a multi-stage join/aggregate pipeline the streaming
    engine cannot express as one continuous query — the same pattern
    as ``merge_stream``. Per-doc results depend only on (doc,
    history), so ANY micro-batch partitioning yields the identical
    row set (the st_neardup_stream gate pins batch/stream parity
    against the direct batch oracle).

    IDEMPOTENT REPLAY (foreachBatch is at-least-once,
    so a micro-batch replayed after a failure re-runs ``_screen``;
    a bare append sink would duplicate its verdict rows): each
    batch's verdicts OVERWRITE their own ``batch_id=<run>-<id>``
    partition directory under ``out_path`` — Structured Streaming
    replays a batch under the SAME batch_id within one checkpoint
    lineage, so the redo rewrites exactly its own output and nothing
    else, and the checkpoint-LINEAGE run prefix (``lineage_prefix``
    of the query id Spark keeps in the checkpoint — so even a wiped-
    and-recreated checkpoint at the same path is a new lineage)
    keeps a RESTARTED query (batch_ids from 0) from clobbering the
    previous run's partitions. Readers see a ``batch_id`` partition
    column; drop it for the pure verdict schema.

    ``append_survivors=True`` is the full production cycle: after
    screening, the micro-batch's NON-duplicate docs append to the
    index, so every later micro-batch also dedups against the earlier
    ones — results then DO depend on the micro-batch order (the file
    source drains deliveries in landing order, deterministic under
    availableNow). The index append rides the same replay contract:
    it passes ``batch_tag=f"stream-{run}-{batch_id}"`` into
    ``neardup_index_build``, whose manifest-committed per-batch
    partitions make a replayed append overwrite itself (see the
    build's durability docstring; the st_neardup_append gate replays
    the sequential semantics exactly in SQL). Returns the
    StreamingQuery.

    ``compact_every``: a long-running survivor-appending stream
    accumulates one tiny ``batch=`` partition per micro-batch and
    search cost degrades with batch count. When set, the screen
    auto-compacts the index as soon as the committed batch count
    reaches the value, always EXCLUDING the current micro-batch's own
    tag from the fold (``_auto_compact`` — the replay guard). Default
    None: compact out-of-band from the ingest owner on whatever
    cadence the deployment chooses; SCALE.md records the measured
    batch-count cost curve that picks the value."""
    # banding params are immutable per index lineage: one meta read
    # here instead of one per micro-batch
    _m = index_store.read_meta(stream_docs.sparkSession, index_path)
    kbn = (int(_m["k"]), int(_m["bands"]), int(_m["n"]))

    def _screen(batch: DataFrame, batch_id: int) -> None:
        _neardup_screen_batch(
            batch, batch_id, index_path, out_path, threshold,
            append_survivors, run=_batch_run(batch), kbn=kbn,
            compact_every=compact_every,
        )

    return (
        stream_docs.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _auto_compact(
    spark, index_path: str, compact_every: int, current_tag: str, compact_fn
) -> None:
    """Auto-compact trigger shared by the three streaming screens:
    when the index's committed batch count
    reaches ``compact_every``, fold every batch EXCEPT the current
    micro-batch's own survivor append into one compact batch. The
    exclusion is the replay guard — the current batch's tag must stay
    separately addressable until its checkpoint offset commits, or a
    replayed batch would find its first attempt's rows inside the
    compact batch where tag-exclusion can no longer hide them and
    would near-dup-match ITSELF. Cost model (SCALE.md): each
    search pays O(batch-count) in file/partition overhead, each
    compact pays one O(index-size) rewrite — a fixed ``compact_every``
    bounds search degradation at N tiny batches while amortizing the
    rewrite over N micro-batches."""
    if len(index_store.committed_view(spark, index_path)) >= compact_every:
        compact_fn(exclude_tags=[current_tag])


def _neardup_screen_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    threshold: float,
    append_survivors: bool,
    run: str = "r0",
    kbn: "tuple[int, int, int] | None" = None,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of ``neardup_stream`` — module-level so the
    replay contract is directly testable: calling this twice with the
    same ``(run, batch_id)`` must leave the verdict sink and (with
    ``append_survivors``) the index byte-identical to one call."""
    from ..operators import dedup as _dedup

    if not batch.head(1):
        return
    tag = f"stream-{run}-{batch_id}"
    # exclude this batch's OWN index tag from the search: on a
    # replay the index already holds the first attempt's survivor
    # append, and without the exclusion the batch would match itself
    res = _dedup.neardup_index_search(
        batch.sparkSession,
        index_path,
        batch,
        threshold,
        exclude_tags=[tag] if append_survivors else None,
    )
    res = res.persist()
    res.write.mode("overwrite").parquet(
        f"{out_path}/batch_id={run}-{batch_id}"
    )
    if append_survivors:
        if kbn is None:  # direct (test) callers
            meta = index_store.read_meta(batch.sparkSession, index_path)
            kbn = (int(meta["k"]), int(meta["bands"]), int(meta["n"]))
        keep_ids = res.filter(~res["is_neardup"]).select("doc_id")
        survivors = batch.join(keep_ids, "doc_id", "left_semi")
        _dedup.neardup_index_build(
            survivors,
            index_path,
            k=kbn[0],
            bands=kbn[1],
            n=kbn[2],
            mode="append",
            batch_tag=tag,
        )
        if compact_every:
            _auto_compact(
                batch.sparkSession,
                index_path,
                compact_every,
                tag,
                lambda exclude_tags: _dedup.neardup_index_compact(
                    batch.sparkSession, index_path,
                    exclude_tags=exclude_tags,
                ),
            )
    res.unpersist()


def phash_stream(
    stream_docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    append_survivors: bool = False,
    compact_every: int | None = None,
):
    """Streaming IMAGE near-dup screening — the production deploy of
    ``multimodal.phash_index_search``, completing the image/text
    symmetry: every arriving micro-batch
    of documents becomes a media table, is perceptual-hashed
    (Arrow-batched ``image_phash``), searched against the PERSISTED
    Hamming-band index, and its per-image verdicts land under
    ``out_path``. Identical replay/durability contract to
    ``neardup_stream`` — per-``batch_id`` partition overwrite, a
    checkpoint-lineage run prefix (``lineage_prefix``), and
    (with ``append_survivors=True``) survivor appends tagged
    ``stream-<run>-<id>`` whose own tag is EXCLUDED from that
    batch's search so an at-least-once replay reproduces its
    verdicts instead of matching its first attempt."""
    # max_distance is immutable per index lineage: read it ONCE here
    # instead of once per micro-batch
    max_distance = int(
        index_store.read_meta(stream_docs.sparkSession, index_path)[
            "max_distance"
        ]
    )

    def _screen(batch: DataFrame, batch_id: int) -> None:
        _phash_screen_batch(
            batch, batch_id, index_path, out_path, append_survivors,
            run=_batch_run(batch), max_distance=max_distance,
            compact_every=compact_every,
        )

    return (
        stream_docs.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _phash_screen_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    append_survivors: bool,
    run: str = "r0",
    max_distance: int | None = None,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of ``phash_stream`` — module-level so the
    replay contract is directly testable, exactly like
    ``_neardup_screen_batch``."""
    from ..sources import multimodal as _mm

    if not batch.head(1):
        return
    spark = batch.sparkSession
    tag = f"stream-{run}-{batch_id}"
    hashes = (
        _mm.image_phash(_mm.to_media_table(batch))
        .select("doc_id", "hash_hi", "hash_lo")
        .persist()
    )
    res = _mm.phash_index_search(
        spark,
        index_path,
        hashes,
        exclude_tags=[tag] if append_survivors else None,
    )
    res = res.persist()
    res.write.mode("overwrite").parquet(
        f"{out_path}/batch_id={run}-{batch_id}"
    )
    if append_survivors:
        if max_distance is None:  # direct (test) callers
            max_distance = int(
                index_store.read_meta(spark, index_path)["max_distance"]
            )
        keep_ids = res.filter(~res["is_dup"]).select("doc_id")
        survivors = hashes.join(keep_ids, "doc_id", "left_semi")
        _mm.phash_index_build(
            survivors,
            index_path,
            max_distance=max_distance,
            mode="append",
            batch_tag=tag,
        )
        if compact_every:
            _auto_compact(
                spark,
                index_path,
                compact_every,
                tag,
                lambda exclude_tags: _mm.phash_index_compact(
                    spark, index_path, exclude_tags=exclude_tags
                ),
            )
    res.unpersist()
    hashes.unpersist()


def ann_stream(
    stream_vecs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    nprobe: int | str | None = None,
    append_survivors: bool = False,
    compact_every: int | None = None,
):
    """Streaming EMBEDDING near-dup screening — the third leg of the
    text/image/embedding symmetry: every arriving micro-batch
    of vectors (vec_id, embedding) is searched against the PERSISTED
    IVF index (decimal-exact cosine rerank), its per-vector verdicts
    — best history cosine, closest history id, is_dup at
    ``threshold`` — land under ``out_path``, and with
    ``append_survivors=True`` the batch's non-duplicates
    ``ivf_index_append`` under the frozen quantizer so later batches
    screen against earlier survivors. Identical replay/durability
    contract to ``neardup_stream``/``phash_stream``: per-batch_id
    partition overwrite, checkpoint-lineage run prefix, survivor
    appends tagged ``stream-<run>-<id>`` with the batch's own tag
    EXCLUDED from its search.

    ``nprobe`` is REQUIRED: an int probes that
    many cells per query (the production knob — the probed fraction
    is the scan, exactly as in ``ivf_index_search``; certify a value
    against the exact scan with ``ivf_index_certified`` /
    ``_recall_certificate`` before trusting it); the explicit string
    ``"all"`` probes every cell — the exact-replayable screen the
    st_ann_stream gate pins (every verdict provably equals the
    brute-force scan's), at the cost of reading the FULL history
    per micro-batch. The old silent default was probe-ALL, i.e. a
    full-history scan per batch nobody asked for — the opposite of
    this repo's safe-by-default posture, hence the required
    parameter."""
    if nprobe is None:
        raise ValueError(
            "ann_stream requires nprobe: pass an int (production — "
            "certify it against the exact scan first, see "
            "similarity.ivf_index_certified) or the explicit string "
            '"all" for the exact-replayable probe-every-cell screen '
            "(reads the full history per micro-batch)"
        )
    if isinstance(nprobe, str):
        if nprobe != "all":
            raise ValueError(f"nprobe must be an int or 'all', got {nprobe!r}")
        meta = index_store.read_meta(stream_vecs.sparkSession, index_path)
        probe = int(meta["n_centroids"])
    else:
        probe = int(nprobe)

    def _screen(batch: DataFrame, batch_id: int) -> None:
        _ann_screen_batch(
            batch, batch_id, index_path, out_path, threshold, probe,
            append_survivors, run=_batch_run(batch),
            compact_every=compact_every,
        )

    return (
        stream_vecs.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _ann_screen_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    threshold: float,
    nprobe: int,
    append_survivors: bool,
    run: str = "r0",
    compact_every: int | None = None,
) -> None:
    """One micro-batch of ``ann_stream`` — module-level so the replay
    contract is directly testable, like its text and image twins."""
    from ..operators import similarity as _sim

    # ONE bounded probe job serves both the empty-batch check and the
    # size guard: a backlogged availableNow trigger can
    # deliver arbitrarily large micro-batches, and unconditionally
    # toPandas()-ing one onto the driver (the old bounded=True) could
    # OOM it — over-threshold batches auto-route to the distributed
    # search (row-identical output, supports exclude_tags), exactly
    # like ivf_index_search's own bounded=None probe but without
    # paying a separate head(1) job per micro-batch.
    _max_q = 65536
    n_probe_rows = batch.limit(_max_q + 1).count()
    if n_probe_rows == 0:
        return
    spark = batch.sparkSession
    tag = f"stream-{run}-{batch_id}"
    res = _sim.ivf_index_search(
        spark,
        index_path,
        batch.select("vec_id", "embedding"),
        k=1,
        nprobe=nprobe,
        bounded=n_probe_rows <= _max_q,
        exclude_tags=[tag] if append_survivors else None,
    )
    best = res.filter(F.col("rk") == 1).select(
        F.col("q_id").alias("vec_id"),
        F.col("cosine").alias("best_cosine"),
        F.col("c_id").alias("match_vec_id"),
    )
    verdicts = (
        batch.select("vec_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "best_cosine",
            "match_vec_id",
            F.coalesce(
                F.col("best_cosine") >= F.lit(threshold), F.lit(False)
            ).alias("is_dup"),
        )
        .persist()
    )
    verdicts.write.mode("overwrite").parquet(
        f"{out_path}/batch_id={run}-{batch_id}"
    )
    if append_survivors:
        keep = verdicts.filter(~verdicts["is_dup"]).select("vec_id")
        survivors = batch.join(keep, "vec_id", "left_semi").select(
            "vec_id", "embedding"
        )
        _sim.ivf_index_append(survivors, index_path, batch_tag=tag)
        if compact_every:
            _auto_compact(
                spark,
                index_path,
                compact_every,
                tag,
                lambda exclude_tags: _sim.ivf_index_compact(
                    spark, index_path, exclude_tags=exclude_tags
                ),
            )
    verdicts.unpersist()


def run_available_now(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Drain everything currently available through the streaming
    engine into an in-memory table and return it as a DataFrame —
    the batch-parity harness for streaming queries."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def dedup_stream(stream_df: DataFrame, keys: list[str], watermark_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: the engine keeps per-key state bounded by
    the watermark and drops re-deliveries of the same key — the
    streaming twin of exact_dedup for at-least-once sources."""
    return stream_df.withWatermark(watermark_col, watermark).dropDuplicates(keys)


def merge_stream(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    partition_by: str | None = None,
):
    """foreachBatch incremental load: every micro-batch runs the SAME
    dedup-merge as the batch loader (J4) — late re-deliveries of a key
    replace, never duplicate. Returns the StreamingQuery."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_into(batch.sparkSession, target_path, batch, keys, partition_by)

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    cond,
    watermark_cols: tuple[str, str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER join with a time-range condition: both sides
    watermarked so the engine can expire join state (without the range
    bound + watermarks, stream-stream state grows forever). ``cond``
    must include the key equality AND the event-time interval — the
    range is what lets Spark bound each side's buffered rows to the
    watermark horizon at 100 TB/day rates.

    Under an availableNow drain of a static landing dir this emits
    exactly the batch inner-join rows (no late data exists), which is
    what the oracle checks; in continuous operation the same plan keeps
    only watermark-deep state."""
    l_col, r_col = watermark_cols
    return left_stream.withWatermark(l_col, watermark).join(
        right_stream.withWatermark(r_col, watermark), cond, "inner"
    )


def static_enrich(
    stream_df: DataFrame, static_dim: DataFrame, on: list[str], how: str = "left"
) -> DataFrame:
    """Stream-static join: every micro-batch joins the CURRENT snapshot
    of a batch-side dimension (Spark re-plans the static side per
    batch, so a dim refresh is picked up without restarting the query).
    Stateless — no watermark, no join state: the static side is
    broadcast into each micro-batch, which is exactly the 100 TB/day
    enrichment pattern (dims are small; the stream never shuffles)."""
    return stream_df.join(F.broadcast(static_dim), on, how)


def stage_with_sentinel(
    spark: SparkSession, sf_dir: str, horizon_hours: int = 10
) -> str:
    """Materialize a landing directory = the events table plus one
    far-future click/view sentinel pair (user_id = −1), ``horizon_hours``
    past the newest real event and 5 hours apart so the pair cannot
    join itself.

    Why: outer stream-stream joins emit their null-padded unmatched
    rows only when the WATERMARK passes the row's match horizon. In an
    availableNow drain of a static directory the watermark stops at
    max(ts) − delay, so the newest unmatched rows would stay buffered
    forever and the result would not equal any batch query. The
    sentinel pushes the final watermark beyond every real row, so the
    drain emits exactly the batch LEFT JOIN rows (filter user_id ≥ 0
    afterwards) — a deterministic, engine-exact flush.

    The staging write normalizes ts to instant TimestampType (it reads
    through catalog.table), so the streamed schema is version-
    independent. Cost: one batch rewrite of the landing data —
    verification machinery; production streams are unbounded and flush
    on their own arrival cadence."""
    import tempfile

    from .. import catalog

    land = tempfile.mkdtemp(prefix="spark_graft_sentinel_land_")
    ev = catalog.table(spark, sf_dir, "events")
    base_us = int(ev.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0]["m"])
    h_us = horizon_hours * 3_600_000_000
    sent = spark.createDataFrame(
        [
            (-1, base_us + h_us, -1, "click", 0.0, None),
            (-2, base_us + h_us + 5 * 3_600_000_000, -1, "view", 0.0, None),
        ],
        "event_id long, __us long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("__us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    ev.select("event_id", "ts", "user_id", "event_type", "value", "props").unionByName(
        sent
    ).write.mode("overwrite").parquet(land)
    return land


def interval_join_outer(
    left_stream: DataFrame,
    right_stream: DataFrame,
    cond,
    watermark_cols: tuple[str, str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with a time-range condition: the
    matched rows stream out like the inner join; an unmatched left row
    emits once, null-padded, when the watermark proves no future right
    row can satisfy the interval — the engine needs BOTH watermarks
    and the range bound to know when that is (and to expire state).
    Use ``stage_with_sentinel`` to flush the tail deterministically in
    availableNow verification drains."""
    l_col, r_col = watermark_cols
    return left_stream.withWatermark(l_col, watermark).join(
        right_stream.withWatermark(r_col, watermark), cond, "leftOuter"
    )


def interval_join_full(
    left_stream: DataFrame,
    right_stream: DataFrame,
    cond,
    watermark_cols: tuple[str, str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream FULL OUTER join with a time-range condition: the
    symmetric completion of ``interval_join_outer`` — unmatched rows
    on EITHER side emit once, null-padded, when their watermark proves
    no future partner can satisfy the interval. Both watermarks and
    the range bound are mandatory (the engine cannot otherwise expire
    state or certify an absence on either side)."""
    l_col, r_col = watermark_cols
    return left_stream.withWatermark(l_col, watermark).join(
        right_stream.withWatermark(r_col, watermark), cond, "fullOuter"
    )


def dedup_stream_within_watermark(
    stream_df: DataFrame,
    keys: list[str],
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once dedup when re-deliveries carry a DIFFERENT event
    time (retry jitter): ``dropDuplicatesWithinWatermark`` keys its
    state by ``keys`` alone and still expires per-key state once the
    watermark passes — the combination plain ``dropDuplicates`` cannot
    express (keys-only state never expires; keys+ts state misses the
    jittered copy). The guarantee: duplicates arriving within the
    watermark horizon of the first record are dropped; state is
    bounded by the horizon — the production shape for at-least-once
    sources at 100 TB/day."""
    return stream_df.withWatermark(
        watermark_col, watermark
    ).dropDuplicatesWithinWatermark(keys)
