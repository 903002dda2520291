"""applyInPandasWithState operator: the streamed stateful result must
equal the batch aggregate (single-batch availableNow drain), and state
must accumulate across micro-batches when files arrive incrementally."""

from __future__ import annotations

import pytest
import shutil

from pyspark.sql import functions as F

from building_coffee_commodity_trading_data_warehouse_spark import catalog
from building_coffee_commodity_trading_data_warehouse_spark.streaming import (
    pipeline,
    stateful,
)


def test_stateful_totals_match_batch(spark, sf_dir):
    stream = pipeline.stream_events(spark, f"{sf_dir}/events.parquet")
    got = pipeline.run_available_now(
        stateful.running_user_totals(stream), "t_stateful_batchparity", "update"
    ).toPandas()

    want = (
        catalog.table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .toPandas()
    )
    g = got.sort_values("user_id").reset_index(drop=True)
    w = want.sort_values("user_id").reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["user_id"] == w["user_id"]).all()
    assert (g["n_events"] == w["n_events"]).all()
    assert ((g["total_value"] - w["total_value"]).abs() < 1e-6).all()
    assert (g["last_ts"] == w["last_ts"]).all()


def test_state_accumulates_across_batches(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def _write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.parquet(f"{tmp_path}/stage_{name}")
        # move the part file into the landing dir atomically
        import glob
        import os

        src = glob.glob(f"{tmp_path}/stage_{name}/part-*.parquet")[0]
        os.rename(src, land / f"{name}.parquet")
        shutil.rmtree(f"{tmp_path}/stage_{name}")

    ns = 10**9
    stream = pipeline.stream_events(spark, str(land))
    totals = stateful.running_user_totals(stream)

    def _drain():
        q = (
            totals.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_batch("b1", [(1, 1 * ns, 7, "click", 2.0, "{}"), (2, 2 * ns, 7, "click", 3.0, "{}")])
    _drain()
    _write_batch("b2", [(3, 3 * ns, 7, "click", 5.0, "{}")])
    _drain()

    snaps = spark.read.parquet(out_dir).filter(F.col("user_id") == 7).collect()
    # state persisted across restarts: second drain saw 1 new event but
    # reports the running total of all 3
    assert sorted(r["n_events"] for r in snaps) == [2, 3]
    assert max(r["total_value"] for r in snaps) == 10.0


def test_interval_join_across_batches(spark, tmp_path):
    """Stream-stream interval join state must bridge micro-batches: a
    click arriving in batch 2 joins a view buffered from batch 1."""
    import glob
    import os

    land = tmp_path / "sj_landing"
    land.mkdir()
    ckpt = str(tmp_path / "sj_ckpt")
    out_dir = str(tmp_path / "sj_out")

    def _write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.parquet(f"{tmp_path}/sj_stage_{name}")
        src = glob.glob(f"{tmp_path}/sj_stage_{name}/part-*.parquet")[0]
        os.rename(src, land / f"{name}.parquet")
        import shutil as _sh

        _sh.rmtree(f"{tmp_path}/sj_stage_{name}")

    ns = 10**9
    ev = pipeline.stream_events(spark, str(land))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts"))
    )
    joined = pipeline.interval_join(clicks, views, cond, ("click_ts", "view_ts"))

    def _drain():
        q = (
            joined.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: a view only — no output yet, but it enters join state
    _write_batch("b1", [(1, 100 * ns, 7, "view", 1.0, "{}")])
    _drain()
    # batch 2: a click 5 min later -> must join the buffered view
    _write_batch("b2", [(2, 400 * ns, 7, "click", 2.0, "{}")])
    _drain()
    got = spark.read.parquet(out_dir).collect()
    assert [(r["click_id"], r["view_id"], r["user_id"]) for r in got] == [(2, 1, 7)]


def test_zscore_stream_matches_batch(spark, sf_dir):
    """Full-stream drain of the streaming flagger equals the batch
    operator bit-for-bit (same integer inequality on both paths)."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import windows

    stream = pipeline.stream_events(spark, f"{sf_dir}/events.parquet")
    got = (
        pipeline.run_available_now(
            stateful.zscore_stream(stream), "t_zscore_batchparity", "update"
        )
        .select("event_id", "n_obs", "is_outlier")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        windows.zscore_outliers(catalog.table(spark, sf_dir, "events"))
        .select("event_id", "n_obs", "is_outlier")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["n_obs"] == want["n_obs"]).all()
    assert (got["is_outlier"] == want["is_outlier"]).all()


def test_zscore_stream_ring_buffer_bridges_batches(spark, tmp_path):
    """The per-key ring buffer persists: an event arriving in batch 2
    is judged against the window carried from batch 1, so a spike that
    looks normal in isolation still alarms."""
    import glob
    import os

    land = tmp_path / "zs_landing"
    land.mkdir()
    ckpt = str(tmp_path / "zs_ckpt")
    out_dir = str(tmp_path / "zs_out")

    def _write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.parquet(f"{tmp_path}/zs_stage_{name}")
        src = glob.glob(f"{tmp_path}/zs_stage_{name}/part-*.parquet")[0]
        os.rename(src, land / f"{name}.parquet")
        shutil.rmtree(f"{tmp_path}/zs_stage_{name}")

    ns = 10**9
    stream = pipeline.stream_events(spark, str(land))
    flagged = stateful.zscore_stream(stream)

    def _drain():
        q = (
            flagged.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: 14 flat ticks build the window
    _write_batch(
        "b1",
        [(i, i * ns, 7, "tick", 10.0, "{}") for i in range(14)],
    )
    _drain()
    # batch 2: one spike — alone it has no window (n=1 never alarms),
    # so an alarm proves the state bridged the batch boundary
    _write_batch("b2", [(99, 99 * ns, 7, "tick", 99.0, "{}")])
    _drain()
    rows = {r["event_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert rows[99]["is_outlier"] is True
    assert rows[99]["n_obs"] == 15
    assert rows[5]["is_outlier"] is False


def test_watermark_drops_late_event(spark, tmp_path):
    """The watermark is not decorative: after batch 1 advances event
    time past a window's close + watermark, a straggler for that
    window arriving in batch 2 is DROPPED — the appended output never
    revises the closed window."""
    import glob
    import os

    from building_coffee_commodity_trading_data_warehouse_spark.streaming import windows as sw

    land = tmp_path / "wm_landing"
    land.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    out_dir = str(tmp_path / "wm_out")

    def _write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.parquet(f"{tmp_path}/wm_stage_{name}")
        src = glob.glob(f"{tmp_path}/wm_stage_{name}/part-*.parquet")[0]
        os.rename(src, land / f"{name}.parquet")
        shutil.rmtree(f"{tmp_path}/wm_stage_{name}")

    ns = 10**9
    hour = 3600
    counts = sw.tumbling_counts(pipeline.stream_events(spark, str(land)))

    def _drain():
        q = (
            counts.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: two events in hour 0, then one at hour 3 that advances
    # the watermark to hour 2 — hour 0's window closes and emits
    _write_batch(
        "b1",
        [
            (1, 100 * ns, 7, "click", 1.0, "{}"),
            (2, 200 * ns, 7, "click", 1.0, "{}"),
            (3, 3 * hour * ns, 7, "click", 1.0, "{}"),
        ],
    )
    _drain()
    # batch 2: a straggler back in hour 0 (far below the watermark)
    # plus a fresh event at hour 5 to flush more windows
    _write_batch(
        "b2",
        [
            (4, 300 * ns, 7, "click", 9.0, "{}"),
            (5, 5 * hour * ns, 7, "click", 1.0, "{}"),
        ],
    )
    _drain()
    got = {
        r["window_start"]: r["n_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # hour-0 window emitted exactly once, with the ORIGINAL 2 events —
    # the late id=4 never revised it and appears nowhere
    assert got["1970-01-01 00:00:00"] == 2
    assert 9.0 not in {r["sum_value"] for r in spark.read.parquet(out_dir).collect()}


def test_dedup_within_watermark_drops_jittered_redelivery(spark, tmp_path):
    """A key re-delivered with a SHIFTED event time must still
    collapse to one row (plain keyed dedup semantics but with
    watermark-bounded state); distinct keys all survive."""
    import datetime as dt

    from building_coffee_commodity_trading_data_warehouse_spark.streaming import (
        pipeline,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (1, t0, 7, "click", 1.0, None),
        (1, t0 + dt.timedelta(seconds=90), 7, "click", 1.0, None),  # jitter
        (2, t0 + dt.timedelta(minutes=5), 8, "view", 2.0, None),
    ]
    land = str(tmp_path / "land")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(land)
    out = pipeline.run_available_now(
        pipeline.dedup_stream_within_watermark(
            pipeline.stream_events(spark, land), ["event_id"]
        ).select("event_id", "event_type", "value"),
        "st_jitter_test",
        output_mode="append",
    ).collect()
    got = sorted((r["event_id"], r["event_type"], r["value"]) for r in out)
    assert got == [(1, "click", 1.0), (2, "view", 2.0)]


def test_tws_totals_guard_or_parity(spark, tmp_path):
    """The transformWithStateInPandas twin either runs (protobuf
    present: drained totals equal the applyInPandasWithState twin) or
    fails LOUDLY at the swap point with the documented guard — never
    the opaque runner-init crash."""
    import datetime as dt

    from building_coffee_commodity_trading_data_warehouse_spark.streaming import (
        pipeline,
        stateful,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    land = str(tmp_path / "land")
    spark.createDataFrame(
        [(1, t0, 7, "click", 1.5, None), (2, t0, 7, "view", 2.25, None)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(land)
    try:
        import google.protobuf  # noqa: F401

        has_pb = True
    except ImportError:
        has_pb = False
    stream = pipeline.stream_events(spark, land)
    if not has_pb:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="google.protobuf"):
            stateful.running_user_totals_tws(stream)
        return
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    out = pipeline.run_available_now(
        stateful.running_user_totals_tws(stream),
        "tws_parity_test",
        output_mode="update",
    ).collect()
    assert [(r["user_id"], r["n_events"], r["total_value"]) for r in out] == [
        (7, 2, 3.75)
    ]


def test_streaming_countmin_cells_equal_batch(spark, tmp_path):
    """The CMS cell table maintained across micro-batches must equal
    the batch sketch — cell addition IS the merge, so feeding the same
    rows in two files (two micro-batches) cannot change any cell."""
    import pandas as pd

    from building_coffee_commodity_trading_data_warehouse_spark.operators import (
        aggregates,
    )
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import (
        pipeline,
    )

    rows_a = [{"item": f"u{i % 7}"} for i in range(40)]
    rows_b = [{"item": f"u{i % 13}"} for i in range(60)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(rows_a).to_parquet(src / "a.parquet")
    pd.DataFrame(rows_b).to_parquet(src / "b.parquet")

    batch_df = spark.read.parquet(str(src))
    stream_df = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    want = sorted(
        map(tuple, aggregates.count_min_cells(batch_df, 4, 64).collect())
    )
    got = sorted(
        map(
            tuple,
            pipeline.run_available_now(
                aggregates.count_min_cells(stream_df, 4, 64), "t_cms_cells"
            ).collect(),
        )
    )
    assert got == want


def test_cusum_stream_bridges_batches_exactly(spark, tmp_path):
    """The two-long CUSUM state must bridge micro-batch boundaries:
    feeding the same rows as two files equals the batch operator."""
    import datetime as _dt

    import pandas as pd

    from building_coffee_commodity_trading_data_warehouse_spark.operators import (
        windows as W,
    )
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import (
        pipeline,
        stateful,
    )

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        {
            "event_id": i,
            "ts": t0 + _dt.timedelta(minutes=i),
            "user_id": 1,
            "event_type": "t",
            "value": float(v),
            "props": "{}",
        }
        for i, v in enumerate([10, 10, 10, 30, 30, 30, 30, 5, 5, 5])
    ]
    src = tmp_path / "cusum_src"
    src.mkdir()
    pd.DataFrame(rows[:5]).to_parquet(
        src / "a.parquet", coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    pd.DataFrame(rows[5:]).to_parquet(
        src / "b.parquet", coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    static = spark.read.schema(schema).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    prof = stateful.cusum_profile(static)
    drained = pipeline.run_available_now(
        stateful.cusum_stream(stream, prof, h_units=5),
        "t_cusum_stream",
        output_mode="update",
    )
    got = {
        r["event_id"]: (r["n_obs"], r["cusum_stat"], r["is_alarm"])
        for r in drained.collect()
    }
    want = {
        r["event_id"]: (r["n_obs"], r["cusum_stat"], r["is_alarm"])
        for r in W.cusum_changepoints(static, h_units=5).collect()
    }
    assert got == want


def test_stage_delivery_dir_and_file(spark, tmp_path):
    """Delivery staging must stream the SAME rows whether the source
    is a single parquet file or a multi-part parquet DIRECTORY (the
    layout every parallel writer produces at scale). The dir case
    regressed to ZERO streamed rows before r9: a directory symlinked
    as one landing entry is silently skipped by the file source."""
    import os

    src_dir = str(tmp_path / "src_dir")
    spark.range(100).selectExpr(
        "id AS event_id", "CAST(id AS long) * 1000000000 AS ts",
        "id % 7 AS user_id", "'click' AS event_type",
        "CAST(id AS double) AS value", "'{}' AS props",
    ).repartition(4).write.parquet(src_dir)
    import glob
    one_file = glob.glob(f"{src_dir}/part-*.parquet")[0]

    for tag, src in [("dir", src_dir), ("file", one_file)]:
        land = str(tmp_path / f"land_{tag}")
        os.makedirs(land)
        pipeline.stage_delivery(src, land, "d1")
        pipeline.stage_delivery(src, land, "d2")
        stream = pipeline.stream_events(spark, land)
        got = pipeline.run_available_now(
            stream.groupBy().count(), f"stage_del_{tag}"
        ).collect()[0]["count"]
        want = 2 * spark.read.parquet(src).count()
        assert got == want, (tag, got, want)


def test_stage_delivery_mixed_layout_raises(spark, tmp_path):
    """A MIXED source layout (flat part files at top level PLUS
    nested key=value partition dirs) must refuse to stage, not stage
    the flat files and silently drop the nested partitions' rows —
    the same silent-row-loss class the function exists to prevent
    (r10 review). Pure nested and pure flat keep their behavior."""
    import os

    src = str(tmp_path / "mixed")
    # nested partitioned layout ...
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k"
    ).parquet(src)
    # ... plus a flat part file glued on top
    flat_src = str(tmp_path / "flat_only")
    spark.range(5).write.parquet(flat_src)
    import glob

    one = glob.glob(f"{flat_src}/part-*.parquet")[0]
    import shutil

    shutil.copy(one, os.path.join(src, "part-extra.parquet"))

    land = str(tmp_path / "land")
    os.makedirs(land)
    with pytest.raises(ValueError, match="partitioned parquet layout"):
        pipeline.stage_delivery(src, land, "d1")
    assert os.listdir(land) == []  # nothing staged on refusal
    # pure flat still stages
    pipeline.stage_delivery(flat_src, land, "d2")
    assert len(os.listdir(land)) == len(
        glob.glob(f"{flat_src}/part-*.parquet")
    )


def test_interval_join_bounded_triggers_keep_state_window_sized(
    spark, sf_dir, tmp_path
):
    """EXECUTABLE pin of the production streaming posture (r9 verdict
    item 2, measured in SCALE.md round-9(5) but previously enforced
    nowhere): under bounded triggers over an event-time-ordered
    landing dir, the stream-stream interval join's watermark eviction
    must hold peak state at O(join window) — a few trigger slices —
    NOT O(corpus), while emitting row-identical output to the
    one-batch drain the gates use. A future edit that breaks
    watermark eviction (dropping a withWatermark, widening the range
    condition away) fails here, not just in a study script."""
    import os
    import time

    from pyspark.sql import functions as F

    n_files = 16
    land = str(tmp_path / "ordered_land")
    ev = catalog.table(spark, sf_dir, "events")
    (
        ev.repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(land)
    )
    parts = sorted(f for f in os.listdir(land) if f.endswith(".parquet"))
    t0 = time.time() - len(parts) * 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(land, f), (t0 + i * 10, t0 + i * 10))

    def run(name, max_files):
        schema = spark.read.parquet(land).schema
        reader = spark.readStream.schema(schema).format("parquet")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        evs = reader.load(land)
        clicks = evs.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        views = evs.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        cond = (
            (F.col("user_id") == F.col("v_user_id"))
            & (
                F.col("view_ts")
                >= F.col("click_ts") - F.expr("INTERVAL 2 HOURS")
            )
            & (F.col("view_ts") <= F.col("click_ts"))
        )
        j = pipeline.interval_join(
            clicks, views, cond, ("click_ts", "view_ts")
        )
        q = (
            j.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        peak = 0
        batches = 0
        for p in q.recentProgress:
            batches += 1
            peak = max(
                peak,
                sum(
                    op.get("numRowsTotal", 0)
                    for op in (p.get("stateOperators") or [])
                ),
            )
        rows = sorted(
            map(tuple, spark.table(name).collect())
        )
        return rows, peak, batches

    drain_rows, drain_peak, _ = run("sj_pin_drain", None)
    bnd_rows, bnd_peak, bnd_batches = run("sj_pin_bounded", 1)

    # output parity: ordered arrival means nothing is ever behind the
    # watermark, so bounded triggers must emit the drain's exact rows
    assert bnd_rows == drain_rows and len(drain_rows) > 0
    # the bounded run actually ran one trigger per file (plus the
    # empty finalizing batch availableNow appends)
    assert bnd_batches >= n_files
    # state bound: the drain buffers EVERY join-side row (O(corpus) —
    # that is why it is only a verification harness); bounded triggers
    # must stay at O(join window) ≈ a couple of trigger slices. Bound
    # = 3 slices of the join-relevant rows; measured 37 vs drain 398
    # at sf0.001/16 files (SCALE.md round-9(5) shape).
    relevant = ev.filter(
        F.col("event_type").isin("click", "view")
    ).count()
    assert drain_peak >= relevant  # the drain really is O(corpus)
    assert bnd_peak <= max(3 * relevant // n_files, 12), (
        bnd_peak,
        relevant,
    )
    assert bnd_peak * 4 <= drain_peak, (bnd_peak, drain_peak)


def test_neardup_stream_two_microbatches_equal_direct(spark, tmp_path):
    """Streaming near-dup screening: two staged deliveries drain as
    TWO micro-batches (maxFilesPerTrigger=1), each searched against
    the static persisted index; the appended verdicts must equal the
    direct batch search (per-doc results depend only on (doc,
    history), so micro-batch partitioning is invisible)."""
    from pyspark.sql import functions as F

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

    hist = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(6)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "alpha beta gamma tok2 delta eps"),
            (101, "alpha beta gamma tok4 delta eps"),
            (102, "entirely new words appear here instead"),
            (103, "more novel content in the second delivery"),
        ],
        "doc_id long, text string",
    )
    ipath = str(tmp_path / "idx")
    dedup.neardup_index_build(hist, ipath, k=8, bands=4, n=2)
    stage, land = tmp_path / "stage", str(tmp_path / "land")
    import os

    os.makedirs(land, exist_ok=True)
    batch.filter(F.col("doc_id") < 102).coalesce(1).write.parquet(
        str(stage / "d1")
    )
    batch.filter(F.col("doc_id") >= 102).coalesce(1).write.parquet(
        str(stage / "d2")
    )
    pipeline.stage_delivery(str(stage / "d1"), land, "delivery_1")
    pipeline.stage_delivery(str(stage / "d2"), land, "delivery_2")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = pipeline.stream_documents(spark, land, max_files_per_trigger=1)
    q = pipeline.neardup_stream(stream, ipath, out, ckpt, threshold=0.4)
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches == 2, [p["numInputRows"] for p in q.recentProgress]

    key = lambda df: sorted(
        (r["doc_id"], r["n_candidates"], r["best_jaccard"],
         r["match_doc_id"], r["is_neardup"])
        for r in df.collect()
    )
    streamed = key(spark.read.parquet(out))
    direct = key(
        dedup.incremental_neardup(hist, batch, k=8, bands=4, n=2,
                                  threshold=0.4)
    )
    assert streamed == direct
    assert [r for r in streamed if r[0] == 100][0][4] is True


def test_neardup_stream_append_survivors_cross_delivery(spark, tmp_path):
    """append_survivors=True: delivery 2 must dedup against delivery
    1's SURVIVORS, not just the initial history — a delivery-2 copy
    of a delivery-1 doc (absent from history) flags with
    match_doc_id pointing at the delivery-1 doc; a delivery-1 doc
    that was itself a duplicate does NOT join the index (its
    delivery-2 copy matches the original history doc instead)."""
    from pyspark.sql import functions as F

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

    hist = spark.createDataFrame(
        [(1, "history doc alpha beta gamma delta")],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [
            (10, "history doc alpha beta gamma delta"),   # dup of hist 1
            (11, "fresh delivery one content entirely new"),
        ],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [
            (20, "fresh delivery one content entirely new"),  # dup of 11
            (21, "history doc alpha beta gamma delta"),       # dup of 1
            (22, "never seen anywhere text right here"),
        ],
        "doc_id long, text string",
    )
    ipath = str(tmp_path / "idx")
    dedup.neardup_index_build(hist, ipath, k=8, bands=4, n=2)
    stage, land = tmp_path / "stage", str(tmp_path / "land")
    import os

    os.makedirs(land, exist_ok=True)
    d1.coalesce(1).write.parquet(str(stage / "d1"))
    d2.coalesce(1).write.parquet(str(stage / "d2"))
    pipeline.stage_delivery(str(stage / "d1"), land, "delivery_1")
    pipeline.stage_delivery(str(stage / "d2"), land, "delivery_2")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = pipeline.stream_documents(spark, land, max_files_per_trigger=1)
    q = pipeline.neardup_stream(
        stream, ipath, out, ckpt, threshold=0.5, append_survivors=True
    )
    q.awaitTermination()
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[10]["is_neardup"] and got[10]["match_doc_id"] == 1
    assert not got[11]["is_neardup"]          # survivor -> joins index
    assert got[20]["is_neardup"] and got[20]["match_doc_id"] == 11
    assert got[21]["is_neardup"] and got[21]["match_doc_id"] == 1
    assert not got[22]["is_neardup"]


def test_neardup_stream_replayed_microbatch_idempotent(spark, tmp_path):
    """r11 ADVICE: foreachBatch is at-least-once — a micro-batch
    replayed after a failure re-runs the screen. The r12 contract:
    replaying a batch_id leaves the verdict sink AND the
    append_survivors index byte-identical to a single run (per-batch
    partition overwrite + manifest-tagged index append)."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

    hist = spark.createDataFrame(
        [(1, "history doc alpha beta gamma delta")],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [
            (10, "history doc alpha beta gamma delta"),
            (11, "fresh delivery one content entirely new"),
        ],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(20, "fresh delivery one content entirely new")],
        "doc_id long, text string",
    )
    ipath, out = str(tmp_path / "idx"), str(tmp_path / "out")
    dedup.neardup_index_build(hist, ipath, k=8, bands=4, n=2)

    pipeline._neardup_screen_batch(d1, 0, ipath, out, 0.5, True)
    # REPLAY batch 0 (the at-least-once failure case), then batch 1
    pipeline._neardup_screen_batch(d1, 0, ipath, out, 0.5, True)
    pipeline._neardup_screen_batch(d2, 1, ipath, out, 0.5, True)

    verdicts = spark.read.parquet(out).drop("batch_id").collect()
    got = {r["doc_id"]: r for r in verdicts}
    assert len(verdicts) == 3  # no duplicated rows from the replay
    assert got[10]["is_neardup"] and got[10]["match_doc_id"] == 1
    assert not got[11]["is_neardup"]
    # d2's copy of 11 matches EXACTLY ONE index entry for doc 11 —
    # a double-appended index would inflate n_candidates
    assert got[20]["is_neardup"] and got[20]["match_doc_id"] == 11
    assert got[20]["n_candidates"] == 1


def test_neardup_stream_restart_fresh_checkpoint_no_clobber(spark, tmp_path):
    """A RESTARTED query (new checkpoint, batch_ids from 0 again)
    must not overwrite the previous run's verdict partitions or
    stream-tagged index batches — the run-scoped tag prefix derived
    from the checkpoint's query id keeps lineages disjoint."""
    import os

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

    hist = spark.createDataFrame(
        [(1, "history doc alpha beta gamma delta")],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [(11, "fresh run one content entirely new")],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(21, "fresh run one content entirely new")],  # dup of 11
        "doc_id long, text string",
    )
    ipath, out = str(tmp_path / "idx"), str(tmp_path / "out")
    dedup.neardup_index_build(hist, ipath, k=8, bands=4, n=2)

    def run(df, tag):
        land = str(tmp_path / f"land{tag}")
        os.makedirs(land, exist_ok=True)
        df.coalesce(1).write.parquet(str(tmp_path / f"stage{tag}"))
        pipeline.stage_delivery(
            str(tmp_path / f"stage{tag}"), land, "delivery"
        )
        stream = pipeline.stream_documents(spark, land)
        q = pipeline.neardup_stream(
            stream, ipath, out, str(tmp_path / f"ckpt{tag}"),
            threshold=0.5, append_survivors=True,
        )
        q.awaitTermination()

    run(d1, "A")   # batch_id 0 under checkpoint A
    run(d2, "B")   # batch_id 0 AGAIN under checkpoint B
    got = {r["doc_id"]: r for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    # both runs' verdicts present — run B did not clobber run A's
    assert set(got) == {11, 21}
    assert not got[11]["is_neardup"]
    # run B screened against run A's surviving append
    assert got[21]["is_neardup"] and got[21]["match_doc_id"] == 11


def test_neardup_stream_wiped_checkpoint_same_path_new_lineage(spark, tmp_path):
    """Wiping a checkpoint dir and restarting at the SAME path restarts
    batch_ids at 0; a path-derived run prefix would then silently
    overwrite the previous lineage's verdict partitions and
    stream-tagged index batches. The prefix comes from the query id
    Spark keeps INSIDE the checkpoint dir: wiping the checkpoint wipes
    it, so the next run is a new lineage and prior verdicts survive."""
    import os
    import shutil

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

    hist = spark.createDataFrame(
        [(1, "history doc alpha beta gamma delta")],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame(
        [(11, "fresh run one content entirely new")],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(21, "fresh run one content entirely new")],  # dup of 11
        "doc_id long, text string",
    )
    ipath, out = str(tmp_path / "idx"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")  # the SAME path both runs
    dedup.neardup_index_build(hist, ipath, k=8, bands=4, n=2)

    def run(df, tag):
        land = str(tmp_path / f"land{tag}")
        os.makedirs(land, exist_ok=True)
        df.coalesce(1).write.parquet(str(tmp_path / f"stage{tag}"))
        pipeline.stage_delivery(str(tmp_path / f"stage{tag}"), land, "delivery")
        stream = pipeline.stream_documents(spark, land)
        q = pipeline.neardup_stream(
            stream, ipath, out, ckpt,
            threshold=0.5, append_survivors=True,
        )
        q.awaitTermination()

    run(d1, "A")          # batch_id 0, lineage 1
    shutil.rmtree(ckpt)   # checkpoint lost/wiped — the ADVICE scenario
    run(d2, "B")          # batch_id 0 AGAIN at the same path
    got = {r["doc_id"]: r for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    assert set(got) == {11, 21}, "wiped-checkpoint restart clobbered run 1"
    assert not got[11]["is_neardup"]
    # lineage 2 screened against lineage 1's surviving index append
    assert got[21]["is_neardup"] and got[21]["match_doc_id"] == 11


def test_checkpoint_run_id_mint_once_and_reread(spark, tmp_path):
    """The lineage prefix comes from the query id Spark mints once into
    the checkpoint: a restart on the same checkpoint sees the same
    prefix inside foreachBatch, a wiped checkpoint a fresh one, and
    every prefix satisfies the index partition-tag contract."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from building_coffee_commodity_trading_data_warehouse_spark import index_store

    land = tmp_path / "land"
    land.mkdir()
    ckpt = str(tmp_path / "ck")
    seen = []

    def start(part: int) -> str:
        pq.write_table(pa.table({"id": [part]}), str(land / f"p{part}.parquet"))
        stream = spark.readStream.schema("id long").parquet(str(land))
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: seen.append(pipeline._batch_run(df))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert seen[-1] == pipeline.lineage_prefix(q.id)
        return seen[-1]

    a = start(0)
    b = start(1)  # restart, same checkpoint: new micro-batch, same lineage
    assert len(seen) == 2 and a == b
    shutil.rmtree(ckpt)
    c = start(2)  # wiped checkpoint: a new lineage
    assert c != a
    for run in (a, c):
        assert re.fullmatch(r"r[0-9a-f]{12}", run)
        index_store.validate_batch_tag(f"stream-{run}-0")


def test_phash_stream_cross_delivery_and_replay(spark, tmp_path):
    """Streaming image screen (r13, pipeline.phash_stream): delivery
    2's copy of a delivery-1 SURVIVOR image is flagged (survivor
    appends work across micro-batches), and replaying a micro-batch
    with the same (run, batch_id) leaves the verdict sink and index
    unchanged — the _neardup_screen_batch replay contract, ported."""
    import os

    from building_coffee_commodity_trading_data_warehouse_spark.sources import multimodal as mm
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

    hist = spark.createDataFrame(
        [(1, "history image payload alpha beta gamma", "crawl")],
        "doc_id long, text string, source string",
    )
    d1 = spark.createDataFrame(
        [(11, "fresh novel image content entirely new", "crawl")],
        "doc_id long, text string, source string",
    )
    d2 = spark.createDataFrame(
        [(21, "fresh novel image content entirely new", "crawl"),  # copy of 11
         (22, "history image payload alpha beta gamma", "crawl")], # copy of hist 1
        "doc_id long, text string, source string",
    )
    ipath, out = str(tmp_path / "pidx"), str(tmp_path / "out")
    hh = mm.image_phash(mm.to_media_table(hist)).select(
        "doc_id", "hash_hi", "hash_lo"
    )
    mm.phash_index_build(hh, ipath, max_distance=3)

    land = str(tmp_path / "land")
    os.makedirs(land, exist_ok=True)
    d1.coalesce(1).write.parquet(str(tmp_path / "s1"))
    d2.coalesce(1).write.parquet(str(tmp_path / "s2"))
    pipeline.stage_delivery(str(tmp_path / "s1"), land, "delivery_1")
    pipeline.stage_delivery(str(tmp_path / "s2"), land, "delivery_2")
    stream = pipeline.stream_documents(spark, land, max_files_per_trigger=1)
    q = pipeline.phash_stream(
        stream, ipath, out, str(tmp_path / "ckpt"), append_survivors=True
    )
    q.awaitTermination()
    got = {r["doc_id"]: r for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    assert set(got) == {11, 21, 22}
    assert not got[11]["is_dup"]                       # novel survivor
    assert got[21]["is_dup"] and got[21]["match_doc_id"] == 11
    assert got[22]["is_dup"] and got[22]["match_doc_id"] == 1

    # replay the SECOND micro-batch (its tag is in the index now):
    # verdicts and candidate counts must be byte-identical
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    run = pipeline.lineage_prefix(q.id)
    pipeline._phash_screen_batch(d2, 1, ipath, out, True, run=run)
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before


def test_ann_stream_cross_delivery_and_replay(spark, tmp_path):
    """Streaming embedding screen (r13, pipeline.ann_stream):
    delivery 2's copy of a delivery-1 SURVIVOR vector is flagged
    (survivor appends under the frozen quantizer work across
    micro-batches), and replaying a micro-batch with the same
    (run, batch_id) leaves the verdict sink and index unchanged —
    the replay contract ported from the text and image streams."""
    import os

    import numpy as np
    import pandas as pd

    from building_coffee_commodity_trading_data_warehouse_spark.operators import similarity
    from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

    rng = np.random.RandomState(11)
    hist_v = [list(map(float, rng.randn(8))) for _ in range(6)]
    novel = list(map(float, rng.randn(8)))
    mk = lambda rows: spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<double>",
    )
    hist = mk([(i, v) for i, v in enumerate(hist_v)])
    d1 = mk([(11, novel)])
    d2 = mk([(21, novel), (22, hist_v[3])])  # copies of 11 and hist 3
    ipath, out = str(tmp_path / "aidx"), str(tmp_path / "out")
    similarity.ivf_index_build(hist, ipath, n_centroids=2)

    land = str(tmp_path / "land")
    os.makedirs(land, exist_ok=True)
    d1.coalesce(1).write.parquet(str(tmp_path / "s1"))
    d2.coalesce(1).write.parquet(str(tmp_path / "s2"))
    pipeline.stage_delivery(str(tmp_path / "s1"), land, "delivery_1")
    pipeline.stage_delivery(str(tmp_path / "s2"), land, "delivery_2")
    stream = pipeline.stream_documents(spark, land, max_files_per_trigger=1)
    # nprobe is required since r14 (VERDICT r13 item 4): the silent
    # probe-ALL default scanned the full history per micro-batch
    with pytest.raises(ValueError, match="requires nprobe"):
        pipeline.ann_stream(
            stream, ipath, out, str(tmp_path / "ckpt"),
            threshold=0.99, append_survivors=True,
        )
    q = pipeline.ann_stream(
        stream, ipath, out, str(tmp_path / "ckpt"),
        threshold=0.99, nprobe="all", append_survivors=True,
    )
    q.awaitTermination()
    got = {r["vec_id"]: r for r in
           spark.read.parquet(out).drop("batch_id").collect()}
    assert set(got) == {11, 21, 22}
    assert not got[11]["is_dup"]                       # novel survivor
    assert got[21]["is_dup"] and got[21]["match_vec_id"] == 11
    assert got[22]["is_dup"] and got[22]["match_vec_id"] == 3

    # replay delivery 2's micro-batch: sink and index byte-identical
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    run = pipeline.lineage_prefix(q.id)
    pipeline._ann_screen_batch(d2, 1, ipath, out, 0.99, 2, True, run=run)
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before
