"""``corpus_screen``: the index store, the streaming screen and the
Python/Arrow worker path.

Set-up builds the near-dup text index over the document history and
appends the first WARM_APPENDS document deliveries to it. Timed
operations, in order: append the next K document deliveries to the text
index (one manifest-committed batch each), search a held-out document
slice against the K+1 batches, compact and vacuum the text index; build
the IVF vector index over the vector history, batch-search the vector
delivery against it (the reference verdicts), drain the
survivor-appending ``ann_stream`` over the same delivery (one
micro-batch), and compact and vacuum the vector index.

Checks: the stream's verdicts equal the batch search's row for row (the
stream searches the pre-batch index, exactly as a sequential batch
replay does), and the compacted, vacuumed indexes hold exactly the
documents and vectors they were given: history plus deliveries for the
text index, history plus the stream's survivors for the vector index.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup, similarity
from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

N_DOCS, N_VECS = 1000, 500
KBN = {"k": 8, "bands": 4, "n": 2}
TEXT_THRESHOLD, VEC_THRESHOLD = 0.5, 0.9
N_CENTROIDS, NPROBE = 16, 4
# text deliveries appended per measured second: 10 s gives 4 timed
# appends; the vector screen always drains one delivery (one
# micro-batch). An append's CPU time still falls by a third over the
# first four appends of a session, so set-up runs three first.
APPENDS_PER_SECOND = 0.4
WARM_APPENDS = 3


class CorpusScreen:
    def __init__(self, spark, rec, work: str, seed: int, seconds: int):
        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.k = max(2, round(seconds * APPENDS_PER_SECOND))
        self.idx_t, self.idx_v = f"{work}/text_idx", f"{work}/vec_idx"
        self.extra = {}

    def generate(self, out_dir: str) -> None:
        self.inp = inputs.corpus(out_dir, self.seed, N_DOCS, N_VECS,
                                 k_docs=WARM_APPENDS + self.k, k_vecs=1)

    def warm(self) -> None:
        """Build the text index the timed appends extend and append the
        first deliveries (the session's first Spark jobs run here)."""
        read, docs = self.spark.read.parquet, self.inp["documents"]
        dedup.neardup_index_build(read(docs["history"]), self.idx_t, **KBN)
        for b in range(WARM_APPENDS):
            self._append(b)

    def _append(self, b: int) -> None:
        dedup.neardup_index_build(self.spark.read.parquet(self.inp["documents"]["deliveries"][b]),
                                  self.idx_t, mode="append", batch_tag=f"delivery-{b}", **KBN)

    # ---------------------------------------------------------- measure

    def _stream(self) -> None:
        """Drain the vector landing directory through the
        survivor-appending ANN screen, one micro-batch per delivery."""
        rec, spark, out = self.rec, self.spark, f"{self.work}/vec_stream"
        with rec.layer("streaming.stream_documents"):
            source = pipeline.stream_documents(spark, self.inp["embeddings"]["landing"],
                                               max_files_per_trigger=1)
        with rec.layer("streaming.ann_stream"):
            q = pipeline.ann_stream(source.select("vec_id", "embedding"), self.idx_v,
                                    f"{out}/verdicts", f"{out}/ckpt", threshold=VEC_THRESHOLD,
                                    nprobe=NPROBE, append_survivors=True)
            q.awaitTermination()
        rec.attribute_group(str(q.runId), "streaming.vec_batches")
        for p in q.recentProgress:
            if p["numInputRows"]:
                d = p["durationMs"]
                self.rec.latency["batch"].append(d["triggerExecution"] / 1000.0)
                self._add("streaming.add_batch_ms", d.get("addBatch", 0))
                self._add("streaming.batch_overhead_ms", d["triggerExecution"] - d.get("addBatch", 0))
                self._add("streaming.input_rows", p["numInputRows"])

    def _add(self, key: str, v: float) -> None:
        self.extra[key] = self.extra.get(key, 0.0) + float(v)

    def _files(self, key: str, path: str) -> None:
        if self.rec.traced:
            self._add(key, sum(len(fs) for _, _, fs in os.walk(path)))

    def measure(self) -> None:
        rec, spark, read = self.rec, self.spark, self.spark.read.parquet
        docs, vecs = self.inp["documents"], self.inp["embeddings"]
        idx_t, idx_v = self.idx_t, self.idx_v
        self.rows_screened = sum(pq.ParquetFile(p).metadata.num_rows for p in vecs["deliveries"])
        steps = [
            ("index_append", "dedup.neardup_index_build", lambda b=b: self._append(b))
            for b in range(WARM_APPENDS, WARM_APPENDS + self.k)
        ]
        steps += [
            ("index_search", "dedup.neardup_index_search", self._search),
            ("index_compact", "dedup.neardup_index_compact",
             lambda: dedup.neardup_index_compact(spark, idx_t)),
            ("index_vacuum", "dedup.neardup_index_vacuum",
             lambda: dedup.neardup_index_vacuum(spark, idx_t)),
            ("index_build", "similarity.ivf_index_build",
             lambda: similarity.ivf_index_build(read(vecs["history"]).select("vec_id", "embedding"),
                                                idx_v, n_centroids=N_CENTROIDS)),
            ("index_search", "similarity.ivf_index_search", self._vec_search),
            ("stream", None, self._stream),
            ("index_compact", "similarity.ivf_index_compact",
             lambda: similarity.ivf_index_compact(spark, idx_v)),
            ("index_vacuum", "similarity.ivf_index_vacuum",
             lambda: similarity.ivf_index_vacuum(spark, idx_v)),
        ]
        maint = screen = 0.0
        for kind, layer, fn in steps:
            t = time.perf_counter()
            with rec.op(kind):
                if layer is None:
                    fn()
                else:
                    with rec.layer(layer):
                        fn()
            dt = time.perf_counter() - t
            if kind == "stream":
                screen += dt
            else:
                maint += dt
            self._files("dedup.index_files", idx_t)
            self._files("similarity.ivf_files", idx_v)
            if rec.traced:
                self._add("dedup.committed_batches", _committed_batches(idx_t))
        self.maint_s, self.screen_s = maint, screen

    def _search(self) -> None:
        res = dedup.neardup_index_search(
            self.spark, self.idx_t, self.spark.read.parquet(self.inp["documents"]["held_out"]),
            TEXT_THRESHOLD,
        )
        res.write.format("noop").mode("overwrite").save()

    def _vec_search(self) -> None:
        """Batch-screen the vector delivery against the index as it is
        before the stream appends: the verdicts the stream must
        reproduce."""
        spark = self.spark
        batch = spark.read.parquet(self.inp["embeddings"]["deliveries"][0]).select("vec_id", "embedding")
        best = (
            similarity.ivf_index_search(spark, self.idx_v, batch, k=1, nprobe=NPROBE, bounded=True)
            .filter(F.col("rk") == 1)
            .select(F.col("q_id").alias("vec_id"), F.col("cosine").alias("best_cosine"),
                    F.col("c_id").alias("match_vec_id"))
        )
        batch.select("vec_id").join(best, "vec_id", "left").select(
            "vec_id", "best_cosine", "match_vec_id",
            F.coalesce(F.col("best_cosine") >= F.lit(VEC_THRESHOLD), F.lit(False)).alias("is_dup"),
        ).write.parquet(f"{self.work}/batch_verdicts")

    # ----------------------------------------------------------- checks

    def check(self) -> None:
        docs, vecs = self.inp["documents"], self.inp["embeddings"]
        stream = f"read_parquet('{self.work}/vec_stream/verdicts/*/*.parquet')"
        con = duckdb.connect()
        try:
            cols = "vec_id, best_cosine, match_vec_id, is_dup"
            n = con.execute(f"SELECT count(*) FROM {stream}").fetchone()[0]
            diff = _diff(con, f"SELECT {cols} FROM {stream}",
                         f"SELECT {cols} FROM read_parquet('{self.work}/batch_verdicts/*.parquet')")
            self.rec.check(n > 0 and diff == 0,
                           f"vector stream verdicts differ from the batch search ({diff} rows)")
            src = ", ".join(f"'{p}'" for p in [docs["history"], *docs["deliveries"]])
            diff = _diff(con, f"SELECT doc_id FROM read_parquet('{self.idx_t}/sizes/**/*.parquet')",
                         f"SELECT doc_id FROM read_parquet([{src}])")
            self.rec.check(diff == 0, f"compacted text index differs from its inputs ({diff} docs)")
            diff = _diff(
                con, f"SELECT vec_id FROM read_parquet('{self.idx_v}/vectors/**/*.parquet')",
                f"SELECT vec_id FROM read_parquet('{vecs['history']}') "
                f"UNION ALL SELECT vec_id FROM {stream} WHERE NOT is_dup",
            )
            self.rec.check(diff == 0, f"compacted vector index differs from its inputs ({diff} vectors)")
        finally:
            con.close()

    def report(self) -> dict:
        p50 = self.rec.p50("index_append")
        return {
            "op_kind": "index_append",
            "op_p50_s": p50,
            "total_s": self.maint_s + self.screen_s,
            "detail": {
                "index_append_p50_s": p50,
                "index_append_s": self.rec.latency["index_append"],
                "index_append_cpu_s": self.rec.cpu["index_append"],
                "index_maint_s": self.maint_s,
                "screen_batch_p50_s": self.rec.p50("batch"),
                "screen_docs_per_s": self.rows_screened / self.screen_s,
            },
        }

    def layer_extra(self) -> dict:
        return dict(self.extra)


def _committed_batches(index: str) -> int:
    """Committed batch tags: one ``manifest/batch=<tag>`` entry each."""
    path = f"{index}/manifest"
    return len(os.listdir(path)) if os.path.isdir(path) else 0


def _diff(con, a: str, b: str) -> int:
    """Rows in one query's multiset and not in the other's, both ways."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) + "
        f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]
