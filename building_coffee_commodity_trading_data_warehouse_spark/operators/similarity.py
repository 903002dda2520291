"""Similarity search over embedding columns (north-star surface).

Plan shape: dot products run ARRAY-NATIVE — ``zip_with`` multiply +
``aggregate`` into a DECIMAL accumulator, entirely inside one JVM
projection. No explode, no per-component shuffle: a scan of N vectors
against Q broadcast queries is one broadcast-nested-loop join of N·Q
rows, each doing D fused multiply-accumulates. The decimal accumulator
keeps results order-independent and bit-identical to the DuckDB oracle
(which sums DECIMAL over an exploded view).

Baseline: brute-force cosine top-k (exact, O(Q·N·D)). Scale path:
random-hyperplane LSH — hyperplane signs are md5-derived (computed
once on the driver, shipped as literal arrays), bucketing is a pure
projection, and only co-bucketed pairs reach a dot product. Multiple
hash tables trade candidates for recall.

At 100 TB: the candidate scan stays partition-parallel with nothing
on the driver; queries/planes are broadcast literals; the only
shuffles are the final per-query top-k window and the LSH bucket
equi-join.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import index_store

_DOT_DEC = "decimal(38,12)"
# accumulator is deliberately NARROWER than the per-term cast: Spark
# widens decimal addition by one digit of precision, and (38,12)+(38,12)
# would overflow p=38, silently dropping to scale 11 and rounding every
# step. (26,12)+(26,12) -> (27,12) stays exact, and dot magnitudes here
# never need >14 integral digits.
_ACC_DEC = "decimal(26,12)"


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Exact (order-independent) dot product of two double arrays:
    per-element IEEE multiply, decimal-exact accumulation."""
    # per-term cast to scale 12 matches the oracle's DECIMAL(38,12)
    # rounding; accumulation stays in _ACC_DEC so each addition is exact
    # (see note above on why (38,12) accumulation would round per step)
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast(_ACC_DEC),
            lambda acc, x: (acc + x.cast(_ACC_DEC)).cast(_ACC_DEC),
        )
    ).cast("double")


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_norm(embeddings: DataFrame, id_alias: str, prefix: str) -> DataFrame:
    emb_d = as_double(F.col("embedding"))
    return embeddings.select(
        F.col("vec_id").alias(id_alias),
        emb_d.alias(f"{prefix}emb"),
        norm(emb_d).alias(f"{prefix}norm"),
    )


def cosine_pairs(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine for every (query, candidate) pair: candidates scan
    once, queries broadcast."""
    q = with_norm(queries, "q_id", "q_")
    c = with_norm(embeddings, "c_id", "c_")
    return c.join(F.broadcast(q), F.lit(True)).select(
        "q_id",
        "c_id",
        (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
            "cosine"
        ),
    )


def _vectorized_topk_partials(
    embeddings: DataFrame, queries: DataFrame, limit: int,
    normalize: bool = True,
) -> DataFrame:
    """Phase 1 of the vectorized top-k: one Arrow-batched numpy matmul
    per candidate batch against the BROADCAST query matrix, emitting
    each batch's local top-``limit`` per query. Top-k is distributive,
    so the union of batch-local top-k supersets the global top-k.
    The candidate scan stays partition-parallel; only ~Q·limit rows per
    batch leave the executors. ``normalize=False`` ranks by the raw
    inner product (the MIPS objective) instead of cosine.

    The per-batch ranking is ONE argpartition over the whole score
    block (chunked in query blocks of ``_Q_BLOCK`` columns so the score
    matrix stays ~rows × 2k doubles regardless of query-batch size) —
    an earlier per-query Python loop (one argpartition + list appends
    per column) was measured at 287 s vs 10 s for the identical matmul
    work on a 200k-corpus / 8k-query replica: the FLOPs were vectorized
    but the ranking was interpreted."""
    import numpy as np
    import pandas as pd

    q_pd = queries.select("vec_id", "embedding").toPandas()  # bounded: query batch
    q_ids = q_pd["vec_id"].to_numpy().astype("int64")
    q_mat = np.stack(q_pd["embedding"].to_numpy()).astype("float64")
    if normalize:
        with np.errstate(divide="ignore", invalid="ignore"):
            q_mat = q_mat / np.sqrt((q_mat * q_mat).sum(axis=1, keepdims=True))
    bc = embeddings.sparkSession.sparkContext.broadcast((q_ids, q_mat))
    _Q_BLOCK = 2048

    def gen(batches):
        ids, Qn = bc.value
        q_order = np.argsort(ids, kind="stable")
        ids_sorted = ids[q_order]
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            c_ids = pdf["vec_id"].to_numpy().astype("int64")
            # normalize BOTH sides up front: the matmul then emits the
            # cosine directly — no second rows×Q elementwise divide
            # pass over the score matrix (the prescore only selects the
            # candidate superset; exact values come from the decimal
            # rerank, so the ~1-ulp difference vs dividing after the
            # dot is absorbed by ``margin`` like all double jitter).
            # Zero-norm rows go 0/0→nan→whole score row nan→dropped by
            # the isfinite keep, same as the divide-after formulation.
            if normalize:
                with np.errstate(divide="ignore", invalid="ignore"):
                    C = C / np.sqrt((C * C).sum(axis=1, keepdims=True))
            # self-match lookup: which batch rows carry a query id, and
            # which query column that is (searchsorted, no rows×Q mask)
            pos = np.searchsorted(ids_sorted, c_ids)
            pos_c = np.minimum(pos, len(ids_sorted) - 1)
            self_rows = np.where(ids_sorted[pos_c] == c_ids)[0]
            self_cols = q_order[pos_c[self_rows]]
            frames = []
            CT = np.ascontiguousarray(C.T)
            for lo in range(0, len(ids), _Q_BLOCK):
                hi = min(lo + _Q_BLOCK, len(ids))
                # query-major orientation: each query's scores are one
                # CONTIGUOUS row, so the per-query argpartition streams
                # cache lines instead of striding across columns
                S = Qn[lo:hi] @ CT
                in_blk = (self_cols >= lo) & (self_cols < hi)
                S[self_cols[in_blk] - lo, self_rows[in_blk]] = -np.inf
                m = min(limit, S.shape[1])
                top = np.argpartition(-S, m - 1, axis=1)[:, :m]
                scv = np.take_along_axis(S, top, axis=1)
                qrow = np.broadcast_to(
                    np.arange(lo, hi)[:, None], (hi - lo, m)
                )
                keep = np.isfinite(scv)
                frames.append(pd.DataFrame({
                    "q_id": ids[qrow[keep]],
                    "c_id": c_ids[top[keep]],
                    "cos_d": scv[keep],
                }))
            yield pd.concat(frames, ignore_index=True)

    # a small parquet table arrives as ONE split — spread the scan so
    # the numpy batches use every core (cheap: rows are narrow)
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    return (
        embeddings.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(gen, "q_id long, c_id long, cos_d double")
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, margin: int = 8
) -> DataFrame:
    """Exact top-k neighbors per query (self-match excluded),
    deterministic tiebreak on candidate id.

    Two-phase plan: a vectorized numpy scan ranks candidates in double
    precision and keeps the top k+``margin`` per query; the survivors
    (Q·(k+margin) pairs — tiny) are re-scored with the decimal-exact
    ``dot`` and re-ranked, so the OUTPUT is bit-identical to the pure
    exact formulation while the O(N·Q·D) work runs as fused
    multiply-accumulates in numpy instead of interpreted per-row
    expressions. ``margin`` absorbs double-vs-decimal rank jitter
    (differences are ~1e-15 relative; 8 is generous)."""
    from pyspark.sql import Window

    partials = _vectorized_topk_partials(embeddings, queries, k + margin)
    cand = _prune_by_double(partials, k + margin)
    return _exact_topk_rerank(cand, embeddings, queries, k)


def _prune_by_double(scored: DataFrame, limit: int) -> DataFrame:
    """Global prune on the double score: per-partition partials can be
    30× the final candidate count; ranking them on the already-computed
    double score means the decimal re-score touches only Q·limit
    pairs."""
    from pyspark.sql import Window

    w_d = Window.partitionBy("q_id").orderBy(F.col("cos_d").desc(), F.col("c_id"))
    return (
        scored.withColumn("rk_d", F.row_number().over(w_d))
        .filter(F.col("rk_d") <= limit)
        .select("q_id", "c_id")
    )


def _np_pair_scores(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Double-precision cosine for an explicit (q_id, c_id) pair list,
    vectorized: arrays joined in, one einsum per Arrow batch. Broadcast
    the query side only when it is a bounded query batch — corpus-vs-
    corpus pair lists (near-dup) must shuffle-join both sides."""
    import numpy as np
    import pandas as pd

    c_arr = embeddings.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_raw")
    )
    q_arr = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_raw")
    )
    if broadcast_queries:
        q_arr = F.broadcast(q_arr)
    joined = (
        cand.join(c_arr, "c_id")
        .join(q_arr, "q_id")
        .select("q_id", "c_id", "q_raw", "c_raw")
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["q_raw"].to_numpy()).astype("float64")
            B = np.stack(pdf["c_raw"].to_numpy()).astype("float64")
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = num / den
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(),
                    "c_id": pdf["c_id"].to_numpy(),
                    "cos_d": cos,
                }
            )

    return joined.mapInPandas(gen, "q_id long, c_id long, cos_d double")


def _exact_topk_rerank(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Decimal-exact cosine + final rank over a pruned candidate list —
    the tiny tail that pins oracle-exact values and tie order.
    ``broadcast_queries=False`` is for the two-sided paths whose query
    set is NOT bounded by contract: the join shuffles on q_id instead
    (AQE still broadcasts small sides at runtime)."""
    from pyspark.sql import Window

    c = with_norm(embeddings, "c_id", "c_")
    q = with_norm(queries, "q_id", "q_")
    pairs = (
        cand.join(c, "c_id")
        .join(F.broadcast(q) if broadcast_queries else q, "q_id")
        .select(
            "q_id",
            "c_id",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "cosine", F.col("rk").cast("long").alias("rk"))
    )


def _plane_signs(plane: int, dim: int, table: int = 0) -> list[int]:
    """Deterministic ±1 hyperplane coefficients from md5 parity —
    identical to the SQL ``ascii(substr(md5(p || '_' || pos),1,1)) % 2``
    oracle (pos is 1-based). Computed once driver-side, shipped as a
    literal array."""
    prefix = f"{plane}_" if table == 0 else f"t{table}:{plane}_"
    out = []
    for pos in range(1, dim + 1):
        h = hashlib.md5(f"{prefix}{pos}".encode()).hexdigest()
        out.append(1 if ord(h[0]) % 2 == 1 else -1)
    return out


def _embedding_dim(embeddings: DataFrame) -> int:
    row = embeddings.select(F.size("embedding").alias("d")).first()
    if row is None:
        return 0
    return row["d"]


def lsh_buckets(
    embeddings: DataFrame, planes: int = 8, table: int = 0, dim: int | None = None
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: sign-bit pattern of
    ``planes`` projections. Pure projection — zero shuffles."""
    if dim is None:
        dim = _embedding_dim(embeddings)
    emb_d = as_double(F.col("embedding"))
    bucket = F.lit(0)
    for p in range(planes):
        signs = F.array(*[F.lit(float(s)) for s in _plane_signs(p, dim, table)])
        proj = dot(emb_d, signs)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return embeddings.select("vec_id", bucket.cast("long").alias("bucket"))


def multi_table_buckets(
    embeddings: DataFrame, planes: int, tables: int, dim: int | None = None
) -> DataFrame:
    """(vec_id, table_id, bucket) for ``tables`` independent LSH hash
    tables in ONE vectorized pass: the tables·planes decimal
    dot-projections the relational formulation would run per row are a
    single (N×D)@(D×tables·planes) matmul. Bucket membership is
    heuristic by definition (sign collisions), so double-precision
    signs are semantically fine; the oracle-gated ``lsh_buckets`` query
    keeps the decimal-exact path."""
    import numpy as np
    import pandas as pd

    if dim is None:
        dim = _embedding_dim(embeddings)
    signs = np.array(
        [
            [_plane_signs(p, dim, t) for p in range(planes)]
            for t in range(tables)
        ],
        dtype="float64",
    ).reshape(tables * planes, dim)
    weights = np.array([1 << p for p in range(planes)], dtype="int64")
    bc = embeddings.sparkSession.sparkContext.broadcast((signs, weights))

    def buckets_gen(batches):
        S, W = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            proj = C @ S.T  # N × tables·planes
            n_tables = len(S) // len(W)
            bits = (proj > 0).reshape(len(C), n_tables, len(W))
            bucket = (bits * W[None, None, :]).sum(axis=2)  # N × tables
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_tables),
                    "table_id": np.tile(np.arange(n_tables, dtype="int64"), len(C)),
                    "bucket": bucket.reshape(-1).astype("int64"),
                }
            )

    par = embeddings.sparkSession.sparkContext.defaultParallelism
    return (
        embeddings.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(buckets_gen, "vec_id long, table_id long, bucket long")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 4,
    tables: int = 4,
    dim: int | None = None,
    margin: int = 8,
) -> DataFrame:
    """Approximate top-k: a vector is a candidate iff it co-buckets
    with the query in ANY of ``tables`` independent hash tables; exact
    cosine + rank over candidates only. Tune planes (bucket size) and
    tables (recall) to corpus density.

    Scale shape: bucket(vector) is a pure function of the embedding
    (md5-derived planes), so the query batch buckets driver-side and
    broadcasts a (table, bucket) → query-positions index (at most
    tables·2^planes entries); the corpus streams through ONE
    mapInPandas pass that buckets each batch row and scores it against
    only the queries sharing a bucket, emitting batch-local
    top-(k+margin) per query. An earlier formulation equi-joined a
    (q_id, table, bucket) probe table against the corpus bucket table:
    Q·tables·(N/2^planes) candidate pair rows plus a distinct and an
    array join-back — at a 200k-corpus/8k-query replica that is ~400M
    pair rows and was the session's OOM driver. Per-cell scoring does
    the same candidate set at co-bucket FLOP cost with only Q·limit
    rows per batch leaving the executors; cross-table duplicate pairs
    dedup batch-locally (identical scores, one survivor). Exactness
    contract unchanged: the double prescore only picks the candidate
    superset (margin absorbs rank jitter), the decimal rerank pins
    oracle-exact values and tie order."""
    import numpy as np
    import pandas as pd

    if dim is None:
        dim = _embedding_dim(embeddings)
    spark = embeddings.sparkSession
    signs = np.array(
        [
            [_plane_signs(p, dim, t) for p in range(planes)]
            for t in range(tables)
        ],
        dtype="float64",
    ).reshape(tables * planes, dim)
    weights = np.array([1 << p for p in range(planes)], dtype="int64")
    limit = k + margin

    q_pd = queries.select("vec_id", "embedding").toPandas()  # bounded batch
    if not len(q_pd):
        empty = spark.createDataFrame([], "q_id long, c_id long, cos_d double")
        return _exact_topk_rerank(
            _prune_by_double(empty, limit), embeddings, queries, k
        )
    q_ids = q_pd["vec_id"].to_numpy().astype("int64")
    Q = np.stack(q_pd["embedding"].to_numpy()).astype("float64")
    qbits = (Q @ signs.T > 0).reshape(len(Q), tables, planes)
    qbucket = (qbits * weights[None, None, :]).sum(axis=2)  # Q × tables
    bucket_to_q = {
        (t, int(b)): np.where(qbucket[:, t] == b)[0]
        for t in range(tables)
        for b in np.unique(qbucket[:, t])
    }
    with np.errstate(divide="ignore", invalid="ignore"):
        Qs = Q / np.sqrt((Q * Q).sum(axis=1, keepdims=True))
    bc = spark.sparkContext.broadcast((q_ids, Qs, bucket_to_q, signs, weights))

    def gen(batches):
        ids, QQ, b2q, S, W = bc.value
        n_t = len(S) // len(W)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            c_ids = pdf["vec_id"].to_numpy().astype("int64")
            cbits = (X @ S.T > 0).reshape(len(X), n_t, len(W))
            cbucket = (cbits * W[None, None, :]).sum(axis=2)
            with np.errstate(divide="ignore", invalid="ignore"):
                Xs = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
            qpos_c, cid_c, sc_c = [], [], []
            for t in range(n_t):
                col = cbucket[:, t]
                for b in np.unique(col):
                    qidx = b2q.get((t, int(b)))
                    if qidx is None:
                        continue
                    rows = np.where(col == b)[0]
                    Sc = QQ[qidx] @ Xs[rows].T
                    Sc[ids[qidx][:, None] == c_ids[rows][None, :]] = -np.inf
                    mm = min(limit, Sc.shape[1])
                    top = np.argpartition(-Sc, mm - 1, axis=1)[:, :mm]
                    qpos_c.append(np.repeat(qidx, mm))
                    cid_c.append(c_ids[rows][top].reshape(-1))
                    sc_c.append(np.take_along_axis(Sc, top, axis=1).reshape(-1))
            if not qpos_c:
                continue
            qpos = np.concatenate(qpos_c)
            cid = np.concatenate(cid_c)
            scv = np.concatenate(sc_c)
            keep = np.isfinite(scv)
            qpos, cid, scv = qpos[keep], cid[keep], scv[keep]
            if not len(qpos):
                continue
            # dedup cross-table duplicate pairs on the (q, c) KEY
            # itself — the same pair can be scored by differently
            # shaped per-bucket GEMMs, so its two scores may differ
            # by an ulp and score-adjacency is not a reliable dedup
            # key. Sort (q, c, score desc), keep the first (best)
            # copy per pair, then re-sort for the per-query ranking.
            order = np.lexsort((-scv, cid, qpos))
            qpos, cid, scv = qpos[order], cid[order], scv[order]
            fresh = np.r_[
                True, (qpos[1:] != qpos[:-1]) | (cid[1:] != cid[:-1])
            ]
            qpos, cid, scv = qpos[fresh], cid[fresh], scv[fresh]
            order = np.lexsort((cid, -scv, qpos))
            qpos, cid, scv = qpos[order], cid[order], scv[order]
            starts = np.where(
                np.r_[True, qpos[1:] != qpos[:-1]], np.arange(len(qpos)), 0
            )
            rank = np.arange(len(qpos)) - np.maximum.accumulate(starts)
            sel = rank < limit
            yield pd.DataFrame(
                {"q_id": ids[qpos[sel]], "c_id": cid[sel], "cos_d": scv[sel]}
            )

    par = spark.sparkContext.defaultParallelism
    partials = (
        embeddings.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(gen, "q_id long, c_id long, cos_d double")
    )
    return _exact_topk_rerank(
        _prune_by_double(partials, limit), embeddings, queries, k
    )


def _train_centroids(
    embeddings: DataFrame, n_centroids: int, iters: int = 5, sample: int = 4096
):
    """Spherical k-means coarse quantizer, trained driver-side on a
    deterministic sample (first ``sample`` vectors by id — at corpus
    scale the sample is the only thing that leaves the executors).
    Returns a unit-normalized (n_centroids × D) numpy matrix."""
    import numpy as np

    pdf = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample)
        .toPandas()
    )
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    # deterministic init: evenly spaced sample rows (sorted by vec_id)
    idx = np.linspace(0, len(X) - 1, n_centroids).astype(int)
    C = X[idx].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    C[j] = c / n
    return C


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    margin: int = 8,
) -> DataFrame:
    """IVF approximate top-k: a coarse quantizer (spherical k-means)
    partitions the corpus into cells; each query probes only its
    ``nprobe`` closest cells, so the scored fraction is
    ~nprobe/n_centroids. Candidates are scored vectorized and
    decimal-reranked like brute_force_topk — the ANN error is ONLY
    cell-miss, never scoring.

    Scale shape: the query batch + its probe lists are a driver-side
    broadcast (the same bounded-query-batch contract as
    brute_force_topk, similarity.py:97); the corpus streams through ONE
    mapInPandas pass that assigns each batch row to its cell and runs a
    per-cell GEMM against only the queries probing that cell, emitting
    batch-local top-(k+margin) per query. Nothing pair-shaped ever
    materializes: an earlier formulation that equi-joined a
    (q_id, cell) probe table against a (c_id, cell) assignment table
    shuffled Q·N·nprobe/n_centroids candidate rows plus their arrays —
    measured 775 s vs 16 s brute force at a 200k-vector/8k-query
    replica, i.e. the "scale path" lost to the baseline it prunes.
    Per-cell scoring does the same candidate set at IVF FLOP cost with
    only Q·(k+margin) rows per batch leaving the executors. At corpus
    scale callers raise ``n_centroids`` ~√N so cells stay bounded.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    C = _train_centroids(embeddings, n_centroids, iters)

    q_pd = queries.select("vec_id", "embedding").toPandas()  # bounded: query batch
    if not len(q_pd):
        empty = spark.createDataFrame([], "q_id long, c_id long, cos_d double")
        return _exact_topk_rerank(
            _prune_by_double(empty, k + margin), embeddings, queries, k
        )
    q_ids = q_pd["vec_id"].to_numpy().astype("int64")
    Q = np.stack(q_pd["embedding"].to_numpy()).astype("float64")
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    m_probe = min(nprobe, n_centroids)
    probe_scores = Qn @ C.T
    top_cells = np.argpartition(-probe_scores, m_probe - 1, axis=1)[:, :m_probe]
    # invert: cell -> positions of the queries probing it
    cell_to_q = [
        np.where((top_cells == c).any(axis=1))[0] for c in range(n_centroids)
    ]
    limit = k + margin
    # scoring side: true normalization (0/0→nan), so zero-norm queries
    # produce nan scores and fall out of the isfinite keep — same
    # contract as _vectorized_topk_partials
    with np.errstate(divide="ignore", invalid="ignore"):
        Qs = Q / np.sqrt((Q * Q).sum(axis=1, keepdims=True))
    bc = spark.sparkContext.broadcast((q_ids, Qs, cell_to_q, C))

    def gen(batches):
        ids, QQ, c2q, CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            c_ids = pdf["vec_id"].to_numpy().astype("int64")
            cn = np.sqrt((X * X).sum(axis=1))
            Xn = X / np.maximum(cn[:, None], 1e-12)
            cells = np.argmax(Xn @ CC.T, axis=1)
            # scoring copy: 0/0→nan (zero-norm candidates drop out)
            with np.errstate(divide="ignore", invalid="ignore"):
                Xs = X / cn[:, None]
            qpos_c, cid_c, sc_c = [], [], []
            for cell in np.unique(cells):
                qidx = c2q[cell]
                if not len(qidx):
                    continue
                rows = np.where(cells == cell)[0]
                # query-major, both sides pre-normalized: the matmul IS
                # the cosine and the per-query argpartition walks one
                # contiguous row (see _vectorized_topk_partials)
                S = QQ[qidx] @ Xs[rows].T
                S[ids[qidx][:, None] == c_ids[rows][None, :]] = -np.inf  # self
                mm = min(limit, S.shape[1])
                top = np.argpartition(-S, mm - 1, axis=1)[:, :mm]
                qpos_c.append(np.repeat(qidx, mm))
                cid_c.append(c_ids[rows][top].reshape(-1))
                sc_c.append(np.take_along_axis(S, top, axis=1).reshape(-1))
            if not qpos_c:
                continue
            qpos = np.concatenate(qpos_c)
            cid = np.concatenate(cid_c)
            scv = np.concatenate(sc_c)
            keep = np.isfinite(scv)
            qpos, cid, scv = qpos[keep], cid[keep], scv[keep]
            if not len(qpos):
                continue
            # combine per-cell partials to batch-local top-limit per
            # query (same (score desc, c_id asc) order _prune_by_double
            # uses) — bounds emitted rows at Q·limit per batch instead
            # of Q·nprobe·limit.
            order = np.lexsort((cid, -scv, qpos))
            qs = qpos[order]
            starts = np.where(
                np.r_[True, qs[1:] != qs[:-1]], np.arange(len(qs)), 0
            )
            rank = np.arange(len(qs)) - np.maximum.accumulate(starts)
            sel = order[rank < limit]
            yield pd.DataFrame(
                {
                    "q_id": ids[qpos[sel]],
                    "c_id": cid[sel],
                    "cos_d": scv[sel],
                }
            )

    par = spark.sparkContext.defaultParallelism
    partials = (
        embeddings.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(gen, "q_id long, c_id long, cos_d double")
    )
    pruned = _prune_by_double(partials, limit)
    return _exact_topk_rerank(pruned, embeddings, queries, k)


def ivf_index_build(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    iters: int = 5,
) -> str:
    """Build a PERSISTENT IVF index: coarse-quantize the corpus once
    and write it to ``path`` partitioned by cell (hive layout:
    ``vectors/cell=<i>/``) plus a tiny ``centroids`` sidecar table.

    This is the production layout `ivf_topk`'s docstring promises: at
    100 TB the index is built once, searches open ONLY the nprobe
    probed cell directories (Spark partition pruning — the scan never
    lists, reads or deserializes the other n_centroids−nprobe
    fractions of the corpus), and the quantizer rides along as data
    instead of being retrained per query batch. Cell assignment is one
    vectorized mapInPandas pass; embedding bytes are written through
    unchanged (no arithmetic), so a search's decimal rerank over the
    index is bit-identical to one over the source table."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    C = _train_centroids(embeddings, n_centroids, iters)
    bc = spark.sparkContext.broadcast(C)
    emb_type = dict(embeddings.dtypes)["embedding"]

    def assign(batches):
        CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-12
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"].to_numpy(),
                    "cell": np.argmax(Xn @ CC.T, axis=1).astype("int64"),
                }
            )

    import uuid as _uuid

    # The IVF index rides the manifest-commit lifecycle of
    # index_store: vectors land under vectors/batch=<tag>/cell=<i>/
    # and the manifest swap PUBLISHES the batch. The centroid table is
    # a batch table too (centroids/batch=<tag>), so a crashed rebuild
    # can never pair retrained centroids with the previous committed
    # vectors — an uncommitted batch's centroids are as invisible as
    # its vectors.
    have = index_store.preflight(
        spark, path, "overwrite", {"n_centroids": int(n_centroids)}
    )
    bid = "b" + _uuid.uuid4().hex
    par = spark.sparkContext.defaultParallelism
    # compact before the partitioned write: without this every writer
    # task emits a sliver into every cell dir (tasks × cells files),
    # and the search's Arrow batches shrink to file size — per-batch
    # fixed cost dominated the scan (measured 55 s vs 21 s at a
    # 200k-vector replica). (cell, shard) repartitioning gives each
    # cell ⌈par/n_centroids⌉ full-size files — the same layout a real
    # parallel writer produces per partition at cluster scale.
    shards = max(1, par // n_centroids)
    assigned = (
        embeddings.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(assign, f"vec_id long, embedding {emb_type}, cell long")
        .repartition(
            par, F.col("cell"), F.pmod(F.xxhash64("vec_id"), F.lit(shards))
        )
    )
    # centroid rows via the pandas/Arrow path: createDataFrame from a
    # local LIST routes through a Python RDD whose worker spin-up
    # costs seconds per call in this runtime (measured); the
    # Arrow conversion is driver-side and immediate.
    import pandas as _pd

    cpdf = _pd.DataFrame(
        {
            "cell": _pd.Series(range(len(C)), dtype="int64"),
            "centroid": [[float(v) for v in row] for row in C],
        }
    )
    cents = spark.createDataFrame(
        cpdf, "cell long, centroid array<double>"
    ).coalesce(1)
    index_store.write_batch(
        spark,
        path,
        bid,
        "overwrite",
        {"vectors": assigned, "centroids": cents},
        {"n_centroids": int(n_centroids)},
        fresh=not have,
        partition_by={"vectors": ["cell"]},
    )
    return path


def ivf_index_append(
    embeddings: DataFrame,
    path: str,
    batch_tag: str | None = None,
) -> str:
    """Append a batch of vectors to a persisted IVF index under the
    manifest-commit contract (``index_store``): the new vectors
    are assigned cells by the index's FROZEN quantizer (one
    vectorized mapInPandas pass — no retraining, appends never move
    existing vectors), land under their own ``vectors/batch=<tag>``
    partition, and publish with a one-row manifest commit — torn
    appends invisible, same-tag replays idempotent.

    QUANTIZER-DRIFT caveat (the price of frozen centroids, stated
    rather than hidden): appended vectors from a distribution the
    original training sample never saw can land in poorly-fitting
    cells, degrading probe recall for queries near them. The remedy
    is a periodic REBUILD to a fresh path with retrained centroids —
    ``ivf_index_compact`` is a physical rewrite only and deliberately
    does not retrain (retraining inside compaction would silently
    change search results, breaking the compact-is-identity contract
    every other index in this repo pins)."""
    import uuid as _uuid

    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    n_centroids = int(index_store.read_meta(spark, path)["n_centroids"])
    index_store.preflight(spark, path, "append", {"n_centroids": n_centroids})
    bid = batch_tag if batch_tag is not None else "b" + _uuid.uuid4().hex
    index_store.validate_batch_tag(bid)
    C = _read_centroids(spark, path)
    bc = spark.sparkContext.broadcast(C)
    emb_type = dict(embeddings.dtypes)["embedding"]

    def assign(batches):
        CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-12
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"].to_numpy(),
                    "cell": np.argmax(Xn @ CC.T, axis=1).astype("int64"),
                }
            )

    par = spark.sparkContext.defaultParallelism
    shards = max(1, par // n_centroids)
    assigned = (
        embeddings.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(assign, f"vec_id long, embedding {emb_type}, cell long")
        .repartition(
            par, F.col("cell"), F.pmod(F.xxhash64("vec_id"), F.lit(shards))
        )
    )
    index_store.write_batch(
        spark,
        path,
        bid,
        "append",
        {"vectors": assigned},
        {"n_centroids": n_centroids},
        fresh=False,
        partition_by={"vectors": ["cell"]},
    )
    return path


def ivf_index_compact(
    spark, path: str, exclude_tags: list[str] | None = None
) -> str | None:
    """LSM-style compaction of an IVF index — the shared manifest-swap
    rewrite over the vectors AND centroid batch tables, preserving
    the inner ``cell=`` layout (so post-compact searches still prune
    at the cell dirs). Pure physical rewrite: search results are
    identical before and after (pinned by the s_ivf_lifecycle gate),
    and the quantizer is deliberately NOT retrained (see
    ``ivf_index_append``'s drift caveat). ``exclude_tags`` keeps the
    named batches out of the rewrite (the streaming auto-compact
    cadence's replay guard — see ``dedup.neardup_index_compact``)."""
    return index_store.compact(
        spark,
        path,
        ("vectors", "centroids"),
        partition_by={"vectors": ["cell"]},
        exclude_tags=exclude_tags,
    )


def ivf_index_vacuum(
    spark, path: str, grace_seconds: float = 0.0
) -> list[str]:
    """Delete unreferenced IVF batch directories — the shared vacuum
    (manifest re-read + optional grace window, see
    ``index_store.vacuum``) over this index's two tables."""
    return index_store.vacuum(
        spark, path, grace_seconds, ("vectors", "centroids")
    )


def _ivf_vectors(spark, path: str, exclude_tags=None) -> DataFrame:
    """The index's vector table restricted to manifest-COMMITTED
    batches (torn builds/appends invisible at the scan — both the
    ``batch`` and ``cell`` predicates are partition pruning)."""
    committed = index_store.committed_view(spark, path, exclude_tags)
    return index_store.committed_table(spark, path, "vectors", committed)


def ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    margin: int = 8,
    bounded: bool | None = None,
    max_driver_queries: int = 65536,
    exclude_tags: list[str] | None = None,
) -> DataFrame:
    """Search a persistent IVF index built by ``ivf_index_build``:
    probe cells come from the stored centroids, and the scan reads
    ONLY those cell partitions — ``PartitionFilters`` on the hive
    ``cell=`` directories, pinned by tests/test_plan_shapes.py — so
    the I/O (not just the FLOPs) is the nprobe/n_centroids fraction.
    Scoring is the same per-cell GEMM as ``ivf_topk``; with the same
    corpus/quantizer parameters the output is row-identical to
    ``ivf_topk`` (deterministic trainer, same candidate sets, same
    decimal rerank).

    Routing: the one-sided fast path below broadcasts the query batch
    from the driver, which is only safe for BOUNDED batches. With
    ``bounded=None`` (default) the batch is size-probed with a
    ``limit(max_driver_queries+1).count()`` — bounded work no matter
    how large the query set is — and anything over the threshold
    auto-routes to ``ivf_index_search_distributed``, whose output is
    row-identical (pinned by pytest). ``bounded=True`` skips the probe
    (caller asserts the contract); ``bounded=False`` always takes the
    distributed path."""
    import numpy as np
    import pandas as pd

    if bounded is None:
        bounded = (
            queries.limit(max_driver_queries + 1).count()
            <= max_driver_queries
        )
    if not bounded:
        return ivf_index_search_distributed(
            spark, path, queries, k=k, nprobe=nprobe, margin=margin,
            exclude_tags=exclude_tags,
        )

    C = _read_centroids(spark, path)
    n_centroids = len(C)
    limit = k + margin
    # exclude_tags: hide a replayed micro-batch's own first-attempt
    # append from its search — the streaming replay contract, same
    # as neardup_index_search (ann_stream passes its batch tag here)
    vectors = _ivf_vectors(spark, path, exclude_tags)

    q_pd = queries.select("vec_id", "embedding").toPandas()  # bounded batch
    if not len(q_pd):
        empty = spark.createDataFrame([], "q_id long, c_id long, cos_d double")
        return _exact_topk_rerank(
            _prune_by_double(empty, limit),
            vectors.select("vec_id", "embedding"),
            queries,
            k,
        )
    q_ids = q_pd["vec_id"].to_numpy().astype("int64")
    Q = np.stack(q_pd["embedding"].to_numpy()).astype("float64")
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    m_probe = min(nprobe, n_centroids)
    top_cells = np.argpartition(-(Qn @ C.T), m_probe - 1, axis=1)[:, :m_probe]
    cell_to_q = {
        int(c): np.where((top_cells == c).any(axis=1))[0]
        for c in np.unique(top_cells)
    }
    with np.errstate(divide="ignore", invalid="ignore"):
        Qs = Q / np.sqrt((Q * Q).sum(axis=1, keepdims=True))
    bc = spark.sparkContext.broadcast((q_ids, Qs, cell_to_q))

    def gen(batches):
        ids, QQ, c2q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            c_ids = pdf["vec_id"].to_numpy().astype("int64")
            with np.errstate(divide="ignore", invalid="ignore"):
                Xs = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
            cells = pdf["cell"].to_numpy()
            qpos_c, cid_c, sc_c = [], [], []
            for cell in np.unique(cells):
                qidx_all = c2q.get(int(cell))
                if qidx_all is None or not len(qidx_all):
                    continue
                rows = np.where(cells == cell)[0]
                XsT = np.ascontiguousarray(Xs[rows].T)
                crow = c_ids[rows]
                # compacted index files make each batch ONE full-size
                # cell shard, so qidx × rows is the big block here —
                # chunk queries like _vectorized_topk_partials or 32
                # workers fault ~200 MB score buffers each (measured
                # 132 s vs 21 s unchunked at a 200k replica)
                for qlo in range(0, len(qidx_all), 2048):
                    qidx = qidx_all[qlo : qlo + 2048]
                    S = QQ[qidx] @ XsT
                    S[ids[qidx][:, None] == crow[None, :]] = -np.inf
                    mm = min(limit, S.shape[1])
                    top = np.argpartition(-S, mm - 1, axis=1)[:, :mm]
                    qpos_c.append(np.repeat(qidx, mm))
                    cid_c.append(crow[top].reshape(-1))
                    sc_c.append(np.take_along_axis(S, top, axis=1).reshape(-1))
            if not qpos_c:
                continue
            qpos = np.concatenate(qpos_c)
            cid = np.concatenate(cid_c)
            scv = np.concatenate(sc_c)
            keep = np.isfinite(scv)
            qpos, cid, scv = qpos[keep], cid[keep], scv[keep]
            if not len(qpos):
                continue
            order = np.lexsort((cid, -scv, qpos))
            qs = qpos[order]
            starts = np.where(
                np.r_[True, qs[1:] != qs[:-1]], np.arange(len(qs)), 0
            )
            rank = np.arange(len(qs)) - np.maximum.accumulate(starts)
            sel = order[rank < limit]
            yield pd.DataFrame(
                {
                    "q_id": ids[qpos[sel]],
                    "c_id": cid[sel],
                    "cos_d": scv[sel],
                }
            )

    probed = vectors.filter(
        F.col("cell").isin([int(c) for c in cell_to_q])
    )
    src = probed.select("vec_id", "embedding", "cell")
    # byte-based split packing reads the probed cells as a couple of
    # tasks locally (32 small files fit one maxPartitionBytes split)
    # while the stage cost is per-row Python — widen to core count,
    # same rationale as multimodal._widen; no-op on any real cluster
    # scan where the probed fraction spans thousands of row groups
    par = spark.sparkContext.defaultParallelism
    # leaf-safe probe: the probed-cell scan is a
    # Filter+Project leaf, so this stays an exact partition count;
    # a composed input would skip the widen instead of executing
    # upstream stages via df.rdd
    from ..session import scan_partitions as _scanp

    _np = _scanp(src)
    if _np is not None and _np < par:
        src = src.repartition(par)
    partials = src.mapInPandas(
        gen, "q_id long, c_id long, cos_d double"
    )
    pruned = _prune_by_double(partials, limit)
    # rerank joins arrays from the PRUNED index scan (the survivors'
    # cells are by construction among the probed partitions)
    return _exact_topk_rerank(
        pruned, probed.select("vec_id", "embedding"), queries, k
    )


def _read_centroids(spark, path: str):
    """The n_centroids×D quantizer matrix from the index's tiny
    ``centroids`` table, sorted by cell — committed batches only, read
    driver-side (a Spark job here would be a fixed tax on every
    search's plan phase). Only build and compact batches carry
    centroids, so the committed filter yields exactly one set."""
    import numpy as np

    cpdf = (
        index_store.read_committed_small(spark, path, "centroids")
        .to_pandas()
        .sort_values("cell")
    )
    return np.stack(cpdf["centroid"].to_numpy()).astype("float64")


def ivf_index_search_distributed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    margin: int = 8,
    query_shards: int | None = None,
    exclude_tags: list[str] | None = None,
) -> DataFrame:
    """TWO-SIDED search of a persistent IVF index: the query set stays
    a DataFrame end-to-end — nothing query-sized ever reaches the
    driver — so a 10⁸-row query batch works where
    ``ivf_index_search``'s (documented, bounded-by-contract)
    ``toPandas()`` of the batch would not.

    Shape: (1) probe-cell assignment runs as one vectorized
    mapInPandas over the QUERIES (the only driver-resident object is
    the n_centroids×D centroid matrix, tiny by construction), each
    query exploding to its nprobe (cell) rows; (2) the distinct
    probed-cell list — ≤ n_centroids values, bounded by contract —
    drives hive partition pruning of the index exactly like the
    one-sided path; (3) queries replicate to ``query_shards``
    corpus-salt shards (in-row ``explode(sequence(...))``, codegen)
    and meet the salted index cells in a cogroup on (cell, shard):
    ONE shuffle of the probed corpus fraction per search batch and
    nprobe·S small query rows — no all-pairs join ever materializes,
    and the salt bounds every task's GEMM tile regardless of cell
    skew; (4) the usual double-score prune + decimal rerank, with the
    rerank joining queries by shuffle instead of broadcast.

    Same quantizer math as ``ivf_index_search`` ⇒ identical candidate
    sets ⇒ row-identical output (pinned by pytest). Cost trade vs the
    one-sided path at small query counts: one extra pass over the
    queries (the distinct-cells aggregate) and a corpus shuffle — the
    price of unbounded query scale."""
    import numpy as np
    import pandas as pd

    C = _read_centroids(spark, path)
    bc = spark.sparkContext.broadcast(C)
    limit = k + margin
    par = spark.sparkContext.defaultParallelism
    S = int(query_shards or max(1, par // len(C)))
    emb_type = dict(queries.dtypes)["embedding"]

    def assign_q(batches):
        CC = bc.value
        m = min(nprobe, len(CC))
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Qn = Q / np.maximum(
                np.linalg.norm(Q, axis=1, keepdims=True), 1e-12
            )
            top = np.argpartition(-(Qn @ CC.T), m - 1, axis=1)[:, :m]
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(
                        pdf["vec_id"].to_numpy().astype("int64"), m
                    ),
                    "embedding": pdf["embedding"].to_numpy().repeat(m),
                    "cell": top.reshape(-1).astype("int64"),
                }
            )

    qcells = (
        queries.select("vec_id", "embedding")
        .mapInPandas(assign_q, f"q_id long, embedding {emb_type}, cell long")
    )
    # ≤ n_centroids values by construction — the one bounded driver
    # fetch, and the handle that turns the index scan into hive
    # partition pruning (recomputes assign_q once; cheap relative to
    # the search, and caching an unbounded query set would not be)
    probed_cells = [int(r["cell"]) for r in qcells.select("cell").distinct().collect()]
    vectors = _ivf_vectors(spark, path, exclude_tags)
    probed = vectors.filter(F.col("cell").isin(probed_cells))

    qrep = qcells.withColumn(
        "shard", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    )
    vshard = probed.select(
        "vec_id",
        "embedding",
        "cell",
        F.pmod(F.xxhash64("vec_id"), F.lit(S)).alias("shard"),
    )

    def score(qpdf: pd.DataFrame, cpdf_: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf_):
            return pd.DataFrame({"q_id": [], "c_id": [], "cos_d": []})
        q_ids = qpdf["q_id"].to_numpy().astype("int64")
        Q = np.stack(qpdf["embedding"].to_numpy()).astype("float64")
        with np.errstate(divide="ignore", invalid="ignore"):
            Qs = Q / np.sqrt((Q * Q).sum(axis=1, keepdims=True))
        X = np.stack(cpdf_["embedding"].to_numpy()).astype("float64")
        c_ids = cpdf_["vec_id"].to_numpy().astype("int64")
        with np.errstate(divide="ignore", invalid="ignore"):
            Xs = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
        XsT = np.ascontiguousarray(Xs.T)
        outs = []
        for qlo in range(0, len(Qs), 2048):
            Sc = Qs[qlo : qlo + 2048] @ XsT
            Sc[q_ids[qlo : qlo + 2048, None] == c_ids[None, :]] = -np.inf
            mm = min(limit, Sc.shape[1])
            top = np.argpartition(-Sc, mm - 1, axis=1)[:, :mm]
            scv = np.take_along_axis(Sc, top, axis=1).reshape(-1)
            keep = np.isfinite(scv)
            outs.append(
                pd.DataFrame(
                    {
                        "q_id": np.repeat(q_ids[qlo : qlo + 2048], mm)[keep],
                        "c_id": c_ids[top].reshape(-1)[keep],
                        "cos_d": scv[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    partials = (
        qrep.groupBy("cell", "shard")
        .cogroup(vshard.groupBy("cell", "shard"))
        .applyInPandas(
            lambda ql, cr: score(ql, cr), "q_id long, c_id long, cos_d double"
        )
    )
    pruned = _prune_by_double(partials, limit)
    return _exact_topk_rerank(
        pruned,
        probed.select("vec_id", "embedding"),
        queries,
        k,
        broadcast_queries=False,
    )


def ivf_index_certified(
    embeddings: DataFrame,
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    min_recall: float = 0.2,
    min_mean_recall: float = 0.65,
) -> DataFrame:
    """Build the persistent index, search it, and certify the result
    against exact brute force — same certificate contract as
    ivf_topk_certified (per-query exact-top-k cardinality +
    hash-covered recall-floor booleans). The deterministic trainer
    gives the search the same quantizer as ivf_topk, so the floors are
    the measured ivf_topk distribution, not new ones."""
    spark = embeddings.sparkSession
    ivf_index_build(embeddings, path, n_centroids)
    exact = brute_force_topk(embeddings, queries, k).select("q_id", "c_id")
    # bounded=True: certification always runs against a bounded query
    # sample (brute force on the exact side could not be unbounded
    # either), so the routing size-probe job is pure overhead here
    ann = ivf_index_search(
        spark, path, queries, k, nprobe, bounded=True
    ).select("q_id", "c_id")
    return _recall_certificate(exact, ann, min_recall, min_mean_recall)


def _verify_pairs_exact(
    cand: DataFrame, embeddings: DataFrame, threshold: float
) -> DataFrame:
    """Decimal-exact cosine over an explicit (vec_a, vec_b) candidate
    list, filtered at the true threshold — the tiny tail every
    candidate-generation strategy funnels into, pinning oracle-exact
    values regardless of how candidates were found."""
    a = with_norm(embeddings, "vec_a", "a_")
    b = with_norm(embeddings, "vec_b", "b_")
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (
                dot(F.col("a_emb"), F.col("b_emb"))
                / (F.col("a_norm") * F.col("b_norm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _blocked_candidate_pairs(
    embeddings: DataFrame, threshold: float, block_size: int = 4096
) -> DataFrame:
    """EXACT all-pairs candidate generation, executor-side: the corpus
    is hashed into ⌈N/block_size⌉ blocks, every unordered block pair
    becomes one applyInPandas group holding both tiles, and each task
    emits the tile-product pairs clearing ``threshold`` (minus a double
    -vs-decimal epsilon). Nothing corpus-sized ever lands on the
    driver; per-task memory is 2·block_size·D doubles; shuffle volume
    is N·(B+1) narrow rows. The O(N²/B per task) compute is inherent to
    exact all-pairs at permissive thresholds — for high thresholds the
    LSH strategy prunes instead of tiling."""
    import math

    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    n = embeddings.count()
    n_blocks = max(1, math.ceil(n / block_size))
    eps = 1e-9

    blk = embeddings.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("__blk"),
    )
    i = spark.range(n_blocks).select(F.col("id").alias("bi"))
    j = spark.range(n_blocks).select(F.col("id").alias("bj"))
    block_pairs = i.join(j, F.col("bi") <= F.col("bj")).select(
        (F.col("bi") * n_blocks + F.col("bj")).alias("pair_id"),
        "bi",
        "bj",
        (F.col("bi") == F.col("bj")).alias("diag"),
    )
    lo = blk.join(F.broadcast(block_pairs), blk["__blk"] == block_pairs["bi"]).select(
        "pair_id", "diag", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    hi = blk.join(
        F.broadcast(block_pairs),
        (blk["__blk"] == block_pairs["bj"]) & ~block_pairs["diag"],
    ).select("pair_id", "diag", F.lit(1).alias("side"), "vec_id", "embedding")

    def tile(pdf: pd.DataFrame) -> pd.DataFrame:
        a_pdf = pdf[pdf["side"] == 0]
        ids_a = a_pdf["vec_id"].to_numpy()
        A = np.stack(a_pdf["embedding"].to_numpy()).astype("float64")
        an = np.sqrt((A * A).sum(axis=1))
        if bool(pdf["diag"].iloc[0]):
            ids_b, B, bn = ids_a, A, an
        else:
            b_pdf = pdf[pdf["side"] == 1]
            ids_b = b_pdf["vec_id"].to_numpy()
            B = np.stack(b_pdf["embedding"].to_numpy()).astype("float64")
            bn = np.sqrt((B * B).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (A @ B.T) / (an[:, None] * bn[None, :])
        keep = S >= threshold - eps
        if bool(pdf["diag"].iloc[0]):
            # same tile on both axes: upper triangle avoids self + dup
            keep &= ids_a[:, None] < ids_b[None, :]
        r, c = np.nonzero(keep)
        # hash-blocking doesn't order ids across tiles — canonicalize
        x, y = ids_a[r].astype("int64"), ids_b[c].astype("int64")
        return pd.DataFrame(
            {"vec_a": np.minimum(x, y), "vec_b": np.maximum(x, y)}
        )

    return (
        lo.unionByName(hi)
        .groupBy("pair_id")
        .applyInPandas(tile, "vec_a long, vec_b long")
    )


def _lsh_tables_for(threshold: float, planes: int, miss_prob: float = 1e-6) -> int:
    """Number of independent hash tables so that a pair at exactly
    ``threshold`` cosine is missed with probability < ``miss_prob``:
    per-table collision is (1 − θ/π)^planes for angle θ, so miss over T
    tables is (1 − r^planes)^T."""
    import math

    theta = math.acos(max(-1.0, min(1.0, threshold)))
    r = 1.0 - theta / math.pi
    per_table = r**planes
    if per_table >= 1.0:
        return 1
    return max(4, min(64, math.ceil(math.log(miss_prob) / math.log(1.0 - per_table))))


def _lsh_candidate_pairs(
    embeddings: DataFrame,
    threshold: float,
    planes: int = 8,
    tables: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup candidates via multi-table LSH co-bucketing: a pair is
    a candidate iff it shares a bucket in ANY table. Sub-quadratic —
    candidate volume ~ T·Σ|bucket|², and a true pair at ``threshold``
    escapes all tables with probability < 1e-6 (see _lsh_tables_for).
    Candidates are double-scored vectorized and pruned before the
    decimal verify, so the expensive exact path touches only pairs that
    already clear threshold − ε."""
    if tables is None:
        tables = _lsh_tables_for(threshold, planes)
    b = multi_table_buckets(embeddings, planes, tables, dim)
    a_side = b.select(F.col("vec_id").alias("vec_a"), "table_id", "bucket")
    b_side = b.select(F.col("vec_id").alias("vec_b"), "table_id", "bucket")
    cand = (
        a_side.join(b_side, ["table_id", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    scored = _np_pair_scores(
        cand.withColumnRenamed("vec_a", "q_id").withColumnRenamed("vec_b", "c_id"),
        embeddings,
        embeddings,
        broadcast_queries=False,
    )
    return (
        scored.filter(F.col("cos_d") >= threshold - 1e-9)
        .select(F.col("q_id").alias("vec_a"), F.col("c_id").alias("vec_b"))
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    strategy: str = "auto",
    block_size: int = 4096,
    planes: int = 8,
    tables: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``
    (vec_a < vec_b). Candidate generation is strategy-selected, then
    every candidate is re-scored decimal-exact and filtered at the true
    threshold, so values are oracle-exact for any strategy:

    * ``"blocked"`` — exact tile cross-join: all pairs scored, corpus
      stays executor-side in block-pair tasks. The named exact
      baseline; right whenever the threshold is too permissive for LSH
      to prune (θ/π large).
    * ``"lsh"`` — multi-table co-bucket candidates, sub-quadratic; the
      100 TB semantic-dedup path for tight thresholds (≥ ~0.8), tables
      auto-sized so a threshold-grade pair is missed w.p. < 1e-6
      (recall pinned in tests/test_similarity_recall.py).
    * ``"auto"`` — ``lsh`` iff ``threshold >= 0.8`` else ``blocked``.

    Nothing corpus-sized is ever collected to the driver on any path.
    """
    if strategy == "auto":
        strategy = "lsh" if threshold >= 0.8 else "blocked"
    if strategy == "blocked":
        cand = _blocked_candidate_pairs(embeddings, threshold, block_size)
    elif strategy == "lsh":
        cand = _lsh_candidate_pairs(embeddings, threshold, planes, tables)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return _verify_pairs_exact(cand, embeddings, threshold)


def knn_join(
    embeddings: DataFrame, k: int = 3, block_size: int = 4096, margin: int = 8
) -> DataFrame:
    """Exact k-NN SELF-join: every vector's k nearest neighbors by
    cosine (self excluded) — the retrieval primitive behind semantic
    dedup, clustering seeds, and hard-negative mining, where EVERY row
    is a query (so the query side can never be broadcast, unlike
    brute_force_topk's bounded query batch).

    Plan: the corpus is hashed into ⌈N/B⌉ blocks; every unordered block
    pair becomes one applyInPandas tile task that emits, per row, its
    local top-(k+margin) matches in double precision (one numpy matmul
    per tile, both directions for off-diagonal tiles). A global
    window prune keeps k+margin per vector, and the surviving
    N·(k+margin) pairs re-score decimal-exact and re-rank — output
    bit-identical to the pure exact formulation (margin absorbs
    double-vs-decimal rank jitter).

    Scale: exact k-NN join is inherently O(N²·D/B) compute — that cost
    is the spec, spread evenly over ⌈N/B⌉² bounded-memory tasks with
    nothing corpus-sized on the driver. When approximate recall is
    acceptable, the sub-quadratic path is the same tail fed by LSH
    co-bucket candidates (lsh_topk / _lsh_candidate_pairs)."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    m = k + margin
    spark = embeddings.sparkSession
    n = embeddings.count()
    n_blocks = max(1, math.ceil(n / block_size))

    blk = embeddings.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("__blk"),
    )
    i = spark.range(n_blocks).select(F.col("id").alias("bi"))
    j = spark.range(n_blocks).select(F.col("id").alias("bj"))
    block_pairs = i.join(j, F.col("bi") <= F.col("bj")).select(
        (F.col("bi") * n_blocks + F.col("bj")).alias("pair_id"),
        "bi",
        "bj",
        (F.col("bi") == F.col("bj")).alias("diag"),
    )
    lo = blk.join(F.broadcast(block_pairs), blk["__blk"] == block_pairs["bi"]).select(
        "pair_id", "diag", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    hi = blk.join(
        F.broadcast(block_pairs),
        (blk["__blk"] == block_pairs["bj"]) & ~block_pairs["diag"],
    ).select("pair_id", "diag", F.lit(1).alias("side"), "vec_id", "embedding")

    def _local_topm(ids_q, ids_c, S):
        """Per-row top-m columns of S. Non-finite scores are dropped
        (mirrors _vectorized_topk_partials): the -inf diagonal mask and
        any zero-norm NaN must not survive into the candidate set —
        when a block holds <= m rows argpartition keeps EVERY column,
        including the masked self-pair, and the exact rerank would
        re-score it to cosine 1.0 at rank 1."""
        mm = min(m, S.shape[1])
        part = np.argpartition(-S, mm - 1, axis=1)[:, :mm]
        rows = np.repeat(np.arange(S.shape[0]), mm)
        cols = part.ravel()
        scores = S[rows, cols]
        keep = np.isfinite(scores)
        return pd.DataFrame(
            {
                "q_id": ids_q[rows[keep]].astype("int64"),
                "c_id": ids_c[cols[keep]].astype("int64"),
                "cos_d": scores[keep],
            }
        )

    def tile(pdf: pd.DataFrame) -> pd.DataFrame:
        a_pdf = pdf[pdf["side"] == 0]
        ids_a = a_pdf["vec_id"].to_numpy()
        A = np.stack(a_pdf["embedding"].to_numpy()).astype("float64")
        an = np.sqrt((A * A).sum(axis=1))
        diag = bool(pdf["diag"].iloc[0])
        if diag:
            ids_b, B, bn = ids_a, A, an
        else:
            b_pdf = pdf[pdf["side"] == 1]
            ids_b = b_pdf["vec_id"].to_numpy()
            B = np.stack(b_pdf["embedding"].to_numpy()).astype("float64")
            bn = np.sqrt((B * B).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (A @ B.T) / (an[:, None] * bn[None, :])
        if diag:
            np.fill_diagonal(S, -np.inf)
            return _local_topm(ids_a, ids_b, S)
        return pd.concat(
            [_local_topm(ids_a, ids_b, S), _local_topm(ids_b, ids_a, S.T)],
            ignore_index=True,
        )

    partials = (
        lo.unionByName(hi)
        .groupBy("pair_id")
        .applyInPandas(tile, "q_id long, c_id long, cos_d double")
    )
    cand = _prune_by_double(partials, m)

    # fold-order exact rerank WITHOUT broadcasting the query side (it
    # is the whole corpus): two shuffle joins over N·m narrow rows.
    # dot_fold (not the decimal dot): with every pair in play, decimal
    # per-term rounding WILL hit an engine-sensitive boundary somewhere
    c = with_norm_fold(embeddings, "c_id", "c_")
    q = with_norm_fold(embeddings, "q_id", "q_")
    pairs = (
        cand.join(c, "c_id")
        .join(q, "q_id")
        .select(
            "q_id",
            "c_id",
            (
                dot_fold(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "cosine", F.col("rk").cast("long").alias("rk"))
    )


def dot_fold(a: Column, b: Column) -> Column:
    """Fixed-order DOUBLE dot product: left fold over element order.

    Cross-engine determinism without decimals: both engines fold the
    SAME IEEE doubles in the SAME order (Spark ``aggregate`` over the
    array; DuckDB ``list_sum(list(... ORDER BY pos))``), so results are
    bit-identical. Used for all-pairs gates where per-term decimal
    casts are engine-sensitive (Spark rounds the exact binary
    expansion HALF_UP; DuckDB rounds the shortest repr half-even —
    they disagree when a product lands on a scale-12 boundary)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm_fold(embeddings: DataFrame, id_alias: str, prefix: str) -> DataFrame:
    emb_d = as_double(F.col("embedding"))
    return embeddings.select(
        F.col("vec_id").alias(id_alias),
        emb_d.alias(f"{prefix}emb"),
        F.sqrt(dot_fold(emb_d, emb_d)).alias(f"{prefix}norm"),
    )


def ivf_topk_certified(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    min_recall: float = 0.2,
    min_mean_recall: float = 0.65,
) -> DataFrame:
    """IVF ANN CERTIFIED against exact brute force in one result: per
    query, the exact-top-k cardinality (value-portable) plus booleans
    asserting per-query recall ≥ ``min_recall`` and corpus-wide mean
    recall ≥ ``min_mean_recall``. The default floors sit well under the
    measured sf0.01 distribution (nprobe=8/16: mean 0.85, min 0.6) so
    a fresh data generation cannot flake them, while still proving the
    probe path finds real neighbors; tests/test_similarity_recall pins
    the tighter aggregate floors per parameter point. The ANN neighbor ids themselves depend on the quantizer and
    are deliberately NOT in the output — the booleans are, so a
    cross-engine value check also proves the recall bound.

    This is the VERIFICATION query (it runs BOTH the IVF probe and the
    exact scan); production ANN uses ivf_topk alone."""
    exact = brute_force_topk(embeddings, queries, k).select("q_id", "c_id")
    ann = ivf_topk(embeddings, queries, k, n_centroids, nprobe).select(
        "q_id", "c_id"
    )
    return _recall_certificate(exact, ann, min_recall, min_mean_recall)


def _recall_certificate(
    exact: DataFrame, ann: DataFrame, min_recall: float, min_mean_recall: float
) -> DataFrame:
    """Shared recall-certificate tail for every ANN-vs-exact gate
    (IVF, PQ): per-query exact-top-k cardinality + hash-covered
    booleans for the per-query and corpus-mean recall floors. One
    implementation so the certificate contract cannot diverge between
    ANN families."""
    hits = (
        exact.join(ann, ["q_id", "c_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    per_q = (
        exact.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("k_exact"))
        .join(hits, "q_id", "left")
        .withColumn("__hits", F.coalesce("__hits", F.lit(0)))
        .withColumn("__recall", F.col("__hits") / F.col("k_exact"))
    )
    mean_ok = per_q.agg(
        (F.avg("__recall") >= F.lit(min_mean_recall)).alias("mean_recall_ok")
    )
    return (
        per_q.crossJoin(F.broadcast(mean_ok))
        .select(
            "q_id",
            "k_exact",
            (F.col("__recall") >= F.lit(min_recall)).alias("recall_ok"),
            "mean_recall_ok",
        )
    )


def dimension_stats(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension normalization statistics (mean/std/min/max) over
    an embedding column — the pre-pass every ANN/whitening/quantization
    stage needs before it can center or scale vectors.

    Scale shape: posexplode emits (dim, value) pairs but the groupBy
    partial-aggregates map-side, so the one shuffle carries only
    #partitions × d rows (d = vector width, tiny) — never corpus-sized
    traffic.

    Exactness: decimal casts of raw floats are NOT portable — a float32
    like 1/8192 lands exactly halfway at decimal scale 12 and Spark
    (HALF_UP) vs DuckDB (HALF_EVEN) round it apart. So values are
    quantized onto the 2^-31 lattice with floor(val·2^31) — a
    power-of-two scale is an EXACT double op and floor has no ties —
    then summed as plain integers (Σiv fits BIGINT, Σiv² accumulates
    in DECIMAL(38,0)): zero rounding anywhere until the final fixed
    tree of IEEE double ops. The 2^-31 quantization error (≤5e-10) is
    far below any use of normalization stats; min/max are reported on
    the raw values (no arithmetic, exact on any engine). Dims are
    1-based to match SQL's generate_subscripts."""
    _S = 2147483648.0  # 2^31
    ex = embeddings.select(
        F.posexplode(vec_col).alias("pos", "__v")
    ).select((F.col("pos") + 1).alias("dim"), F.col("__v").cast("double").alias("val"))
    iv = F.floor(F.col("val") * F.lit(_S))  # bigint, exact, tie-free
    ivd = iv.cast("decimal(38,0)")
    per_dim = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(iv).alias("__siv"),
        F.sum(ivd * ivd).alias("__sivv"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    mean = (F.col("__siv").cast("double") / F.lit(_S)) / F.col("n_values")
    meansq = (F.col("__sivv").cast("double") / F.lit(_S * _S)) / F.col("n_values")
    var = meansq - mean * mean
    return per_dim.select(
        "dim",
        "n_values",
        mean.alias("mean_val"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_val"),
        "min_val",
        "max_val",
    ).orderBy("dim")


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    candidates: int = 64,
    iters: int = 5,
    sample: int = 4096,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al.): the corpus compresses
    to ``m`` one-byte codes per vector (32× smaller than D=64 floats),
    queries score candidates by asymmetric-distance lookup (ADC — one
    table read per subspace instead of a D-wide dot), and the top
    ``candidates`` per query are decimal-exact reranked. The PQ error
    is ONLY candidate-miss, never scoring — with a generous candidate
    pool the output equals brute_force_topk exactly, which is what the
    gate's brute-force oracle checks.

    All vectors (train sample, corpus batches, queries) normalize
    before encoding, so ADC approximates COSINE order directly — an
    un-normalized ADC ranks by dot and loses small-norm/high-cosine
    candidates. Codebooks train driver-side on the same bounded
    ``sample`` as the IVF quantizer (deterministic: first ``sample``
    ids, evenly-spaced init); codebooks + query LUTs broadcast; the
    corpus scan is one fused encode+score pass per batch with
    batch-local top-C, then a global top-C window and the tiny exact
    rerank. At 100 TB the production layout stores the codes column
    once and scans m bytes/vector — the memory-bandwidth win PQ
    exists for; the fused pass here keeps the gate self-contained."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    pdf = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample)
        .toPandas()
    )
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.empty((m, ks, sub))
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        idx = np.linspace(0, len(S) - 1, ks).astype(int)
        C = S[idx].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(ks):
                mem = S[assign == c]
                if len(mem):
                    C[c] = mem.mean(0)
        books[j] = C

    qp = queries.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    Q = np.stack(qp["embedding"].to_numpy()).astype("float64")
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = qp["vec_id"].to_numpy()
    bc = embeddings.sparkSession.sparkContext.broadcast((books, Q, qids))

    def gen(batches):
        B, Qn, qid_arr = bc.value
        q_order = np.argsort(qid_arr, kind="stable")
        qid_sorted = qid_arr[q_order]
        for pdf_b in batches:
            if not len(pdf_b):
                continue
            ids = pdf_b["vec_id"].to_numpy().astype("int64")
            Xb = np.stack(pdf_b["embedding"].to_numpy()).astype("float64")
            Xb = Xb / np.maximum(np.linalg.norm(Xb, axis=1, keepdims=True), 1e-12)
            Xs = Xb.reshape(len(Xb), m, sub)
            codes = np.empty((len(Xb), m), dtype=np.int64)
            for j in range(m):
                d2 = ((Xs[:, j, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
            # ADC via reconstruction: Σ_j q_sub[j]·B[j, code_j] is
            # EXACTLY q · decoded(codes), so decode the codes into a
            # (rows × D) centroid matrix (3 MB) and run ONE BLAS GEMM —
            # the per-subspace LUT gather formulation materialized m
            # full (Q × rows) float arrays per batch (~6 GB of memory
            # traffic at a 200k/8k replica; measured 304 s vs 61 s for
            # this pass as a GEMM)
            dec = np.empty((len(Xb), m * sub))
            for j in range(m):
                dec[:, j * sub : (j + 1) * sub] = B[j][codes[:, j]]
            decT = np.ascontiguousarray(dec.T)
            # self-match mask via searchsorted + ONE argpartition per
            # query block (a per-query Python loop that also yielded
            # one tiny DataFrame per query was the measured bottleneck
            # in the cosine twin — see _vectorized_topk_partials).
            # Query-block chunking keeps the score matrix ~rows × 2k
            # doubles: with an unchunked Q × rows block, 32 concurrent
            # workers each fault ~1 GB of fresh pages and the first
            # pass crawls (measured 354 s vs 18 s re-run at a
            # 200k/8k replica).
            pos = np.searchsorted(qid_sorted, ids)
            pos_c = np.minimum(pos, len(qid_sorted) - 1)
            self_rows = np.where(qid_sorted[pos_c] == ids)[0]
            self_qrow = q_order[pos_c[self_rows]]
            top_c = min(candidates, len(Xb))
            frames = []
            for lo in range(0, len(qid_arr), 2048):
                hi = min(lo + 2048, len(qid_arr))
                scores = Qn[lo:hi] @ decT
                in_blk = (self_qrow >= lo) & (self_qrow < hi)
                scores[self_qrow[in_blk] - lo, self_rows[in_blk]] = -np.inf
                top = np.argpartition(-scores, top_c - 1, axis=1)[:, :top_c]
                adc = np.take_along_axis(scores, top, axis=1)
                qrow = np.broadcast_to(
                    np.arange(lo, hi)[:, None], (hi - lo, top_c)
                )
                keep = np.isfinite(adc)
                frames.append(pd.DataFrame(
                    {
                        "q_id": qid_arr[qrow[keep]],
                        "c_id": ids[top[keep]],
                        "adc": adc[keep],
                    }
                ))
            yield pd.concat(frames, ignore_index=True)

    partials = embeddings.mapInPandas(gen, "q_id long, c_id long, adc double")
    w = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), "c_id")
    cand = (
        partials.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= candidates)
        .select("q_id", "c_id")
    )
    return _exact_topk_rerank(cand, embeddings, queries, k)


def pq_topk_certified(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    candidates: int = 128,
    min_recall: float = 0.2,
    min_mean_recall: float = 0.6,
) -> DataFrame:
    """PQ ANN CERTIFIED against exact brute force, same contract as
    ivf_topk_certified: per query the exact-top-k cardinality plus
    booleans asserting per-query recall ≥ ``min_recall`` and mean
    recall ≥ ``min_mean_recall``. Floors sit well under the measured
    sf0.01 distribution (candidates=128: mean 0.88; =192: 0.95 —
    random word-salad embeddings are PQ's adversarial case, no cluster
    structure) so regeneration cannot flake them;
    tests/test_similarity_recall pins tighter aggregates. The ANN ids
    depend on the codebooks and stay OUT of the output; the booleans
    are hash-covered, so the cross-engine check also proves the bound.

    Verification query (runs BOTH paths); production uses pq_topk."""
    exact = brute_force_topk(embeddings, queries, k).select("q_id", "c_id")
    ann = pq_topk(embeddings, queries, k, candidates=candidates).select(
        "q_id", "c_id"
    )
    return _recall_certificate(exact, ann, min_recall, min_mean_recall)


def sparse_cosine_pairs(
    documents: DataFrame,
    max_df: int = 100,
    t_num: int = 1,
    t_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse count-vector cosine pairs — the bag-of-words twin of the
    dense embedding pipelines above: documents whose term-frequency
    vectors have cosine ≥ t_num/t_den, found via an inverted-index
    equality join on the shared term (the classic sparse-similarity
    plan), never a dense all-pairs product.

    Exactness: dot products and squared norms are BIGINT sums of tf
    products — order-independent integers — and the threshold test runs
    entirely in integer arithmetic (num²·t_den² ≥ t_num²·‖a‖²·‖b‖²),
    so no float boundary can flip a pair; the reported cosine is one
    double expression over those exact integers.

    Scale: the pair stream is Σ_term df² — terms with df > ``max_df``
    (stopwords: exactly the skew that melts a 100 TB self-join) are
    removed by a broadcast LEFT ANTI on the (tiny) stop list before the
    join, the same bound proven for stop-shingles in
    ``dedup._drop_stop_shingles``. Everything downstream of the explode
    is narrow (doc_id, tok, tf) — text never shuffles.
    """
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    stop = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("tok")
    )
    kept = tf.join(F.broadcast(stop), "tok", "left_anti")
    n2 = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("tf").alias("tf_a")
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("tf").alias("tf_b")
    )
    num = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot_tf"))
    )
    na = n2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2_a"))
    nb = n2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2_b"))
    return (
        num.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.col("dot_tf") * F.col("dot_tf") * F.lit(t_den * t_den)
            >= F.lit(t_num * t_num) * F.col("n2_a") * F.col("n2_b")
        )
        .select(
            "doc_a",
            "doc_b",
            "dot_tf",
            (
                F.col("dot_tf")
                / F.sqrt((F.col("n2_a") * F.col("n2_b")).cast("double"))
            ).alias("cosine"),
        )
    )


def mips_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, margin: int = 8
) -> DataFrame:
    """Exact MAX-INNER-PRODUCT top-k per query (MIPS) — the retrieval
    objective recommender and reranker embeddings actually optimize
    (unnormalized dot, so a vector's magnitude is part of its score —
    cosine deliberately erases exactly that signal).

    Two-phase plan, same shape as brute_force_topk: a vectorized numpy
    scan ranks the raw inner products in double and keeps batch-local
    top-(k+margin) per query (an earlier single-phase formulation
    scored every (q,c) pair with the interpreted ``dot_fold``
    expression inside a crossJoin — N·Q·D interpreted multiply-adds,
    quadratically dominated at corpus scale); the Q·(k+margin)
    survivors are re-scored with the fixed-order double ``dot_fold``
    (bit-identical to the DuckDB ordered-list fold) and re-ranked, so
    the OUTPUT is identical to the pure fold formulation — ``margin``
    absorbs numpy-vs-fold double jitter (~1 ulp relative). Scale path:
    MIPS reduces to cosine ANN by the norm-augmentation transform
    (Shrivastava & Li 2014) — append sqrt(M²−‖x‖²) to candidates and 0
    to queries, then every LSH/IVF/PQ strategy above applies; this
    exact scan is the oracle those would be certified against.
    """
    from pyspark.sql import Window

    partials = _vectorized_topk_partials(
        embeddings, queries, k + margin, normalize=False
    )
    cand = _prune_by_double(partials, k + margin)
    q = queries.select(
        F.col("vec_id").alias("q_id"), as_double(F.col("embedding")).alias("__q")
    )
    c = embeddings.select(
        F.col("vec_id").alias("c_id"), as_double(F.col("embedding")).alias("__c")
    )
    scored = (
        cand.join(c, "c_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "c_id",
            dot_fold(F.col("__q"), F.col("__c")).alias("dot"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "dot", F.col("rk").cast("long").alias("rk"))
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    cells_only: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    k-means cell restriction — the method LLM curation pipelines run
    on embedding spaces where MinHash/SimHash (surface-form) dedup
    misses paraphrases. Within each coarse cell, vectors with cosine
    ≥ ``threshold`` cluster (transitive closure), and ONE keeper
    survives per cluster: the member LEAST similar to its cell
    centroid (the paper's rule — keep the most atypical example),
    ties to the smallest vec_id. Pairs across cells are deliberately
    never examined — that is the method's approximation, which makes
    its cost per-cell-quadratic instead of corpus-quadratic.

    Returns (vec_id, cell, cluster_id, is_keeper, centroid_sim):
    cluster_id is the min vec_id of the near-dup cluster (equal to
    vec_id itself for singletons, which are always keepers).

    Plan shape at 100 TB: the quantizer trains on a bounded
    deterministic sample driver-side (the only data that leaves the
    executors); assignment is one Arrow-batched map; candidate pairs
    come from a per-cell GEMM inside ``applyInPandas`` (state =
    cell_size × D per task — raise ``n_centroids`` ~ √N to bound
    cells, exactly the paper's memory shape) with a loose float
    prefilter funneling into the repo's standard decimal-exact
    verify; clustering is the min-label-propagation connected
    components; keeper election is one max_by aggregate. Nothing
    corpus-quadratic, nothing corpus-sized on the driver.

    ``n_centroids=None`` (default) self-scales to ~√N (one count
    aggregate, capped at 4096): the x100 study (SCALE.md
    round-9(7)) measured a FIXED cell count going per-cell-quadratic
    two decades up (892 s vs 156 s at √N, identical keeper sets)."""
    import math

    import numpy as np
    import pandas as pd

    from .dedup import connected_components

    spark = embeddings.sparkSession
    if embeddings.isEmpty():
        return spark.createDataFrame(
            [],
            "vec_id long, cell long, centroid_sim double"
            if cells_only
            else "vec_id long, cell long, cluster_id long, "
            "is_keeper boolean, centroid_sim double",
        )
    if n_centroids is None:
        n_centroids = max(1, min(4096, int(math.isqrt(embeddings.count()))))
    C = _train_centroids(embeddings, n_centroids)
    bc = spark.sparkContext.broadcast(C)

    def _assign(batches):
        import numpy as _np
        import pandas as _pd

        CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Xn = X / _np.maximum(
                _np.linalg.norm(X, axis=1, keepdims=True), 1e-12
            )
            sims = Xn @ CC.T
            # cell election runs on the SAME 2^-20 lattice as keeper
            # election: a raw-float argmax would let BLAS
            # batch-composition noise flip a near-equidistant vector
            # between two cells across runs/partitionings (changing
            # candidate pairs, hence clusters and keepers — exactly
            # the noise class the lattice exists to defeat). Floor-
            # quantize, then argmax with ties to the LOWER cell index
            # (numpy argmax returns the first maximal index).
            cell = _np.argmax(
                _np.floor(sims * (1 << 20)).astype("int64"), axis=1
            )
            best = sims[_np.arange(len(cell)), cell]
            yield _pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"].to_numpy(),
                    "cell": cell.astype("int64"),
                    "centroid_sim": best.astype("float64"),
                    # election key: floor-quantize onto the repo's
                    # standard 2^-20 lattice so BLAS blocking noise
                    # (batch-composition-dependent last bits) cannot
                    # flip keeper order between runs/partitionings
                    "centroid_sim_q": _np.floor(best * (1 << 20)).astype(
                        "int64"
                    ),
                }
            )

    emb_type = dict(embeddings.dtypes)["embedding"]
    assigned = embeddings.select("vec_id", "embedding").mapInPandas(
        _assign,
        f"vec_id long, embedding {emb_type}, cell long, "
        "centroid_sim double, centroid_sim_q long",
    ).localCheckpoint()

    if cells_only:
        # certify gates / recall studies need only the assignment
        # stage — skip the per-cell GEMM, decimal verify, connected
        # components, and keeper election entirely
        return assigned.select("vec_id", "cell", "centroid_sim")

    thr = threshold

    def _cell_pairs(pdf):
        import numpy as _np
        import pandas as _pd

        if len(pdf) < 2:
            return _pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        X = _np.stack(pdf["embedding"].to_numpy()).astype("float64")
        Xn = X / _np.maximum(_np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        ids = pdf["vec_id"].to_numpy()
        S = Xn @ Xn.T
        iu, ju = _np.triu_indices(len(ids), 1)
        # loose float prefilter; the decimal verify applies the true
        # threshold so float slop can only ADD candidates, never drop
        keep = S[iu, ju] >= thr - 1e-6
        a, b = ids[iu[keep]], ids[ju[keep]]
        lo, hi = _np.minimum(a, b), _np.maximum(a, b)
        return _pd.DataFrame({"vec_a": lo, "vec_b": hi})

    cand = assigned.groupBy("cell").applyInPandas(
        _cell_pairs, "vec_a long, vec_b long"
    )
    pairs = _verify_pairs_exact(cand, embeddings, threshold).select(
        "vec_a", "vec_b"
    )
    comps = connected_components(pairs, src="vec_a", dst="vec_b")
    labeled = assigned.drop("embedding").join(
        comps.select(
            F.col("node").alias("vec_id"), F.col("comp").alias("cluster_id")
        ),
        "vec_id",
        "left",
    ).withColumn("cluster_id", F.coalesce("cluster_id", "vec_id"))
    keepers = labeled.groupBy("cluster_id").agg(
        F.min_by(
            "vec_id", F.struct(F.col("centroid_sim_q"), F.col("vec_id"))
        ).alias("__keeper")
    )
    return (
        labeled.join(keepers, "cluster_id")
        .select(
            "vec_id",
            "cell",
            "cluster_id",
            (F.col("vec_id") == F.col("__keeper")).alias("is_keeper"),
            "centroid_sim",
        )
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column —
    the 4x compression every vector store applies before ANN: per
    vector, scale s = max|x_i| and q_i = floor(x_i·127/s + 0.5)
    (round-half-up, identical in IEEE doubles on both engines; the
    input floats widen exactly). Emits the quantized vector pinned
    BY CONTENT (md5 of the comma-joined ints — the full vector, not
    a summary), the scale, and two certificates:

    * ``cert_int8`` — every q_i fits int8 (|q| ≤ 127, true by
      construction: x = ±s rounds to ±127);
    * ``cert_err`` — max reconstruction error ≤ s/254 up to one
      2^-20 lattice tick (the mathematical bound of round-to-nearest
      with FP-rounding slack, measured on the lattice so the
      comparison is integer-deterministic).

    One projection, no shuffle, no UDF: codegen HOF lambdas over the
    array — map-only at any scale. Zero vectors quantize to all-zero
    with scale 0 and vacuously true certificates."""
    e = F.col("embedding")
    xd = lambda x: x.cast("double")  # noqa: E731 — exact float widening
    s_col = F.array_max(F.transform(e, lambda x: F.abs(xd(x))))
    staged = embeddings.select("vec_id", "embedding", s_col.alias("scale"))
    s = F.col("scale")

    def _q(x: Column) -> Column:
        return F.when(s == 0.0, F.lit(0.0)).otherwise(
            F.floor(xd(x) * 127.0 / s + 0.5)
        )

    q_arr = F.transform(e, lambda x: _q(x).cast("int"))
    err_q20 = F.array_max(
        F.transform(
            e,
            lambda x: F.when(s == 0.0, F.lit(0).cast("long")).otherwise(
                F.floor(
                    F.abs(_q(x) * s / 127.0 - xd(x)) * 254.0 / s
                    * 1048576.0
                ).cast("long")
            ),
        )
    )
    return staged.select(
        "vec_id",
        F.size(e).cast("long").alias("n_dims"),
        "scale",
        F.md5(F.array_join(q_arr, ",")).alias("q_md5"),
        F.aggregate(
            q_arr, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_q"),
        F.array_max(F.transform(q_arr, F.abs)).alias("max_abs_q"),
        err_q20.alias("max_err_scaled_q20"),
        (
            F.array_max(F.transform(q_arr, F.abs)) <= F.lit(127)
        ).alias("cert_int8"),
        (err_q20 <= F.lit(1048577)).alias("cert_err"),
    )
