"""Deduplication operators for large-scale text corpora (north-star
surface): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Portability: every hash is built from ``md5`` (identical on any
engine). MinHash uses the lexicographic minimum of ``md5(seed|shingle)``
per seed — a valid random-permutation min-hash with zero
engine-specific numerics.

Scale design:
  * exact dedup = one hash-shuffle on the content hash (not the text);
  * shingle→join pipelines shuffle on the shingle key; hot shingles
    (stopword bigrams) are the skew risk at 100 TB, so the candidate
    join supports a document-frequency cap that drops
    everywhere-shingles before the self-join (``max_df``) — standard
    practice and the difference between O(n²) and near-linear;
  * LSH banding turns all-pairs similarity into equality joins on
    band keys: only same-bucket pairs are verified with exact Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import index_store
from ..caching import scoped_persist

# auto-strategy bounds for the bitmap Jaccard path (see
# ngram_jaccard_pairs): vocab must fit a flat per-doc bitmap (width =
# vocab/64 long COLUMNS — kept small enough for whole-stage codegen),
# and the all-pairs loop must stay within a few 1e9 popcount words.
_BITMAP_MAX_VOCAB = 1 << 13
_BITMAP_MAX_DOCS = 1 << 15


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup by content hash: keeper = min doc_id per text.
    Hashing first keeps the shuffle narrow (32-byte keys, not documents)."""
    return (
        documents.select("doc_id", F.md5(F.col("text").cast("binary")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(documents: DataFrame, n: int = 2) -> DataFrame:
    """Distinct word n-gram shingles per document, built array-side
    (one pass, no per-row Python): tokens[i..i+n-1] joined by space.

    n=2 runs as a single zip_with over the array and its shift —
    ~10× faster than indexing each position with element_at inside a
    transform(sequence(...)) (measured at sf0.1: 0.6 s vs 6 s)."""
    # materialize the token array in a projection FIRST: an expression
    # referenced inside a higher-order-function lambda is NOT common-
    # subexpression-eliminated across elements, so embedding split()
    # in the lambda re-tokenizes the document once per position —
    # O(len²) work (measured 3× wall on repeated_spans at sf0.1).
    base = documents.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("__tk")
    )
    toks = F.col("__tk")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    if n == 2:
        z = F.zip_with(
            toks,
            F.slice(toks, 2, m),
            lambda x, y: F.concat_ws(" ", x, y),
        )
        grams = F.slice(z, 1, m)
    else:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
    return base.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def shingle_bitmaps(sh: DataFrame, n_vocab: int | None = None) -> tuple[DataFrame, int]:
    """Per-document shingle-set BITMAP over a dense shingle dictionary:
    (doc_id, n_shingles, w0..w{width-1} long columns). Intersection
    sizes become popcounts of ANDed words — flat columns keep every
    expression inside whole-stage codegen (array higher-order functions
    are interpreted and allocate per row — measurably slower).

    The dictionary is built with a global row_number over the distinct
    shingles — a single-partition sort of *vocabulary-sized* data (the
    caller guarantees vocab ≤ _BITMAP_MAX_VOCAB), never of the corpus.
    Returns (docs, width). Pass ``n_vocab`` when the caller already
    counted the vocabulary (the auto-strategy did) to skip a recount.
    """
    vocab = sh.select("shingle").distinct()
    if n_vocab is None:
        n_vocab = vocab.count()
    ids = vocab.select(
        "shingle",
        (F.row_number().over(Window.orderBy("shingle")) - 1).alias("sid"),
    )
    width = max(1, (n_vocab + 63) // 64)
    # shiftleft() takes only a literal shift — use a 64-entry power-of-
    # two lookup instead (bit 63 is the sign bit: two's complement)
    pow2 = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
    )
    word = (F.col("sid") / 64).cast("int")
    bit = F.element_at(pow2, (F.col("sid") % 64).cast("int") + 1)
    zero = F.lit(0).cast("long")
    docs = (
        sh.join(F.broadcast(ids), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            *[
                F.bit_or(F.when(word == w, bit).otherwise(zero)).alias(f"w{w}")
                for w in range(width)
            ],
        )
    )
    return docs, width


def _popcount_common(width: int, a_prefix: str = "a_w", b_prefix: str = "b_w") -> Column:
    """Unrolled Σ popcount(a_wi & b_wi) — width fixed at plan time, all
    built-ins, fully codegen'd."""
    terms = [
        F.bit_count(F.col(f"{a_prefix}{i}").bitwiseAND(F.col(f"{b_prefix}{i}")))
        for i in range(width)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _bitmap_sides(docs: DataFrame, width: int) -> tuple[DataFrame, DataFrame]:
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_shingles").alias("na"),
        *[F.col(f"w{i}").alias(f"a_w{i}") for i in range(width)],
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_shingles").alias("nb"),
        *[F.col(f"w{i}").alias(f"b_w{i}") for i in range(width)],
    )
    return a, b


def _bitmap_pair_counts(sh: DataFrame, n_vocab: int | None = None) -> DataFrame:
    """All-pairs intersection counts via bitmap popcount — the shared
    engine under the bitmap Jaccard and containment paths. Right for
    DENSE corpora (small vocabulary, most pairs overlapping), where
    candidate pruning is useless and the shingle self-join's pair
    stream (Σ df²) dwarfs the N² popcount loop. Both sides
    broadcast-or-scan; no shuffle at all beyond the per-doc groupBy.

    The per-doc bitmap frame is persisted before fanning into the two
    join sides — it is corpus-cardinality-sized (one short row per doc,
    the caller bounds docs at _BITMAP_MAX_DOCS) and would otherwise be
    rebuilt once per side (stream + broadcast)."""
    docs, width = shingle_bitmaps(sh, n_vocab)
    docs = scoped_persist(docs)
    a, b = _bitmap_sides(docs, width)
    return (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .withColumn("n_common", _popcount_common(width))
        .filter(F.col("n_common") > 0)
        .select("doc_a", "doc_b", "n_common", "na", "nb")
    )


def _bitmap_jaccard_pairs(
    sh: DataFrame, threshold: float, n_vocab: int | None = None
) -> DataFrame:
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        _bitmap_pair_counts(sh, n_vocab)
        .select("doc_a", "doc_b", "n_common", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def default_max_df(n_docs: int) -> int:
    """Skew cap the join strategy applies when ``max_df="auto"``:
    ``max(1000, 1% of corpus)``. Any corpus under 1000 docs is never
    capped (exact output), and at web scale a stop-shingle present in
    every document is dropped instead of emitting |corpus|² pairs."""
    return max(1000, n_docs // 100)


def _drop_stop_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop everywhere-shingles (``df > max_df``) via a broadcast
    LEFT ANTI join against the STOP list — the provably tiny side.

    The stop list has at most ``total_shingle_rows / max_df`` distinct
    shingles (each stop shingle accounts for > max_df rows), so it
    broadcasts at any corpus scale. Broadcasting the KEPT list instead
    — the obvious inner-join formulation — is vocabulary-sized
    (billions of shingles at 100 TB) and OOMs every executor; the two
    formulations keep exactly the same rows."""
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    stop = df_counts.filter(F.col("df") > max_df).select("shingle")
    return sh.join(F.broadcast(stop), "shingle", "left_anti")


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    max_df: int | str | None = "auto",
    strategy: str = "auto",
    n_docs_hint: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity.

    Two physical strategies, same exact result:
      * ``join`` — shingle self-join + grouped intersection counts;
        right for SPARSE corpora (big vocabulary, rare overlaps) where
        the pair stream Σ df² stays near-linear. ``max_df`` drops
        shingles present in more than that many documents before the
        self-join — the skew guard for web-scale corpora (a shingle in
        every document would otherwise produce |corpus|² pairs).
        Default ``"auto"`` caps at ``default_max_df(n_docs)`` (never
        binding under 1000 docs); pass ``max_df=None`` for exact
        uncapped semantics regardless of corpus shape.
      * ``bitmap`` — per-doc shingle bitset, popcount over ANDed words;
        right for DENSE corpora (small vocabulary), where Σ df² ≈
        |docs|²·|avg set| makes the join plan quadratic-with-a-shuffle
        while the bitmap plan is quadratic-in-codegen with no shuffle.
      * ``auto`` — two count jobs pick: bitmap iff vocab and corpus fit
        the bitmap bounds.
    """
    sh = shingles(documents, n)
    n_vocab = None
    n_docs = None
    if strategy == "auto":
        # corpus size short-circuits BEFORE any shingle materialization:
        # a web-scale corpus never pays the vocab count. A small corpus
        # caches the (small) shingle frame — the downstream plan scans
        # it 3-4× (vocab, dictionary, sizes, join/bitmap build).
        # callers that already know their corpus size (catalog stats,
        # an upstream count) pass n_docs_hint and skip the extra job.
        n_docs = documents.count() if n_docs_hint is None else int(n_docs_hint)
        if n_docs <= _BITMAP_MAX_DOCS:
            sh = scoped_persist(sh)
            n_vocab = sh.select("shingle").distinct().count()
            strategy = "bitmap" if n_vocab <= _BITMAP_MAX_VOCAB else "join"
        else:
            strategy = "join"
    if strategy == "bitmap":
        return _bitmap_jaccard_pairs(sh, threshold, n_vocab)
    if max_df == "auto":
        if n_docs is None:
            n_docs = documents.count() if n_docs_hint is None else int(n_docs_hint)
        max_df = default_max_df(n_docs)
    if max_df is not None:
        sh = _drop_stop_shingles(sh, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            jac.cast("double").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    documents: DataFrame,
    n: int = 2,
    threshold: float = 0.8,
    max_df: int | str | None = "auto",
    strategy: str = "auto",
    n_docs_hint: int | None = None,
) -> DataFrame:
    """Directed shingle CONTAINMENT — the subset-duplication detector
    Jaccard structurally misses: a short document fully embedded in a
    long one has containment 1.0 but Jaccard ≈ |short|/|long| ≈ 0
    (quotes, boilerplate wrappers, excerpt pages — all common in web
    corpora). Emits pairs where either direction's containment
    |A∩B| / |A| clears the threshold, with both directions reported so
    the caller can keep the superset doc and drop the contained one.

    Same dual physical strategy as ngram_jaccard_pairs, same exact
    result: ``bitmap`` popcount for dense/small corpora (a dense
    corpus makes the shingle self-join's Σ df² stream quadratic —
    measured 25× slower than the bitmap at sf0.1), the df-capped
    shingle equi-join for sparse web-scale ones; ``auto`` picks by the
    same vocab/corpus bounds. The two divisions are per-pair
    projections either way."""
    sh = shingles(documents, n)
    n_vocab = None
    n_docs = None
    if strategy == "auto":
        # callers that already know their corpus size (catalog stats,
        # an upstream count) pass n_docs_hint and skip the extra job.
        n_docs = documents.count() if n_docs_hint is None else int(n_docs_hint)
        if n_docs <= _BITMAP_MAX_DOCS:
            sh = scoped_persist(sh)
            n_vocab = sh.select("shingle").distinct().count()
            strategy = "bitmap" if n_vocab <= _BITMAP_MAX_VOCAB else "join"
        else:
            strategy = "join"
    c_a = (F.col("n_common") / F.col("na")).cast("double")
    c_b = (F.col("n_common") / F.col("nb")).cast("double")
    keep = F.greatest(c_a, c_b) >= threshold
    if strategy == "bitmap":
        return (
            _bitmap_pair_counts(sh, n_vocab)
            .select(
                "doc_a",
                "doc_b",
                "n_common",
                c_a.alias("containment_a"),
                c_b.alias("containment_b"),
            )
            .filter(keep)
        )
    if max_df == "auto":
        if n_docs is None:
            n_docs = documents.count() if n_docs_hint is None else int(n_docs_hint)
        max_df = default_max_df(n_docs)
    if max_df is not None:
        sh = _drop_stop_shingles(sh, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(keep)
    )


def minhash_signatures_wide(documents: DataFrame, k: int = 8, n: int = 2) -> DataFrame:
    """MinHash signatures, one row per doc: (doc_id, mh_0..mh_{k-1}).
    All k hashes are projected per shingle row and min-aggregated in
    ONE groupBy — partial (map-side) mins shrink the shuffle to one
    k-column row per doc per partition, vs. the naive seed cross-join
    which shuffles k× the shingle stream."""
    return _minhash_wide(shingles(documents, n), k).drop("n_shingles")


def _minhash_wide(sh: DataFrame, k: int) -> DataFrame:
    """One groupBy producing the k min-hashes AND the per-doc shingle
    count — callers that need both (LSH verification) get them from a
    single Exchange instead of two full aggregations over the shingle
    stream."""
    return sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")).cast("binary"))
            ).alias(f"mh_{i}")
            for i in range(k)
        ]
    )


def minhash_signatures(documents: DataFrame, k: int = 8, n: int = 2) -> DataFrame:
    """Narrow form (doc_id, seed, minhash) — unpivot of the wide
    signature, kept for API parity with the row-per-seed formulation."""
    wide = minhash_signatures_wide(documents, k, n)
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("seed"), F.col(f"mh_{i}").alias("minhash"))
            for i in range(k)
        ]
    )
    return wide.select("doc_id", F.explode(pairs).alias("s")).select(
        "doc_id", F.col("s.seed"), F.col("s.minhash")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 2,
    threshold: float = 0.5,
    strategy: str = "auto",
) -> DataFrame:
    """MinHash-LSH near-dup: band the k-wide signature into ``bands``
    buckets (r = k/bands values each); docs sharing any band bucket are
    candidates; candidates are verified with exact Jaccard and filtered
    at ``threshold``. Each stage is an equi-join — no all-pairs scan.
    ``strategy`` picks the verification plan (see ngram_jaccard_pairs).
    """
    # ONE shingle frame feeds signatures and verification (persisted:
    # two full scans+reshingles otherwise), and ONE groupBy yields the
    # signatures AND the per-doc sizes the verify stage needs. The
    # signature frame is corpus-cardinality but short (k hashes/row)
    # and spill-backed (MEMORY_AND_DISK default) — cheaper at every
    # scale than recomputing the min-hash aggregation per subtree.
    sh = scoped_persist(shingles(documents, n))
    sig = scoped_persist(_minhash_wide(sh, k))
    # band hashes are a PURE PROJECTION off the wide signature row — no
    # second shuffle for banding (the row-per-seed formulation needs a
    # groupBy(doc_id, band) here); shared with incremental_neardup
    band_key = _band_keys(sig, k, bands)
    a = band_key.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    b = band_key.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    candidates = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify ONLY candidates — never the all-pairs join; that is the
    # point of LSH. Verification is near-linear in the candidate count
    # whichever plan runs, so auto resolves to the shingle-intersect
    # join (no bitmap build, no extra count jobs); 'bitmap' remains an
    # explicit option for candidate-dense corpora.
    if strategy == "auto":
        strategy = "join"
    if strategy == "bitmap":
        docs, width = shingle_bitmaps(sh)
        av, bv = _bitmap_sides(docs, width)
        jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
        return (
            candidates.join(F.broadcast(av), "doc_a")
            .join(F.broadcast(bv), "doc_b")
            .withColumn("n_common", _popcount_common(width))
            .filter(F.col("n_common") > 0)
            .select("doc_a", "doc_b", jac.cast("double").alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """Per-document SimHash over distinct tokens: bit j of each token's
    md5 votes ±1 (parity of hex char j); the sign of the vote sum forms
    signature bit j. Portable: ascii/substr/md5 only.

    One explode + one grouped sum — the per-bit loop happens array-side
    in a single projection, not as ``bits`` passes over the data.
    """
    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), r"\s+"))).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok").cast("binary")))
    votes = toks.select(
        "doc_id",
        *[
            (
                (F.ascii(F.substring("h", j + 1, 1)) % 2) * 2 - 1
            ).alias(f"v{j}")
            for j in range(bits)
        ],
    )
    summed = votes.groupBy("doc_id").agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(bits)]
    )
    sig = summed.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(bits)
            ],
            F.lit(0),
        )
        .cast("long")
        .alias("simhash"),
    )
    return sig


def simhash_pairs(
    signatures: DataFrame, bits: int = 32, max_distance: int = 3
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance over SimHash
    signatures — the dedup step that turns the fingerprint into
    clusters. Banded, never all-pairs: the ``bits`` positions are
    partitioned into ``max_distance + 1`` disjoint bands (pigeonhole:
    two signatures within the distance budget must agree on at least
    one FULL band), candidates come from an equi-join on (band index,
    band value) — the same bucket-join shape as MinHash-LSH and the
    image phash_pairs — and are verified with one XOR + bit_count.

    All codegen, one band-keyed shuffle; survives a web-scale corpus
    where the O(n²) self-join cannot. Expected candidate volume per
    band is Σ(bucket_df²) over 2^width buckets — width 8 at the
    defaults, so skew needs ~2^8 docs PER BUCKET before a hot bucket
    forms (AQE skew-split handles the pathological all-identical
    corpus)."""
    nbands = max_distance + 1
    base, extra = divmod(bits, nbands)
    bounds, start = [], 0
    for k in range(nbands):
        w = base + (1 if k < extra else 0)
        bounds.append((start, w))
        start += w
    banded = signatures.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), s).bitwiseAND(
                        F.lit((1 << w) - 1)
                    )
                    for s, w in bounds
                ]
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "band",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        "band",
        "band_val",
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_distance)
    )


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over an undirected pair list by min-label
    propagation: (node, comp) where comp converges to the smallest node
    id in the component — the GraphX/GraphFrames algorithm expressed as
    DataFrame joins, so near-dup PAIRS become dedup CLUSTERS.

    Iteration is driver-coordinated (one job per round, the MLlib
    pattern); round count = graph diameter, small for near-dup graphs
    (clusters are near-cliques, so 2-3 rounds in practice). Each round
    shuffles one (node, label) stream into a min-groupBy — map-side
    partial mins keep it at one row per node per partition. Lineage is
    truncated per round with localCheckpoint so the plan stays flat in
    the iteration count. Labels decrease monotonically, so the global
    label sum is a convergence certificate: one scalar aggregate per
    round, no join against the previous state.
    """
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    prev = labels.agg(F.sum("comp")).first()[0]
    for _ in range(max_iter):
        prop = edges.join(labels, F.col("a") == F.col("node")).select(
            F.col("b").alias("node"), F.col("comp")
        )
        labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        cur = labels.agg(F.sum("comp")).first()[0]
        if cur == prev:
            break
        prev = cur
    return labels


def neardup_clusters(
    documents: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cluster assignment for EVERY document: (doc_id, cluster_id,
    is_keeper) — paired docs get their component's min id, singletons
    get themselves. The component frame covers only paired docs (tiny
    next to a web corpus), joined back to the full corpus; is_keeper
    marks the one representative kept per cluster."""
    comp = connected_components(pairs)
    return (
        documents.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "is_keeper", (F.col(id_col) == F.col("cluster_id")).cast("long")
        )
    )


def neardup_dedup(
    documents: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The actual dedup: documents minus non-representatives. Losers
    (comp < node) anti-join the corpus — the corpus itself never
    shuffles, only the loser id list does."""
    losers = (
        connected_components(pairs)
        .filter(F.col("comp") != F.col("node"))
        .select(F.col("node").alias(id_col))
    )
    return documents.join(losers, id_col, "left_anti")


def cluster_canonical(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Retention policy on top of near-dup clustering: per cluster keep
    the HIGHEST-QUALITY member, not the smallest id — (doc_id,
    cluster_id, canonical_id, is_canonical) for every document. This is
    the step real pretraining dedup runs after transitive closure
    (``neardup_clusters`` keeps min-id; curation wants argmax quality,
    tie-broken by min id for determinism).

    Shape: cluster labels come from the pair graph only (tiny next to
    the corpus); the representative is a single ``max_by`` aggregate
    over (quality, −id) — map-side partial argmax, one narrow shuffle
    keyed by cluster_id, then a broadcast-sized join back. No window
    over per-doc singleton partitions, so it holds at corpus scale
    where almost every cluster has one member. Extends the reference's
    key-equality dedup (STG.py:102-110) with a quality-aware keep rule.
    """
    clustered = neardup_clusters(
        documents.select(id_col), pairs, id_col
    ).join(documents.select(id_col, quality_col), id_col)
    reps = clustered.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(quality_col), (-F.col(id_col)).alias("neg_id")),
        ).alias("canonical_id")
    )
    return (
        clustered.join(reps, "cluster_id")
        .select(
            F.col(id_col),
            "cluster_id",
            "canonical_id",
            (F.col(id_col) == F.col("canonical_id")).cast("long").alias(
                "is_canonical"
            ),
        )
    )


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, n: int = 3
) -> DataFrame:
    """Benchmark decontamination: drop every document sharing ANY word
    n-gram with the benchmark corpus — the standard guard against eval
    leakage into a pretraining set.

    Shape: benchmark shingles are a distinct projection (benchmarks are
    tiny next to the corpus) BROADCAST into a semi-join against the
    corpus shingle stream; the contaminated id list then anti-joins the
    corpus. The corpus itself never shuffles — only its shingle stream
    scans once and the (small) contaminated id set moves. Default n=3:
    trigram overlap is the common contamination test."""
    doc_sh = shingles(documents, n)
    bench_sh = shingles(benchmark, n).select("shingle").distinct()
    contaminated = (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return documents.join(contaminated, "doc_id", "left_anti")


def chunk_dedup(
    documents: DataFrame, chunk: int = 64
) -> DataFrame:
    """Chunk-level (paragraph-style) dedup: split every document into
    NON-overlapping ``chunk``-token windows, content-hash each, and
    mark every repetition of a chunk already seen elsewhere — the
    boilerplate-paragraph remover of training-data pipelines (the
    chunk-granular practical cousin of substring dedup à la
    "Deduplicating Training Data Makes Language Models Better").

    Keeper = lexicographically first (doc_id, chunk_id) per content
    hash, so output is deterministic. One groupBy on the 32-byte hash —
    shuffle volume is |chunks| narrow rows regardless of text size."""
    from .curate import chunk_documents

    ch = chunk_documents(documents, chunk=chunk, stride=chunk)
    hashed = ch.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )
    firsts = hashed.groupBy("chunk_md5").agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("first"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return (
        hashed.join(firsts, "chunk_md5")
        .select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            "chunk_md5",
            "n_copies",
            (
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("chunk_id") == F.col("first.chunk_id"))
            ).alias("is_keeper"),
        )
    )


def minhash_estimate_certify(
    documents: DataFrame,
    k: int = 64,
    n: int = 2,
    threshold: float = 0.2,
    bound: float = 0.35,
) -> DataFrame:
    """Certify the MinHash ESTIMATOR, not just the pipeline around it:
    for every above-threshold pair, the signature-agreement estimate
    Ĵ = (#agreeing of k hashes)/k must sit within ``bound`` of the
    exact shingle Jaccard. Hoeffding gives P(|Ĵ−J| > 0.35) ≤
    2·exp(−2·64·0.35²) ≈ 3·10⁻⁷ per pair at k=64 — and the md5-based
    hashes are deterministic, so the emitted verdict is a fixed,
    hash-checkable value, never a flaky sample.

    Scale: the pair set is the (already candidate-bounded) Jaccard
    stream, and the k-wide signatures are computed ONLY for documents
    that appear in a pair — a semi-join prunes the corpus before the
    k-hash projection (measured 3× end-to-end at sf1: most documents
    have no above-threshold partner, so signing them is pure waste).
    Signatures attach via two doc-keyed hash joins; agreement counting
    is a k-term codegen sum per pair — no extra shuffle beyond the
    joins.

    The exact side runs UNFILTERED (``max_df=None``): the signatures
    hash every shingle, so certifying them against a df-capped Jaccard
    would compare two different statistics and break the bound exactly
    when the cap binds (web-scale corpora with boilerplate shingles).
    Certification is a bounded diagnostic pass, not the production
    dedup path — the uncapped pair stream is acceptable there."""
    pairs = scoped_persist(
        ngram_jaccard_pairs(documents, n=n, threshold=threshold, max_df=None)
    )
    pair_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sigs = minhash_signatures_wide(
        documents.join(pair_ids, "doc_id", "left_semi"), k=k, n=n
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh_{i}").alias(f"__a{i}") for i in range(k)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh_{i}").alias(f"__b{i}") for i in range(k)]
    )
    n_agree = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0) for i in range(k)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_agree.cast("long").alias("n_agree"),
            (F.abs(n_agree / F.lit(float(k)) - F.col("jaccard")) <= F.lit(bound)).alias(
                "est_ok"
            ),
        )
    )


def incremental_dedup(
    history: DataFrame, batch: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Production dedup is INCREMENTAL: a new crawl batch lands against
    a corpus that was already deduplicated, and only rows that are new
    both against history AND within their own batch survive. Returns
    the surviving batch rows' (doc_id, content_md5).

    Scale shape: both sides collapse to 32-byte content hashes before
    any join (the text never shuffles); history participates ONLY as
    its distinct hash set — one narrow anti-join on the hash key, the
    same plan at 1 GB or 100 TB of history (at the high end the
    history hash set is a fraction of corpus bytes and can be a
    pre-materialized bucketed table, making the anti-join co-located).
    In-batch survivors keep the minimum doc_id, consistent with
    exact_dedup's keeper rule."""
    h = history.select(
        F.md5(F.col(text_col).cast("binary")).alias("content_md5")
    ).distinct()
    b = batch.select(
        "doc_id", F.md5(F.col(text_col).cast("binary")).alias("content_md5")
    )
    return (
        b.join(h, "content_md5", "left_anti")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_md5")
    )


def _band_keys(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band, band_hash) off a WIDE signature row — a pure
    projection, no extra shuffle (shared by minhash_lsh_pairs and
    incremental_neardup)."""
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col(f"mh_{i}") for i in range(b * r, (b + 1) * r)],
                    ).cast("binary")
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def _cap_band_buckets(hband: DataFrame, max_bucket: int) -> DataFrame:
    """Bound a history band table at <= ``max_bucket`` representative
    doc_ids per (band, band_hash) — the guard against the quadratic
    LSH hazard: a page with 10^8 corpus copies puts every copy in the
    SAME band bucket, so an uncapped candidate join emits
    batch_hits x 10^8 pairs. Representatives are salt-partitioned
    MINIMA (group by (band, band_hash, hash(doc_id) mod max_bucket),
    keep the min id): a map-side-combinable aggregate, so the mega
    bucket itself collapses to <= max_bucket partial rows per input
    partition and never funnels one reducer. Deterministic, and the
    bucket's global-min doc_id always survives (it is the minimum of
    its own salt group), so capped keeper/match elections keep their
    min-id answers. Recall contract: buckets at or under max_bucket
    members MAY still drop some (salt collisions keep only the
    per-salt min) — the cap is an explicit approximation knob, off
    by default. The salt is the module's PORTABLE md5 bucket (first
    8 hex chars of md5('bucketcap|id')), not xxhash64, so a DuckDB
    oracle replays capped results bit-for-bit
    (d_incremental_neardup_capped)."""
    salt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bucketcap|"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % max_bucket
    )
    return (
        hband.groupBy("band", "band_hash", salt.alias("__s"))
        .agg(F.min("doc_id").alias("doc_id"))
        .drop("__s")
    )


def incremental_neardup(
    history: DataFrame,
    batch: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    max_broadcast_ids: int = 5_000_000,
) -> DataFrame:
    """Incremental NEAR-dup: a new crawl batch lands against an
    already-deduplicated corpus, and each batch document is checked
    for near-duplicates IN HISTORY via MinHash-LSH banding (the
    production posture for continuously-arriving data — Dolma/
    RefinedWeb rerun exact hashes incrementally but near-dup against
    the full back-corpus is the expensive step this operator bounds;
    cf. ``incremental_dedup`` for the exact-hash twin). Per batch
    document: ``n_candidates`` (distinct history docs sharing any
    band bucket), ``best_jaccard`` (max exact Jaccard over those
    candidates; NULL when no candidate), ``match_doc_id`` (min
    history doc_id among candidates with Jaccard >= ``threshold``),
    and ``is_neardup``. Every batch row appears in the output —
    shingle-less docs (under n tokens) simply carry zero candidates.

    Scale shape — why this works against 100 TB of history:
    * history participates ONLY through its band table (k/bands
      hashes -> one 32-byte key per band per doc) and its shingle
      index; in production BOTH are pre-materialized once (bucketed
      by band_hash / doc_id) and appended per batch, so the
      per-batch cost never rescans history text;
    * candidate generation is a banded equi-join of the BATCH band
      table (batch-sized) against the history band table — never an
      all-pairs scan;
    * exact-Jaccard verification touches only candidate docs: the
      candidate id sets (bounded by batch_size x bands x bucket
      occupancy) broadcast-semi-join both shingle tables down BEFORE
      any shuffle, so history shingles are pruned at the scan, not
      exchanged (with a bucketed index this is a partition-pruned
      read);
    * the verify join shuffles only candidate shingles on the
      shingle key; the per-batch-doc rollup keys on doc_id.
    Deterministic md5 min-hashing throughout (the module contract),
    so a SQL oracle replays signatures, bands, candidates, Jaccard,
    and flags bit-for-bit.

    ``max_bucket`` (default None = exact) bounds candidate volume per
    band bucket via ``_cap_band_buckets`` — the guard for the one
    quadratic hazard LSH banding has at crawl scale: a mega-
    duplicated page whose copies all share every bucket. Capped runs
    keep the min-id member of every bucket, so ``match_doc_id``
    answers are preserved for docs matching a capped bucket.
    """
    bsh = scoped_persist(shingles(batch, n))
    hsh = scoped_persist(shingles(history, n))
    bsig = scoped_persist(_minhash_wide(bsh, k))
    hsig = scoped_persist(_minhash_wide(hsh, k))
    hband = _band_keys(hsig, k, bands)
    if max_bucket is not None:
        hband = _cap_band_buckets(hband, max_bucket)
    return _neardup_against(
        batch,
        bsh,
        bsig,
        hband,
        hsh,
        hsig.select("doc_id", "n_shingles"),
        k,
        bands,
        threshold,
        max_broadcast_ids=max_broadcast_ids,
    )


def _neardup_against(
    batch: DataFrame,
    bsh: DataFrame,
    bsig: DataFrame,
    hband: DataFrame,
    hsh: DataFrame,
    hsz: DataFrame,
    k: int,
    bands: int,
    threshold: float,
    max_broadcast_ids: int = 5_000_000,
) -> DataFrame:
    """Candidate generation + verification + per-batch-doc rollup
    against ARBITRARY history-side inputs — computed in-flight by
    ``incremental_neardup`` or loaded from a persisted index by
    ``neardup_index_search`` (the two paths are row-identical by
    construction and pinned so by pytest).

    Candidate-id pruning auto-routes (the same
    probe-then-route shape as similarity.ivf_index_search): the
    candidate PAIR count is size-probed with a bounded
    ``limit(max_broadcast_ids+1).count()`` on the already-persisted
    pair table — at most threshold+1 rows of work however large the
    set is, and the pair count upper-bounds both distinct-id sets.
    Under the threshold the id sets broadcast into the two shingle
    semi-joins (map-side pruning, the common case: ids are 8-byte
    longs, 5M ≈ 40 MB); above it the broadcast hint is dropped and
    the semi-joins run as shuffle joins — the id sets at that size
    would OOM the driver as broadcasts, and a shuffle semi-join of
    two id-keyed tables is the plan you want anyway."""
    cand = (
        _band_keys(bsig, k, bands)
        .select(F.col("doc_id").alias("batch_id"), "band", "band_hash")
        .join(
            hband.select(
                F.col("doc_id").alias("hist_id"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .select("batch_id", "hist_id")
        .distinct()
    )
    cand = scoped_persist(cand)
    small = (
        cand.limit(max_broadcast_ids + 1).count() <= max_broadcast_ids
    )

    def _ids(side: str) -> DataFrame:
        ids = cand.select(F.col(side).alias("doc_id")).distinct()
        return F.broadcast(ids) if small else ids

    bsh_c = bsh.join(_ids("batch_id"), "doc_id", "left_semi").select(
        F.col("doc_id").alias("batch_id"), "shingle"
    )
    hsh_c = hsh.join(_ids("hist_id"), "doc_id", "left_semi").select(
        F.col("doc_id").alias("hist_id"), "shingle"
    )
    inter = (
        cand.join(bsh_c, "batch_id")
        .join(hsh_c, ["hist_id", "shingle"])
        .groupBy("batch_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = bsig.select(
        F.col("doc_id").alias("batch_id"), F.col("n_shingles").alias("na")
    )
    sb = hsz.select(
        F.col("doc_id").alias("hist_id"), F.col("n_shingles").alias("nb")
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    pairs = (
        cand.join(inter, ["batch_id", "hist_id"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .join(sa, "batch_id")
        .join(sb, "hist_id")
        .select(
            "batch_id", "hist_id", jac.cast("double").alias("jaccard")
        )
    )
    rollup = pairs.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.max("jaccard").alias("best_jaccard"),
        F.min(
            F.when(F.col("jaccard") >= F.lit(threshold), F.col("hist_id"))
        ).alias("match_doc_id"),
    )
    return (
        batch.select("doc_id")
        .join(rollup, batch["doc_id"] == rollup["batch_id"], "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            "best_jaccard",
            "match_doc_id",
            F.coalesce(
                F.col("best_jaccard") >= F.lit(threshold), F.lit(False)
            ).alias("is_neardup"),
        )
    )


def neardup_index_build(
    documents: DataFrame,
    path: str,
    k: int = 8,
    bands: int = 4,
    n: int = 2,
    mode: str = "overwrite",
    batch_tag: str | None = None,
) -> str:
    """Build (or, with ``mode='append'``, extend) the PERSISTENT
    near-dup index that makes ``incremental_neardup``'s 100 TB
    posture executable instead of asserted: three parquet tables
    under ``path`` —

    * ``bands``    (doc_id, band, band_hash): one 32-byte key per
      band per doc, the candidate-join side;
    * ``shingles`` (doc_id, shingle): the verification side, read
      candidate-pruned at search time;
    * ``sizes``    (doc_id, n_shingles): union sizes for Jaccard —

    plus a one-row ``meta`` sidecar (k, bands, n) that
    ``neardup_index_search`` validates so an index can never be
    probed with mismatched banding. The per-batch production cycle
    is: search the batch against the index, then APPEND the batch's
    survivors — history text is never rescanned (the cost the
    history-axis sweep in SCALE.md shows dominating when the index is
    rebuilt per batch).

    DURABILITY (``index_store``): every build/append lands under a
    per-batch partition directory (``bands/batch=<tag>/`` ...) and is
    PUBLISHED by its commit marker ``manifest/batch=<tag>`` — the
    last write in the sequence. Searches read ONLY manifest-committed
    batches (partition pruning drops torn ones at the scan), so a
    crashed append is invisible rather than corrupt, and re-running
    an append with the same ``batch_tag`` OVERWRITES its own
    partitions — idempotent replay, which is what the streaming
    deploy's foreachBatch (at-least-once) needs. ``batch_tag``
    defaults to a fresh ``b<uuid4>``; pass a deterministic tag to opt
    into replay-idempotency. Tags are restricted to
    ``[A-Za-z0-9._-]`` WITH at least one ASCII letter
    (``index_store.validate_batch_tag``).

    ``mode='overwrite'`` is a MANIFEST SWAP, not a truncate: the new
    corpus lands under a fresh unreferenced batch directory exactly
    like an append, then the manifest is swapped to reference only
    that batch. A crash mid-build leaves either the OLD index view or
    a loud torn-index error, never a silently-empty history; a build
    that crashed before its first commit is recovered by retrying the
    overwrite in place. Superseded batch directories remain until
    ``neardup_index_vacuum``. Rebuilding in place with DIFFERENT
    (k, bands, n) is refused — the old view would pair with the new
    meta during the window; use a fresh path.

    DUPLICATE-DOC HAZARD: appending the SAME doc_id twice — two
    batches sharing ids, or a re-append under a DIFFERENT tag —
    double-counts its sizes row and duplicates its band/shingle rows,
    inflating candidate and Jaccard arithmetic. Appends must carry
    corpus-unique doc_ids; the keeper of idempotency is the tag, not
    the id."""
    import uuid

    spark = documents.sparkSession
    sh = scoped_persist(shingles(documents, n))
    sig = scoped_persist(_minhash_wide(sh, k))
    want = {"k": int(k), "bands": int(bands), "n": int(n)}
    have = index_store.preflight(spark, path, mode, want)
    bid = batch_tag if batch_tag is not None else "b" + uuid.uuid4().hex
    index_store.validate_batch_tag(bid)
    tables = {
        "bands": _band_keys(sig, k, bands),
        "shingles": sh,
        "sizes": sig.select("doc_id", "n_shingles"),
    }
    index_store.write_batch(
        spark, path, bid, mode, tables, want, fresh=not have
    )
    return path


def neardup_index_compact(
    spark,
    path: str,
    tables: tuple = ("bands", "shingles", "sizes"),
    partition_by: dict | None = None,
    exclude_tags: list[str] | None = None,
) -> str | None:
    """Rewrite every manifest-committed batch of a near-dup index
    into ONE base batch and repoint the manifest at it — the
    LSM-style maintenance step that completes the index lifecycle
    (build → append-per-batch → search → COMPACT → vacuum): a
    long-running ingest accumulates one partition directory per
    append, and the search-side manifest filter degrades from
    partition pruning into a many-valued IN over thousands of tiny
    files. Search results are IDENTICAL before and after (pinned by
    the d_neardup_compact gate against the full SQL oracle and by
    pytest) — compaction is a pure physical rewrite.

    The compacted data lands FIRST under an unreferenced
    ``batch=compact-…`` directory, then the manifest is swapped to
    the single new batch (``index_store.compact``). A concurrent
    search sees the old view, the new view, or a LOUD torn-index
    error — never a silently partial result; still, run compaction
    from the ingest owner. Superseded batch directories stay on disk
    (ignored by every search) until ``neardup_index_vacuum``.
    Returns the new batch tag.

    ``exclude_tags`` leaves the named committed batches OUT of the
    rewrite and keeps their manifest rows alongside the new compact
    batch's — the streaming screens' auto-compact cadence needs
    this: a micro-batch's own survivor append must stay a
    separately-tagged batch until its checkpoint offset commits, or
    a replayed batch would find its first attempt's rows folded into
    the compact batch where the replay contract's tag-exclusion can
    no longer hide them. Returns None without touching anything when
    nothing would be folded."""
    return index_store.compact(
        spark, path, tables, partition_by=partition_by,
        exclude_tags=exclude_tags,
    )


def neardup_index_vacuum(
    spark,
    path: str,
    grace_seconds: float = 0.0,
    tables: tuple = ("bands", "shingles", "sizes"),
) -> list[str]:
    """Delete batch directories no longer referenced by the manifest
    (superseded by ``neardup_index_compact``, or torn appends whose
    manifest row never landed) and return their URIs. The race guard
    against in-flight appends (a manifest re-read plus the optional
    ``grace_seconds`` window) is described on ``index_store.vacuum``;
    the default grace of 0 is safe only for a single owner with no
    concurrent appender."""
    return index_store.vacuum(spark, path, grace_seconds, tables)


def neardup_index_search(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    max_broadcast_ids: int = 5_000_000,
    exclude_tags: list[str] | None = None,
) -> DataFrame:
    """Search a batch against a persisted ``neardup_index_build``
    index — same output schema and values as ``incremental_neardup``
    over the indexed history (pinned row-identical by pytest), but
    the history side is three parquet reads: the band table joins as
    written, and the shingle/size tables are broadcast-semi pruned
    to candidate docs at the SCAN (never exchanged wholesale).
    Banding parameters come from the index's meta sidecar.

    Only manifest-COMMITTED batches are read: the committed set is a
    handful of tag strings (one per append), and the
    ``batch.isin(committed)`` filter prunes torn batch partitions at
    the parquet scan.

    ``exclude_tags`` additionally HIDES named batch partitions from
    the search — the replay contract's other half: an at-least-once
    consumer that appends its own survivors (``neardup_stream``)
    re-screens a replayed micro-batch against an index that already
    contains that batch's first-attempt append; excluding the
    batch's own tag makes the replayed search see exactly the
    pre-batch index, so verdicts are reproduced instead of the batch
    matching itself."""
    meta = index_store.read_meta(spark, path)
    k, bands, n = meta["k"], meta["bands"], meta["n"]
    bsh = scoped_persist(shingles(batch, n))
    bsig = scoped_persist(_minhash_wide(bsh, k))

    committed = index_store.committed_view(spark, path, exclude_tags)

    def _tbl(name: str) -> DataFrame:
        return index_store.committed_table(spark, path, name, committed)

    hband = _tbl("bands")
    if max_bucket is not None:
        hband = _cap_band_buckets(hband, max_bucket)
    return _neardup_against(
        batch,
        bsh,
        bsig,
        hband,
        _tbl("shingles"),
        _tbl("sizes"),
        k,
        bands,
        threshold,
        max_broadcast_ids=max_broadcast_ids,
    )


def repeated_spans(
    documents: DataFrame,
    n: int = 5,
    min_docs: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Position-level repeated-span detection (the primitive behind
    substring-level training-data dedup, Lee et al. 2022: memorized
    boilerplate repeats VERBATIM across documents even when whole-doc
    near-dup passes miss it). Returns every occurrence — (doc_id, pos,
    span) — of an ``n``-token span that appears in at least
    ``min_docs`` DISTINCT documents, i.e. exactly the character ranges
    a span-removal pass would cut.

    Plan: spans come from one in-row array transform (sliding window
    over the token array — no self-join, no posexplode join-back);
    per-span document counts fold map-side on the span key; the
    occurrence list then re-joins the SAME exploded frame on that key.
    Both shuffles are span-key-partitioned and carry (span, count) /
    (span, doc, pos) rows — nothing corpus-sized crosses unkeyed, and
    the corpus-repeated span dictionary (df ≥ min_docs) is the only
    frame smaller than the input, so at 100 TB AQE may broadcast it
    into the occurrence join. A suffix-array build this is not — it
    needs no global order at all."""
    # tokenize in a projection FIRST — split() inside the lambda would
    # re-tokenize once per position (no CSE through higher-order
    # lambdas): measured 3× wall at sf0.1. See shingles().
    base = documents.select(
        "doc_id", F.split(F.col(text_col), r"\s+").alias("__tk")
    )
    # widen a single-row-group scan before the sliding-window build
    # (the _hot_char_islands / gopher_repetition pin): paired A/B
    # at sf0.1 reads 1.49 plain vs 1.05-1.17 widened; no-op on any
    # core-wide real-cluster scan. NOT applied in shingles() — its
    # consumers collapse to bitmaps/signatures cheaply enough that the
    # same A/B read the widen as a net loss there (ngram_jaccard
    # 1.03 -> 1.29, the _widen counterexample class).
    par = documents.sparkSession.sparkContext.defaultParallelism
    # leaf-safe probe: None = composed input,
    # skip the widen instead of executing upstream stages via df.rdd
    from ..session import scan_partitions as _scanp

    _np = _scanp(base)
    if _np is not None and _np < par:
        base = base.repartition(par, "doc_id")
    toks = F.col("__tk")
    spans = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(" ", F.slice(toks, i, n)).alias("span"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,span:string>>"))
    occ = base.select(
        "doc_id", F.explode(spans).alias("s")
    ).select("doc_id", F.col("s.pos").cast("long").alias("pos"), "s.span")
    hot = (
        occ.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return occ.join(hot, "span").select("doc_id", "pos", "span", "n_docs")


def maximal_spans(
    documents: DataFrame,
    n: int = 5,
    min_docs: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Maximal repeated-span coalescing — the CANONICAL Lee et al.
    2022 (ExactSubstr) output shape: a repeated
    run of L tokens surfaces in ``repeated_spans`` as L-n+1
    overlapping fixed-``n`` windows; here those windows merge into
    the ONE maximal span per (document, run) — overlapping or
    adjacent hot windows coalesce, the merged token range is sliced
    back out of the document, and the result carries corpus-wide
    stats of the MAXIMAL span text itself. Returns one row per
    maximal-span occurrence: (doc_id, start, end, span, n_tokens,
    n_docs) with 1-based inclusive token positions, ``n_docs`` =
    distinct documents in which this exact maximal span text occurs
    as a maximal span (boilerplate paragraphs score corpus-wide;
    a run that long only by accident in one doc scores 1).

    Plan: detection is ``repeated_spans`` (span-keyed shuffles
    only); the gap-islands merge is a doc-keyed window over HOT
    occurrences only — boilerplate-mass-sized, not corpus-sized;
    slicing joins the interval table (same size) back to the token
    arrays on doc_id, grouping intervals per doc first so each
    document's text is touched ONCE and sliced in-row per interval
    (codegen ``slice``/``concat_ws``, no UDF); the final stats
    rollup keys on the maximal span text. Nothing corpus-sized
    crosses an exchange unkeyed, and every exchange key (span text,
    doc_id) is the natural one."""
    from pyspark.sql import Window

    occ = repeated_spans(documents, n=n, min_docs=min_docs, text_col=text_col)
    iv = occ.select(
        "doc_id", "pos", (F.col("pos") + F.lit(n - 1)).alias("end")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = iv.withColumn(
        "new_island",
        # adjacent ranges merge too (a window ending at token e and
        # one starting at e+1 form ONE contiguous repeated run) —
        # hence the +1 vs remove_repeated_spans' overlap-only rule,
        # where the position UNION makes the distinction invisible.
        F.when(
            F.col("pos")
            > F.coalesce(F.max("end").over(w_prev), F.lit(0)) + 1,
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    merged = (
        islands.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("start"), F.max("end").alias("end"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("start", "end"))).alias(
                "__iv"
            )
        )
    )
    base = documents.select(
        "doc_id", F.split(F.col(text_col), r"\s+").alias("__tk")
    ).join(merged, "doc_id")  # inner: docs without hot spans emit nothing
    sliced = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.col("__iv"),
                lambda c: F.struct(
                    c["start"].cast("long").alias("start"),
                    c["end"].cast("long").alias("end"),
                    F.concat_ws(
                        " ",
                        F.slice(
                            F.col("__tk"),
                            c["start"],
                            c["end"] - c["start"] + F.lit(1),
                        ),
                    ).alias("span"),
                ),
            )
        ).alias("m"),
    ).select(
        "doc_id",
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.span").alias("span"),
        (F.col("m.end") - F.col("m.start") + F.lit(1)).alias("n_tokens"),
    )
    stats = sliced.groupBy("span").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    return sliced.join(stats, "span").select(
        "doc_id", "start", "end", "span", "n_tokens", "n_docs"
    )


def _hot_char_islands(
    documents: DataFrame,
    n: int,
    min_docs: int,
    text_col: str,
    exact: bool,
):
    """Shared char-granular detection core for ``maximal_spans_chars``
    and ``remove_repeated_spans_chars``: stride-1 ``n``-char windows
    built in-row (``substr`` + ``xxhash64`` keys by default — 8 bytes
    through the hot-detection shuffle; ``exact=True`` ships text),
    hot if present in ≥ ``min_docs`` distinct docs, coalesced per doc
    by the overlap-or-adjacent gap-islands rule. Returns
    (``base``: (doc_id, __tx), ``merged intervals``: one row per
    (doc, island) with 1-based inclusive char positions
    (doc_id, start, end))."""
    from pyspark.sql import Window

    key = (lambda s: s) if exact else (lambda s: F.xxhash64(s))
    empty_t = (
        "array<struct<pos:int,w:string>>"
        if exact
        else "array<struct<pos:int,w:bigint>>"
    )
    base = documents.select("doc_id", F.col(text_col).alias("__tx"))
    # Pin the map parallelism (the gopher_repetition /
    # holt_smoothing precedent): the stride-1 window build is the
    # densest per-row compute in the repo (~n_chars substr+xxhash64
    # evaluations per doc, and the detection chain evaluates it up to
    # three times), yet a single-row-group parquet input arrives as
    # ONE scan task — measured at sf0.1: the whole detection ran on
    # one core, 6.1/5.2 s for the two chars gates; widened, the same
    # plans read ~3x faster (OPTIMIZATION_r14.md). Keyed repartition
    # (not round-robin) skips the sortBeforeRepartition local sort of
    # the corpus text; no-op guard keeps real-cluster scans (already
    # core-wide) exchange-free.
    par = documents.sparkSession.sparkContext.defaultParallelism
    # leaf-safe probe: None = composed input,
    # skip the widen instead of executing upstream stages via df.rdd
    from ..session import scan_partitions as _scanp

    _np = _scanp(base)
    if _np is not None and _np < par:
        base = base.repartition(par, "doc_id")
    nwin = F.length("__tx") - (n - 1)
    wins = F.when(
        nwin >= 1,
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.struct(
                i.alias("pos"),
                key(F.col("__tx").substr(i, F.lit(n))).alias("w"),
            ),
        ),
    ).otherwise(F.array().cast(empty_t))
    occ = base.select("doc_id", F.explode(wins).alias("s")).select(
        "doc_id", F.col("s.pos").cast("long").alias("pos"), "s.w"
    )
    hot = (
        occ.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("w")
    )
    iv = occ.join(hot, "w").select(
        "doc_id", "pos", (F.col("pos") + F.lit(n - 1)).alias("end")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = iv.withColumn(
        "new_island",
        F.when(
            F.col("pos")
            > F.coalesce(F.max("end").over(w_prev), F.lit(0)) + 1,
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("start"), F.max("end").alias("end")
    )
    return base, merged


def maximal_spans_chars(
    documents: DataFrame,
    min_len: int = 50,
    min_docs: int = 3,
    text_col: str = "text",
    exact: bool = False,
) -> DataFrame:
    """Character-granular maximal repeated spans — the Lee et al.
    2022 fidelity mode: ExactSubstr operates on
    BYTES with a ~50-byte minimum, while ``maximal_spans`` quantizes
    span identity to token n-grams, so a repeated run that starts or
    ends MID-token is trimmed to whole-token boundaries and a run
    shorter than ``n`` tokens but longer than 50 characters is
    missed entirely. Here the sliding window is ``min_len``
    CHARACTERS with stride 1 over the raw text: any substring of
    ≥ ``min_len`` chars repeated across ≥ ``min_docs`` distinct
    documents surfaces as run(s) of hot windows, which coalesce
    (gap-islands, overlap-or-adjacent) into ONE maximal span per
    (document, run), sliced back out of the text with 1-based
    inclusive CHARACTER positions. Output: (doc_id, start, end,
    span, n_chars, n_docs) — ``n_docs`` counted on the maximal span
    text, exactly like the token mode.

    Plan: the window table is built IN-ROW (one ``transform`` over a
    position sequence — ``substr``/``xxhash64`` are codegen, no UDF,
    no posexplode join-back), so the exploded frame carries
    (doc_id, pos, window-key) and nothing else. By default the
    window key is ``xxhash64`` of the window text — 8 bytes crossing
    the hot-detection shuffle instead of ``min_len`` chars (~6× less
    exchange volume at the default 50); a hash collision can only
    ADD a false hot window (two distinct windows colliding), never
    hide a real one, and the planted-fixture pytest plus the gate's
    exact-text DuckDB oracle pin that the emitted spans are
    collision-clean at test scale (~n²/2⁶⁴ expected collisions:
    ~1e-8 even at a billion windows). ``exact=True`` ships the
    window text itself for the paranoid path. Stride-1 char windows
    are ~word-length× more rows than the token mode's — that is the
    honest cost of byte-fidelity (Lee et al. pay it in a suffix
    array); the rows are narrow (doc_id, pos, 8-byte key) and every
    exchange is keyed (window key, then doc_id, then span text),
    so the 100 TB posture is bounded by shuffle volume, not by any
    driver or per-task state."""
    base, m = _hot_char_islands(
        documents, int(min_len), min_docs, text_col, exact
    )
    merged = m.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("start", "end"))).alias(
            "__iv"
        )
    )
    sliced = (
        base.join(merged, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.col("__iv"),
                    lambda c: F.struct(
                        c["start"].cast("long").alias("start"),
                        c["end"].cast("long").alias("end"),
                        F.col("__tx")
                        .substr(
                            c["start"].cast("int"),
                            (c["end"] - c["start"] + 1).cast("int"),
                        )
                        .alias("span"),
                    ),
                )
            ).alias("m"),
        )
        .select(
            "doc_id",
            F.col("m.start").alias("start"),
            F.col("m.end").alias("end"),
            F.col("m.span").alias("span"),
            (F.col("m.end") - F.col("m.start") + F.lit(1)).alias("n_chars"),
        )
    )
    stats = sliced.groupBy("span").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    return sliced.join(stats, "span").select(
        "doc_id", "start", "end", "span", "n_chars", "n_docs"
    )


def remove_repeated_spans_chars(
    documents: DataFrame,
    min_len: int = 50,
    min_docs: int = 3,
    text_col: str = "text",
    exact: bool = False,
) -> DataFrame:
    """Character-granular substring-dedup CUT — the removal step
    paired with ``maximal_spans_chars`` exactly as
    ``remove_repeated_spans`` pairs with ``repeated_spans``, and the
    full Lee et al. 2022 ExactSubstr pipeline at byte fidelity:
    every maximal character range whose ``min_len``-char windows are
    repeated across ≥ ``min_docs`` distinct documents is cut from
    EVERY document, and the survivors re-join with NO separator (a
    cut mid-token must not mint a phantom space — the char-mode
    twin of the token mode's single-space rejoin). Returns (doc_id,
    n_chars, n_cut, text_clean); documents with nothing repeated
    pass through with n_cut = 0.

    Plan: detection + gap-islands merge are shared with
    ``maximal_spans_chars`` (window keys are 8-byte hashes by
    default, doc-keyed islands over HOT occurrences only); the
    merged cut intervals fold to one array row per doc and
    LEFT-join back (dictionary-sized — AQE broadcasts it at scale);
    reconstruction builds the KEPT segments in-row — one
    ``transform`` over the interval array emits the gap before each
    cut, plus the tail after the last — and ``concat_ws('')`` glues
    them: codegen end to end, O(intervals-per-doc) slices, each
    character copied once."""
    base, m = _hot_char_islands(
        documents, int(min_len), min_docs, text_col, exact
    )
    cuts = m.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("start", "end"))).alias(
            "cuts"
        )
    )
    joined = base.join(cuts, "doc_id", "left")
    nchars = F.length("__tx")
    # kept segment BEFORE cut k runs from prev_end+1 to start_k-1;
    # the tail after the last cut closes the reconstruction. The
    # previous cut's end comes from the sorted interval array itself
    # (element k-1), so the whole rebuild is one in-row transform —
    # no second window, no UDF.
    segs = F.concat(
        F.transform(
            F.col("cuts"),
            lambda c, k: F.col("__tx").substr(
                F.when(k == 0, F.lit(1)).otherwise(
                    F.get(F.col("cuts"), k - 1)["end"] + 1
                ).cast("int"),
                (
                    c["start"]
                    - F.when(k == 0, F.lit(1)).otherwise(
                        F.get(F.col("cuts"), k - 1)["end"] + 1
                    )
                ).cast("int"),
            ),
        ),
        F.array(
            F.col("__tx").substr(
                (F.element_at(F.col("cuts"), -1)["end"] + 1).cast("int"),
                (nchars - F.element_at(F.col("cuts"), -1)["end"]).cast(
                    "int"
                ),
            )
        ),
    )
    clean = F.when(F.col("cuts").isNull(), F.col("__tx")).otherwise(
        F.concat_ws("", segs)
    )
    return joined.select(
        "doc_id",
        nchars.alias("n_chars"),
        F.coalesce(
            F.aggregate(
                F.col("cuts"),
                F.lit(0).cast("long"),
                lambda acc, c: acc + (c["end"] - c["start"] + 1),
            ),
            F.lit(0).cast("long"),
        ).alias("n_cut"),
        clean.alias("text_clean"),
    )


def remove_repeated_spans(
    documents: DataFrame,
    n: int = 5,
    min_docs: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Apply the substring-dedup CUT — the step after
    ``repeated_spans``'s detection (Lee et al. 2022 ExactSubstr;
    reference has no counterpart, this is LLM-pipeline surface):
    every occurrence of an ``n``-token span repeated across
    ``min_docs``+ distinct documents is removed from EVERY document
    (the boilerplate-scrub policy, the span-level twin of
    curate.boilerplate_scrub's line rule), overlapping cut windows
    merged into maximal per-document intervals, survivors re-joined
    single-spaced. Returns (doc_id, n_tokens, n_cut, text_clean);
    documents with nothing repeated pass through with n_cut = 0.

    Plan: detection reuses repeated_spans (span-keyed shuffles only,
    nothing corpus-sized unkeyed); the interval merge is a
    gap-islands window per doc_id (one doc-keyed exchange over CUT
    occurrences only — dictionary-sized, not corpus-sized); the
    merged intervals fold to one array row per doc and LEFT-join
    back to the documents on doc_id (small side, AQE broadcasts it
    at scale). Reconstruction is a single in-row ``filter`` with an
    index lambda testing merged-interval membership — codegen, no
    UDF, O(tokens × intervals-per-doc) where intervals-per-doc is
    the merged boilerplate mass, not the document length."""
    from pyspark.sql import Window

    occ = repeated_spans(documents, n=n, min_docs=min_docs, text_col=text_col)
    iv = occ.select("doc_id", "pos", (F.col("pos") + F.lit(n - 1)).alias("end"))
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = iv.withColumn(
        "new_island",
        F.when(
            F.col("pos") > F.coalesce(F.max("end").over(w_prev), F.lit(0)), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    cuts = (
        islands.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("start"), F.max("end").alias("end"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("start", "end"))).alias("cuts"))
    )
    base = documents.select(
        "doc_id", F.split(F.col(text_col), r"\s+").alias("__tk")
    ).join(cuts, "doc_id", "left")
    kept = F.filter(
        F.col("__tk"),
        lambda x, i: ~F.coalesce(
            F.exists(
                F.col("cuts"),
                lambda c: (i + F.lit(1) >= c["start"])
                & (i + F.lit(1) <= c["end"]),
            ),
            F.lit(False),
        ),
    )
    step = base.select(
        "doc_id", F.size("__tk").alias("n_tokens"), kept.alias("__kept")
    )
    return step.select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("__kept")).alias("n_cut"),
        F.concat_ws(" ", "__kept").alias("text_clean"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy entity-match self-join: all pairs within Levenshtein
    distance ``max_dist`` (1 or 2) — typo-tolerant dim-key matching
    (customer/supplier name reconciliation), the string twin of the
    embedding/simhash near-dup joins.

    Never all-pairs (the SymSpell deletion-neighborhood guarantee):
    every string emits its ≤``max_dist``-char deletion variants as
    band keys; two strings within distance d share at least one
    variant (delete the edited positions from each side), so the
    equi-join on the variant key sees exactly the near-identical
    cluster — then ``levenshtein`` (JVM codegen) verifies the bounded
    candidates. Keys per string: O(L) at d=1, O(L²) at d=2 — emitted
    by in-row transforms, no UDF. A bucket only grows with strings
    that agree on everything but the deleted positions; when many
    strings ARE that close the OUTPUT is quadratic in them, which is
    the result's own size, not a planning artifact."""
    if max_dist not in (1, 2):
        raise ValueError("max_dist must be 1 or 2")
    s = F.col(text_col)

    def _deletes(c):
        # one-char deletion variants; sequence(1,0) counts DOWN, so
        # the empty string must short-circuit to an empty array.
        return F.when(
            F.length(c) > 0,
            F.transform(
                F.sequence(F.lit(1), F.length(c)),
                lambda i: F.concat(
                    c.substr(F.lit(1), i - F.lit(1)),
                    c.substr(i + F.lit(1), F.length(c) - i),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    keys1 = F.array_union(F.array(s), _deletes(s))
    if max_dist == 2:
        # deletes-of-deletes, flattened + deduped in-row
        keys = F.array_distinct(
            F.flatten(F.transform(keys1, lambda v: F.array_union(F.array(v), _deletes(v))))
        )
    else:
        keys = keys1
    banded = df.select(
        F.col(id_col).alias("__id"),
        s.alias("__s"),
        F.explode(keys).alias("__k"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__k") == F.col("b.__k"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__s").alias("text_a"),
            F.col("b.__s").alias("text_b"),
        )
        .distinct()
    )
    dist = F.levenshtein("text_a", "text_b")
    return cand.filter(dist <= max_dist).select(
        "id_a", "id_b", "text_a", "text_b", dist.cast("int").alias("dist")
    )


def minhash_rollup_certify(
    documents: DataFrame,
    k: int = 8,
    n: int = 2,
    group_col: str = "source",
    n_batches: int = 3,
) -> DataFrame:
    """Mergeable SET-level MinHash: one k-seed signature per group
    (e.g. per source) summarizing the group's whole shingle set, plus
    a per-seed MERGE certificate — the MinHash twin of the HLL sketch
    rollup (a_sketch_rollup): sig(A∪B) = elementwise min(sig(A),
    sig(B)), so per-batch signatures maintained incrementally must
    equal the signature computed directly over the full group.

    This query PROVES that identity on real data: shingles split into
    ``n_batches`` deterministic batches (doc_id mod), per-(group,
    batch) signatures fold first (map-side partial mins — the only
    shingle-sized shuffle), batches merge by elementwise min, and the
    result is compared seed-by-seed against the direct per-group
    fold. Output: (group, mh_0..mh_{k-1}, merge_ok) with the
    signatures themselves in the output — md5-lexicographic minima,
    so the oracle replays them exactly; merge_ok must be all-true by
    the theorem. At 100 TB this is how per-partition sketches roll up
    to corpus level without ever recomputing from raw text.
    """
    sh = shingles(documents, n).join(
        documents.select("doc_id", group_col), "doc_id"
    )
    hashes = sh.select(
        F.col(group_col).alias("grp"),
        (F.col("doc_id") % n_batches).alias("batch"),
        *[
            F.md5(
                F.concat(F.lit(f"{i}|"), F.col("shingle")).cast("binary")
            ).alias(f"h_{i}")
            for i in range(k)
        ],
    )
    per_batch = hashes.groupBy("grp", "batch").agg(
        *[F.min(f"h_{i}").alias(f"mh_{i}") for i in range(k)]
    )
    merged = per_batch.groupBy("grp").agg(
        *[F.min(f"mh_{i}").alias(f"mh_{i}") for i in range(k)]
    )
    direct = hashes.groupBy("grp").agg(
        *[F.min(f"h_{i}").alias(f"d_{i}") for i in range(k)]
    )
    ok = None
    for i in range(k):
        eq = F.col(f"mh_{i}") == F.col(f"d_{i}")
        ok = eq if ok is None else (ok & eq)
    return (
        merged.join(direct, "grp")
        .select(
            F.col("grp").alias(group_col),
            *[F.col(f"mh_{i}") for i in range(k)],
            ok.cast("long").alias("merge_ok"),
        )
    )


def duplication_stats(
    documents: DataFrame, group_col: str = "source"
) -> DataFrame:
    """Per-group duplication report: (group, n_docs, n_unique,
    n_dup_docs, dup_rate) where uniqueness is exact content identity —
    the health metric a curation team tracks per crawl/source before
    deciding where dedup effort goes.

    One narrow aggregate over (group, content_md5) — text collapses to
    its 32-byte hash map-side, the same trick as exact_dedup, then a
    group-sized rollup. dup_rate is one BIGINT/BIGINT double division.
    """
    per_content = (
        documents.select(
            F.col(group_col).alias("grp"),
            F.md5(F.col("text").cast("binary")).alias("content_md5"),
        )
        .groupBy("grp", "content_md5")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    return per_content.groupBy("grp").agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_dup_docs"),
        (
            (F.sum("n_copies") - F.count(F.lit(1)))
            / F.sum("n_copies")
        ).alias("dup_rate"),
    ).withColumnRenamed("grp", group_col)


def bloom_prefilter_dedup(
    documents: DataFrame,
    mod: int = 2,
    bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter PRE-FILTER for incremental dedup, with its
    no-false-negative theorem as a per-row certificate: history docs
    (doc_id ≡ 0 mod ``mod``) fold into a ``bits``-bit Bloom filter
    (``k`` md5-derived hash rows), each batch doc probes it, and the
    exact content check runs alongside — (doc_id, bloom_hit,
    is_dup_exact, no_false_negative). ``no_false_negative`` must be
    all-1 (a true duplicate ALWAYS hits the filter); bloom_hit −
    is_dup_exact rows are the false-positive mass the filter trades
    for its fixed size.

    This is the join-pruning pattern at 100 TB: the filter is ONE
    broadcast row of 32-bit words (built by a single conditional
    bit_or aggregate — history never shuffles, exactly like the
    shingle bitmap dictionary), the probe is a pure projection, and
    only probe-positive rows would need the exact (expensive) join in
    production — here both branches run so the certificate can hold
    the filter to its contract. All hashes are md5-derived, so the
    oracle replays the bit SET semantically (distinct positions +
    membership) and every column is value-exact.
    """
    n_words = bits // 32
    # history = ids ≡ 0 (mod ``mod``), batch = ALL docs: the batch then
    # contains every history doc, so the no-false-negative theorem is
    # exercised on real positives even in a dup-free corpus (a disjoint
    # id split would probe only the false-positive path)
    hist = documents.filter(F.col("doc_id") % mod == 0)
    batch = documents

    def pos(r: int) -> Column:
        h = F.md5(
            F.concat(F.lit(f"{r}|"), F.col("text")).cast("binary")
        )
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % bits

    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
    hist_bits = (
        hist.select(
            F.explode(F.array(*[pos(r) for r in range(k)])).alias("b")
        )
        .distinct()
        .select(
            (F.col("b") / 32).cast("int").alias("w"),
            F.element_at(pow2, (F.col("b") % 32).cast("int") + 1).alias(
                "bit"
            ),
        )
    )
    zero = F.lit(0).cast("long")
    bloom_row = hist_bits.groupBy().agg(
        *[
            F.bit_or(
                F.when(F.col("w") == w, F.col("bit")).otherwise(zero)
            ).alias(f"w{w}")
            for w in range(n_words)
        ]
    )
    bloom = bloom_row.select(
        F.array(*[F.col(f"w{w}") for w in range(n_words)]).alias("__bloom")
    )
    probed = batch.crossJoin(F.broadcast(bloom))
    hit = None
    for r in range(k):
        p = pos(r)
        word = F.element_at(F.col("__bloom"), (p / 32).cast("int") + 1)
        bit = F.element_at(pow2, (p % 32).cast("int") + 1)
        h_r = word.bitwiseAND(bit) != 0
        hit = h_r if hit is None else (hit & h_r)
    hist_md5 = hist.select(
        F.md5(F.col("text").cast("binary")).alias("__m")
    ).distinct()
    with_md5 = probed.withColumn(
        "__m", F.md5(F.col("text").cast("binary"))
    ).withColumn("bloom_hit", hit.cast("long"))
    dup_ids = (
        with_md5.join(F.broadcast(hist_md5), "__m", "left_semi")
        .select("doc_id")
        .withColumn("__dup", F.lit(1))
    )
    return (
        with_md5.join(dup_ids, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup_exact"),
            (
                ~(
                    (F.coalesce(F.col("__dup"), F.lit(0)) == 1)
                    & (F.col("bloom_hit") == 0)
                )
            )
            .cast("long")
            .alias("no_false_negative"),
        )
    )


def _regex_quote(s: str) -> str:
    """Java ``Pattern.quote`` semantics for a literal string inside a
    Spark regex (a bare ``\\Q...\\E`` wrap breaks when the
    literal itself contains ``\\E`` — the remainder is reinterpreted
    as regex). Each embedded ``\\E`` is split out of the quoted run
    as end-quote / escaped-backslash / literal-E / re-open-quote,
    exactly the JDK algorithm, so ANY separator byte sequence stays
    literal."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def line_dedup(
    documents: DataFrame,
    min_line_chars: int = 1,
    heavy_threshold: int = 1000,
    sep: str = "\n",
    keep_text: bool = False,
) -> DataFrame:
    """Corpus-wide exact LINE dedup (the RefinedWeb/Dolma line-level
    pass — boilerplate footers, cookie banners, nav text): every line
    whose length is at least ``min_line_chars`` keeps only its FIRST
    corpus occurrence (min (doc_id, line_idx)); shorter lines are
    EXEMPT and always kept (deduplicating '' or 'Yes.' corpus-wide
    would shred ordinary text — the exemption every production
    implementation carries). ``sep`` picks the granularity: the
    default newline gives line dedup; a blank-line separator gives
    the Dolma-style PARAGRAPH dedup pass with identical semantics.
    ``sep`` is a LITERAL separator — the split quotes it via
    ``_regex_quote`` (JDK ``Pattern.quote`` semantics, safe for any
    byte sequence including embedded ``\\E``), and the rebuild joins
    kept units with the same bytes. Per document: line counts and the md5 of
    the REBUILT text (kept lines joined in original order), so a gate
    pins the actual post-dedup text, not just counts.

    Scale shape (a single window reducer would put EVERY exploded
    line, exempt ones included, through one ``Window.partitionBy
    (line)``, so every blank line in the corpus — and every
    mega-duplicated boilerplate line, the operator's own target —
    landed on a single window partition, and AQE cannot split a
    skewed *window* exchange, only skewed joins): one posexplode to
    narrow (doc, idx, line) rows, then

    * exempt lines (``length < min_line_chars`` — '' and friends,
      the usual heavy hitters) are split out BEFORE any exchange and
      never shuffle by line at all;
    * first-occurrence election is a two-level partial AGGREGATE
      (``groupBy(line).agg(min(struct(doc_id, idx)))``), not a
      window: map-side combine collapses a 10^9-copy cookie-banner
      line to one partial row per input partition before the
      exchange, so the reducer for a hot line receives one row per
      upstream partition, not 10^9;
    * membership is recovered with the HEAVY-HITTER HYBRID join
      (the shared ``keeper_election`` shape, chosen after two
      measured dead ends — SCALE.md round-11(4): AQE's skew-join
      split never fires on aggregate-fed joins, and a salted join
      replicates the firsts side, which is corpus-sized when most
      lines are unique): lines with at least ``heavy_threshold``
      copies form a broadcast dictionary (at most
      total_lines/heavy_threshold entries by construction) that
      probe rows join MAP-SIDE — a hot line's rows never shuffle by
      line at all; only the unmatched remainder shuffle-joins the
      light firsts, where every key has under ``heavy_threshold``
      rows, so the reducer bound is the threshold itself.

    The rebuild re-aggregates per document with in-doc-bounded
    collect_list; its exchange is keyed by ``doc_id`` (well
    distributed by construction), so exempt lines only ever shuffle
    on a skew-free key — they never enter a line-keyed exchange. The
    cost of the restructure is extra map-only scans of the text
    column (probe / firsts-aggregate / exempt branches each rescan),
    which at 100 TB is strictly cheaper than routing every blank
    line in the corpus through one reducer."""
    lines = documents.select(
        "doc_id",
        F.posexplode(
            F.split(F.col("text"), _regex_quote(sep))
        ).alias("idx", "line"),
    )
    exempt = F.length("line") < min_line_chars
    dedupable = lines.filter(~exempt)
    firsts = dedupable.groupBy("line").agg(
        F.min(F.struct("doc_id", "idx")).alias("__f"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    heavy = firsts.filter(F.col("__n") >= heavy_threshold).select(
        "line", F.col("__f").alias("__fh"), F.lit(True).alias("__hv")
    )
    light = firsts.filter(F.col("__n") < heavy_threshold).select(
        F.col("line").alias("__jk"), F.lit(0).alias("__hm"), "__f"
    )
    hv = F.coalesce(F.col("__hv"), F.lit(False))
    probe = dedupable.join(F.broadcast(heavy), "line", "left").select(
        "doc_id",
        "idx",
        "line",
        "__fh",
        # skew redirect: heavy rows enter the shuffle under their own
        # (doc_id,idx) identity (marker 1 — the light side is always
        # marker 0, so no accidental match), light rows under the line
        F.when(
            hv, F.concat_ws("_", F.col("doc_id"), F.col("idx"))
        ).otherwise(F.col("line")).alias("__jk"),
        F.when(hv, F.lit(1)).otherwise(F.lit(0)).alias("__hm"),
    )
    elected = probe.join(light, ["__jk", "__hm"], "left").select(
        "doc_id",
        "idx",
        "line",
        F.coalesce(F.col("__f"), F.col("__fh")).alias("__f"),
    )
    kept = elected.select(
        "doc_id",
        "idx",
        "line",
        (
            (F.col("doc_id") == F.col("__f.doc_id"))
            & (F.col("idx") == F.col("__f.idx"))
        ).alias("keep"),
    ).unionByName(
        lines.filter(exempt).select(
            "doc_id", "idx", "line", F.lit(True).alias("keep")
        )
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("keep"), F.struct("idx", "line")
                    )
                )
            ),
            lambda s: s.getField("line"),
        ),
        sep,
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept_lines"),
        F.md5(rebuilt).alias("clean_md5"),
        # keep_text=True also materializes the rebuild (one extra
        # aggregate over the SAME collect_list input — Catalyst
        # shares the buffer) for pipeline composition
        # (full_curation); default off keeps the verdict rows narrow.
        *([rebuilt.alias("text_clean")] if keep_text else []),
    ).select(
        "*",
        (F.col("n_lines") - F.col("n_kept_lines")).alias("n_dropped"),
    )


def keeper_election(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    eligible: Column | None = None,
    first_col: str = "__keeper_id",
    count_col: str | None = None,
    heavy_threshold: int = 1000,
) -> DataFrame:
    """Skew-safe first-occurrence keeper election, shared by
    ``urls.url_dedup`` and ``curate.web_pipeline``: adds ``first_col`` = min ``id_col`` per ``key_col`` among
    rows where ``eligible`` holds (all rows when None; NULL for keys
    with no eligible row), and optionally ``count_col`` = total rows
    per key.

    Why not ``Window.partitionBy(key)``: a window exchange routes
    every row of a hot key to ONE reducer and AQE cannot split a
    skewed window partition. The hot keys are real at 100 TB:
    ``web_pipeline`` keys by clean_md5, and every document whose
    cleaned text is empty shares md5('') (such rows can never be
    keepers — zero words fails the Gopher word-count rule — yet the
    a window reducer would still funnel them through one task);
    ``url_dedup`` keys by canon_url, where a front page fetched 10^8
    times is one key.

    Shape (chosen after two measured dead ends — see SCALE.md
    round-11(4): AQE's skew-join split never fires on aggregate-fed
    joins, and salting the join replicates the FIRSTS side, which is
    corpus-sized when most keys are unique — measured 3x slower than
    the window on a 2M-doc hot corpus):
    1. pre-aggregate (key → min id, count) with a two-level partial
       aggregate — map-side combine collapses a 10^9-copy key to one
       partial row per input partition before the wire;
    2. split the firsts by the observed count: keys with at least
       ``heavy_threshold`` copies form the HEAVY dictionary — at
       most total_rows/heavy_threshold entries by construction, so
       it broadcasts — and everything else is LIGHT;
    3. probe rows LEFT-join the broadcast heavy dictionary map-side,
       which resolves the hot keys' answers without any key-wise
       shuffle; then ONE shuffle join against the light firsts
       recovers the rest — with the heavy rows' join key REDIRECTED
       to their own row id (plus a marker column that can never
       match the light side), so a hot key enters the exchange as
       distinct per-row keys and spreads uniformly, while every
       genuine light key has under ``heavy_threshold`` rows. The
       reducer bound is heavy_threshold, no optimizer cooperation
       needed, and the probe chain is evaluated ONCE (the first
       hybrid cut union'd two filtered probe branches, which
       re-evaluated the upstream chain per branch — measured 1.5x
       on web_pipeline's fused battery).
    Sizing rule at scale: pick heavy_threshold >= total_rows / 10^6
    to bound the broadcast dictionary at ~10^6 entries; the default
    1000 holds to 10^9 input rows.
    """
    agg = [
        F.min(
            F.when(eligible, F.col(id_col))
            if eligible is not None
            else F.col(id_col)
        ).alias(first_col),
        F.count(F.lit(1)).cast("long").alias(count_col or "__kc"),
    ]
    ccol = count_col or "__kc"
    firsts = df.groupBy(key_col).agg(*agg)
    heavy = firsts.filter(F.col(ccol) >= heavy_threshold).select(
        key_col,
        F.col(first_col).alias("__fh"),
        F.col(ccol).alias("__ch"),
        F.lit(True).alias("__hv"),
    )
    # Both sides of the redirect join are cast to string explicitly:
    # the heavy branch substitutes id_col (cast to
    # string) for the key, so a non-string key_col would otherwise
    # make the when() branches type-conflict or pull an implicit
    # numeric<->string cast into the join condition. Casting __jk on
    # BOTH sides keeps the equi-join key types aligned for any
    # key_col type, at zero cost for the string keys the current
    # callers use (cast of a string column folds away).
    light = firsts.filter(F.col(ccol) < heavy_threshold).select(
        F.col(key_col).cast("string").alias("__jk"),
        F.lit(0).alias("__hm"),
        first_col,
        ccol,
    )
    hv = F.coalesce(F.col("__hv"), F.lit(False))
    probe = df.join(F.broadcast(heavy), key_col, "left").select(
        "*",
        F.when(hv, F.col(id_col).cast("string"))
        .otherwise(F.col(key_col).cast("string"))
        .alias("__jk"),
        F.when(hv, F.lit(1)).otherwise(F.lit(0)).alias("__hm"),
    )
    out = probe.join(light, ["__jk", "__hm"], "left").select(
        *df.columns,
        F.coalesce(F.col(first_col), F.col("__fh")).alias(first_col),
        *(
            [F.coalesce(F.col(ccol), F.col("__ch")).alias(ccol)]
            if count_col is not None
            else []
        ),
    )
    return out
