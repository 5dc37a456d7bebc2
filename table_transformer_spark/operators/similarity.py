"""Similarity search over embedding columns (``array<float>``).

* **brute-force cosine top-k** — exact baseline: the index is
  broadcast once and every probe batch is scored with chunked BLAS
  matmuls (:func:`_cos_chunks`, also the IVF kernels' cosine).
  Quadratic: fine for probe sets, not the 10^12 path.
* **LSH-bucketed top-k** — the scale path: sign-bit bucketing on fixed
  dimensions (a portable random-hyperplane degenerate), candidates only
  join within a bucket; **multi-band union** recovers recall (a true
  neighbor missed by one band's bits is caught by another's).

**Bucket-cardinality math** (why ``DEFAULT_SIGN_BANDS`` is a
constant, and how to widen it): with ``b`` sign bits per band over
near-isotropic embeddings, expected bucket size is N/2^b and the
within-bucket candidate join costs Σ nᵢ² ≈ N²/2^b per band.  Keeping
per-bucket work linear in N means b ≈ log₂(N / target_bucket_size):
the two 12-bit bands (4096 buckets each) suit 10⁵–10⁷ rows.  The bands
are one module constant, not an option, because the SQL oracles build
their band keys from the same tuple (``driver_queries._lsh_keyed_sql``)
— a per-call override could only make the operator and its oracle
disagree.  A 100 TB corpus (N ≈ 10¹⁰) wants b ≈ 24–28 with seeded
random hyperplanes broadcast to executors: widen the constant's dims
per band and add bands — same plan shape, just wider keys.  A fixed
6-bit key (64 buckets) re-quadratics at scale.

All arithmetic is cast to double *before* multiplication so any SQL
oracle (DuckDB) reproduces the floats bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "brute_force_topk",
    "lsh_bucket_key",
    "lsh_bucketed_topk",
    "embedding_neardup_pairs",
    "ivf_topk",
    "train_ivf_codebook",
]

# Two 12-bit bands over distinct dimension sets (64-dim embeddings).
# Bits per band bound the bucket quadratic; the band union bounds the
# recall loss — see the module docstring for the cardinality argument.
DEFAULT_SIGN_BANDS = (
    (0, 7, 19, 31, 43, 57, 3, 11, 23, 37, 47, 61),
    (1, 5, 13, 17, 29, 41, 53, 59, 2, 38, 50, 62),
)

# driver-collected sides stay driver-tiny
_MAX_INDEX_ROWS = 1_000_000  # brute-force index
_MAX_CODEBOOK = 1 << 16  # broadcast IVF codebook


def _vec_matrix(vecs):
    """float64 matrix from a sequence/Series of fixed-length vectors.

    ``np.stack`` over the per-row numpy views Arrow hands the kernel
    (one C-level conversion per row instead of boxing every element
    through a Python ``list``).  float32 → float64 widening is exact,
    so the resulting values are bit-identical to the previous
    ``list()``-based conversion — only faster."""
    import numpy as np

    rows = vecs.to_numpy() if hasattr(vecs, "to_numpy") else list(vecs)
    if len(rows) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(rows).astype(np.float64, copy=False)


def brute_force_topk(df: DataFrame, id_col: str, vec_col: str,
                     k: int = 3) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (vec_id, neighbor_id,
    rank, cos — rounded for cross-engine hashing).

    Broadcast-index pattern: the index side is collected once (bounded —
    this is the *probe/baseline* operator; unbounded corpora go through
    :func:`lsh_bucketed_topk`), broadcast to executors, and each probe
    partition scores against it with one BLAS matmul inside an
    Arrow-batched kernel.  ~50× faster than a pairwise-join + per-pair
    dot product and shuffle-free.
    """
    import numpy as np

    from pyspark.sql import types as T

    # guard: this operator collects the index to the driver by design
    # (bounded probe/baseline) — refuse unbounded tables so it can't be
    # pointed at a corpus that belongs in lsh_bucketed_topk.  One
    # action: collect max+1 rows and check the length (a separate
    # count() would scan the input twice).  Arrow toPandas, not
    # row-pickling collect: the index payload is N×dim floats and the
    # columnar path moves it without boxing every element (guide §6,
    # "Arrow for driver transfers").
    index_pdf = (df.select(id_col, vec_col)
                 .limit(_MAX_INDEX_ROWS + 1).toPandas())
    if len(index_pdf) > _MAX_INDEX_ROWS:
        raise ValueError(
            f"brute_force_topk index exceeds {_MAX_INDEX_ROWS} rows; "
            "use lsh_bucketed_topk for large corpora")
    ids = index_pdf[id_col].to_numpy(dtype=np.int64)
    mat = _vec_matrix(index_pdf[vec_col])
    # index sorted by id ONCE so a stable argsort on -sims breaks
    # cos ties toward the lower neighbor_id (the kernel's total order)
    by_id = np.argsort(ids, kind="stable")
    ids, mat = ids[by_id], mat[by_id]
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids, mat, norms))

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def topk(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            q_ids = pdf[id_col].to_numpy(dtype=np.int64)
            for lo, hi, cos in _cos_chunks(_vec_matrix(pdf[vec_col]),
                                           b_mat, b_norms):
                yield _emit_topk(q_ids[lo:hi], b_ids, cos, k)

    # The probe side must be SPREAD before the kernel: the input is one
    # compact parquet file, so without an explicit repartition the whole
    # N×N scoring runs as a single task on one core (the r5 regression —
    # 55s single-threaded at 20k×20k).  Width follows defaultParallelism
    # (scale-adaptive, never a hard-coded core count); each task scores
    # its slice against the shared broadcast index, so the split changes
    # nothing about any row's result.
    from ..partitioning import widen_for_cpu
    return widen_for_cpu(df.select(id_col, vec_col), id_col).mapInPandas(
        topk, schema=schema)


def _emit_topk(q_ids, b_ids, sims, k: int, round_cos: bool = True):
    """Batched top-k emit shared by the brute-force and IVF per-cell
    kernels: order = cos desc, neighbor_id asc; self-pairs excluded.

    ``b_ids`` MUST be sorted ascending, so cos ties break toward the
    lower index = lower neighbor_id.  Self-pairs are pushed to the tail
    with -inf; because -inf sorts strictly last, surviving neighbors
    are a prefix of each row, and a boolean filter drops the padding
    after the flatten.

    ``round_cos=False`` emits RAW cosines for callers that re-rank
    globally before rounding at the edge (the IVF nprobe>1 path, where
    sub-1e-6 differences must order exactly like the SQL twin).

    NOTE: mutates ``sims`` in place (self-pair masking) — every caller
    passes a freshly computed matrix.  The kernel is memory-bandwidth
    bound, so it avoids full-matrix copies: self-pairs are located via
    ``searchsorted`` on the (sorted) ``b_ids`` and overwritten in
    place, and the k-th value comes from an in-place ``partition`` of
    the one unavoidable negated copy."""
    import numpy as np
    import pandas as pd

    n_q = len(q_ids)
    k_eff = min(k, sims.shape[1]) if sims.size else 0
    if not n_q or not k_eff:
        return pd.DataFrame({"vec_id": pd.Series(dtype=np.int64),
                             "neighbor_id": pd.Series(dtype=np.int64),
                             "rank": pd.Series(dtype=np.int32),
                             "cos": pd.Series(dtype=np.float64)})
    # in-place self-pair mask ≡ np.where(b_ids == q_id, -inf, sims):
    # left/right searchsorted bounds handle duplicated index ids too
    lo_ix = np.searchsorted(b_ids, q_ids, side="left")
    hi_ix = np.searchsorted(b_ids, q_ids, side="right")
    for i in np.flatnonzero(hi_ix > lo_ix):
        sims[i, lo_ix[i]:hi_ix[i]] = -np.inf
    masked = sims
    # top-k via np.partition (O(n) per row) instead of a full
    # O(n log n) stable argsort — the sort was the kernel's hot spot
    # once the matmul batched (k_eff == n_idx is a valid kth too).
    # Exact tie semantics are kept by construction, not by sort
    # stability: per row, take every index with cos STRICTLY above the
    # k-th value (there are < k of them, ordered by cos desc then index
    # asc), then fill the remaining slots with the LOWEST indices among
    # the ties at the k-th value (flatnonzero returns them ascending,
    # and ascending index = ascending neighbor_id because b_ids is
    # sorted).  Identical output to the stable argsort for every input,
    # including duplicated vectors and -inf self-pads.
    neg = -masked
    neg.partition(k_eff - 1, axis=1)   # in place — no second copy
    kth = -neg[:, k_eff - 1]
    order = np.empty((n_q, k_eff), dtype=np.intp)
    for i in range(n_q):
        row = masked[i]
        if np.isnan(kth[i]):
            # fewer than k_eff comparable values (NaN cos from a
            # zero-norm vector) — the stable sort reproduces the old
            # NaN-last emit order exactly for this rare row
            order[i] = np.argsort(-row, kind="stable")[:k_eff]
            continue
        gt = np.flatnonzero(row > kth[i])
        if len(gt) > 1:
            gt = gt[np.lexsort((gt, -row[gt]))]
        eq = np.flatnonzero(row == kth[i])[:k_eff - len(gt)]
        order[i, :len(gt)] = gt
        order[i, len(gt):] = eq
    sel_cos = np.take_along_axis(masked, order, axis=1).ravel()
    keep = sel_cos != -np.inf
    sel_cos = sel_cos[keep]
    return pd.DataFrame({
        "vec_id": np.repeat(q_ids, k_eff)[keep],
        "neighbor_id": b_ids[order.ravel()][keep],
        "rank": np.tile(np.arange(1, k_eff + 1, dtype=np.int32),
                        n_q)[keep],
        "cos": np.round(sel_cos, 6) if round_cos else sel_cos})


def lsh_bucket_key(vec: Column, dims) -> Column:
    """Sign-bit bucket key over fixed embedding dimensions."""
    bits = [F.when(vec[d] >= 0, F.lit("1")).otherwise(F.lit("0"))
            for d in dims]
    return F.concat(*bits)


def _banded(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, bi, bkey) — one SLIM row per ``DEFAULT_SIGN_BANDS``
    band.  Deliberately drops the vector: the banded relation is the
    widest in any LSH plan (n_bands × N rows) and feeds the candidate
    shuffle, so carrying the embedding here would serialize every
    vector n_bands× through the heaviest exchange.  Consumers join
    vectors back ONCE, after the candidate set is deduped (see
    :func:`_join_vecs_back`)."""
    structs = [F.struct(F.lit(i).alias("bi"),
                        lsh_bucket_key(F.col(vec_col), dims).alias("bkey"))
               for i, dims in enumerate(DEFAULT_SIGN_BANDS)]
    return (df.select(F.col(id_col).alias("vec_id"),
                      F.explode(F.array(*structs)).alias("band"))
            .select("vec_id",
                    F.col("band.bi").alias("bi"),
                    F.col("band.bkey").alias("bkey")))


def _assert_unique_ids(df: DataFrame, id_col: str, caller: str) -> None:
    """Enforce a kernel's precondition that *id_col* is a key.

    One aggregation job with an early-out ``take(1)`` (map-side partial
    counts make this a narrow scan + one small shuffle of (id, count)
    pairs — cheap next to the band shuffle it protects).  A duplicated
    id would silently FAN OUT every candidate pair it touches through
    the two equi-joins in :func:`_join_vecs_back`, and would emit one
    verdict or tf row per input row from the per-document text kernels
    (``text_analysis``); failing loudly here turns that silent row
    multiplication into a diagnosable error."""
    dup = (df.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > 1).take(1))
    if dup:
        raise ValueError(
            f"{caller}: id column {id_col!r} is not unique (e.g. "
            f"{id_col}={dup[0][0]!r} appears {dup[0][1]}×) — "
            "dropDuplicates on the id column upstream")


def _join_vecs_back(cand: DataFrame, df: DataFrame, id_col: str,
                    vec_col: str, left: str, right: str) -> DataFrame:
    """Attach both vectors to a deduped candidate-pair relation with
    two equi-joins against the (id, vec) side.  Each vector crosses the
    wire once per pair it participates in — versus n_bands× for every
    row when the band relation carries the payload — and the join input
    is the candidate set, already orders of magnitude smaller than the
    banded relation.

    Precondition: *id_col* is a key (unique per row), which
    :func:`_band_pair_cos` checks with :func:`_assert_unique_ids`
    before any join."""
    va = df.select(F.col(id_col).alias("_vida"),
                   F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("_vidb"),
                   F.col(vec_col).alias("vb"))
    return (cand
            .join(va, F.col(left) == F.col("_vida")).drop("_vida")
            .join(vb, F.col(right) == F.col("_vidb")).drop("_vidb"))


# Per-chunk budget for a kernel's rows×N float64 similarity matrix.
# 128 MB ⇒ e.g. 838 probe rows against a 20k-vector index, 83 against
# 200k — worker memory stays flat as the index grows while chunks stay
# large enough for BLAS efficiency.
_SIMS_CHUNK_BYTES = 128 << 20


def _sims_chunks(n_rows: int, n_index: int,
                 budget: int = _SIMS_CHUNK_BYTES):
    """(lo, hi) row slices sized so rows×n_index float64 ≤ budget."""
    step = max(1, budget // (8 * max(1, n_index)))
    for lo in range(0, n_rows, step):
        yield lo, min(n_rows, lo + step)


def _cos_chunks(q, idx, idx_norms):
    """(lo, hi, cos): cosine of query rows ``q[lo:hi]`` against every
    row of the index matrix *idx* (row norms *idx_norms*), one
    :func:`_sims_chunks` slice at a time — the one query×index cosine
    of the brute-force, IVF assignment and IVF per-cell kernels, so
    each chunk's float64 matrix stays within ``_SIMS_CHUNK_BYTES``
    whatever the index size.  Rows are independent: chunking changes
    no value.  ``cos`` is a fresh array the caller may mutate."""
    import numpy as np

    q_norms = np.sqrt((q * q).sum(axis=1))
    for lo, hi in _sims_chunks(len(q), len(idx)):
        cos = q[lo:hi] @ idx.T
        np.divide(cos, q_norms[lo:hi, None] * idx_norms[None, :],
                  out=cos)   # in place — same IEEE divide
        yield lo, hi, cos


def _pair_cos(pairs: DataFrame, left: str, right: str) -> DataFrame:
    """(left, right, cos) from a candidate-pair relation carrying both
    vectors as ``va``/``vb``.

    Bit-identical to the SQL oracles' cosine,
    ``list_dot_product(a, b) / sqrt(list_dot_product(a, a) *
    list_dot_product(b, b))`` over ``DOUBLE[]``: products in double
    after the widening, and the three sums folded STRICTLY
    left-to-right (the kernel loops over the dimension axis, vectorized
    across pairs), with ``dot / sqrt(na * nb)`` at the end.  Symmetric
    bit for bit — the products commute, and so does ``na * nb`` — so a
    pair scored as (a, b) also serves (b, a).  A Python kernel because
    Spark evaluates higher-order-function lambdas interpreted per
    element, which measured as the dominant cost of the LSH candidate
    scoring; this kernel runs ~3×dim vectorized ops per batch."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType([pairs.schema[left], pairs.schema[right],
                           T.StructField("cos", T.DoubleType())])

    def kern(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            a = _vec_matrix(pdf["va"])
            b = _vec_matrix(pdf["vb"])
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for d in range(a.shape[1]):
                dot += a[:, d] * b[:, d]
                na += a[:, d] * a[:, d]
                nb += b[:, d] * b[:, d]
            yield pd.DataFrame({left: pdf[left], right: pdf[right],
                                "cos": dot / np.sqrt(na * nb)})

    return pairs.select(left, right, "va", "vb").mapInPandas(
        kern, schema=schema)


def _band_pair_cos(df: DataFrame, id_col: str, vec_col: str,
                   caller: str) -> DataFrame:
    """(doc1, doc2, cos) for every pair doc1 < doc2 that shares at
    least one sign-bit band key — the one LSH candidate join behind
    :func:`embedding_neardup_pairs` and :func:`lsh_bucketed_topk`.

    ``id_col`` must be unique per row (vectors are joined back onto
    deduped candidates by id, so a duplicated id would fan pairs out
    per duplicate); checked eagerly (one cheap agg + early-out), with
    *caller* named in the error."""
    _assert_unique_ids(df, id_col, caller)
    banded = _banded(df, id_col, vec_col)
    a, b = banded.alias("a"), banded.alias("b")
    # a pair may collide in several bands — dedupe ids-only candidates
    # BEFORE vectors enter any shuffle
    cand = (a.join(b, (F.col("a.bi") == F.col("b.bi"))
                   & (F.col("a.bkey") == F.col("b.bkey"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("doc1"),
                    F.col("b.vec_id").alias("doc2"))
            .distinct())
    return _pair_cos(
        _join_vecs_back(cand, df, id_col, vec_col, "doc1", "doc2"),
        "doc1", "doc2")


def embedding_neardup_pairs(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: pairs sharing any
    sign-bit band key with cosine ≥ threshold (the dedup-family variant
    of the LSH search — near-dups agree on sign almost everywhere, so
    each band catches them with high probability and the band union
    compounds the recall).  ``id_col`` must be unique per row — see
    :func:`_band_pair_cos`."""
    return (_band_pair_cos(df, id_col, vec_col, "embedding_neardup_pairs")
            .filter(F.col("cos") >= threshold)
            .select("doc1", "doc2", F.round("cos", 6).alias("cos")))


def lsh_bucketed_topk(df: DataFrame, id_col: str, vec_col: str,
                      k: int = 1) -> DataFrame:
    """Approximate top-k: candidates restricted to pairs sharing at
    least one sign-bit band key; same output shape as
    :func:`brute_force_topk` (vectors in empty buckets yield no rows —
    approximate by design).  ``id_col`` must be unique per row — see
    :func:`_band_pair_cos`.

    Each candidate pair is scored once and emitted in both directions
    (:func:`_pair_cos` is symmetric bit for bit)."""
    pairs = _band_pair_cos(df, id_col, vec_col, "lsh_bucketed_topk")
    pairs = pairs.select(F.inline(F.array(
        F.struct(F.col("doc1").alias("vec_id"),
                 F.col("doc2").alias("neighbor_id"), "cos"),
        F.struct(F.col("doc2").alias("vec_id"),
                 F.col("doc1").alias("neighbor_id"), "cos"))))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(),
                                             F.col("neighbor_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "neighbor_id", "rank",
                    F.round("cos", 6).alias("cos")))


def _ivf_assign(df: DataFrame, id_col: str, vec_col: str,
                n_cells: int, codebook: DataFrame | None,
                nprobe: int = 1) -> DataFrame:
    """Shared IVF assignment stage: broadcast the codebook, rank each
    vector's ``nprobe`` max-cosine centroids with BLAS matmuls over
    :func:`_cos_chunks` slices of each Arrow batch (ties → lowest
    centroid id), so the batch × codebook cosine matrix stays within
    ``_SIMS_CHUNK_BYTES`` even at the ``_MAX_CODEBOOK`` bound.  Returns
    (vec_id, cell, probe_rank, vec): probe_rank 0 is the *home* cell
    (where the vector is indexed); ranks 1..nprobe-1 are the extra
    cells the vector probes as a query.

    ``codebook`` is a (cid, cvec) DataFrame — the k-means codebook a
    production run trains offline.  When omitted, the ``n_cells``
    lowest-id vectors stand in (deterministic, test/bench default); the
    plan is identical either way."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if codebook is None:
        codebook = (df.filter(F.col(id_col) < n_cells)
                    .select(F.col(id_col).alias("cid"),
                            F.col(vec_col).alias("cvec")))
    cents = codebook.select("cid", "cvec") \
                    .orderBy("cid").limit(_MAX_CODEBOOK + 1).collect()
    if len(cents) > _MAX_CODEBOOK:
        raise ValueError(
            f"ivf codebook exceeds {_MAX_CODEBOOK} centroids — that no "
            "longer broadcasts; shard the index or coarsen the codebook")
    if len(cents) < n_cells:
        raise ValueError(
            f"ivf codebook needs {n_cells} centroids; found {len(cents)} "
            "(a degenerate codebook re-quadratics the per-cell search — "
            "train/choose a full one)")
    cids = np.array([r["cid"] for r in cents], dtype=np.int64)
    cmat = _vec_matrix([r["cvec"] for r in cents])
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((cids, cmat, cnorm))

    assign_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.LongType()),
        T.StructField("probe_rank", T.IntegerType()),
        T.StructField("vec", df.schema[vec_col].dataType),
    ])
    n_probe = min(nprobe, len(cids))

    def assign(batches):
        ci, cm, cn = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            # nprobe 1: argmax returns the FIRST max → lowest cid on
            # ties (cids are collected in ascending cid order).  Else
            # cos desc, cid asc — same total order as the SQL twin's
            # row_number() OVER (ORDER BY ccos DESC, cid ASC): a STABLE
            # argsort on -cos breaks ties toward the lower index = lower
            # cid.  One batched sort per chunk + a repeat-emit; no
            # Python-level per-row loop (a full sort beats argpartition
            # here because boundary ties must order exactly like the
            # SQL twin).
            order = np.concatenate([
                cos.argmax(axis=1)[:, None] if n_probe == 1
                else np.argsort(-cos, axis=1, kind="stable")[:, :n_probe]
                for _, _, cos in _cos_chunks(_vec_matrix(pdf[vec_col]),
                                             cm, cn)])
            rep = np.repeat(np.arange(len(ids)), n_probe)
            yield pd.DataFrame({
                "vec_id": ids[rep],
                "cell": ci[order.ravel()],
                "probe_rank": np.tile(
                    np.arange(n_probe, dtype=np.int32), len(ids)),
                "vec": pdf[vec_col].take(rep).reset_index(drop=True)})

    # Spread the assignment kernel like the brute-force probe side: the
    # compact parquet input is otherwise a single task, serializing the
    # per-batch matmuls on one core.  Per-row output is independent of
    # the partitioning, so results are unchanged.
    from ..partitioning import widen_for_cpu
    return widen_for_cpu(df.select(id_col, vec_col), id_col).mapInPandas(
        assign, schema=assign_schema)


def ivf_cell_stats(df: DataFrame, id_col: str, vec_col: str,
                   n_cells: int = 16,
                   codebook: DataFrame | None = None) -> DataFrame:
    """Cell-size telemetry: (cell, n_vecs) histogram.  Run before a
    big IVF job: a cell holding ``m`` vectors costs ``m×m`` cosines in
    :func:`ivf_topk`, so a skewed cell (hot centroid) re-quadratics the
    search exactly like an oversized LSH bucket.  If one dominates,
    retrain the codebook with more cells (n_cells ∝ N) or split the hot
    cell.  The assignment's memory is bounded by ``_SIMS_CHUNK_BYTES``
    per chunk (see :func:`_ivf_assign`)."""
    return (_ivf_assign(df, id_col, vec_col, n_cells, codebook)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vecs")))


def ivf_topk(df: DataFrame, id_col: str, vec_col: str, k: int = 1,
             n_cells: int = 16,
             codebook: DataFrame | None = None,
             nprobe: int = 1) -> DataFrame:
    """IVF-style approximate top-k: index every vector in its nearest
    centroid's cell ("inverted file"), search the ``nprobe``
    nearest-centroid cells per query.

    ``codebook`` — a (cid, cvec) DataFrame trained offline (k-means);
    defaults to the ``n_cells`` lowest-id vectors, a deterministic
    stand-in with the identical plan.  ``nprobe`` is the classic IVF
    recall/cost knob: 1 searches only the home cell (fastest, misses
    true neighbors whose home differs); n_cells degenerates to exact
    brute force.  Cost scales linearly — each query row is replicated
    ``nprobe``× into the cell shuffle and scores against each probed
    cell's index matrix.

    1. collect + broadcast the (tiny) codebook;
    2. Arrow-batched assignment kernel: chunked BLAS matmuls;
       per vector, the top-``nprobe`` cells by centroid cosine (ties →
       lowest centroid id); rank 0 is the *home* cell where the vector
       is indexed;
    3. one shuffle on ``cell``, then a per-cell BLAS kernel scores all
       probing queries against the cell's home vectors and emits each
       query's local top-k (E[cell] = N/n_cells; n_cells scales with N
       like the LSH bit count, see the module docstring);
    4. for ``nprobe`` > 1, one window re-ranks the per-cell candidates
       globally (a global top-k neighbor is always inside some probed
       cell's local top-k, so per-cell top-k candidates suffice).

    No per-pair rows ever materialize — the quadratic lives inside
    per-cell matmuls over :func:`_cos_chunks` slices, so both kernels'
    memory is bounded by ``_SIMS_CHUNK_BYTES`` per chunk whatever the
    codebook or cell size; a hot cell still costs time, so check
    :func:`ivf_cell_stats` first.  Output shape matches
    :func:`brute_force_topk`; vectors alone in their cell yield no rows
    at nprobe=1 (approximate by design)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    assigned = _ivf_assign(df, id_col, vec_col, n_cells, codebook,
                           nprobe=nprobe)

    out_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def cell_topk(key, pdf):
        # index side: home vectors only; query side: every probe row.
        # Chunked batched matmuls + batched selection via _emit_topk
        # (raw cos — rounding happens at the edge, after the global
        # re-rank).  A cell with no home vector is an empty index, which
        # _emit_topk answers with its typed empty frame.
        ids_q = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat_q = _vec_matrix(pdf["vec"])
        home = np.flatnonzero(pdf["probe_rank"].to_numpy() == 0)
        home = home[np.argsort(ids_q[home], kind="stable")]  # tie order
        ids_i, mat_i = ids_q[home], mat_q[home]
        norm_i = np.sqrt((mat_i * mat_i).sum(axis=1))
        parts = [_emit_topk(ids_q[lo:hi], ids_i, cos, k, round_cos=False)
                 for lo, hi, cos in _cos_chunks(mat_q, mat_i, norm_i)]
        return parts[0] if len(parts) == 1 else pd.concat(
            parts, ignore_index=True)

    local = assigned.groupBy("cell").applyInPandas(
        cell_topk, schema=out_schema)
    if nprobe > 1:
        # global re-rank over RAW cos (rounding only at the edge, so
        # sub-1e-6 differences order exactly like the SQL twin)
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc())
        local = (local.drop("rank")
                 .withColumn("rank", F.row_number().over(w).cast("int"))
                 .filter(F.col("rank") <= k)
                 .select("vec_id", "neighbor_id", "rank", "cos"))
    return local.withColumn("cos", F.round("cos", 6))


def train_ivf_codebook(df: DataFrame, id_col: str, vec_col: str,
                       n_cells: int = 16, n_iter: int = 2) -> DataFrame:
    """Distributed spherical k-means (Lloyd's) trainer for the IVF
    codebook — the "trained offline" step :func:`_ivf_assign`'s
    docstring promises, as a Spark job.

    Each iteration is ONE narrow ``mapInPandas`` pass over the corpus:
    every partition assigns its vectors to their max-cosine centroid
    with BLAS matmuls over ``_sims_chunks`` row slices (each chunk's
    float64 matrix within ``_SIMS_CHUNK_BYTES``) and emits PARTIAL
    ``(cell, count, sum-of-unit-vectors)`` rows — the map-side combine
    — and the driver reduces the ≤ ``n_partitions × n_cells`` tiny
    partials into the next centroid matrix.  The corpus never crosses a
    shuffle; the only data movement per iteration is ``O(partitions ×
    n_cells × dim)`` floats.  This is the textbook scalable k-means shape (the
    same partial-sum pattern MLlib uses), kept dependency-free and
    cosine-metric to match the assignment kernel.

    Deterministic: init = the ``n_cells`` lowest-id vectors (matching
    :func:`_ivf_assign`'s default codebook), assignment ties break to
    the lowest cid (stable argmax over ascending-cid centroids), and
    partials reduce in (partition, cell) order so float sums associate
    identically on every run.  Updates are spherical — mean of UNIT
    vectors, re-normalized — and an empty cell keeps its previous
    centroid.  Returns a ``(cid, cvec)`` codebook DataFrame that feeds
    the ``codebook=`` parameter of :func:`ivf_topk` /
    :func:`ivf_cell_stats`; cids are the init vector ids.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if n_cells > _MAX_CODEBOOK:
        raise ValueError(
            f"train_ivf_codebook: n_cells {n_cells} exceeds the "
            f"{_MAX_CODEBOOK} broadcast bound")
    init = (df.select(F.col(id_col).alias("cid"),
                      F.col(vec_col).alias("cvec"))
            .orderBy("cid").limit(n_cells).collect())
    if len(init) < n_cells:
        raise ValueError(
            f"train_ivf_codebook: need {n_cells} init vectors, found "
            f"{len(init)}")
    cids = np.array([r["cid"] for r in init], dtype=np.int64)
    cmat = _vec_matrix([r["cvec"] for r in init])
    cmat = cmat / np.sqrt((cmat * cmat).sum(axis=1))[:, None]
    k, dim = cmat.shape

    part_schema = T.StructType([
        T.StructField("pid", T.IntegerType()),
        T.StructField("cell_ix", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("psum", T.ArrayType(T.DoubleType())),
    ])
    vecs = df.select(F.spark_partition_id().alias("pid"),
                     F.col(vec_col).alias("v"))
    sc = df.sparkSession.sparkContext
    for _ in range(n_iter):
        bc = sc.broadcast(cmat)

        def partials(batches):
            cm = bc.value
            sums = np.zeros((k, dim))
            cnts = np.zeros(k, dtype=np.int64)
            pid = -1
            for pdf in batches:
                if not len(pdf):
                    continue
                pid = int(pdf["pid"].iloc[0])
                q = _vec_matrix(pdf["v"])
                q = q / np.sqrt((q * q).sum(axis=1))[:, None]
                # stable first-max → lowest cid on ties (ascending
                # cids); unit rows, so the matmul is the cosine
                cell = np.concatenate([
                    (q[lo:hi] @ cm.T).argmax(axis=1)
                    for lo, hi in _sims_chunks(len(q), k)])
                np.add.at(sums, cell, q)
                cnts += np.bincount(cell, minlength=k)
            nz = np.flatnonzero(cnts)
            if nz.size:
                yield pd.DataFrame({
                    "pid": np.full(nz.size, pid, dtype=np.int32),
                    "cell_ix": nz.astype(np.int32),
                    "cnt": cnts[nz],
                    "psum": list(sums[nz])})

        rows = vecs.mapInPandas(partials, part_schema).collect()
        sums = np.zeros((k, dim))
        cnts = np.zeros(k, dtype=np.int64)
        # (pid, cell) order → float sums associate identically per run
        for r in sorted(rows, key=lambda r: (r["pid"], r["cell_ix"])):
            sums[r["cell_ix"]] += np.asarray(r["psum"])
            cnts[r["cell_ix"]] += r["cnt"]
        nz = cnts > 0
        mean = np.where(nz[:, None],
                        sums / np.maximum(cnts, 1)[:, None], cmat)
        norm = np.sqrt((mean * mean).sum(axis=1))
        norm[norm == 0] = 1.0
        cmat = mean / norm[:, None]
    return df.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in zip(cids, cmat)],
        schema="cid long, cvec array<double>")
