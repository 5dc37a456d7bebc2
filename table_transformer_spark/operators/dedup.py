"""Deduplication operators for large-scale corpus construction.

Four families, all shuffle-conscious:

* **exact** — content fingerprint (md5 of normalized text) + hash
  groupBy; one shuffle on the fingerprint, skew-safe (fingerprints are
  uniform).
* **MinHash + banding (LSH)** — per-doc signature of K independent
  min-hashes (portable construction: lexicographic min of
  ``md5(seed || token)``), banded into buckets; candidate pairs only
  join inside a bucket, so the cross-product never materializes.
* **n-gram Jaccard** — shingle explode → inverted-index self-join
  blocked by a cheap key → integer intersection/union counts (exact
  arithmetic, no float drift).
* **SimHash** — vectorized numpy kernel (Arrow-batched ``pandas_udf``)
  producing a 64-bit signature; near-dup pairs via ``bit_count(xor)``
  Hamming distance inside blocks.

Plus the resolution stage every pair-finder feeds: **connected
components** over the pair graph (cluster ids via min-label
propagation) and **canonical-document selection** (one keeper per
cluster) — together they turn "these docs look alike" into "drop
these rows", which is the actual deliverable of corpus dedup.

At 10^12-doc scale the explode→groupBy shuffles partition by token/
shingle hash (uniform); banding keeps candidate sets tiny; blocks bound
the quadratic step; the clustering loop only ever touches the pair
relation, which is orders of magnitude smaller than the corpus.
"""

# NOTE: no `from __future__ import annotations` here — stringified type
# hints would stop pandas_udf from inferring the eval type of
# simhash_udf.

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import widen_for_cpu

__all__ = [
    "normalized_fingerprint",
    "exact_dedup_groups",
    "minhash_band_buckets",
    "ngram_jaccard_pairs",
    "simhash_udf",
    "simhash_neardup_pairs",
    "connected_components",
    "connected_components_star",
    "keep_canonical",
    "dedup_survivors",
]

MINHASH_SEEDS = tuple(f"mh{i}:" for i in range(8))


def normalized_fingerprint(text: Column) -> Column:
    """md5 of lowercased, whitespace-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate groups: (fingerprint, n_docs, canonical_id=min id)."""
    return (df.select(F.col(id_col).alias("doc"),
                      normalized_fingerprint(F.col(text_col)).alias("fp"))
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc").alias("canonical_id")))


def minhash_band_buckets(df: DataFrame, id_col: str, text_col: str,
                         seeds=MINHASH_SEEDS,
                         n_bands: int = 2) -> DataFrame:
    """Per-doc banded MinHash bucket keys + bucket sizes.

    Portable min-hash: for each seed, the lexicographic minimum of
    ``md5(seed || token)`` over the doc's tokens — a valid uniform
    min-hash family that any SQL engine reproduces bit-for-bit.  The
    signature splits into *n_bands* bands of ``len(seeds)/n_bands``
    rows; docs sharing ANY band key are candidates, so recall is
    ``1 - (1 - s^R)^B`` for Jaccard s (B=2, R=4 by default — raise B
    for higher recall, R for higher precision; a production 100 TB run
    typically uses 128 hashes in ~16 bands, which is just these two
    knobs).  Returns (band_idx, band_key, n_docs, canonical_id) for
    buckets (n_docs > 1 ⇒ near-duplicate candidates).
    """
    if len(seeds) % n_bands:
        raise ValueError("len(seeds) must divide evenly into n_bands")
    rows_per_band = len(seeds) // n_bands
    seeds_t = tuple(seeds)

    # Signature pass as an Arrow kernel instead of explode → 8×md5 →
    # groupBy: the exploded relation is |tokens| rows and every row
    # paid len(seeds) JVM md5 calls (≈ 8 × corpus token count), all to
    # compute a per-doc MIN that a narrow pass gets for free.  The
    # kernel hashes each DISTINCT token once per task (memoized row of
    # len(seeds) hex digests; min over duplicates ≡ min over
    # distincts), takes the column-wise min per doc with one numpy
    # reduce over fixed-width '<U32' rows (ASCII hex, so numpy's
    # code-point comparison ≡ the engines' lexicographic string
    # order), and emits one (doc, mh0..mhK) row per document — the
    # token stream never shuffles.  NULL text yields no row, exactly
    # as the exploded path dropped it.
    sig_schema = T.StructType(
        [T.StructField("doc", df.schema[id_col].dataType)]
        + [T.StructField(f"mh{i}", T.StringType())
           for i in range(len(seeds_t))])

    def sig_gen(batches):
        import hashlib

        cache: dict = {}
        for pdf in batches:
            out_docs = []
            out_cols: list = [[] for _ in seeds_t]
            for doc, text in zip(pdf["doc"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                if len(cache) > _SIMHASH_CACHE_MAX:
                    cache.clear()
                rows = []
                seen = set()
                for t in text.lower().split(" "):
                    if t in seen:
                        continue
                    seen.add(t)
                    h = cache.get(t)
                    if h is None:
                        h = tuple(
                            hashlib.md5((s + t).encode()).hexdigest()
                            for s in seeds_t)
                        cache[t] = h
                    rows.append(h)
                out_docs.append(doc)
                # per-seed lexicographic min over the doc's DISTINCT
                # tokens (min over duplicates ≡ min over distincts);
                # builtin min over the transposed tuples — O(doc
                # tokens) per doc, no batch-global state to rebuild
                for i, col in enumerate(zip(*rows)):
                    out_cols[i].append(min(col))
            yield pd.DataFrame(
                {"doc": pd.Series(out_docs, dtype="object"),
                 **{f"mh{i}": pd.Series(out_cols[i], dtype="object")
                    for i in range(len(seeds_t))}})

    # The trailing min-agg keeps the exploded path's EXACT semantics
    # for duplicated ids: a doc id appearing on several rows gets ONE
    # signature over the union of its rows' tokens (min of per-row
    # minima ≡ min over the union).  With unique ids (the common case)
    # the agg is a pass-through; either way it is a slim
    # (doc, 8×hex) relation with map-side partial aggregation.
    sigs = (widen_for_cpu(df, id_col)
            .select(F.col(id_col).alias("doc"),
                    F.col(text_col).alias("text"))
            .mapInPandas(sig_gen, schema=sig_schema)
            .groupBy("doc")
            .agg(*[F.min(f"mh{i}").alias(f"mh{i}")
                   for i in range(len(seeds_t))]))
    bands = [F.struct(
        F.lit(b).alias("band_idx"),
        F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}")
                           for r in range(rows_per_band)]).alias("band_key"))
        for b in range(n_bands)]
    return (sigs.select("doc", F.explode(F.array(*bands)).alias("band"))
            .select("doc", F.col("band.band_idx").alias("band_idx"),
                    F.col("band.band_key").alias("band_key"))
            .groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc").alias("canonical_id")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        block_col: str, n: int = 2,
                        min_intersection: int = 3,
                        max_df: int = 50,
                        log_dropped: bool = False) -> DataFrame:
    """Word n-gram Jaccard candidate pairs inside a blocking key.

    Output: (doc1, doc2, n_common, n_union, is_neardup) with exact
    integer counts; ``is_neardup`` ⇔ Jaccard ≥ 0.5 ⇔ 2·∩ ≥ ∪.

    **Document-frequency cap** (``max_df``): grams appearing in more
    than ``max_df`` docs within a block are dropped from the inverted
    index before the self-join.  Without it the join is quadratic in
    the hottest gram's df (Zipfian grams: a stopword bigram spans
    millions of docs at corpus scale); with it each gram contributes at
    most ``max_df²/2`` candidate pairs, so total work is
    O(n_grams · max_df²) — linear in corpus size for fixed ``max_df``.
    ``n_common`` therefore counts *rare* shared grams only (standard
    candidate-generation semantics for dedup); true near-dups share
    many rare grams and still clear ``min_intersection``.  Set
    ``log_dropped=True`` to count and log the dropped hot grams (runs
    one extra aggregation job — keep off in benchmarks).
    """
    # Shingling runs as an Arrow-batched Python kernel: Spark's
    # higher-order array functions (transform/zip_with) evaluate their
    # lambdas interpreted per element — measured ~5-10× the CPU of the
    # equivalent Python string pass over the same rows.  The kernel
    # emits one (doc, block, n_grams, gram) row per distinct gram;
    # n_grams rides along so no separate sizes relation is joined back
    # later.  Tokenization (lower + single-space split + order-dedup)
    # mirrors the SQL oracle exactly.
    out_schema = T.StructType([
        T.StructField("doc", df.schema[id_col].dataType),
        T.StructField("block", df.schema[block_col].dataType),
        T.StructField("n_grams", T.IntegerType()),
        T.StructField("gram", T.StringType()),
    ])

    def shingle_gen(batches):
        for pdf in batches:
            docs_, blocks_, sizes_, grams_ = [], [], [], []
            for doc, block, text in zip(pdf["doc"], pdf["block"],
                                         pdf["text"]):
                if not isinstance(text, str):
                    continue  # NULL text drops, matching the SQL path
                t = text.lower().split(" ")
                if len(t) < n:
                    continue
                gs = list(dict.fromkeys(
                    " ".join(t[i:i + n]) for i in range(len(t) - n + 1)))
                docs_.extend([doc] * len(gs))
                blocks_.extend([block] * len(gs))
                sizes_.extend([len(gs)] * len(gs))
                grams_.extend(gs)
            yield pd.DataFrame({"doc": docs_, "block": blocks_,
                                "n_grams": sizes_, "gram": grams_})

    # The df-cap must bound the aggregation BUFFER, not just the output:
    # a Zipfian hot gram (a stopword bigram spans millions of docs at
    # corpus scale) must never accumulate its full posting array inside
    # one reducer.  Plan:
    #
    # 1. shingle per consumer — the exploded relation feeds both the
    #    hot-gram aggregate and the anti-join probe, and re-running the
    #    (cheap, per-doc) tokenize kernel twice measured FASTER than
    #    localCheckpointing the |grams| relation to local disk and
    #    reading it back (r6 A/B: 2.8s vs 3.1s at sf1.0) — the kernel
    #    is a narrow string pass while the checkpoint is a full
    #    write+read of the widest relation in the plan;
    # 2. per-gram document frequency via count aggregation (map-side
    #    partial agg: O(1) state per key, the shuffled relation is one
    #    row per distinct gram), keep only the HOT side (df > max_df)
    #    — the Zipf head, small at any corpus scale;
    # 3. left-ANTI join the exploded relation against the hot grams.
    #    The filter side being the small one, AQE turns this into a
    #    broadcast anti-join at runtime, so hot-gram occurrences are
    #    dropped map-side and never shuffle;
    # 4. collect_list over the survivors — the largest posting buffer
    #    any task ever holds is max_df entries, and the groupBy's
    #    shuffle is the only full pass over the (already-thinned)
    #    gram stream.
    exploded = (widen_for_cpu(df, id_col)
                .select(F.col(id_col).alias("doc"),
                        F.col(block_col).alias("block"),
                        F.col(text_col).alias("text"))
                .mapInPandas(shingle_gen, schema=out_schema))
    hot_grams = (exploded.groupBy("block", "gram")
                 .agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") > max_df)
                 .select("block", "gram"))
    if log_dropped:
        import logging
        logging.getLogger(__name__).info(
            "ngram_jaccard_pairs: dropped %d hot grams (df > %d)",
            hot_grams.count(), max_df)
    kept = (exploded
            .join(hot_grams, ["block", "gram"], "left_anti")
            .groupBy("block", "gram")
            .agg(F.collect_list(F.struct("doc", "n_grams"))
                 .alias("ds")))
    # posting list → candidate pairs (≤ max_df² expansion per gram,
    # pipelined, no shuffle); doc1 < doc2 canonical order
    pairs = (kept
             .select("ds", F.explode("ds").alias("a"))
             .select("a", F.explode("ds").alias("b"))
             .filter(F.col("a.doc") < F.col("b.doc"))
             .groupBy(F.col("a.doc").alias("doc1"),
                      F.col("b.doc").alias("doc2"))
             .agg(F.count(F.lit(1)).alias("n_common"),
                  F.first(F.col("a.n_grams")).alias("sz1"),
                  F.first(F.col("b.n_grams")).alias("sz2"))
             .filter(F.col("n_common") >= min_intersection))
    return (pairs
            .select("doc1", "doc2", "n_common",
                    (F.col("sz1") + F.col("sz2") - F.col("n_common"))
                    .alias("n_union"))
            .withColumn("is_neardup",
                        (F.col("n_common") * 2 >= F.col("n_union"))
                        .cast("int")))


# token-hash memo bound: md5 is the kernel's hot loop and corpus
# vocabulary is Zipfian, so a per-task memo turns almost every token
# into a dict hit.  The cap keeps worker memory bounded on adversarial
# vocabularies (clear-and-refill beats an LRU here: one wipe per 2^20
# DISTINCT tokens is amortized noise, and correctness never depends on
# the cache).
_SIMHASH_CACHE_MAX = 1 << 20

# flat-token bound per vectorized simhash vote chunk: the tokens×64
# bit matrix stays ≤ ~128 MB however long the documents are
_SIMHASH_VOTE_TOKEN_BUDGET = 1 << 18


@F.pandas_udf(T.LongType())
def simhash_udf(texts_iter: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-bit SimHash over whitespace tokens — vectorized numpy kernel.

    Per doc: hash each token to 64 bits (first 8 bytes of md5,
    big-endian — portable: any SQL engine reproduces it as the first 16
    hex chars of ``md5(tok)``), sum ±1 per bit position, take the sign
    bit-vector.  Empty docs get signature 0.

    Iterator form so the token→hash memo is built once per task and the
    per-bit vote sums run as ONE batched numpy pass (``add.reduceat``
    over the flattened token stream, docs as contiguous segments)
    instead of a per-doc Python loop over 64-column bit matrices.
    """
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)[None, :]
    one = np.uint64(1)
    cache: dict = {}
    for texts in texts_iter:
        out = np.zeros(len(texts), dtype=np.int64)
        flat: list = []       # token hashes, docs contiguous
        counts: list = []     # tokens per non-empty doc
        rows: list = []       # output row per non-empty doc
        for i, text in enumerate(texts):
            if not isinstance(text, str):
                continue  # NULL text → signature 0, matching the oracle
            toks = text.lower().split()
            if not toks:
                continue
            if len(cache) > _SIMHASH_CACHE_MAX:
                cache.clear()
            get = cache.get
            for t in toks:
                h = get(t)
                if h is None:
                    h = int.from_bytes(
                        hashlib.md5(t.encode()).digest()[:8],
                        "big", signed=False)
                    cache[t] = h
                flat.append(h)
            counts.append(len(toks))
            rows.append(i)
        if rows:
            hs = np.array(flat, dtype=np.uint64)
            n_toks = np.array(counts, dtype=np.int64)
            ends = np.cumsum(n_toks)
            starts = np.concatenate(([0], ends[:-1])).astype(np.intp)
            rows_ix = np.array(rows, dtype=np.intp)
            # vectorize over DOC CHUNKS bounded by flat token count:
            # the tokens×64 bit matrix would otherwise scale with the
            # whole batch's token stream (long docs × wide batches →
            # GBs); ≤2^18 tokens keeps it ≤ ~128 MB while still
            # amortizing the numpy pass over many docs
            budget = _SIMHASH_VOTE_TOKEN_BUDGET
            d0 = 0
            n_docs = len(counts)
            while d0 < n_docs:
                d1 = d0 + 1
                while d1 < n_docs and ends[d1 - 1] - starts[d0] + \
                        n_toks[d1] <= budget:
                    d1 += 1
                lo, hi = starts[d0], ends[d1 - 1]
                bits = ((hs[lo:hi, None] >> shifts) & one).astype(
                    np.int32)
                seg_starts = (starts[d0:d1] - lo).astype(np.intp)
                ones_per_bit = np.add.reduceat(bits, seg_starts, axis=0)
                votes = 2 * ones_per_bit - n_toks[d0:d1, None]
                sigs = ((votes > 0).astype(np.uint64) << shifts).sum(
                    axis=1, dtype=np.uint64)
                out[rows_ix[d0:d1]] = sigs.astype(np.int64)
                d0 = d1
        yield pd.Series(out)


def simhash_neardup_pairs(df: DataFrame, id_col: str, text_col: str,
                          block_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance within a block.

    **Pigeonhole banding** (Manku et al., WWW'07 shape): the 64-bit
    signature is split into ``max_hamming + 1`` contiguous bands; any
    pair within Hamming ≤ k differs in ≤ k bands, so it matches exactly
    on at least one band.  Candidates equi-join on
    (block, band_index, band_value) — never a block-wide cross join —
    then the exact Hamming filter removes banding false positives, so
    results are *identical* to the naive all-pairs semantics.

    Band width is ``64 // (k+1)``-ish bits; selectivity per band is
    ~2^width, so keep k small (the classic near-dup radius is k=3 →
    4 bands × 16 bits → 65,536 bucket values per band; expected bucket
    size N/65,536 keeps the within-bucket join linear-ish at corpus
    scale).  A large k (say 16 → 17 bands × ~4 bits) degenerates to
    ≤16 buckets per band and re-quadratics the join — don't.
    """
    n_bands = max_hamming + 1
    bounds = [round(64 * i / n_bands) for i in range(n_bands + 1)]
    # localCheckpoint: the banded relation self-joins, and the join's
    # build side is a BroadcastExchange — NOT a reusable shuffle — so
    # without materialization the whole scan → repartition → signature
    # kernel subtree executes once per join side (the r6 plan audit
    # found two ArrowEvalPython nodes).  Checkpointing the slim
    # (doc, block, sig) relation runs the kernel exactly once.
    sigs = (widen_for_cpu(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.col(block_col).alias("block"),
        simhash_udf(F.col(text_col)).alias("sig"))
        .localCheckpoint(eager=False))
    band_structs = []
    for i in range(n_bands):
        lo, hi = bounds[i], bounds[i + 1]
        if hi - lo >= 64:
            # max_hamming=0 → a single 64-bit band: the full signature
            # is the band value (a 64-bit mask won't fit a LongType lit)
            bv = F.col("sig")
        else:
            mask = (1 << (hi - lo)) - 1
            bv = F.shiftrightunsigned("sig", lo).bitwiseAND(F.lit(mask))
        band_structs.append(F.struct(
            F.lit(i).alias("bi"), bv.alias("bv")))
    banded = (sigs.select("doc", "block", "sig",
                          F.explode(F.array(*band_structs)).alias("band"))
              .select("doc", "block", "sig",
                      F.col("band.bi").alias("bi"),
                      F.col("band.bv").alias("bv")))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.bi") == F.col("b.bi"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.doc") < F.col("b.doc")))
            # a pair can match on several bands — dedupe before the
            # Hamming check (sig is functionally dependent on doc)
            .groupBy(F.col("a.doc").alias("doc1"),
                     F.col("b.doc").alias("doc2"))
            .agg(F.first(F.col("a.sig")).alias("sig1"),
                 F.first(F.col("b.sig")).alias("sig2")))
    ham = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2"))).cast("int")
    return (cand.select("doc1", "doc2", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def connected_components(pairs: DataFrame, src: str = "doc1",
                         dst: str = "doc2",
                         max_iter: int = 25) -> DataFrame:
    """Cluster assignment over a near-duplicate pair graph.

    Returns ``(node, cluster_id)`` for every node that appears in
    *pairs*, where ``cluster_id`` is the minimum node id reachable in
    the undirected graph — the standard canonical component label.
    Degenerate self-pairs (a pair-finder never emits them) are
    ignored, here and in :func:`connected_components_star`.

    **Algorithm**: min-label propagation as a driver-side loop of
    DataFrame joins.  Each round every node adopts
    ``min(own label, neighbours' labels)``; labels converge in
    O(graph diameter) rounds.  Near-dup components are shallow by
    construction (an article and its mirrors all pair with each
    other), so the round count is small and independent of corpus
    size.  Each round costs two node-id equi-joins and one groupBy —
    all over the PAIR relation, which is orders of magnitude smaller
    than the corpus, so the loop never rescans documents.  For
    adversarially deep graphs use
    :func:`connected_components_star` (O(log²) rounds); the simple
    propagation is the default because dedup graphs don't exhibit
    long paths at any scale.

    Lineage is truncated with ``localCheckpoint`` every round
    (iterative joins otherwise stack an unbounded plan and re-execute
    prior rounds); the input edge relation is checkpointed once so
    upstream pair-finding (LSH joins, simhash kernels) runs a single
    time no matter how many rounds follow.  Raises ``RuntimeError``
    after *max_iter* rounds rather than returning partial labels.
    """
    e = (pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")))
    # eager=False on the edge checkpoint: the eager label-init job
    # below materializes it as a side effect, so the loop setup costs
    # ONE driver-blocking job instead of two; every round still reads
    # the persisted edge blocks, never the upstream pair pipeline
    sym = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
           .distinct()
           .localCheckpoint(eager=False))
    # init fused with round 1: with every label starting as its own
    # node id, the first propagation round computes exactly
    # least(node, min(neighbour ids)) — so seed the loop with that
    # aggregate directly (one groupBy over the checkpointed edges, no
    # join) and save a full join+checkpoint round every run
    labels = (sym.groupBy("a").agg(F.min("b").alias("nbr0"))
              .select(F.col("a").alias("node"),
                      F.least(F.col("a"), F.col("nbr0")).alias("label"))
              .localCheckpoint(eager=True))
    def _step(lbl):
        """One min-label propagation step (same relation shape in and
        out: (node, label) plus any carried columns)."""
        nbr = (sym.join(lbl.select(F.col("node").alias("b"),
                                   F.col("label").alias("b_label")), "b")
               .groupBy("a").agg(F.min("b_label").alias("nbr_label")))
        return (lbl
                .join(nbr.select(F.col("a").alias("node"), "nbr_label"),
                      "node", "left")
                .withColumn("label",
                            F.least(F.col("label"),
                                    F.coalesce("nbr_label", "label")))
                .drop("nbr_label"))

    for _ in range(max_iter):
        # TWO propagation steps per checkpointed round: the per-round
        # fixed cost (checkpoint job + convergence scan) dominates the
        # tiny-relation joins, so composing two steps into one job
        # halves the round count for the same reachability growth.
        # The original label rides along as label0, so the convergence
        # check still compares across the whole round on materialized
        # data — no extra join or shuffle.
        merged = (_step(_step(
            labels.withColumn("label0", F.col("label"))))
            .localCheckpoint(eager=True))
        # labels only ever decrease ⇒ strictly-less ⇔ changed
        changed = (merged.filter(F.col("label") < F.col("label0"))
                   .limit(1).count())
        labels = merged.select("node", "label")
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components: no convergence after {max_iter} rounds — "
        "the pair graph has a path longer than expected for near-dup "
        "data; raise max_iter or use connected_components_star")


def connected_components_star(pairs: DataFrame, src: str = "doc1",
                              dst: str = "doc2",
                              max_iter: int = 40) -> DataFrame:
    """:func:`connected_components` for adversarially DEEP pair
    graphs: alternating large-star/small-star (Kiveris et al.,
    *Connected Components in MapReduce and Beyond*, SoCC'14).

    Same ``(node, cluster_id)`` contract and the same per-round cost
    shape (one groupBy + one join over the edge relation), but
    convergence in O(log²) rounds instead of O(diameter): a
    million-node path labels in ~a dozen rounds where propagation
    needs a million.  Each round REWRITES the edge set instead of
    carrying a separate label relation:

    - **large-star**: per node u with m = min(N(u) ∪ {u}), replace
      every edge to a LARGER neighbour v > u with (v, m) — far ends
      of stars shortcut to the local minimum;
    - **small-star**: per node u over its smaller neighbours
      (directed edges u→v, v < u), replace them all with (v, m),
      m = min — the star flattens onto its minimum.

    At the fixpoint every edge is (node, component-min), which is the
    answer.  Convergence is detected on the checkpointed round result
    via (count, hash-sum) of the edge set — a local scan, no extra
    shuffle (the astronomically-unlikely hash-sum collision costs one
    extra no-op round, never a wrong answer, because a fixpoint stays
    a fixpoint).  Preferred over propagation only when depth is
    actually expected: its constant factor is ~2× per round and it
    shuffles edges rather than labels.
    """
    e = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u") != F.col("v")))
    # orient every edge large→small so both phases group on "u"
    e = (e.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
         .distinct()
         .localCheckpoint(eager=True))
    prev_sig = None
    for _ in range(max_iter):
        # --- large-star over the symmetrized edges -------------------
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        mins = (sym.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m")))
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
        # --- small-star over the large→small directed edges ----------
        mins2 = (large.groupBy("u")
                 .agg(F.min("v").alias("m")))   # v < u ⇒ min(N⁻(u))
        small = (large.join(mins2, "u")
                 .select(F.col("v").alias("node"), F.col("m"),
                         F.col("u").alias("center"))
                 .select(F.explode(F.array(
                     F.struct(F.col("node").alias("u"),
                              F.col("m").alias("v")),
                     F.struct(F.col("center").alias("u"),
                              F.col("m").alias("v")))).alias("s"))
                 .select("s.u", "s.v")
                 .filter(F.col("u") != F.col("v"))
                 .distinct()
                 .localCheckpoint(eager=True))
        e = small
        sig = small.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("u", "v").cast("long")).alias("h")).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            roots = e.select(F.col("v").alias("node"),
                             F.col("v").alias("cluster_id")).distinct()
            return (e.select(F.col("u").alias("node"),
                             F.col("v").alias("cluster_id"))
                    .union(roots).distinct())
        prev_sig = sig
    raise RuntimeError(
        f"connected_components_star: no convergence after {max_iter} "
        "rounds (O(log² n) expected — check for id-type overflow or "
        "raise max_iter)")


def keep_canonical(docs: DataFrame, clusters: DataFrame,
                   id_col: str = "doc_id",
                   quality_col: str = "n_chars") -> DataFrame:
    """One canonical keeper per near-dup cluster.

    *clusters* is :func:`connected_components` output
    ``(node, cluster_id)``; *docs* carries ``id_col`` and a
    ``quality_col`` to rank by.  The keeper is the highest-quality
    member, ties broken by the smallest id (deterministic).  Returns
    ``(cluster_id, keep_id, n_members)`` — every non-keeper member is
    a drop candidate, which is the actionable output of corpus dedup.

    One join on doc id (clusters side is the small pair-graph node
    set — AQE broadcasts it against a corpus-scale *docs*) and one
    window+groupBy pair that share the ``cluster_id`` hash
    partitioning, so the whole resolution costs a single shuffle of
    the clustered rows only.
    """
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col(quality_col).desc(), F.col("node").asc()))
    members = (docs.select(F.col(id_col).alias("node"), quality_col)
               .join(clusters, "node"))
    return (members.withColumn("rn", F.row_number().over(w))
            .groupBy("cluster_id")
            .agg(F.max(F.when(F.col("rn") == 1, F.col("node")))
                 .alias("keep_id"),
                 F.count(F.lit(1)).alias("n_members")))


def dedup_survivors(docs: DataFrame, clusters: DataFrame,
                    keepers: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """The corpus with near-duplicate drop candidates removed — the
    end product of the dedup pipeline (pairs → components → keepers →
    **this**).

    *clusters* is :func:`connected_components` output, *keepers* is
    :func:`keep_canonical` output; the drop-list is every clustered
    node that is not its cluster's keeper, and the result is *docs*
    left-anti-joined against it.  Unclustered docs (the vast majority)
    survive untouched.

    Both joins shuffle on the uniform doc-id key.  The drop-list is
    proportional to the DUPLICATED portion of the corpus, not the
    pair-graph alone, so it is deliberately NOT broadcast-hinted: at
    10^12 docs with a 30% dup rate it is itself hundreds of billions
    of rows, and AQE will still pick a broadcast anti-join whenever a
    small corpus keeps it under the threshold.
    """
    drops = clusters.join(
        keepers.select(F.col("keep_id").alias("node")), "node", "left_anti")
    return docs.join(drops.select(F.col("node").alias(id_col)),
                     id_col, "left_anti")
