"""Text analysis operators for corpus quality pipelines.

All pure column algebra (JVM-side): token counting with a BPE-ish
regex, language-signal heuristics, quality scoring with exact integer
features, and document fingerprinting.  Each has a 1:1 ANSI-SQL twin,
so the whole family is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _assert_unique_ids

__all__ = [
    "token_count_expr",
    "quality_features",
    "lang_signal",
    "fingerprints",
    "repetition_filters",
    "tfidf_top_terms",
]

TOKEN_PATTERN = "[a-z]+|[0-9]+"


def token_count_expr(text: Column) -> Column:
    """Number of BPE-ish tokens (letter runs / digit runs)."""
    return F.size(F.regexp_extract_all(F.lower(text),
                                       F.lit(TOKEN_PATTERN), F.lit(0)))


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-integer quality features per document: word count, alpha
    char count, mean word length ×100 (floored), short-doc flag."""
    text = F.col(text_col)
    n_words = F.size(F.split(F.trim(text), r"\s+"))
    n_alpha = F.length(F.regexp_replace(F.lower(text), "[^a-z]", ""))
    return df.select(
        F.col(id_col).alias("doc"),
        n_words.cast("long").alias("n_words"),
        n_alpha.cast("long").alias("n_alpha"),
        F.floor(n_alpha * 100 / n_words).cast("long").alias("mean_wlen_x100"),
        (n_words < 20).cast("int").alias("is_short"))


def lang_signal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-distribution language signal: vowel percentage (integer
    basis points) and a coarse class — the n-gram-heuristic shape of a
    language-ID stage."""
    text = F.lower(F.col(text_col))
    n_vowel = F.length(F.regexp_replace(text, "[^aeiou]", ""))
    n_alpha = F.length(F.regexp_replace(text, "[^a-z]", ""))
    pct = F.floor(n_vowel * 1000 / n_alpha).cast("long")
    # letterless docs carry no signal — filtered, not divided by zero
    # (ANSI mode would otherwise kill the job on the first such doc)
    return (df.filter(n_alpha > 0)
            .select(
                F.col(id_col).alias("doc"),
                pct.alias("vowel_permille"),
                F.when(pct >= 380, "vowel-heavy")
                .when(pct >= 300, "latin-like")
                .otherwise("consonant-heavy").alias("lang_class")))


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stable normalized content fingerprint per document."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(F.col(id_col).alias("doc"),
                     F.md5(norm).alias("fp"),
                     F.length(norm).cast("long").alias("n_chars_norm"))


def repetition_filters(df: DataFrame, id_col: str, text_col: str,
                       max_dup_word_permille: int = 300,
                       max_top_bigram_permille: int = 180) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 shape): duplicate-word fraction and most-frequent-bigram
    fraction, exact integer permille so any SQL engine reproduces them.

    * ``dup_word_permille`` = (n_words − n_distinct_words) · 1000 /
      n_words — high for boilerplate/keyword-stuffed docs;
    * ``top_bigram_permille`` = occurrences of the most frequent word
      bigram · 1000 / n_bigrams — high for template/repeated-phrase
      docs;
    * ``keep`` applies the thresholds (defaults in the Gopher
      ballpark).

    One narrow Arrow kernel, zero shuffles: every signal is a per-doc
    statistic, so exploding |tokens| bigram rows through two
    aggregation exchanges only to re-collapse them per doc moved the
    whole token stream across the wire for nothing (guide §2.4 —
    remove shuffles outright).  The kernel computes the exact same
    integer arithmetic per doc (duplicate counts via a dict, floor of
    the same float64 divisions both engines use) and emits one row per
    document directly.

    Precondition, checked at entry (``ValueError`` otherwise):
    ``id_col`` is unique per row (one document per row).  A duplicated
    id would yield one verdict row PER input row here, where the old
    exploded path incidentally merged rows whose (id, n_words,
    n_distinct) happened to coincide — neither behavior is meaningful
    for multi-row ids; dedupe upstream.
    """
    import math

    from pyspark.sql import types as T

    _assert_unique_ids(df, id_col, "repetition_filters")
    out_schema = T.StructType([
        T.StructField("doc", df.schema[id_col].dataType),
        T.StructField("n_words", T.LongType()),
        T.StructField("dup_word_permille", T.LongType()),
        T.StructField("top_bigram_permille", T.LongType()),
        T.StructField("keep", T.IntegerType()),
    ])

    def signals(batches):
        import pandas as pd

        for pdf in batches:
            docs_, nw_, dup_, top_, keep_ = [], [], [], [], []
            for doc, text in zip(pdf["doc"], pdf["text"]):
                docs_.append(doc)
                if not isinstance(text, str):
                    # NULL text: the column-algebra path emitted
                    # (NULL, NULL, 0, NULL) for such rows
                    nw_.append(None)
                    dup_.append(None)
                    top_.append(0)
                    keep_.append(None)
                    continue
                toks = text.lower().split(" ")
                nw = len(toks)
                dup = math.floor((nw - len(set(toks))) * 1000 / nw)
                if nw >= 2:
                    counts: dict = {}
                    prev = toks[0]
                    for t in toks[1:]:
                        key = (prev, t)
                        counts[key] = counts.get(key, 0) + 1
                        prev = t
                    top = math.floor(max(counts.values()) * 1000
                                     / (nw - 1))
                else:
                    top = 0
                nw_.append(nw)
                dup_.append(dup)
                top_.append(top)
                keep_.append(int(dup <= max_dup_word_permille
                                 and top <= max_top_bigram_permille))
            yield pd.DataFrame({
                "doc": pd.Series(docs_, dtype="object"),
                "n_words": pd.Series(nw_, dtype="object"),
                "dup_word_permille": pd.Series(dup_, dtype="object"),
                "top_bigram_permille": pd.Series(top_, dtype="object"),
                "keep": pd.Series(keep_, dtype="object")})

    # keep the tokenize pass wide on compacted inputs
    from ..partitioning import widen_for_cpu
    return (widen_for_cpu(df, id_col)
            .select(F.col(id_col).alias("doc"),
                    F.col(text_col).alias("text"))
            .mapInPandas(signals, schema=out_schema))


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 3) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    corpus-characterization stage of a training-data pipeline (what
    is this document ABOUT, relative to the corpus).

    Tokens are the module's BPE-ish runs (``TOKEN_PATTERN``,
    lowercased); ``idf = ln((N+1)/(df+1))`` smoothed, ``score = tf ×
    idf``; ties rank by term ascending so the output is deterministic.
    Returns ``(doc, term, rank, score)`` with score rounded at the
    edge.

    Scale shape: the explode shuffles on the uniform ``(doc, term)``
    key; the document-frequency aggregate is Zipf-skewed on hot terms
    but moves only map-side-combined counts; the tf⋈idf equi-join is
    on ``term`` (vocabulary-sized right side — AQE broadcasts it when
    small, and its skew-join splitter handles hot terms when not);
    the final top-k is one per-doc window.  The corpus text crosses
    exactly one shuffle (the explode).  ``N`` is a driver-side scalar
    ``count()`` — one metadata-cheap job, not a collect of rows.

    Precondition, checked at entry (``ValueError`` otherwise):
    ``id_col`` is unique per row (one document per row); a duplicated
    id would emit duplicate (doc, term) tf rows where the old
    explode→groupBy path merged them.  Dedupe upstream.
    """
    _assert_unique_ids(df, id_col, "tfidf_top_terms")
    # Term frequencies computed in one narrow Arrow kernel: tf is a
    # per-doc statistic, so the explode → groupBy(doc, term) exchange
    # shuffled the whole token stream only to re-group rows that were
    # already doc-contiguous (guide §2.3 — aggregate before you
    # shuffle; here the map side finishes the aggregation).  Python
    # re.findall over the same pattern yields the same token runs;
    # counts are exact integers.  localCheckpoint because the tf
    # relation feeds BOTH the df aggregate and the score join — as a
    # narrow kernel output it would otherwise be computed twice
    # (same pattern as ngram_jaccard_pairs).
    import re

    from pyspark.sql import types as T

    tf_schema = T.StructType([
        T.StructField("doc", df.schema[id_col].dataType),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
    ])
    pat = re.compile(TOKEN_PATTERN)

    def tf_gen(batches):
        import pandas as pd

        for pdf in batches:
            docs_, terms_, tfs_ = [], [], []
            for doc, text in zip(pdf["doc"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # NULL text exploded to no rows before
                counts: dict = {}
                for t in pat.findall(text.lower()):
                    counts[t] = counts.get(t, 0) + 1
                docs_.extend([doc] * len(counts))
                terms_.extend(counts.keys())
                tfs_.extend(counts.values())
            yield pd.DataFrame({"doc": pd.Series(docs_, dtype="object"),
                                "term": pd.Series(terms_, dtype="object"),
                                "tf": pd.Series(tfs_, dtype="int64")})

    from ..partitioning import widen_for_cpu
    tf = (widen_for_cpu(df, id_col)
          .select(F.col(id_col).alias("doc"),
                  F.col(text_col).alias("text"))
          .mapInPandas(tf_gen, schema=tf_schema)
          .localCheckpoint(eager=False))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.count()
    scored = (tf.join(dfreq, "term")
              .withColumn("score",
                          F.col("tf") * F.log((F.lit(n_docs) + 1.0)
                                              / (F.col("df") + 1.0))))
    from pyspark.sql import Window
    w = Window.partitionBy("doc").orderBy(F.col("score").desc(),
                                          F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("doc", "term", "rank",
                    F.round("score", 6).alias("score")))
