"""Two-phase table→page location (corpus-ETL pattern).

The reference locates which PDF page a table lives on in two phases
(``scripts/process_pubmed.py:432-487``): a *cheap* word-set-intersection
score keeps pages scoring ≥ max/2, then an *expensive* DP alignment
reranks the survivors.  Catalyst cannot reorder through a Python
kernel, so the staging is explicit: selective DataFrame algebra first,
the Python scorer only on survivors — the canonical
cheap-filter-then-expensive-UDF topology (SURVEY.md §4).  The rerank
scores each pair with a containment LCS, cheaper than that DP on
small-vocabulary corpora where the fast phase keeps many candidates.
"""

from __future__ import annotations

from difflib import SequenceMatcher

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import map_rows

__all__ = ["candidate_pages_fast", "rerank_candidates"]


def _word_sets(df: DataFrame, id_cols: list[str], text_col: str,
               word_alias: str) -> DataFrame:
    words = F.explode(F.array_distinct(
        F.split(F.lower(F.col(text_col)), " "))).alias(word_alias)
    return df.select(*id_cols, words)


def candidate_pages_fast(pages: DataFrame, tables: DataFrame,
                         page_id: str = "page_id",
                         table_id: str = "table_id",
                         text_col: str = "text") -> DataFrame:
    """Phase 1 (get_table_page_fast, scripts/process_pubmed.py:432-446):
    score = |page words ∩ table words|; keep pages with
    2·score ≥ max score for that table (integer arithmetic)."""
    pw = _word_sets(pages, [page_id], text_col, "word")
    tw = _word_sets(tables, [table_id], text_col, "word")
    scores = (pw.join(tw, "word")
              .groupBy(table_id, page_id)
              .agg(F.count(F.lit(1)).alias("n_common")))
    w = Window.partitionBy(table_id)
    return (scores
            .withColumn("max_common", F.max("n_common").over(w))
            .filter(F.col("n_common") * 2 >= F.col("max_common"))
            .select(table_id, page_id, "n_common", "max_common"))


_SCORE_SCHEMA = T.StructType([
    T.StructField("table_id", T.LongType()),
    T.StructField("page_id", T.LongType()),
    T.StructField("sim_x1000", T.LongType()),
])


def _score_pair(rec) -> list[dict]:
    table_text = str(rec.table_text)
    m = SequenceMatcher(None, table_text, str(rec.page_text))
    lcs = sum(b.size for b in m.get_matching_blocks())
    # containment normalization: how much of the TABLE text aligns
    # into the page
    sim = lcs / len(table_text) if table_text else 0.0
    return [{"table_id": rec.table_id, "page_id": rec.page_id,
             "sim_x1000": int(sim * 1000)}]


def rerank_candidates(candidates_with_text: DataFrame) -> DataFrame:
    """Phase 2 (get_table_page_slow, scripts/process_pubmed.py:449-472):
    character-level scoring on survivors only, best page first.
    Expects columns (table_id, page_id, table_text, page_text)."""
    scored = map_rows(candidates_with_text, _score_pair, _SCORE_SCHEMA)
    w = Window.partitionBy("table_id").orderBy(F.col("sim_x1000").desc(),
                                               F.col("page_id").asc())
    return scored.withColumn("rank", F.row_number().over(w))
