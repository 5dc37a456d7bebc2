"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction job end-to-end;
``queries()`` / ``oracle_sql()`` expose the operator catalog
(table_transformer_spark.driver_queries) for the DuckDB correctness
gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from table_transformer_spark.driver_queries import ORACLES, QUERIES

_ENTRY_DOCS = 24


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the table-extraction pipeline over the
    BASELINE-contract corpus.

    The input table (``documents(doc_id, spans)`` interleaved text+media,
    BASELINE.json input_hint) does not exist in the driver testdata, so
    it is synthesized deterministically on executors (seed=42), exactly
    as the tests and bench do — no external data.  Returns the ordered
    output spans (doc_id, kind, text, media_ref, offset); row count and
    schema are stable across runs and parallelism levels.
    """
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import extract

    docs = documents_df(spark, _ENTRY_DOCS)
    media = media_df(spark, _ENTRY_DOCS)
    return extract(docs, media, mode="clean")


def _extraction_query(mode: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # sf_dir carries the TPC-H-ish tables; the extraction corpus is
        # synthesized (input_hint shape) — size chosen to keep the
        # per-round check fast while covering the skew slice.
        from table_transformer_spark.fixtures.spark_io import (
            documents_df,
            media_df,
        )
        from table_transformer_spark.pipeline.extract import extract

        docs = documents_df(spark, _ENTRY_DOCS)
        media = media_df(spark, _ENTRY_DOCS)
        return extract(docs, media, mode=mode)

    return run


def _grits_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed GriTS (Top/Loc/Con + DAR) of the noisy pipeline vs
    the clean pipeline, rolled up over simple/complex/all slices.
    Not SQL-expressible (DP alignment kernels) → rows-only check."""
    from table_transformer_spark.eval.grits_distributed import (
        grits_summary,
        grits_table_metrics,
    )
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import run_tables

    docs = documents_df(spark, _ENTRY_DOCS)
    media = media_df(spark, _ENTRY_DOCS)
    true_tables = run_tables(docs, media, mode="clean")
    pred_tables = run_tables(docs, media, mode="noisy")
    return grits_summary(grits_table_metrics(true_tables, pred_tables))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Operator inventory: every SQL-expressible operator from
    SURVEY.md §2 paired with a DuckDB oracle, plus the end-to-end
    extraction pipeline and its GriTS self-evaluation (oracled against
    the fixture corpus's *designed* ground truth)."""
    out = dict(QUERIES)
    out["extract_spans_clean"] = _extraction_query("clean")
    out["extract_spans_noisy"] = _extraction_query("noisy")
    out["grits_summary_noisy_vs_clean"] = _grits_query
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (see driver_queries for the paired
    implementations).  The extraction-pipeline and GriTS-summary
    oracles are literal VALUES relations emitted from the fixture
    generator's designed truth (fixtures.design_oracle) — the same
    design-side ground truth the pytest suite checks against, fully
    independent of the Spark kernels."""
    from table_transformer_spark.fixtures.design_oracle import (
        extract_spans_oracle_sql,
        grits_summary_oracle_sql,
    )

    out = dict(ORACLES)
    spans_sql = extract_spans_oracle_sql(_ENTRY_DOCS)
    out["extract_spans_clean"] = spans_sql
    out["extract_spans_noisy"] = spans_sql
    out["grits_summary_noisy_vs_clean"] = grits_summary_oracle_sql(
        _ENTRY_DOCS)
    return out
