"""Distributed fixture-corpus materialization.

The corpus is generated *on executors* (``spark.range`` →
:func:`~table_transformer_spark.partitioning.map_rows`): every document
and page derives deterministically from its id, so generation
parallelizes embarrassingly and never funnels through the driver — the
same property the real 10^12-doc corpus would have (read from Iceberg
instead of generated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..partitioning import map_rows
from ..pipeline import schemas
from .generate import (
    corpus_media_refs,
    encode_page_payload,
    gen_document,
    synth_page,
)


def _ids(spark: SparkSession, n_docs: int) -> DataFrame:
    parts = max(spark.sparkContext.defaultParallelism, 4)
    return spark.range(n_docs, numPartitions=parts)


def _doc_row(rec):
    doc = gen_document(f"DOC{int(rec.id):07d}")
    yield {"doc_id": doc["doc_id"],
           "spans": [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in doc["spans"]]}


def _media_rows(rec):
    for ref in corpus_media_refs(gen_document(f"DOC{int(rec.id):07d}")):
        page = synth_page(ref)
        yield {"media_ref": ref, "payload": encode_page_payload(page),
               "width": page["width"], "height": page["height"]}


def documents_df(spark: SparkSession, n_docs: int) -> DataFrame:
    return map_rows(_ids(spark, n_docs), _doc_row, schemas.DOCUMENTS_SCHEMA)


def media_df(spark: SparkSession, n_docs: int) -> DataFrame:
    return map_rows(_ids(spark, n_docs), _media_rows, schemas.MEDIA_SCHEMA)


def write_corpus(spark: SparkSession, n_docs: int, out_dir: str) -> None:
    """Materialize documents + media as parquet (the test/bench stand-in
    for the Iceberg corpus tables)."""
    documents_df(spark, n_docs).write.mode("overwrite") \
        .parquet(f"{out_dir}/documents")
    media_df(spark, n_docs).write.mode("overwrite") \
        .parquet(f"{out_dir}/media")


def read_corpus(spark: SparkSession, out_dir: str):
    return (spark.read.parquet(f"{out_dir}/documents"),
            spark.read.parquet(f"{out_dir}/media"))
