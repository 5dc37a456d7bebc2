"""Partitioning / skew behavior of the extraction plan.

North-rule requirement: partition by doc_id with explicit skew handling
for multi-table documents.  The pipeline's unit of work is the *page*
(``media_ref = img://<doc_id>/p<n>``), so a document's pages hash to
different partitions by construction — doc_id partitioning salted by
page ordinal — and the explicit ``repartition(2×cores, media_ref)``
before the kernel stage overrides AQE's byte-based coalescing (tiny
bytes, heavy compute).
"""

import os
import re

import pytest

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_multi_page_docs_spread_across_partitions(spark):
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import media_spans

    docs = documents_df(spark, 64)
    media = media_df(spark, 64)
    pages = (media_spans(docs)
             .join(media.select("media_ref", "payload"), "media_ref")
             .select("doc_id", "media_ref", "page_offset", "payload"))
    par = spark.sparkContext.defaultParallelism
    pages = pages.repartition(par * 2, "media_ref")

    dist = (pages.withColumn("pid", F.spark_partition_id())
            .groupBy("doc_id")
            .agg(F.countDistinct("pid").alias("n_partitions"),
                 F.count(F.lit(1)).alias("n_pages"))
            .collect())
    multi = [r for r in dist if r.n_pages >= 3]
    assert multi, "fixture corpus should contain multi-page docs"
    # pages of one doc are not funneled into a single partition
    assert any(r.n_partitions > 1 for r in multi)


def test_kernel_stage_partition_count_overrides_aqe(spark):
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import run_cells

    docs = documents_df(spark, 32)
    media = media_df(spark, 32)
    cells = run_cells(docs, media)
    plan = cells._jdf.queryExecution().executedPlan().toString()
    # the explicit repartition must appear in the physical plan
    assert "hashpartitioning(media_ref" in plan


def test_extraction_deterministic_across_parallelism(spark):
    """Same corpus, different shuffle parallelism → byte-identical
    ordered output (the determinism-under-parallelism invariant)."""
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import extract

    docs = documents_df(spark, 10)
    media = media_df(spark, 10)
    out1 = sorted((r.doc_id, r.offset, r.kind, r.text, r.media_ref)
                  for r in extract(docs, media).collect())
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        out2 = sorted((r.doc_id, r.offset, r.kind, r.text, r.media_ref)
                      for r in extract(docs, media).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert out1 == out2


def _monster_doc(doc_id="MONSTER00", n_pages=60):
    """A pathological document: 50+ pages (the fixture generator caps
    real docs at 3).  Page CONTENT still comes from ``synth_page``, so
    every page is a normal unit of work — the skew is all in the doc."""
    spans = []
    for p in range(n_pages):
        spans.append(("text", f"monster intro {p}", "", 2 * p))
        spans.append(("media", "", f"img://{doc_id}/p{p}", 2 * p + 1))
    return {"doc_id": doc_id, "spans": spans}


def _monster_frames(spark, monster):
    from table_transformer_spark.fixtures.generate import (
        encode_page_payload,
        synth_page,
    )
    from table_transformer_spark.pipeline import schemas

    docs = spark.createDataFrame([(monster["doc_id"], monster["spans"])],
                                 schema=schemas.DOCUMENTS_SCHEMA)
    media_rows = []
    for kind, _text, ref, _off in monster["spans"]:
        if kind != "media":
            continue
        page = synth_page(ref)
        media_rows.append((ref, encode_page_payload(page),
                           page["width"], page["height"]))
    media = spark.createDataFrame(media_rows, schema=schemas.MEDIA_SCHEMA)
    return docs, media


def test_planted_mega_doc_spreads_and_extracts(spark):
    """Skew pin for the flagship (round-3 verdict #6): one 60-page
    monster unioned into a 48-doc corpus must (a) spread its pages
    across many kernel partitions — ``widen_for_cpu`` keys the kernel
    stage by media_ref, i.e. doc_id salted by page ordinal, so a mega
    doc can never serialize onto one task — (b) keep the per-partition
    page-count spread bounded (the deterministic proxy for task-time
    spread: kernel cost is per-page), and (c) extract byte-correct
    spans.  Page-level skew is structurally capped by the generator
    itself: table placement stops at the page-height ceiling, so a
    single page bounds its own work.
    """
    from pyspark.sql import functions as F

    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.partitioning import widen_for_cpu
    from table_transformer_spark.pipeline.extract import extract, media_spans

    monster = _monster_doc()
    mdocs, mmedia = _monster_frames(spark, monster)
    docs = documents_df(spark, 48).unionByName(mdocs)
    media = media_df(spark, 48).unionByName(mmedia)

    pages = (media_spans(docs)
             .join(media.select("media_ref", "payload"), "media_ref")
             .select("doc_id", "media_ref", "payload"))
    pages = widen_for_cpu(pages, "media_ref")
    dist = (pages.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(F.when(F.col("doc_id") == monster["doc_id"], 1)
                       .otherwise(0)).alias("n_monster"))
            .collect())
    monster_parts = [r for r in dist if r.n_monster > 0]
    # (a) the monster's 60 pages land on many tasks, not one
    assert len(monster_parts) >= 8, \
        f"mega-doc funneled into {len(monster_parts)} partitions"
    # (b) task-size spread bound: no partition holds more than 4x the
    # mean page count (hash of media_ref is deterministic -> stable)
    total = sum(r.n_pages for r in dist)
    mean = total / len(dist)
    worst = max(r.n_pages for r in dist)
    assert worst <= 4 * mean, f"worst partition {worst} vs mean {mean:.1f}"

    # (c) correctness under skew: the monster's span sequence equals
    # the generator's designed truth
    from table_transformer_spark.fixtures.generate import expected_spans_clean

    got = sorted(((r.kind, r.text, r.media_ref, r.offset)
                  for r in extract(docs, media).collect()
                  if r.doc_id == monster["doc_id"]),
                 key=lambda t: t[3])
    monster_dict = {"doc_id": monster["doc_id"],
                    "spans": [{"kind": k, "text": t, "media_ref": m,
                               "offset": o}
                              for k, t, m, o in monster["spans"]]}
    want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in expected_spans_clean(monster_dict)]
    assert got == want


@pytest.mark.parametrize("name", ["canonicalize_tables",
                                  "standardize_xml_annotation",
                                  "cells_html_export"])
def test_table_kernels_run_without_grouping(spark, name):
    """Each input row of the table kernels is a whole table, so their
    executed plans carry no grouped-map node and no sort feeding one."""
    import table_transformer_spark.driver_queries as dq

    df = dq.QUERIES[name](spark, SF_DIR)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert not re.search(r"\bSort\b", plan)


def test_grits_pairs_table_rows_without_cogroup(spark):
    """GriTS takes one row per table on each side, so the planted
    query's executed plan has no cogroup and no cell explode."""
    import table_transformer_spark.driver_queries as dq

    df = dq.QUERIES["grits_planted_perturbation"](spark, SF_DIR)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert not re.search(r"\bGenerate\b", plan)


def test_map_rows_emits_typed_empty_batches(spark):
    """A batch whose rows produce no output still converts to the
    declared schema, array columns included."""
    from pyspark.sql import types as T

    from table_transformer_spark.partitioning import map_rows

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("bbox", T.ArrayType(T.DoubleType()))])
    df = spark.range(6)
    out = map_rows(df, lambda rec: ([{"id": rec.id, "bbox": [1.0]}]
                                    if rec.id % 3 == 0 else []), schema)
    assert sorted(r.id for r in out.collect()) == [0, 3]
    assert map_rows(df, lambda rec: [], schema).collect() == []
