"""Kill-and-resume semantics for the checkpointed extraction job."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from table_transformer_spark.fixtures.spark_io import documents_df, media_df
from table_transformer_spark.pipeline.checkpoint import (
    STATUS_SCHEMA,
    completed_buckets,
    run_checkpointed_extraction,
)
from table_transformer_spark.pipeline.extract import extract

N_DOCS = 16
SPARK_STATUS_SCHEMA = ("struct<bucket:bigint,state:string,n_docs:bigint,"
                       "n_spans:bigint,run_id:string,wall_sec:double,"
                       "updated_at:string>")


@pytest.fixture(scope="module")
def corpus(spark):
    docs = documents_df(spark, N_DOCS).cache()
    media = media_df(spark, N_DOCS).cache()
    docs.count(), media.count()
    return docs, media


def spans_set(rows):
    return sorted((r.doc_id, r.offset, r.kind, r.text, r.media_ref)
                  for r in rows)


def assert_status_matches_spans(spark, out, n_buckets):
    """One done row per bucket whose counts equal a recount of the
    written spans (0/0 for a bucket with no docs), under the status
    table's schema."""
    status = spark.read.parquet(f"{out}/status")
    assert status.schema.simpleString() == SPARK_STATUS_SCHEMA
    recount = {r.bucket: (r.n_docs, r.n_spans) for r in
               spark.read.parquet(f"{out}/spans").groupBy("bucket")
               .agg(F.countDistinct("doc_id").alias("n_docs"),
                    F.count(F.lit(1)).alias("n_spans")).collect()}
    rows = status.collect()
    assert sorted(r.bucket for r in rows) == list(range(n_buckets))
    for r in rows:
        assert r.state == "done"
        assert (r.n_docs, r.n_spans) == recount.get(r.bucket, (0, 0))


def test_kill_and_resume_produces_identical_output(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "job")

    # reference output: one straight run, no checkpointing
    expected = spans_set(extract(docs, media, mode="clean").collect())

    # run 1: crash injected after the first job group
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extraction(spark, docs, media, out,
                                    n_buckets=8, buckets_per_job=2,
                                    fail_after_jobs=1)
    done_after_crash = completed_buckets(f"{out}/status")
    assert len(done_after_crash) == 2

    # run 2: resume — only incomplete buckets reprocess
    summary = run_checkpointed_extraction(spark, docs, media, out,
                                          n_buckets=8, buckets_per_job=2)
    assert sorted(summary["buckets_done_before"]) == sorted(done_after_crash)
    assert set(summary["buckets_processed"]).isdisjoint(done_after_crash)

    got = spans_set(spark.read.parquet(f"{out}/spans")
                    .select("doc_id", "offset", "kind", "text", "media_ref")
                    .collect())
    assert got == expected

    # status table carries lineage for every bucket
    status = spark.read.parquet(f"{out}/status")
    assert completed_buckets(f"{out}/status") == set(range(8))
    rows = status.collect()
    assert all(r.run_id for r in rows)
    assert sum(r.n_docs for r in rows) == N_DOCS
    assert_status_matches_spans(spark, out, 8)


def test_rerun_after_completion_is_noop(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "job2")
    run_checkpointed_extraction(spark, docs, media, out,
                                n_buckets=4, buckets_per_job=4)
    assert_status_matches_spans(spark, out, 4)
    summary = run_checkpointed_extraction(spark, docs, media, out,
                                          n_buckets=4, buckets_per_job=4)
    assert summary["jobs_run"] == 0
    assert summary["buckets_processed"] == []


def test_empty_buckets_get_zero_status_rows(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "job3")
    run_checkpointed_extraction(spark, docs, media, out,
                                n_buckets=64, buckets_per_job=16)
    assert completed_buckets(f"{out}/status") == set(range(64))
    assert_status_matches_spans(spark, out, 64)
    n_empty = sum(r.n_docs == 0 for r in
                  spark.read.parquet(f"{out}/status").collect())
    assert n_empty >= 64 - N_DOCS


def test_completed_buckets_reads_spark_written_status(spark, tmp_path):
    """A status directory a Spark writer appended to (part file,
    ``_SUCCESS``, ``.crc`` files), plus a driver-side append and the
    hidden temp file of an append that crashed before its rename: only
    the committed ``done`` buckets count."""
    status = str(tmp_path / "status")
    (spark.createDataFrame(
        [(0, "done", 2, 10, "old", 1.5, "2026-01-01T00:00:00Z"),
         (1, "done", 0, 0, "old", 1.5, "2026-01-01T00:00:00Z"),
         (2, "failed", 0, 0, "old", 1.5, "2026-01-01T00:00:00Z")],
        ["bucket", "state", "n_docs", "n_spans", "run_id", "wall_sec",
         "updated_at"])
     .coalesce(1).write.mode("append").parquet(status))
    names = os.listdir(status)
    assert "_SUCCESS" in names
    assert any(n.endswith(".crc") for n in names)

    def arrow_rows(buckets):
        n = len(buckets)
        return pa.table({"bucket": buckets, "state": ["done"] * n,
                         "n_docs": [1] * n, "n_spans": [3] * n,
                         "run_id": ["new"] * n, "wall_sec": [0.5] * n,
                         "updated_at": ["2026-01-02T00:00:00Z"] * n},
                        schema=STATUS_SCHEMA)

    pq.write_table(arrow_rows([5]), f"{status}/part-new-5.parquet")
    pq.write_table(arrow_rows([3, 4]), f"{status}/.part-new-3-4.parquet")
    assert completed_buckets(status) == {0, 1, 5}
    assert completed_buckets(str(tmp_path / "missing")) == set()
    # a first append that crashed before its rename
    crashed = tmp_path / "crashed"
    crashed.mkdir()
    pq.write_table(arrow_rows([0]), f"{crashed}/.part-new-0.parquet")
    assert completed_buckets(str(crashed)) == set()
    assert (spark.read.parquet(status).schema.simpleString()
            == SPARK_STATUS_SCHEMA)
