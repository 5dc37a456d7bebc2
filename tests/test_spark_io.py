"""The Spark fixture corpus equals the locally generated one."""

from table_transformer_spark.fixtures.generate import (
    corpus_media_refs,
    encode_page_payload,
    gen_document,
    synth_page,
)
from table_transformer_spark.fixtures.spark_io import documents_df, media_df
from table_transformer_spark.pipeline import schemas

N_DOCS = 12


def test_corpus_rows_match_local_generation(spark):
    docs = [gen_document(f"DOC{i:07d}") for i in range(N_DOCS)]
    want_docs = sorted(
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in d["spans"]])
        for d in docs)
    want_media = sorted(
        (ref, encode_page_payload(page), page["width"], page["height"])
        for d in docs for ref in corpus_media_refs(d)
        for page in [synth_page(ref)])
    assert want_media  # the sample has pages to compare

    got_docs = documents_df(spark, N_DOCS)
    got_media = media_df(spark, N_DOCS)
    assert got_docs.schema == schemas.DOCUMENTS_SCHEMA
    assert got_media.schema == schemas.MEDIA_SCHEMA
    assert sorted((r.doc_id, [tuple(s) for s in r.spans])
                  for r in got_docs.collect()) == want_docs
    assert sorted((r.media_ref, bytes(r.payload), r.width, r.height)
                  for r in got_media.collect()) == want_media
