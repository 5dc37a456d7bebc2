"""Seeded benchmark inputs.

Every input derives from the ``--seed`` argument alone:

* the extraction corpus is the doc-id window ``DOC{seed*N + i}``,
  ``i < N``, built with the public ``fixtures.generate`` functions and
  written to parquet;
* the catalog tables are a seeded sample of rows of the sf0.1
  ``documents`` / ``embeddings`` tables shipped in ``perfbench/data``.

The program under test only ever sees the written parquet files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from table_transformer_spark.config import DEFAULT_CROP_PADDING as CROP_PAD
from table_transformer_spark.fixtures.generate import (
    corpus_media_refs,
    encode_page_payload,
    gen_document,
    synth_page,
)

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# corpus window (before ambiguous ids are dropped) and catalog sample
# sizes (of 5000 documents / 2000 embeddings in the shipped sf0.1 tables)
N_DOCS = 1000
N_CATALOG_DOCS = 500
N_CATALOG_VECS = 500


def _overlaps(a, b) -> bool:
    return a[0] < b[2] and b[0] < a[2] and a[1] < b[3] and b[1] < a[3]


def _ambiguous_page(page: dict) -> bool:
    prose = [t["bbox"] for t in page["tokens"] if t["block_num"] == 9]
    for det in page["detections"]:
        x0, y0, x1, y1 = det["bbox"]
        crop = (x0 - CROP_PAD, y0 - CROP_PAD, x1 + CROP_PAD, y1 + CROP_PAD)
        if any(_overlaps(crop, t) for t in prose):
            return True
    return False


def ambiguous(doc_id: str) -> bool:
    """True if a page of the doc has a distractor token (page prose,
    ``block_num`` 9) inside a table's padded crop.  The designed truth
    leaves such a token out while the extraction rightly assigns it to
    the cell it lies in, so the span oracle is undefined for the doc
    (about 1 doc id in 1000)."""
    return any(_ambiguous_page(synth_page(ref))
               for ref in corpus_media_refs(gen_document(doc_id)))


def _window(seed: int, n: int) -> list[str]:
    return [f"DOC{i:07d}" for i in range(seed * n, seed * n + n)]


def doc_ids(seed: int, n: int = N_DOCS) -> list[str]:
    """The seed's doc-id window ``DOC{seed*n}`` .. ``DOC{seed*n+n-1}``
    without its ambiguous ids."""
    return [d for d in _window(seed, n) if not ambiguous(d)]


_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
DOCUMENTS_ARROW = pa.schema([("doc_id", pa.string()),
                             ("spans", pa.list_(_SPAN))])
MEDIA_ARROW = pa.schema([("media_ref", pa.string()), ("payload", pa.binary()),
                         ("width", pa.int32()), ("height", pa.int32())])


def corpus_tables(seed: int, n: int = N_DOCS):
    """``(ids, documents, media)`` of the seed's window: the kept doc
    ids and the two input tables as Arrow tables.  Each page is
    synthesised once, for both the ambiguity test and its payload."""
    ids, docs, media = [], [], []
    for doc_id in _window(seed, n):
        doc = gen_document(doc_id)
        pages = [(ref, synth_page(ref)) for ref in corpus_media_refs(doc)]
        if any(_ambiguous_page(page) for _, page in pages):
            continue
        ids.append(doc_id)
        docs.append({"doc_id": doc_id, "spans": [
            {k: s[k] for k in ("kind", "text", "media_ref", "offset")}
            for s in doc["spans"]]})
        media.extend({"media_ref": ref, "payload": encode_page_payload(page),
                      "width": page["width"], "height": page["height"]}
                     for ref, page in pages)
    return (ids, pa.Table.from_pylist(docs, DOCUMENTS_ARROW),
            pa.Table.from_pylist(media, MEDIA_ARROW))


def write_corpus(spark, seed: int, out_dir: str):
    """Generate the seed's corpus in this process (no Spark job runs),
    write it as parquet and return ``(ids, documents, media)``, the
    last two as the frames Spark reads back."""
    ids, docs, media = corpus_tables(seed)
    frames = []
    for name, table in (("documents", docs), ("media", media)):
        os.makedirs(f"{out_dir}/{name}")
        pq.write_table(table, f"{out_dir}/{name}/part-0.parquet")
        frames.append(spark.read.parquet(f"{out_dir}/{name}"))
    return (ids, *frames)


# rows every sample keeps: ivf_topk seeds its codebook with vec_id < 16
_KEEP = {"documents": ("doc_id", 0), "embeddings": ("vec_id", 16)}


def _sample(table: str, seed: int, k: int):
    tbl = pq.read_table(os.path.join(DATA_DIR, f"{table}.parquet"))
    key, below = _KEEP[table]
    ids = tbl.column(key).to_pylist()
    keep = [i for i, v in enumerate(ids) if v < below]
    rest = [i for i, v in enumerate(ids) if v >= below]
    rows = keep + random.Random(f"{table}:{seed}").sample(
        rest, k - len(keep))
    return tbl.take(sorted(rows))


def write_catalog_tables(seed: int, sf_dir: str) -> None:
    """The seeded ``documents`` / ``embeddings`` sample as an sf-style
    directory (``<sf_dir>/<table>.parquet``) for the query catalog."""
    os.makedirs(sf_dir, exist_ok=True)
    for table, k in (("documents", N_CATALOG_DOCS),
                     ("embeddings", N_CATALOG_VECS)):
        pq.write_table(_sample(table, seed, k),
                       os.path.join(sf_dir, f"{table}.parquet"))


def fingerprint(seed: int) -> str:
    """Content hash of every input a seed produces (corpus documents and
    both catalog samples)."""
    h = hashlib.sha256()
    for doc_id in doc_ids(seed):
        h.update(json.dumps(gen_document(doc_id), sort_keys=True).encode())
    for table, k in (("documents", N_CATALOG_DOCS),
                     ("embeddings", N_CATALOG_VECS)):
        for col in _sample(table, seed, k).columns:
            h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()
