"""In-process probes of the Python kernels that the Spark workers run.

The fused page kernel (``make_fused_page_fn``) and the GriTS/DAR pair
metrics run on one core in this process over a seeded page sample, so
their cost can be split below the ``mapInPandas``/``applyInPandas``
boundary without touching the program: the traced probe wraps the
module attributes that ``pipeline.fused`` and ``kernels.structure``
resolve at call time, and restores them afterwards.
"""

from __future__ import annotations

import statistics
import time
from contextlib import ExitStack, contextmanager

import pandas as pd

from table_transformer_spark.fixtures.generate import (
    corpus_media_refs,
    encode_page_payload,
    gen_document,
    synth_page,
)
from table_transformer_spark.kernels import structure
from table_transformer_spark.kernels.adjacency import (
    adjacency_pairs,
    adjacency_pairs_with_blanks,
    dar_con,
)
from table_transformer_spark.kernels.grits import grits_con, grits_loc, grits_top
from table_transformer_spark.pipeline import fused

# (module, attribute, metric layer) wrapped during the traced probe
WRAPPED = [
    (fused, "_decode_payload", "fused.decode"),
    (fused, "objects_to_cells", "structure.objects_to_cells"),
    (structure, "build_table_structures", "structure.build_table_structures"),
    (structure, "structures_to_cells", "structure.structures_to_cells"),
    (structure, "slot_into_containers", "slotting.slot_into_containers"),
    (structure, "drop_containers_without_text",
     "slotting.drop_containers_without_text"),
]


def page_sample(doc_ids, n_pages: int) -> pd.DataFrame:
    """The first *n_pages* media pages of the seeded corpus, as the
    (doc_id, media_ref, page_offset, payload) batch the kernel reads."""
    rows = []
    for doc_id in doc_ids:
        doc = gen_document(doc_id)
        offsets = {s["media_ref"]: s["offset"] for s in doc["spans"]}
        for ref in corpus_media_refs(doc):
            rows.append((doc_id, ref, offsets[ref],
                         encode_page_payload(synth_page(ref))))
            if len(rows) == n_pages:
                return pd.DataFrame(rows, columns=[
                    "doc_id", "media_ref", "page_offset", "payload"])
    raise ValueError(f"corpus has fewer than {n_pages} pages")


def _run(pdf: pd.DataFrame, mode: str) -> pd.DataFrame:
    return pd.concat(list(fused.make_fused_page_fn(mode)(iter([pdf]))))


@contextmanager
def _wrapped(totals: dict):
    def timed(fn, key):
        def call(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc = totals.setdefault(key, [0.0, 0])
                acc[0] += time.perf_counter() - t
                acc[1] += 1
        return call

    with ExitStack() as stack:
        for module, attr, key in WRAPPED:
            original = getattr(module, attr)
            setattr(module, attr, timed(original, key))
            stack.callback(setattr, module, attr, original)
        yield


def _cells(packed):
    return [{"bbox": list(c[1]), "row_nums": list(c[2]),
             "column_nums": list(c[3]), "cell_text": c[6]} for c in packed]


def probe(pdf: pd.DataFrame, reps: int = 3, max_pairs: int = 60) -> dict:
    """Per-page and per-table kernel costs over the page sample."""
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        clean = _run(pdf, "clean")
        walls.append(time.perf_counter() - t)
    noisy = _run(pdf, "noisy")
    totals: dict = {}
    with _wrapped(totals):
        _run(pdf, "clean")

    n_pages, n_tables = len(pdf), len(clean)
    out = {"fused.page_ms": 1e3 * statistics.median(walls) / n_pages,
           "fused.decode_ms": 1e3 * totals["fused.decode"][0] / n_pages,
           "fused.tables": n_tables}
    for _, _, key in WRAPPED[1:]:
        seconds, calls = totals.get(key, (0.0, 0))
        out[f"{key}_ms"] = 1e3 * seconds / n_tables
        out[f"{key}_calls"] = calls

    key = ["doc_id", "media_ref", "table_num"]
    pairs = clean.merge(noisy, on=key, suffixes=("_true", "_pred"))[:max_pairs]
    t = time.perf_counter()
    for true_packed, pred_packed in zip(pairs["cells_true"],
                                        pairs["cells_pred"]):
        true_cells, pred_cells = _cells(true_packed), _cells(pred_packed)
        grits_top(true_cells, pred_cells)
        grits_loc(true_cells, pred_cells)
        grits_con(true_cells, pred_cells)
        dar_con(adjacency_pairs(true_cells), adjacency_pairs(pred_cells))
        dar_con(adjacency_pairs_with_blanks(true_cells),
                adjacency_pairs_with_blanks(pred_cells))
    out["grits.pair_ms"] = 1e3 * (time.perf_counter() - t) / len(pairs)
    return out
