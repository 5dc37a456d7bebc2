"""Output checks, run outside the timed region.

* Extraction spans (clean and noisy structure inputs alike) must equal
  ``fixtures.generate.expected_spans_clean`` for exactly the seeded
  doc ids.
* Catalog query rows must equal the query's ``oracle_sql()`` run on
  DuckDB over the same parquet inputs, compared as in
  ``tests/test_driver_queries.py``: sorted column names, row count and
  the order-insensitive multiset of canonicalised values.
"""

from __future__ import annotations

import math
from collections import defaultdict

from table_transformer_spark.fixtures.generate import (
    expected_spans_clean,
    gen_document,
)

SPAN_COLUMNS = ("doc_id", "kind", "text", "media_ref", "offset")


def spans_match(rows, ids) -> bool:
    """*rows*: (doc_id, kind, text, media_ref, offset) tuples in any
    order; *ids*: the doc ids the corpus was built from."""
    got = defaultdict(list)
    for doc_id, kind, text, media_ref, offset in rows:
        got[doc_id].append((offset, kind, text, media_ref))
    if set(got) != set(ids):
        return False
    for doc_id in ids:
        expected = [(s["offset"], s["kind"], s["text"], s["media_ref"])
                    for s in expected_spans_clean(gen_document(doc_id))]
        if sorted(got[doc_id]) != expected:
            return False
    return True


def canon(value) -> str:
    if value is None:
        return "<null>"
    if isinstance(value, float):
        if math.isnan(value):
            return "<nan>"
        return f"{value:.9g}"
    if isinstance(value, bool):
        return str(int(value))
    return str(value)


def canonical_rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return (sorted(names),
            sorted(tuple(canon(row[i]) for i in order) for row in rows))


def oracle_rows(con, sql: str):
    res = con.execute(sql)
    return canonical_rows([d[0] for d in res.description], res.fetchall())


def spark_rows(rows, columns):
    return canonical_rows(list(columns), [tuple(r) for r in rows])
