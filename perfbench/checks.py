"""Correctness checks, run outside every timed interval.

- MICR output is compared with the corpus's expected spans on
  ``(doc_id, kind, text, media_ref, order)`` as multisets in both
  directions (the ``exceptAll`` both ways of the repo's ``bench.py``).
  Each document holds one image, so a document whose rows differ, or
  that carries a ``micr:error`` span, is one failed image.
- Query results are canonicalised with ``scripts/validate_contract.py``'s
  ``canon`` and compared with their DuckDB twins from ``oracle_sql()``.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq

from .corpus import TRAIN_TABLES

SPAN_COLS = ("doc_id", "kind", "text", "media_ref", "order")


def expected_by_doc(path: str) -> dict[str, Counter]:
    t = pq.read_table(path, columns=list(SPAN_COLS)).to_pydict()
    out: dict[str, Counter] = defaultdict(Counter)
    for row in zip(*(t[c] for c in SPAN_COLS)):
        out[row[0]][row] += 1
    return dict(out)


def failed_images(rows, expected: dict[str, Counter]) -> tuple[int, int]:
    """(failed images, documents with output) for collected span rows.

    A document fails when its multiset of rows differs from the
    expected one in either direction or holds a ``micr:error`` span;
    a document missing from the output fails too."""
    got: dict[str, Counter] = defaultdict(Counter)
    errors: set[str] = set()
    for r in rows:
        row = tuple(r[c] for c in SPAN_COLS)
        got[row[0]][row] += 1
        if row[1] == "micr:error":
            errors.add(row[0])
    failed = 0
    for doc in set(expected) | set(got):
        if doc in errors or got.get(doc) != expected.get(doc):
            failed += 1
    return failed, len(got)


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    """Row count, schema and order-insensitive values, compared the way
    ``scripts/validate_contract.py`` compares a query with its twin."""
    from scripts.validate_contract import canon
    g, e = canon(got), canon(exp)
    return (len(g) == len(e) and list(g.columns) == list(e.columns)
            and g.equals(e))


def oracle_frames(sf_dir: str, names, threads: int) -> dict[str, pd.DataFrame]:
    """Each named query's DuckDB twin over one table directory."""
    import duckdb
    import __spark_entry__ as entry
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        for t in TRAIN_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        return {name: con.execute(sql[name]).fetchdf() for name in names}
    finally:
        con.close()
