"""Output checks, run outside the clock.

- Base-corpus rows go against ``_flagship_oracle_sql()`` through DuckDB
  on (title, engine, score to 4 places, success, needs_ssr, n_spans),
  once for every replica.
- Giant documents and a seeded sample go span for span against the
  in-process ``core.extractor.extract_document``.
- Leaf query outputs go against their ``oracle_sql()`` twins, compared
  as sorted row multisets with columns ordered by name and floats
  rounded to 6 places.

Every function returns ``(attempted, mismatched)``.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb


def _connect(documents_parquet: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_parquet}')")
    return con


def flagship_mismatches(
    documents_parquet: str, extracted_glob: str, prefixes: list[str]
) -> tuple[int, int]:
    """Every base doc must appear once per doc_id prefix, equal to the
    oracle row of its base id. Rows whose id starts with 'giant-' are
    checked by ``span_mismatches`` instead."""
    import __spark_entry__ as entry

    con = _connect(documents_parquet)
    try:
        con.execute(f"CREATE TABLE oracle AS {entry._flagship_oracle_sql()}")
        con.execute(
            "CREATE TABLE prefixes AS SELECT unnest(?::VARCHAR[]) AS p", [prefixes]
        )
        con.execute(
            f"""CREATE TABLE ext AS
                SELECT doc_id, title, engine, round(score, 4) AS score, success,
                       needs_ssr, len(spans) AS n_spans,
                       coalesce(error, '') LIKE 'extractor crash%' AS crashed
                FROM read_parquet('{extracted_glob}')
                WHERE doc_id NOT LIKE 'giant-%'"""
        )
        attempted = con.execute(
            "SELECT count(*) FROM oracle, prefixes"
        ).fetchone()[0]
        bad = con.execute(
            """
            WITH expected AS (
              SELECT p || o.doc_id AS doc_id, o.title, o.engine, o.score,
                     o.success, o.needs_ssr, o.n_spans
              FROM oracle o, prefixes),
            counted AS (SELECT doc_id, count(*) AS n FROM ext GROUP BY doc_id)
            SELECT count(*) FROM expected x
            LEFT JOIN ext e USING (doc_id)
            LEFT JOIN counted c USING (doc_id)
            WHERE e.doc_id IS NULL OR c.n <> 1 OR e.crashed
               OR e.title IS DISTINCT FROM x.title
               OR e.engine IS DISTINCT FROM x.engine
               OR e.score IS DISTINCT FROM x.score
               OR e.success IS DISTINCT FROM x.success
               OR e.needs_ssr IS DISTINCT FROM x.needs_ssr
               OR e.n_spans IS DISTINCT FROM x.n_spans
            """
        ).fetchone()[0]
        # rows the pipeline produced that no expected doc accounts for
        extra = con.execute(
            """SELECT count(*) FROM ext
               WHERE doc_id NOT IN (SELECT p || doc_id FROM oracle, prefixes)"""
        ).fetchone()[0]
        return attempted, bad + extra
    finally:
        con.close()


def read_extracted(extracted_glob: str, doc_ids: list[str]) -> dict[str, dict]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""SELECT doc_id, title, engine, success, spans
                FROM read_parquet('{extracted_glob}')
                WHERE doc_id IN (SELECT unnest(?::VARCHAR[]))""",
            [doc_ids],
        ).fetchall()
    finally:
        con.close()
    out: dict[str, dict] = {}
    for doc_id, title, engine, success, spans in rows:
        # a doc written twice is a mismatch; keep a marker instead of a row
        out[doc_id] = None if doc_id in out else {
            "title": title, "engine": engine, "success": success, "spans": spans
        }
    return out


def span_mismatches(docs: list[dict], extracted: dict[str, dict]) -> tuple[int, int]:
    """``docs``: input rows (doc_id, spans); ``extracted``: what the
    pipeline wrote for them, keyed by doc_id."""
    from claude_readability_hook_spark.core.extractor import extract_document

    bad = 0
    for d in docs:
        got = extracted.get(d["doc_id"])
        want = extract_document(d["doc_id"], d["spans"])
        key = ("kind", "text", "media_ref", "offset")
        if (
            got is None
            or got["title"] != want.title
            or got["engine"] != want.engine
            or got["success"] != want.success
            or [tuple(s[k] for k in key) for s in got["spans"]]
            != [tuple(s[k] for k in key) for s in want.spans]
        ):
            bad += 1
    return len(docs), bad


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "as_tuple"):  # Decimal
        return round(float(v), 6)
    return v


def _multiset(columns: list[str], rows) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def leaf_mismatches(documents_parquet: str, query: str, output_glob: str) -> tuple[int, int]:
    """The leaf's written output against its oracle_sql() twin."""
    import __spark_entry__ as entry

    con = _connect(documents_parquet)
    try:
        cur = con.execute(entry.oracle_sql()[query])
        want = _multiset([d[0] for d in cur.description], cur.fetchall())
        cur = con.execute(f"SELECT * FROM read_parquet('{output_glob}')")
        got = _multiset([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    attempted = max(sum(want.values()), sum(got.values()), 1)
    return attempted, max(sum((want - got).values()), sum((got - want).values()))
