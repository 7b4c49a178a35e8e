"""The KG pipeline's triples computed without Spark.

The SQL is the program's own DuckDB oracle of the pipeline
(`__spark_entry__._kg_full_sql`: synth -> extract -> link -> emit ->
canonicalize, output s, p, o, o_kind).  Each distinct object term is parsed
by the program's turtle parser and decomposed by `graph.triples_to_rows`
into the full triple schema, so no pipeline rule is restated here.  The kg_build
check compares every committed snapshot with it, and the SHACL workloads
validate the graphs it writes.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TRIPLE_FIELDS = ["s", "p", "o", "o_v", "o_kind", "o_dt", "o_lang", "g"]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def kg_triples(docs: pa.Table) -> pa.Table:
    """Distinct triples of the documents table, in the pipeline's triple
    schema, sorted by (s, p, o) so the table depends on the inputs only."""
    import __spark_entry__ as entry
    from shacl_js_spark.graph import triples_to_rows
    from shacl_js_spark.turtle import parse_turtle

    con = connect()
    try:
        con.register("documents", docs)
        con.execute(f"CREATE TABLE spo AS SELECT s, p, o FROM ({entry._kg_full_sql()})")
        objects = [r[0] for r in con.execute("SELECT DISTINCT o FROM spo").fetchall()]
        # each distinct object decomposed once, through a placeholder triple
        trips, _ = parse_turtle("\n".join(f"<urn:s> <urn:p> {o} ." for o in objects))
        rows = [r[2:] for r in triples_to_rows(trips)]
        con.register("terms", pa.table(
            {f: pa.array(c, pa.string()) for f, c in zip(TRIPLE_FIELDS[2:], zip(*rows))}
        ))
        return con.execute(
            f"SELECT {', '.join(TRIPLE_FIELDS)} FROM spo JOIN terms USING (o) ORDER BY s, p, o"
        ).arrow()
    finally:
        con.close()


def write_triples(docs: pa.Table, out_path: str) -> int:
    """Write `kg_triples(docs)` to one parquet file.  -> row count."""
    t = kg_triples(docs)
    pq.write_table(t, out_path)
    return t.num_rows


def diff_count(con: duckdb.DuckDBPyConnection, expected: str, actual_glob: str) -> int:
    """Rows in either parquet set but not the other, over all triple fields
    (multiset difference, so duplicated output rows count too)."""
    cols = ", ".join(TRIPLE_FIELDS)
    q = f"""
        SELECT (SELECT count(*) FROM (
                  SELECT {cols} FROM read_parquet('{expected}')
                  EXCEPT ALL SELECT {cols} FROM read_parquet('{actual_glob}')))
             + (SELECT count(*) FROM (
                  SELECT {cols} FROM read_parquet('{actual_glob}')
                  EXCEPT ALL SELECT {cols} FROM read_parquet('{expected}')))
    """
    return con.execute(q).fetchone()[0]
