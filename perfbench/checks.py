"""Output checks, run outside the timed window with DuckDB.

* Builds: the KG triples must equal the repository's DuckDB replay of
  the whole pipeline (``oracle_sql()["pipeline_triples_sql"]``) over a
  ``documents`` view of the generated corpus.
* Queries: each answer must equal the query's reference SQL over the
  parquet the engine served.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import pyarrow.parquet as pq

TRIPLE_COLS = ("subj", "pred", "obj", "obj_type")


def _q(path: str) -> str:
    return path.replace("'", "''")


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def expected_triples(corpus_path: str) -> set[tuple]:
    """The oracle's (subj, pred, obj, obj_type) set for the corpus."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["pipeline_triples_sql"]
    con = _connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet('{_q(corpus_path)}')"
        )
        return set(con.execute(sql).fetchall())
    finally:
        con.close()


def read_rows(path: str, cols=TRIPLE_COLS) -> list[tuple]:
    t = pq.read_table(path, columns=list(cols))
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def triples_ok(out_dir: str, expected: set[tuple]) -> bool:
    """The written ``triples`` sink is duplicate-free and equals the oracle."""
    rows = read_rows(f"{out_dir}/triples")
    return len(rows) == len(set(rows)) and set(rows) == expected


class References:
    """Reference answers of the query mix over the served parquet."""

    def __init__(self, kg_paths: list[str]):
        """``kg_paths``: parquet files, or directories of parquet parts."""
        self.con = _connect()
        files = ", ".join(
            f"'{_q(os.path.join(p, '*.parquet') if os.path.isdir(p) else p)}'" for p in kg_paths)
        self.con.execute(
            "CREATE VIEW kg AS SELECT subj, pred, obj, obj_type FROM "
            f"read_parquet([{files}], union_by_name = true)"
        )

    def answer(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def same_answer(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    return got == want if ordered else Counter(got) == Counter(want)
