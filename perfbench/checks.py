"""Result checks, run outside the timed spans.

Searches are checked against the package's DuckDB BM25 text
(``operators.search.sql_bm25``) over the live document set; registry
queries against their registered DuckDB oracles with the comparison rules
of ``tests/_compare.py``.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa

from big_data_assignment2_spark.operators.index_build import sql_docs_cte_over
from big_data_assignment2_spark.operators.search import sql_bm25
from tests._compare import compare, duck_connection

_INDEX_TABLES = ("doc_stats", "inverted", "vocab")
_MATERIALIZED_CTE = "WITH " + ",\n".join(
    f"{t} AS (SELECT * FROM live_{t})" for t in _INDEX_TABLES
)


def search_rows(rows) -> list[tuple]:
    """Engine rows as comparable tuples, scores at the oracle's 6 decimals."""
    return [(int(r["rank"]), str(r["doc_id"]), str(r["title"]), round(float(r["score"]), 6)) for r in rows]


class SearchOracle:
    """Expected top-10 lists for the current live document set."""

    def __init__(self) -> None:
        self.con = duckdb.connect()

    def set_live(self, docs: pa.Table) -> None:
        """Index-shaped tables over *docs* (``doc_id, title, text``), built
        once per live set so each expected list is one small query."""
        self.con.register("live_docs", docs)
        cte = sql_docs_cte_over("SELECT doc_id, title, text FROM live_docs")
        for t in _INDEX_TABLES:
            self.con.execute(f"CREATE OR REPLACE TABLE live_{t} AS {cte} SELECT * FROM {t}")

    def expected(self, query: str, k: int = 10) -> list[tuple]:
        rows = self.con.execute(sql_bm25(query, k, docs_cte=_MATERIALIZED_CTE)).fetchall()
        return [(int(r[0]), str(r[1]), str(r[2]), round(float(r[3]), 6)) for r in rows]


class _Collected:
    """A result already collected as pandas, in the shape ``compare`` reads."""

    def __init__(self, frame: pd.DataFrame):
        self._frame = frame

    def toPandas(self) -> pd.DataFrame:
        return self._frame


class RegistryOracle:
    def __init__(self, sf_dir: str) -> None:
        self.con = duck_connection(sf_dir)

    def mismatch(self, got: pd.DataFrame, oracle_sql: str) -> str | None:
        """None when *got* matches the oracle, else a short diff."""
        return compare(_Collected(got), self.con, oracle_sql)
