"""Expected answers: ``OracleIndex`` (exhaustive pure-Python BM25) for the
index paths, DuckDB ``oracle_sql`` mirrors for the headline gates."""

from __future__ import annotations

import numpy as np

from honeywell_search_engine_spark.oracle import OracleIndex
from honeywell_search_engine_spark.query.respond import round_half_up

K = 10


class Expected:
    """Memoized oracle answers for (kind, query) over one corpus."""

    def __init__(self, docs: list[tuple[int, str]]):
        self.oracle = OracleIndex.build(docs)
        self._memo: dict[tuple[str, str], list] = {}

    def __call__(self, kind: str, q: str) -> list[tuple[int, float]]:
        key = (kind, q)
        if key not in self._memo:
            self._memo[key] = self._answer(kind, q)
        return self._memo[key]

    def _answer(self, kind: str, q: str):
        o = self.oracle
        if kind in ("and", "stopwords"):
            return o.search(q, K)
        if kind == "response":  # the row carries score_r = round(score, 6)
            return [(d, round_half_up(s, 6)) for d, s in o.search(q, K)]
        if kind == "or":
            return o.search_or(q, K)
        if kind == "websearch":
            return o.search_websearch(q, K)
        if kind == "phrase":
            return o.search_phrase(q, K, slop=0)
        if kind == "near":
            return o.search_phrase(q, K, slop=2)
        if kind == "near_unordered":
            return o.search_near_unordered(q, K, dist=3)
        raise ValueError(f"unknown query kind {kind!r}")


def gate_canon(df):
    """Order-free, type-free canonical form of a gate result: sorted
    columns, sorted rows, values as strings (as tests/test_entry_gate.py
    compares them)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(list(df.columns)).reset_index(drop=True).astype(str)


def gate_expected(gate_dir: str, names: list[str]) -> dict:
    import duckdb

    import __spark_entry__ as E
    from perfbench.inputs import GATE_TABLES

    con = duckdb.connect()
    try:
        for t in GATE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{gate_dir}/{t}.parquet'")
        sql = E.oracle_sql(gate_dir)
        return {n: gate_canon(con.sql(sql[n]).df()) for n in names}
    finally:
        con.close()


def gate_matches(got, exp) -> bool:
    got = gate_canon(got)
    return list(got.columns) == list(exp.columns) and got.equals(exp)
