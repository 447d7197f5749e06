"""Correctness checks against the DuckDB BM25 twin in lucene_spark.gate.

The SQL builders (``_sql_bool``, ``_sql_phrase``, ...) read a table
called ``documents(doc_id, text)`` and tokenize it the way the
``simple`` analyzer does; they are the same queries
tests/test_gate_parity.py compares the engine against.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from lucene_spark import gate

# IndexSearcher returns float32 scores; the twin computes float64 and
# rounds score * 1e6. Allowed gap, in those 1e-6 units: a fixed part
# for the rounding plus a relative part for float32 accumulation.
ABS_TOL = 2.0
REL_TOL = 2e-5
# extra rows fetched past k so near-ties at the cut can be resolved
SLACK = 20


def _tol(x: float) -> float:
    return ABS_TOL + REL_TOL * abs(x)


def search_sql(spec: tuple, k: int) -> str:
    kind = spec[0]
    if kind == "term":
        return gate._sql_bool(must=[spec[1]], k=k)
    if kind == "and":
        return gate._sql_bool(must=list(spec[1:]), k=k)
    if kind == "or":
        return gate._sql_bool(should=list(spec[1:]), k=k)
    if kind == "phrase":
        return gate._sql_phrase(list(spec[1:]), k=k)
    if kind == "sloppy":
        return gate._sql_sloppy_phrase(spec[1], spec[2], spec[3], k=k)
    if kind == "prefix":
        return gate._sql_const(f"tok LIKE '{spec[1]}%'", k=k)
    if kind == "dismax":
        return gate._sql_dismax([spec[1], spec[2]], spec[3], k=k)
    raise ValueError(f"unknown search kind {kind}")


def match_sql(terms: list[str]) -> str:
    """Doc ids containing every term (the unscored AND match set)."""
    inlist = ",".join(f"'{t}'" for t in terms)
    return (
        f"WITH {gate._TOKS} SELECT doc_id FROM toks WHERE tok IN ({inlist}) "
        f"GROUP BY doc_id HAVING count(DISTINCT tok) = {len(set(terms))}"
    )


class Twin:
    """DuckDB over one ``documents`` table."""

    def __init__(self, docs: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.register("documents_src", docs[["doc_id", "text"]])
        self.con.execute("CREATE TABLE documents AS SELECT * FROM documents_src")
        self.con.unregister("documents_src")
        # the token CTE every query starts from, computed once
        self.con.execute(f"CREATE TABLE toks_mat AS WITH {gate._TOKS} SELECT * FROM toks")

    def _sql(self, sql: str) -> str:
        return sql.replace(gate._TOKS, "toks AS (SELECT * FROM toks_mat)")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple[int, int]]:
        return [(int(d), int(s)) for d, s in self.con.execute(self._sql(sql)).fetchall()]

    def match(self, terms: list[str]) -> set[int]:
        return {int(r[0]) for r in self.con.execute(self._sql(match_sql(terms))).fetchall()}

    def check_search(self, spec: tuple, hits: list[tuple[int, float]], k: int) -> str | None:
        """None when the engine's top-k equals the twin's up to float32
        rounding, else a one-line reason."""
        want = self.rows(search_sql(spec, k + SLACK))
        expect_n = min(k, len(want))
        if len(hits) != expect_n:
            return f"{len(hits)} hits, expected {expect_n}"
        if not hits:
            return None
        by_doc = dict(want)
        for doc, score in hits:
            if doc not in by_doc:
                return f"doc {doc} not in the twin's top {k + SLACK}"
            if abs(score * 1e6 - by_doc[doc]) > _tol(by_doc[doc]):
                return f"doc {doc} score {score:.7g} vs twin {by_doc[doc] / 1e6:.7g}"
        kth = want[expect_n - 1][1]
        if hits[-1][1] * 1e6 < kth - _tol(kth):
            return f"k-th score {hits[-1][1]:.7g} below the twin's {kth / 1e6:.7g}"
        if spec[0] == "prefix" and [d for d, _ in hits] != [d for d, _ in want[:k]]:
            return "constant-score ids differ from the twin's doc-id order"
        return None

    def check_sql64(self, spec: tuple, rows: list[tuple[int, int]], k: int) -> str | None:
        must, s1, s2 = spec
        want = self.rows(gate._sql_bool(must=[must], should=[s1, s2], k=k))
        return None if rows == want else f"rows {rows[:3]}... vs twin {want[:3]}..."

    def check_count(self, spec: tuple, n: int) -> str | None:
        ids = self.match(list(spec[1:]))
        return None if n == len(ids) else f"count {n} vs twin {len(ids)}"
