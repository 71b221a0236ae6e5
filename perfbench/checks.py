"""Expected answers from DuckDB, and the comparisons of engine output to them.

The BM25 and phrase mirrors are ``_bm25_sql`` / ``_phrase_sql`` from
``__spark_entry__.py`` (the SQL the repository's oracle tests use), run over
a ``documents`` view of the generated corpus with the doc_ids the engine's
contract assigns: the rank of (conv_id, turn_idx). Facet, range-facet and
stats mirrors follow the facet SQL there, with the corpus's columns.

Scores from the mirrors are rounded to 4 decimals, so a score matches when it
is within ``SCORE_TOL``. Docs whose scores differ by less than that may swap
ranks, also across the last rank of a page: the mirror ranks every matching
doc, and a returned doc must be one of them, with its own score.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import duckdb
import pandas as pd

from __spark_entry__ import _TOK, _bm25_sql, _phrase_sql

SCORE_TOL = 2e-4
# LIMIT of a mirror query that ranks every matching doc
ALL = 1 << 30


def mirror_db(corpus: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    """``corpus`` must already carry the engine's doc_id column."""
    con = duckdb.connect()
    con.register("corpus_df", corpus[["doc_id", "conv_id", "turn_idx",
                                      "role", "tool", "text"]])
    con.execute("CREATE TABLE documents AS SELECT * FROM corpus_df")
    con.unregister("corpus_df")
    return con


def with_doc_ids(corpus: pd.DataFrame, first_id: int = 0) -> pd.DataFrame:
    out = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out.insert(0, "doc_id", range(first_id, first_id + len(out)))
    return out


def index_counts(con) -> dict:
    """n_docs, n_terms, n_postings a build of ``documents`` must report."""
    n_docs, = con.execute("SELECT count(*) FROM documents").fetchone()
    n_terms, n_postings = con.execute(f"""
        WITH tok AS (SELECT DISTINCT doc_id, unnest({_TOK}) AS term
                     FROM documents)
        SELECT count(DISTINCT term), count(*) FROM tok""").fetchone()
    return {"n_docs": int(n_docs), "n_terms": int(n_terms),
            "n_postings": int(n_postings)}


def doc_freqs(con, terms) -> dict:
    inlist = ", ".join(f"'{t}'" for t in terms)
    rows = con.execute(f"""
        SELECT term, count(DISTINCT doc_id) FROM
          (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
        WHERE term IN ({inlist}) GROUP BY term""").fetchall()
    got = {t: int(n) for t, n in rows}
    return {t: got.get(t, 0) for t in terms}


def _terms_sql(words: str) -> str:
    return ", ".join(f"'{w}'" for w in sorted(set(words.split())))


def _matches_cte(words: str) -> str:
    return f"""WITH m AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
      WHERE term IN ({_terms_sql(words)}))"""


class Ranked(NamedTuple):
    """The mirror's answer to a top-k request: the expected page of
    (doc_id, score) rows, and the score of every doc the request matches.
    Docs whose scores tie at the page boundary may be returned in place of
    one another, so a returned doc is checked against ``scores``."""
    rows: list
    scores: dict


def _ranked(con, sql_full: str, page=slice(None), keep=None) -> Ranked:
    """``sql_full`` ranks every matching doc; ``keep`` is an optional set of
    doc_ids the request admits (a doc filter)."""
    rows = con.execute(sql_full).fetchall()
    if keep is not None:
        rows = [r for r in rows if r[0] in keep]
    return Ranked(rows[page], {d: s for d, s in rows})


def expected(con, req) -> object:
    """The mirror's answer for one request (see workloads.REQUESTS)."""
    kind, a = req.kind, req.args
    q, k = a.get("q", ""), a["k"]
    if kind in ("search", "filtered", "page"):
        sql = _bm25_sql(_terms_sql(q), a.get("mode", "OR"), ALL)
        keep = None
        if kind == "filtered":
            keep = {r[0] for r in con.execute(
                f"SELECT doc_id FROM documents WHERE {a['filter']}")
                .fetchall()}
        page = slice(k, 2 * k) if kind == "page" else slice(k)
        return _ranked(con, sql, page, keep)
    if kind == "qs":
        return _ranked(con, _bm25_sql(**a["mirror"], k=ALL), slice(k))
    if kind == "phrase":
        t1, t2 = q.split()
        return _ranked(con, _phrase_sql(t1, t2, a["slop"], ALL), slice(k))
    if kind == "collapse":
        sql = _bm25_sql(_terms_sql(q), "OR", k, collapse_col=a["field"])
        rows = [r[:2] for r in con.execute(sql).fetchall()]
        full = _ranked(con, _bm25_sql(_terms_sql(q), "OR", ALL))
        return Ranked(rows, full.scores)
    if kind == "sort_by":
        sql = _bm25_sql(_terms_sql(q), "OR", a["k"],
                        sort_by=(a["field"], "ASC"))
        return [r[0] for r in con.execute(sql).fetchall()]
    if kind == "export":
        sql = _bm25_sql(_terms_sql(q), "OR", 0, export_col=a["columns"][0])
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    if kind == "facets":
        parts = [f"""SELECT '{f}' AS field, CAST({f} AS VARCHAR) AS value,
                       count(*) AS n
                   FROM documents WHERE doc_id IN (SELECT doc_id FROM m)
                     AND {f} IS NOT NULL GROUP BY {f}"""
                 for f in a["fields"]]
        sql = _matches_cte(q) + "\n" + "\nUNION ALL\n".join(parts)
        return sorted(con.execute(sql).fetchall())
    if kind == "facet_range":
        f, lo, hi, gap = a["field"], a["start"], a["end"], a["gap"]
        sql = _matches_cte(q) + f"""
            SELECT CAST({lo} + floor(({f} - {lo}) / {gap}) * {gap} AS BIGINT),
                   count(*)
            FROM documents WHERE doc_id IN (SELECT doc_id FROM m)
              AND {f} IS NOT NULL AND {f} >= {lo} AND {f} < {hi}
            GROUP BY 1"""
        return sorted(con.execute(sql).fetchall())
    if kind == "facet_stats":
        f = a["field"]
        sql = _matches_cte(q) + f"""
            SELECT count({f}), sum({f}), avg({f}), min({f}), max({f})
            FROM documents WHERE doc_id IN (SELECT doc_id FROM m)"""
        return tuple(con.execute(sql).fetchone())
    raise ValueError(f"no mirror for request kind {kind!r}")


def topk_matches(got, exp: Ranked) -> bool:
    """A ranked (doc_id, score) list agrees with the mirror: the same
    length, rank-wise scores within SCORE_TOL, distinct docs, and every
    returned doc a match of the request with that score. Docs tied within
    the tolerance may come in either order, also across the page
    boundary."""
    if len(got) != len(exp.rows) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (_, es) in zip(got, exp.rows):
        if abs(gs - es) > SCORE_TOL:
            return False
        if gd not in exp.scores or abs(exp.scores[gd] - gs) > SCORE_TOL:
            return False
    return True


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def matches(kind: str, got, exp) -> bool:
    if kind in ("search", "filtered", "page", "qs", "phrase", "collapse"):
        return topk_matches(got, exp)
    if kind == "facet_stats":
        return len(got) == len(exp) and all(map(_close, got, exp))
    return got == exp


def checker_catches_wrong_answer(got, exp: Ranked) -> bool:
    """Negative control, run on every top-k check: a result with its top
    doc replaced by a doc that does not match the request must fail the
    comparison."""
    if not got or not exp.rows:
        return True
    wrong = [(max(exp.scores) + 1, got[0][1])] + list(got[1:])
    return not topk_matches(wrong, exp)
