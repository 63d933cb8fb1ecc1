"""Correctness gate of the benchmark: DuckDB answers to compare with the
engine's, computed outside the timed phase.

The SQL composes the engine's own scoring math (``query.bm25.bm25_sql``,
``functions.norms.quantized_dl_sql``) the way ``neural_search_spark.oracle``
does, over the corpus tokenized with the index's analyzer
(``functions.tokenize.resolve_analyzer``). The corpus is tokenized once
per run; each check restricts it to the documents the index held
(``visible``), so N, avgdl and df are those of the index being queried.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from neural_search_spark.functions.norms import quantized_dl_sql
from neural_search_spark.functions.tokenize import resolve_analyzer
from neural_search_spark.query.bm25 import bm25_sql

# extra oracle rows fetched beyond k, so ties at the cut can be matched
_SLACK = 20
# the DSL rounds scores to 4 decimals
_TOL = 1.5e-4


class Oracle:
    def __init__(self, docs: pd.DataFrame, tokenizer: str):
        """``docs``: (doc_id, content) of every document the run may index."""
        split_re, _token_re, lower = resolve_analyzer(tokenizer)
        text = "lower(content)" if lower else "content"
        self.con = duckdb.connect()
        self.con.register("docs_src", docs[["doc_id", "content"]])
        self.con.execute(
            f"""CREATE TABLE toks AS
            SELECT doc_id, toks, len(toks) AS dl FROM (
              SELECT doc_id, list_filter(regexp_split_to_array({text}, '{split_re}'),
                                         x -> x <> '') AS toks FROM docs_src)""")
        self.con.execute(
            """CREATE TABLE tf AS
            SELECT doc_id, dl, term, count(*) AS tf
            FROM (SELECT doc_id, dl, unnest(toks) AS term FROM toks)
            GROUP BY doc_id, dl, term""")
        self.con.unregister("docs_src")
        self._contrib = bm25_sql(tf="tf", dl_q=f"({quantized_dl_sql('dl')})",
                                 N="N", df="df", avgdl="avgdl")

    def close(self) -> None:
        self.con.close()

    def _hits(self, visible: list[int], queries: list[tuple[list[str], str]],
              phrase: list[str] | None = None) -> pd.DataFrame:
        """(qid, doc_id, score) of every matching doc of every query."""
        self.con.execute("CREATE OR REPLACE TEMP TABLE vis AS SELECT unnest($1::BIGINT[]) AS doc_id",
                         [visible])
        q = pd.DataFrame([(i, t) for i, (terms, _) in enumerate(queries) for t in sorted(set(terms))],
                         columns=["qid", "term"])
        qn = pd.DataFrame([(i, len(set(terms)), mode) for i, (terms, mode) in enumerate(queries)],
                          columns=["qid", "n", "mode"])
        self.con.register("q", q)
        self.con.register("qn", qn)
        gate = ""
        if phrase is not None:
            needle = " " + " ".join(phrase) + " "
            gate = (" AND doc_id IN (SELECT doc_id FROM toks SEMI JOIN vis USING (doc_id) "
                    f"WHERE strpos(' ' || array_to_string(toks, ' ') || ' ', '{needle}') > 0)")
        try:
            return self.con.execute(f"""
            WITH d AS (SELECT doc_id, dl FROM toks SEMI JOIN vis USING (doc_id)),
            stats AS (SELECT count(*) AS N, sum(dl) * 1.0 / count(*) AS avgdl FROM d),
            tfv AS (SELECT * FROM tf SEMI JOIN vis USING (doc_id)
                    WHERE term IN (SELECT term FROM q)),
            dfreq AS (SELECT term, count(*) AS df FROM tfv GROUP BY term),
            hits AS (
              SELECT q.qid, tfv.doc_id, sum({self._contrib}) AS score, count(*) AS nt
              FROM q JOIN tfv USING (term) JOIN dfreq USING (term), stats
              GROUP BY q.qid, tfv.doc_id)
            SELECT qid, doc_id, score FROM hits JOIN qn USING (qid)
            WHERE (qn.mode = 'or' OR hits.nt = qn.n){gate}
            """).df()
        finally:
            self.con.unregister("q")
            self.con.unregister("qn")

    @staticmethod
    def _top(hits: pd.DataFrame, n: int) -> list[tuple[int, float]]:
        ordered = hits.sort_values(["score", "doc_id"], ascending=[False, True]).head(n)
        return list(zip(ordered["doc_id"].astype(int), ordered["score"].astype(float)))

    def topk(self, visible: list[int], queries: list[tuple[list[str], str]],
             k: int) -> list[list[tuple[int, float]]]:
        """Top ``k + slack`` (doc_id, score) per (terms, 'or'|'and') query."""
        hits = self._hits(visible, queries)
        by_q = dict(tuple(hits.groupby("qid")))
        return [self._top(by_q[i], k + _SLACK) if i in by_q else [] for i in range(len(queries))]

    def phrase_topk(self, visible: list[int], terms: list[str], k: int) -> list[tuple[int, float]]:
        hits = self._hits(visible, [(terms, "or")], phrase=terms)
        return self._top(hits, k + _SLACK)

    def hybrid_topk(self, visible: list[int], groups: list[list[str]],
                    k: int) -> list[tuple[int, float]]:
        """min_max per sub-query over all its matches, then the
        arithmetic mean with missing scores zero-filled (query/hybrid.py)."""
        hits = self._hits(visible, [(g, "or") for g in groups])
        stats = hits.groupby("qid")["score"].agg(["min", "max"])
        h = hits.join(stats, on="qid")
        raw = (h["score"] - h["min"]) / (h["max"] - h["min"])
        h["n"] = raw.where(h["max"] != h["min"], 1.0)
        h.loc[h["n"] == 0.0, "n"] = 0.001
        comb = (h.groupby("doc_id")["n"].sum() / len(groups)).rename("score").reset_index()
        return self._top(comb, k + _SLACK)


def same_hits(got: list[tuple[int, float]], expected: list[tuple[int, float]], k: int) -> bool:
    """``got`` (the engine's top-k, scores rounded or raw) matches the
    oracle's ranking: same length, each rank's score within rounding of
    the oracle's, and each returned doc scored the same by the oracle.
    Docs whose scores tie within rounding may trade places."""
    if len(got) != min(k, len(expected)):
        return False
    exp_score = dict(expected)
    for (doc, score), (_, want) in zip(got, expected):
        if abs(score - want) > _TOL:
            return False
        if doc not in exp_score or abs(exp_score[doc] - score) > _TOL:
            return False
    return len({doc for doc, _ in got}) == len(got)
