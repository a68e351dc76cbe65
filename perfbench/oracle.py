"""Independent DuckDB reference for the re-ranking pipeline.

Computes, outside any timed phase and without Spark, each query's
``bm25 top-K_CAND -> MaxP dense -> alpha * sparse + (1 - alpha) * dense``
scores over the generated parquet, with the gate's determinism rules
(SURVEY.md §1.3): BM25 rounded to SCORE_DECIMALS before ranking, first-stage
ties broken by (score desc, doc_id asc), then the float32 casts the
library's Ranking applies to every score column.

:func:`check` compares an engine top-k against the reference. It is exact
up to ties: every returned id must carry the reference score for that id,
and the returned scores must be the k best reference scores (rounding is
monotone, so this holds whichever way equal scores were broken).
"""

from __future__ import annotations

import duckdb

from sparkforward.bm25 import SCORE_DECIMALS
from sparkforward.tokenize import SPLIT_PATTERN

K_CAND = 100
K_FINAL = 10
ALPHA = 0.2


class Reference:
    """Tokenizes the corpus once; answers queries over any live subset."""

    def __init__(self, docs_glob: str, vectors_path: str | None = None) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"""
            CREATE TABLE tf AS
            SELECT doc_id, term, count(*)::DOUBLE AS tf
            FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                                        '{SPLIT_PATTERN}')) AS term
                  FROM read_parquet('{docs_glob}'))
            WHERE term <> '' GROUP BY doc_id, term""")
        self.con.execute("""
            CREATE TABLE dl AS SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id""")
        if vectors_path is None:
            return
        self.con.execute(f"""
            CREATE TABLE vec AS
            SELECT CAST(doc_id AS BIGINT) AS doc_id, vector::DOUBLE[] AS v
            FROM read_parquet('{vectors_path}')""")

    def topk(self, queries: dict[str, str], qvecs: dict[str, list[float]] | None,
             live: str = "TRUE", k_cand: int = K_CAND) -> dict[str, dict[str, float]]:
        """q_id -> {id: score} over the query's top-``k_cand`` BM25
        candidates: the interpolated float32 score, or with ``qvecs=None``
        the rounded BM25 score. ``live`` is a SQL predicate on ``doc_id``
        selecting the visible corpus."""
        con = self.con
        con.execute("CREATE OR REPLACE TEMP TABLE qtext(q_id VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO qtext VALUES (?, ?)", list(queries.items()))
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE qterms AS
            SELECT DISTINCT q_id, term
            FROM (SELECT q_id, unnest(regexp_split_to_array(lower(text),
                                      '{SPLIT_PATTERN}')) AS term FROM qtext)
            WHERE term <> ''""")
        sparse = f"""
        ldl AS (SELECT * FROM dl WHERE {live}),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM ldl),
        ltf AS (SELECT tf.* FROM tf JOIN ldl USING (doc_id)),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM ltf
                  WHERE term IN (SELECT term FROM qterms) GROUP BY term),
        bm25 AS (
          SELECT qterms.q_id, ltf.doc_id,
            round(sum(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * ltf.tf * (1.2 + 1) / (ltf.tf + 1.2 * (1 - 0.75 + 0.75 * ldl.dl
              / stats.avgdl))), {SCORE_DECIMALS}) AS score
          FROM qterms JOIN ltf USING (term) JOIN ldl USING (doc_id)
               JOIN dfreq ON dfreq.term = qterms.term CROSS JOIN stats
          GROUP BY qterms.q_id, ltf.doc_id),
        cand AS (
          SELECT * FROM (SELECT q_id, doc_id, score, row_number() OVER (
                   PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS r
                 FROM bm25) WHERE r <= {int(k_cand)})"""
        if qvecs is None:
            res = con.execute(f"WITH {sparse} SELECT q_id, CAST(doc_id AS VARCHAR), "
                              "score FROM cand").fetchall()
        else:
            con.execute("CREATE OR REPLACE TEMP TABLE qvec(q_id VARCHAR, v DOUBLE[])")
            con.executemany(
                "INSERT INTO qvec VALUES (?, ?)", [(q, qvecs[q]) for q in queries]
            )
            res = con.execute(f"""
        WITH {sparse},
        dense AS (
          SELECT c.q_id, c.doc_id,
                 CAST(max(list_dot_product(qvec.v, vec.v)) AS FLOAT) AS d
          FROM cand c JOIN vec USING (doc_id) JOIN qvec USING (q_id)
          GROUP BY c.q_id, c.doc_id)
        SELECT c.q_id, CAST(c.doc_id AS VARCHAR),
               CAST({ALPHA!r}::DOUBLE * CAST(CAST(c.score AS FLOAT) AS DOUBLE)
                    + {1.0 - ALPHA!r}::DOUBLE * CAST(dense.d AS DOUBLE) AS FLOAT)
        FROM cand c JOIN dense USING (q_id, doc_id)
        """).fetchall()
        out: dict[str, dict[str, float]] = {q: {} for q in queries}
        for q, d, s in res:
            out[q][d] = float(s)
        return out

    def close(self) -> None:
        self.con.close()


def _close(a: float, b: float) -> bool:
    # equal after SCORE_DECIMALS rounding, or within one float32 ulp-scale
    # step of each other (a rounding boundary between two equal floats)
    return round(a, SCORE_DECIMALS) == round(b, SCORE_DECIMALS) or abs(a - b) < 1e-6


def check(engine: list[tuple[str, float]], ref: dict[str, float],
          k: int = K_FINAL) -> bool:
    """True when ``engine`` (one query's (id, score) rows) is a correct
    top-``k`` of the reference candidate scores ``ref``."""
    ids = [i for i, _ in engine]
    if len(engine) != min(k, len(ref)) or len(set(ids)) != len(ids):
        return False
    for i, s in engine:
        if i not in ref or not _close(s, ref[i]):
            return False
    got = sorted((s for _, s in engine), reverse=True)
    want = sorted(ref.values(), reverse=True)[:k]
    return all(_close(a, b) for a, b in zip(got, want))
