"""DuckDB BM25 top-k oracle, in the shape of the repository's
``oracle_sql()["bm25_topk"]`` contract query: the same tokenizer CTE, the
same BM25 expression (k1=1.2, b=0.75) and the same 4-decimal IEEE rounding,
generalised to many queries at once."""

from __future__ import annotations

import duckdb
import pandas as pd

_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), t -> t <> '') AS tokens
  FROM documents
),
dl AS (SELECT doc_id, len(tokens) AS doc_len FROM toks),
post AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
tfs AS (SELECT term, doc_id, count(*)::INT AS tf FROM post GROUP BY 1, 2),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl),
tdf AS (SELECT term, count(*)::DOUBLE AS df FROM tfs
        WHERE term IN (SELECT term FROM q) GROUP BY 1),
scored AS (
  SELECT q.query_id, t.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * (1.2 + 1.0)) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.doc_len / s.avgdl)) AS ts
  FROM q
  JOIN tfs t USING (term)
  JOIN tdf d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
),
agg AS (SELECT query_id, doc_id, sum(ts) AS score FROM scored GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
  FROM agg
)
SELECT query_id, doc_id, floor(score * 10000 + 0.5) / 10000 AS score
FROM ranked WHERE rn <= $k ORDER BY query_id, rn
"""


def r4(x: float) -> float:
    """The contract's engine-independent rounding: floor(x·1e4 + 0.5)/1e4."""
    import math

    return math.floor(x * 10000 + 0.5) / 10000


def bm25_topk(
    docs: pd.DataFrame, queries: dict[int, list[str]], k: int
) -> dict[int, list[tuple[int, float]]]:
    """query_id → [(doc_id, rounded score)] in (score desc, doc_id asc)
    order, over ``docs`` (doc_id, text); each query's terms are distinct."""
    q = pd.DataFrame(
        [(qid, t) for qid, terms in queries.items() for t in dict.fromkeys(terms)],
        columns=["query_id", "term"],
    )
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("documents", docs[["doc_id", "text"]])
        con.register("q", q)
        rows = con.execute(_SQL.replace("$k", str(int(k)))).fetchall()
    finally:
        con.close()
    out: dict[int, list[tuple[int, float]]] = {qid: [] for qid in queries}
    for qid, doc, score in rows:
        out[int(qid)].append((int(doc), float(score)))
    return out


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rounded top-k lists agree: identical score sequences, and identical
    doc sets within every score tier except the lowest one, where ties
    straddle the k cut and two float summation orders may pick either."""
    if [s for _, s in got] != [s for _, s in want]:
        return False
    if not got:
        return True
    cut = got[-1][1]

    def tiers(rows):
        out: dict[float, set[int]] = {}
        for d, s in rows:
            if s != cut:
                out.setdefault(s, set()).add(d)
        return out

    return tiers(got) == tiers(want)
