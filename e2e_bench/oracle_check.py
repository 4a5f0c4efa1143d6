"""The correctness gate's reference: BM25 top-k recomputed in DuckDB.

The SQL comes from ``__spark_entry__._bm25_cte`` (imported, not
copied), which tokenizes on single spaces and scores with k1=0.9,
b=0.4 and a float32 avgdl, as the engine does.  Expected order is the
engine's contract: f32 score descending, then ascending doc_id.
"""

from __future__ import annotations

import duckdb
import numpy as np

from __spark_entry__ import _bm25_cte
from corpus_gen import K

SCORE_TOL = 1e-5


def _materialized(cte: str) -> str:
    """The same CTEs with the per-doc token counts computed once: DuckDB
    otherwise inlines ``tok`` at each of its uses, and re-tokenizes the
    corpus for every one (~20x slower, same rows)."""
    return cte.replace("WITH tok AS (", "WITH tok AS MATERIALIZED (", 1).replace(
        "dl AS (", "dl AS MATERIALIZED (", 1)


class Oracle:
    def __init__(self, documents):
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self.con.register("documents", documents.select(["doc_id", "text", "lang"]))

    def topk(self, terms: list[str], lang: str | None = None):
        """[(doc_id, score)] of the BM25 top-K of an OR over ``terms``,
        restricted to docs of ``lang`` when given (stats stay global)."""
        doc_filter = f"d.lang = '{lang}'" if lang else "TRUE"
        rows = self.con.execute(
            _materialized(_bm25_cte(terms, doc_filter))
            + "SELECT doc_id, score FROM scored"
            f" ORDER BY score DESC, doc_id ASC LIMIT {K + 50}"
        ).fetchall()
        rows.sort(key=lambda r: (-np.float32(r[1]), r[0]))
        return [(int(d), float(s)) for d, s in rows[:K]]

    def close(self) -> None:
        self.con.close()


def mismatch(got, want) -> str | None:
    """None when ``got`` and ``want`` ([(doc_id, score)]) have the same
    ids in the same order and scores within SCORE_TOL; else a reason."""
    got_ids = [d for d, _ in got]
    want_ids = [d for d, _ in want]
    if got_ids != want_ids:
        return f"ids {got_ids} != {want_ids}"
    for (d, a), (_, b) in zip(got, want):
        if abs(a - b) > SCORE_TOL:
            return f"doc {d}: score {a} != {b}"
    return None
