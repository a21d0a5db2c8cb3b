"""DuckDB oracle over the benchmark's source rows.

Documents are keyed by (conv_id, turn_idx), whose order is the engine's
doc_id order, so ties break the same way in both. Tokens follow the
engine's analysis: the index token pattern over lower-cased text. BM25
uses the engine's constants (k1=1.2, b=0.75) and the shape of the
``entry_queries.O_BM25_TOPK``/``O_BM25_PHRASE_TOPK`` oracles.
"""

from __future__ import annotations

import duckdb

from blacklab_spark.analysis import TOKEN_PATTERN
from blacklab_spark.config import EngineConfig

_CFG = EngineConfig()


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Oracle:
    def __init__(self, parquet_paths: list[str], deleted: list[tuple[str, int]] = ()):
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        files = ", ".join(_q(p) for p in parquet_paths)
        self.db.execute(f"CREATE TABLE docs AS SELECT conv_id, turn_idx, role, tool, text "
                        f"FROM read_parquet([{files}])")
        if deleted:
            self.db.execute("CREATE TABLE dead (conv_id VARCHAR, turn_idx INTEGER)")
            self.db.executemany("INSERT INTO dead VALUES (?, ?)", list(deleted))
            self.db.execute("DELETE FROM docs USING dead WHERE docs.conv_id = dead.conv_id "
                            "AND docs.turn_idx = dead.turn_idx")
        toks = f"regexp_extract_all(lower(text), {_q(TOKEN_PATTERN)})"
        self.db.execute(f"""
            CREATE TABLE tok AS
            SELECT conv_id, turn_idx, unnest({toks}) AS t,
                   generate_subscripts({toks}, 1) - 1 AS pos
            FROM docs""")
        self.db.execute("""
            CREATE TABLE dl AS
            SELECT d.conv_id, d.turn_idx, d.role, d.tool, count(t.t) AS dl
            FROM docs d LEFT JOIN tok t USING (conv_id, turn_idx)
            GROUP BY ALL""")
        self.n, self.avgdl = self.db.execute("SELECT count(*), avg(dl) FROM dl").fetchone()

    def doc_key(self, doc_id: int) -> tuple[str, int]:
        """(conv_id, turn_idx) of a doc_id in an index freshly built from
        these rows: doc ids are the dense rank of (conv_id, turn_idx)."""
        if not hasattr(self, "_keys"):
            self._keys = self.db.execute(
                "SELECT conv_id, turn_idx FROM docs ORDER BY conv_id, turn_idx").fetchall()
        return self._keys[doc_id]

    def _bm25(self, tf_sql: str, df_sql: str, k: int, where: str) -> list[tuple]:
        """Rows (conv_id, turn_idx, score) of the top k, followed by any
        further rows tied with the k-th score to 1e-4, so that a
        comparison can allow either order among equal scores."""
        k1, b = _CFG.k1, _CFG.b
        rows = self.db.execute(f"""
            WITH tf AS ({tf_sql}), df AS ({df_sql}),
            scores AS (
              SELECT tf.conv_id, tf.turn_idx,
                     sum(tf.qtf * ln(1.0 + ({self.n} - df.df + 0.5) / (df.df + 0.5))
                         * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / {self.avgdl})))
                       AS score
              FROM tf JOIN df USING (t) JOIN dl USING (conv_id, turn_idx)
              WHERE {where}
              GROUP BY ALL),
            ranked AS (
              SELECT *, row_number() OVER (ORDER BY score DESC, conv_id, turn_idx) AS rk
              FROM scores)
            SELECT conv_id, turn_idx, score FROM ranked
            WHERE rk <= {k} OR round(score, 4) >= (SELECT round(min(score), 4) FROM ranked WHERE rk <= {k})
            ORDER BY score DESC, conv_id, turn_idx""").fetchall()
        return rows

    def topk(self, terms: list[str], k: int, filter_sql: str | None = None) -> list[tuple]:
        if not terms:
            return []
        qtf: dict[str, int] = {}
        for t in terms:
            qtf[t] = qtf.get(t, 0) + 1
        values = ", ".join(f"({_q(t)}, {n})" for t, n in qtf.items())
        tf_sql = f"""
            SELECT tok.conv_id, tok.turn_idx, tok.t, q.qtf, count(*) AS tf
            FROM tok JOIN (VALUES {values}) q(t, qtf) USING (t)
            GROUP BY ALL"""
        df_sql = f"""
            SELECT t, count(DISTINCT (conv_id, turn_idx)) AS df FROM tok
            WHERE t IN ({", ".join(_q(t) for t in qtf)}) GROUP BY t"""
        return self._bm25(tf_sql, df_sql, k, filter_sql or "TRUE")

    def _phrase_starts_sql(self, words: list[str], gaps: list[int]) -> str:
        """(conv_id, turn_idx, pos) of every match of ``words`` where
        word i+1 sits ``gaps[i] + 1`` positions after word i."""
        sql = f"SELECT conv_id, turn_idx, pos FROM tok a0 WHERE t = {_q(words[0])}"
        joins, offset = [], 0
        for i, (w, g) in enumerate(zip(words[1:], gaps), start=1):
            offset += g + 1
            joins.append(
                f"EXISTS (SELECT 1 FROM tok a{i} WHERE a{i}.conv_id = a0.conv_id "
                f"AND a{i}.turn_idx = a0.turn_idx AND a{i}.pos = a0.pos + {offset} "
                f"AND a{i}.t = {_q(w)})")
        return sql + "".join(f" AND {j}" for j in joins)

    def phrase_count(self, words: list[str], gaps: list[int] | None = None) -> int:
        """Number of phrase (or fixed-gap sequence) hits."""
        gaps = gaps or [0] * (len(words) - 1)
        return self.db.execute(
            f"SELECT count(*) FROM ({self._phrase_starts_sql(words, gaps)})").fetchone()[0]

    def phrase_topk(self, words: list[str], k: int) -> list[tuple]:
        """Phrase scored as one term: tf = occurrences in the doc,
        df = docs containing it (Lucene SpanWeight at slop 0)."""
        starts = self._phrase_starts_sql(words, [0] * (len(words) - 1))
        tf_sql = (f"SELECT conv_id, turn_idx, 'phrase' AS t, 1 AS qtf, count(*) AS tf "
                  f"FROM ({starts}) GROUP BY ALL")
        df_sql = f"SELECT 'phrase' AS t, count(DISTINCT (conv_id, turn_idx)) AS df FROM ({starts})"
        return self._bm25(tf_sql, df_sql, k, "TRUE")

    def close(self) -> None:
        self.db.close()


def same_ranking(got: list[tuple], want: list[tuple], k: int, eps: float = 1e-6) -> str | None:
    """None when ``got`` (conv_id, turn_idx, score) is the oracle's top k:
    same length, the same score rank by rank (to ``eps``), and at each
    rank a document the oracle scores the same, so documents with equal
    scores may come in either order. Otherwise a one-line reason."""
    top = want[:k]
    if len(got) != len(top):
        return f"{len(got)} rows, oracle has {len(top)}"
    for i, (g, w) in enumerate(zip(got, top)):
        if abs(g[2] - w[2]) > eps:
            return f"rank {i}: score {g[2]:.6f} != oracle {w[2]:.6f}"
    oracle_score = {(c, t): s for c, t, s in want}
    for i, (c, t, s) in enumerate(got):
        o = oracle_score.get((c, t))
        if o is None or abs(o - s) > eps:
            return f"rank {i}: doc {c}/{t} scored {s:.6f}, oracle {o}"
    if len({(c, t) for c, t, _ in got}) != len(got):
        return "duplicate documents"
    return None
