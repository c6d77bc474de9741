"""Expected results, computed independently in DuckDB.

Each oracle runs once per seed, outside ``setup_s`` and outside every
timed interval. The TV chain follows the reference backfill (panel
window attribution, geo-weight join, 300 s gap sessionization with the
180 s floor) in the shape of ``queries/core._INC_EQ_ORACLE``; the
curation oracle is the wholesale pass of
``queries/llmdata._curation_dag_oracle`` over the generated corpus,
reusing the engine's shingle and MinHash SQL fragments so both sides
hash identically.
"""

from __future__ import annotations

import duckdb
import numpy as np

SESSION_COLS = [
    "hh_id", "dma", "source_table", "content_type", "application",
    "title", "content_id", "episode_title", "season", "episode",
    "network", "panel_monday", "session_id", "session_start_ts",
    "session_end_ts", "total_duration", "panel_weight",
]
ROLLUP_DIMS = ["network", "title", "dma"]
ROLLUP_COLS = ROLLUP_DIMS + [
    "grouping_level", "weighted_views", "weighted_reach", "n_sessions",
    "n_households",
]

_SESSIONS_SQL = """
WITH mondays AS (
  SELECT DISTINCT metadata_date AS m FROM geo
  WHERE isodow(metadata_date) = 1
),
attr AS (
  SELECT e.*,
         (SELECT max(m) FROM mondays
          WHERE m > e.metadata_date AND m <= e.metadata_date + 28)
           AS panel_monday
  FROM events e
),
weighted AS (
  SELECT a.*, g.hh_id, g.geo_weight AS panel_weight
  FROM attr a JOIN geo g
    ON g.smba_id = a.smba_id AND g.metadata_date = a.panel_monday
  WHERE g.hh_id IS NOT NULL AND g.geo_weight IS NOT NULL
),
ids AS (
  SELECT *,
         CAST(SUM(CASE WHEN gap IS NULL OR gap > 300 THEN 1 ELSE 0 END)
              OVER (PARTITION BY hh_id, title, content_id
                    ORDER BY exposure_start_ts) AS BIGINT) AS session_id
  FROM (
    SELECT *,
           exposure_start_ts - LAG(exposure_end_ts) OVER (
             PARTITION BY hh_id, title, content_id
             ORDER BY exposure_start_ts) AS gap
    FROM weighted)
)
SELECT hh_id, dma, source_table, content_type, application, title,
       content_id, episode_title, season, episode, network,
       CAST(panel_monday AS VARCHAR) AS panel_monday, session_id,
       MIN(exposure_start_ts) AS session_start_ts,
       MAX(exposure_end_ts) AS session_end_ts,
       CAST(SUM(duration) AS BIGINT) AS total_duration, panel_weight
FROM ids
GROUP BY ALL
HAVING SUM(duration) >= 180
"""


def _rollup_sql(table: str) -> str:
    dims = ROLLUP_DIMS
    parts = []
    for lvl in range(len(dims) + 1):
        keep = dims[: len(dims) - lvl]
        sel = ", ".join(keep + [f"NULL AS {d}" for d in dims[len(keep):]])
        grp = ", ".join(keep + ["hh_id"])
        outer = f"GROUP BY {', '.join(keep)}" if keep else ""
        parts.append(f"""
SELECT {sel}, {lvl} AS grouping_level,
       SUM(v) AS weighted_views, SUM(w) AS weighted_reach,
       CAST(SUM(n) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_households
FROM (SELECT {grp}, SUM(panel_weight) AS v, MAX(panel_weight) AS w,
             COUNT(*) AS n
      FROM {table} GROUP BY {grp}) t
{outer}""")
    return " UNION ALL ".join(parts)


def canon(rows) -> list[tuple]:
    """Order-free comparable form: tuples sorted with NULLs first."""
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((v is not None, v) for v in r))


def tv_expected(tables: dict, with_rollup: bool) -> dict[str, list]:
    con = duckdb.connect()
    try:
        con.register("events", tables["events"])
        con.register("geo", tables["geo"])
        con.execute(f"CREATE TABLE s AS {_SESSIONS_SQL}")
        out = {"sessions": canon(con.execute(
            f"SELECT {', '.join(SESSION_COLS)} FROM s").fetchall())}
        if with_rollup:
            out["rollup"] = canon(con.execute(_rollup_sql("s")).fetchall())
        return out
    finally:
        con.close()


def read_sessions(path: str) -> list[tuple]:
    """The engine's ``viewing_sessions`` table (hive-partitioned on
    ``panel_monday``), read from its files."""
    con = duckdb.connect()
    try:
        cols = ", ".join(
            "CAST(panel_monday AS VARCHAR) AS panel_monday"
            if c == "panel_monday" else
            "CAST(session_id AS BIGINT) AS session_id"
            if c == "session_id" else c
            for c in SESSION_COLS)
        return canon(con.execute(
            f"SELECT {cols} FROM read_parquet('{path}/*/*.parquet', "
            "hive_partitioning = true)").fetchall())
    finally:
        con.close()


# ---------------------------------------------------------------- curation


def curation_expected(docs, eval_docs) -> list[tuple]:
    """The wholesale curated pool ``(doc_id, n_tokens, n_kept)`` over
    every generated document (bootstrap + daily drop)."""
    from samba_tv_ingest_etl_spark.queries import llmdata as L

    con = duckdb.connect()
    try:
        con.register("docs", docs)
        con.register("evals", eval_docs)
        sql = f"""
WITH corpus AS (SELECT doc_id, text FROM docs),
ev AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{L._TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM evals
),
{L._SHINGLE_SQL.strip().rstrip(",")},
{L._minhash_dropped_sql().lstrip()},
t AS (
  SELECT c.doc_id,
         list_filter(regexp_split_to_array(lower(c.text), '{L._TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM corpus c
  WHERE c.doc_id NOT IN (SELECT doc_b FROM dropped)
),
eg AS (
  SELECT DISTINCT
         array_to_string(list_slice(toks, i, i + {L._SPAN_K} - 1), ' ')
           AS gram
  FROM ev, unnest(range(1, len(toks) - {L._SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {L._SPAN_K}
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {L._SPAN_K} - 1), ' ')
           AS gram
  FROM t, unnest(range(1, len(toks) - {L._SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {L._SPAN_K}
),
p AS (SELECT g.doc_id, g.pos FROM g JOIN eg USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {L._SPAN_K} THEN 1 ELSE 0 END
           AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS p0, max(pos) AS p1
  FROM isl2 GROUP BY doc_id, island
),
cut AS (
  SELECT doc_id, CAST(sum(p1 - p0 + {L._SPAN_K}) AS BIGINT) AS n_cut
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(c.n_cut, 0) AS BIGINT) AS n_kept
FROM t LEFT JOIN cut c USING (doc_id)
WHERE (len(t.toks) - COALESCE(c.n_cut, 0)) * 2 >= len(t.toks)
  AND len(t.toks) - COALESCE(c.n_cut, 0) >= {L._PIPE_MIN_KEPT}
"""
        return canon(con.execute(sql).fetchall())
    finally:
        con.close()


# ---------------------------------------------------------------- ANN


def exact_topk(corpus_q: np.ndarray, queries_q: np.ndarray,
               k: int = 10) -> np.ndarray:
    """Exact cosine top-``k`` corpus row indices per query over the
    quantized vectors (ties toward the lower id, as the engine)."""
    cn = np.sqrt((corpus_q.astype(np.float64) ** 2).sum(1))
    out = np.empty((len(queries_q), k), dtype=np.int64)
    for i, q in enumerate(queries_q.astype(np.float64)):
        cos = (corpus_q @ q) / (cn * np.sqrt(q @ q))
        top = np.argpartition(-cos, k)[: k * 4]
        order = np.lexsort((top, -cos[top]))
        out[i] = top[order][:k]
    return out
