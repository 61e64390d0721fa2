"""DuckDB replays the benchmark checks the engine's outputs against.

``lttb_rows`` replays the LTTB recurrence of ``operators/decimate.py`` with
the same semantics as ``queries/_lttb_oracle.lttb_keep_ctes`` (10x
pre-stride, numpy-linspace bucket edges, next-bucket centroids, NaN/NULL
areas as -1, first-hit ties), but over materialized tables: the shared
oracle's correlated-subquery recursion takes minutes per series at a
300-point threshold. ``check_against_shared_oracle`` runs both at a small
threshold, where the shared oracle is fast, so the two cannot drift.
"""

from __future__ import annotations


def lttb_rows(con, source_sql: str, threshold: int) -> list:
    """Rows (user_id, ts, value) that LTTB keeps from ``source_sql``."""
    t = threshold
    interior, cap, last = t - 2, t * 10, t - 2
    con.execute(f"""CREATE OR REPLACE TEMP TABLE lt_base AS
WITH raw0 AS (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn0,
         COUNT(*) OVER (PARTITION BY user_id) AS n0
  FROM ({source_sql})),
strided AS (
  SELECT user_id, ts, value FROM raw0
  WHERE rn0 % GREATEST(1, CAST(FLOOR(n0 / {cap}.0) AS BIGINT)) = 0 OR rn0 = n0 - 1)
SELECT user_id, ts, value, CAST(epoch_ns(ts) AS DOUBLE) AS x, CAST(value AS DOUBLE) AS y,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn,
       COUNT(*) OVER (PARTITION BY user_id) AS n
FROM strided""")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE lt_cand AS
WITH long_series AS (SELECT DISTINCT user_id, n FROM lt_base WHERE n > {t}),
edges AS (
  SELECT ls.user_id, js.j,
         CASE WHEN js.j = {last} THEN ls.n - 1
              ELSE CAST(FLOOR(1.0 + js.j * ((ls.n - 2.0) / {interior}.0)) AS BIGINT) END AS e,
         ls.n
  FROM long_series ls, range(0, {t - 1}) js(j)),
buckets AS (
  SELECT e1.user_id, e1.j AS i, e1.e AS lo, e2.e AS hi, e2.e AS nlo,
         CASE WHEN e1.j + 2 <= {last} THEN e3.e ELSE e1.n END AS nhi
  FROM edges e1
  JOIN edges e2 ON e2.user_id = e1.user_id AND e2.j = e1.j + 1
  LEFT JOIN edges e3 ON e3.user_id = e1.user_id AND e3.j = e1.j + 2
  WHERE e1.j <= {interior - 1}),
cent AS (
  SELECT bk.user_id, bk.i, AVG(p.x) AS avg_x, AVG(p.y) AS avg_y
  FROM buckets bk JOIN lt_base p ON p.user_id = bk.user_id AND p.rn >= bk.nlo AND p.rn < bk.nhi
  GROUP BY 1, 2)
SELECT bk.user_id, bk.i, q.rn, q.x, q.y, c.avg_x, c.avg_y
FROM buckets bk
JOIN lt_base q ON q.user_id = bk.user_id AND q.rn >= bk.lo AND q.rn < bk.hi
JOIN cent c ON c.user_id = bk.user_id AND c.i = bk.i""")
    return con.execute(f"""
WITH RECURSIVE sel AS (
  SELECT user_id, 0 AS i, rn AS a, x AS ax, y AS ay FROM lt_base WHERE rn = 0 AND n > {t}
  UNION ALL
  SELECT s.user_id, s.i + 1, c.rn, c.x, c.y
  FROM sel s JOIN lt_cand c ON c.user_id = s.user_id AND c.i = s.i
  QUALIFY row_number() OVER (
    PARTITION BY s.user_id
    ORDER BY coalesce(nullif(abs((s.ax - c.avg_x) * (c.y - s.ay)
                                 - (s.ax - c.x) * (c.avg_y - s.ay)), 'NaN'::DOUBLE), -1.0) DESC,
             c.rn ASC) = 1),
keep AS (
  SELECT user_id, a AS rn FROM sel
  UNION ALL SELECT DISTINCT user_id, n - 1 FROM lt_base WHERE n > {t}
  UNION ALL SELECT user_id, rn FROM lt_base WHERE n <= {t})
SELECT b.user_id, b.ts, b.value FROM lt_base b JOIN keep k ON k.user_id = b.user_id AND k.rn = b.rn
""").fetchall()


def check_against_shared_oracle(con, source_sql: str, threshold: int = 12) -> bool:
    """The replay above and the repo's own LTTB oracle keep the same rows."""
    from rca_data_tools_spark.queries._lttb_oracle import lttb_keep_ctes

    shared = con.execute(
        f"WITH RECURSIVE {lttb_keep_ctes(source_sql, threshold=threshold)} "
        "SELECT b.user_id, b.ts, b.value FROM base b "
        "JOIN keep k ON k.user_id = b.user_id AND k.rn = b.rn"
    ).fetchall()
    return sorted(shared, key=row_key) == sorted(lttb_rows(con, source_sql, threshold), key=row_key)


def row_key(r):
    """Sort key for result rows that may hold NULLs."""
    return tuple((1, 0) if x is None else (0, x) for x in r)
