"""Output checks. Any mismatch raises :class:`CheckFailed`, which fails
the command.

- analyst files: every CSV the run published equals its DuckDB twin
  (the twins of ``tests/test_pipeline.py``);
- export files: rows, columns and cells of the CSV bytes stored in the
  fake Drive equal DuckDB's count of the same SQL, and the over-cap file
  came back ``cell_limit``;
- curation queries: the result equals the registry's DuckDB ``ORACLES``
  twin (order-insensitive, columns by name);
- ingest: the index holds bands x survivors, planted exact copies are
  dropped while their original is kept, and a replay is idempotent.
"""

from __future__ import annotations

import glob
import io
import os

import duckdb
import pandas as pd

from sheetsetl_spark.catalog import TABLES


class CheckFailed(Exception):
    pass


def duck(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# DuckDB twins of every file in examples/analyst_sql.
ANALYST_ORACLES = {
    "order_priorities": """
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ' / ' ORDER BY o_orderpriority) AS priorities,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus ORDER BY n_orders DESC LIMIT 10
    """,
    "revenue_by_region": """
        SELECT r.r_name AS region, YEAR(o.o_orderdate) AS order_year,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, YEAR(o.o_orderdate) ORDER BY region, order_year
    """,
    "top_customers": """
        SELECT c_mktsegment, c_name, c_acctbal FROM (
          SELECT c_mktsegment, c_name, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer) t
        WHERE rn <= 3
    """,
    "recent_orders": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1995-01-01' + INTERVAL 3 MONTH
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "monthly_orders": """
        SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n_orders
        FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
        ORDER BY ym LIMIT 10 OFFSET 5
    """,
    "preamble_segment_counts": """
        SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
               CASE WHEN COUNT(*) > 100 THEN 'big' ELSE 'small' END AS size_class
        FROM customer GROUP BY c_mktsegment ORDER BY segment
    """,
    "hinted_join": """
        SELECT o.o_orderstatus, COUNT(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_acctbal > 0
        GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
    "logical_ops": """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE (o_orderstatus = 'F' OR o_orderstatus = 'O') AND o_totalprice > 1000
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "escaped_strings": """
        SELECT COUNT(*) AS n_docs FROM documents
        WHERE text NOT LIKE 'it''s a trap -- LIMIT 1, 2%'
    """,
    "backlog_today": """
        SELECT o_orderstatus, COUNT(*) AS n_orders
        FROM orders WHERE o_orderdate <= CURRENT_DATE
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "no_cache_summary": """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "double_quoted": """
        SELECT c_nationkey, COUNT(*) AS n
        FROM customer WHERE c_mktsegment = 'BUILDING'
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "date_math": """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-06-01' - INTERVAL 90 DAY
          AND o_orderdate < TIMESTAMP '1996-06-01' + INTERVAL 1 WEEK
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "null_safe": """
        SELECT COUNT(*) AS n_building FROM customer
        WHERE c_mktsegment IS NOT DISTINCT FROM 'BUILDING'
    """,
    "name_suffixes": """
        SELECT list_extract(string_split(c_name, '#'), -1) AS name_suffix,
               COUNT(*) AS n
        FROM customer
        GROUP BY 1 ORDER BY name_suffix LIMIT 10
    """,
    "status_rollup": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus, o_orderpriority
    """,
    "nation_customer_counts": """
        SELECT n_name, COALESCE(t.n_cust, 0) AS n_customers
        FROM nation
        LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n_cust
                   FROM customer GROUP BY c_nationkey) t
          ON n_nationkey = t.c_nationkey
        ORDER BY n_name
    """,
    "var_cutoff": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "var_chain": """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM orders WHERE o_totalprice > 90000
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "var_multi": """
        SELECT p_size, COUNT(*) AS n
        FROM part WHERE p_size BETWEEN 5 AND 15
        GROUP BY p_size ORDER BY p_size
    """,
    "var_reassign": """
        SELECT COUNT(*) AS n_customers FROM customer
        WHERE c_mktsegment = 'BUILDING'
    """,
    "mysql_idioms": """
        SELECT o_orderkey % 4 AS bucket, COUNT(*) AS n
        FROM orders WHERE o_orderstatus = 'O'
        GROUP BY 1 ORDER BY bucket
    """,
    "string_splice": """
        SELECT CONCAT(SUBSTRING(o_orderpriority, 1, 1), '~',
                      SUBSTRING(o_orderpriority, 3)) AS spliced,
               COUNT(*) AS n
        FROM orders GROUP BY 1 ORDER BY spliced
    """,
    "priority_rollcall": """
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ' > '
                          ORDER BY o_orderpriority DESC) AS priorities
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "iso_weeks": """
        SELECT CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
               COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
        GROUP BY weekofyear(o_orderdate) ORDER BY iso_week
    """,
    "sunday_weeks": """
        SELECT CAST(CASE WHEN o_orderdate < fs THEN 0
                         ELSE datediff('day', fs, o_orderdate) // 7 + 1 END AS INT) AS wk,
               COUNT(*) AS n_orders
        FROM (SELECT CAST(o_orderdate AS DATE) AS o_orderdate,
                     CAST(date_trunc('year', o_orderdate) AS DATE)
                       + CAST((7 - isodow(date_trunc('year', o_orderdate))) % 7 AS INT) AS fs
              FROM orders
              WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-03-01') t
        GROUP BY 1 ORDER BY wk
    """,
    "monday_weeks": """
        SELECT CAST(CASE WHEN ws < a THEN 0
                         ELSE datediff('day', a, ws) // 7 + 1 END AS INT) AS wk_m1,
               COUNT(*) AS n_orders
        FROM (SELECT d - CAST(isodow(d) - 1 AS INT) AS ws,
                     (j1 + 3) - CAST(isodow(j1 + 3) - 1 AS INT) AS a
              FROM (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(date_trunc('year', o_orderdate) AS DATE) AS j1
                    FROM orders
                    WHERE o_orderdate >= '1994-01-01'
                      AND o_orderdate < '1994-03-01') raw) t
        GROUP BY 1 ORDER BY wk_m1
    """,
    "iso_yearweek": """
        SELECT CAST(yearweek(o_orderdate) AS INT) AS iso_yw,
               COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= '1994-12-01' AND o_orderdate < '1995-02-01'
        GROUP BY yearweek(o_orderdate) ORDER BY iso_yw
    """,
    "date_plus_int": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= DATE '1996-06-01' - 90
          AND o_orderdate < DATE '1996-06-01' + 7
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "timestamp_functions": """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CASE WHEN (1998 * 12 + 1)
                          - (YEAR(o_orderdate) * 12 + MONTH(o_orderdate))
                          - (CASE WHEN DAY(o_orderdate) > 1 THEN 1 ELSE 0 END)
                        >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS older_than_year,
               CAST(MAX(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31'))
                 AS INT) AS max_age_days
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-02-01 00:00:00'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
}


def _cell(v, numeric: bool):
    """One value in a comparable form: None for null/NaN/empty, a float
    for numeric columns, else the string."""
    if isinstance(v, str) and not v:
        return None
    if v is None or (not hasattr(v, "__len__") and pd.isna(v)):
        return None
    return float(v) if numeric else str(v)


def _rows(df: pd.DataFrame, numeric: dict[str, bool]) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v, numeric[c]) for c, v in zip(cols, r))
            for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def check_analyst_csv(con, name: str, csv_dir: str) -> None:
    """The CSV directory the sink wrote for analyst file ``name`` equals
    the file's DuckDB twin."""
    expected = con.execute(ANALYST_ORACLES[name]).df()
    parts = sorted(glob.glob(os.path.join(csv_dir, "*.csv")))
    frames = [pd.read_csv(p, dtype=str, keep_default_na=False) for p in parts]
    frames = [f for f in frames if len(f.columns)]
    actual = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
    if sorted(actual.columns) != sorted(expected.columns):
        raise CheckFailed(f"{name}: columns {sorted(actual.columns)} != {sorted(expected.columns)}")
    numeric = {c: expected[c].dtype.kind in "iuf" for c in expected.columns}
    a, e = _rows(actual, numeric), _rows(expected, numeric)
    if a != e:
        diff = [x for x in a if x not in e][:3]
        raise CheckFailed(f"{name}: {len(a)} rows vs {len(e)} in the twin; e.g. {diff}")


def check_export(con, sql: str, name: str, status: str, payload: bytes | None,
                 cell_limit: int) -> None:
    """An export file's outcome against DuckDB's count of the same SQL."""
    rows = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
    cols = list(con.execute(f"SELECT * FROM ({sql}) LIMIT 0").df().columns)
    cells = (rows + 1) * len(cols)
    want = "cell_limit" if cells >= cell_limit else "ok"
    if status != want:
        raise CheckFailed(f"{name}: status {status}, expected {want} ({cells} cells)")
    if want == "ok":
        if payload is None:
            raise CheckFailed(f"{name}: no sheet stored in the fake Drive")
        got = pd.read_csv(io.BytesIO(payload), dtype=str, keep_default_na=False)
        if list(got.columns) != cols or len(got) != rows:
            raise CheckFailed(
                f"{name}: sheet has {len(got)} rows x {list(got.columns)}, "
                f"DuckDB {rows} rows x {cols}")


def check_query(con, name: str, oracle: str, actual: pd.DataFrame) -> None:
    """A registry query's result equals its DuckDB twin, columns by name
    and rows in any order."""
    expected = con.execute(oracle).df()
    if sorted(actual.columns) != sorted(expected.columns):
        raise CheckFailed(f"{name}: columns {sorted(actual.columns)} != {sorted(expected.columns)}")
    numeric = {c: expected[c].dtype.kind in "iuf" or actual[c].dtype.kind in "iuf"
               for c in expected.columns}
    if _rows(actual, numeric) != _rows(expected, numeric):
        raise CheckFailed(f"{name}: {len(actual)} rows differ from the {len(expected)}-row twin")


def check_ingest(spark, history_dir: str, index_dir: str, files: list[dict],
                 bands: int, replay) -> dict:
    """Ingest invariants; ``replay()`` re-runs the last micro-batch."""

    def state():
        hist = {r[0] for r in spark.read.parquet(history_dir).select("doc_id").collect()}
        idx = [r[0] for r in spark.read.parquet(index_dir).select("doc_id").collect()]
        return hist, set(idx), len(idx)

    hist, idx_ids, idx_rows = state()
    fed = {i for f in files for i in f["doc_ids"]}
    if not hist or not hist <= fed:
        raise CheckFailed(f"ingest: history holds {len(hist)} docs, not a subset of the input")
    if idx_ids != hist or idx_rows != bands * len(hist):
        raise CheckFailed(f"ingest: index {idx_rows} rows over {len(idx_ids)} docs, "
                          f"expected {bands} x {len(hist)} survivors")
    kept = [c for f in files for c, orig in f["copies"] if orig in hist and c in hist]
    if kept:
        raise CheckFailed(f"ingest: exact copies {kept} kept next to their originals")
    replay()
    if state() != (hist, idx_ids, idx_rows):
        raise CheckFailed("ingest: replaying the last batch changed history or index")
    return {"survivors": len(hist), "index_rows": idx_rows}
