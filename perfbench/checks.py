"""Output checks that run outside the JVM, against DuckDB.

- marketviz_backfill: the `index_data` store against the split-adjusted
  per-day top-K index computed by DuckDB from the same raw parquet.
- curation_batch: the written q81 output against the registry's own
  DuckDB oracle SQL (`SparkEntry.oracleSql`), compared the way
  tools/check.py compares the registry: same columns, same row multiset.

Each returns {check name: passed}.
"""
import math

K = 100

INDEX_SQL = f"""
WITH raw AS (SELECT * FROM read_parquet('{{raw}}/*.parquet')),
dim AS (SELECT * FROM read_parquet('{{dim}}/*.parquet') WHERE shares_outstanding IS NOT NULL),
adj AS (
  SELECT r.ticker, r.date, r.close AS share_price,
    r.close * (CAST(d.shares_outstanding AS DOUBLE) / product(
      CASE WHEN r.stock_splits = 0 THEN 1.0 ELSE r.stock_splits END) OVER (
        PARTITION BY r.ticker ORDER BY r.date DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS market_cap
  FROM raw r JOIN dim d USING (ticker)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY date ORDER BY market_cap DESC, ticker) AS rn
  FROM adj)
SELECT CAST(date AS VARCHAR) AS date, sum(share_price) / {K} AS index_value,
  list(ticker ORDER BY rn) AS composition
FROM ranked WHERE rn <= {K} GROUP BY date
"""


def index_matches(want, got, rel=1e-9):
    """Same dates, identical compositions, index values within `rel`."""
    if set(want) != set(got):
        return False
    for d, (wv, wc) in want.items():
        gv, gc = got[d]
        if list(gc) != list(wc) or abs(gv - wv) > rel * abs(wv):
            return False
    return True


def check_backfill(record, con):
    want = {d: (v, c) for d, v, c in con.execute(
        INDEX_SQL.format(raw=record["raw"], dim=record["dim"])).fetchall()}
    got = {d: (v, c) for d, v, c in con.execute(
        f"SELECT CAST(date AS VARCHAR), index_value, composition FROM read_parquet("
        f"'{record['index_store']}/**/*.parquet', hive_partitioning = true)").fetchall()}
    return {"index_data equals the DuckDB index over the raw parquet": index_matches(want, got)}


def canon(rows):
    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, float) and math.isnan(v):
            return (1, "nan")
        return (2, repr(v))
    return sorted((tuple(r) for r in rows), key=lambda r: tuple(key(v) for v in r))


def check_curation(record, con):
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{record['corpus']}/*.parquet')")
    out = {}
    for name, path in record["outputs"].items():
        want_rel = con.execute(record["oracle"][name])
        cols = [d[0] for d in want_rel.description]
        want = want_rel.fetchall()
        got_rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        got_cols = [d[0] for d in got_rel.description]
        got = got_rel.fetchall()
        order = [got_cols.index(c) for c in cols] if sorted(cols) == sorted(got_cols) else None
        ok = order is not None and len(got) == len(want) and \
            canon([[r[i] for i in order] for r in got]) == canon(want)
        out[f"{name} equals its oracle SQL"] = ok
    return out


def run(record):
    workload = record["workload"]
    if record.get("error"):
        return {}
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        if workload == "marketviz_backfill":
            return check_backfill(record, con)
        return check_curation(record, con)
    finally:
        con.close()
