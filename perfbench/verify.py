"""Correctness checks on the outputs a run leaves behind.

* Keys with a `SparkEntry.oracleSql` entry: the engine's rows must equal the
  DuckDB result of that SQL over the same corpus files, value for value and
  in order (columns compared by name). The corpus is fixed, so each DuckDB
  result is kept, keyed by the SQL text and the corpus files' contents, and
  computed again only when either changes.
* Keys without one are reported wrong: every key a workload runs must have
  an oracle.
* The `JobRunner` job: its written top-N must equal an independent DuckDB
  top-N over the same generated input files.
"""
import glob
import hashlib
import math
import os

import duckdb
import pyarrow.feather as feather

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def connect(corpus_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus_dir}/{t}.parquet')")
    return con


def corpus_digest(corpus_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(corpus_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_result(con, sql, cache_dir, corpus_id):
    """DuckDB's result of `sql` over the corpus, from `cache_dir` when the
    same SQL has run over the same corpus before (Arrow IPC keeps every
    value and type exactly)."""
    key = hashlib.sha256(f"{corpus_id}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.arrow")
    if os.path.exists(path):
        return feather.read_table(path)
    table = con.execute(sql).fetch_arrow_table()
    os.makedirs(cache_dir, exist_ok=True)
    feather.write_feather(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return table


def read_output(con, out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()


def mismatch(got, want):
    """None when the two arrow tables hold the same rows in the same order,
    else a one-line reason."""
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} vs {want.num_rows}"
    for c in gcols:
        for i, (a, b) in enumerate(zip(got.column(c).to_pylist(), want.column(c).to_pylist())):
            if _canon(a) != _canon(b):
                return f"col {c} row {i}: engine={a!r} oracle={b!r}"
    return None


def job_oracle_sql(input_dir, group_col, metric_col, top_n):
    """The configured job's declared semantics, spelled independently: rank
    every (group, entity) by the exact decimal sum of the metric, keep
    rank <= top_n, ties broken by the entity."""
    return f"""
        WITH agg AS (
          SELECT {group_col}, product,
                 CAST(CAST(SUM(CAST({metric_col} AS DECIMAL(12,2))) AS DECIMAL(18,4)) AS DOUBLE) AS metric
          FROM read_parquet('{input_dir}/*.parquet')
          GROUP BY {group_col}, product),
        ranked AS (
          SELECT *, rank() OVER (PARTITION BY {group_col}
                                 ORDER BY metric DESC, product ASC) AS rnk
          FROM agg)
        SELECT {group_col}, product, metric, rnk FROM ranked
        WHERE rnk <= {top_n}
        ORDER BY {group_col}, rnk, product"""


def check_job(con, output_dir, input_dir, top_n):
    got = read_output(con, output_dir)
    if got is None:
        return "no job output"
    want = con.execute(job_oracle_sql(input_dir, "region", "sales", top_n)).fetch_arrow_table()
    # The job writes an unordered parquet set; order both sides the same way.
    order = "ORDER BY region, rnk, product"
    got = con.execute(f"SELECT region, product, metric, rnk FROM got {order}").fetch_arrow_table()
    return mismatch(got, want)


def check_key(con, out_dir, oracle_sql, cache_dir, corpus_id):
    """None when the key's written output equals its oracle, else a reason."""
    if oracle_sql is None:
        return "no oracle SQL for this key"
    got = read_output(con, out_dir)
    if got is None:
        return "no output"
    return mismatch(got, oracle_result(con, oracle_sql, cache_dir, corpus_id))
