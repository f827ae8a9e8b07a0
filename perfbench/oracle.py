"""DuckDB oracle for the DAG's final_pull: row count and an order-independent
hash, over the generated star (oracle side) and over the parquet the engine
wrote (engine side), computed by the same DuckDB so the two compare exactly."""

import os

import duckdb

COLUMNS = [
    ("customer_id", "BIGINT"), ("article_id", "BIGINT"), ("t_dat_us", "BIGINT"),
    ("price", "DOUBLE"), ("sales_channel_id", "INTEGER"), ("last_price", "DOUBLE"),
    ("last_sales_channel_id", "INTEGER"), ("last_t_dat_us", "BIGINT"),
    ("brand", "VARCHAR"), ("ptype", "VARCHAR"), ("psize", "INTEGER"),
    ("s3_url", "VARCHAR"), ("mktsegment", "VARCHAR"), ("acctbal", "DOUBLE"),
]
FINGERPRINT = ("SELECT count(*) AS n, coalesce(sum(hash({cols})::HUGEINT), 0) AS h FROM ({rel})"
               .replace("{cols}", ", ".join(f"CAST({c} AS {t})" for c, t in COLUMNS)))
# Train end: a user is trained when final_pull holds a purchase before it.
VALID_START_US = 978307200000000


def _connect(star_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("orders", "lineitem", "part", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(star_dir, t + '.parquet')}')")
    return con


def expected(star_dir, oracle_sql):
    """(rows, hash) of the oracle's final_pull, and the trained user ids."""
    con = _connect(star_dir)
    con.execute(f"CREATE TEMP TABLE fp AS {oracle_sql}")
    n, h = con.execute(FINGERPRINT.replace("{rel}", "SELECT * FROM fp")).fetchone()
    trained = [r[0] for r in con.execute(
        f"SELECT DISTINCT customer_id FROM fp WHERE t_dat_us < {VALID_START_US}").fetchall()]
    con.close()
    return (int(n), int(h)), trained


def actual(final_pull_dir):
    """(rows, hash) of a final_pull parquet directory written by the engine."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    rel = f"SELECT * FROM read_parquet('{os.path.join(final_pull_dir, '*.parquet')}')"
    n, h = con.execute(FINGERPRINT.replace("{rel}", rel)).fetchone()
    con.close()
    return int(n), int(h)
