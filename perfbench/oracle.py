"""Result checking with DuckDB.

A relation's fingerprint is (sorted column names, row count, sum of row
hashes). Cells are normalised the way tools/check.py normalises them
before its exact compare: columns in name order, every integer type
widened to one type, FLOAT/DOUBLE/DECIMAL as double, timestamps with a
time zone as naive UTC, lists element-wise. The row-hash sum is
order-independent, so two relations with equal fingerprints hold the same
multiset of normalised rows (up to hash collisions).
"""
import glob
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT"}


def connect(sf_dir=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    if sf_dir:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(expr, ty):
    ty = ty.upper()
    if ty.endswith("[]"):
        return f"list_transform({expr}, x -> {_canon('x', ty[:-2])})"
    if ty in INTS:
        return f"CAST({expr} AS HUGEINT)"
    if ty in ("FLOAT", "DOUBLE") or ty.startswith("DECIMAL"):
        return f"CAST({expr} AS DOUBLE)"
    if ty.startswith("TIMESTAMP"):
        return f"CAST({expr} AS TIMESTAMP)"
    if ty in ("VARCHAR", "BOOLEAN", "DATE", "BLOB"):
        return expr
    return f"CAST({expr} AS VARCHAR)"


def fingerprint(con, rel_sql):
    cols = con.execute(f"DESCRIBE SELECT * FROM ({rel_sql})").fetchall()
    cols = sorted((c[0], c[1]) for c in cols)
    row = ", ".join(_canon(f'"{n}"', t) for n, t in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
        f"FROM ({rel_sql})").fetchone()
    return {"columns": [c[0] for c in cols], "rows": int(n), "hash": str(h)}


def parquet_rel(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return f"SELECT * FROM read_parquet({files!r})"


def expected_sql(sf_dir, names, oracle_sql, cache_file):
    """Oracle fingerprints, computed once per input set and cached."""
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    todo = [n for n in names if n not in cache]
    if todo:
        con = connect(sf_dir)
        con.execute(f"SET temp_directory='{os.path.dirname(cache_file)}/duckdb_tmp'")
        for n in todo:
            cache[n] = fingerprint(con, oracle_sql[n])
        with open(cache_file, "w") as f:
            json.dump(cache, f)
    return cache


# --- daily_ingest reference -------------------------------------------------

def daily_expected(in_dir, days, cache_file):
    """DuckDB reference for the final warehouse table (every row version,
    with CURRENT_IND = 'Y' on the latest version of each record) and the
    ingest log, after the base load and days 1..`days`."""
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            return json.load(f)
    with open(os.path.join(in_dir, "daily", "MANIFEST.json")) as f:
        manifest = json.load(f)
    files = [os.path.join(in_dir, "daily", f"day_{m['day']:02d}", name)
             for m in manifest if m["day"] <= days for name in m["files"]]
    con = connect()
    con.execute(f"""CREATE VIEW base AS
      WITH raw AS (
        SELECT *, regexp_extract(filename, '[^/]+$') AS fname,
          CAST(regexp_extract(filename, 'day_(\\d+)/', 1) AS INTEGER) AS day
        FROM read_csv({files!r}, delim='|', header=true, filename=true,
          columns={{'STAY_DATE': 'VARCHAR', 'ROOM_TYPE': 'VARCHAR',
                    'RATE': 'DOUBLE', 'AVAIL': 'INTEGER'}}))
      SELECT regexp_extract(fname, '^([A-Z]+)', 1) AS loc_id,
        regexp_extract(fname, '^([A-Z]+)', 1) || '|' || STAY_DATE || '|'
          || ROOM_TYPE AS record_key,
        STAY_DATE AS stay_date, ROOM_TYPE AS room_type, RATE AS rate,
        AVAIL AS avail, fname AS src_filename,
        strptime(regexp_extract(fname, '\\d{{8}}_\\d{{2}}-\\d{{2}}-\\d{{2}}'),
          '%m%d%Y_%H-%M-%S') AS file_ts, day
      FROM raw""")
    warehouse = """
      WITH dedup AS (SELECT * FROM base QUALIFY row_number() OVER (
          PARTITION BY day, record_key ORDER BY file_ts DESC) = 1)
      SELECT record_key || '@' || strftime(file_ts, '%Y%m%d%H%M%S') AS row_key,
        record_key, loc_id, stay_date, room_type, rate, avail, src_filename,
        strftime(file_ts, '%Y-%m-%d %H:%M:%S') AS file_ts,
        CASE WHEN row_number() OVER (PARTITION BY record_key
          ORDER BY file_ts DESC) = 1 THEN 'Y' END AS current_ind
      FROM dedup"""
    log = """SELECT loc_id, src_filename,
        strftime(file_ts, '%Y-%m-%d %H:%M:%S') AS file_ts,
        count(*) AS data_amt, day AS load_day
      FROM base GROUP BY ALL"""
    out = {"warehouse": fingerprint(con, warehouse),
           "ingest_log": fingerprint(con, log)}
    with open(cache_file, "w") as f:
        json.dump(out, f)
    return out


def input_files(in_dir, days):
    """(rows, bytes) of the CSV files days 1..`days` ingest."""
    with open(os.path.join(in_dir, "daily", "MANIFEST.json")) as f:
        manifest = json.load(f)
    rows = size = 0
    for m in manifest:
        if 1 <= m["day"] <= days:
            for name in m["files"]:
                p = os.path.join(in_dir, "daily", f"day_{m['day']:02d}", name)
                size += os.path.getsize(p)
                with open(p) as f:
                    rows += sum(1 for _ in f) - 1
    return rows, size

