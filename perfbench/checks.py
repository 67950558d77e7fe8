"""Output checks, run after the timed region. Each check reports
through `check(name, ok, detail)`; a failed check counts in `failed`."""
import glob
import os
import sqlite3
import statistics
import time
import zipfile

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# the fixture tables the checks' SQL reads
TABLES = ["supplier", "part", "lineitem", "embeddings"]

# Rows each drive emits at sf0.1, recorded on the engine as of this
# benchmark's first commit: sink rows for the event drives, documents
# kept by st11.
EXPECTED_ROWS = {"st02": 95391, "st04": 52, "st11": 1480}
# times each event drive's plan reads the event stream (st04 joins it
# with itself)
EVENT_READS = {"st02": 1, "st04": 2}
INGEST_FILES = 4  # the staged documents are 4 files


def rows(sf, table):
    return pq.ParquetFile(os.path.join(sf, f"{table}.parquet")).metadata.num_rows


def _con(sf):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def month_counts(sf):
    con = _con(sf)
    return dict(con.execute(
        "SELECT strftime(l_shipdate, '%Y-%m'), count(*) FROM lineitem "
        "GROUP BY 1").fetchall())


# ---------------------------------------------------------- daily-pack

def daily_pack(db, zp, sf, month, check):
    lite = sqlite3.connect(f"file:{db}?mode=ro", uri=True)
    ok = lite.execute("PRAGMA integrity_check").fetchall()
    check("integrity_check", ok == [("ok",)], ok)

    got = sorted(lite.execute(
        "SELECT date, premise_code, item_code, price FROM prices").fetchall())
    want = sorted(_con(sf).execute(f"""
        SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d'), l_suppkey,
               l_partkey, l_extendedprice
        FROM (SELECT *, row_number() OVER (
                PARTITION BY l_suppkey, l_partkey
                ORDER BY CAST(l_shipdate AS DATE) DESC, l_orderkey,
                         l_linenumber) AS rn
              FROM lineitem
              WHERE strftime(l_shipdate, '%Y-%m') = '{month}')
        WHERE rn = 1""").fetchall())
    check("prices = latest per (premise, item)", got == want,
          f"{len(got)} rows vs {len(want)} expected")
    for table, src in (("items", "part"), ("premises", "supplier")):
        n = lite.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        check(f"{table} rows", n == rows(sf, src), f"{n} vs {rows(sf, src)}")
    lite.close()

    with zipfile.ZipFile(zp) as z, open(db, "rb") as fh:
        check("zipped db identical", z.read("pricecatcher.db") == fh.read())


def schema_matches(db, schema, check):
    """The harness's table and index definitions equal the app's."""
    lite = sqlite3.connect(f"file:{db}?mode=ro", uri=True)
    got = sorted(lite.execute(
        "SELECT tbl_name, name, sql FROM sqlite_master").fetchall())
    lite.close()
    want = sorted((d["table"], d["name"], d["sql"]) for d in schema)
    check("sqlitefile IndexDefs = app sqlite_master", got == want,
          f"{got} vs {want}")


def artifact_query_ms(db, keys, reps=5):
    """Median time of the consumer set: indexed item_code lookups plus
    the prices x premises x items group-by-state join."""
    lite = sqlite3.connect(f"file:{db}?mode=ro", uri=True)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for k in keys:
            lite.execute("SELECT count(*), sum(price) FROM prices "
                         "WHERE item_code = ?", (k,)).fetchone()
        lite.execute(
            "SELECT s.state, count(*), sum(p.price) FROM prices p "
            "JOIN premises s ON s.premise_code = p.premise_code "
            "JOIN items i ON i.item_code = p.item_code "
            "GROUP BY s.state").fetchall()
        times.append((time.perf_counter() - t0) * 1e3)
    lite.close()
    return statistics.median(times)


# ----------------------------------------------------------------- mixes

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.astype(str).apply(lambda r: "\x1f".join(r), axis=1)
    return df.loc[key.sort_values().index].reset_index(drop=True)


def oracle_matches(sf, sql, outdir):
    """The comparison tools/compare.py makes: column names, row count,
    then values with columns and rows sorted; floats must be equal or
    within 1e-9 relative."""
    exp = _con(sf).execute(sql).df()
    files = glob.glob(os.path.join(outdir, "*.parquet"))
    if not files:
        return False, "no spark output"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} != {len(exp)}"
    g, e = _norm(got), _norm(exp)
    for c in g.columns:
        gc, ec = g[c], e[c]
        if pd.api.types.is_float_dtype(gc) or pd.api.types.is_float_dtype(ec):
            if not np.allclose(gc.astype(float), ec.astype(float), rtol=1e-9,
                               atol=1e-12, equal_nan=True):
                return False, f"column {c} differs"
        elif not gc.astype(str).equals(ec.astype(str)):
            return False, f"column {c} differs"
    return True, ""


def lake_expected(sf):
    """Rows and quantity sum of the lake's two versions, derived from
    the fixture independently of the engine."""
    con = _con(sf)
    con.execute("""
        CREATE TEMP TABLE q AS
        SELECT l_orderkey, l_linenumber, min(l_quantity) AS qty,
               min(strftime(l_shipdate, '%Y-%m')) AS month
        FROM lineitem
        WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'
        GROUP BY 1, 2""")
    n1, s1 = con.execute("SELECT count(*), sum(qty) FROM q").fetchone()
    nu, = con.execute("SELECT count(*) FROM q WHERE month = '1997-02' "
                      "AND l_linenumber <= 2").fetchone()
    ni, si = con.execute("SELECT count(*), coalesce(sum(qty), 0) FROM q "
                         "WHERE month = '1997-02' AND l_linenumber = 7"
                         ).fetchone()
    return [(1, n1, float(s1)), (2, n1 + ni, float(s1 + 5 * nu + si + 3 * ni))]


def engine_mix(r, sf, small, check):
    spans = r["report"]["spans"]
    for s in spans + r["oracle_runs"]:
        check(f"{s['name']} ran", s["ok"], s["error"])
    by = {s["name"]: s for s in spans if s["ok"]}
    want = lake_expected(sf)
    if "lake_read" in by:
        got = [(v["version"], v["rows"], v["sum_qty"])
               for v in by["lake_read"]["extra"]["versions"]]
        check("lake versions", got == want, f"{got} vs {want}")
    events = rows(sf, "events")
    for d, reads in EVENT_READS.items():
        if d in by:
            x = by[d]["extra"]
            check(f"{d} reads every event",
                  x["source_input_rows"] == [reads * events],
                  f"{x['source_input_rows']} vs {reads} x {events}")
            check(f"{d} output rows", x["sink_output_rows"] == EXPECTED_ROWS[d],
                  f"{x['sink_output_rows']} vs {EXPECTED_ROWS[d]}")
    if "st11" in by:
        check("st11 consumes every staged file",
              by["st11"]["extra"]["batches"] == INGEST_FILES,
              by["st11"]["extra"]["batches"])
        check("st11 output rows", r["st11_corpus_rows"] == EXPECTED_ROWS["st11"],
              f"{r['st11_corpus_rows']} vs {EXPECTED_ROWS['st11']}")
    for name, sql in sorted(r["oracle_sql"].items()):
        ok, why = oracle_matches(small, sql,
                                 os.path.join(r["oracle_dir"], name))
        check(f"oracle {name}", ok, why)
