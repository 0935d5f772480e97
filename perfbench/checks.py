"""Output checks for the benchmark workloads.

Each check reads what the program wrote under the work directory and
compares it with an independent computation over the generated inputs
(DuckDB, or plain Python over the input files). A check returns a list
of failure messages; an empty list means the output is correct.
"""
import glob
import json
import math

import duckdb
import pandas as pd
import pyarrow.parquet as pq

# Silver.lifecycleFormats as strptime patterns, in the same order
LIFECYCLE_FORMATS = ["%Y-%m-%d %H:%M:%S.%f UTC", "%Y-%m-%d %H:%M:%S",
                     "%Y-%m-%dT%H:%M:%S", "%d-%m-%Y %H:%M",
                     "%Y/%m/%d %H:%M:%S", "%Y-%m-%d"]
DASHBOARD_TABLES = ["region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events"]


# ── result comparison: the rules of the repository's DuckDB gate ─────

def _norm(df):
    """Columns sorted by name, DATE/tz normalised, rows sorted by all
    columns (stringified, so mixed types sort)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "O":
            nn = df[c].dropna()
            if len(nn) and type(nn.iloc[0]).__name__ == "date":
                df[c] = pd.to_datetime(df[c])
        if df[c].dtype.kind == "M" and getattr(df[c].dtype, "tz", None):
            df[c] = df[c].dt.tz_localize(None)
    if len(df) == 0:
        return df.reset_index(drop=True)
    key = df.astype(str).apply(lambda r: "\x01".join(r), axis=1)
    return df.iloc[key.argsort(kind="mergesort").values].reset_index(drop=True)


def _kind(dtype):
    k = dtype.kind
    return "int" if k in ("i", "u") else "datetime" if k == "M" else k


def _cell_ok(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)


def compare(got, exp):
    """None when equal under the gate's rules, else why not."""
    got, exp = _norm(got), _norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        if _kind(got[c].dtype) != _kind(exp[c].dtype):
            return f"dtype of {c}: {got[c].dtype} != {exp[c].dtype}"
        for i, (a, b) in enumerate(zip(got[c], exp[c])):
            if not _cell_ok(a, b):
                return f"{c} row {i}: {a!r} != {b!r}"
    return None


def _read_parquet_dir(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def oracle_check(out_dir, table_views):
    """{query: failure or None} for every query in out_dir/oracle_sql.json,
    comparing the program's parquet output with the oracle SQL in DuckDB
    over the given {view name: parquet path} tables."""
    con = duckdb.connect()
    for name, path in table_views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    res = {}
    for q, sql in sorted(oracle.items()):
        try:
            res[q] = compare(_read_parquet_dir(f"{out_dir}/{q}"), con.sql(sql).df())
        except Exception as e:  # a crashing oracle or missing output fails
            res[q] = f"{type(e).__name__}: {e}"
    return res


# ── per-workload checks ──────────────────────────────────────────────

def medallion(work):
    """Funnel mart = direct count over the CSV; silver rows = distinct
    parseable rows; one current SCD2 row per order and contiguous
    version intervals."""
    con = duckdb.connect()
    fmts = "[" + ", ".join(f"'{f}'" for f in LIFECYCLE_FORMATS) + "]"
    con.execute(f"""CREATE VIEW good AS SELECT * FROM (
        SELECT DISTINCT * FROM read_csv('{work}/input/lifecycle.csv',
            header = true, all_varchar = true))
        WHERE try_strptime(event_timestamp, {fmts}) IS NOT NULL""")
    out = f"{work}/medallion_out"
    con.execute(f"CREATE VIEW silver AS SELECT * FROM '{out}/silver_lifecycle/*.parquet'")
    con.execute(f"CREATE VIEW mart AS SELECT * FROM '{out}/mart_funnel/*.parquet'")
    con.execute(f"CREATE VIEW dim AS SELECT * FROM '{out}/scd2_dim_order/*.parquet'")
    fails = []
    diff = con.sql("""
        SELECT m.stage, m.n_events, coalesce(d.n, 0) AS direct FROM mart m
        LEFT JOIN (SELECT event_type, count(*) AS n FROM good GROUP BY 1) d
          ON m.stage = d.event_type
        WHERE m.n_events <> coalesce(d.n, 0)""").fetchall()
    if diff or con.sql("SELECT count(*) FROM mart").fetchone()[0] != 4:
        fails.append(f"funnel mart differs from the direct count: {diff}")
    n_silver = con.sql("SELECT count(*) FROM silver").fetchone()[0]
    n_good = con.sql("SELECT count(*) FROM good").fetchone()[0]
    if n_silver != n_good:
        fails.append(f"silver rows {n_silver} != distinct parseable rows {n_good}")
    bad_current = con.sql("""
        SELECT count(*) FROM (SELECT order_id FROM dim GROUP BY 1
          HAVING sum(CASE WHEN is_current THEN 1 ELSE 0 END) <> 1)""").fetchone()[0]
    n_orders = con.sql("SELECT count(DISTINCT order_id) FROM dim").fetchone()[0]
    n_expected = con.sql("SELECT count(DISTINCT order_id) FROM good").fetchone()[0]
    if bad_current or n_orders != n_expected:
        fails.append(f"scd2: {bad_current} orders without exactly one current "
                     f"row; {n_orders} orders vs {n_expected} in silver")
    gaps = con.sql("""
        SELECT count(*) FROM (
          SELECT valid_to, is_current, lead(valid_from) OVER (
            PARTITION BY order_id ORDER BY valid_from) AS next_from
          FROM dim) WHERE NOT is_current
            AND (next_from IS NULL OR valid_to <> next_from)""").fetchone()[0]
    if gaps:
        fails.append(f"scd2: {gaps} closed versions whose valid_to is not "
                     "the next version's valid_from")
    return fails


def dashboard(work):
    """{query: failure or None}: each query's first execution against
    its DuckDB oracle."""
    tables = {t: f"{work}/input/tables/{t}.parquet" for t in DASHBOARD_TABLES}
    return oracle_check(f"{work}/dashboard_out", tables)


def corpus(work):
    """The training layer against the q154 oracle on the generated corpus."""
    res = oracle_check(f"{work}/corpus_check",
                       {"documents": f"{work}/input/corpus/documents.parquet"})
    return [f"{q}: {why}" for q, why in res.items() if why]


FAR_FUTURE = pd.Timestamp("2261-12-31 23:59:59")


def expected_history(paths):
    """The batch SCD2 history over every landed CDC row: per key, rows
    in time order, a new version whenever (status, price, priority)
    changes, each closed version ending where the next begins."""
    rows = pd.concat([pq.read_table(p).to_pandas() for p in paths],
                     ignore_index=True)
    rows["ts"] = rows["ts"].dt.tz_localize(None)
    rows = rows.sort_values(["key", "ts"], kind="mergesort").reset_index(drop=True)
    attrs = ["status", "price", "priority"]
    prev = rows.groupby("key")[attrs].shift()
    starts = rows[prev.isna().all(axis=1) | (rows[attrs] != prev).any(axis=1)]
    v = starts.rename(columns={"ts": "valid_from"}).reset_index(drop=True)
    nxt = v.groupby("key")["valid_from"].shift(-1)
    v["valid_to"] = nxt.fillna(FAR_FUTURE)
    v["is_current"] = nxt.isna()
    return v[["key", "status", "price", "priority", "valid_from",
              "valid_to", "is_current"]]


def stream(work):
    """finalizeHistory over the sink = batch history over landed rows:
    no event lost, duplicated or misordered."""
    paths = open(f"{work}/stream_out/landed.txt").read().split()
    got = _read_parquet_dir(f"{work}/stream_out/history")
    got = got[["key", "status", "price", "priority", "valid_from",
               "valid_to", "is_current"]]
    for c in ("valid_from", "valid_to"):
        got[c] = pd.to_datetime(got[c]).dt.tz_localize(None)
    why = compare(got, expected_history(paths))
    return [f"stream history: {why}"] if why else []
