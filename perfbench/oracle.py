"""Result checks of one benchmark run.

Set-up writes two rounds' results: the cold round's (`cold/`) and the
last warm-up round's (`warm/`), which runs the same released-and-rebuilt
path as every timed round. Every query's warm result is compared with
DuckDB running the program's oracle SQL (`SparkEntry.oracleSql`) on the
same tables, by the rules of scripts/compare_oracle.py: columns sorted
by name, equal column names, equal row count, and equal values row by
row (floats exactly, sign of zero included; other types by their string
form). The cold result of each query must be identical to its warm one,
and on ta_panel the bars' total volume must equal the events row count.
A smoke run has the cold round only, and checks it against DuckDB.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(".bench_build", "oracle")


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def digest(path):
    """Content digest of a result directory: schema and rows in order."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    h = hashlib.sha256()
    for f in files:
        t = pq.read_table(f)
        t = t.select(sorted(t.column_names))
        h.update(str(t.schema).encode())
        for c in t.columns:
            h.update(repr(c.to_pylist()).encode())
    return h.hexdigest()


def compare(odf, edf):
    """Differences between the oracle and the engine frame, [] if none."""
    odf = odf[sorted(odf.columns)]
    edf = edf[sorted(edf.columns)]
    if list(odf.columns) != list(edf.columns):
        return [f"columns: oracle={list(odf.columns)} engine={list(edf.columns)}"]
    if len(odf) != len(edf):
        return [f"rows: oracle={len(odf)} engine={len(edf)}"]
    diffs = []
    for c in odf.columns:
        o, e = odf[c], edf[c]
        if o.dtype.kind == "f" or e.dtype.kind == "f":
            o = o.astype(float)
            e = e.astype(float)
            sb = np.signbit(o.fillna(0).values) == np.signbit(e.fillna(0).values)
            neq = ~((o.isna() & e.isna()) | ((o == e) & sb))
        else:
            neq = ~((o.isna() & e.isna()) | (o.astype(str) == e.astype(str)))
        if neq.any():
            i = int(np.argmax(neq.values))
            diffs.append(f"{c}: {int(neq.sum())} diffs, first at row {i}: "
                         f"oracle={o.iloc[i]!r} engine={e.iloc[i]!r}")
    return diffs


def oracle_frame(con, sql, data, run_dir):
    """DuckDB's result for `sql`, cached by the SQL text and the identity
    of the tables (name, size, mtime): the oracle is deterministic and
    some replay whole index builds in SQL for seconds. A fixture the run
    wrote enters the key by its content, not its path."""
    fixture = os.path.join(run_dir, "opq_rotation")
    key = sql.replace(fixture, "opq_rotation:" + str(digest(fixture)))
    h = hashlib.sha256(key.encode())
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(CACHE_DIR, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    odf = con.execute(sql).fetchdf()
    os.makedirs(CACHE_DIR, exist_ok=True)
    odf.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return odf


def check(rep, data, run_dir):
    """Returns the list of problems found; empty means correct."""
    problems = []
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    # a query that failed in every round it ran is counted in `failed`
    # and has no result to check
    ran_ok = {s["query"] for s in rep["samples"] if s["ok"]}
    warm = any(r["kind"] == "warmup" and r["id"] != "w1" for r in rep["rounds"])
    for q in rep["queries"]:
        cold = os.path.join(run_dir, "cold", q)
        checked = os.path.join(run_dir, "warm", q) if warm else cold
        edf = _read(checked)
        if edf is None:
            if q in ran_ok:
                problems.append(f"{q}: no result in {os.path.relpath(checked, run_dir)}")
            continue
        if warm and digest(cold) != digest(checked):
            problems.append(f"{q}: cold set-up result differs from the warm round's")
        sql = rep["oracle_sql"].get(q)
        if sql is None:
            problems.append(f"{q}: no oracle SQL")
            continue
        try:
            odf = oracle_frame(con, sql, data, run_dir)
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{q}: oracle error: {str(e)[:200]}")
            continue
        problems += [f"{q}: {d[:300]}" for d in compare(odf, edf)]
    if rep["workload"] == "ta_panel":
        n = con.execute("SELECT count(*) FROM events").fetchone()[0]
        if rep["bars_volume"] != n:
            problems.append(f"bars volume {rep['bars_volume']} != events rows {n}")
    return problems
