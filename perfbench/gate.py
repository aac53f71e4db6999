"""Correctness gate: every checked result against its reference.

Each case in the JVM half's checks.json names an oracle: a key of
SparkEntry.oracleSql, whose DuckDB text the file carries, or
``kernel.<fn>``, the Python reference of an exprs kernel's reduction
(kernels.py). It also says whether the result was served after a delete:
such a result must equal the one-shot oracle over the surviving documents
(the rule of graft's d28/d29 cases). Comparison follows
tools/selfcheck.py: column-sorted, row-sorted, the same dtype kinds,
floats to 9 significant digits.
"""
import math
import os

import duckdb
import numpy as np
import pandas as pd

import kernels

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings"]


def render(v):
    if v is None:
        return "None"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else f"{f:.9g}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def frame(df):
    """-> (column names, dtype kinds, rendered sorted rows)."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="last").reset_index(drop=True)
    kinds = [df[c].dtype.kind for c in df.columns]
    rows = [tuple(render(v) for v in r) for r in df.itertuples(index=False, name=None)]
    return list(df.columns), kinds, rows


def compare(got, want):
    """-> None when the two frames match, else why not."""
    gn, gk, gr = frame(got)
    wn, wk, wr = frame(want)
    if gn != wn:
        return f"columns {gn} != {wn}"
    if gk != wk:
        return f"dtypes {gk} != {wk}"
    if gr != wr:
        only_g = sorted(set(gr) - set(wr))[:2]
        only_w = sorted(set(wr) - set(gr))[:2]
        return f"{len(gr)} rows vs {len(wr)}; spark-only {only_g}; oracle-only {only_w}"
    return None


def connect(data, check):
    """DuckDB over the input tables in `data`, with `documents` less the
    tombstoned ids when the case is served after a delete."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    keep = f" WHERE doc_id NOT IN (SELECT doc_id FROM '{data}/deleted.parquet')" \
        if check["survivors"] else ""
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet'{keep}")
    return con


def kernel_reference(name, data, arg):
    """-> the one-row frame (column v) the kernel's reduction must return
    over the corpus in `data`."""
    texts = duckdb.sql(f"SELECT text FROM '{data}/documents.parquet'").df()["text"].tolist()
    return pd.DataFrame({"v": np.array([kernels.REFERENCES[name](texts, arg)], np.int64)})


def precompute(cases, data):
    """-> {case: oracle frame, or the exception that computing it raised}
    for every case of the JVM half's checks.json."""
    out = {}
    for key, c in cases["checks"].items():
        try:
            if c["oracle"].startswith("kernel."):
                out[key] = kernel_reference(c["oracle"][len("kernel."):], data, c["arg"])
            else:
                con = connect(data, c)
                out[key] = con.sql(cases["oracle_sql"][c["oracle"]]).df()
        except Exception as e:  # an oracle error fails the case
            out[key] = e
    return out


def verdicts(cases, report, oracles):
    """-> {case: (ok, reason)}: a case passes when every pass produced the
    same result and that result matches its oracle."""
    out = {}
    for key, c in cases["checks"].items():
        seen = report["checks"][key]
        if not seen["seen"]:
            out[key] = (False, "no result was produced")
        elif seen["wrong"]:
            out[key] = (False, seen["wrong"])
        elif isinstance(oracles.get(key), Exception):
            e = oracles[key]
            out[key] = (False, f"oracle failed: {type(e).__name__}: {e}")
        else:
            try:
                got = duckdb.sql(f"SELECT * FROM '{c['result']}/*.parquet'").df()
                why = compare(got, oracles[key])
                out[key] = (why is None, why or "matches oracle")
            except Exception as e:
                out[key] = (False, f"{type(e).__name__}: {e}")
    return out
