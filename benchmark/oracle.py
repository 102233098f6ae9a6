"""DuckDB oracle comparison, with the rules of tools/check.py: columns
compared by name, rows in order, floats by exact value (NaN equals
NaN), dates and timestamps normalized to naive datetimes.
"""

import datetime
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(substrate):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(substrate, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(col):
    import pandas as pd

    if col.dtype.kind == "M":
        col = pd.to_datetime(col)
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_localize(None)
        return col
    if len(col) and col.dtype == object and isinstance(col.iloc[0], datetime.date):
        return pd.to_datetime(col)
    return col


def compare(spark_df, oracle_df):
    """None when the frames agree, else a one-line reason."""
    import numpy as np

    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != oracle {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"{len(spark_df)} rows, oracle has {len(oracle_df)}"
    for c in sorted(spark_df.columns):
        a = _norm(spark_df[c].reset_index(drop=True))
        b = _norm(oracle_df[c].reset_index(drop=True))
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                af, bf = a.astype(float), b.astype(float)
                bad = ~((af.isna() & bf.isna()) | (af == bf))
            else:
                aa, bb = a.astype(object), b.astype(object)
                bad = ~((aa.isna() & bb.isna()) | (aa == bb))
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            return f"col {c}: compare error {e}"
        if bad.any():
            i = int(np.argmax(bad.values))
            return f"col {c} row {i}: spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"
    return None


def check(substrate, dump_dir, oracles):
    """Compare every dumped query result against its oracle SQL.
    Returns {query: (rows, error or None)}.
    """
    import pandas as pd

    con = connect(substrate)
    out = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
        if not files:
            out[name] = (0, "no spark output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            out[name] = (len(got), f"oracle failed: {e}")
            continue
        out[name] = (len(got), compare(got, want))
    con.close()
    return out
