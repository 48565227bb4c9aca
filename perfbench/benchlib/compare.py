"""Output checks: the engine's results against DuckDB oracle SQL or
against a second engine output, and the failure accounting."""
import glob
import os

import numpy as np
import pandas as pd


def canon(df):
    """Columns sorted by name, rows sorted by every column, datetimes
    naive: the row set independent of order."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def diff(got, exp):
    """None when the two frames hold the same rows, else a one-line
    reason. Floats must match exactly (the engine's money arithmetic is
    bit-identical to its oracle's); both-null cells are equal."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
            if pd.api.types.is_float_dtype(gv) != pd.api.types.is_float_dtype(ev):
                return f"{c}: dtype {gv.dtype} != {ev.dtype}"
            a, b = gv.astype(float).to_numpy(), ev.astype(float).to_numpy()
            bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        else:
            bad = (~(gv.isna() & ev.isna())).to_numpy() & (gv.astype(str) != ev.astype(str)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return f"{c}: {int(bad.sum())} cells differ, first row {i}: {gv.iloc[i]!r} != {ev.iloc[i]!r}"
    return None


def read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def run_checks(checks, tables_dir):
    """Evaluate each check; returns [(name, reason or None)]."""
    con = None
    out = []
    for c in checks:
        try:
            if c.get("error"):
                reason = "engine error: " + c["error"][:300]
            elif c.get("oracle_sql"):
                if con is None:
                    import duckdb
                    con = duckdb.connect()
                    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
                        name = os.path.basename(p)[:-len(".parquet")]
                        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
                reason = diff(read_dir(c["got"]), con.sql(c["oracle_sql"]).df())
            elif c.get("expected"):
                reason = diff(read_dir(c["got"]), read_dir(c["expected"]))
            else:
                reason = "no reference to compare against"
        except Exception as e:  # a check that cannot run is a failed check
            reason = f"{type(e).__name__}: {str(e)[:300]}"
        out.append((c["name"], reason))
    return out


def failure_counts(samples, check_results):
    """(attempted, failed): every timed op and every output check is one
    attempt; a failed op or a mismatching check is one failure."""
    attempted = len(samples) + len(check_results)
    failed = sum(1 for s in samples if not s["ok"]) + \
        sum(1 for _, reason in check_results if reason is not None)
    return attempted, failed
