"""Output checks, run after the timed window, in DuckDB.

Each check returns a list of failure messages (empty when it passes):
- migrated tables equal the source after the declared transform;
- replicated state read back from the engine equals the generator's model;
- curation query outputs equal the repo's oracle SQL.
"""
import json
import math
import numbers
import os

import duckdb
import pandas as pd

# The declared migration transform, in SQL (the engine side is
# MigrateCatchup.spec): customer drops c_name, keeps c_acctbal >= 0 and
# lower-cases c_mktsegment; every other table migrates as is.
MIGRATED = {
    "orders": "SELECT * FROM src",
    "lineitem": "SELECT * FROM src",
    "region": "SELECT * FROM src",
    "nation": "SELECT * FROM src",
    "customer": "SELECT c_custkey, c_nationkey, c_acctbal, lower(c_mktsegment) AS c_mktsegment "
                "FROM src WHERE c_acctbal >= 0",
    "supplier": "SELECT * FROM src",
    "part": "SELECT * FROM src",
}


def _glob(path):
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def same_rows(con, got_sql, exp_sql):
    """Rows of two relations equal as multisets, columns matched by name."""
    got = con.sql(got_sql)
    exp = con.sql(exp_sql)
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    cols = ", ".join(f'"{c}"' for c in sorted(got.columns))
    g, e = f"SELECT {cols} FROM ({got_sql})", f"SELECT {cols} FROM ({exp_sql})"
    n_got, n_exp = con.sql(f"SELECT count(*) FROM ({g})").fetchone()[0], \
        con.sql(f"SELECT count(*) FROM ({e})").fetchone()[0]
    diff = con.sql(f"SELECT count(*) FROM (({g}) EXCEPT ALL ({e}))").fetchone()[0] + \
        con.sql(f"SELECT count(*) FROM (({e}) EXCEPT ALL ({g}))").fetchone()[0]
    if n_got != n_exp or diff:
        return f"{n_got} rows vs {n_exp} expected, {diff} differ"
    return None


def migrated(src_dir, dst_dir):
    con = duckdb.connect()
    fails = []
    for t, sql in MIGRATED.items():
        con.sql(f"CREATE OR REPLACE VIEW src AS SELECT * FROM '{_glob(os.path.join(src_dir, t + '.parquet'))}'")
        err = same_rows(con, f"SELECT * FROM '{_glob(os.path.join(dst_dir, t + '.parquet'))}'", sql)
        if err:
            fails.append(f"migrated {t}: {err}")
    return fails


def state(model_dir, state_dir, tables):
    con = duckdb.connect()
    fails = []
    for t in tables:
        err = same_rows(con, f"SELECT * FROM '{_glob(os.path.join(state_dir, t + '.parquet'))}'",
                        f"SELECT * FROM '{os.path.join(model_dir, t + '.parquet')}'")
        if err:
            fails.append(f"state {t}: {err}")
    return fails


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _equal(a, b):
    """Exact, type-kind strict value equality (int never equals float)."""
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    ai = isinstance(a, numbers.Integral) and not isinstance(a, bool)
    bi = isinstance(b, numbers.Integral) and not isinstance(b, bool)
    af = isinstance(a, numbers.Real) and not ai and not isinstance(a, bool)
    bf = isinstance(b, numbers.Real) and not bi and not isinstance(b, bool)
    if (ai and bf) or (af and bi):
        return False
    if af and bf:
        return float(a) == float(b) or (math.isnan(a) and math.isnan(b))
    try:
        return bool(a == b)
    except Exception:
        return str(a) == str(b)


def curated(src_dir, out_dir):
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{_glob(os.path.join(src_dir, t + '.parquet'))}'")
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracles = json.load(f)
    fails = []
    for q, sql in oracles.items():
        path = os.path.join(out_dir, "curate", q)
        if not os.path.isdir(path):
            fails.append(f"{q}: no output")
            continue
        got, exp = _norm(pd.read_parquet(path)), _norm(con.sql(sql).df())
        if list(got.columns) != list(exp.columns):
            fails.append(f"{q}: columns {list(got.columns)} vs {list(exp.columns)}")
        elif len(got) != len(exp):
            fails.append(f"{q}: {len(got)} rows vs {len(exp)}")
        else:
            for c in got.columns:
                bad = sum(not _equal(a, b) for a, b in zip(got[c].tolist(), exp[c].tolist()))
                if bad:
                    fails.append(f"{q}: column {c}: {bad} values differ")
                    break
    return fails
