"""Output check: each job's result against its DuckDB oracle SQL.

The oracle SQL is the program's own (`SparkEntry.oracleSql`), run by DuckDB
over the same parquet inputs. Results are canonicalized as dev/check.py
does: columns sorted by name, rows sorted by their string form, floats
equal within 1e-12, everything else equal as strings. Oracle results are
cached under the build dir, keyed by the DuckDB version, the SQL text and
the input digest.
"""
import hashlib
from pathlib import Path

import duckdb
import pandas as pd


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def _compare(expected, actual):
    """None when equal, else a description with the first differing rows."""
    e, a = _norm(expected), _norm(actual)
    if list(e.columns) != list(a.columns):
        return f"columns {list(a.columns)} != oracle {list(e.columns)}"
    if len(e) != len(a):
        return f"rows spark={len(a)} oracle={len(e)}"
    bad = []
    for c in e.columns:
        ce, ca = e[c], a[c]
        both_na = ce.isna() & ca.isna()
        if ce.dtype.kind == "f" or ca.dtype.kind == "f":
            ok = (both_na | ((ce - ca).abs() <= 1e-12)).all()
        else:
            ok = (both_na | (ce.astype(str) == ca.astype(str))).all()
        if not ok:
            bad.append(c)
    if not bad:
        return None
    lines = [f"value mismatch in {bad}"]
    for c in bad:
        diff = e[c].astype(str) != a[c].astype(str)
        for i in diff[diff].index[:3]:
            lines.append(f"  {c} row {i}: oracle={e[c][i]!r} spark={a[c][i]!r}")
    return "\n".join(lines)


def _inputs_digest(data_dir, tables):
    h = hashlib.sha256()
    for t in tables:
        h.update((Path(data_dir) / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def check(cache_dir, data_dir, tables, out_dir, oracle_sql, checked, jobs):
    """Return {job: reason} for every job whose output is missing or wrong."""
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    inputs = _inputs_digest(data_dir, tables)
    thrown = {c["name"]: c["error"] for c in checked if c["error"]}
    con = None
    errors = {}
    for name in jobs:
        if name in thrown:
            errors[name] = f"threw while writing its output: {thrown[name]}"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            errors[name] = "no oracle SQL in the registry"
            continue
        key = hashlib.sha256("\0".join((duckdb.__version__, inputs, sql))
                             .encode()).hexdigest()[:24]
        cached = cache_dir / f"{name}-{key}.pkl"
        if cached.exists():
            expected = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{Path(data_dir) / t}.parquet')")
            try:
                expected = con.execute(sql).df()
            except duckdb.Error as e:
                errors[name] = f"oracle SQL failed in DuckDB: {str(e)[:300]}"
                continue
            expected.to_pickle(cached)
        try:
            actual = pd.read_parquet(Path(out_dir) / name)
        except (OSError, ValueError) as e:
            errors[name] = f"output missing: {str(e)[:200]}"
            continue
        why = _compare(expected, actual)
        if why:
            errors[name] = why
    if con is not None:
        con.close()
    return errors
