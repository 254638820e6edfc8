"""DuckDB oracle for the query_mix queries.

Expectations come from SparkEntry.oracleSql run in DuckDB over the same
parquet tables, computed once per build and cached by SQL text. The
comparison is the one tools/check_oracle.py applies: columns sorted by
name, rows sorted, values and dtype class compared exactly.
"""
import hashlib
import json
from pathlib import Path

import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _key(sql: str, sf: Path) -> str:
    import duckdb
    return hashlib.sha256(f"{duckdb.__version__}\0{sf}\0{sql}".encode()).hexdigest()[:24]


def expectations(build: Path, sf: Path) -> dict:
    """Query name -> expected frame, computing and caching missing ones."""
    import duckdb
    spec = json.loads((build / "oracle_sql.json").read_text())
    cache = build / "oracle"
    cache.mkdir(exist_ok=True)
    con = None
    out = {}
    for name, sql in spec["sql"].items():
        f = cache / f"{_key(sql, sf)}.pkl"
        if not f.exists():
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            con.sql(sql).df().to_pickle(f)
        out[name] = pd.read_pickle(f)
    return out


def compare(exp: pd.DataFrame, got: pd.DataFrame) -> list:
    """Mismatch descriptions; empty when the frames agree."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return [f"columns exp={list(exp.columns)} got={list(got.columns)}"]
    exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    got = got.sort_values(by=list(got.columns), ignore_index=True)
    if len(exp) != len(got):
        return [f"rows exp={len(exp)} got={len(got)}"]
    bad = []
    for c in exp.columns:
        e, g = exp[c], got[c]
        if pd.api.types.is_datetime64_any_dtype(e) or pd.api.types.is_datetime64_any_dtype(g):
            e = pd.to_datetime(e).astype("datetime64[us]")
            g = pd.to_datetime(g).astype("datetime64[us]")
        ecls = "num" if pd.api.types.is_numeric_dtype(e) else str(e.dtype)
        gcls = "num" if pd.api.types.is_numeric_dtype(g) else str(g.dtype)
        if ecls != gcls:
            bad.append(f"{c}: dtype {e.dtype} vs {g.dtype}")
        elif ecls == "num":
            if str(e.dtype) != str(g.dtype):
                bad.append(f"{c}: NUMDTYPE {e.dtype} vs {g.dtype}")
            ev, gv = e.astype("float64").values, g.astype("float64").values
            same = (ev == gv) | (np.isnan(ev) & np.isnan(gv))
            if not same.all():
                i = np.where(~same)[0][:3]
                bad.append(f"{c}: values differ at {i}: exp={ev[i]} got={gv[i]}")
        elif not e.fillna("<NA>").equals(g.fillna("<NA>")):
            bad.append(f"{c}: values differ")
    return bad


def check_dumps(build: Path, sf: Path, results: Path) -> dict:
    """Query name -> mismatch list for every dumped first result."""
    exp = expectations(build, sf)
    out = {}
    for name, frame in exp.items():
        d = results / name
        files = sorted(d.glob("*.parquet")) if d.is_dir() else []
        if not files:
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        out[name] = compare(frame, got)
    return out
