"""Output checks for the query workloads: each query's result dump against
its DuckDB oracle, compared the way the repo's tools/selfcheck.py compares
(columns sorted by name, rows sorted by all columns, exact cells). DuckDB
results are computed once per query and SQL text and kept under the build
directory."""
import hashlib
import importlib.util
import pickle
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _selfcheck(root):
    spec = importlib.util.spec_from_file_location("selfcheck", Path(root) / "tools" / "selfcheck.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def reference(sf_dir, cache_dir, name, sql):
    """DuckDB's result for one query, cached as a pickle per query name and
    SQL text."""
    path = Path(cache_dir) / f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl"
    if path.exists():
        return pickle.loads(path.read_bytes())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    df = con.execute(sql).fetchdf()
    con.close()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_bytes(pickle.dumps(df))
    tmp.replace(path)
    return df


def check(root, sf_dir, cache_dir, results_dir, oracle_sql, names):
    """Returns {query name: reason} for every query whose dump is missing or
    differs from its oracle, or that has no oracle."""
    sc = _selfcheck(root)
    bad = {}
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            bad[name] = "no oracle"
            continue
        try:
            mine = sc.canon(pd.read_parquet(Path(results_dir) / name))
            ref = sc.canon(reference(sf_dir, cache_dir, name, sql))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if list(mine.columns) != list(ref.columns):
            bad[name] = f"columns {list(mine.columns)} vs {list(ref.columns)}"
        elif len(mine) != len(ref):
            bad[name] = f"rows {len(mine)} vs {len(ref)}"
        else:
            for c in mine.columns:
                diff = [i for i, (x, y) in enumerate(zip(mine[c], ref[c])) if not sc.cells_equal(x, y)]
                if diff:
                    bad[name] = f"column {c} differs in {len(diff)} rows"
                    break
    return bad
