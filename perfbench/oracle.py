"""Hash-matches the query_mix outputs against each query's DuckDB oracle.

The run writes oracle.json: the generated tables' directory and, per query,
its oracle SQL and the parquet directory holding Spark's output. Both sides
are canonicalised (columns sorted by name, rows sorted, numpy arrays turned
into tuples) and compared exactly, as the repository's correctness gate does.
"""
import json
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ("events", "documents", "embeddings")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def check(oracle_json: Path) -> list:
    """Returns one (query, ok, message) per query."""
    spec = json.loads(oracle_json.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{spec['data']}/{t}.parquet/*.parquet')")
    out = []
    for short, q in spec["queries"].items():
        try:
            got = _canon(pd.concat([pd.read_parquet(f) for f in sorted(Path(q["out"]).glob("*.parquet"))]))
            exp = _canon(con.execute(q["sql"]).df())
            if list(got.columns) != list(exp.columns):
                out.append((short, False, f"columns {list(got.columns)} vs {list(exp.columns)}"))
                continue
            if len(got) != len(exp):
                out.append((short, False, f"{len(got)} rows vs {len(exp)}"))
                continue
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
            out.append((short, True, f"{len(got)} rows match"))
        except Exception as e:  # a failed comparison is a failed check
            out.append((short, False, f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"))
    return out
