"""Output checks for the graft benchmark: DuckDB oracle answers for the
registered queries (`SparkEntry.oracleSql`), compared the way
`dev/compare_local.py` does, and the fate checks of the ingest batches.
"""
import glob
import os
import re

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")  # a small footprint on a shared box
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{input_dir}/{t}.parquet')")
    return con


def tables_read(sql):
    """The input tables an oracle query names."""
    return sorted(t for t in TABLES if re.search(rf"\b{t}\b", sql))


def oracle_answer(con, sql, cache_path):
    """The oracle's answer, cached as parquet at `cache_path`."""
    if os.path.exists(cache_path):
        return pd.read_parquet(cache_path)
    df = con.sql(sql).df()
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".tmp"
    df.to_parquet(tmp)
    os.replace(tmp, cache_path)
    return df


def read_result(res_dir):
    files = sorted(glob.glob(f"{res_dir}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output in {res_dir}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(spark_df, duck_df, sort_rows=False):
    """None when the frames agree, else a one-line reason. Columns are
    matched by name; cells compare as strings, row by row (optionally
    after sorting rows, for outputs with no defined order)."""
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"columns differ: {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"row count {len(s)} vs oracle {len(d)}"
    s, d = s.astype(str), d.astype(str)
    if sort_rows:
        s = s.sort_values(list(s.columns)).reset_index(drop=True)
        d = d.sort_values(list(d.columns)).reset_index(drop=True)
    else:
        s, d = s.reset_index(drop=True), d.reset_index(drop=True)
    for c in s.columns:
        if not s[c].equals(d[c]):
            bad = (s[c] != d[c])
            i = bad[bad].index[0]
            return f"value mismatch in {c} at row {i}: {s[c][i]!r} vs {d[c][i]!r}"
    return None


def check_fates(hist, expected_records, dup_share_max=0.5):
    """Checks one later ingest batch by its fate histogram ({fate: n})
    against its WET record count. None when it passes, else a reason."""
    total = sum(hist.values())
    if total != expected_records:
        return f"{total} fates for {expected_records} records"
    dups = sum(n for f, n in hist.items()
               if f.startswith("url_dup") or f.startswith("exact_dup"))
    if total and dups / total > dup_share_max:
        return f"{dups}/{total} fates are url/exact duplicates"
    return None
