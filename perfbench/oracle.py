"""Gate output digests.

A digest is taken after the normalisation of the repository's oracle compare
(`scripts/check.py`): columns sorted by name, every value as its string,
rows sorted by all columns.  The expected digests in `digests.json` come from
each gate's oracle SQL (`SparkEntry.oracleSql`) run in DuckDB on the corpus.
"""
import glob
import hashlib
import json
import os

import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    df = norm(df)
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return {"rows": len(df), "sha256": h.hexdigest()}


def digest_dir(path):
    """Digest of a parquet directory written by the engine."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise ValueError(f"no parquet output in {path}")
    return digest(pd.concat([pd.read_parquet(f) for f in files]))


def expected_digests(corpus, oracle_sql):
    """Run each gate's oracle SQL in DuckDB over the corpus."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{corpus}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    return {g: digest(con.execute(sql).fetchdf()) for g, sql in sorted(oracle_sql.items())}
