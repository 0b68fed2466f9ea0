"""Order-insensitive, exact fingerprint of a query result, made with the
canonicalization of the repo's oracle gate (tools/check_oracle.py):
columns sorted by name, timestamps at microseconds, rows sorted, values
exact. The fingerprint is the row count, the column names and dtypes,
and the MD5 of pandas' row hashes of the canonical frame, so two results
share a fingerprint exactly when the gate would call them equal.

`of(df)` fingerprints a pandas frame; `of_parquet(path)` reads a result
that graft wrote, the way the gate reads it (through DuckDB).
"""
import hashlib
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check_oracle  # noqa: E402


def of(df):
    c = check_oracle.canon(df)
    digest = hashlib.md5(pd.util.hash_pandas_object(c, index=False).values.tobytes())
    return {"rows": len(c), "columns": list(c.columns),
            "dtypes": [str(t) for t in c.dtypes], "hash": digest.hexdigest()}


def of_parquet(con, path):
    return of(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
