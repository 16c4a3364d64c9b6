"""Oracle check of one op result, with ``tools/check_oracles.py``'s rules.

Row count, column names and raw dtypes must agree (datetime units may
differ); after ``check_oracles.normalize`` float columns match within
rtol 1e-9 / atol 1e-12 and every other column matches exactly.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from assemblagedb_spark.sources.tpch import TABLES
from tools.check_oracles import normalize


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def mismatch(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """None when the Spark result ``sdf`` matches the oracle ``odf``,
    otherwise a one-line reason."""
    if len(sdf) != len(odf):
        return f"rows spark={len(sdf)} duckdb={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"
    drift = [
        (c, str(sdf[c].dtype), str(odf[c].dtype))
        for c in sorted(sdf.columns)
        if str(sdf[c].dtype) != str(odf[c].dtype)
        and not (
            str(sdf[c].dtype).startswith("datetime64")
            and str(odf[c].dtype).startswith("datetime64")
        )
    ]
    if drift:
        return f"raw dtype drift {drift}"
    a, b = normalize(sdf), normalize(odf)
    floats = [c for c in a.columns if pd.api.types.is_float_dtype(a[c])]
    others = [c for c in a.columns if c not in floats]
    try:
        if floats:
            pd.testing.assert_frame_equal(
                a[floats], b[floats], check_dtype=False, check_exact=False,
                rtol=1e-9, atol=1e-12,
            )
        if others:
            pd.testing.assert_frame_equal(
                a[others], b[others], check_dtype=False, check_exact=True
            )
    except AssertionError as e:
        return "value mismatch: " + " ".join(str(e).split())[:300]
    return None
