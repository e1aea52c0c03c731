"""DuckDB oracle for the benchmark's query results.

Views read the same staged or ×10 file lists the JVM reads (the way
the repository's scale twin lists them), the oracle SQL comes from
`graft.SparkEntry.oracleSql`, and results compare by the repository's
oracle rules: columns sorted by name, equal row count, equal dtypes and
exactly equal values in order.
"""
import glob

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(corpus_dir):
    # no extension may be fetched: everything needed is built in
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads TO 4")
    for t in TABLES:
        files = sorted(glob.glob(f"{corpus_dir}/{t}.parquet/*.parquet"))
        if not files:
            continue
        # Spark writes UTC-adjusted timestamps; the oracle works in the
        # naive UTC values the source tables carry
        cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()
        sel = ", ".join(f"{c}::TIMESTAMP AS {c}" if ty == "TIMESTAMP WITH TIME ZONE" else c
                        for c, ty, *_ in cols)
        con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM read_parquet({files!r})")
    return con


def compare(spark_parquet, oracle_df):
    """None when equal, else a short reason."""
    s = pd.read_parquet(spark_parquet)
    o = oracle_df.copy()
    s = s[sorted(s.columns)].reset_index(drop=True)
    o = o[sorted(o.columns)].reset_index(drop=True)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    for c in s.columns:  # parquet dates come back as python dates
        if s[c].dtype == "object" and o[c].dtype.kind == "M":
            s[c] = pd.to_datetime(s[c]).astype("datetime64[us]")
            o[c] = o[c].astype("datetime64[us]")
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    bad = [c for c in s.columns if str(s[c].dtype) != str(o[c].dtype)]
    if bad:
        return "dtypes " + ", ".join(f"{c}: {s[c].dtype} != {o[c].dtype}" for c in bad)
    if not s.equals(o):
        diff = [c for c in s.columns if not s[c].equals(o[c])]
        return "values differ in " + ", ".join(diff)
    return None
