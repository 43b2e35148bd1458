"""Row-count oracle for the analytics workload: each query's registered
DuckDB SQL, run over the same generated parquet tables, must return as
many rows as every Spark execution of that query did."""
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def check(raw):
    """One failure per execution whose row count disagrees with DuckDB,
    or that has no oracle SQL to check it against."""
    rows = raw.get("rows") or {}
    if not rows:
        return []
    sql = raw.get("oracle") or {}
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(raw["tables_dir"], f"{t}.parquet")
        if os.path.isdir(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
    failures = []
    for name, counts in rows.items():
        if name not in sql:
            failures += [{"op": name, "error": "no oracle SQL"}] * len(counts)
            continue
        try:
            want = con.sql(f"SELECT count(*) FROM ({sql[name]})").fetchone()[0]
        except Exception as e:  # the oracle itself broke: every run fails
            failures += [{"op": name, "error": f"oracle {type(e).__name__}: "
                          f"{str(e).splitlines()[0][:200]}"}] * len(counts)
            continue
        failures += [{"op": name, "error": f"{got} rows, oracle {want}"}
                     for got in counts if got != want]
    return failures
