"""DuckDB cross-check of the rows each query key returned in set-up.

The harness writes, per key that has oracle SQL in `SparkEntry.oracleSql`,
the rows it collected as parquet under `<dir>/<key>/`, and the SQL itself
in `<dir>/oracle_sql.json`: the layout `tools/check_oracle.py` reads. DuckDB
runs the SQL over the same generated tables, and the rows are compared the
way that tool compares them (columns by name, type class, every value
exact); this module only collects a reason per failing key.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import duck_to_rows, load_spark, table_to_rows  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(data_dir, out_dir):
    """Returns the number of keys checked, and {key: reason} for every key
    whose rows differ from DuckDB's."""
    sql_file = os.path.join(out_dir, "oracle_sql.json")
    if not os.path.exists(sql_file):
        return 0, {}
    with open(sql_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for key, sql in sorted(oracles.items()):
        tbl = load_spark(os.path.join(out_dir, key))
        if tbl is None:
            bad[key] = "no rows written"
            continue
        cols_s, types_s, rows_s = table_to_rows(tbl)
        try:
            cols_d, types_d, rows_d = duck_to_rows(con.sql(sql))
        except Exception as e:  # the oracle SQL itself failed
            bad[key] = f"oracle error: {e}"
            continue
        if cols_s != cols_d:
            bad[key] = f"columns {cols_s} vs {cols_d}"
        elif types_s != types_d:
            bad[key] = f"types {types_s} vs {types_d}"
        elif len(rows_s) != len(rows_d):
            bad[key] = f"rows {len(rows_s)} vs {len(rows_d)}"
        elif rows_s != rows_d:
            diff = [(a, b) for a, b in zip(rows_s, rows_d) if a != b][:2]
            bad[key] = f"values differ, first: {diff}"
    con.close()
    return len(oracles), bad
