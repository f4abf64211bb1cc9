#!/usr/bin/env python3
"""Post-gate self-check for ONE query: replay the driver's DuckDB-oracle
compare against the gate parquet graft.Verify just wrote, and print a
single JSON line with the verdict plus BOTH sides' full row digests.

graft.Verify shells out to this right after writing the gate artifacts
and appends the line to target/diag/DIAG.jsonl — so a later driver-red /
local-green pair at the same timestamp proves the divergence sits in
the driver's harness, and a local-red names the exact divergent cells.
(Round-13 follow-through on the q186 forensics: rounds 10-12 could
never see what the ORACLE produced at gate time.)

Usage: python3 tools/gate_selfcheck.py <verify_out_dir> <sf_dir> <query_name>
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df: pd.DataFrame, cap: int = 4000) -> str:
    rows = "|".join(
        ":".join(str(v) for v in row) for row in df.itertuples(index=False))
    return rows[:cap]


def main() -> int:
    out_dir, sf_dir, name = sys.argv[1], sys.argv[2], sys.argv[3]
    result = {"query": name}
    try:
        with open(f"{out_dir}/oracle_sql.json") as f:
            sql = json.load(f)[name]
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        got = canon(
            duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'",
                       connection=con).df())
        want = canon(con.execute(sql).df())
        result["spark_rows"] = len(got)
        result["oracle_rows"] = len(want)
        result["spark_digest"] = digest(got)
        result["oracle_digest"] = digest(want)
        if list(got.columns) != list(want.columns):
            result["verdict"] = "schema_mismatch"
            result["diff"] = f"{list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            result["verdict"] = "rows_mismatch"
        else:
            try:
                pd.testing.assert_frame_equal(
                    got, want, check_dtype=False, check_exact=False,
                    atol=1e-9, rtol=0)
                result["verdict"] = "match"
            except AssertionError as e:
                result["verdict"] = "value_mismatch"
                result["diff"] = str(e)[:500]
    except Exception as e:  # noqa: BLE001
        result["verdict"] = "error"
        result["diff"] = f"{type(e).__name__}: {e}"[:500]
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
