"""Correctness checks, run outside the timed passes.

Query items are compared with their DuckDB oracle SQL over the same
fixture parquet files, by the rules of the engine's differential
harness: same column names, same row count, and equal cells after
canonicalising (columns sorted by name; floats rounded to 6 digits and
sign-sensitive; NaN and NULL equal; timestamps in ISO form; lists
element-wise; rows sorted). Map/reduce items are compared with the
counts the input generator computed.
"""

from __future__ import annotations

import json
import math

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def oracle_connection(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    return con


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return f"{round(v, 6):.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).map(_canon)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None if equal under the rules above, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    if len(got) == 0:
        return None
    a, b = canonical(got), canonical(want)
    if not a.equals(b):
        return f"{int((a != b).any(axis=1).sum())} rows differ from the oracle"
    return None


def check_query(got: pd.DataFrame, oracle_sql: str, con: duckdb.DuckDBPyConnection, table_dir: str) -> str | None:
    want = con.sql(oracle_sql.replace("__SF_DIR__", table_dir)).df()
    return compare_frames(got, want)


def check_fn_pipeline(got: pd.DataFrame, expected: dict) -> str | None:
    """The map_fn -> reduce_fn item emits one JSON row: outputs gathered
    and word counts per file stem."""
    if len(got) != 1:
        return f"reducer emitted {len(got)} rows, expected 1"
    out = json.loads(bytes(got["content"][0]))
    if out["per_file"] != expected["words_per_file"]:
        return "per-file word counts differ from the generator's"
    if out["total"] != expected["total_words"] or out["outputs"] != expected["files"]:
        return f"reducer saw {out['outputs']} outputs / {out['total']} words"
    return None


def check_cmd_pipeline(got: pd.DataFrame, expected: dict) -> str | None:
    """The map_cmd -> reduce_cmd item emits the reducer's stdout:
    '<outputs> <total words>'."""
    if len(got) != 1 or int(got["exit_code"][0]) != 0:
        return "reduce command failed"
    fields = bytes(got["content"][0]).decode().split()
    want = [str(expected["files"]), str(expected["total_words"])]
    if fields != want:
        return f"reducer printed {fields}, expected {want}"
    return None
