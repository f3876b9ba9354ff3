"""Output checks for the query workloads, run after the driver exits.

Every query output the driver wrote is compared with its DuckDB oracle twin
(`QuerySpec.oracle`) over the same generated tables: columns sorted by
name, rows sorted by every column, values compared as text, the same
rules as the repository's oracle gate. q17 is approximate and has no
oracle: its exact columns must equal DuckDB's exact counts and its HLL
estimate must lie within 15% of them. A query with neither must return
rows.
"""
import os

import duckdb
import pandas as pd

from gen import TABLES

APPROX_TOLERANCE = 0.15


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Empty when equal, else what differs."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    diff = [c for c in got.columns
            if not (got[c].astype(str) == want[c].astype(str)).all()]
    return f"values differ in {diff}" if diff else ""


def check_approx(con, got: pd.DataFrame) -> str:
    exact = con.execute(
        "SELECT event_type, count(DISTINCT user_id) AS exact_users, "
        "count(*) AS n_events FROM events GROUP BY 1").df()
    err = compare(got[["event_type", "exact_users", "n_events"]], exact)
    if err:
        return err
    rel = (got["approx_users"] - got["exact_users"]).abs() / got["exact_users"]
    worst = float(rel.max())
    return "" if worst <= APPROX_TOLERANCE else f"HLL error {worst:.3f}"


def check_outputs(data_dir: str, outputs: dict, oracles: dict) -> list:
    """[(check name, ok, detail)] for every written query output."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    verdicts = []
    for name, path in sorted(outputs.items()):
        try:
            got = pd.read_parquet(path)
            if name in oracles:
                err = compare(got, con.execute(oracles[name]).df())
            elif name.startswith("q17_"):
                err = check_approx(con, got)
            else:
                err = "" if len(got) > 0 else "no rows"
        except Exception as e:  # a failed read or oracle is a failed check
            err = f"{type(e).__name__}: {e}"
        verdicts.append((f"oracle.{name}", not err, err or f"{len(got)} rows"))
    con.close()
    return verdicts
