"""Output checks that run after the JVM has exited: the dashboard slices
and the declared queries' reference results against DuckDB."""
import json
import os
import sys

import duckdb
import pandas as pd

# the canonical form and table list of the repository's oracle compare
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import TABLES, canon  # noqa: E402


def same(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when equal, else a one-line reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not got.equals(want):
        neq = ((got != want) & ~(got.isna() & want.isna())).any(axis=1)
        return f"{int(neq.sum())} of {len(got)} rows differ"
    return ""


def epoch_micros(col: str) -> str:
    return (f"CASE WHEN {col} < 10000000000 THEN {col} * 1000000 "
            f"WHEN {col} < 10000000000000 THEN {col} * 1000 "
            f"WHEN {col} < 10000000000000000 THEN {col} ELSE {col} // 1000 END")


def dashboard_expected(con, raw: str, req: dict) -> pd.DataFrame:
    """The per-minute deviation of one slice request, computed from the
    raw generated rows: epoch normalization, WITA shift, sentinel
    cleanup, GPS status, decimal-exact means."""
    units = ", ".join(f"'{u}'" for u in req["units"])

    def avg(x):
        return f"CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({x})"
    return con.sql(f"""
      WITH e AS (
        SELECT *, make_timestamp({epoch_micros('heartbeat')}) + INTERVAL 8 HOUR AS wita
        FROM read_parquet('{raw}')),
      s AS (
        SELECT date_trunc('minute', wita) AS minute, unitno, CAST(wita AS DATE) AS hp,
          CASE WHEN gpsspeed = -9999 THEN -1 ELSE gpsspeed END AS gs,
          CASE WHEN VehicleSpeed = -9999 THEN -1 ELSE VehicleSpeed END AS vs,
          CASE WHEN gpsnumsat = -9999 THEN -1 ELSE gpsnumsat END AS ns,
          CASE WHEN gpslat < -8880 THEN 'false' ELSE 'true' END AS gst,
          camfrontstatus, camcabinstatus, speedsource
        FROM e
        WHERE CAST(wita AS DATE) = DATE '{req['day']}' AND unitno IN ({units})
          AND hour(wita) BETWEEN {req['h0']} AND {req['h1']})
      SELECT unitno, '{req['district']}' AS dstrct_code, CAST(hp AS VARCHAR) AS hiveperiod,
        {avg('gs')} AS avg_gpsspeed, {avg('vs')} AS avg_vehiclespeed,
        {avg('abs(gs - vs)')} AS avg_error_rate, {avg('ns')} AS avg_gpsnumsat,
        {avg('1')} AS avg_constant,
        min(gst) AS gpsstatus, min(camfrontstatus) AS camfrontstatus,
        min(camcabinstatus) AS camcabinstatus, min(speedsource) AS speedsource, minute
      FROM s GROUP BY minute, unitno, hp""").df()


def check_dashboard(work: str, requests: list, truth_dir: str) -> dict:
    """Failed slice index → reason."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    out = os.path.join(work, "dash_out")
    if not os.path.isdir(out):
        return {i: "no slice results written" for i in range(len(requests))}
    got = con.sql(f"SELECT * REPLACE (CAST(hiveperiod AS VARCHAR) AS hiveperiod) "
                  f"FROM read_parquet('{out}/*.parquet')").df()
    bad = {}
    for i, req in enumerate(requests):
        want = dashboard_expected(con, os.path.join(truth_dir, f"truth_{req['district']}.parquet"), req)
        mine = got[got["op"] == i].drop(columns=["op"])
        why = same(mine, want)
        if why:
            bad[i] = "slice: " + why
    return bad


def check_queries(work: str, names: list) -> dict:
    """Query name → reason its reference result disagrees with DuckDB."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    tables = os.path.join(work, "tables")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name in names:
        ref = os.path.join(work, "ref", name)
        if name not in oracles:
            bad[name] = "no oracle SQL"
            continue
        if not os.path.isdir(ref):
            bad[name] = "no reference result"
            continue
        try:
            why = same(con.sql(f"SELECT * FROM read_parquet('{ref}/*.parquet')").df(),
                       con.sql(oracles[name]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error {e}"
        if why:
            bad[name] = why
    return bad
