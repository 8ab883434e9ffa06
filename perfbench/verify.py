"""Independent checks of the engine's outputs.

Nothing here calls the engine: outputs are read back from the parquet
the engine wrote (with DuckDB) or from the frames a query returned, and
compared with a recomputation made by DuckDB SQL written for this
benchmark, with the registry's oracle SQL, or with the generators'
ground truth. Each ``check_*`` function returns a list of failure
messages; an empty list means the check passed.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET enable_progress_bar = false")
    return con


# ---------------------------------------------------------------------------
# medallion_batch
# ---------------------------------------------------------------------------

# Silver and gold recomputed from the bronze parquet. Clean values sit
# far from every rounding threshold (see gen.py), so plain SQL reaches
# the same decisions as the engine: the speed test compares against
# 99.995, which is where round(speed, 2) reaches 100.
_MEDALLION_SQL = """
CREATE TEMP VIEW q AS
SELECT * FROM read_parquet('{bronze}')
WHERE tpep_pickup_datetime IS NOT NULL AND tpep_dropoff_datetime IS NOT NULL
  AND trip_distance >= 0 AND fare_amount >= 0
  AND tpep_pickup_datetime >= TIMESTAMPTZ '2024-01-01 00:00:00+00'
  AND tpep_pickup_datetime < TIMESTAMPTZ '2024-02-01 00:00:00+00';
CREATE TEMP VIEW silver AS
SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY VendorID, tpep_pickup_datetime, tpep_dropoff_datetime,
                 PULocationID, DOLocationID, fare_amount, total_amount
    ORDER BY ingestion_ts DESC) AS rn
  FROM q) WHERE rn = 1;
CREATE TEMP VIEW fct AS
SELECT *, CAST(tpep_pickup_datetime AS DATE) AS d,
       CAST(hour(tpep_pickup_datetime) AS INTEGER) AS h,
       dayofweek(tpep_pickup_datetime) IN (0, 6) AS weekend,
       CASE WHEN PULocationID BETWEEN 1 AND 265
            THEN 'Zone ' || lpad(CAST(PULocationID AS VARCHAR), 3, '0') END AS zone
FROM (
  SELECT *, CAST(trunc((epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)) / 60) AS BIGINT) AS dur
  FROM silver)
WHERE dur BETWEEN 1 AND 720 AND trip_distance / (dur / 60.0) < 99.995;
"""


def medallion_expected(con: duckdb.DuckDBPyConnection, bronze_glob: str) -> dict:
    con.execute(_MEDALLION_SQL.format(bronze=bronze_glob))
    cents = "CAST(SUM(CAST(round(total_amount * 100) AS BIGINT)) AS BIGINT)"
    return {
        "silver_rows": con.execute("SELECT count(*) FROM silver").fetchone()[0],
        "fct_rows": con.execute("SELECT count(*) FROM fct").fetchone()[0],
        "daily": con.execute(
            f"SELECT d, count(*), {cents}, CAST(sum(passenger_count) AS BIGINT) FROM fct GROUP BY 1"
        ).fetchdf().set_axis(["date", "trips", "revenue_cents", "passengers"], axis=1),
        "hourly": con.execute(
            "SELECT h, weekend, count(*), count(DISTINCT d) FROM fct GROUP BY 1, 2"
        ).fetchdf().set_axis(["hour", "weekend", "trips", "days"], axis=1),
        "zones": con.execute(
            f"SELECT zone, count(*), {cents} FROM fct WHERE zone IS NOT NULL GROUP BY 1"
        ).fetchdf().set_axis(["zone", "pickups", "revenue_cents"], axis=1),
    }


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def medallion_observed(con: duckdb.DuckDBPyConnection, warehouse: str) -> dict:
    """Read the built tables back from the warehouse parquet."""

    def q(sql: str) -> pd.DataFrame:
        return con.execute(sql).fetchdf()

    daily = q(
        f"SELECT date_key, total_trips, CAST(round(total_revenue * 100) AS BIGINT) AS rc, "
        f"total_passengers, CAST(round(running_total_revenue * 100) AS BIGINT) AS run_c "
        f"FROM {_parquet(warehouse + '/mart_daily_revenue')} ORDER BY date_key"
    )
    return {
        "silver_rows": con.execute(f"SELECT count(*) FROM {_parquet(warehouse + '/stg_yellow_trips')}").fetchone()[0],
        "fct_rows": con.execute(f"SELECT count(*) FROM {_parquet(warehouse + '/fct_trips')}").fetchone()[0],
        "daily": pd.DataFrame({
            "date": daily["date_key"], "trips": daily["total_trips"],
            "revenue_cents": daily["rc"], "passengers": daily["total_passengers"],
        }),
        "running_total_cents": daily["run_c"].tolist(),
        "hourly": q(
            f"SELECT pickup_hour, is_weekend, total_trips, days_observed "
            f"FROM {_parquet(warehouse + '/mart_hourly_demand')}"
        ).set_axis(["hour", "weekend", "trips", "days"], axis=1),
        "zones": q(
            f"SELECT pickup_zone, total_pickups, CAST(round(total_revenue * 100) AS BIGINT) "
            f"FROM {_parquet(warehouse + '/mart_location_performance')}"
        ).set_axis(["zone", "pickups", "revenue_cents"], axis=1),
    }


def check_medallion(observed: dict, expected: dict, truth: dict, error_checks: int) -> list[str]:
    fails = []
    if truth["rows"] != observed["silver_rows"] + truth["quality_rejects"] + truth["duplicates"]:
        fails.append(
            f"bronze {truth['rows']} != silver {observed['silver_rows']} + rejects "
            f"{truth['quality_rejects']} + duplicates {truth['duplicates']}"
        )
    for key in ("silver_rows", "fct_rows"):
        if observed[key] != expected[key]:
            fails.append(f"{key}: engine {observed[key]} != recomputed {expected[key]}")
    for name in ("daily", "hourly", "zones"):
        fails += frame_diff(f"mart {name}", observed[name], expected[name])
    trips = int(observed["daily"]["trips"].sum())
    if trips != observed["fct_rows"]:
        fails.append(f"sum(mart_daily_revenue.total_trips) {trips} != fct_trips rows {observed['fct_rows']}")
    running = observed["running_total_cents"]
    total = int(observed["daily"]["revenue_cents"].sum())
    if not running or running[-1] != total:
        fails.append(f"last running_total_revenue {running[-1:]} != sum(total_revenue) {total}")
    if error_checks:
        fails.append(f"check suite reported {error_checks} ERROR result(s)")
    return fails


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def stream_observed(con: duckdb.DuckDBPyConnection, out: str, expected_keys: pd.DataFrame) -> dict:
    """Counts of one drain's bronze/DLQ/silver output, and how the set of
    silver natural keys differs from the expected set."""
    con.register("expected_keys", expected_keys)
    silver = _parquet(out + "/silver")
    keys = (
        f"SELECT vendor_id AS v, CAST(epoch(pickup_datetime) AS BIGINT) AS p, "
        f"CAST(epoch(dropoff_datetime) AS BIGINT) AS d, pickup_location_id AS pu, "
        f"dropoff_location_id AS dl, CAST(round(fare_amount * 100) AS BIGINT) AS f, "
        f"CAST(round(total_amount * 100) AS BIGINT) AS t FROM {silver}"
    )
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    res = {
        "bronze_rows": one(f"SELECT count(*) FROM {_parquet(out + '/bronze')}"),
        "dlq_rows": one(f"SELECT count(*) FROM {_parquet(out + '/dlq')}"),
        "silver_rows": one(f"SELECT count(*) FROM {silver}"),
        "silver_keys": one(f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({keys}))"),
        "missing_keys": one(f"SELECT count(*) FROM (SELECT * FROM expected_keys EXCEPT {keys})"),
        "unexpected_keys": one(f"SELECT count(*) FROM ({keys} EXCEPT SELECT * FROM expected_keys)"),
    }
    con.unregister("expected_keys")
    return res


def check_stream(observed: dict, truth: dict) -> list[str]:
    fails = []
    if observed["bronze_rows"] + observed["dlq_rows"] != truth["lines"]:
        fails.append(f"bronze {observed['bronze_rows']} + dlq {observed['dlq_rows']} != lines {truth['lines']}")
    if observed["dlq_rows"] != truth["malformed"]:
        fails.append(f"dlq {observed['dlq_rows']} != malformed lines {truth['malformed']}")
    if observed["missing_keys"] or observed["unexpected_keys"]:
        fails.append(
            f"silver natural keys differ from the expected set: {observed['missing_keys']} missing, "
            f"{observed['unexpected_keys']} unexpected"
        )
    return fails


def key_frame(keys: list[tuple]) -> pd.DataFrame:
    cols = ["v", "p", "d", "pu", "dl", "f", "t"]
    return pd.DataFrame(keys, columns=cols).astype("Int64")


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


def union_find_clusters(pairs: list[tuple[int, int]]) -> pd.DataFrame:
    """Connected components of the pair graph: every node with its
    component's smallest id and the component size."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    root = {n: find(n) for n in parent}
    size: dict[int, int] = {}
    for r in root.values():
        size[r] = size.get(r, 0) + 1
    rows = [(n, r, size[r]) for n, r in root.items()]
    return pd.DataFrame(rows, columns=["vec_id", "cluster_id", "cluster_size"])


def _norm(v):
    """One canonical Python value per cell: numpy scalars unwrapped,
    NaN/NA → None, whole decimals → int, midnight timestamps → dates."""
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, dt.datetime) and v.tzinfo is None and v.time() == dt.time(0):
        return v.date()
    return v


def frame_diff(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive exact comparison (columns matched by name)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    cols = sorted(want.columns)

    def rows(df: pd.DataFrame) -> list[tuple]:
        out = [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
        return sorted(out, key=lambda r: tuple(str(x) for x in r))

    g, w = rows(got), rows(want)
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows != expected {len(w)}"]
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    if bad:
        return [f"{name}: {len(bad)} rows differ; first {bad[0][0]} != expected {bad[0][1]}"]
    return []
