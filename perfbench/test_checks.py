"""Each independent check passes on a correct output and fails on a
deliberately corrupted one. No Spark needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402


@pytest.fixture(scope="module")
def medallion(tmp_path_factory):
    d = tmp_path_factory.mktemp("medallion")
    table, truth = gen.taxi_trips(5, 5000)
    gen.write_bronze(table, str(d / "bronze"))
    con = verify.connect(str(d / "duckdb"))
    expected = verify.medallion_expected(con, str(d / "bronze" / "*.parquet"))
    con.close()
    daily = expected["daily"].sort_values("date")
    observed = {**expected, "running_total_cents": daily["revenue_cents"].cumsum().tolist()}
    return observed, expected, truth


def test_generator_truth_matches_recomputation(medallion):
    _, expected, truth = medallion
    assert expected["silver_rows"] == truth["silver_rows"]
    assert expected["fct_rows"] == truth["fct_rows"]
    assert all(truth["classes"][c] > 0 for c in truth["classes"])


def test_medallion_checks_pass_on_correct_output(medallion):
    observed, expected, truth = medallion
    assert verify.check_medallion(observed, expected, truth, error_checks=0) == []


def _bump(df: pd.DataFrame, col: str, by: int = 1) -> pd.DataFrame:
    df = df.copy()
    df.loc[df.index[0], col] = df.loc[df.index[0], col] + by
    return df


@pytest.mark.parametrize("corrupt", [
    lambda o: {**o, "silver_rows": o["silver_rows"] - 1},
    lambda o: {**o, "fct_rows": o["fct_rows"] + 1},
    lambda o: {**o, "daily": _bump(o["daily"], "revenue_cents")},
    lambda o: {**o, "daily": _bump(o["daily"], "passengers")},
    lambda o: {**o, "hourly": _bump(o["hourly"], "trips")},
    lambda o: {**o, "zones": _bump(o["zones"], "pickups")},
    lambda o: {**o, "zones": o["zones"].iloc[1:]},
    lambda o: {**o, "running_total_cents": o["running_total_cents"][:-1] + [o["running_total_cents"][-1] + 1]},
], ids=["silver", "fct", "revenue", "passengers", "hourly", "zone-count", "zone-missing", "running-total"])
def test_medallion_checks_fail_on_corrupted_output(medallion, corrupt):
    observed, expected, truth = medallion
    assert verify.check_medallion(corrupt(observed), expected, truth, error_checks=0)


def test_medallion_check_fails_on_suite_errors(medallion):
    observed, expected, truth = medallion
    assert verify.check_medallion(observed, expected, truth, error_checks=1)


def test_mart_trips_must_sum_to_fct(medallion):
    observed, expected, truth = medallion
    # the marts and fct disagree even though each matches nothing else
    bad = {**observed, "daily": _bump(observed["daily"], "trips")}
    fails = verify.check_medallion(bad, {**expected, "daily": bad["daily"]}, truth, error_checks=0)
    assert any("fct_trips rows" in f for f in fails)


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def _write_drain(out: str, truth: dict, keys: list[tuple], extra: int) -> None:
    """Parquet shaped like one drain's bronze/DLQ/silver output; the
    first ``extra`` keys appear twice in silver."""
    rows = keys + keys[:extra]
    ts = pa.timestamp("us", tz="UTC")

    def money(i: int) -> pa.Array:
        return pa.array([Decimal(r[i]).scaleb(-2) for r in rows], pa.decimal128(10, 2))

    tables = {
        "bronze": pa.table({"x": np.arange(truth["lines"] - truth["malformed"])}),
        "dlq": pa.table({"raw_payload": ["bad"] * truth["malformed"]}),
        "silver": pa.table({
            "vendor_id": pa.array([r[0] for r in rows], pa.int32()),
            "pickup_datetime": pa.array([r[1] * 1_000_000 for r in rows], ts),
            "dropoff_datetime": pa.array([r[2] * 1_000_000 for r in rows], ts),
            "pickup_location_id": pa.array([r[3] for r in rows], pa.int32()),
            "dropoff_location_id": pa.array([r[4] for r in rows], pa.int32()),
            "fare_amount": money(5),
            "total_amount": money(6),
        }),
    }
    for name, table in tables.items():
        os.makedirs(os.path.join(out, name))
        pq.write_table(table, os.path.join(out, name, "part-0.parquet"))


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    truth = gen.stream_landing(3, 5000, 5, str(d / "landing"))
    keys = truth.pop("silver_keys")
    return d, truth, keys


def test_landing_accounts_for_every_line(stream):
    d, truth, keys = stream
    lines = [ln for f in sorted(os.listdir(d / "landing")) for ln in open(d / "landing" / f).read().splitlines()]
    assert len(lines) == truth["lines"]
    assert len(set(keys)) == len(keys)


def test_stream_checks(stream, tmp_path):
    _, truth, keys = stream
    con = verify.connect(str(tmp_path / "duckdb"))
    expected = verify.key_frame(keys)

    good = tmp_path / "good"
    _write_drain(str(good), truth, keys, extra=truth["retries_later_file"])
    obs = verify.stream_observed(con, str(good), expected)
    assert verify.check_stream(obs, truth) == []
    assert obs["silver_rows"] - obs["silver_keys"] == truth["retries_later_file"]

    lost = tmp_path / "lost"
    _write_drain(str(lost), truth, keys[1:], extra=0)
    assert verify.check_stream(verify.stream_observed(con, str(lost), expected), truth)

    forged = tmp_path / "forged"
    changed = [keys[0][:5] + (keys[0][5] + 1, keys[0][6])] + keys[1:]
    _write_drain(str(forged), truth, changed, extra=0)
    assert verify.check_stream(verify.stream_observed(con, str(forged), expected), truth)
    con.close()

    assert verify.check_stream({**obs, "dlq_rows": obs["dlq_rows"] - 1}, truth)
    assert verify.check_stream({**obs, "bronze_rows": obs["bronze_rows"] + 1}, truth)


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


def test_union_find_matches_breadth_first_search():
    rng = np.random.default_rng(0)
    pairs = [tuple(sorted(map(int, rng.integers(0, 200, 2)))) for _ in range(150)]
    pairs = [p for p in pairs if p[0] != p[1]]
    got = verify.union_find_clusters(pairs).set_index("vec_id")
    adj: dict[int, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for start in adj:
        seen, todo = {start}, [start]
        while todo:
            for nxt in adj[todo.pop()] - seen:
                seen.add(nxt)
                todo.append(nxt)
        assert got.loc[start, "cluster_id"] == min(seen)
        assert got.loc[start, "cluster_size"] == len(seen)


def test_frame_diff():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})
    got = want.iloc[::-1][["s", "v", "k"]].reset_index(drop=True)
    assert verify.frame_diff("q", got, want) == []
    assert verify.frame_diff("q", got.assign(v=[None, 1.25, 0.5000001]), want)
    assert verify.frame_diff("q", got.iloc[1:], want)
    assert verify.frame_diff("q", got.rename(columns={"s": "t"}), want)
    clusters = verify.union_find_clusters([(1, 2), (2, 3), (7, 8)])
    assert verify.frame_diff("d15", clusters.assign(cluster_id=clusters["cluster_id"].where(clusters["vec_id"] != 8, 8)), clusters)


def test_benchmark_json_names_every_reported_metric():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(__import__("workloads").WORKLOADS)
