"""Seeded input generators for the three workloads.

Everything is built with numpy/pyarrow in this process (no Spark), so
input generation stays out of the measured set-up time. Each generator
returns the ground truth the checks need: how many rows of each dirty
class it planted, which duplicates and retries it injected, how many
lines are malformed.

Continuous values are kept clear of the pipeline's thresholds (money is
whole cents, times are whole seconds, clean speeds stay far below
100 mph), so an independent recomputation agrees with the engine
exactly. A fixed set of boundary rows still straddles every threshold:
distance/fare 0.00 vs -0.01, pickup at the first/last second of January
vs one second outside, durations of 59/60 s and 43259/43260 s, speeds of
99.5 vs 100.5 mph.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JAN1 = 1704067200  # 2024-01-01T00:00:00Z
FEB1 = JAN1 + 31 * 86400
INGEST0 = FEB1 + 12 * 3600  # ingestion stamps start 2024-02-01T12:00Z

def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _clean_trips(rng: np.random.Generator, pickup: np.ndarray) -> dict[str, np.ndarray]:
    """Plausible January trips at the given (distinct) pickup seconds.

    Money is generated in integer cents; durations in whole seconds of
    2..90 min; speed targets 5..60 mph, so the engine's truncated-minute
    speed stays under ~90 mph."""
    n = len(pickup)
    dur = rng.integers(120, 5401, n)
    speed = rng.uniform(5.0, 60.0, n)
    dist_c = np.round(speed * dur / 3600.0 * 100).astype(np.int64)
    fare_c = 300 + (dist_c * rng.integers(250, 401, n)) // 100
    tip_c = (fare_c * rng.uniform(0.0, 0.35, n)).astype(np.int64)
    extra_c = rng.choice([0, 50, 100], n)
    tolls_c = rng.choice([0, 0, 655], n)
    cong_c = rng.choice([0, 250], n)
    airport_c = rng.choice([0, 175], n)
    cols = {
        "VendorID": rng.choice([1, 2, 6], n).astype(object),
        "tpep_pickup_datetime": pickup.astype(object),
        "tpep_dropoff_datetime": (pickup + dur).astype(object),
        "passenger_count": rng.integers(0, 7, n).astype(object),
        "dist_c": dist_c,
        "RatecodeID": rng.choice([1, 2, 3, 4, 5, 6, 99], n).astype(object),
        "store_and_fwd_flag": rng.choice(np.array(["Y", "N", None], dtype=object), n),
        "PULocationID": rng.integers(1, 266, n).astype(object),
        "DOLocationID": rng.integers(1, 266, n).astype(object),
        "payment_type": rng.integers(0, 7, n).astype(object),
        "fare_c": fare_c,
        "extra_c": extra_c,
        "mta_c": np.full(n, 50),
        "tip_c": tip_c,
        "tolls_c": tolls_c,
        "surcharge_c": np.full(n, 100),
        "cong_c": cong_c,
        "airport_c": airport_c,
    }
    # sprinkle NULLs into the nullable non-key attributes
    for c, frac in (("passenger_count", 0.02), ("RatecodeID", 0.02)):
        cols[c][rng.random(n) < frac] = None
    cols["VendorID"][rng.random(n) < 0.01] = None
    return cols


def _total_c(cols: dict[str, np.ndarray]) -> np.ndarray:
    return (
        cols["fare_c"] + cols["tip_c"] + cols["extra_c"] + cols["mta_c"] + cols["tolls_c"]
        + cols["surcharge_c"] + cols["cong_c"] + cols["airport_c"]
    )


def _to_table(cols: dict[str, np.ndarray], ingestion: np.ndarray | None) -> pa.Table:
    ts = pa.timestamp("us", tz="UTC")

    def secs(a):
        return pa.array([None if v is None else int(v) * 1_000_000 for v in a], ts)

    def cents(a):
        return pa.array(np.asarray(a, dtype=np.int64) / 100.0, pa.float64())

    total_c = cols["total_c"]
    arrays = {
        "VendorID": pa.array(list(cols["VendorID"]), pa.int64()),
        "tpep_pickup_datetime": secs(cols["tpep_pickup_datetime"]),
        "tpep_dropoff_datetime": secs(cols["tpep_dropoff_datetime"]),
        "passenger_count": pa.array(list(cols["passenger_count"]), pa.int64()),
        "trip_distance": cents(cols["dist_c"]),
        "RatecodeID": pa.array(list(cols["RatecodeID"]), pa.int64()),
        "store_and_fwd_flag": pa.array(list(cols["store_and_fwd_flag"]), pa.string()),
        "PULocationID": pa.array(list(cols["PULocationID"]), pa.int64()),
        "DOLocationID": pa.array(list(cols["DOLocationID"]), pa.int64()),
        "payment_type": pa.array(list(cols["payment_type"]), pa.int64()),
        "fare_amount": cents(cols["fare_c"]),
        "extra": cents(cols["extra_c"]),
        "mta_tax": cents(cols["mta_c"]),
        "tip_amount": cents(cols["tip_c"]),
        "tolls_amount": cents(cols["tolls_c"]),
        "improvement_surcharge": cents(cols["surcharge_c"]),
        "total_amount": cents(total_c),
        "congestion_surcharge": cents(cols["cong_c"]),
        "Airport_fee": cents(cols["airport_c"]),
    }
    if ingestion is not None:
        arrays["ingestion_ts"] = pa.array(ingestion.astype(np.int64) * 1_000_000, ts)
    return pa.table(arrays)


def _take(cols: dict[str, np.ndarray], idx: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[idx].copy() for k, v in cols.items()}


def _concat(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _boundary_rows(rng: np.random.Generator) -> tuple[dict[str, np.ndarray], dict[str, int]]:
    """One row on each side of every threshold the pipeline applies.

    Returns the rows and how many of them fall in each drop class."""
    # (pickup second, duration s, distance cents, fare cents, class)
    spec = [
        (JAN1, 600, 150, 900, "keep"),                 # first second of January
        (JAN1 - 1, 600, 150, 900, "out_of_range"),     # last second of 2023
        (FEB1 - 1, 600, 150, 900, "keep"),             # last second of January
        (FEB1, 600, 150, 900, "out_of_range"),         # first second of February
        (JAN1 + 101, 600, 0, 900, "keep"),             # zero distance survives
        (JAN1 + 103, 600, -1, 900, "negative"),        # -0.01 mi dropped
        (JAN1 + 107, 600, 150, 0, "keep"),             # zero fare survives
        (JAN1 + 109, 600, 150, -1, "negative"),        # -0.01 fare dropped
        (JAN1 + 113, 59, 10, 400, "duration"),         # 0 whole minutes
        (JAN1 + 127, 60, 10, 400, "keep"),             # exactly 1 minute
        (JAN1 + 131, 43259, 900, 9000, "keep"),        # 720 whole minutes
        (JAN1 + 137, 43260, 900, 9000, "duration"),    # 721 whole minutes
        (JAN1 + 139, 1800, 4975, 9000, "keep"),        # 99.5 mph
        (JAN1 + 149, 1800, 5025, 9000, "speed"),       # 100.5 mph
    ]
    pickup = np.array([s[0] for s in spec], dtype=np.int64)
    cols = _clean_trips(rng, pickup)
    cols["tpep_dropoff_datetime"] = (pickup + np.array([s[1] for s in spec])).astype(object)
    cols["dist_c"] = np.array([s[2] for s in spec], dtype=np.int64)
    cols["fare_c"] = np.array([s[3] for s in spec], dtype=np.int64)
    cols["tip_c"] = np.zeros(len(spec), dtype=np.int64)
    classes: dict[str, int] = {}
    for s in spec:
        if s[4] != "keep":
            classes[s[4]] = classes.get(s[4], 0) + 1
    return cols, classes


def taxi_trips(seed: int, n_rows: int) -> tuple[pa.Table, dict]:
    """About ``n_rows`` raw trips carrying every F1 dirty class.

    Classes: 1 NULL pickup or dropoff; 2 negative distance or fare;
    3 pickup outside January; 4 duration under 1 or over 720 minutes;
    5 speed of 100 mph or more; 6 natural-key duplicates whose copies
    differ in ingestion_ts and in non-key attributes (latest wins);
    7 unknown location ids (998/999), which survive with NULL zones."""
    rng = _rng(seed, 1)
    per_mille = max(1, n_rows // 1000)
    plan = {
        "null_ts": per_mille,
        "negative": per_mille,
        "out_of_range": max(1, n_rows // 5000),
        "duration": per_mille,
        "speed": per_mille,
        "unknown_location": 5 * per_mille,
    }
    n_dup = n_rows // 100
    n_base = n_rows - n_dup
    # distinct pickup seconds => distinct natural keys (clean pickups
    # sit strictly inside January, away from the boundary seconds)
    span = np.arange(JAN1 + 600, FEB1 - 7200, dtype=np.int64)
    pickup = rng.choice(span, n_base, replace=False)
    cols = _clean_trips(rng, pickup)
    order = rng.permutation(n_base)
    cursor = 0

    def grab(k: int) -> np.ndarray:
        nonlocal cursor
        idx = order[cursor : cursor + k]
        cursor += k
        return idx

    idx = grab(plan["null_ts"])
    half = len(idx) // 2
    cols["tpep_pickup_datetime"][idx[:half]] = None
    cols["tpep_dropoff_datetime"][idx[half:]] = None
    idx = grab(plan["negative"])
    half = len(idx) // 2
    cols["dist_c"][idx[:half]] = -rng.integers(1, 500, half)
    cols["fare_c"][idx[half:]] = -rng.integers(1, 2000, len(idx) - half)
    idx = grab(plan["out_of_range"])
    shift = np.where(np.arange(len(idx)) % 2 == 0, -40 * 86400, 35 * 86400)
    cols["tpep_pickup_datetime"][idx] = (cols["tpep_pickup_datetime"][idx].astype(np.int64) + shift).astype(object)
    cols["tpep_dropoff_datetime"][idx] = (cols["tpep_dropoff_datetime"][idx].astype(np.int64) + shift).astype(object)
    idx = grab(plan["duration"])
    half = len(idx) // 2
    pk = cols["tpep_pickup_datetime"][idx].astype(np.int64)
    short = pk[:half] + rng.integers(5, 59, half)
    long_ = pk[half:] + rng.integers(45000, 55000, len(idx) - half)
    cols["tpep_dropoff_datetime"][idx] = np.concatenate([short, long_]).astype(object)
    cols["dist_c"][idx] = rng.integers(10, 300, len(idx))
    idx = grab(plan["speed"])
    dur = cols["tpep_dropoff_datetime"][idx].astype(np.int64) - cols["tpep_pickup_datetime"][idx].astype(np.int64)
    cols["dist_c"][idx] = np.ceil(rng.uniform(110.0, 180.0, len(idx)) * dur / 3600.0 * 100).astype(np.int64)
    idx = grab(plan["unknown_location"])
    cols["PULocationID"][idx] = rng.choice([998, 999], len(idx)).astype(object)
    cols["DOLocationID"][idx[: len(idx) // 2]] = 999
    clean_idx = order[cursor:]

    bnd, bnd_classes = _boundary_rows(rng)
    # class 6: copies of clean rows, same natural key, other attributes
    src = rng.choice(clean_idx, n_dup, replace=False)
    dup = _take(cols, src)
    dup["passenger_count"] = rng.integers(0, 7, n_dup).astype(object)
    dup["store_and_fwd_flag"] = rng.choice(np.array(["Y", "N"], dtype=object), n_dup)
    allc = _concat([cols, bnd, dup])
    allc["total_c"] = _total_c(allc)
    n_all = len(allc["fare_c"])
    ingestion = INGEST0 + rng.permutation(n_all).astype(np.int64)
    perm = rng.permutation(n_all)
    allc = {k: v[perm] for k, v in allc.items()}
    table = _to_table(allc, ingestion[perm])

    classes = {k: v for k, v in plan.items()}
    for k, v in bnd_classes.items():
        classes[k] = classes.get(k, 0) + v
    truth = {
        "rows": n_all,
        "classes": classes,
        "duplicates": n_dup,
        "quality_rejects": classes["null_ts"] + classes["negative"] + classes["out_of_range"],
        "intermediate_drops": classes["duration"] + classes["speed"],
    }
    truth["silver_rows"] = n_all - truth["quality_rejects"] - n_dup
    truth["fct_rows"] = truth["silver_rows"] - truth["intermediate_drops"]
    return table, truth


def write_bronze(table: pa.Table, out_dir: str, n_files: int = 8) -> None:
    """Bronze parquet as ``n_files`` files, so the scan has parallel splits."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# stream_ingest: Kafka-wire JSON landing files
# ---------------------------------------------------------------------------

# Producer retries and malformed lines use inputs that do not depend on
# the seed, so the number of silver rows the engine's per-micro-batch
# dedup lets through is identical in every run.
RETRY_SEED = 20240101


def _iso(sec: int | None) -> str | None:
    if sec is None:
        return None
    return np.datetime64(int(sec), "s").astype(str)


def _json_lines(cols: dict[str, np.ndarray]) -> list[str]:
    n = len(cols["fare_c"])
    money = {
        "fare_amount": cols["fare_c"], "extra": cols["extra_c"], "mta_tax": cols["mta_c"],
        "tip_amount": cols["tip_c"], "tolls_amount": cols["tolls_c"],
        "improvement_surcharge": cols["surcharge_c"], "total_amount": cols["total_c"],
        "congestion_surcharge": cols["cong_c"], "Airport_fee": cols["airport_c"],
    }
    out = []
    for i in range(n):
        rec = {
            "VendorID": cols["VendorID"][i],
            "tpep_pickup_datetime": _iso(cols["tpep_pickup_datetime"][i]),
            "tpep_dropoff_datetime": _iso(cols["tpep_dropoff_datetime"][i]),
            "passenger_count": cols["passenger_count"][i],
            "trip_distance": int(cols["dist_c"][i]) / 100.0,
            "RatecodeID": cols["RatecodeID"][i],
            "store_and_fwd_flag": cols["store_and_fwd_flag"][i],
            "PULocationID": cols["PULocationID"][i],
            "DOLocationID": cols["DOLocationID"][i],
            "payment_type": cols["payment_type"][i],
        }
        for k, v in money.items():
            rec[k] = int(v[i]) / 100.0
        out.append(json.dumps({k: (int(v) if isinstance(v, np.integer) else v) for k, v in rec.items() if v is not None}))
    return out


def _stream_events(rng: np.random.Generator, pickup: np.ndarray, dirty: bool) -> dict[str, np.ndarray]:
    cols = _clean_trips(rng, pickup)
    n = len(pickup)
    if dirty:
        # silver-level rejects ride along: NULL dropoff, negative fare,
        # pickup in February (each ~0.1%)
        k = max(1, n // 1000)
        idx = rng.choice(n, 3 * k, replace=False)
        cols["tpep_dropoff_datetime"][idx[:k]] = None
        cols["fare_c"][idx[k : 2 * k]] = -rng.integers(1, 2000, k)
        cols["tpep_pickup_datetime"][idx[2 * k :]] = (
            cols["tpep_pickup_datetime"][idx[2 * k :]].astype(np.int64) + 40 * 86400
        ).astype(object)
        cols["tpep_dropoff_datetime"][idx[2 * k :]] = (
            cols["tpep_pickup_datetime"][idx[2 * k :]].astype(np.int64) + 900
        ).astype(object)
    cols["total_c"] = _total_c(cols)
    return cols


def _silver_keys(cols: dict[str, np.ndarray]) -> list[tuple]:
    """Natural keys of the events the silver quality filter keeps."""
    keys = []
    for i in range(len(cols["fare_c"])):
        pk, dk = cols["tpep_pickup_datetime"][i], cols["tpep_dropoff_datetime"][i]
        if pk is None or dk is None or cols["dist_c"][i] < 0 or cols["fare_c"][i] < 0:
            continue
        if not (JAN1 <= pk < FEB1):
            continue
        keys.append((cols["VendorID"][i], int(pk), int(dk), cols["PULocationID"][i],
                     cols["DOLocationID"][i], int(cols["fare_c"][i]), int(cols["total_c"][i])))
    return keys


def stream_landing(seed: int, n_events: int, n_files: int, out_dir: str) -> dict:
    """Land ``n_events`` JSON lines over ``n_files`` files, in pickup-time
    order with bounded jitter; file mtimes increase so a
    ``maxFilesPerTrigger=1`` stream reads them in order.

    Of the lines, 0.2% are malformed and 1% are producer retries (exact
    copies of an earlier line): a fifth land in the same file as the
    original, the rest in a later file."""
    n_bad = n_events // 500
    n_retry = n_events // 100
    n_retry_same = n_retry // 5
    n_retry_later = n_retry - n_retry_same
    n_fixed = n_retry  # one retried original per retry
    n_seeded = n_events - n_bad - n_retry - n_fixed
    per_file = n_events // n_files
    if per_file * n_files != n_events:
        raise ValueError("n_events must be a multiple of n_files")

    rng = _rng(seed, 2)
    fixed_rng = np.random.default_rng(RETRY_SEED)
    # disjoint pickup seconds: seeded events on even seconds, the
    # seed-independent retried originals on odd seconds
    half_span = (FEB1 - JAN1 - 7200) // 2
    seeded_pk = JAN1 + 2 * np.sort(rng.choice(half_span, n_seeded, replace=False))
    fixed_pk = JAN1 + 1 + 2 * np.sort(fixed_rng.choice(half_span, n_fixed, replace=False))
    seeded = _stream_events(rng, seeded_pk, dirty=True)
    fixed = _stream_events(fixed_rng, fixed_pk, dirty=False)
    seeded_lines = _json_lines(seeded)
    fixed_lines = _json_lines(fixed)

    # lay the seeded events out in pickup order with a bounded jitter
    jitter = rng.uniform(-100.0, 100.0, n_seeded)
    seeded_lines = [seeded_lines[i] for i in np.argsort(np.arange(n_seeded) + jitter, kind="stable")]

    # file layout: each file gets its share of seeded lines; the fixed
    # originals sit in files 0..n_files-2 at positions independent of
    # the seed, same-file retries right after them, later-file retries
    # in the next file
    files: list[list[str]] = [[] for _ in range(n_files)]
    fixed_file = np.arange(n_fixed) * (n_files - 1) // n_fixed
    for j in range(n_fixed):
        f = int(fixed_file[j])
        files[f].append(fixed_lines[j])
        if j < n_retry_same:
            files[f].append(fixed_lines[j])
        else:
            files[f + 1].append(fixed_lines[j])
    bad = []
    for j in range(n_bad):
        line = fixed_lines[j % n_fixed]
        # cut before the first timestamp value completes
        bad.append(line[: 10 + (j * 7) % 20] if j % 2 == 0 else f"corrupt-event-{j}")
    for j, line in enumerate(bad):
        files[j % n_files].append(line)
    n_special_lines = [len(lines) for lines in files]
    cursor = 0
    for f in range(n_files):
        room = per_file - len(files[f])
        files[f] = files[f] + seeded_lines[cursor : cursor + room]
        cursor += room
    if cursor != n_seeded:
        raise AssertionError("landing layout does not account for every event")

    os.makedirs(out_dir, exist_ok=True)
    base_mtime = 1_700_000_000
    for f, lines in enumerate(files):
        # seeded lines keep their order; the special lines go to spots
        # that do not depend on the seed
        pos = np.concatenate([
            np.random.default_rng(RETRY_SEED + f).uniform(0, per_file, n_special_lines[f]),
            np.arange(len(lines) - n_special_lines[f]) + 0.5,
        ])
        path = os.path.join(out_dir, f"events-{f:03d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines[i] for i in np.argsort(pos, kind="stable")))
            fh.write("\n")
        os.utime(path, (base_mtime + 10 * f, base_mtime + 10 * f))

    keys = _silver_keys(seeded) + _silver_keys(fixed)
    return {
        "lines": n_events,
        "malformed": n_bad,
        "retries_same_file": n_retry_same,
        "retries_later_file": n_retry_later,
        "silver_keys": keys,
    }


# ---------------------------------------------------------------------------
# query_suite: a TPC-H-ish corpus shaped like the engine's reference corpus
# ---------------------------------------------------------------------------

VOCAB = (
    "the a data spark stream batch query table join group sort hash scan filter "
    "window order line part key value row column agg merge fast slow big small "
    "customer vector"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def query_corpus(seed: int, out_dir: str, n_orders: int, n_docs: int, n_vecs: int) -> dict:
    """Write region/nation/customer/orders/events/documents/embeddings
    parquet files (one file per table) and return their row counts."""
    rng = _rng(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    n_cust = max(1, n_orders // 10)
    n_events = n_orders * 2 // 3

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99999, 999999, n_cust) / 100.0, pa.float64()),
        "c_mktsegment": pa.array(rng.choice(np.array(SEGMENTS, dtype=object), n_cust), pa.string()),
    }))
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    odate = (day0 + rng.integers(0, 2405, n_orders)) * 86400 * 1_000_000
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"], dtype=object), n_orders), pa.string()),
        "o_totalprice": pa.array(rng.integers(100191, 49999318, n_orders) / 100.0, pa.float64()),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pa.array(rng.choice(np.array(PRIORITIES, dtype=object), n_orders), pa.string()),
    }))
    ev_us = JAN1 * 1_000_000 + np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    write("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_us, ts),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(np.array(EVENT_TYPES, dtype=object), n_events), pa.string()),
        "value": pa.array(rng.integers(0, 56022, n_events) / 100.0, pa.float64()),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }))

    # documents: random word sequences; ~3% exact copies and ~3% copies
    # with one appended token, so the dedup ladder has real near-dups
    texts: list[str] = []
    vocab = np.array(VOCAB, dtype=object)
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(np.array(LANGS, dtype=object), n_docs, p=[0.5, 0.125, 0.125, 0.125, 0.125]), pa.string()),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: 64-d unit vectors around 10 centroids
    centroids = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = 0.55 * centroids[label] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }))
    return {"orders": n_orders, "customer": n_cust, "events": n_events, "documents": n_docs, "embeddings": n_vecs}
