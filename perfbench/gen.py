"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed, writes its inputs under a fresh
directory, re-reads what it wrote and raises if the counts differ from
its plan. The same seed always gives the same bytes; the size of the
work (files, rows, malformed lines, table row counts) does not depend on
the seed, only the values do.
"""
import gzip
import json
import os
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WITA = timedelta(hours=8)

# ---------------------------------------------------------------- telemetry
# The reference's rows carry about 179 fields: the 11 the pipeline and
# dashboard read, plus device counters and flags. Filler fields keep one
# JSON type each in every row, so schema inference sees no drift.
CORE = ["heartbeat", "unitno", "deviceid", "gpsspeed", "VehicleSpeed",
        "gpsnumsat", "gpslat", "gpslong", "speedsource", "camcabinstatus",
        "camfrontstatus"]
N_DOUBLE, N_INT, N_STR = 120, 30, 18
FILLER = ([f"sns_{i:03d}" for i in range(N_DOUBLE)]
          + [f"cnt_{i:03d}" for i in range(N_INT)]
          + [f"flg_{i:03d}" for i in range(N_STR)])
SENTINEL = -9999.0


def epoch_mixed(us: np.ndarray, prec: np.ndarray) -> np.ndarray:
    """Microsecond epochs re-encoded as s / ms / µs / ns per row
    (prec 0..3), the reference's mixed firmware precisions."""
    out = np.empty_like(us)
    out[prec == 0] = us[prec == 0] // 1_000_000
    out[prec == 1] = us[prec == 1] // 1_000
    out[prec == 2] = us[prec == 2]
    out[prec == 3] = us[prec == 3] * 1_000
    return out


def telemetry_columns(rng, us: np.ndarray, unit: str):
    """The core columns for one device's rows at epoch-µs `us`.
    Speeds carry two decimals so decimal(18,6) sums are exact."""
    n = len(us)
    prec = rng.integers(0, 4, n)
    # Whole seconds for the s-precision rows, whole ms for ms rows:
    # re-encoding must not move a row across a minute boundary.
    us = (us // 1_000_000) * 1_000_000
    gps = np.round(rng.uniform(0, 60, n), 2)
    veh = np.round(gps + rng.uniform(-3, 3, n), 2)
    gps[rng.random(n) < 0.03] = SENTINEL
    veh[rng.random(n) < 0.03] = SENTINEL
    sat = rng.integers(3, 14, n).astype(float)
    sat[rng.random(n) < 0.02] = SENTINEL
    lat = np.round(rng.uniform(-2.5, -1.5, n), 5)
    lat[rng.random(n) < 0.04] = -8888.0
    lon = np.round(rng.uniform(115.0, 116.0, n), 5)
    cols = {
        "heartbeat": epoch_mixed(us, prec),
        "unitno": np.full(n, unit, dtype=object),
        "deviceid": np.full(n, "DEV-" + unit, dtype=object),
        "gpsspeed": gps, "VehicleSpeed": veh, "gpsnumsat": sat,
        "gpslat": lat, "gpslong": lon,
        "speedsource": rng.choice(np.array(["GPS", "CAN", "FUSED"], dtype=object), n),
        "camcabinstatus": rng.choice(np.array(["OK", "OK", "OK", "ERR"], dtype=object), n),
        "camfrontstatus": rng.choice(np.array(["OK", "OK", "OFF", "ERR"], dtype=object), n),
    }
    return cols


def filler_columns(rng, n: int) -> dict:
    cols = {}
    base_d = np.round(rng.uniform(0, 1000, N_DOUBLE), 2)
    for i in range(N_DOUBLE):
        cols[f"sns_{i:03d}"] = np.round(base_d[i] + rng.integers(0, 50, n) * 0.25, 2)
    for i in range(N_INT):
        cols[f"cnt_{i:03d}"] = rng.integers(0, 100000, n)
    for i in range(N_STR):
        cols[f"flg_{i:03d}"] = rng.choice(np.array(["A", "B", "C", "NONE"], dtype=object), n)
    return cols


def _fmt(v) -> str:
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, float):
        return repr(v)
    return str(int(v))


def wita_hour_start_us(day: datetime, hour: int) -> int:
    """UTC epoch-µs of `hour`:00 WITA on WITA date `day`."""
    t = day.replace(tzinfo=timezone.utc) + timedelta(hours=hour) - WITA
    return int(t.timestamp()) * 1_000_000


# ---------------------------------------------------------------- ingest
TRUTH = ["heartbeat", "unitno", "gpsspeed", "VehicleSpeed", "gpsnumsat", "gpslat",
         "speedsource", "camcabinstatus", "camfrontstatus"]


def _write_gz(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(gzip.compress(text.encode(), compresslevel=1, mtime=0))


def _count_lines(path: str) -> int:
    with gzip.open(path, "rb") as f:
        return f.read().count(b"\n")


def gen_bronze(out: str, seed: int, devices: int, rows: int, malformed_every: int,
               hours: list) -> list:
    """Device-hour `.txt.gz` NDJSON files, `devices` per (phase,
    district, WITA day, hour) in `hours`. Every `malformed_every`-th line
    of a file is a truncated record. The valid rows of each district
    also go to `truth_<district>.parquet`, which the dashboard checks
    read. Returns the plan: one dict per file."""
    rng = np.random.default_rng([seed, 1])
    plan = []
    truth = {}
    period_us = 3600 * 1_000_000 // rows
    # filler fields: each row takes one of a fixed set of seeded variants
    variants = {f: c.tolist() for f, c in filler_columns(rng, 64).items()}
    fill = [", " + ", ".join(json.dumps(f) + ": " + _fmt(variants[f][v]) for f in FILLER)
            for v in range(64)]
    line_fmt = ('{"heartbeat": %d, "unitno": "%s", "deviceid": "%s", "gpsspeed": %r, '
                '"VehicleSpeed": %r, "gpsnumsat": %r, "gpslat": %r, "gpslong": %r, '
                '"speedsource": "%s", "camcabinstatus": "%s", "camfrontstatus": "%s"%s}')
    valid = (np.arange(rows) + 1) % malformed_every != 0
    # zlib releases the GIL: files compress on three threads while the
    # next file's lines are formatted; at most six files wait in memory
    pool = ThreadPoolExecutor(max_workers=3)
    writes = []
    for phase, district, day, hour in hours:
        t0 = wita_hour_start_us(day, hour)
        stamp = (day + timedelta(hours=hour)).strftime("%Y%m%d%H")
        for d in range(devices):
            unit = f"LD{100 + d}"
            us = t0 + np.arange(rows, dtype=np.int64) * period_us \
                + rng.integers(0, period_us // 2, rows)
            cols = telemetry_columns(rng, us, unit)
            core = zip(*[cols[f].tolist() for f in CORE], rng.integers(0, 64, rows).tolist())
            lines = [line_fmt % (row[:-1] + (fill[row[-1]],)) for row in core]
            for r in np.flatnonzero(~valid):
                lines[r] = lines[r][: len(lines[r]) // 3]  # upload cut mid-record
            rel = f"{district}/DEV-{unit}/{stamp}/{stamp}.txt.gz"
            writes.append(pool.submit(_write_gz, os.path.join(out, rel), "\n".join(lines) + "\n"))
            if len(writes) > 6:
                writes.pop(0).result()
            plan.append({"phase": phase, "district": district, "day": day.strftime("%Y-%m-%d"),
                         "hour": hour, "rel": rel, "valid": int(valid.sum()),
                         "malformed": int((~valid).sum())})
            truth.setdefault(district, []).append({f: cols[f][valid] for f in TRUTH})
    for w in writes:
        w.result()
    # self-check: re-read every file's line count
    counts = pool.map(_count_lines, [os.path.join(out, p["rel"]) for p in plan])
    pool.shutdown()
    for p, n in zip(plan, counts):
        if n != p["valid"] + p["malformed"]:
            raise RuntimeError(f"bronze {p['rel']}: {n} lines, planned {p['valid'] + p['malformed']}")
    for district, parts in truth.items():
        table = pa.table({f: np.concatenate([p[f] for p in parts]) for f in TRUTH})
        path = os.path.join(out, f"truth_{district}.parquet")
        pq.write_table(table, path)
        planned = sum(p["valid"] for p in plan if p["district"] == district)
        if pq.read_metadata(path).num_rows != planned:
            raise RuntimeError(f"truth {district}: row count mismatch")
    return plan


def slice_request(rng, day: datetime, hours: tuple, devices: int, district: str) -> dict:
    """A dashboard request: two of the district's units over an hour range."""
    units = sorted(rng.choice(devices, 2, replace=False).tolist())
    return {"day": day.strftime("%Y-%m-%d"), "district": district,
            "units": [f"LD{100 + u}" for u in units], "h0": hours[0], "h1": hours[1]}


# ---------------------------------------------------------------- queries
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def gen_tables(out: str, seed: int, lineitem: int, docs: int) -> dict:
    """The declared queries' tables (region … embeddings), with the
    column types and value shapes of the TPC-H-like test tables."""
    rng = np.random.default_rng([seed, 4])
    n_orders = lineitem // 4
    n_cust, n_part, n_supp, n_events = max(n_orders // 10, 50), max(lineitem // 30, 100), 50, lineitem // 6
    day0 = np.datetime64("1995-01-01", "us")
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust)})
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, lineitem),
        "l_partkey": rng.integers(0, n_part, lineitem),
        "l_suppkey": rng.integers(0, n_supp, lineitem),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitem).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, lineitem).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, lineitem), 2),
        "l_discount": rng.integers(0, 11, lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], lineitem),
        "l_linestatus": rng.choice(["O", "F"], lineitem),
        "l_shipdate": day0 + (1 + rng.integers(0, 2500, lineitem)).astype("timedelta64[D]")})
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, n_events)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 150, n_events),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_events),
        "value": np.round(np.maximum(rng.exponential(50, n_events), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], docs),
        "source": [f"src{i % 50}" for i in range(docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.15, (docs, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(docs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, docs).astype(np.int32))})
    plan = {}
    for name, table in t.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        if pq.read_metadata(path).num_rows != table.num_rows:
            raise RuntimeError(f"table {name}: row count mismatch")
        plan[name] = table.num_rows
    return plan
