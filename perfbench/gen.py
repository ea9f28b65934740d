"""Seeded input generators for the benchmark.

Everything the program reads in a run comes from here (or, for the stub
NOAA upstreams of ingest-hourly, from the seeded generator inside the
harness). The same seed gives byte-identical inputs.

- `tables(dir, seed, sf)`: the ten parquet tables the query surface reads
  (region … lineitem, events, documents, embeddings), with the shapes of
  the engine's reference test data: TPC-H-like keys and value ranges, a
  30-day event stream, word-bag documents of which one in twenty is a
  near-duplicate of an earlier one, and unit-norm 64-d embeddings drawn
  around ten labelled centres.
- `weather(dir, seed)`: the api-read store's raw records (hourly forecast
  and observation snapshots for a fixed station set, several days long)
  plus the events and entries, as parquet and JSON. The benchmark's
  answer checks recompute every route's expected answer from these files.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 9 + ["de", "es", "fr", "zh"] * 3


def _write(path, cols, schema=None):
    pq.write_table(pa.table(cols, schema=schema), path)


def _day(days):
    base = np.datetime64("1995-01-01")
    return (base + days.astype("timedelta64[D]")).astype("datetime64[us]")


QUERY_TABLES_SEED = 42  # query-surface tables are fixed, so DuckDB digests can be stored


def tables(out, seed, sf=0.01):
    """The query surface's input tables at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc = int(1000000 * sf), int(50000 * sf)

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _day(rng.integers(0, 2400, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    # lineitem: 1-7 lines per order until n_line rows, dense line numbers
    per = rng.integers(1, 8, n_ord)
    per = per[: int(np.searchsorted(np.cumsum(per), n_line)) + 1]
    okeys = np.repeat(np.arange(len(per), dtype=np.int64), per)[:n_line]
    starts = np.cumsum(per) - per
    lnum = (np.arange(len(okeys)) - np.repeat(starts, per)[:n_line] + 1)
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": okeys, "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _day(rng.integers(1, 2500, n))})
    # events: sorted timestamps over 30 days of 2024-01
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(0.01, 500, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    # documents: word bags; every 20th is an earlier document plus "dup"
    texts = []
    for i in range(n_doc):
        if i % 20 == 8 and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_doc)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# --------------------------------------------------------------- api-read

STATIONS = 40          # stations in the store
DAYS = 2               # closed days of hourly snapshots before "today"
TODAY_HOURS = 3        # hourly snapshots already landed today
EVENTS = 3             # events, each over 4 stations of one closed day
ENTRIES = 2            # entries per event
T0 = dt.datetime(2024, 8, 10, tzinfo=dt.timezone.utc)   # first day


def clock():
    """The logical 'now' the api-read store is served at."""
    return T0 + dt.timedelta(days=DAYS, hours=TODAY_HOURS - 1, minutes=30)


def station_ids():
    return [f"K{chr(65 + i // 26 % 26)}{chr(65 + i % 26)}B" for i in range(STATIONS)]


def weather(out, seed):
    """Raw hourly snapshots plus events for the api-read store."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    ids = station_ids()
    lat = np.round(30 + rng.random(STATIONS) * 15, 2)
    lon = np.round(-120 + rng.random(STATIONS) * 40, 2)
    base_t = rng.integers(40, 80, STATIONS)
    n_h = DAYS * 24 + TODAY_HOURS
    hour_us = np.arange(n_h, dtype=np.int64) * 3600 * 10**6
    t0_us = int(T0.timestamp()) * 10**6
    # observations: one reading per station per hour
    snap = np.repeat(t0_us + hour_us, STATIONS)
    st = np.tile(np.arange(STATIONS), n_h)
    n = len(snap)
    o = {"station_id": [ids[i] for i in st], "station_name": [f"Site {ids[i]}" for i in st],
         "latitude": lat[st], "longitude": lon[st],
         "generated_at": snap - rng.integers(0, 50, n) * 60 * 10**6,
         "temperature_value": np.round(rng.normal(20, 6, n), 1),
         "temperature_unit_code": ["celcius"] * n,
         "wind_direction": rng.integers(0, 360, n),
         "wind_direction_unit_code": ["degrees true"] * n,
         "wind_speed": rng.integers(0, 30, n),
         "wind_speed_unit_code": ["knots"] * n,
         "dewpoint_value": np.round(rng.normal(10, 4, n), 1),
         "dewpoint_unit_code": ["celcius"] * n,
         "snapshot_ts": snap}
    # forecasts: per (hour, station) 57 three-hour slots over the next week
    fsnap = np.repeat(snap, 57)
    fst = np.repeat(st, 57)
    begin = fsnap + np.tile(np.arange(57, dtype=np.int64) * 3 * 3600 * 10**6, n)
    m = len(fsnap)
    hi = base_t[fst] + rng.integers(0, 15, m)
    f = {"station_id": [ids[i] for i in fst], "station_name": [f"Site {ids[i]}" for i in fst],
         "latitude": lat[fst], "longitude": lon[fst], "generated_at": fsnap,
         "begin_time": begin, "end_time": begin + 3 * 3600 * 10**6,
         "max_temp": hi, "min_temp": hi - rng.integers(5, 25, m),
         "wind_speed": rng.integers(0, 25, m), "snapshot_ts": fsnap}
    for kind, cols, schema in (("forecasts", f, FORECAST_SCHEMA),
                               ("observations", o, OBS_SCHEMA)):
        t = pa.table(cols, schema=schema)
        pq.write_table(t, f"{out}/{kind}.parquet")
        _store(f"{out}/store/kind={kind}", t, seed)

    now = clock()
    events = []
    for e in range(EVENTS):
        day = T0 + dt.timedelta(days=e % DAYS)
        locs = sorted(rng.choice(ids, 4, replace=False).tolist())
        # two of the three have a signing date that has passed
        signing = day + dt.timedelta(days=1, hours=1) if e < 2 else now + dt.timedelta(days=2)
        entries = []
        for n in range(ENTRIES):
            entries.append({
                "id": _uuid7(rng, day, 100 + e * 10 + n),
                "choices": [{"stations": st,
                             "temp_low": ["over", "par", "under"][int(rng.integers(0, 3))],
                             "temp_high": ["over", "par", "under"][int(rng.integers(0, 3))],
                             "wind_speed": None} for st in locs[:2]]})
        events.append({"id": _uuid7(rng, day, e), "observation_date": _iso(day),
                       "signing_date": _iso(signing), "locations": locs,
                       "entries": entries})
    with open(f"{out}/events.json", "w") as fh:
        json.dump({"now": _iso(now), "events": events}, fh, indent=1)


def _store(root, t, seed):
    """The store's layout as the service leaves it: each closed day one
    maintained file clustered by (station_id, snapshot_ts), today's hours
    one file per hourly snapshot."""
    days = pa.compute.strftime(t["snapshot_ts"], "%Y-%m-%d")
    today = (T0 + dt.timedelta(days=DAYS)).strftime("%Y-%m-%d")
    for day in sorted(set(days.to_pylist())):
        part = t.filter(pa.compute.equal(days, day))
        os.makedirs(f"{root}/date={day}")
        if day != today:
            part = part.sort_by([("station_id", "ascending"), ("snapshot_ts", "ascending")])
            pq.write_table(part, f"{root}/date={day}/compact-{seed:08x}-part0.parquet")
        else:
            for h, snap in enumerate(sorted(set(part["snapshot_ts"].to_pylist()))):
                one = part.filter(pa.compute.equal(part["snapshot_ts"], pa.scalar(snap, _TS)))
                pq.write_table(one, f"{root}/date={day}/part-{h:05d}-{seed:08x}.c000.snappy.parquet")


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _uuid7(rng, t, n):
    """A valid UUIDv7 string from a timestamp and seeded random bits."""
    ms = int(t.timestamp() * 1000) + n
    rand = int(rng.integers(0, 2**62, dtype=np.int64))
    h = f"{ms:012x}7{int(rng.integers(0, 4096)):03x}{(8 | (rand >> 60) & 3):x}{rand & (2**60 - 1):015x}"
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


_TS = pa.timestamp("us", tz="UTC")
FORECAST_SCHEMA = pa.schema([
    ("station_id", pa.string()), ("station_name", pa.string()),
    ("latitude", pa.float64()), ("longitude", pa.float64()),
    ("generated_at", _TS), ("begin_time", _TS), ("end_time", _TS),
    ("max_temp", pa.int64()), ("min_temp", pa.int64()), ("wind_speed", pa.int64()),
    ("snapshot_ts", _TS)])
OBS_SCHEMA = pa.schema([
    ("station_id", pa.string()), ("station_name", pa.string()),
    ("latitude", pa.float64()), ("longitude", pa.float64()), ("generated_at", _TS),
    ("temperature_value", pa.float64()), ("temperature_unit_code", pa.string()),
    ("wind_direction", pa.int64()), ("wind_direction_unit_code", pa.string()),
    ("wind_speed", pa.int64()), ("wind_speed_unit_code", pa.string()),
    ("dewpoint_value", pa.float64()), ("dewpoint_unit_code", pa.string()),
    ("snapshot_ts", _TS)])
