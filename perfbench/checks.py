"""Answer checks made apart from the program.

- query-surface: each query's first answer (parquet written by the
  harness) against DuckDB running the query's oracle SQL on the same
  generated tables, compared the way `scripts/check_correctness.py` does
  (columns sorted by name, rows sorted, NULL and NaN normalised).
- api-read: each journey's route answers against DuckDB over the
  generator's raw snapshot records, with the route's window and station
  filters, and against the generator's own event records.
- ingest-hourly: the harness checks each tick against the generator's
  counts itself (see IngestHourly.scala); here only its verdicts count.

A wrong answer fails every op that gave it and makes `correct` false.

    python3 perfbench/checks.py refs        (from the checkout's root)

rebuilds `refs.json`: DuckDB's answer digest for each query of the subset,
keyed by the SHA-256 of its oracle SQL text, over the fixed query-surface
tables. A query whose SQL text has no stored digest is run in DuckDB at
check time instead.
"""
import datetime as dt
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

WRONG = os.environ.get("PERFBENCH_WRONG", "")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))
REFS = os.path.join(HERE, "refs.json")


def norm(v):
    """check_correctness.py's value normalisation."""
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def canon(cols, rows):
    cols = [c.lower() for c in cols]
    ix = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted(tuple(norm(r[i]) for i in ix) for r in rows)


# ----------------------------------------------------------- query-surface

def _tables_con(tables):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    return con


def _tables_digest(tables):
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{tables}/{t}.parquet", "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def answer_digest(cols, rows):
    return hashlib.sha256(repr(canon(cols, rows)).encode()).hexdigest()


def sql_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def duck_digest(con, sql):
    rel = con.execute(sql)
    return answer_digest([d[0] for d in rel.description], rel.fetchall())


def check_queries(work):
    """Each answer's digest against DuckDB's for the same oracle SQL: the
    stored digest in refs.json when the SQL text has one, else DuckDB now."""
    tables = os.path.join(work, "inputs")
    answers = os.path.join(work, "answers")
    oracle = json.load(open(os.path.join(answers, "oracle_sql.json")))
    refs = json.load(open(REFS)) if os.path.exists(REFS) else {}
    con = _tables_con(tables)
    wrong = {}
    for name, sql in sorted(oracle.items()):
        try:
            rel = con.execute(f"SELECT * FROM '{answers}/{name}/*.parquet'")
            cols, rows = [d[0] for d in rel.description], rel.fetchall()
            if WRONG == "query" and name == sorted(oracle)[0]:
                rows = rows[1:]                                   # drop one row
            want = refs.get(sql_key(sql)) or duck_digest(con, sql)
            if answer_digest(cols, rows) != want:
                wrong[name] = f"{name}: answer ({len(rows)} rows) differs from DuckDB's"
        except Exception as e:                                   # noqa: BLE001
            wrong[name] = f"{name}: cannot compare: {e}"
    return wrong


def rebuild_refs():
    """Regenerate refs.json: DuckDB's answer digest for each subset query's
    oracle SQL over the fixed query-surface tables."""
    sys.dont_write_bytecode = True
    import gen
    import run
    cp = run.build(os.getcwd())
    work = os.path.join(HERE, ".work", "refs")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "oracle_sql.json")
    subprocess.check_call(["java", "-cp", cp, "perfbench.Harness", "oracle-sql", out])
    gen.tables(work, gen.QUERY_TABLES_SEED)
    con = _tables_con(work)
    refs = {}
    for name, sql in sorted(json.load(open(out)).items()):
        refs[sql_key(sql)] = duck_digest(con, sql)
        print(name, refs[sql_key(sql)][:16])
    with open(REFS, "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)


# ---------------------------------------------------------------- api-read

def _fmt(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def check_api(res, work):
    inputs = os.path.join(work, "inputs")
    spec = json.load(open(os.path.join(inputs, "events.json")))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW fc AS SELECT * FROM '{inputs}/forecasts.parquet'")
    con.execute(f"CREATE VIEW obs AS SELECT * FROM '{inputs}/observations.parquet'")
    events = {e["id"]: e for e in spec["events"]}
    now = spec["now"]
    answers = res["answers"]
    if WRONG.startswith("api."):
        route = WRONG[4:]
        js = answers[f"0/{route}"]
        if route == "query":
            js["rows"][0][1] += 1
        elif route == "events_list":
            js[0]["status"] = "live" if js[0]["status"] != "live" else "signed"
        elif route == "event_get":
            js["entry_ids"] = js["entry_ids"][1:]
        else:
            js[0]["temp_high"] += 1

    def status(e):
        """The event status the API documents: signed once attested, else
        live / running / completed around the observation day."""
        if e["signing_date"] < now:
            return "signed"
        obs = dt.datetime.fromisoformat(e["observation_date"].replace("Z", "+00:00"))
        at = dt.datetime.fromisoformat(now.replace("Z", "+00:00"))
        return ("completed" if at >= obs + dt.timedelta(days=1)
                else "running" if at >= obs else "live")

    wrong = {}
    for j, jn in enumerate(res["journeys"]):
        problems = []
        s, e, st = jn["start"], jn["end"], jn["stations"]
        ids = ", ".join(f"'{x}'" for x in st)
        # GET /oracle/events: every generated event, its status and entry count
        lst = answers[f"{j}/events_list"]
        if sorted(x["id"] for x in lst) != sorted(events):
            problems.append("events_list: ids differ from the generated events")
        for x in lst:
            ev = events.get(x["id"])
            if ev and (x["status"] != status(ev) or x["total_entries"] != len(ev["entries"])
                       or x["locations"] != ev["locations"]):
                problems.append(f"events_list: event {x['id']} status/entries/locations wrong")
        # GET /oracle/events/{id}: entries and their choices
        got = answers[f"{j}/event_get"]
        ev = events[jn["event_id"]]
        if got["entry_ids"] != sorted(x["id"] for x in ev["entries"]):
            problems.append("event_get: entry ids differ from the generated entries")
        want_choices = {x["id"]: sorted((c["stations"], c["temp_low"], c["temp_high"])
                                        for c in x["choices"]) for x in ev["entries"]}
        for en in got.get("entries", []):
            if sorted((c["stations"], c["temp_low"], c["temp_high"])
                      for c in en["expected_observations"]) != want_choices.get(en["id"]):
                problems.append(f"event_get: entry {en['id']} choices differ")
        if got["status"] != status(ev):
            problems.append("event_get: status wrong")
        # observed weather written by the ETL: the day's rollup per station
        for w in got["weather"]:
            o = w["observed"]
            r = con.execute(f"""SELECT min(temperature_value), max(temperature_value),
                max(wind_speed) FROM obs WHERE station_id = '{w['station_id']}'
                AND generated_at BETWEEN TIMESTAMPTZ '{ev['observation_date']}'
                AND TIMESTAMPTZ '{ev['observation_date']}' + INTERVAL 1 DAY
                AND snapshot_ts BETWEEN TIMESTAMPTZ '{ev['observation_date']}'
                AND TIMESTAMPTZ '{ev['observation_date']}' + INTERVAL 1 DAY""").fetchone()
            half_up = lambda v: int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)
            if o is None or (o["temp_low"], o["temp_high"], o["wind_speed"]) != (
                    half_up(r[0]), half_up(r[1]), r[2]):
                problems.append(f"event_get: observed weather for {w['station_id']} wrong")
        # GET /stations/forecasts: two-level daily rollup over the padded scan
        rows = con.execute(f"""
            WITH scan AS (SELECT * FROM fc WHERE station_id IN ({ids})
              AND CAST(snapshot_ts AS DATE) BETWEEN CAST(TIMESTAMPTZ '{s}' AS DATE) - 1
                  AND CAST(TIMESTAMPTZ '{e}' AS DATE)
              AND snapshot_ts BETWEEN CAST(CAST(TIMESTAMPTZ '{s}' AS DATE) - 1 AS TIMESTAMPTZ)
                  AND TIMESTAMPTZ '{e}'
              AND date_trunc('day', begin_time) >= TIMESTAMPTZ '{s}'
              AND date_trunc('day', end_time) <= TIMESTAMPTZ '{e}'),
            slot AS (SELECT station_id, strftime(date_trunc('day', begin_time), '%Y-%m-%d') AS d,
              min(begin_time) AS st, max(end_time) AS et, min(min_temp) AS lo,
              max(max_temp) AS hi, max(wind_speed) AS ws FROM scan GROUP BY station_id, begin_time)
            SELECT station_id, d, min(st), max(et), min(lo), max(hi), max(ws)
            FROM slot GROUP BY station_id, d ORDER BY station_id, d""").fetchall()
        want = [[r[0], r[1], _fmt(r[2]), _fmt(r[3]), r[4], r[5], r[6]] for r in rows]
        got = [[x["station_id"], x["date"], x["start_time"], x["end_time"], x["temp_low"],
                x["temp_high"], x["wind_speed"]] for x in answers[f"{j}/forecasts"]]
        if got != want:
            problems.append(f"forecasts: {len(got)} rows, DuckDB {len(want)}; first difference "
                            f"{next((a, b) for a, b in zip(got + [None] * len(want), want + [None] * len(got)) if a != b)}")
        # GET /stations/observations: per-station summary over the window
        rows = con.execute(f"""
            SELECT station_id, min(generated_at), max(generated_at), min(temperature_value),
              max(temperature_value), max(wind_speed) FROM obs WHERE station_id IN ({ids})
              AND CAST(snapshot_ts AS DATE) BETWEEN CAST(TIMESTAMPTZ '{s}' AS DATE)
                  AND CAST(TIMESTAMPTZ '{e}' AS DATE)
              AND snapshot_ts BETWEEN CAST(CAST(TIMESTAMPTZ '{s}' AS DATE) AS TIMESTAMPTZ)
                  AND TIMESTAMPTZ '{e}'
              AND generated_at BETWEEN TIMESTAMPTZ '{s}' AND TIMESTAMPTZ '{e}'
            GROUP BY station_id ORDER BY station_id""").fetchall()
        want = [[r[0], _fmt(r[1]), _fmt(r[2]), r[3], r[4], r[5]] for r in rows]
        got = [[x["station_id"], x["start_time"], x["end_time"], x["temp_low"], x["temp_high"],
                x["wind_speed"]] for x in answers[f"{j}/observations"]]
        if got != want:
            problems.append(f"observations: {len(got)} rows vs DuckDB {len(want)}")
        # POST /query: the same SQL in DuckDB over the raw observations
        rel = con.execute(jn["sql"].replace("FROM observations", "FROM obs"))
        want = [list(r) for r in rel.fetchall()]
        q = answers[f"{j}/query"]
        if q["columns"] != [d[0] for d in rel.description] or q["rows"] != want:
            problems.append("query: answer differs from DuckDB")
        if problems:
            wrong[f"journey {j}"] = "; ".join(problems)
    return wrong


# ------------------------------------------------------------------ verdict

def check(workload, res, work):
    """-> {"correct", "failed", "problems"}: JVM-reported failures plus
    every op whose answer the independent check rejects."""
    jvm = res["failures"]
    attempted = res["attempted"]
    if workload == "query-surface":
        wrong = check_queries(work)
        keys = res["queries"]
        key_of = lambda f: f.split(":")[0].split(" ")[0]
    elif workload == "api-read":
        wrong = check_api(res, work)
        keys = [f"journey {j}" for j in range(len(res["journeys"]))]
        key_of = lambda f: f.split(":")[0]
    else:
        wrong, keys, key_of = {}, [], lambda f: f
    per_key = attempted // max(1, len(keys)) if keys else 0
    failed = sum(1 for f in jvm if key_of(f) not in wrong) + per_key * len(wrong)
    problems = list(jvm) + list(wrong.values())
    correct = not wrong and not any("wrong answer:" in f for f in jvm)
    return {"correct": correct, "failed": failed, "problems": problems}


if __name__ == "__main__":
    if sys.argv[1:] == ["refs"]:
        rebuild_refs()
    else:
        print(__doc__)
        sys.exit(2)
