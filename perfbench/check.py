"""Output checks, made apart from the program.

Each check returns the number of failed operations of the timed phase. The
program's outputs arrive as JSON lines the benchmark's JVM side dumped
outside the timed phase; the expected values come from the generator's
record model (gen.py) or from DuckDB.
"""
import csv
import datetime as dt
import json
import math
import re
from decimal import Decimal

TS = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def ts(s):
    """Spark's JSON timestamp renderings (UTC) to epoch seconds."""
    t = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return (t if t.tzinfo else t.replace(tzinfo=dt.timezone.utc)).timestamp()


def cents(x):
    return int(round(x * 100))


def trip_key(r):
    """A stored trips row, in the model's terms (created_at left out:
    it is the wall clock of the write)."""
    return (r["trip_id"], r.get("vendor_id"), ts(r["pickup_datetime"]),
            ts(r["dropoff_datetime"]), r.get("passenger_count"),
            r.get("trip_distance"), r.get("payment_type"),
            cents(r["total_amount"]), r.get("pickup_location_id"),
            Decimal(str(r["pickup_latitude"])),
            Decimal(str(r["pickup_longitude"])))


def model_key(m):
    return (m["trip_id"], m["vendor_id"], float(m["pickup"]),
            float(m["dropoff"]), m["passenger_count"], m["trip_distance"],
            m["payment_type"], m["cents"], m["pickup_location_id"],
            m["pickup_latitude"], m["pickup_longitude"])


def same_rows(stored, model_rows):
    return sorted(map(trip_key, stored)) == sorted(map(model_key, model_rows))


# ---- lakehouse_batch ---------------------------------------------------------

def batch(out, model):
    """Failed operations: one per file whose rows or
    dead letters differ, plus one per later step that differs."""
    failed = 0
    trips = load(f"{out}/batch_trips_appended.jsonl")
    dead = load(f"{out}/batch_dead_letters.jsonl")
    by_tag = {}
    for r in trips:
        by_tag.setdefault(r["trip_id"], []).append(r)
    for i, f in enumerate(model["files"]):
        stored = [x for m in f["valid"] for x in by_tag.get(m["trip_id"], [])]
        tag = f"b{i:03d}-"
        got_dead = sorted((d["error_type"], d["record"]) for d in dead
                          if tag in d["record"])
        ok = same_rows(stored, f["valid"]) and got_dead == sorted(f["dead"]) \
            and all(d["error"] == "Record failed: " + d["error_type"] and
                    d["pipeline_name"] == "perfbench" for d in dead
                    if tag in d["record"])
        failed += not ok
    # every stored row and dead letter belongs to some file
    n_valid = sum(len(f["valid"]) for f in model["files"])
    n_dead = sum(len(f["dead"]) for f in model["files"])
    if len(trips) != n_valid or len(dead) != n_dead:
        failed += 1

    hourly = {(ts(r["window_start"]), r["payment_type"]):
              (r["trip_count"], cents(r["total_revenue"]))
              for r in load(f"{out}/batch_hourly.jsonl")}
    failed += hourly != {(float(k[0]), k[1]): v for k, v in model["hourly"].items()}

    for name, rows in (("after_update", "after_update"),
                       ("after_merge", "after_merge"),
                       ("after_delete", "after_delete")):
        failed += not same_rows(load(f"{out}/batch_{name}.jsonl"),
                                model[rows].values())
    # maintenance keeps the current rows, and a retained version still reads
    final = model["after_delete"].values()
    failed += not (same_rows(load(f"{out}/batch_after_maintenance.jsonl"), final)
                   and same_rows(load(f"{out}/batch_retained.jsonl"), final))
    return failed


def batch_attempted(model):
    # files, the row-count check, hourly stats, update, merge, delete,
    # maintenance
    return len(model["files"]) + 6


# ---- stream_tail -------------------------------------------------------------

def stream(out, model, warm, rounds):
    """One failed operation per timed round whose window_stats version
    differs from the model's per-window counts and sums."""
    by_version = {}
    for r in load(f"{out}/stream_windows.jsonl"):
        by_version.setdefault(r["version"], {})[
            (ts(r["window_start"]), r["payment_type"])] = (
                r["trip_count"], cents(r["total_revenue"]))
    failed = 0
    for rnd in range(warm + 1, warm + rounds + 1):
        want = {(float(k[0]), k[1]): v for k, v in model["expected"][rnd].items()}
        failed += by_version.get(rnd + 1) != want
    return failed


def stream_maintenance(out, model):
    """1 if the trips the tail read differ after maintenance, else 0."""
    got = sorted((r["trip_id"], cents(r["total_amount"]))
                 for r in load(f"{out}/stream_trips_after_maintenance.jsonl"))
    return int(got != model["trips"])


# ---- analytics ---------------------------------------------------------------

def norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=dt.timezone.utc).timestamp()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, str) and TS.match(v):
        return ts(v)
    return v


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_table(spark_rows, cols, duck_rows):
    """Spark's rows (JSON objects; a null field is absent) against DuckDB's,
    as multisets, by column name."""
    a = [tuple(norm(r.get(c)) for c in cols) for r in spark_rows]
    b = [tuple(norm(v) for v in r) for r in duck_rows]
    if len(a) != len(b):
        return False

    def key(t):
        return tuple((x is None, round(x, 4) if isinstance(x, float) else str(x))
                     for x in t)
    return all(all(close(x, y) for x, y in zip(p, q))
               for p, q in zip(sorted(a, key=key), sorted(b, key=key)))


def duck_table(con, name, rows, out):
    """A model state as a DuckDB table, loaded from a CSV sidecar in out."""
    path = f"{out}/{name}.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["trip_id", "pickup_datetime", "payment_type",
                    "amount_cents", "pickup_location_id"])
        for r in rows.values():
            w.writerow([r["trip_id"], dt.datetime.fromtimestamp(
                r["pickup"], dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
                r["payment_type"], r["cents"], r["pickup_location_id"]])
    con.execute(f"""CREATE OR REPLACE TABLE {name} AS SELECT * FROM read_csv('{path}',
        header = true, columns = {{'trip_id': 'VARCHAR',
        'pickup_datetime': 'TIMESTAMP', 'payment_type': 'VARCHAR',
        'amount_cents': 'BIGINT', 'pickup_location_id': 'BIGINT'}})""")


def analytics(out, sf_dir, model, con):
    """Per query kind: does the program's reference result match DuckDB."""
    for t in ("region", "nation", "customer", "supplier", "orders", "lineitem",
              "events"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    duck_table(con, "cur", model["current"], out)
    duck_table(con, "pre", model["pre_delete"], out)
    duck_table(con, "as_of_rows", model["as_of"], out)

    def lit(sec):
        return f"TIMESTAMP '{dt.datetime.fromtimestamp(sec, dt.timezone.utc):%Y-%m-%d %H:%M:%S}'"
    d0, d1 = model["d30"]
    day0, day1 = model["day"]
    in_list = ",".join(map(str, model["in_list"]))
    sql = dict(json.load(open(f"{out}/analytics_oracle.json")))
    sql.update({
        "trips_30d_top100": f"""SELECT pickup_location_id,
            CAST(pickup_datetime AS DATE) AS trip_date, COUNT(*) AS trips,
            SUM(amount_cents) AS revenue_cents FROM cur
            WHERE pickup_datetime >= {lit(d0)} AND pickup_datetime < {lit(d1)}
              AND pickup_location_id IN ({in_list})
            GROUP BY 1, 2 ORDER BY trips DESC, revenue_cents DESC, 1, 2
            LIMIT 100""",
        "trips_hourly_rank_top50": """WITH h AS (
              SELECT date_trunc('hour', pickup_datetime) AS stat_hour,
                pickup_location_id, COUNT(*) AS trips,
                SUM(amount_cents) AS revenue_cents
              FROM cur GROUP BY 1, 2),
            r AS (SELECT *, RANK() OVER (PARTITION BY stat_hour
                    ORDER BY revenue_cents DESC) AS hour_rank FROM h)
            SELECT * FROM r WHERE hour_rank <= 3
            ORDER BY revenue_cents DESC, stat_hour, pickup_location_id
            LIMIT 50""",
        "trips_day_scan": f"""SELECT trip_id, pickup_datetime, payment_type,
            amount_cents FROM cur WHERE pickup_datetime >= {lit(day0)}
              AND pickup_datetime < {lit(day1)}""",
        "trips_as_of": """SELECT payment_type, COUNT(*) AS trips,
            SUM(amount_cents) AS revenue_cents FROM as_of_rows GROUP BY 1""",
        "trips_partitions": """SELECT payment_type AS partition_value,
            COUNT(*) AS record_count FROM pre GROUP BY 1""",
    })
    ok = {}
    for name, q in sql.items():
        got = load(f"{out}/analytics_{name}.jsonl")
        cur = con.execute(q)
        cols = [d[0] for d in cur.description]
        ok[name] = same_table(got, cols, cur.fetchall())
    # $files: data rows are the rows before the deletes; the delete
    # entries hold exactly the deleted keys
    files = load(f"{out}/analytics_trips_files.jsonl")
    data = sum(f["record_count"] for f in files if f["entry_kind"] == "data")
    dels = [f for f in files if f["entry_kind"] == "delete"]
    ok["trips_files"] = (data == len(model["pre_delete"]) and len(dels) == 2 and
                         sum(f["record_count"] for f in dels) ==
                         len(model["pre_delete"]) - len(model["current"]))
    return ok
