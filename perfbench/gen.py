"""Seeded input generators and the record model the checks compare with.

Everything here is computed apart from the program: the JSONL the program
ingests, the rows it should keep, the dead letters it should route, and the
aggregates it should produce. The same seed gives the same inputs.
"""
import datetime as dt
import json
import os
import random
from decimal import Decimal, ROUND_HALF_UP

PAYMENTS = ["card", "cash", "no_charge", "dispute", "unknown"]

# Special lines of a file, by their index k = 0..6 among the file's first
# seven lines at a stride of lines // 7: one line of each dead-letter class
# (k = 0..5) and one valid line without a trip_id (k = 6, the key is
# synthesised); every other line is a plain valid record. The shares are
# chosen to cover every class in every file, not taken from measured
# traffic: nothing in the reference gives the share of bad records.
ERROR_BY_POS = {
    0: "json_parsing_failed",
    1: "missing_field",
    2: "invalid_timestamp_order",
    3: "invalid_timestamp_format",
    4: "validation_failed",
    5: "unexpected_error",
}
SPECIAL = 7

UTC = dt.timezone.utc


def iso(sec):
    return dt.datetime.fromtimestamp(sec, UTC).strftime("%Y-%m-%dT%H:%M:%S")


def epoch(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=UTC).timestamp())


def round9(s):
    return Decimal(s).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)


class Trips:
    """Generates trip files and keeps the model of every valid record."""

    def __init__(self, seed, stream):
        self.rng = random.Random(f"{stream}:{seed}")
        self.gen_keys = set()

    def file(self, tag, n, t0, t1):
        """n JSONL lines with pickups in [t0, t1). Returns (text, valid
        records, dead letters as (error_type, raw))."""
        rng = self.rng
        lines, valid, dead = [], [], []
        slot = (t1 - t0) / n
        stride = n // SPECIAL
        for j in range(n):
            pos = j // stride if j % stride == 0 and j < SPECIAL * stride else None
            pickup = t0 + int(j * slot) + rng.randrange(max(1, int(slot)))
            pickup = min(pickup, t1 - 1)
            duration = rng.randint(120, 3000)
            cents = rng.randint(300, 25000)
            loc = rng.randint(1, 265)
            lat = f"40.{rng.randrange(10**12):012d}"
            lon = f"-73.{rng.randrange(10**12):012d}"
            trip_id = f"{tag}-{j:04d}"
            rec = {
                "trip_id": trip_id,
                "vendor_id": rng.randint(1, 2),
                "pickup_datetime": iso(pickup) + ("Z" if j % 2 == 0 else ""),
                "dropoff_datetime": iso(pickup + duration),
                "passenger_count": rng.randint(1, 6),
                "trip_distance": rng.randint(5, 300) / 10,
                "payment_type": rng.choice(PAYMENTS),
                "total_amount": cents / 100,
                "pickup_location_id": loc,
                "pickup_latitude": lat,
                "pickup_longitude": lon,
                "event_timestamp": iso(pickup) + ".000000",
            }
            err = ERROR_BY_POS.get(pos)
            if pos == 0:
                raw = "{not json at all " + trip_id
            else:
                if pos == 1:
                    del rec["total_amount"]
                elif pos == 2:
                    rec["dropoff_datetime"] = iso(pickup - 600)
                elif pos == 3:
                    rec["pickup_datetime"] = "not-a-timestamp-" + trip_id
                elif pos == 4:
                    rec["total_amount"] = -cents / 100
                elif pos == 5:
                    rec["vendor_id"] = "not-a-number"
                elif pos == 6:
                    # the key is gen_<location>_<unix pickup>: keep it unique
                    while f"gen_{loc}_{pickup}" in self.gen_keys:
                        pickup += 1
                        rec["pickup_datetime"] = iso(pickup)
                        rec["dropoff_datetime"] = iso(pickup + duration)
                    del rec["trip_id"]
                    trip_id = f"gen_{loc}_{pickup}"
                    self.gen_keys.add(trip_id)
                raw = json.dumps(rec, separators=(",", ":"))
            lines.append(raw)
            if err:
                dead.append((err, raw))
            else:
                valid.append({
                    "trip_id": trip_id,
                    "vendor_id": rec["vendor_id"],
                    "pickup": pickup,
                    "dropoff": pickup + duration,
                    "passenger_count": rec["passenger_count"],
                    "trip_distance": rec["trip_distance"],
                    "payment_type": rec["payment_type"],
                    "cents": cents,
                    "pickup_location_id": loc,
                    "pickup_latitude": round9(lat),
                    "pickup_longitude": round9(lon),
                })
        return "\n".join(lines) + "\n", valid, dead


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def write_props(path, props):
    write(path, "".join(f"{k}={v}\n" for k, v in props.items()))


def row_json(r, created="2024-01-01T00:00:00.000Z", pipeline="perfbench-merge"):
    """A model record as a JSON row of the trips table's schema."""
    return json.dumps({
        "trip_id": r["trip_id"], "vendor_id": r["vendor_id"],
        "pickup_datetime": iso(r["pickup"]) + ".000Z",
        "dropoff_datetime": iso(r["dropoff"]) + ".000Z",
        "passenger_count": r["passenger_count"],
        "trip_distance": r["trip_distance"],
        "payment_type": r["payment_type"],
        "total_amount": r["cents"] / 100,
        "pickup_location_id": r["pickup_location_id"],
        "pickup_latitude": float(r["pickup_latitude"]),
        "pickup_longitude": float(r["pickup_longitude"]),
        "created_at": created, "pipeline_name": pipeline,
    })


# ---- lakehouse_batch ---------------------------------------------------------

BATCH = dict(files=12, lines=100, warm_files=2,
             slice_s=1800, update_slice=10, merge_file=5, merge_new=10,
             delete_over_cents=24000)


def batch(work, seed):
    """Writes the batch inputs; returns the model the checks need."""
    c = BATCH
    t0 = epoch(2024, 1, 1)

    def files(gen, tag, out, n):
        made = []
        for k in range(n):
            text, valid, dead = gen.file(f"{tag}{k:03d}", c["lines"],
                                         t0 + k * c["slice_s"], t0 + (k + 1) * c["slice_s"])
            write(f"{out}/f{k:03d}.jsonl", text)
            made.append({"valid": valid, "dead": dead})
        return made

    timed = files(Trips(seed, "batch"), "b", f"{work}/in/batch", c["files"])
    files(Trips(seed, "batch-warm"), "w", f"{work}/in/batch/warm", c["warm_files"])

    rows = {r["trip_id"]: dict(r) for f in timed for r in f["valid"]}
    hourly = {}
    for r in rows.values():
        k = (r["pickup"] // 3600 * 3600, r["payment_type"])
        n, s = hourly.get(k, (0, 0))
        hourly[k] = (n + 1, s + r["cents"])

    # update: one file's slice, cash trips become disputed and cost 1.00 more
    u0 = t0 + c["update_slice"] * c["slice_s"]
    u1 = u0 + c["slice_s"]
    for r in rows.values():
        if u0 <= r["pickup"] < u1 and r["payment_type"] == "cash":
            r["payment_type"] = "disputed"
            r["cents"] += 100
    after_update = {k: dict(v) for k, v in rows.items()}

    # merge: one file's keyed trips corrected, plus new trips
    rng = random.Random(f"merge:{seed}")
    src = []
    for r in timed[c["merge_file"]]["valid"]:
        if r["trip_id"].startswith("gen_"):
            continue
        m = dict(rows[r["trip_id"]])
        m["cents"] += 250
        m["payment_type"] = "card"
        src.append(m)
    m0 = t0 + c["merge_file"] * c["slice_s"]
    for k in range(c["merge_new"]):
        p = m0 + rng.randrange(c["slice_s"])
        src.append({"trip_id": f"m-{k:03d}", "vendor_id": 1, "pickup": p,
                    "dropoff": p + 600, "passenger_count": 1,
                    "trip_distance": 1.5, "payment_type": "cash",
                    "cents": rng.randint(300, 25000),
                    "pickup_location_id": rng.randint(1, 265),
                    "pickup_latitude": Decimal("40.500000000"),
                    "pickup_longitude": Decimal("-73.500000000")})
    write(f"{work}/in/batch/merge_source.jsonl",
          "".join(row_json(r) + "\n" for r in src))
    for m in src:
        rows[m["trip_id"]] = dict(m)
    after_merge = {k: dict(v) for k, v in rows.items()}

    # merge-on-read delete: every trip over the threshold
    doomed = [k for k, r in rows.items() if r["cents"] > c["delete_over_cents"]]
    for k in doomed:
        del rows[k]

    write_props(f"{work}/in/batch/plan.properties", {
        "files": c["files"], "warm_files": c["warm_files"],
        "update_from": iso(u0), "update_to": iso(u1),
        "update_payment": "cash", "update_set_payment": "disputed",
        "update_add": "1.0", "delete_over": c["delete_over_cents"] / 100,
    })
    return {"files": timed, "hourly": hourly, "after_update": after_update,
            "after_merge": after_merge, "after_delete": rows}


# ---- stream_tail -------------------------------------------------------------

STREAM = dict(rounds=8, warm_rounds=2, lines=40, slice_s=120, window_s=300)


def stream(work, seed):
    """The history file the tail starts from, then one file per round (the
    warm-up rounds first), each round's pickups later than every earlier
    one's."""
    c = STREAM
    t0 = epoch(2024, 2, 1)
    gen = Trips(seed, "stream")
    made = []
    for k in range(1 + c["warm_rounds"] + c["rounds"]):
        text, valid, _ = gen.file(f"s{k:03d}", c["lines"],
                                  t0 + k * c["slice_s"], t0 + (k + 1) * c["slice_s"])
        write(f"{work}/in/stream/{'h' if k == 0 else 'r'}{k:03d}.jsonl", text)
        made.append(valid)
    write_props(f"{work}/in/stream/plan.properties", {
        "rounds": c["rounds"], "warm_rounds": c["warm_rounds"],
        "window_seconds": c["window_s"]})
    # expected window_stats after the history (index 0) and after each
    # round: cumulative per-window counts and sums
    acc, expected = {}, []
    for valid in made:
        for v in valid:
            k = (v["pickup"] // c["window_s"] * c["window_s"], v["payment_type"])
            n, s = acc.get(k, (0, 0))
            acc[k] = (n + 1, s + v["cents"])
        expected.append(dict(acc))
    trips = sorted((v["trip_id"], v["cents"]) for valid in made for v in valid)
    return {"expected": expected, "trips": trips}


# ---- analytics ---------------------------------------------------------------

ANALYTICS = dict(files=2, lines=4500, file_days=21, day_s=86400, as_of_after=1,
                 rounds=2,
                 update_day=5, delete_over_cents=24500, delete_location=17,
                 scan_day=12, d30_from_day=5, in_list=5)
# Warehouse tables for the concurrent scenario, in the layout of the
# program's fixtures (TPC-H-like star plus an events stream).
SF = dict(customers=4000, suppliers=250, parts=5000, orders=40000,
          lines_per_order=4, events=25000)


def analytics(work, seed):
    c = ANALYTICS
    t0 = epoch(2024, 3, 1)
    gen = Trips(seed, "analytics")
    rows, as_of = {}, None
    for i in range(c["files"]):
        span = c["file_days"] * c["day_s"]
        text, valid, _ = gen.file(f"a{i:03d}", c["lines"],
                                  t0 + i * span, t0 + (i + 1) * span)
        write(f"{work}/in/analytics/t{i:03d}.jsonl", text)
        for v in valid:
            rows[v["trip_id"]] = dict(v)
        if i + 1 == c["as_of_after"]:
            as_of = {k: dict(v) for k, v in rows.items()}
    u0 = t0 + c["update_day"] * c["day_s"]
    for r in rows.values():
        if u0 <= r["pickup"] < u0 + c["day_s"] and r["payment_type"] == "cash":
            r["payment_type"] = "disputed"
            r["cents"] += 100
    pre_delete = {k: dict(v) for k, v in rows.items()}
    for k in [k for k, r in rows.items()
              if r["cents"] > c["delete_over_cents"]
              or r["pickup_location_id"] == c["delete_location"]]:
        del rows[k]
    rng = random.Random(f"inlist:{seed}")
    in_list = sorted(rng.sample(range(1, 266), c["in_list"]))
    d30 = t0 + c["d30_from_day"] * c["day_s"]
    day = t0 + c["scan_day"] * c["day_s"]
    write_props(f"{work}/in/analytics/plan.properties", {
        "files": c["files"], "as_of_after": c["as_of_after"],
        "rounds": c["rounds"],
        "update_from": iso(u0), "update_to": iso(u0 + c["day_s"]),
        "update_payment": "cash", "update_set_payment": "disputed",
        "update_add": "1.0", "delete_over": c["delete_over_cents"] / 100,
        "delete_location": c["delete_location"],
        "in_list": ",".join(map(str, in_list)),
        "d30_from": iso(d30), "d30_to": iso(d30 + 30 * c["day_s"]),
        "day_from": iso(day), "day_to": iso(day + c["day_s"]),
    })
    return {"current": rows, "as_of": as_of, "pre_delete": pre_delete,
            "in_list": in_list, "d30": (d30, d30 + 30 * c["day_s"]),
            "day": (day, day + c["day_s"])}


def warehouse(con, out, seed):
    """Writes the warehouse tables with DuckDB from integer hashes of the
    row number and the seed, so the data is the same on every machine."""
    os.makedirs(out, exist_ok=True)
    s = SF
    k = seed * 7919 + 17

    def h(expr, m):  # a deterministic pseudo-random integer in [0, m)
        return f"(hash({expr}, {k}) % {m})::BIGINT"

    tables = {
        "region": "SELECT i::INTEGER AS r_regionkey, 'REGION_' || i AS r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') "
                    f"AS c_name, {h('i', 25)}::INTEGER AS c_nationkey, "
                    f"round({h('i + 1', 1000000)} / 100.0 - 999.99, 2)::DOUBLE AS c_acctbal, "
                    f"['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
                    f"[{h('i + 2', 5)} + 1] AS c_mktsegment "
                    f"FROM range({s['customers']}) t(i)",
        "supplier": f"SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') "
                    f"AS s_name, {h('i', 25)}::INTEGER AS s_nationkey, "
                    f"round({h('i + 1', 1000000)} / 100.0, 2)::DOUBLE AS s_acctbal "
                    f"FROM range({s['suppliers']}) t(i)",
        "orders": f"SELECT i AS o_orderkey, {h('i', s['customers'])} AS o_custkey, "
                  f"['F','O','P'][{h('i + 1', 3)} + 1] AS o_orderstatus, "
                  f"round(1000 + {h('i + 2', 49900000)} / 100.0, 2)::DOUBLE AS o_totalprice, "
                  f"(TIMESTAMP '1995-01-01' + INTERVAL 1 DAY * {h('i + 3', 2400)}) "
                  f"AS o_orderdate, "
                  f"['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
                  f"[{h('i + 4', 5)} + 1] AS o_orderpriority "
                  f"FROM range({s['orders']}) t(i)",
        "lineitem": f"SELECT i // {s['lines_per_order']} AS l_orderkey, "
                    f"{h('i', s['parts'])} AS l_partkey, {h('i + 1', s['suppliers'])} "
                    f"AS l_suppkey, (i % {s['lines_per_order']} + 1)::INTEGER AS l_linenumber, "
                    f"(1 + {h('i + 2', 50)})::DOUBLE AS l_quantity, "
                    f"round(900 + {h('i + 3', 10410000)} / 100.0, 2)::DOUBLE AS l_extendedprice, "
                    f"({h('i + 4', 11)} / 100.0)::DOUBLE AS l_discount, "
                    f"({h('i + 5', 9)} / 100.0)::DOUBLE AS l_tax, "
                    f"['A','N','R'][{h('i + 6', 3)} + 1] AS l_returnflag, "
                    f"['F','O'][{h('i + 7', 2)} + 1] AS l_linestatus, "
                    f"(TIMESTAMP '1995-01-02' + INTERVAL 1 DAY * {h('i + 8', 2500)}) "
                    f"AS l_shipdate "
                    f"FROM range({s['orders'] * s['lines_per_order']}) t(i)",
        "events": f"SELECT i AS event_id, epoch_ms(1704067200000 + i * 103680 + "
                  f"{h('i', 103680)}) AS ts, "
                  f"{h('i + 1', 1500)} AS user_id, "
                  f"['view','click','purchase','signup','error'][{h('i + 2', 5)} + 1] "
                  f"AS event_type, round({h('i + 3', 56022)} / 100.0, 2)::DOUBLE AS value, "
                  f"'{{\"k\": ' || {h('i + 4', 100)} || '}}' AS props "
                  f"FROM range({s['events']}) t(i)",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
