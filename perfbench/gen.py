"""Seeded inputs for the benchmark, and the independent taxi-ETL replay.

Everything here is a pure function of the seed and the size arguments:
the same seed gives byte-identical files.

Taxi CSV (etl_batch, etl_stream)
    An 18-column yellow-taxi-shaped file whose 9 required columns sit
    among extra columns, with planted parse failures, normalize failures
    (DST-gap wall clock, bad flag, dropoff before pickup) and duplicate
    groups, in the spirit of graft.queries.TaxiScaled.

Replay
    `replay_counters` re-derives the six ETL counters from the CSV text
    with the reference semantics, written independently of the Scala
    code: first-error-wins field validation in reference field order,
    America/New_York wall clock to UTC (a DST-gap time is invalid, a
    fall-back time resolves to standard time), dropoff >= pickup, then a
    HashSet over (pickup_utc, dropoff_utc, passenger_count) in file order.

Tables (query_mix)
    TPC-H-ish star schema and `events`, with the column names, types and
    value domains of the harness tables.

Self-test: python3 perfbench/gen.py --self-test
"""
import datetime as dt
import functools
import os
import random
import re
import sys
from decimal import Decimal, InvalidOperation
from zoneinfo import ZoneInfo

HEADER = ("VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
          "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
          "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
          "improvement_surcharge,total_amount,congestion_surcharge")
REQUIRED = ["tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
            "trip_distance", "store_and_fwd_flag", "PULocationID", "DOLocationID",
            "fare_amount", "tip_amount"]
TS_FMT = "%m/%d/%Y %I:%M:%S %p"
NY = ZoneInfo("America/New_York")
UTC = dt.timezone.utc

# Local wall-clock instants planted on purpose: inside the 2020 spring
# forward gap (invalid) and inside the fall-back hour (valid, standard time).
GAP_TIMES = [dt.datetime(2020, 3, 8, 2, 5), dt.datetime(2020, 3, 8, 2, 30),
             dt.datetime(2020, 3, 8, 2, 59, 59)]
AMBIGUOUS_TIMES = [dt.datetime(2020, 11, 1, 1, 0), dt.datetime(2020, 11, 1, 1, 30),
                   dt.datetime(2020, 11, 1, 1, 59, 30)]
YEAR0 = dt.datetime(2020, 1, 1)
YEAR_SECONDS = 366 * 86400


def _fmt(t):
    return t.strftime(TS_FMT)


def _money(r, hi_cents):
    c = r.randrange(hi_cents)
    return f"{c // 100}.{c % 100:02d}"


def taxi_lines(seed, n_rows):
    """Header plus `n_rows` data rows, with a few blank lines mixed in.

    Roughly 4% of rows are parse-invalid, 1.5% normalize-invalid and 3%
    repeat the dedup key of an earlier row."""
    r = random.Random(seed)
    keys = []  # (pickup, dropoff, passenger) strings of earlier rows
    out = [HEADER]
    for i in range(n_rows):
        if i and r.random() < 0.002:
            out.append("" if r.random() < 0.5 else "   ")
        pickup = YEAR0 + dt.timedelta(seconds=r.randrange(YEAR_SECONDS))
        dropoff = pickup + dt.timedelta(seconds=r.randrange(60, 3600))
        f = {
            "tpep_pickup_datetime": _fmt(pickup),
            "tpep_dropoff_datetime": _fmt(dropoff),
            "passenger_count": str(r.randint(0, 6)),
            "trip_distance": f"{r.randrange(3000) / 100:.2f}",
            "store_and_fwd_flag": r.choice(["N", "N", "N", "Y", " n", "y "]),
            "PULocationID": str(r.randint(1, 265)),
            "DOLocationID": str(r.randint(1, 265)),
            "fare_amount": _money(r, 9000),
            "tip_amount": _money(r, 2000),
        }
        u = r.random()
        if u < 0.03 and keys:  # duplicate key of an earlier row
            p, d, pc = r.choice(keys)
            f["tpep_pickup_datetime"], f["tpep_dropoff_datetime"] = p, d
            f["passenger_count"] = pc
        elif u < 0.07:  # parse failure in one field
            field, bad = r.choice([
                ("tpep_pickup_datetime", ""), ("tpep_pickup_datetime", "N/A"),
                ("tpep_pickup_datetime", "13/45/2020 10:00:00 AM"),
                ("tpep_dropoff_datetime", "bad-date"),
                ("passenger_count", ""), ("passenger_count", "1.5"),
                ("passenger_count", "-1"), ("passenger_count", "300"),
                ("trip_distance", "-1.25"), ("trip_distance", "abc"),
                ("store_and_fwd_flag", ""), ("PULocationID", "x"),
                ("DOLocationID", "-3"), ("fare_amount", "-2.50"),
                ("tip_amount", "tip")])
            f[field] = bad
            if r.random() < 0.3:  # a second, later bad field: first error wins
                f["tip_amount"] = "?"
        elif u < 0.075:
            f["store_and_fwd_flag"] = "X"
        elif u < 0.08:
            f["tpep_dropoff_datetime"] = _fmt(pickup - dt.timedelta(seconds=100))
        elif u < 0.085:
            g = r.choice(GAP_TIMES)
            f["tpep_pickup_datetime"] = _fmt(g)
            f["tpep_dropoff_datetime"] = _fmt(g + dt.timedelta(minutes=40))
        elif u < 0.09:
            a = r.choice(AMBIGUOUS_TIMES)
            f["tpep_pickup_datetime"] = _fmt(a)
            f["tpep_dropoff_datetime"] = _fmt(a + dt.timedelta(seconds=r.randrange(0, 1800)))
        keys.append((f["tpep_pickup_datetime"], f["tpep_dropoff_datetime"],
                     f["passenger_count"]))
        extra = [str(r.randint(1, 2)), str(r.randint(1, 6)), str(r.randint(1, 4)),
                 "0.50", "0.50", "0.00", "0.30", _money(r, 12000), "2.50"]
        cols = [extra[0], f[REQUIRED[0]], f[REQUIRED[1]], f[REQUIRED[2]],
                f[REQUIRED[3]], extra[1], f[REQUIRED[4]], f[REQUIRED[5]],
                f[REQUIRED[6]], extra[2], f[REQUIRED[7]], extra[3], extra[4],
                f[REQUIRED[8]], extra[5], extra[6], extra[7], extra[8]]
        out.append(",".join(cols))
    return out


# ---- independent replay --------------------------------------------------

_INT = re.compile(r"^[+-]?[0-9]+$")


# a valid row's times are parsed again by normalize_error: remember them
@functools.lru_cache(maxsize=1 << 16)
def _parse_ts(s):
    try:
        return dt.datetime.strptime(s, TS_FMT)
    except ValueError:
        return None


def _parse_dec(s, int_digits):
    try:
        v = Decimal(s.replace(",", ""))
    except InvalidOperation:
        return None
    if not v.is_finite() or abs(v) >= Decimal(10) ** int_digits:
        return None
    return v


def _to_utc(local):
    """(utc, None) or (None, 'gap'): .NET ConvertTimeToUtc semantics."""
    standard = local.replace(tzinfo=NY, fold=1).astimezone(UTC)
    if standard.astimezone(NY).replace(tzinfo=None) != local:
        return None, "gap"
    return standard, None


def first_error(f):
    """Name of the first failing field (reference order), or None."""
    def missing(v):
        return v is None or v == ""
    checks = [
        ("tpep_pickup_datetime", lambda v: _parse_ts(v) is not None),
        ("tpep_dropoff_datetime", lambda v: _parse_ts(v) is not None),
        ("passenger_count", lambda v: bool(_INT.match(v)) and 0 <= int(v) <= 255),
        ("trip_distance", lambda v: (d := _parse_dec(v, 6)) is not None and d >= 0),
        ("store_and_fwd_flag", lambda v: True),
        ("PULocationID", lambda v: bool(_INT.match(v)) and 0 <= int(v) <= 2**31 - 1),
        ("DOLocationID", lambda v: bool(_INT.match(v)) and 0 <= int(v) <= 2**31 - 1),
        ("fare_amount", lambda v: (d := _parse_dec(v, 8)) is not None and d >= 0),
        ("tip_amount", lambda v: (d := _parse_dec(v, 8)) is not None and d >= 0),
    ]
    for name, ok in checks:
        v = f[name].strip() if f[name] is not None else None
        if missing(v) or not ok(v):
            return name
    return None


def normalize_error(f):
    pickup = _parse_ts(f["tpep_pickup_datetime"].strip())
    dropoff = _parse_ts(f["tpep_dropoff_datetime"].strip())
    pu, e1 = _to_utc(pickup)
    if e1:
        return "pickup_gap", None
    du, e2 = _to_utc(dropoff)
    if e2:
        return "dropoff_gap", None
    if f["store_and_fwd_flag"].strip().upper() not in ("N", "Y"):
        return "flag", None
    if du < pu:
        return "domain", None
    return None, (pu, du, int(f["passenger_count"].strip()))


@functools.lru_cache(maxsize=4)
def _column_index(header):
    """Lower-cased column name -> position of its first occurrence."""
    names = [h.strip().lower() for h in header.lstrip("﻿").split(",")]
    idx = {}
    for i, n in enumerate(names):
        idx.setdefault(n, i)
    return idx


def split_fields(header, line):
    idx = _column_index(header)
    cells = line.split(",")
    return {c: (cells[idx[c.lower()]] if idx[c.lower()] < len(cells) else None)
            for c in REQUIRED}


def replay_counters(lines):
    """The six counters of the reference ETL over `lines` (header first)."""
    header, rows = lines[0], [l for l in lines[1:] if l.strip()]
    seen = set()
    total = parsed = invalid = duplicates = inserted = 0
    for line in rows:
        total += 1
        f = split_fields(header, line)
        if first_error(f):
            invalid += 1
            continue
        parsed += 1
        err, key = normalize_error(f)
        if err:
            invalid += 1
        elif key in seen:
            duplicates += 1
        else:
            seen.add(key)
            inserted += 1
    return {"total": total, "parsed": parsed, "invalid": invalid,
            "duplicates": duplicates, "inserted": inserted,
            "duplicatesFile": duplicates}


# ---- harness tables ------------------------------------------------------

def write_tables(seed, out_dir, sf):
    """Parquet tables `<out_dir>/<name>.parquet` at TPC-H-ish scale `sf`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    i32, i64 = pa.int32(), pa.int64()
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n_cust, n_supp, n_part = int(15000 * sf), int(1000 * sf), int(20000 * sf)
    n_ord, n_line, n_ev = int(150000 * sf), int(600000 * sf), int(100000 * sf)
    put("customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "BUILDING", "HOUSEHOLD"], n_cust)})
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    put("part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "large", "green"], n_part),
            rng.choice(["ring", "widget", "bolt", "nut", "gear"], n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": days("1995-01-02", 2498, n_line)})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    put("events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, int(15000 * sf)), n_ev), i64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": money(0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


# ---- self-test -----------------------------------------------------------

def self_test():
    """Six counters of a hand-written file, derived by hand in the comments."""
    h = HEADER
    def row(p, d, pc="1", dist="1.00", flag="N", pu="1", do="2", fare="5.00", tip="1.00"):
        return ",".join(["1", p, d, pc, dist, "1", flag, pu, do, "1", fare,
                         "0.50", "0.50", tip, "0.00", "0.30", "7.00", "2.50"])
    a, b = "01/05/2020 10:00:00 AM", "01/05/2020 10:20:00 AM"
    lines = [h,
             row(a, b),                                  # 1 inserted
             row(a, b, dist="9.99", fare="50.00"),       # 2 duplicate of 1 (key only)
             "",                                         #   blank: not counted
             row(a, b, pc="2"),                          # 3 inserted (other key)
             row("", b, pc="x"),                         # 4 parse (pickup first)
             row(a, b, pc="1.5"),                        # 5 parse
             row(a, b, tip="-1"),                        # 6 parse
             row(a, b, flag="X"),                        # 7 normalize (flag)
             row(b, a),                                  # 8 normalize (domain)
             row("03/08/2020 02:30:00 AM",
                 "03/08/2020 03:30:00 AM"),              # 9 normalize (DST gap)
             # 10/11: 1:30 AM fall-back resolves to standard time (06:30Z);
             # 11's dropoff 01:40 AM is also standard (06:40Z) -> valid, new key
             row("11/01/2020 01:30:00 AM", "11/01/2020 01:45:00 AM"),
             row("11/01/2020 01:30:00 AM", "11/01/2020 01:40:00 AM"),
             row("11/01/2020 01:30:00 AM", "11/01/2020 01:45:00 AM", flag=" y"),  # 12 dup of 10
             row(a, b, pc="2", flag="y "),               # 13 duplicate of 3
             ]
    got = replay_counters(lines)
    want = {"total": 13, "parsed": 10, "invalid": 6, "duplicates": 3,
            "inserted": 4, "duplicatesFile": 3}
    assert got == want, (got, want)
    # generator determinism and shape
    g1, g2 = taxi_lines(7, 3000), taxi_lines(7, 3000)
    assert g1 == g2 and g1 != taxi_lines(8, 3000)
    c = replay_counters(g1)
    assert c["total"] == 3000 and c["inserted"] + c["duplicates"] + c["invalid"] == 3000
    assert c["invalid"] > 100 and c["duplicates"] > 30 and c["parsed"] > c["inserted"]
    print("gen self-test ok:", c)


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        self_test()
    else:
        sys.exit("usage: python3 perfbench/gen.py --self-test")
