"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical files. `ensure()` writes each input set once into
its own directory, marks it complete with `_SUCCESS`, and reuses it on
later calls; a generation that was killed leaves no `_SUCCESS` and is
redone.
"""
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# TPC-H-like star schema + events, with the column names and types of the
# documented test tables (region nation customer supplier part orders
# lineitem events). `sf` scales row counts like TPC-H: at sf=0.01
# lineitem has ~60k rows.

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "steel", "red", "green", "tiny"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "plate", "valve", "spring"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

def _ts(days_since_epoch, micros=0):
    us = np.asarray(days_since_epoch, dtype=np.int64) * 86_400_000_000 + micros
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _day(s):
    return (np.datetime64(s, "D") - np.datetime64("1970-01-01", "D")).astype(np.int64)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def tables(out, seed, sf):
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})

    def acctbal(n):
        return np.round(rng.uniform(-999.99, 9999.99, n), 2)

    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": acctbal(n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": acctbal(n_supp)})

    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})

    order_day = rng.integers(_day("1995-01-01"), _day("2001-08-01") + 1, n_ord)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(order_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": pkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.99, 1.05, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(order_day, lines) + rng.integers(1, 122, n_li))})

    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(np.full(n_events, _day("2024-01-01")), ev_us),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[
            rng.choice(5, n_events, p=[0.55, 0.3, 0.08, 0.04, 0.03])],
        "value": np.round(rng.exponential(40.0, n_events).clip(0, 560), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})


# --------------------------------------------------------------------------
# The competition's attachment files: 附件1 (train, 36 tab-separated
# fields), 附件2 (validation, 35 fields) and 附件4 (store transactions,
# ragged 5/6 fields), headerless, with the null sentinels and the
# L*W*H / yyyyMM / JSON-map string formats of the originals.

def _dates(rng, lo, hi, n):
    d0 = dt.date.fromisoformat(lo).toordinal()
    d1 = dt.date.fromisoformat(hi).toordinal()
    return [dt.date.fromordinal(int(o)).isoformat() for o in rng.integers(d0, d1 + 1, n)]


def _maybe(rng, values, null_share):
    return ["" if rng.random() < null_share else v for v in values]


def car_rows(rng, carids, with_price):
    n = len(carids)
    brand = np.minimum(rng.zipf(1.4, n), 120)
    serial = brand * 100 + rng.integers(0, 12, n)
    model = serial * 100 + rng.integers(0, 30, n)
    newprice = np.round(rng.lognormal(2.6, 0.6, n).clip(3, 300), 2)
    age = rng.uniform(0.2, 12, n)
    mileage = np.round((age * rng.uniform(0.5, 2.0, n)).clip(0.01, 60), 2)
    reg = _dates(rng, "2008-01-01", "2020-12-31", n)
    dims = [f"{int(l)}*{int(w)}*{int(h)}" for l, w, h in zip(
        rng.integers(3600, 5300, n), rng.integers(1600, 2000, n), rng.integers(1400, 1900, n))]
    anon11 = np.array(["1+2", "1+2,4+2", "3+2", "2+2", "4+2"])[rng.integers(0, 5, n)]
    anon13 = [f"{y}{m:02d}" for y, m in zip(rng.integers(2008, 2021, n), rng.integers(1, 13, n))]
    cols = [
        [str(c) for c in carids],
        _dates(rng, "2020-01-01", "2021-06-30", n),
        [str(b) for b in brand], [str(s) for s in serial], [str(m) for m in model],
        [str(m) for m in mileage],
        [str(c) for c in rng.integers(0, 16, n)],
        [str(c) for c in rng.integers(0, 300, n)],
        _maybe(rng, [str(c) for c in rng.integers(0, 5, n)], 0.05),  # carCode
        [f"{c}.0" for c in rng.integers(0, 5, n)],                    # transferCount
        [f"{c}.0" for c in rng.choice([5, 5, 5, 7, 4], n)],           # seatings
        reg, reg,                                                     # register/license
        _maybe(rng, [str(c) for c in rng.choice([779412, 779413, 779415, 779421], n)], 0.1),
        _maybe(rng, [str(c) for c in rng.integers(1, 4, n)], 0.1),    # maketype
        _maybe(rng, [str(c) for c in rng.integers(2005, 2021, n)], 0.05),
        [f"{d:.1f}" for d in rng.choice([1.0, 1.4, 1.5, 1.6, 2.0, 2.5, 3.0], n)],
        _maybe(rng, [f"{g}.0" for g in rng.integers(0, 2, n)], 0.05),  # gearbox
        [str(c) for c in rng.integers(1, 4, n)],                      # oiltype
        [str(p) for p in newprice],
        _maybe(rng, [str(c) for c in rng.integers(0, 3, n)], 0.05),   # anon1
        [str(c) for c in rng.integers(0, 10, n)],                     # anon2
        [str(c) for c in rng.integers(0, 10, n)],                     # anon3
        _maybe(rng, [str(c) for c in rng.integers(0, 20, n)], 0.1),   # anon4
        [str(c) for c in rng.integers(0, 10, n)],                     # anon5
        [str(c) for c in rng.integers(0, 10, n)],                     # anon6
        _maybe(rng, _dates(rng, "2008-01-01", "2020-12-31", n), 0.3),  # anon7
        _maybe(rng, [str(c) for c in rng.integers(0, 10, n)], 0.3),   # anon8
        _maybe(rng, [str(c) for c in rng.integers(0, 10, n)], 0.3),   # anon9
        _maybe(rng, [str(c) for c in rng.integers(0, 10, n)], 0.3),   # anon10
        _maybe(rng, list(anon11), 0.2),
        _maybe(rng, dims, 0.1),                                       # anon12 L*W*H
        _maybe(rng, anon13, 0.3),                                     # anon13 yyyyMM
        [str(c) for c in rng.integers(0, 10, n)],                     # anon14
        _maybe(rng, _dates(rng, "2008-01-01", "2020-12-31", n), 0.3),  # anon15
    ]
    if with_price:
        depreciation = np.exp(-0.12 * age) * rng.uniform(0.85, 1.1, n)
        cols.append([str(p) for p in np.round((newprice * depreciation).clip(0.5, 250), 2)])
    return ["\t".join(fields) for fields in zip(*cols)]


def txn_rows(rng, carids):
    n = len(carids)
    push = rng.integers(dt.date(2020, 1, 1).toordinal(), dt.date(2021, 5, 1).toordinal(), n)
    price = np.round(rng.uniform(2, 80, n), 2)
    sold = rng.random(n) < 0.6
    out = []
    for c, p, pr, s in zip(carids, push, price, sold):
        adjust = int(rng.integers(0, 4))
        days = sorted(rng.integers(1, 60, adjust))
        m = {dt.date.fromordinal(int(p + d)).isoformat(): f"{pr * (1 - 0.03 * (i + 1)):.2f}"
             for i, d in enumerate(days)}
        # the originals quote the map CSV-style: "{""2021-04-05"": ""23""}"
        js = '"' + json.dumps(m).replace('"', '""') + '"' if m else "{}"
        pull = dt.date.fromordinal(int(p + (days[-1] if days else 0) + rng.integers(1, 90)))
        fields = [str(c), dt.date.fromordinal(int(p)).isoformat(), f"{pr:.2f}", js,
                  pull.isoformat()]
        if s:  # 6-field line = sold; 5-field line = unsold
            fields.append(pull.isoformat())
        out.append("\t".join(fields))
    return out


CAR_TRAIN, CAR_VALID, CAR_TXN = "car_train.txt", "car_valid.txt", "store_txn.txt"


def cars(out, seed, n_train, n_valid, n_txn):
    rng = np.random.default_rng([seed, 3])
    train_ids = rng.permutation(np.arange(100_000, 100_000 + 3 * n_train))[:n_train]
    valid_ids = np.arange(500_000, 500_000 + n_valid)
    # every transaction keys into the train table (附件4 → 附件1)
    txn_ids = rng.choice(train_ids, n_txn, replace=False)
    for name, lines in [(CAR_TRAIN, car_rows(rng, train_ids, True)),
                        (CAR_VALID, car_rows(rng, valid_ids, False)),
                        (CAR_TXN, txn_rows(rng, txn_ids))]:
        with open(f"{out}/{name}", "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")


# --------------------------------------------------------------------------

def ensure(root, kind, seed, **size):
    """Directory holding input set `kind` for (seed, size); generated once."""
    tag = "_".join(f"{k}{v}" for k, v in sorted(size.items()))
    final = os.path.join(root, f"{kind}-s{seed}-{tag}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    {"tables": tables, "cars": cars}[kind](tmp, seed, **size)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, final)
    return final
