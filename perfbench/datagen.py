"""Deterministic TPC-H-ish star schema plus an `events` table.

Writes one parquet file per table, in the layout and encodings the
engine's `graft.sources.Tables.table` reads: `<dir>/<name>.parquet`,
timestamps as timestamp[us] with isAdjustedToUTC=false. Row counts
scale with `sf` (sf 0.01 -> 60,000 lineitem rows). The tables depend
on `sf` and `data_seed` only, so result digests pinned for one scale
hold on every run at that scale.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["STANDARD", "SMALL", "ECONOMY", "LARGE", "PROMO", "MEDIUM"]
FINISHES = ["ANODIZED", "BRUSHED", "POLISHED", "PLATED", "BURNISHED"]
ADJ = ["small", "red", "blue", "hot", "green", "large", "dark", "light"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "spring", "valve"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def orders_rows(sf):
    return max(1_500, int(1_500_000 * sf))


def tables(sf, data_seed=42):
    rng = np.random.default_rng(data_seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = orders_rows(sf)
    n_user = max(15, int(15_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    # one part type in three carries a finish word, so prefix strips and
    # first-two-token splits see both one- and two-word values
    types = np.array(TYPES, dtype=object)[rng.integers(0, len(TYPES), n_part)]
    fin = np.array(FINISHES, dtype=object)[rng.integers(0, len(FINISHES), n_part)]
    two = rng.random(n_part) < 1 / 3
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            np.array(ADJ)[rng.integers(0, len(ADJ), n_part)],
            np.array(NOUN)[rng.integers(0, len(NOUN), n_part)])]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.where(two, types + " " + fin, types).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    # every tenth customer places no orders (the anti-join has rows)
    cust = rng.integers(0, n_cust, n_ord)
    cust = np.where(cust % 10 == 9, cust - 1, cust).astype(np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(cust),
        "o_orderstatus": _pick(rng, STATUS, n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITY, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(lok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_li) * DAY_US)})
    # distinct, increasing microsecond stamps over 30 days: as-of and
    # range matches never tie
    ts = np.sort(rng.choice(30 * DAY_US, n_evt, replace=False)) + EPOCH_2024
    k = rng.integers(0, 100, n_evt)
    props = np.where(rng.random(n_evt) < 0.02, "{}",
                     np.char.add(np.char.add('{"k": ', k.astype(str)), "}"))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50, n_evt), 2)),
        "props": pa.array(props.tolist())})
    return out


def write(dir_, sf, data_seed=42):
    os.makedirs(dir_, exist_ok=True)
    for name, t in tables(sf, data_seed).items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))
