"""Seeded input generators: TPC-H-schema tables and the Delta base table
with its write batches.

Every table derives from one numpy Generator seeded by the caller. Money
columns are integer-valued doubles and discount/tax/balance lie on a
1/64 grid, so sums are exact in double arithmetic in any accumulation
order: the engine and the DuckDB oracle must then agree on every
ORDER BY ... LIMIT cut-off, not only within a tolerance.
"""
import datetime

import numpy as np
import pyarrow as pa

EPOCH = datetime.date(1970, 1, 1)


def day(y, m, d):
    """Days since 1970-01-01 (the parquet DATE encoding)."""
    return (datetime.date(y, m, d) - EPOCH).days


# ------------------------------------------------------------------ TPC-H

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
MODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
WORDS = (
    "furiously quickly carefully blithely slyly ironic final regular "
    "express pending bold even silent unusual special packages requests "
    "accounts deposits instructions theodolites pinto beans foxes ideas "
    "dependencies platelets asymptotes courts dolphins sheaves").split()

START = day(1992, 1, 1)
CURRENT = day(1995, 6, 17)
END = day(1998, 12, 31)


def _pool(rng, n, lo, hi, plant=None, plant_share=0.0):
    """n random comment strings of lo..hi words; a share gets `plant`."""
    out = []
    for i in range(n):
        w = list(rng.choice(WORDS, size=int(rng.integers(lo, hi + 1))))
        if plant and rng.random() < plant_share:
            pos = int(rng.integers(0, len(w)))
            w[pos:pos] = plant
        out.append(" ".join(w))
    return pa.array(out)


def _pick(pool, rng, n):
    return pool.take(pa.array(rng.integers(0, len(pool), size=n)))


def _strs(prefix, keys, width):
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys.tolist()])


def _phones(rng, nationkeys):
    n = len(nationkeys)
    a, b, c = (rng.integers(100, 1000, n), rng.integers(100, 1000, n),
               rng.integers(1000, 10000, n))
    return pa.array([f"{k + 10}-{x}-{y}-{z}" for k, x, y, z in
                     zip(nationkeys.tolist(), a.tolist(), b.tolist(), c.tolist())])


def tpch_tables(rng, sf):
    """TPC-H customer, orders and lineitem at scale factor sf, as pyarrow
    Tables, with dbgen's value distributions (extended prices rest on
    dbgen's part retail prices).

    The tables hold only the columns the benchmark's queries read, plus
    the keys the warm cache sorts on. Each cached column costs the warm
    set-up a stats pass (the engine keeps distinct-count sketches and
    ranges per column), which the benchmark repeats inside every run."""
    n_part = int(200000 * sf)
    n_cust = int(150000 * sf)
    n_ord = int(1500000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    f64 = lambda a: pa.array(np.asarray(a, dtype=np.float64))
    date = lambda a: pa.array(np.asarray(a, dtype=np.int32), pa.date32())
    t = {}
    # dbgen's retail price of part p, on which the extended price rests
    pk = np.arange(1, n_part + 1)
    retail = 900 + (pk // 10) % 201 + pk % 1000

    ck = np.arange(1, n_cust + 1)
    # the phone's country code is the nation key + 10 (q22 reads it)
    c_nat = rng.integers(0, 25, n_cust)
    t["customer"] = pa.table({
        "c_custkey": i32(ck), "c_name": _strs("Customer#", ck, 9),
        "c_phone": _phones(rng, c_nat),
        "c_acctbal": f64(rng.integers(-64000, 640000, n_cust) / 64.0),
        "c_mktsegment": pa.array(SEGMENTS).take(pa.array(rng.integers(0, 5, n_cust)))})

    # orders and lineitem: customers with key % 3 == 0 place no orders
    ok = np.arange(1, n_ord + 1)
    active = ck[ck % 3 != 0]
    o_cust = active[rng.integers(0, len(active), n_ord)]
    o_date = rng.integers(START, END - 151 + 1, n_ord)
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(ok, lines)
    n_li = len(l_order)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = np.arange(n_li) - first + 1
    l_odate = np.repeat(o_date, lines)
    l_part = rng.integers(1, n_part + 1, n_li)
    qty = rng.integers(1, 51, n_li)
    ext = qty * retail[l_part - 1]
    disc = rng.integers(0, 7, n_li) / 64.0
    tax = rng.integers(0, 6, n_li) / 64.0
    ship = l_odate + rng.integers(1, 122, n_li)
    commit = l_odate + rng.integers(30, 91, n_li)
    receipt = ship + rng.integers(1, 31, n_li)
    rflag = np.where(receipt <= CURRENT,
                     np.where(rng.random(n_li) < 0.5, "R", "A"), "N")
    lstatus = np.where(ship > CURRENT, "O", "F")
    t["lineitem"] = pa.table({
        "l_orderkey": i32(l_order), "l_linenumber": i32(l_line),
        "l_quantity": f64(qty), "l_extendedprice": f64(ext),
        "l_discount": f64(disc), "l_tax": f64(tax),
        "l_returnflag": pa.array(rflag.astype(object)),
        "l_linestatus": pa.array(lstatus.astype(object)),
        "l_shipdate": date(ship), "l_commitdate": date(commit),
        "l_receiptdate": date(receipt),
        "l_shipmode": pa.array(MODES).take(pa.array(rng.integers(0, 7, n_li)))})

    # the total price follows from the order's lines
    total = np.bincount(l_order, weights=ext * (1 + tax) * (1 - disc),
                        minlength=n_ord + 1)[1:]
    t["orders"] = pa.table({
        "o_orderkey": i32(ok), "o_custkey": i32(o_cust),
        "o_totalprice": f64(total), "o_orderdate": date(o_date),
        "o_orderpriority": pa.array(PRIORITIES).take(pa.array(rng.integers(0, 5, n_ord))),
        "o_shippriority": i32(np.zeros(n_ord)),
        "o_comment": _pick(_pool(rng, 1024, 4, 10, ["special", "requests"], 0.03),
                           rng, n_ord)})
    return t


# ------------------------------------------------------------------ Delta

DELTA_YEARS = list(range(1992, 1999))


def delta_rows(rng, orderkeys):
    """Lineitem-like rows (1..7 lines per order key), partitioned by l_year."""
    lines = rng.integers(1, 8, len(orderkeys))
    okey = np.repeat(orderkeys, lines)
    n = len(okey)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n)
    year = np.repeat(rng.integers(DELTA_YEARS[0], DELTA_YEARS[-1] + 1, len(orderkeys)), lines)
    return pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n) - first + 1).astype(np.int32)),
        "l_partkey": pa.array(rng.integers(1, 20001, n).astype(np.int32)),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array((qty * rng.integers(900, 2100, n)).astype(np.float64)),
        "l_discount": pa.array(rng.integers(0, 7, n) / 64.0),
        "l_shipmode": pa.array(MODES).take(pa.array(rng.integers(0, 7, n))),
        "l_year": pa.array(year.astype(np.int32))})

