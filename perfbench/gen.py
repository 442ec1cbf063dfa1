"""Seeded input generator for the benchmark.

Writes region, nation, customer, supplier, part, orders and lineitem
with the column names and parquet types of the engine's TPC-H-shaped
test tables.  The engine derives its commission fixtures from them:
a customer is an employer group, an order is a certificate (policy)
and a lineitem is a premium transaction.

The group-size distribution is a parameter: ``uniform`` gives every
group the same number of certificates, ``zipf`` draws groups from a
Zipf law so a few groups hold most certificates.  With ``batches > 0``
the generator also writes daily-increment batches: each adds about
``batch_frac`` new certificates and amends about as many existing ones
(a policy effective-date change, which flips first-year vs renewal
rates).  ``b<k>/`` holds the batch's orders and lineitems plus the
customer table; ``final/`` holds the state after every batch, for the
full-rebuild oracle.

Files depend only on the arguments: the same seed gives byte-identical
parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_DATE_SPAN_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype("int64"))
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PART_WORDS = np.array(["small", "red", "large", "blue", "green", "steel"])
_PART_NOUNS = np.array(["ring", "widget", "bolt", "gear", "plate"])
_PART_TYPES = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"])
#: seed of the Zipf workloads' rank -> group key map
ZIPF_KEY_SEED = 20_240_601


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # one row group per file, like the engine's test tables (the
    # engine's scan-spread logic keys off the split count)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _dates_us(days: np.ndarray) -> pa.Array:
    us = (days.astype("int64") + int(_EPOCH_1995.astype("int64"))) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _group_of_orders(rng, n_orders: int, n_customers: int, groups: str) -> np.ndarray:
    if groups == "uniform":
        # every group gets n_orders // n_customers certificates (+1 for
        # the first n_orders % n_customers), in a seeded order
        return rng.permutation(np.arange(n_orders) % n_customers).astype("int64")
    if groups == "zipf":
        ranks = rng.zipf(1.4, size=n_orders)
        ranks = np.where(ranks > n_customers, rng.integers(1, n_customers + 1, n_orders), ranks)
        # a shuffled rank -> custkey map, so the heavy groups are not
        # always the lowest keys (the fixtures plant strata by key); it
        # is the same for every seed, so the heavy groups fall in the
        # same strata and every seed asks for about as much work
        perm = np.random.default_rng(ZIPF_KEY_SEED).permutation(n_customers)
        return perm[ranks - 1].astype("int64")
    raise ValueError(f"unknown group distribution {groups!r}")


def _lineitems(rng, orderkeys: np.ndarray, order_days: np.ndarray, retail: np.ndarray,
               n_supp: int) -> dict[str, np.ndarray]:
    per_order = rng.integers(1, 8, size=len(orderkeys))
    okey = np.repeat(orderkeys, per_order)
    oday = np.repeat(order_days, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(len(okey)) - starts + 1).astype("int32")
    n = len(okey)
    partkey = rng.integers(0, len(retail), n)
    qty = rng.integers(1, 51, n).astype("float64")
    return {
        "l_orderkey": okey.astype("int64"),
        "l_partkey": partkey.astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": np.minimum(oday + rng.integers(1, 122, n), _DATE_SPAN_DAYS + 95),
    }


def _orders_table(o: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(o["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(o["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(o["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(o["o_totalprice"], pa.float64()),
        "o_orderdate": _dates_us(o["o_orderdate"]),
        "o_orderpriority": pa.array(o["o_orderpriority"], pa.string()),
    })


def _lineitem_table(li: dict[str, np.ndarray]) -> pa.Table:
    cols = {k: v for k, v in li.items() if k != "l_shipdate"}
    t = pa.table({
        k: pa.array(v, pa.int32() if k == "l_linenumber" else None)
        for k, v in cols.items()
    })
    return t.append_column("l_shipdate", _dates_us(li["l_shipdate"]))


def _take(d: dict[str, np.ndarray], idx) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in d.items()}


def _concat(*ds: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([d[k] for d in ds]) for k in ds[0]}


def generate(out_dir: str, seed: int, n_customers: int, n_orders: int,
             groups: str = "uniform", batches: int = 0,
             batch_frac: float = 0.01) -> dict[str, int]:
    """Write one input set under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, n_customers // 15)
    n_part = max(10, n_customers * 4 // 3)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_customers),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(_PART_WORDS, n_part), " "),
                              rng.choice(_PART_NOUNS, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    def new_orders(keys: np.ndarray) -> dict[str, np.ndarray]:
        n = len(keys)
        return {
            "o_orderkey": keys,
            "o_custkey": _group_of_orders(rng, n, n_customers, groups),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": rng.integers(0, _DATE_SPAN_DAYS + 1, n),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        }

    orders = new_orders(np.arange(n_orders, dtype="int64"))
    lineitem = _lineitems(rng, orders["o_orderkey"], orders["o_orderdate"], retail, n_supp)

    for name, t in (("region", region), ("nation", nation), ("customer", customer),
                    ("supplier", supplier), ("part", part)):
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    _write(_orders_table(orders), os.path.join(out_dir, "orders.parquet"))
    _write(_lineitem_table(lineitem), os.path.join(out_dir, "lineitem.parquet"))
    counts = {"orders": n_orders, "lineitem": len(lineitem["l_orderkey"])}

    if batches:
        cur_orders, cur_li = orders, lineitem
        next_key = n_orders
        per_batch = max(1, round(batch_frac * n_orders))
        for k in range(1, batches + 1):
            added = new_orders(np.arange(next_key, next_key + per_batch, dtype="int64"))
            next_key += per_batch
            added_li = _lineitems(rng, added["o_orderkey"], added["o_orderdate"], retail, n_supp)
            # amend existing certificates: move the effective date back
            # 400 days, which changes first-year status and so the rate
            pick = np.sort(rng.choice(len(cur_orders["o_orderkey"]), per_batch, replace=False))
            amended = _take(cur_orders, pick)
            amended["o_orderdate"] = np.maximum(amended["o_orderdate"] - 400, 0)
            cur_orders["o_orderdate"] = cur_orders["o_orderdate"].copy()
            cur_orders["o_orderdate"][pick] = amended["o_orderdate"]
            batch_orders = _concat(added, amended)
            batch_li = _concat(
                added_li,
                _take(cur_li, np.isin(cur_li["l_orderkey"], amended["o_orderkey"])),
            )
            bdir = os.path.join(out_dir, f"b{k}")
            _write(_orders_table(batch_orders), os.path.join(bdir, "orders.parquet"))
            _write(_lineitem_table(batch_li), os.path.join(bdir, "lineitem.parquet"))
            _write(customer, os.path.join(bdir, "customer.parquet"))
            cur_orders = _concat(cur_orders, added)
            cur_li = _concat(cur_li, added_li)
        fdir = os.path.join(out_dir, "final")
        _write(_orders_table(cur_orders), os.path.join(fdir, "orders.parquet"))
        _write(_lineitem_table(cur_li), os.path.join(fdir, "lineitem.parquet"))
        _write(customer, os.path.join(fdir, "customer.parquet"))
        counts["batch_orders"] = 2 * per_batch
    return counts
