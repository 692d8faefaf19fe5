"""Seed-independent inputs of the benchmark: a TPC-H-shaped star schema
(customer, part, orders, lineitem; the columns the engine's star analog
reads).

The tables are a pure function of (GEN_VERSION, scale), so every run and
every seed reads the same rows; the workload seed only permutes the row
order of the staged CSV and draws the refresh batches. Unlike a uniform fixture the
purchases carry a learnable signal -- item popularity is Zipf-skewed and
each customer leans towards one of a few taste groups -- so recall@10 and
NDCG@10 gauge the models instead of reading near-random values.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
BASE_SEED = 20240917
TASTE_GROUPS = 16
EPOCH_DAY_1995 = 9131  # 1995-01-01
DAYS = 2404  # up to 2001-08-01
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "green", "old"]
NOUN = ["ring", "bolt", "widget", "gear", "pipe", "valve", "plate", "screw"]


def counts(scale):
    """Row counts of the TPC-H-shaped tables at `scale` (sf units)."""
    return {"customer": int(150000 * scale), "part": int(200000 * scale),
            "orders": int(1500000 * scale), "lineitem": int(6000000 * scale)}


def _ts_ms(days):
    return pa.array(days.astype("int64") * 86400000, pa.timestamp("ms"))


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def generate(out_dir, scale):
    """Write customer/part/orders/lineitem parquet under out_dir."""
    n = counts(scale)
    rng = np.random.default_rng(BASE_SEED)
    nc, np_, no, nl = n["customer"], n["part"], n["orders"], n["lineitem"]
    os.makedirs(out_dir, exist_ok=True)

    ck = np.arange(nc, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    }), f"{out_dir}/customer.parquet")

    pk = np.arange(np_, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, np_)]),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), f"{out_dir}/part.parquet")

    odays = EPOCH_DAY_1995 + rng.integers(0, DAYS, no)
    ocust = rng.integers(0, nc, no).astype(np.int64)
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": ocust,
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts_ms(odays),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, no)]),
    }), f"{out_dir}/orders.parquet")

    # purchases: half from the customer's taste group (a contiguous slice of
    # a shuffled catalog), half from the Zipf-skewed global popularity
    lok = rng.integers(0, no, nl).astype(np.int64)
    group = ocust[lok] % TASTE_GROUPS
    catalog = rng.permutation(np_)
    per_group = max(1, np_ // TASTE_GROUPS)
    in_group = catalog[(group * per_group + rng.integers(0, per_group, nl)) % np_]
    pop = 1.0 / np.arange(1, np_ + 1) ** 0.8
    popular = rng.permutation(np_)[rng.choice(np_, nl, p=pop / pop.sum())]
    lpk = np.where(rng.random(nl) < 0.5, in_group, popular).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": lpk,
        "l_suppkey": rng.integers(0, max(1, nc // 15), nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (lpk % 1000) / 10.0), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts_ms(odays[lok] + rng.integers(1, 121, nl)),
    }), f"{out_dir}/lineitem.parquet")


def ensure(root, scale):
    """Generate (once per checkout) the star at `scale`; returns its dir."""
    base = os.path.join(root, f"v{GEN_VERSION}_sf{scale}")
    if not os.path.exists(os.path.join(base, "_DONE")):
        shutil.rmtree(base, ignore_errors=True)
        generate(base, scale)
        open(os.path.join(base, "_DONE"), "w").close()
    return base
