#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Everything a workload reads is written here, before timing starts; the
system under test only ever sees these files. The same (workload, seed,
scale) always yields byte-identical tables and op sequences.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [scale]

scale 1.0 is the sf0.1 shape of the TPC-H-style test data (150k orders,
~600k lineitem rows); scale 0.01 is the sf0.001 smoke shape.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["F", "O", "P"]
PART_ADJ = ["cold", "hot", "smooth", "rough", "bright", "dark", "tiny", "huge"]
PART_NOUN = ["widget", "gadget", "bolt", "gear", "spring", "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]
DAY_US = 86_400_000_000
T0 = int(np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64))
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02
SPLIT_US = int(np.datetime64("1995-06-17T00:00:00", "us").astype(np.int64))

# ledger_dml: the fixed op schedule, repeated. Kinds follow a fixed order
# (so every seed runs the same mix in the same places); the seed chooses
# keys, values and versions. 16 commits per cycle, the last a compaction.
# The nine appends sit in the middle of the latency order (above the
# reads, below the other writes), so the median op is a small append, the
# purest per-commit cost. Lookups slow down once deletion vectors exist,
# so the two deletion-vector writes come late: seven of the nine lookups
# precede them and hold the median read.
LEDGER_CYCLE = ["merge_api", "lookup", "append", "delete", "lookup", "append", "merge_sql",
                "lookup", "append", "update", "count_state", "append", "lookup", "append",
                "time_travel", "lookup", "append", "history", "lookup", "append", "lookup",
                "delete_mor", "append", "lookup", "update_mor", "append", "lookup", "compact"]
NEW_KEY_BASE = 1_000_000_000
DASH_QUERIES = ["q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
                "q9_profit_nation", "q18_large_orders", "q_total_amount",
                "q_amount_by_priority", "q_count_by_state"]
# dashboard_scan: each query once per cycle, each followed by a range or a
# point read of the GraftTable, and four more point reads: 12 reads of 20
# ops, so the median op is a read rather than the gap between reads and
# queries
DASH_CYCLE = [k for i, q in enumerate(DASH_QUERIES)
              for k in (q, "range_read" if i % 2 == 0 else "point_read")] + ["point_read"] * 4
PROBE_ID_BASE = 900_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def write(table, path):
    pq.write_table(table, path, row_group_size=64 * 1024)


def orders_table(rng, keys, n_cust):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(money(rng, 900.0, 450_000.0, n)),
        "o_orderdate": ts(T0 + rng.integers(0, ORDER_DAYS, n) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


# ---------------------------------------------------------------- ledger_dml

def gen_ledger(rng, out, scale):
    n = max(1500, int(150_000 * scale))
    n_cust = max(150, n // 10)
    write(orders_table(rng, np.arange(n), n_cust), f"{out}/orders.parquet")
    merge_rows, append_rows, ops = [], [], []
    merge_n, append_n = max(20, int(500 * min(scale * 10, 1))), max(40, int(1000 * min(scale * 10, 1)))
    for b in range(8):
        for kind in LEDGER_CYCLE:
            i = len(ops)
            op = {"id": i, "kind": str(kind)}
            new_base = NEW_KEY_BASE + i * 10_000
            if kind in ("merge_api", "merge_sql"):
                # 80% matched keys from one seeded key window (a localized
                # upsert touches few files), 20% fresh keys
                matched = merge_n * 4 // 5
                lo = int(rng.integers(0, n - 2 * matched))
                keys = np.concatenate([
                    np.sort(rng.choice(np.arange(lo, lo + 2 * matched), matched, replace=False)),
                    new_base + np.arange(merge_n - matched)])
                t = orders_table(rng, keys, n_cust)
                merge_rows.append(t.append_column("op", pa.array(np.full(len(keys), i), pa.int64())))
            elif kind == "append":
                t = orders_table(rng, new_base + np.arange(append_n), n_cust)
                append_rows.append(t.append_column("op", pa.array(np.full(append_n, i), pa.int64())))
            elif kind in ("delete", "delete_mor"):
                # one customer's orders, GDPR style: 20 keys of one key window
                lo = int(rng.integers(0, n - 400))
                op["keys"] = sorted(int(k) for k in lo + rng.choice(400, 20, replace=False))
            elif kind in ("update", "update_mor"):
                lo = int(rng.integers(0, n - 200))
                op["lo"], op["hi"] = lo, lo + 199
                op["priority"] = PRIORITIES[int(rng.integers(0, 5))]
            elif kind == "lookup":
                op["keys"] = sorted(int(k) for k in rng.choice(n, 20, replace=False))
            elif kind == "time_travel":
                # a seeded fraction of the way back through the history
                op["back"] = float(rng.uniform(0.2, 0.8))
            ops.append(op)
    write(pa.concat_tables(merge_rows), f"{out}/merge_rows.parquet")
    write(pa.concat_tables(append_rows), f"{out}/append_rows.parquet")
    # set-up grows the history with metadata-only commits, so the timed ops
    # run against a table of hundreds of versions (log listing, replay and
    # history are O(versions))
    meta = {"rows": n, "merge_rows": merge_n, "append_rows": append_n, "period": len(LEDGER_CYCLE),
            "grow_versions": max(30, int(300 * min(scale * 10, 1))),
            "compact_min_files": 6, "open_sample_every": 4,
            "check_back": float(rng.uniform(0.3, 0.7)), "ops": ops}
    with open(f"{out}/ops.json", "w") as f:
        json.dump(meta, f)


# ------------------------------------------------------------ dashboard_scan

def gen_dashboard(rng, out, scale):
    n_ord = max(1500, int(150_000 * scale))
    n_cust, n_supp, n_part = max(150, n_ord // 10), max(10, n_ord // 150), max(200, n_ord // 7)
    write(pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                    "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
          f"{out}/nation.parquet")
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.0, 9999.0, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }), f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.0, 9999.0, n_supp)),
    }), f"{out}/supplier.parquet")
    retail = money(rng, 900.0, 2000.0, n_part)
    write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 6, n_part))]),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in
                             zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 5, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(retail),
    }), f"{out}/part.parquet")
    odate = T0 + rng.integers(0, ORDER_DAYS, n_ord) * DAY_US
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(rng, 900.0, 450_000.0, n_ord)),
        "o_orderdate": ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    m = len(okey)
    lnum = np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    part = rng.integers(0, n_part, m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, m) * DAY_US
    rflag = np.where(ship <= SPLIT_US, np.array(["R", "A"])[rng.integers(0, 2, m)], "N")
    write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[part], 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rflag),
        "l_linestatus": pa.array(np.where(ship > SPLIT_US, "O", "F")),
        "l_shipdate": ts(ship),
    }), f"{out}/lineitem.parquet")
    ops = []
    for b in range(200):
        for kind in DASH_CYCLE:
            op = {"id": len(ops), "kind": str(kind)}
            if kind == "range_read":
                width = max(8, n_ord // 500)
                op["lo"] = int(rng.integers(0, n_ord - width))
                op["hi"] = op["lo"] + width - 1
            elif kind == "point_read":
                op["keys"] = sorted(int(k) for k in rng.choice(n_ord, 20, replace=False))
            ops.append(op)
    with open(f"{out}/ops.json", "w") as f:
        json.dump({"orders": n_ord, "lineitem": m, "period": len(DASH_CYCLE), "ops": ops}, f)


# ----------------------------------------------------------- curation_stream

def vocabulary(rng, n=400):
    cons, vow = list("bcdfghjklmnprstvwz"), list("aeiou")
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(cons[rng.integers(0, len(cons))] + vow[rng.integers(0, len(vow))]
                          for _ in range(k)))
    return sorted(words)


def docs_table(ids, texts, rng):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "es", "fr"])[rng.integers(0, 4, len(ids))]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 8, len(ids))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_curation(rng, out, scale):
    vocab = np.array(vocabulary(rng))
    n0, batch = max(200, int(1000 * min(scale * 10, 1))), max(40, int(100 * min(scale * 10, 1)))
    n_probe = max(20, batch // 2)

    def fresh(k):
        return [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 41)))])
                for _ in range(k)]

    def edit(text):
        w = text.split(" ")
        w[int(rng.integers(3, len(w) - 3))] = str(vocab[rng.integers(0, len(vocab))])
        return " ".join(w)

    texts = fresh(n0)
    next_id = n0
    write(docs_table(list(range(n0)), texts, rng), f"{out}/initial.parquet")
    cycles, dups = [], []
    for c in range(1, 13):
        n_dup, n_near = batch * 3 // 20, batch * 3 // 20
        new = fresh(batch - n_dup - n_near)
        src = rng.integers(0, len(texts), n_dup + n_near)
        dup_txt = [texts[s] for s in src[:n_dup]]
        near_txt = [edit(texts[s]) for s in src[n_dup:]]
        order = rng.permutation(batch)
        btexts = np.array(new + dup_txt + near_txt, dtype=object)[order].tolist()
        bids = list(range(next_id, next_id + batch))
        is_dup = np.array([False] * len(new) + [True] * n_dup + [False] * n_near)[order]
        dups.extend(int(i) for i, d in zip(bids, is_dup) if d)
        next_id += batch
        texts.extend(btexts)
        write(docs_table(bids, btexts, rng), f"{out}/batch_{c:03d}.parquet")
        cycles.append({"cycle": c, "first_id": bids[0], "last_id": bids[-1]})
    # the probe screens a fixed set against the growing index: half are
    # near-duplicate edits of the initial corpus, half fresh text
    ptexts = [edit(texts[s]) for s in rng.integers(0, n0, n_probe // 2)] + fresh(n_probe - n_probe // 2)
    write(docs_table(list(range(PROBE_ID_BASE, PROBE_ID_BASE + n_probe)), ptexts, rng),
          f"{out}/probe.parquet")
    with open(f"{out}/meta.json", "w") as f:
        json.dump({"initial_docs": n0, "batch_docs": batch, "probe_docs": n_probe,
                   "cycles": cycles, "exact_dups": dups}, f)


GENERATORS = {"ledger_dml": gen_ledger, "dashboard_scan": gen_dashboard,
              "curation_stream": gen_curation}


def generate(workload, seed, out, scale=1.0):
    os.makedirs(out, exist_ok=True)
    # the workload name salts the seed, so workloads never share a stream
    salt = sum(ord(ch) * (i + 1) for i, ch in enumerate(workload))
    GENERATORS[workload](np.random.default_rng([seed, salt]), out, scale)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
             float(sys.argv[4]) if len(sys.argv) > 4 else 1.0)
