"""Seeded input generation for the benchmark.

`make_fixtures` writes the ten tables of the driver contract (schemas as in
FIXTURES.md) at a given scale, from a fixed data seed: the same
parameters always give byte-identical tables, so every run of a workload
reads the same inputs. `make_increments` splits an events table into
seeded increments for the streaming workload.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "part group big sort query fast the").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US_PER_DAY = 86_400_000_000
EPOCH_2024 = 19723 * US_PER_DAY  # 2024-01-01 in microseconds
EPOCH_1995 = 9131 * US_PER_DAY   # 1995-01-01


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def make_fixtures(out, sf, seed=42):
    """Write region..embeddings at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})

    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 122, n_li) * US_PER_DAY)})

    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})

    # documents: 5 % are an earlier document's text plus " dup"
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors; 5 % are a noisy copy of an earlier one
    emb = rng.standard_normal((n_emb, 64))
    for i in range(10, n_emb):
        if rng.random() < 0.05:
            emb[i] = emb[int(rng.integers(0, i))] + rng.normal(0, 0.05, 64)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


LATE_WINDOW_US = 3_600_000_000  # within the 2 h watermark delay, with margin


def split_increments(ts, user, n_inc, seed, late_frac=0.3, redeliver_frac=0.3):
    """Plan the stream increments for events sorted by `ts`.

    Returns a list of `n_inc` index arrays (rows of the events table, a row
    listed twice is a re-delivery). Cut points are seeded. An event may be
    delayed to the next increment, or re-delivered in it, only if it is its
    user's last event in its own increment and lies within the last hour of
    that increment: it then stays inside the 2 h watermark, and every
    pipeline's result equals the batch result over the landed rows.
    """
    rng = np.random.default_rng(seed)
    n = len(ts)
    # sizes vary by +-20 % around the mean: the seed moves the cuts without
    # changing how the work splits between increments much
    weights = rng.uniform(0.8, 1.2, n_inc)
    cuts = np.round(np.cumsum(weights) / weights.sum() * n).astype(int)
    cuts[-1] = n
    bounds = list(zip(np.concatenate([[0], cuts[:-1]]), cuts))
    incs = [list(range(a, b)) for a, b in bounds]
    for k in range(n_inc - 1):
        a, b = bounds[k]
        if b <= a:
            continue
        tail_start = ts[b - 1] - LATE_WINDOW_US
        last_of_user = {}
        for i in range(a, b):
            last_of_user[user[i]] = i
        cands = sorted(i for i in last_of_user.values() if ts[i] >= tail_start)
        for i in cands:
            r = rng.random()
            if r < late_frac:
                incs[k].remove(i)
                incs[k + 1].insert(0, i)
            elif r < late_frac + redeliver_frac:
                incs[k + 1].insert(0, i)
    return [np.array(x, dtype=np.int64) for x in incs]


def make_increments(events_path, out, n_inc, seed):
    """Write `inc000.parquet`... into `out`; returns the increment names."""
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(events_path).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    user = t.column("user_id").to_numpy()
    names = []
    for k, idx in enumerate(split_increments(ts, user, n_inc, seed)):
        name = f"inc{k:03d}"
        pq.write_table(t.take(pa.array(idx)), os.path.join(out, f"{name}.parquet"))
        names.append(name)
    return names
