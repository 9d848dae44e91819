#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two input sets, both written with pyarrow so the same seed gives
byte-identical files:

* ``base``: the ten fixture tables the query suite reads (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings), one single-row-group parquet file each, with the schemas and
  value distributions of the repository's scale-factor fixtures.
* ``lake``: the raw lake of the Glue-equivalent ETL job: a multi-file
  ``events.parquet/`` directory spanning mid-October 2024 to mid-January
  2025 (so the job's 2024 filter drops rows) with repeated (user_id, date)
  pairs (so its dedup drops rows), plus the ``customer`` dimension.

Each generator writes ``gen_stats.json`` beside the tables, outside every
table path, recording row, key and file counts and the duplicate and
out-of-range shares. `run.py` calls `gen_base` and `gen_lake`.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def ts_array(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def cents(rng, lo, hi, n):
    """Uniform 2-decimal doubles in [lo, hi]."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def write(table, path):
    # one row group and no pandas metadata: the bytes depend only on the data
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def customers(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, SEGMENTS, n),
    })


def events(rng, n, users, start_us, span_us):
    """Events sorted by time with event_id following that order."""
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    values = np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts_array(ts),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": values,
        "props": pa.array(props[rng.integers(0, 100, n)], type=pa.string()),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, type=pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offsets = np.arange(0, n * dim + 1, dim, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel(), type=pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def gen_base(out, seed, scale):
    """The suite's fixture tables at scale factor `scale`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc = max(500, int(50_000 * scale))
    os.makedirs(out, exist_ok=True)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    tables["customer"] = customers(rng, n_cust)
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    d0, days = micros(dt.datetime(1995, 1, 1)), 2404
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_array(d0 + rng.integers(0, days, n_ord) * US_PER_DAY),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": ts_array(d0 + rng.integers(1, days + 95, n_line) * US_PER_DAY)})
    tables["events"] = events(rng, n_ev, max(15, n_cust // 10),
                              micros(dt.datetime(2024, 1, 1)), 30 * US_PER_DAY)
    tables["documents"] = documents(rng, n_doc)
    tables["embeddings"] = embeddings(rng, n_doc)
    for name, t in tables.items():
        write(t, os.path.join(out, f"{name}.parquet"))
    stats = {"kind": "base", "seed": seed, "scale": scale, "files": len(tables),
             "rows": {k: t.num_rows for k, t in tables.items()}}
    with open(os.path.join(out, "gen_stats.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    return stats


def gen_lake(out, seed, rows=200_000, users=2_000, files=8):
    """The ETL job's raw lake: three months of events around the end of
    2024, in `files` files."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "events.parquet"), exist_ok=True)
    cust = customers(rng, users)
    write(cust, os.path.join(out, "customer.parquet"))
    start = micros(dt.datetime(2024, 10, 16))
    span = micros(dt.datetime(2025, 1, 16)) - start
    # a tenth of the event users have no dimension row (left-join nulls)
    ev = events(rng, rows, users + users // 10, start, span)
    bounds = np.linspace(0, rows, files + 1).astype(int)
    for i in range(files):
        write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]),
              os.path.join(out, "events.parquet", f"part-{i:05d}.parquet"))
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    lo, hi = micros(dt.datetime(2024, 1, 1)), micros(dt.datetime(2025, 1, 1))
    inside = (ts >= lo) & (ts < hi)
    day = ts // US_PER_DAY
    uid = ev.column("user_id").to_numpy()
    pairs = np.unique(uid[inside] * 1_000_000 + day[inside]).size
    stats = {
        "kind": "lake", "seed": seed, "files": files + 1,
        "event_files": files, "rows": {"events": rows, "customer": users},
        "users": int(np.unique(uid).size),
        "user_date_keys": int(pairs),
        "out_of_range_share": round(float(1 - inside.mean()), 6),
        "duplicate_share": round(float(1 - pairs / max(1, inside.sum())), 6),
    }
    with open(os.path.join(out, "gen_stats.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    return stats

