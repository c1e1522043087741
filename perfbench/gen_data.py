#!/usr/bin/env python3
"""Writes the benchmark's input tables: one single-row-group parquet file per
table, with the schemas the engine's `graft.core.Tables` reads (a TPC-H-ish
star schema, an `events` stream, a `documents` corpus and an `embeddings`
table).

The generator is deterministic: the same `--scale` and `--seed` give the same
rows on every machine (Python's `random.Random` plus explicit rounding; no
wall clock, no hash ordering). The benchmark's committed fingerprints are
computed on the tables this writes at the benchmark's fixed scale and seed.

Usage: python3 gen_data.py --out DIR [--scale 0.01] [--seed 42]
"""
import argparse
import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
LABELS = 10


def day(start: dt.datetime, rng: random.Random, span_days: int) -> dt.datetime:
    return start + dt.timedelta(days=rng.randrange(span_days + 1))


def money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    # one row group per file, as in the engine's reference inputs: each scan
    # of a table is then a single task
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def generate(out: str, scale: float, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_lines = max(6000, int(6_000_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    # above 400: the incremental queries admit doc_id >= 400 against the
    # documents below it, so both sides need rows
    n_docs = max(600, int(50_000 * scale))
    n_vecs = max(300, int(20_000 * scale))
    n_users = max(15, n_events // 66)

    write(out, "region",
          {"r_regionkey": list(range(5)), "r_name": REGIONS},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write(out, "nation",
          {"n_nationkey": list(range(25)),
           "n_name": [f"NATION_{i}" for i in range(25)],
           "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))
    write(out, "customer",
          {"c_custkey": list(range(n_cust)),
           "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
           "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
           "c_acctbal": [money(rng, -999.99, 9999.99) for _ in range(n_cust)],
           "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]},
          pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                     ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                     ("c_mktsegment", pa.string())]))
    write(out, "supplier",
          {"s_suppkey": list(range(n_supp)),
           "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
           "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
           "s_acctbal": [money(rng, -999.99, 9999.99) for _ in range(n_supp)]},
          pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                     ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    write(out, "part",
          {"p_partkey": list(range(n_part)),
           "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                      for _ in range(n_part)],
           "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
           "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
           "p_size": [rng.randint(1, 50) for _ in range(n_part)],
           "p_retailprice": [round(900.0 + (i % 1000) / 10.0, 1)
                             for i in range(n_part)]},
          pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                     ("p_brand", pa.string()), ("p_type", pa.string()),
                     ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    o_start = dt.datetime(1995, 1, 1)
    o_span = (dt.datetime(2001, 8, 1) - o_start).days
    write(out, "orders",
          {"o_orderkey": list(range(n_orders)),
           "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
           "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
           "o_totalprice": [money(rng, 1000.0, 500000.0) for _ in range(n_orders)],
           "o_orderdate": [day(o_start, rng, o_span) for _ in range(n_orders)],
           "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)]},
          pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                     ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                     ("o_orderdate", pa.timestamp("us")),
                     ("o_orderpriority", pa.string())]))

    l_start = dt.datetime(1995, 1, 2)
    l_span = (dt.datetime(2001, 11, 4) - l_start).days
    write(out, "lineitem",
          {"l_orderkey": [rng.randrange(n_orders) for _ in range(n_lines)],
           "l_partkey": [rng.randrange(n_part) for _ in range(n_lines)],
           "l_suppkey": [rng.randrange(n_supp) for _ in range(n_lines)],
           "l_linenumber": [rng.randint(1, 7) for _ in range(n_lines)],
           "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_lines)],
           "l_extendedprice": [money(rng, 900.0, 105000.0) for _ in range(n_lines)],
           "l_discount": [rng.randint(0, 10) / 100.0 for _ in range(n_lines)],
           "l_tax": [rng.randint(0, 8) / 100.0 for _ in range(n_lines)],
           "l_returnflag": [rng.choice("ANR") for _ in range(n_lines)],
           "l_linestatus": [rng.choice("OF") for _ in range(n_lines)],
           "l_shipdate": [day(l_start, rng, l_span) for _ in range(n_lines)]},
          pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                     ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                     ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                     ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                     ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                     ("l_shipdate", pa.timestamp("us"))]))

    # events arrive in time order over 30 days, microsecond timestamps
    e_start = dt.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(30 * 86_400_000_000) for _ in range(n_events))
    write(out, "events",
          {"event_id": list(range(n_events)),
           "ts": [e_start + dt.timedelta(microseconds=o) for o in offsets],
           "user_id": [rng.randrange(n_users) for _ in range(n_events)],
           "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
           "value": [round(rng.expovariate(1 / 60.0) + 0.01, 2) for _ in range(n_events)],
           "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)]},
          pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                     ("user_id", pa.int64()), ("event_type", pa.string()),
                     ("value", pa.float64()), ("props", pa.string())]))

    # documents: random word sequences; 5% are near-duplicates, a copy of
    # another document with " dup" appended
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99)))
             for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), n_docs // 20):
        j = rng.randrange(n_docs)
        while j == i:
            j = rng.randrange(n_docs)
        texts[i] = texts[j] + " dup"
    write(out, "documents",
          {"doc_id": list(range(n_docs)),
           "text": texts,
           "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs),
           "source": [f"src{i % 20}" for i in range(n_docs)],
           "n_chars": [len(t) for t in texts]},
          pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                     ("lang", pa.string()), ("source", pa.string()),
                     ("n_chars", pa.int64())]))

    # embeddings: unit vectors, weakly clustered by label
    centroids = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(LABELS)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        label = rng.randrange(LABELS)
        v = [rng.gauss(0.0, 1.0) + 0.15 * c for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    write(out, "embeddings",
          {"vec_id": list(range(n_vecs)), "embedding": vecs, "label": labels},
          pa.schema([("vec_id", pa.int64()),
                     ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32())]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out, a.scale, a.seed)


if __name__ == "__main__":
    main()
