#!/usr/bin/env python3
"""Seeded synthetic input tables for the benchmark.

Writes the ten parquet tables the engine's loaders read (`region nation
customer supplier part orders lineitem events documents embeddings`) with
the column names, parquet types, row counts and value distributions of
the engine's seed-42 test data at the same sf, so every registry query and
its DuckDB oracle run on them unchanged; only the seed differs. The same
(seed, sf) always gives byte-identical files.

Row counts: customers 150k*sf, orders 10 per customer, lineitems 4 per
order on average (orderkey uniform, so 1 to ~17 lines per order), parts
200k*sf, suppliers 10k*sf, events 1M*sf spread uniformly over 720 hours
(30 days from 2024-01-01, ~139 per hour at sf0.1, user_id uniform over
15k*sf users), documents and embeddings max(500, 50k*sf) and
max(500, 20k*sf).

Usage: python3 gen_data.py <out_dir> <seed> <sf> [table,table,...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark query row column table key value join group sort "
         "filter scan hash merge window stream batch vector line part order "
         "customer agg big small fast slow").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
HOURS = 720
EPOCH_2024_US = 1704067200 * 1_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span, n):
    """Midnight timestamps (µs) `start + U[0, span)` days."""
    d0 = np.datetime64(start, "D").astype("int64")
    return ((d0 + rng.integers(0, span, n)) * 86_400_000_000).astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(sf):
    """Table name -> generator(rng) of its columns, at scale factor sf."""
    n_cust = max(10, int(150_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ord = n_cust * 10
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def region(rng):
        return {"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}

    def nation(rng):
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}

    def supplier(rng):
        return {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}

    def customer(rng):
        return {"c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust)}

    def part(rng):
        adj = np.array(["large", "small", "hot", "cold", "blue", "red", "new", "old"])
        noun = np.array(["ring", "bolt", "gear", "rod", "plate", "anvil", "gizmo", "widget"])
        return {"p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                                      rng.choice(noun, n_part)),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO",
                                      "MEDIUM"], n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}

    def orders(rng):
        return {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
                "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": days(rng, "1995-01-01", 2405, n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord)}

    def lineitem(rng):
        n_li = 4 * n_ord
        return {"l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
                "l_discount": money(rng, 0.0, 0.1, n_li),
                "l_tax": money(rng, 0.0, 0.08, n_li),
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": days(rng, "1995-01-02", 2498, n_li)}

    def events(rng):
        ts = np.sort(rng.integers(0, HOURS * 3600 * 1_000_000, n_ev)) + EPOCH_2024_US
        return {"event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}

    def documents(rng):
        texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))) for _ in range(n_doc)]
        # one in twenty ends in "dup"; a few of those are exact copies of
        # another, as the dedup queries expect
        dups = rng.choice(n_doc, n_doc // 20, replace=False)
        for i in dups:
            texts[i] += " dup"
        for a, b in rng.choice(dups, (n_doc // 600, 2), replace=False):
            texts[a] = texts[b]
        return {"doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(LANGS, n_doc, p=LANG_P),
                "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}

    def embeddings(rng):
        vecs = rng.normal(0, 1, (n_emb, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_emb).astype(np.int32)}

    return {"region": region, "nation": nation, "supplier": supplier,
            "customer": customer, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


def main(out, seed, sf, only=None):
    """Write the tables named in `only` (all when None). Each table draws
    from its own stream of the seed, so a subset equals the same tables
    of the full set."""
    os.makedirs(out, exist_ok=True)
    for i, (name, gen) in enumerate(tables(sf).items()):
        if only is None or name in only:
            write(out, name, gen(np.random.default_rng([seed, i])))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
         sys.argv[4].split(",") if len(sys.argv) > 4 else None)
