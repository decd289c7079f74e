"""Seeded input generator for the benchmark.

Writes the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`) as parquet,
with the schemas and value domains of the engine's test data
(FIXTURES.md): a TPC-H-ish star schema, an `events` table, a word-bag
`documents` corpus with exact and near ("<text> dup") duplicates, and
unit-norm 64-d `embeddings` clustered by label. The same seed and scale
give byte-identical files.

Usage: python3 gen.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.45, 0.15, 0.13, 0.12, 0.15]

DAY_MS = 86_400_000
ORDER_T0 = np.datetime64("1995-01-01", "ms").astype(np.int64)
EVENT_T0 = np.datetime64("2024-01-01", "ns").astype(np.int64)


def sizes(sf):
    def n(base, floor=1):
        return max(floor, int(round(base * sf)))
    return dict(customer=n(150_000), supplier=n(10_000), part=n(200_000),
                orders=n(1_500_000), lineitem=n(6_000_000),
                events=n(1_000_000), users=n(15_000, 150),
                documents=n(50_000, 500), embeddings=n(20_000, 500))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:                 # near duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:              # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centroids = rng.normal(size=(labels, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    v = 0.5 * centroids[label] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tables(seed, sf):
    """Yield (name, pyarrow.Table) for every table, in a fixed order."""
    rng = np.random.default_rng(seed)
    s = sizes(sf)
    yield "region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": pa.array(REGIONS, pa.string())})
    yield "nation", pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no, nl = s["customer"], s["supplier"], s["part"], s["orders"], s["lineitem"]
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, ns))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1))})
    day = lambda n, lo, hi: pa.array((ORDER_T0 + rng.integers(lo, hi, n) * DAY_MS)
                                     .astype("datetime64[ms]"), pa.timestamp("ms"))
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(money(rng, 1000, 500_000, no)),
        "o_orderdate": day(no, 0, 2404),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 105_000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": day(nl, 1, 2499)})
    ne = s["events"]
    ts = np.sort(EVENT_T0 + rng.integers(0, 30 * DAY_MS * 1_000_000, ne))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())})
    yield "documents", documents(rng, s["documents"])
    yield "embeddings", embeddings(rng, s["embeddings"])


def shuffled(table, rng):
    """The same rows in a seeded order (the engine must not depend on it)."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng([seed, 1])
    for name, t in tables(seed, sf):
        pq.write_table(shuffled(t, order), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
