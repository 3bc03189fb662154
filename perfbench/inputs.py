"""Seeded input tables for the benchmark, written as Parquet.

Every table is a pure function of its seed. The pipeline and the
extraction levels read only `documents.parquet`; the operator suite reads
all ten tables, in the shapes `graft.SparkEntry` expects.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a data join filter window row key order sort table scan merge part "
         "hash batch stream spark small big fast slow group query value line "
         "customer column vector agg").split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]


def doc_id_offset(seed):
    """Seed-derived first doc id (ids stay below 10^9, the replicate stride)."""
    return (seed % 99991) * 1000


def write_documents(path, seed, n, offset, files=1):
    """`n` docs with ids from `offset`; with `files` > 1, `path` is a
    directory of that many Parquet files, so a reader gets one split each."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 80)))
             for _ in range(n)]
    t = pa.table({
        "doc_id": pa.array([offset + i for i in range(n)], pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    if files == 1:
        pq.write_table(t, path)
        return
    os.mkdir(path)
    step = -(-n // files)
    for i in range(files):
        pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def write_operator_tables(dirname, seed=0):
    """The ten tables of the operator suite, at the 0.001 scale factor."""
    rng = random.Random(seed)
    write_documents(f"{dirname}/documents.parquet", seed, 500, 0)

    def table(name, cols):
        pq.write_table(pa.table(cols), f"{dirname}/{name}.parquet")

    table("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    table("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    table("supplier", {"s_suppkey": pa.array(range(10), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(10)],
                       "s_nationkey": pa.array([rng.randrange(25) for _ in range(10)], pa.int32()),
                       "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(10)]})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    table("customer", {"c_custkey": pa.array(range(150), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(150)],
                       "c_nationkey": pa.array([rng.randrange(25) for _ in range(150)], pa.int32()),
                       "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(150)],
                       "c_mktsegment": [rng.choice(segments) for _ in range(150)]})
    adjs, nouns = ["cold", "small", "large", "red", "blue"], ["widget", "bolt", "gear", "nut"]
    table("part", {"p_partkey": pa.array(range(200), pa.int64()),
                   "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(200)],
                   "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(200)],
                   "p_type": [rng.choice(["ECONOMY", "PROMO", "STANDARD"]) for _ in range(200)],
                   "p_size": pa.array([rng.randrange(1, 51) for _ in range(200)], pa.int32()),
                   "p_retailprice": [round(900 + i / 10, 2) for i in range(200)]})
    day0 = datetime.datetime(1992, 1, 1)
    odates = [day0 + datetime.timedelta(days=rng.randrange(3650)) for _ in range(1500)]
    table("orders", {"o_orderkey": pa.array(range(1500), pa.int64()),
                     "o_custkey": pa.array([rng.randrange(150) for _ in range(1500)], pa.int64()),
                     "o_orderstatus": [rng.choice("FOP") for _ in range(1500)],
                     "o_totalprice": [round(rng.uniform(1000, 400000), 2) for _ in range(1500)],
                     "o_orderdate": pa.array(odates, pa.timestamp("us")),
                     "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                     "4-NOT SPECIFIED", "5-LOW"])
                                         for _ in range(1500)]})
    orderkeys = [rng.randrange(1500) for _ in range(6000)]
    table("lineitem", {
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array([rng.randrange(200) for _ in range(6000)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(10) for _ in range(6000)], pa.int64()),
        "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(6000)], pa.int32()),
        "l_quantity": [float(rng.randrange(1, 51)) for _ in range(6000)],
        "l_extendedprice": [round(rng.uniform(900, 100000), 2) for _ in range(6000)],
        "l_discount": [rng.randrange(11) / 100 for _ in range(6000)],
        "l_tax": [rng.randrange(9) / 100 for _ in range(6000)],
        "l_returnflag": [rng.choice("ANR") for _ in range(6000)],
        "l_linestatus": [rng.choice("FO") for _ in range(6000)],
        "l_shipdate": pa.array([odates[k] + datetime.timedelta(days=rng.randrange(1, 122))
                                for k in orderkeys], pa.timestamp("us")),
    })
    ts0 = datetime.datetime(2024, 1, 1)
    ts = sorted(ts0 + datetime.timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(1000))
    table("events", {"event_id": pa.array(range(1000), pa.int64()),
                     "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": pa.array([rng.randrange(15) for _ in range(1000)], pa.int64()),
                     "event_type": [rng.choice(["click", "purchase", "error", "signup", "view"])
                                    for _ in range(1000)],
                     "value": [round(rng.uniform(0, 200), 2) for _ in range(1000)],
                     "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(1000)]})
    table("embeddings", {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array([[rng.gauss(0, 0.1) for _ in range(64)] for _ in range(500)],
                              pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(500)], pa.int32())})
