"""Seeded catalog tables for the graft benchmark's `queries` layer.

`SparkEntry.queries` reads ten parquet tables from one directory: a
TPC-H-ish star schema (region, nation, customer, supplier, part, orders,
lineitem), an `events` stream, `documents` (short word-soup texts with a
language and a source) and `embeddings` (64-dim unit vectors with one of
ten labels). This module writes tables of that schema and of the smallest
scale the catalog is tested at (150 customers, 1,500 orders, about 6,000
line items, 1,000 events, 500 documents, 500 vectors), drawn from the seed.
"""
import datetime
import math
import os
import random

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["cold", "small", "large", "red", "blue", "green"],
              ["widget", "bolt", "gear", "spring", "valve"])
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a the data spark table row column vector join group agg sort "
             "hash merge filter window scan query key value line order part "
             "customer batch stream fast slow big small").split()
DOC_LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"] * 2
# The traced run's catalog step: one query of each `*Queries` module of
# `SparkEntry.queries`. The codec queries sit in PipelineQueries and
# MediaQueries; v25 and g6 persist sidecars on their first run.
PICKS = [
    ("RelationalQueries", "q1_agg"),
    ("PipelineQueries", "p8_cid_pdf"),
    ("VectorQueries", "v25_routed_maintained_serve"),
    ("DedupQueries", "d3_minhash_lsh_pairs"),
    ("TextAnalysisQueries", "x25_lex_pruned_bm25"),
    ("EventQueries", "w3_sessionization"),
    ("MediaQueries", "m3_jpeg_decode"),
    ("ExtendedQueries", "j6_asof_join"),
    ("SamplingQueries", "g6_cluster_balance"),
    ("DecisionSupportQueries", "a14_cube"),
    ("WarehouseQueries", "q13_custdist"),
    ("SeriesQueries", "w10_gapfill"),
    ("SupplyChainQueries", "q9_profit"),
]
SIZES = dict(customers=150, suppliers=10, parts=200, orders=1500, users=15,
             events=1000, documents=500, vectors=500, dim=64, labels=10)
EPOCH_ORDERS = datetime.datetime(1995, 1, 1)
EPOCH_EVENTS = datetime.datetime(2024, 1, 1)


def _money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def tables(seed):
    """{table: (column names, rows)} for one seed."""
    rng = random.Random(seed * 104729 + 17)
    n = SIZES
    out = {
        "region": (["r_regionkey", "r_name"], [(i, r) for i, r in enumerate(REGIONS)]),
        "nation": (["n_nationkey", "n_name", "n_regionkey"],
                   [(i, "NATION_%d" % i, i % 5) for i in range(25)]),
        "customer": (["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
                     [(i, "Customer#%09d" % i, rng.randrange(25), _money(rng, -999, 9999),
                       rng.choice(SEGMENTS)) for i in range(n["customers"])]),
        "supplier": (["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
                     [(i, "Supplier#%09d" % i, rng.randrange(25), _money(rng, -999, 9999))
                      for i in range(n["suppliers"])]),
        "part": (["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
                 [(i, "%s %s" % (rng.choice(PART_WORDS[0]), rng.choice(PART_WORDS[1])),
                   "Brand#%d" % rng.randrange(1, 26), rng.choice(PART_TYPES),
                   rng.randint(1, 50), round(900 + (i % 200) / 10.0, 1))
                  for i in range(n["parts"])]),
    }
    orders, lines = [], []
    for o in range(n["orders"]):
        date = EPOCH_ORDERS + datetime.timedelta(days=rng.randrange(2404))
        orders.append((o, rng.randrange(n["customers"]), rng.choice(STATUSES),
                       _money(rng, 1000, 480000), date, rng.choice(PRIORITIES)))
        # about one order in fifty has no line items
        for ln in range(1, (rng.randint(1, 7) if rng.random() > 0.02 else 0) + 1):
            qty = float(rng.randint(1, 50))
            ship = date + datetime.timedelta(days=rng.randint(1, 120))
            lines.append((o, rng.randrange(n["parts"]), rng.randrange(n["suppliers"]), ln,
                          qty, round(qty * rng.uniform(900, 2000), 2),
                          rng.randint(0, 10) / 100.0, rng.randint(0, 8) / 100.0,
                          rng.choice("ANR"), rng.choice("FO"), ship))
    out["orders"] = (["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                      "o_orderdate", "o_orderpriority"], orders)
    out["lineitem"] = (["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                        "l_returnflag", "l_linestatus", "l_shipdate"], lines)
    span_us = 30 * 86400 * 10 ** 6
    stamps = sorted(rng.randrange(span_us) for _ in range(n["events"]))
    out["events"] = (["event_id", "ts", "user_id", "event_type", "value", "props"],
                     [(i, EPOCH_EVENTS + datetime.timedelta(microseconds=t),
                       rng.randrange(n["users"]), rng.choice(EVENT_TYPES),
                       _money(rng, 0, 330), '{"k": %d}' % rng.randrange(100))
                      for i, t in enumerate(stamps)])
    docs = []
    for i in range(n["documents"]):
        words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90))]
        if rng.random() < 0.05:
            words.insert(rng.randrange(len(words)), "dup")
        text = " ".join(words)
        docs.append((i, text, rng.choice(DOC_LANGS), "src%d" % (i % 20), len(text)))
    out["documents"] = (["doc_id", "text", "lang", "source", "n_chars"], docs)
    vecs = []
    for i in range(n["vectors"]):
        v = [rng.gauss(0.0, 1.0) for _ in range(n["dim"])]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append((i, [x / norm for x in v], rng.randrange(n["labels"])))
    out["embeddings"] = (["vec_id", "embedding", "label"], vecs)
    return out


def write(directory, seed):
    """Write the ten tables as `<directory>/<table>.parquet`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    i32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey", "s_nationkey",
           "p_size", "l_linenumber", "label"}
    os.makedirs(directory, exist_ok=True)
    for name, (cols, rows) in tables(seed).items():
        arrays = []
        for j, c in enumerate(cols):
            values = [r[j] for r in rows]
            if c == "embedding":
                typ = pa.list_(pa.float32())
            elif c in i32:
                typ = pa.int32()
            elif isinstance(values[0], datetime.datetime):
                typ = pa.timestamp("us")
            elif isinstance(values[0], int):
                typ = pa.int64()
            else:
                typ = None
            arrays.append(pa.array(values, type=typ))
        pq.write_table(pa.Table.from_arrays(arrays, names=cols),
                       os.path.join(directory, name + ".parquet"))
