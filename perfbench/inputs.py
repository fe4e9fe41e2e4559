"""The benchmark's inputs: the retail + corpus tables graft reads
(graft.sources.Tables), in the layout of the repository's sf 0.01 test
tables.

generate(sf) builds the rows from a FIXED content seed, so every
workload seed sees the same rows and the outputs are seed-invariant.
The value distributions follow the test tables, measured column by
column (see README.md, "Inputs"): uniform keys, dates and prices; 1,500
customers, 15,000 orders and 60,000 lines at sf 0.01 with non-unique
(l_orderkey, l_linenumber); documents of 10-99 tokens drawn uniformly
from a 30-word vocabulary, 5% of them an exact copy of another document
with " dup" appended; random unit embeddings with random labels.
stage() writes them in a seed-chosen row order, cut into files at
seed-chosen positions; stage_feeds() chops the stream feeds into
single-file chunks by a seeded assignment.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240917
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings"]
# micro-batches per stream feed. Warm lineitem batches (about 2.5 s on
# four cores) lie between the warm vector batches (about 1 s) and the
# document batches and cold first batches (3.5-7 s); with 5/2/3 chunks
# the run's median batch falls in the middle of the four warm lineitem
# batches, not between op kinds
FEEDS = {"lineitem": 5, "documents": 2, "embeddings": 3}
# The file count per table is fixed; only the cut positions vary with the
# seed. The count changes plans: FactStream's stream-static join streams
# the static orders side when a feed chunk is the smaller side, so its
# sink writes one file per month per orders file and micro-batch, and a
# seeded 1-4 files made the stored bytes of stream_ingest jump 2.3x
# between seeds. The test tables are one file each; two keeps the
# per-batch sink cost of FactStream near theirs while the cut still
# varies with the seed.
FILES = 2
VOCAB = ("join hash row batch scan column customer filter small slow merge order vector "
         "line data table agg value key stream window a spark part group big sort query "
         "fast the").split()
DUP_SHARE = 0.05
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64


def generate(sf):
    """Every table at scale factor sf, as pyarrow tables."""
    r = np.random.default_rng(CONTENT_SEED)
    n_cust = max(10, int(150000 * sf))
    n_supp = max(5, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_orders = max(40, int(1500000 * sf))
    n_lines = 4 * n_orders
    n_docs = max(40, int(50000 * sf))

    def money(lo, hi, n):
        return np.round(lo + r.random(n) * (hi - lo), 2)

    def pick(xs, n):
        return np.asarray(xs, dtype=object)[r.integers(0, len(xs), n)]

    def i64(x):
        return pa.array(x, pa.int64())

    def i32(x):
        return pa.array(x, pa.int32())

    def days(offsets):
        day0 = np.datetime64("1995-01-01", "us")
        return pa.array(day0 + offsets * np.timedelta64(86400 * 10**6, "us"),
                        pa.timestamp("us"))

    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])})
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(r.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(r.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": i64(keys),
        "p_name": [f"{a} {b}" for a, b in zip(pick(ADJECTIVES, n_part), pick(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": i32(r.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)})
    # order dates 1995-01-01 .. 2001-08-01; ship dates 1995-01-02 ..
    # 2001-11-04, drawn independently of the line's order, as in the
    # test tables
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_orders)),
        "o_custkey": i64(r.integers(0, n_cust, n_orders)),
        "o_orderstatus": pick(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": days(r.integers(0, 2405, n_orders)),
        "o_orderpriority": pick(PRIORITIES, n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": i64(r.integers(0, n_orders, n_lines)),
        "l_partkey": i64(r.integers(0, n_part, n_lines)),
        "l_suppkey": i64(r.integers(0, n_supp, n_lines)),
        "l_linenumber": i32(r.integers(1, 8, n_lines)),
        "l_quantity": r.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_lines),
        "l_discount": money(0, 0.1, n_lines),
        "l_tax": money(0, 0.08, n_lines),
        "l_returnflag": pick(["A", "N", "R"], n_lines),
        "l_linestatus": pick(["F", "O"], n_lines),
        "l_shipdate": days(r.integers(1, 2500, n_lines))})
    # documents: uniform token bags; DUP_SHARE of them are an exact copy
    # of another document (possibly itself a copy) with " dup" appended
    texts = [" ".join(pick(VOCAB, int(r.integers(10, 100)))) for _ in range(n_docs)]
    for i in np.sort(r.choice(n_docs, int(n_docs * DUP_SHARE), replace=False)):
        j = int(r.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": i64(range(n_docs)), "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[r.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(x) for x in texts])})
    # embeddings: random unit vectors; labels carry no geometry
    v = r.standard_normal((n_docs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": i64(range(n_docs)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(r.integers(0, 10, n_docs))})
    return t


def read(in_dir):
    """The tables of an existing directory (one parquet file or directory each)."""
    return {name: pq.read_table(os.path.join(in_dir, f"{name}.parquet")) for name in TABLES}


def stage(tables, out_dir, seed):
    """Write every table as out_dir/<table>.parquet/ in FILES files, rows
    in a seeded order, file sizes seeded."""
    r = np.random.default_rng(seed)
    for name in TABLES:
        tb = tables[name]
        tb = tb.take(r.permutation(tb.num_rows))
        d = os.path.join(out_dir, f"{name}.parquet")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        # file sizes vary with the seed by at most 3x, so no file is empty
        weights = np.cumsum(r.uniform(0.5, 1.5, FILES))
        bounds = [0] + [int(tb.num_rows * w / weights[-1]) for w in weights[:-1]] + [tb.num_rows]
        for k in range(FILES):
            pq.write_table(tb.slice(bounds[k], bounds[k + 1] - bounds[k]),
                           os.path.join(d, f"part-{k:05d}.parquet"))


def stage_feeds(tables, out_dir, seed):
    """Chop each stream feed into FEEDS[feed] single-file chunks by a seeded
    assignment, with increasing mtimes: Spark's file source reads oldest
    first, so with maxFilesPerTrigger=1 each chunk is one micro-batch."""
    r = np.random.default_rng(seed + 1)
    for name, chunks in FEEDS.items():
        tb = tables[name]
        part = r.integers(0, chunks, tb.num_rows)
        d = os.path.join(out_dir, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for k in range(chunks):
            f = os.path.join(d, f"chunk{k:03d}.parquet")
            pq.write_table(tb.filter(pa.array(part == k)), f)
            stamp = 1700000000 + 10 * k
            os.utime(f, (stamp, stamp))
