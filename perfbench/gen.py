"""Seeded inputs of the benchmark, built from the corpus it ships.

`perfbench/corpus/sf0.1/` is a byte-identical copy of the engine's
sf0.1 test corpus (the ten tables every registered query reads; their
sha256 sums are listed in the README). Every input is derived from it,
written once under the benchmark's own scratch space and regenerated
when absent:

* the corpus variants of the query workloads: `--seed` mod 4 picks
  variant k, which is the corpus without bucket k of a fixed 32-way
  random split of `documents` and of `embeddings` (every other table
  as shipped), so each seed runs on different rows of the real
  distributions while the four variants stay the same size;
* the 10x replica of the corpus, with the key-offset replication of
  tools/make_sf10x.py (each replica is a self-consistent shard);
* the `saas_jobs` uploads: CSV files cut from `documents`, whose row
  counts, offsets and blanked cells are drawn from the run's seed.
"""
import csv
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "corpus", "sf0.1")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
VARIANTS = 4
BUCKETS = 32
SPLIT_SEED = 42
SPLIT_TABLES = ("documents", "embeddings")


def _link(src, dst):
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def make_variant(out_dir, k):
    """The corpus without bucket `k` of `documents` and `embeddings`;
    the kept rows stay in their order, in one row group, as shipped."""
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src, dst = f"{CORPUS}/{t}.parquet", f"{out_dir}/{t}.parquet"
        if t not in SPLIT_TABLES:
            _link(src, dst)
            continue
        table = pq.read_table(src)
        bucket = np.random.default_rng(SPLIT_SEED).integers(
            0, BUCKETS, table.num_rows)
        pq.write_table(table.filter(bucket != k), dst,
                       row_group_size=table.num_rows)


# key-offset replication, as tools/make_sf10x.py spells it
_REPLICA_SQL = {
    "region": "SELECT * FROM '{S}/region.parquet'",
    "nation": "SELECT * FROM '{S}/nation.parquet'",
    "customer": """SELECT c_custkey + i*100000 AS c_custkey, c_name,
        c_nationkey, c_acctbal, c_mktsegment FROM '{S}/customer.parquet', {R}""",
    "supplier": """SELECT s_suppkey + i*10000 AS s_suppkey, s_name,
        s_nationkey, s_acctbal FROM '{S}/supplier.parquet', {R}""",
    "part": """SELECT p_partkey + i*100000 AS p_partkey, p_name, p_brand,
        p_type, p_size, p_retailprice FROM '{S}/part.parquet', {R}""",
    "orders": """SELECT o_orderkey + i*1000000 AS o_orderkey,
        o_custkey + i*100000 AS o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority FROM '{S}/orders.parquet', {R}""",
    "lineitem": """SELECT l_orderkey + i*1000000 AS l_orderkey,
        l_partkey + i*100000 AS l_partkey, l_suppkey + i*10000 AS l_suppkey,
        l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        l_returnflag, l_linestatus, l_shipdate FROM '{S}/lineitem.parquet', {R}""",
    "events": """SELECT event_id + i*1000000 AS event_id, ts,
        user_id + i*100000 AS user_id, event_type, value, props
        FROM '{S}/events.parquet', {R}""",
    "documents": """SELECT doc_id + i*100000 AS doc_id,
        text || ' rep' || CAST(i AS VARCHAR) AS text, lang, source,
        CAST(length(text || ' rep' || CAST(i AS VARCHAR)) AS BIGINT) AS n_chars
        FROM '{S}/documents.parquet', {R}""",
    "embeddings": """SELECT vec_id + i*100000 AS vec_id, embedding, label
        FROM '{S}/embeddings.parquet', {R}""",
}


def make_replica(out_dir, factor):
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    rep = f"(SELECT unnest(range({factor})) AS i)"
    for t in TABLES:
        sql = _REPLICA_SQL[t].format(S=CORPUS, R=rep)
        tmp = f"{out_dir}/{t}.parquet.tmp"
        con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, f"{out_dir}/{t}.parquet")
    con.close()


def make_uploads(out_dir, seed, count):
    """`count` CSV uploads cut from `documents`: row counts log-uniform
    over [200, 4000], a random start, and about 2% of the `lang` and
    `source` cells blanked so the pipeline's dropna has work. Upload k
    draws its row count from quarter k mod 4 of the log range, so any
    run of consecutive uploads mixes small and large ones alike
    whatever the seed."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(f"{CORPUS}/documents.parquet").to_pylist()
    os.makedirs(out_dir, exist_ok=True)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    lo, step = np.log(200), (np.log(4000) - np.log(200)) / 4
    for k in range(count):
        n = int(np.exp(lo + step * (k % 4 + rng.uniform())))
        start = int(rng.integers(0, len(docs)))
        blank = rng.random((n, 2)) < 0.02
        with open(f"{out_dir}/upload_{k:03d}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            for j in range(n):
                d = docs[(start + j) % len(docs)]
                w.writerow([d["doc_id"], d["text"],
                            "" if blank[j, 0] else d["lang"],
                            "" if blank[j, 1] else d["source"], d["n_chars"]])


def ensure(path, build):
    """Runs `build(tmp)` and publishes it at `path` unless `path` exists."""
    if os.path.isdir(path):
        return path
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)
    return path
