"""Rebuild the committed analytics pool from an sf0.1 table directory.

Usage: python3 perfbench/make_pool.py <sf0.1-dir>

The pool is a fixed, key-consistent tenth of sf0.1: customers with
c_custkey % 10 == 0, their orders and those orders' lineitems; events of
users with user_id % 10 == 0; documents and embeddings with id % 5 == 0;
the small dimension tables (region, nation, supplier, part) whole. Each
benchmark run then draws its own seeded subsample from the pool
(gen.sf_subsample). The benchmark never runs this script.
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf01_pool")


def main(sf):
    t = {n: pq.read_table(os.path.join(sf, n + ".parquet"))
         for n in ["region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem", "events", "documents", "embeddings"]}

    def mod(tb, c, m):
        return tb.filter(pa.array([k % m == 0 for k in tb[c].to_pylist()]))

    t["customer"] = mod(t["customer"], "c_custkey", 10)
    t["orders"] = t["orders"].filter(pc.is_in(t["orders"]["o_custkey"], value_set=t["customer"]["c_custkey"]))
    t["lineitem"] = t["lineitem"].filter(pc.is_in(t["lineitem"]["l_orderkey"], value_set=t["orders"]["o_orderkey"]))
    t["events"] = mod(t["events"], "user_id", 10)
    t["documents"] = mod(t["documents"], "doc_id", 5)
    t["embeddings"] = mod(t["embeddings"], "vec_id", 5)
    os.makedirs(POOL, exist_ok=True)
    for n, tb in t.items():
        pq.write_table(tb, os.path.join(POOL, n + ".parquet"), compression="zstd")
        print(n, tb.num_rows)


if __name__ == "__main__":
    main(sys.argv[1])
