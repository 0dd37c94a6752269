#!/usr/bin/env python3
"""Cut the benchmark's committed input extract out of the engine's sf0.1
test data.

    python3 perfbench/extract.py <sf0.1 test-data dir>

Writes perfbench/data/<table>.parquet. The extract is leading key ranges of
the sf0.1 tables, with referential integrity kept:
- region, nation, supplier and part: whole;
- customer: c_custkey < 1500 (a tenth), with all their orders and those
  orders' lineitems;
- events: event_id < 10000 (the first third of the month, in time order);
- documents: doc_id < 1000; embeddings: vec_id < 1000.

The benchmark never reads the sf0.1 directory itself: `gen.py` draws each
run's seeded inputs from this extract, so the workloads see the test data's
own value and key distributions. Re-run this only when the test data is
regenerated.
"""
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "data")

CUSTOMERS = 1500
EVENTS = 10000
DOCUMENTS = 1000
EMBEDDINGS = 1000

SELECT = {
    "region": "SELECT * FROM region ORDER BY r_regionkey",
    "nation": "SELECT * FROM nation ORDER BY n_nationkey",
    "supplier": "SELECT * FROM supplier ORDER BY s_suppkey",
    "part": "SELECT * FROM part ORDER BY p_partkey",
    "customer": f"SELECT * FROM customer WHERE c_custkey < {CUSTOMERS} ORDER BY c_custkey",
    "orders": f"SELECT * FROM orders WHERE o_custkey < {CUSTOMERS} ORDER BY o_orderkey",
    "lineitem": "SELECT l.* FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey "
                f"WHERE o_custkey < {CUSTOMERS} ORDER BY l_orderkey, l_linenumber",
    "events": f"SELECT * FROM events WHERE event_id < {EVENTS} ORDER BY event_id",
    "documents": f"SELECT * FROM documents WHERE doc_id < {DOCUMENTS} ORDER BY doc_id",
    "embeddings": f"SELECT * FROM embeddings WHERE vec_id < {EMBEDDINGS} ORDER BY vec_id",
}


def main(src):
    con = duckdb.connect()
    for t in SELECT:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(src, t)}.parquet'")
    os.makedirs(OUT, exist_ok=True)
    for t, q in SELECT.items():
        path = os.path.join(OUT, f"{t}.parquet")
        con.execute(f"COPY ({q}) TO '{path}' (FORMAT PARQUET, COMPRESSION ZSTD)")
        n = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        print(f"{t}: {n} rows, {os.path.getsize(path)} bytes")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    main(sys.argv[1])
