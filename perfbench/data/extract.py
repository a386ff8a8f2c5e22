"""Writes the benchmark's base tables, a fixed subset of the sf0.1 test data.

    python3 perfbench/data/extract.py <sf0.1 dir> [<orders>]

- orders: the first <orders> orders by o_orderkey (default 20 000);
- lineitem: the lines of those orders;
- customer: the customers those orders reference;
- media: documents ⋈ embeddings (doc_id, text, embedding), the composed
  product's corpus, built as the program's composed fixture builds it
  (2 000 docs: every document that has an embedding).

Each table gets a dense row number `_r` in [0, n), in primary-key order:
the benchmark's change overlay assigns rows to batches through it, and
TPC-H keys need not be dense. Rows are written in that order, so the output
is the same on every run. Needs the duckdb Python module; the benchmark
itself reads the parquet files with Spark.
"""

import os
import sys

import duckdb


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    src = sys.argv[1]
    orders = int(sys.argv[2]) if len(sys.argv) == 3 else 20000
    out = os.path.dirname(os.path.abspath(__file__))

    def t(name):
        return "read_parquet('" + os.path.join(src, name + ".parquet").replace("'", "''") + "')"

    kept = f"(SELECT * FROM {t('orders')} ORDER BY o_orderkey LIMIT {orders})"
    tables = {
        "orders": (f"SELECT * FROM {kept}", "o_orderkey"),
        "lineitem": (f"SELECT l.* FROM {t('lineitem')} l SEMI JOIN {kept} o ON l.l_orderkey = o.o_orderkey",
                     "l_orderkey, l_linenumber"),
        "customer": (f"SELECT c.* FROM {t('customer')} c SEMI JOIN {kept} o ON c.c_custkey = o.o_custkey",
                     "c_custkey"),
        "media": (f"SELECT d.doc_id, d.text, e.embedding FROM {t('documents')} d "
                  f"JOIN {t('embeddings')} e ON d.doc_id = e.vec_id", "doc_id"),
    }
    con = duckdb.connect()
    for name, (q, key) in tables.items():
        path = os.path.join(out, name + ".parquet")
        numbered = f"SELECT *, row_number() OVER (ORDER BY {key}) - 1 AS _r FROM ({q}) ORDER BY {key}"
        con.execute(f"COPY ({numbered}) TO '{path}' (FORMAT parquet, COMPRESSION zstd)")
        n = con.execute(f"SELECT count(*), max(_r) FROM read_parquet('{path}')").fetchone()
        print(f"{name}: {n[0]} rows (_r up to {n[1]}), {os.path.getsize(path)} bytes")


if __name__ == "__main__":
    main()
