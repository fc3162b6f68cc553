"""Make the base tables in ``base/`` from the engine's sf0.1 test data.

    python3 perfbench/make_base.py --sf-dir DIR_OF_SF0.1

The benchmark's generator (``gen.py``) replicates these tables; it never
reads the test data itself. What is kept:

* documents, embeddings and nation: every row;
* customer: ``c_custkey < 1500`` (a tenth);
* orders: the orders of those customers;
* lineitem: the lines of those orders;
* events: the events of ``user_id < 150`` (a tenth of the users, whole
  sessions kept).

Values, column types and key values are those of sf0.1; rows are sorted
by key. The committed files were made this way and need not be made
again.
"""

from __future__ import annotations

import argparse
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "base")
CUSTOMERS = 1500
USERS = 150


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", default=BASE_DIR)
    a = ap.parse_args()

    def read(name):
        return pq.read_table(os.path.join(a.sf_dir, f"{name}.parquet")).replace_schema_metadata()

    customer = read("customer").filter(pc.less(pc.field("c_custkey"), CUSTOMERS))
    orders = read("orders").filter(pc.less(pc.field("o_custkey"), CUSTOMERS))
    lineitem = read("lineitem").filter(pc.is_in(pc.field("l_orderkey"), orders["o_orderkey"]))
    events = read("events").filter(pc.less(pc.field("user_id"), USERS))
    tables = {
        "customer": (customer, "c_custkey"), "orders": (orders, "o_orderkey"),
        "lineitem": (lineitem, "l_orderkey"), "events": (events, "event_id"),
        "nation": (read("nation"), "n_nationkey"),
        "documents": (read("documents"), "doc_id"),
        "embeddings": (read("embeddings"), "vec_id"),
    }
    os.makedirs(a.out, exist_ok=True)
    for name, (tab, key) in tables.items():
        tab = tab.sort_by(key)
        pq.write_table(tab, os.path.join(a.out, f"{name}.parquet"), compression="zstd")
        print(f"{name}: {tab.num_rows} rows")


if __name__ == "__main__":
    main()
