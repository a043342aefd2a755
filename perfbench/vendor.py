"""Cut the fixture slices the benchmark's inputs are built from.

    python3 perfbench/vendor.py <sf0.1 fixture dir>

Writes ``perfbench/data/``: the whole ``events`` month (100k rows), the
star dimensions, and every fifth order (``o_orderkey % 5 == 0``) with
exactly its line items.  Rows are copied unchanged; only the compression
differs (zstd, to keep the files small).
gen.py builds every workload input from these files, so the shapes the
engine sees — timestamps, date gaps between an order and its line
items, line items per order — are the fixture's own.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

#: every ORDER_SLICE-th order is kept, with its line items
ORDER_SLICE = 5

#: row filter per table; a table not listed is copied whole
KEEP = {
    "orders": lambda t: t["o_orderkey"].to_numpy() % ORDER_SLICE == 0,
    "lineitem": lambda t: t["l_orderkey"].to_numpy() % ORDER_SLICE == 0,
}


def main(src: str) -> None:
    os.makedirs(DATA, exist_ok=True)
    for name in ("events", "region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name in KEEP:
            table = table.filter(pa.array(KEEP[name](table)))
        pq.write_table(table, os.path.join(DATA, f"{name}.parquet"), compression="zstd", compression_level=9)
        print(f"{name}: {table.num_rows} rows")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1].strip())
    main(sys.argv[1])
