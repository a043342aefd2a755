"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(workload, seed)``: the same seed
writes the same rows in the same files.  Nothing is downloaded and
nothing outside the checkout is read.  Every input is built from the
sf0.1 fixture slices in ``data/`` (see vendor.py) the way
``tools/make_sf_scale.py`` scales the fixtures: disjoint-key replicas,
so each replica keeps the fixture's own shapes and every join and group
cardinality scales by the replica count.  The seed picks the key offset
of every replica, the row order and the row-to-file split, and (on the
trip month) where the injected dirt goes.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

#: replicas of the 100k-row fixture month in the trip month
ETL_REPLICAS = 8
#: replicas of the one-in-five order slice: 5 gives the sf0.1 fact
#: volume (150k orders, 600k line items) over the sf0.1 dimensions
STAR_REPLICAS = 5
#: replica k's keys are shifted by k * STRIDE, far above any fixture key
STRIDE = 1 << 40
#: files per generated fact table; at least the slot count, so every
#: scan fans out over all task slots
FILES = 6


def _base(seed: int) -> int:
    """The seed's key offset, added to every shifted key."""
    return (seed % 4096) << 24


def _shift(table: pa.Table, cols: list[str], by: int) -> pa.Table:
    for c in cols:
        shifted = pc.add(table[c], pa.scalar(by, table[c].type))
        table = table.set_column(table.column_names.index(c), c, shifted)
    return table


def _write_files(table: pa.Table, path: str, files: int = FILES) -> None:
    """Write *table* as a directory of *files* equal slices."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def events_month(seed: int, replicas: int = ETL_REPLICAS) -> pa.Table:
    """The fixture's January 2024 event month, ``replicas`` times with
    disjoint event and user ids (timestamps unchanged: more traffic in
    the same month), plus seeded dirt the cleaning stage must remove or
    route: ~1% rows with one NULL cell, ~0.5% exact duplicate rows, and
    ~0.05% rows moved 31 days out of the month (so the month-partitioned
    write makes several partitions)."""
    rng = np.random.default_rng([seed, 1])
    src = pq.read_table(os.path.join(DATA, "events.parquet"))
    table = pa.concat_tables(
        [_shift(src, ["event_id", "user_id"], _base(seed) + k * STRIDE) for k in range(replicas)]
    )
    n = table.num_rows
    stray = rng.random(n) < 0.0005
    days = np.where(rng.random(n) < 0.5, -31, 31).astype("timedelta64[D]").astype("timedelta64[us]")
    ts = table["ts"].to_numpy() + np.where(stray, days, np.timedelta64(0, "us"))
    cols = {c: table[c].combine_chunks() for c in table.column_names}
    cols["ts"] = pa.array(ts, type=table.schema.field("ts").type)
    # ~1% of rows lose one cell (any column), so dropna removes them
    null_row = rng.random(n) < 0.01
    null_col = rng.integers(0, len(cols), n)
    for j, name in enumerate(cols):
        mask = pa.array(null_row & (null_col == j))
        cols[name] = pc.if_else(mask, pa.scalar(None, cols[name].type), cols[name])
    table = pa.table(cols)
    dups = table.take(pa.array(rng.choice(n, n // 200, replace=False)))
    return _shuffled(pa.concat_tables([table, dups]), rng)


def star_schema(seed: int, replicas: int = STAR_REPLICAS) -> dict[str, pa.Table]:
    """The sf0.1 dimensions and ``replicas`` copies of the one-in-five
    order slice with its line items.  Copy k gets order keys shifted by
    k * STRIDE and keeps the fixture's customer, part and supplier keys,
    so orders per customer, line items per order and the date gap
    between an order and its line items are the fixture's."""
    rng = np.random.default_rng([seed, 2])
    tables = {name: pq.read_table(os.path.join(DATA, f"{name}.parquet"))
              for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")}
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tables[name] = pa.concat_tables(
            [_shift(tables[name], [key], _base(seed) + k * STRIDE) for k in range(replicas)])
    return {name: _shuffled(t, rng) for name, t in tables.items()}


def generate(workload: str, seed: int, root: str) -> str:
    """Write *workload*'s inputs for *seed* under *root* and return the
    directory.  Only the latest seed is kept; it is reused when this
    generator, unchanged, already wrote it."""
    out = os.path.join(root, workload)
    with open(__file__, "rb") as f:
        stamp = f"{seed} {hashlib.sha1(f.read()).hexdigest()}"
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "etl_month":
        _write_files(events_month(seed), os.path.join(out, "events.parquet"))
    elif workload == "star_queries":
        for name, table in star_schema(seed).items():
            if name in ("orders", "lineitem"):
                _write_files(table, os.path.join(out, f"{name}.parquet"))
            else:
                pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(done, "w") as f:
        f.write(stamp)
    return out
