"""Fresh-process driver-contract check (mirrors the round driver).

Run from a cwd OUTSIDE the repo (so PYTHONPATH/cloudpickle issues in
mapInPandas kernels surface):

    cd /tmp && python <repo>/tools/drive_entry.py [NAME ...] [--sf DIR]

With no NAME: exit 0 = entry() stable + every oracle-backed query
hash-matches DuckDB at sf0.01 (or DIR); rows-only queries must execute.
With NAMEs: only those queries are checked, with the same compare (no
entry() run); an unknown name exits 2.  The date-vs-midnight-datetime
normalization below matters: Spark date_trunc yields a timestamp where
DuckDB yields DATE for the same instant.
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def typed_hash(rows, columns):
    """Order-insensitive typed value hash over sorted (by name) columns."""
    cols = sorted(columns)
    lines = []
    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else dict(zip(columns, row))
        parts = []
        for c in cols:
            v = d[c]
            if isinstance(v, float):
                parts.append(repr(v))
            elif hasattr(v, "isoformat"):
                # date vs midnight-datetime are the same instant across
                # engines (Spark date_trunc yields timestamp, DuckDB DATE)
                s = v.isoformat()
                parts.append(s[:-9] if s.endswith("T00:00:00") else s)
            elif isinstance(v, (bytes, bytearray)):
                parts.append(hashlib.md5(bytes(v)).hexdigest())
            else:
                parts.append(str(v))
        lines.append("\x1f".join(parts))
    lines.sort()
    return hashlib.md5("\x1e".join(lines).encode()).hexdigest()


def check_query(name, df, rows, oracles, con) -> str:
    """The per-query verdict line: ROWSONLY when no oracle exists, else
    the row-count / column-set / typed-value-hash mismatch ladder, OK
    when all three match."""
    if name not in oracles:
        return f"ROWSONLY {name}: {len(rows)} rows"
    cur = con.execute(oracles[name])
    orows = cur.fetchall()
    ocols = [d[0] for d in cur.description]
    if len(rows) != len(orows):
        return f"MISMATCH {name}: rows {len(rows)} vs {len(orows)}"
    if sorted(df.columns) != sorted(ocols):
        return f"MISMATCH {name}: cols {sorted(df.columns)} vs {sorted(ocols)}"
    if typed_hash(rows, df.columns) != typed_hash(orows, ocols):
        return f"MISMATCH {name}: value hash"
    return f"OK {name}: {len(rows)} rows"


def main(argv: list[str]) -> int:
    import __spark_entry__ as entry_mod

    sf_dir = SF_DIR
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = [n for n in argv if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    names = argv or list(queries)

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drive_entry")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not argv:
        r1 = entry_mod.entry(spark).collect()
        r2 = entry_mod.entry(spark).collect()
        assert len(r1) == len(r2) and sorted(map(str, r1)) == sorted(map(str, r2)), (
            "entry() not stable"
        )
        print(f"entry(): {len(r1)} rows, stable", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_fail = 0
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            rows = df.collect()
            line = check_query(name, df, rows, oracles, con)
            print(line, flush=True)
            if line.startswith("MISMATCH"):
                n_fail += 1
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc!r}"[:500], flush=True)
            n_fail += 1
    print(f"done: {n_fail} failures / {len(names)} queries", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
