"""Local replica of the driver's DuckDB-oracle comparison.

For a query name: run the Spark callable and the oracle SQL on the
same sf dir, sort columns by name and rows by value, and compare
cell-by-cell (exact for ints/strings/bools/timestamps; exact for
doubles too — the suite is engineered for bit-identical float output,
see the suite/__init__.py docstring — with a tiny epsilon fallback reported as a
WARNING so drift is visible before it breaks the driver's hash).
The Spark collect and the oracle are timed apart (``Comparison.spark_s``
and ``oracle_s``).
"""

from __future__ import annotations

import math
import os
import tempfile
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd

#: DuckDB spill bounds for one oracle: a runaway plan fails its own
#: test with an out-of-memory/out-of-temp error instead of filling the
#: disk under every test that runs after it.
_DUCKDB_LIMITS = {
    "temp_directory": os.path.join(tempfile.gettempdir(), "oracle_harness_duckdb"),
    "max_temp_directory_size": "4GB",
    "memory_limit": "3GB",
}


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect(config=_DUCKDB_LIMITS)
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).df()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


@dataclass
class Comparison:
    name: str
    ok: bool
    row_count_spark: int
    row_count_oracle: int
    mismatches: list[str] = field(default_factory=list)
    float_drift: float = 0.0
    spark_s: float = 0.0  # wall seconds of the Spark collect
    oracle_s: float = 0.0  # wall seconds of the DuckDB oracle


def compare(name: str, spark_df, oracle_sql: str, sf_dir: str) -> Comparison:
    t0 = time.perf_counter()
    sp = spark_df.toPandas()
    t1 = time.perf_counter()
    od = run_oracle(oracle_sql, sf_dir)
    t2 = time.perf_counter()
    sp, od = canonicalize(sp), canonicalize(od)
    result = Comparison(name, True, len(sp), len(od), spark_s=t1 - t0, oracle_s=t2 - t1)
    if len(sp) != len(od):
        result.ok = False
        result.mismatches.append(f"row count {len(sp)} != {len(od)}")
        return result
    if list(sp.columns) != list(od.columns):
        result.ok = False
        result.mismatches.append(f"columns {list(sp.columns)} != {list(od.columns)}")
        return result
    for c in sp.columns:
        # the driver hashes typed values: an int64 Spark column vs a
        # float64 oracle column (e.g. DuckDB HUGEINT -> pandas float)
        # hash-mismatches even when the numbers agree — flag it here too
        if (sp[c].dtype.kind in "iu") != (od[c].dtype.kind in "iu"):
            result.ok = False
            result.mismatches.append(
                f"{c}: dtype kind {sp[c].dtype} != {od[c].dtype} (int/float drift)"
            )
            return result
    for c in sp.columns:
        a, b = sp[c], od[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            af = a.astype(float).to_numpy()
            bf = b.astype(float).to_numpy()
            for i, (x, y) in enumerate(zip(af, bf)):
                if x != y and not (math.isnan(x) and math.isnan(y)):
                    drift = abs(x - y) / max(abs(x), abs(y), 1e-300)
                    result.float_drift = max(result.float_drift, drift)
                    if drift > 1e-9:
                        result.ok = False
                        result.mismatches.append(f"{c}[{i}]: {x!r} != {y!r}")
                        if len(result.mismatches) > 5:
                            return result
        else:
            neq = ~(a.eq(b) | (a.isna() & b.isna()))
            if neq.any():
                i = int(neq.idxmax())
                result.ok = False
                result.mismatches.append(f"{c}[{i}]: {a[i]!r} != {b[i]!r}")
    return result
