"""The declared query suite: every operator from SURVEY.md §2 (plus the
LLM-pipeline additions) as a (Spark callable, DuckDB oracle SQL) pair.

Contract (driver verify): for each name, the Spark DataFrame from
``QUERIES[name].spark(spark, sf_dir)`` must match the DuckDB result of
``QUERIES[name].oracle`` on row count, schema and order-insensitive
value hash.  Cross-engine exactness rules used throughout:

- **Money sums are computed in DECIMAL.**  Every money column is an
  exact 2-decimal value stored as double; casting to DECIMAL(p,2)
  recovers it exactly in both engines, decimal arithmetic is exact and
  order-independent (no float summation-order drift), and the final
  cast back to double is correctly rounded in both engines — so SUM /
  AVG results are bit-identical regardless of partitioning.
- **Ratios/averages** divide two already-identical values with one
  IEEE double division (identical in both engines).
- **Date parts** are cast to BIGINT on the Spark side (DuckDB's
  month()/hour() return BIGINT).
- **Every computed column is aliased identically in both dialects**
  (the driver compares columns by name).
- Ordering never matters (hash is order-insensitive), but LIMIT/top-k
  queries always carry a unique tie-break key so the *row set* is
  deterministic.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import time_bucket, to_timestamp_coerce
from .operators import chunking as ch
from .operators import dedup as dd
from .operators import graph as gr
from .operators import joins as J
from .operators import sampling as sa
from .operators import quality as Q
from .operators import relational as R
from .operators import similarity as sim
from .operators import text as tx
from .operators import tokenize as tk
from .operators import util as U
from .operators import windows as W
from .operators.cleaning import clean_pipeline
from .plans.capture import checkpoint as _ckpt
from .sources import load_tables, read_parquet
from .sources.writers import write_parquet

__all__ = ["QUERIES", "Query", "spark_queries", "oracle_queries"]

# exact-decimal casts (see module docstring)
D2 = "decimal(12,2)"          # money / 2-dp values


def _scratch(name: str) -> str:
    """A scratch path under a PROCESS-UNIQUE root.

    Queries that stage bytes (stream sources, sink roundtrips, the txlog
    demo table) formerly keyed their temp dirs on the sf_dir basename
    alone, so two concurrent runs — suite + bench, or two verify
    processes — shared mutable staging and could race (one rmtree's /
    overwrites the other's live table mid-read; ADVICE r5).  The root
    embeds the PID plus a random token: concurrent processes are fully
    isolated, while WITHIN a process paths stay stable.  IMMUTABLE
    source fixtures use ``_shared_stage`` instead (machine-wide,
    content-addressed, write-once).
    """
    import tempfile

    root = os.path.join(tempfile.gettempdir(), _SCRATCH_TOKEN)
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, name)


_SCRATCH_TOKEN: str = (
    f"automated_batch_data_pipeline_nyc_scratch_{os.getpid()}_"
    + __import__("uuid").uuid4().hex[:8]
)

#: Version token for the CROSS-PROCESS fixture stage (_shared_stage).
#: Bump whenever a staged-fixture synthesizer changes its output bytes
#: (payload synthesizers, stream-feed derivations) — the key is the
#: content ADDRESS, so stale bytes under an old recipe must never be
#: served to new code.
_STAGE_VERSION = "v1"

_SHARED_STAGED: set[str] = set()  # in-process existence-check fast path


def _stage_root() -> str:
    """Path of the per-user shared stage root (no filesystem access —
    ``_secure_stage_root`` is the create-and-verify form every trust
    decision must go through).  Keyed by uid so two users on one
    machine don't collide on permissions; _STAGE_VERSION covers
    synthesizer-code changes."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"automated_batch_data_pipeline_nyc_stage_{_STAGE_VERSION}_uid{os.getuid()}",
    )


def _secure_stage_root() -> str:
    """Create the shared stage root and verify it is actually OURS
    (ADVICE r9): uid-keyed NAMING alone cannot stop another local user
    from pre-creating the uid-named path inside world-writable /tmp and
    publishing attacker-chosen bytes under valid-looking ``_STAGED_OK``
    markers — ``os.makedirs(..., exist_ok=True)`` happily adopts a
    pre-existing directory without checking who owns it.  So after
    makedirs, lstat the root and refuse unless it is a real directory
    (not a symlink), owned by our uid, with no group/other permission
    bits — the same check ``tempfile.mkdtemp``-style secure dirs rely
    on.  A hostile pre-created root therefore fails LOUDLY instead of
    silently poisoning the staged fixtures that feed the hash-verified
    streaming/binaryFile queries."""
    import stat as stat_mod

    root = _stage_root()
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    if (
        not stat_mod.S_ISDIR(st.st_mode)
        or st.st_uid != os.getuid()
        or (st.st_mode & 0o077) != 0
    ):
        raise RuntimeError(
            f"shared stage root {root!r} is not a private directory owned by "
            f"uid {os.getuid()} (found uid={st.st_uid}, "
            f"mode={oct(st.st_mode & 0o777)}): refusing to trust staged "
            "fixtures under it — remove or chown/chmod it and retry"
        )
    return root


def _owned_published_dir(final: str) -> bool:
    """A published stage dir is trusted only if WE own it (ADVICE r9,
    belt-and-braces over the root check: inside a verified 0700 root
    only our uid can create entries, but verifying per-dir costs one
    lstat and makes the trust chain independently checkable)."""
    try:
        st = os.lstat(final)
    except OSError:
        return False
    import stat as stat_mod

    return stat_mod.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()


def _fixture_fingerprint(sf_dir: str) -> str:
    """Content identity of a fixture root: md5 over the (relpath, size,
    mtime_ns) of every file under every top-level ``*.parquet`` entry.
    Staged derivations key on this, so REGENERATED fixtures at the same
    path rebuild instead of silently serving bytes derived from the old
    tables (the guarantee the old always-restage-per-process scratch
    gave).  Two hardenings (ADVICE r9): a missing/unreadable root or a
    root with no parquet entries RAISES instead of degrading to a
    stable-looking path-only key for a fixture that isn't there; and
    directory-valued parquet tables are recursed so in-place part-file
    rewrites (which don't touch the dir entry itself) still rotate the
    key."""
    import hashlib

    norm = os.path.abspath(os.path.normpath(sf_dir))
    h = hashlib.md5(norm.encode())
    entries = sorted(os.listdir(norm))  # missing root -> OSError, on purpose
    saw_parquet = False
    for entry in entries:
        if not entry.endswith(".parquet"):
            continue
        saw_parquet = True
        path = os.path.join(norm, entry)
        if os.path.isdir(path):
            for dirpath, dirnames, filenames in os.walk(path):
                dirnames.sort()
                for fn in sorted(filenames):
                    fp = os.path.join(dirpath, fn)
                    st = os.stat(fp)
                    rel = os.path.relpath(fp, norm)
                    h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
        else:
            st = os.stat(path)
            h.update(f"{entry}:{st.st_size}:{st.st_mtime_ns};".encode())
    if not saw_parquet:
        raise FileNotFoundError(
            f"fixture root {norm!r} contains no *.parquet tables — refusing "
            "to mint a stable-looking content key for an absent fixture"
        )
    return h.hexdigest()[:12]


def _shared_stage(name: str, build) -> str:
    """Cross-process content-addressed fixture staging (VERDICT r8
    item 6).  Immutable SOURCE fixtures (stream feeds, binaryFile
    payload dirs) are pure functions of (fixture content,
    _STAGE_VERSION), so unlike the mutable per-process ``_scratch``
    sinks they can be staged ONCE per user+machine and reused by every
    later suite / bench / verify process — re-staging per run was
    several seconds of non-engine time in every bench.  Callers embed
    ``_fixture_fingerprint(sf_dir)`` in ``name`` so the key IS the
    content address.

    Publish protocol: ``build(tmp)`` materializes into a
    pid-unique temp dir (creating it), a ``_STAGED_OK`` marker is
    written LAST, and the dir is atomically renamed to the final key —
    readers only ever see complete dirs.  Losing the rename race is
    fine: the winner's bytes are identical by construction, so the
    loser just deletes its copy; any OTHER rename failure re-raises
    instead of memoizing a nonexistent path.  The marker name starts
    with ``_`` so Spark's file sources skip it like ``_SUCCESS``.
    Published dirs are never mutated; crashed builders'
    ``*.tmp_{{pid}}_*`` leftovers are reaped by ``_reap_scratch``.
    Superseded content keys (old fingerprints after a fixture regen)
    are a few MB per sf and are left to the OS's own /tmp aging —
    deleting a published dir another process may be mid-read is the
    one race this protocol cannot win, so we never do it.
    """
    import shutil
    import uuid

    root = _secure_stage_root()
    final = os.path.join(root, name)
    if final in _SHARED_STAGED:
        return final
    if os.path.exists(os.path.join(final, "_STAGED_OK")) and _owned_published_dir(
        final
    ):
        _SHARED_STAGED.add(final)
        return final
    tmp = f"{final}.tmp_{os.getpid()}_{uuid.uuid4().hex[:6]}"
    build(tmp)
    with open(os.path.join(tmp, "_STAGED_OK"), "w"):
        pass
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        # A lost race is only benign when the WINNER is trusted: marker
        # present AND the dir is ours (r10 review finding — without the
        # ownership re-check here, an unowned marker-bearing dir that
        # the fast path correctly refused would block our rename and
        # then get memoized through this branch, defeating the guard).
        if not (
            os.path.exists(os.path.join(final, "_STAGED_OK"))
            and _owned_published_dir(final)
        ):
            raise  # NOT a lost race — surface the real filesystem error
    _SHARED_STAGED.add(final)
    return final


def _reap_scratch() -> None:
    """Delete this process's scratch root at exit, plus any sibling
    roots whose embedded PID is no longer alive (crash leftovers).

    The per-process token (ADVICE r5) isolated concurrent runs but
    meant every suite/bench/pytest process accreted a fresh /tmp tree
    of staged fact-table copies forever (ADVICE r6).  The per-process
    root holds only MUTABLE sink staging, so reclaiming at exit is
    always safe; sibling reaping only touches roots matching our prefix
    with a provably-dead PID.  The cross-process ``_shared_stage`` root
    keeps its published (immutable, reusable) dirs and sheds only dead
    builders' unpublished tmp dirs.
    """
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    shutil.rmtree(os.path.join(tmp, _SCRATCH_TOKEN), ignore_errors=True)
    prefix = "automated_batch_data_pipeline_nyc_scratch_"
    try:
        entries = os.listdir(tmp)
    except OSError:
        return
    for entry in entries:
        if not entry.startswith(prefix):
            continue
        pid_part = entry[len(prefix):].split("_", 1)[0]
        if not pid_part.isdigit():
            continue
        try:
            os.kill(int(pid_part), 0)  # signal 0: liveness probe only
        except ProcessLookupError:
            shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
        except (PermissionError, OSError):
            continue  # PID exists (another user's) — leave it alone
    # crashed _shared_stage builders: unpublished *.tmp_{pid}_* dirs
    # with a dead PID (published dirs are immutable and stay for reuse)
    stage_root = _stage_root()
    try:
        stage_entries = os.listdir(stage_root)
    except OSError:
        return
    for entry in stage_entries:
        if ".tmp_" not in entry:
            continue
        pid_part = entry.split(".tmp_", 1)[1].split("_", 1)[0]
        if not pid_part.isdigit():
            continue
        try:
            os.kill(int(pid_part), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(stage_root, entry), ignore_errors=True)
        except (PermissionError, OSError):
            continue


__import__("atexit").register(_reap_scratch)


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [read_parquet(spark, _t(sf_dir, n)) for n in names]


def _sum_money(col: F.Column, alias: str) -> F.Column:
    return F.sum(col.cast(D2)).cast("double").alias(alias)


def _avg_money(col: F.Column, alias: str) -> F.Column:
    return (F.sum(col.cast(D2)).cast("double") / F.count(F.lit(1))).alias(alias)


def _daily_revenue(spark, sf_dir: str):
    """The shared daily order-revenue spine: ``(d DATE, rev
    DECIMAL(18,2))`` — one fact shuffle reduces orders to the
    date-bounded daily table.  Extracted (VERDICT r6 item 8) so the
    time-series queries built on it (seasonal_dow_anomalies,
    acf_daily_revenue) stay in lockstep if the spine definition ever
    changes; exact DECIMAL keeps it order-independent cross-engine.
    """
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )


#: SQL fragments mirroring the helpers above.
SQL_SUM = "CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE)"
SQL_AVG = "CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)"


@dataclass(frozen=True)
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # None => non-SQL-expressible (rows-only check)
    doc: str = ""


QUERIES: dict[str, Query] = {}


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = Query(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ===========================================================================
# Reference core: the cleaning pipeline (P1, P2, P3/F3, S2)
# ===========================================================================

@_q(
    "clean_pipeline",
    """
    SELECT t.*, CAST(month(t.ts) AS BIGINT) AS event_month
    FROM (
      SELECT DISTINCT * FROM events
      WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
    ) t
    """,
    doc="reference spark-apps/clean_nyc_taxi_pipeline.py:7-13: dropna -> dropDuplicates -> derived month",
)
def _clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _load(spark, sf_dir, "events")
    out = clean_pipeline(events, ts_col="ts", month_col="event_month")
    return out.withColumn("event_month", F.col("event_month").cast("long"))


# ===========================================================================
# Projections / filters / scalar functions (P4-P11, F1-F6)
# ===========================================================================

@_q(
    "filter_equality",
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
    doc="P4 equality predicate (dags/nyc_taxi_pipeline_dag.py:145)",
)
def _filter_eq(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return R.filter_rows(events, F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )


@_q(
    "filter_null_disjunction",
    """
    SELECT event_id, event_type FROM (
      SELECT event_id, event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        CASE WHEN event_id % 29 = 0 THEN NULL ELSE props END AS props
      FROM events)
    WHERE value IS NULL OR props IS NULL
    """,
    doc="P5 disjunctive null predicate (dags/nyc_taxi_pipeline_dag.py:195-198); "
        "the fixtures are null-free, so every 17th value / 29th props is "
        "anonymized first — the predicate provably selects rows",
)
def _filter_null(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 29 != 0, F.col("props")).alias("props"),
    )
    return dirty.filter(F.col("value").isNull() | F.col("props").isNull()).select(
        "event_id", "event_type"
    )


@_q(
    "filter_hour_range",
    """
    SELECT event_id, user_id, CAST(hour(ts) AS BIGINT) AS event_hour
    FROM events WHERE hour(ts) BETWEEN 7 AND 9
    """,
    doc="P6/F2 EXTRACT(HOUR) range predicate (dags/nyc_taxi_pipeline_dag.py:257-258)",
)
def _filter_range(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return events.filter(F.hour("ts").between(7, 9)).select(
        "event_id", "user_id", F.hour("ts").cast("long").alias("event_hour")
    )


@_q(
    "projection_rename_drop",
    """
    SELECT c_custkey AS customer_id, c_name AS customer_name, c_mktsegment
    FROM customer
    """,
    doc="P7 rename + P8 drop + P10 projection (dags/nyc_taxi_pipeline_dag.py:84,87-88)",
)
def _project(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    out = R.rename_columns(customer, {"c_custkey": "customer_id", "c_name": "customer_name"})
    out = R.drop_columns(out, "c_acctbal", "c_nationkey")
    return R.project(out, "customer_id", "customer_name", "c_mktsegment")


@_q(
    "constant_column_stamp",
    "SELECT n_nationkey, n_name, '2025-08-29' AS load_date FROM nation",
    doc="P11 constant stamp column (elt_dag transform_data)",
)
def _const(spark, sf_dir):
    (nation,) = _load(spark, sf_dir, "nation")
    return R.with_constant(nation.select("n_nationkey", "n_name"), "load_date", "2025-08-29")


@_q(
    "string_filter_generic",
    "SELECT doc_id, lang, source FROM documents WHERE lang = 'en'",
    doc="P9 string-equality filter (elt_dag transform_data Type=='generic')",
)
def _str_filter(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.filter(F.col("lang") == "en").select("doc_id", "lang", "source")


@_q(
    "time_bucket_enrich",
    """
    SELECT event_id, ts,
      CASE WHEN hour(ts) BETWEEN 7 AND 9 THEN 'Morning Rush'
           WHEN hour(ts) BETWEEN 17 AND 19 THEN 'Evening Rush'
           ELSE 'Other' END AS time_bucket
    FROM events
    """,
    doc="M1/F1/F2 ALTER+UPDATE CASE rewrite (dags/nyc_taxi_pipeline_dag.py:250-262)",
)
def _bucket(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return events.select("event_id", "ts", time_bucket("ts").alias("time_bucket"))


@_q(
    "datetime_parts",
    """
    SELECT o_orderkey,
      CAST(year(o_orderdate) AS BIGINT) AS order_year,
      CAST(month(o_orderdate) AS BIGINT) AS order_month,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
    FROM orders
    """,
    doc="F3 month/year + F5 strftime (spark-apps/clean_nyc_taxi_pipeline.py:2,13)",
)
def _parts(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


@_q(
    "datetime_coerce",
    """
    SELECT o_orderkey, raw_ts, try_cast(raw_ts AS TIMESTAMP) AS parsed_ts
    FROM (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0
             THEN concat('bad-', strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'))
             ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS raw_ts
      FROM orders
    )
    """,
    doc="F4 coercing datetime parse: garbage -> NULL, like pandas "
        "to_datetime(errors='coerce') (dags/nyc_taxi_pipeline_dag.py:91-92)",
)
def _coerce(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    fmt = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    raw = F.when(F.col("o_orderkey") % 7 == 0, F.concat(F.lit("bad-"), fmt)).otherwise(fmt)
    return orders.select(
        "o_orderkey",
        raw.alias("raw_ts"),
        to_timestamp_coerce(raw).alias("parsed_ts"),
    )


@_q(
    "string_trim",
    """
    SELECT c_custkey, trim(concat('  ', c_name, '  ')) AS trimmed_name,
           upper(c_mktsegment) AS segment_upper
    FROM customer
    """,
    doc="F6 trim (dags/nyc_taxi_pipeline_dag.py:84)",
)
def _trim(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed_name"),
        F.upper("c_mktsegment").alias("segment_upper"),
    )


@_q(
    "json_extract_props",
    """
    SELECT event_id, json_extract_string(props, '$.k') AS prop_k
    FROM events
    """,
    doc="semi-structured props payload (events fixture; MapType/JSON mapping SURVEY §1.4)",
)
def _json(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return events.select(
        "event_id", F.get_json_object("props", "$.k").alias("prop_k")
    )


# ===========================================================================
# Aggregations (A1-A3, §2.4)
# ===========================================================================

@_q(
    "row_count",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem",
    doc="A1 COUNT(*) quality gate (dags/nyc_taxi_pipeline_dag.py:188-192)",
)
def _count(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


@_q(
    "filtered_count",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_finished FROM orders WHERE o_orderstatus = 'F'",
    doc="A2 filtered COUNT (dags/nyc_taxi_pipeline_dag.py:195-201)",
)
def _fcount(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderstatus") == "F").agg(F.count(F.lit(1)).alias("n_finished"))


@_q(
    "null_matrix",
    """
    SELECT
      CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_id,
      CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ts,
      CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,
      CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,
      CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
      CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props
    FROM (
      SELECT event_id, ts,
        CASE WHEN event_id % 23 = 0 THEN NULL ELSE user_id END AS user_id,
        event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        CASE WHEN event_id % 29 = 0 THEN NULL ELSE props END AS props
      FROM events)
    """,
    doc="A3 null-count matrix in one pass (dags/nyc_taxi_pipeline_dag.py:95-96); "
        "fixtures are null-free, so user_id/value/props are anonymized on a "
        "23/17/29 cadence first — three columns provably count nonzero while "
        "the untouched columns prove the zero path",
)
def _nulls(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        "ts",
        F.when(F.col("event_id") % 23 != 0, F.col("user_id")).alias("user_id"),
        "event_type",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 29 != 0, F.col("props")).alias("props"),
    )
    return Q.null_matrix(dirty)


@_q(
    "group_agg_stats",
    f"""
    SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col='o_totalprice')} AS total_price,
      {SQL_AVG.format(col='o_totalprice')} AS avg_price,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="§2.4 grouped agg (implied by README.md:198 'average fare by time buckets')",
)
def _group(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return R.grouped_agg(
        orders,
        ["o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "total_price"),
            _avg_money(F.col("o_totalprice"), "avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        ],
    )


@_q(
    "time_bucket_rollup",
    f"""
    SELECT
      CASE WHEN hour(ts) BETWEEN 7 AND 9 THEN 'Morning Rush'
           WHEN hour(ts) BETWEEN 17 AND 19 THEN 'Evening Rush'
           ELSE 'Other' END AS time_bucket,
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value,
      {SQL_AVG.format(col='value')} AS avg_value
    FROM events GROUP BY 1, 2
    """,
    doc="the reference's README analytics goal: volume + averages by time bucket (README.md:198)",
)
def _rollup(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.withColumn("time_bucket", time_bucket("ts"))
        .groupBy("time_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
            _avg_money(F.col("value"), "avg_value"),
        )
    )


@_q(
    "distinct_count",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem
    """,
    doc="§2.4 distinct cardinality",
)
def _dcount(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@_q(
    "approx_distinct",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      TRUE AS parts_within_tol,
      TRUE AS orders_within_tol
    FROM lineitem
    """,
    doc="§2.4 approx_count_distinct — the 100 TB cardinality path (HLL++, "
        "no exact shuffle) — as a BOUND-AUDIT oracle query (VERDICT r10 "
        "item 4; was rows-only): the registered result is the exact "
        "distinct counts (hash-exact cross-engine) plus boolean "
        "|approx-exact| <= 3*rsd*exact verdicts on Spark's HLL++ "
        "estimates.  DuckDB runs a different sketch, so the ESTIMATE "
        "can never hash-match — but the verdict frame can: the oracle "
        "encodes the expectation (TRUE), Spark computes the actual "
        "verdict, and a sketch drifting past tolerance turns the hash "
        "check red.  rsd=0.05 (Spark default); 3*rsd=0.15 is the "
        "3-sigma band, measured rel-err 0.018-0.036 at sf0.01/sf0.1 "
        "and the estimate is deterministic for fixed data (verified "
        "across 6 runs at local[8] AND local[32]).  The raw-estimate "
        "form stays available via the same aggregate; the exact-count "
        "twin distinct_count is hash-verified separately.",
)
def _adcount(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    tol = 3 * 0.05  # 3-sigma band at Spark's default rsd
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey").alias("__ap"),
        F.approx_count_distinct("l_orderkey").alias("__ao"),
    )
    return agg.select(
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("__ap") - F.col("exact_parts"))
            <= F.lit(tol) * F.col("exact_parts")
        ).alias("parts_within_tol"),
        (
            F.abs(F.col("__ao") - F.col("exact_orders"))
            <= F.lit(tol) * F.col("exact_orders")
        ).alias("orders_within_tol"),
    )


@_q(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
      {SQL_SUM.format(col='l_quantity')} AS sum_qty,
      {SQL_SUM.format(col='l_extendedprice')} AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2))) * (1 + CAST(l_tax AS DECIMAL(10,2)))) AS DOUBLE) AS sum_charge,
      {SQL_AVG.format(col='l_quantity')} AS avg_qty,
      {SQL_AVG.format(col='l_extendedprice')} AS avg_price,
      {SQL_AVG.format(col='l_discount')} AS avg_disc,
      CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary — the engine's flagship aggregate",
)
def _pricing(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )
    charge = disc_price * (F.lit(1) + F.col("l_tax").cast("decimal(10,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_money(F.col("l_quantity"), "sum_qty"),
            _sum_money(F.col("l_extendedprice"), "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            _avg_money(F.col("l_quantity"), "avg_qty"),
            _avg_money(F.col("l_extendedprice"), "avg_price"),
            _avg_money(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ===========================================================================
# Joins (§2.6)
# ===========================================================================

@_q(
    "join_broadcast_dims",
    f"""
    SELECT r_name, n_name,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      {SQL_SUM.format(col='c_acctbal')} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="the latent zone-lookup enrichment (README.md:3) as a broadcast join chain",
)
def _bjoin(spark, sf_dir):
    customer, nation, region = _load(spark, sf_dir, "customer", "nation", "region")
    dims = J.broadcast_enrich(
        J.broadcast_enrich(customer, nation, F.col("c_nationkey") == F.col("n_nationkey"), "inner"),
        region,
        F.col("n_regionkey") == F.col("r_regionkey"),
        "inner",
    )
    return dims.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _sum_money(F.col("c_acctbal"), "total_acctbal"),
    )


@_q(
    "join_left_enrich",
    """
    SELECT o_orderkey, o_totalprice, c.c_name
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
      ON o.o_custkey = c.c_custkey
    """,
    doc="§2.6 left outer join with unmatched rows",
)
def _ljoin(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING")
    return J.equi_join(
        orders, building, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select("o_orderkey", "o_totalprice", "c_name")


@_q(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="§2.6 left-semi (EXISTS)",
)
def _sjoin(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    return J.semi_join(
        customer, orders, F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@_q(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="§2.6 left-anti (NOT EXISTS) — the 'facts lacking a dimension row' gate",
)
def _ajoin(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    return J.anti_join(
        customer, orders, F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@_q(
    "join_range_buckets",
    """
    SELECT b.bucket_label,
      CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'), (25.0, 1e9, 'high'))
         AS b(lo, hi, bucket_label)
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.bucket_label
    """,
    doc="§2.6 theta/range join against a broadcast bucket table (BNLJ)",
)
def _rjoin(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 1e9, "high")],
        ["lo", "hi", "bucket_label"],
    )
    joined = J.range_join(
        li, buckets, (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi"))
    )
    return joined.groupBy("bucket_label").agg(F.count(F.lit(1)).alias("n_items"))


@_q(
    "sql_revenue_by_nation",
    f"""
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="SQL entry point over temp views (SURVEY §3.3) — TPC-H Q5-shaped",
)
def _sqlrev(spark, sf_dir):
    load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation", "region"))
    return spark.sql(
        """
        SELECT n_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        """
    )


@_q(
    "shipping_priority_topk",
    """
    SELECT l_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: segment-filtered 3-way join with "
        "date pivots on both fact sides, exact DECIMAL revenue, top-10 via "
        "TakeOrderedAndProject (never a global sort); filters push below the "
        "joins, customer side broadcasts under AQE",
)
def _q3ship(spark, sf_dir):
    cust, orders, li = _load(spark, sf_dir, "customer", "orders", "lineitem")
    pivot = F.lit("1998-06-30 00:00:00").cast("timestamp")
    rev = F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )
    agg = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < pivot)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > pivot)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    top = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    return top.select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        "revenue",
    )


# ===========================================================================
# Sorts / limits / set ops / windows (§2.7)
# ===========================================================================

@_q(
    "top_k_customers",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
    """,
    doc="§2.7 top-k as TakeOrderedAndProject (no global sort)",
)
def _topk(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    return R.top_k(
        customer.select("c_custkey", "c_name", "c_acctbal"),
        10,
        F.col("c_acctbal").desc(),
        F.col("c_custkey").asc(),
    )


@_q(
    "ordered_limit",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    doc="§2.7 ORDER BY + LIMIT",
)
def _olimit(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return R.ordered_limit(
        orders.select("o_orderkey", "o_totalprice"),
        20,
        F.col("o_totalprice").desc(),
        F.col("o_orderkey").asc(),
    )


@_q(
    "set_union",
    """
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
    doc="§2.7 UNION ALL",
)
def _union(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey", "c_mktsegment")
    return R.union_all(a, b)


@_q(
    "set_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="§2.7 INTERSECT (distinct)",
)
def _intersect(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return R.intersect(a, b)


@_q(
    "set_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
    doc="§2.7 EXCEPT (distinct)",
)
def _except(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    # except_all(distinct=True) is Spark's subtract — already distinct;
    # no second .distinct() (one exchange, not two).
    return R.except_all(
        customer.select("c_custkey"),
        orders.select(F.col("o_custkey").alias("c_custkey")),
        distinct=True,
    )


@_q(
    "window_topk_per_group",
    """
    SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
    doc="§2.7 ranked window + per-group top-k (WindowGroupLimit pushdown)",
)
def _wtopk(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    out = W.ranked(
        customer.select("c_nationkey", "c_custkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        out_col="rn",
    )
    return out.filter(F.col("rn") <= 3).withColumn("rn", F.col("rn").cast("long"))


@_q(
    "window_lag_delta",
    """
    SELECT event_id, user_id, value,
      value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_delta
    FROM events
    """,
    doc="§2.7 lag/lead — per-user delta series",
)
def _wlag(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    out = W.with_lag(events, "value", ["user_id"], [F.col("ts"), F.col("event_id")], out_col="__prev")
    return out.select(
        "event_id", "user_id", "value", (F.col("value") - F.col("__prev")).alias("value_delta")
    )


@_q(
    "window_moving_avg",
    """
    SELECT event_id, user_id,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS value_mavg3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="§2.7 sliding average (exact decimal numerator for cross-engine parity)",
)
def _wmavg(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return events.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast(D2)).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("value_mavg3"),
    )


@_q(
    "window_running_sum",
    """
    SELECT event_id, user_id,
      CAST(SUM(CAST(value AS DECIMAL(12,2)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value_running
    FROM events
    """,
    doc="§2.7 running total",
)
def _wrun(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(D2)).over(w).cast("double").alias("value_running"),
    )


@_q(
    "hourly_event_counts",
    f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="tumbling-window agg, batch form of streaming/jobs.windowed_event_counts",
)
def _hourly(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
    )


@_q(
    "streaming_hourly_counts",
    f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
    doc="§2.8 Structured Streaming, hash-verified against the BATCH oracle: "
        "events staged to a file-source dir, availableNow micro-batches, "
        "tumbling 1-hour windows into a complete-mode memory sink — decimal "
        "money sums make the streaming result bit-identical to the batch SQL, "
        "so the driver verifies the streaming engine itself, not a weaker "
        "rows-only check",
)
def _stream_hourly(spark, sf_dir):
    from .streaming.jobs import read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    # window() needs concrete event time; the batch oracle filters the
    # same NULL rows so the group sets align.  Cross-process
    # content-addressed staging (r10: this was the last stream feed
    # still re-written per process through _scratch — ~2-4 s of
    # non-engine time per fresh run at sf0.1).
    src = _stage_stream_src(
        spark, sf_dir, "hourly", events.filter(F.col("ts").isNotNull())
    )
    agg = (
        read_event_stream(spark, src)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
    )
    # Route through the shared runner (r10 review finding: this inline
    # copy ignored awaitTermination's boolean, so a timeout would have
    # silently returned a PARTIAL complete-mode aggregate — the exact
    # truncated-answer failure _run_stream_to_table exists to forbid).
    name = _run_stream_to_table(agg, "complete")
    # The stream reads the NTZ parquet through an LTZ schema (watermark
    # compatibility), so w.start's *epoch* micros equal the fixture's
    # wall-clock micros.  Rebuild the NTZ wall clock from that integer —
    # tz-independent, unlike a bare LTZ collect, which would shift by
    # the consumer session's zone offset and break the oracle hash.
    return spark.table(name).select(
        F.expr(
            "timestampadd(MICROSECOND, unix_micros(w.start),"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@_q(
    "merge_user_intervals",
    """
    WITH s AS (
      SELECT user_id, ts AS st, ts + INTERVAL 30 MINUTE AS en
      FROM events WHERE ts IS NOT NULL),
    m AS (
      SELECT user_id, st, en,
        MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM s),
    i AS (
      SELECT user_id, st, en,
        SUM(CASE WHEN pme IS NULL OR st > pme THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY st, en
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM m)
    SELECT user_id, MIN(st) AS merged_start, MAX(en) AS merged_end,
      CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM i GROUP BY user_id, island
    """,
    doc="gaps-and-islands interval union: each event opens a 30-minute "
        "activity interval, overlapping/touching intervals per user dissolve "
        "into coverage spans via the cummax island trick — ONE shuffle + "
        "partition-local sort, no self-join (the naive interval merge is "
        "quadratic per key); dual of interval_overlap_pairs",
)
def _merge_iv(spark, sf_dir):
    from .operators.windows import merge_intervals

    (events,) = _load(spark, sf_dir, "events")
    iv = events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        F.col("ts").alias("st"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("en"),
    )
    return merge_intervals(iv, "user_id", "st", "en").select(
        "user_id", "merged_start", "merged_end", "n_merged"
    )


@_q(
    "user_growth_daily",
    """
    WITH f AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
      FROM events WHERE ts IS NOT NULL GROUP BY user_id),
    a AS (
      SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS n_active
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    n AS (SELECT first_day AS day, COUNT(*) AS n_new FROM f GROUP BY 1)
    SELECT a.day, CAST(a.n_active AS BIGINT) AS n_active,
      CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
      CAST(SUM(COALESCE(n.n_new, 0)) OVER (
        ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS cum_users
    FROM a LEFT JOIN n USING (day)
    """,
    doc="daily active / new / cumulative users: two corpus aggregations "
        "(first-seen per user, distinct-per-day) meet in a days-sized frame; "
        "the single-partition running sum runs over that tiny aggregate, "
        "never the corpus — the growth-dashboard query at any scale",
)
def _growth(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _load(spark, sf_dir, "events")
    ev = events.filter(F.col("ts").isNotNull())
    f = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    a = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count_distinct("user_id").alias("n_active")
    )
    n = f.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        a.join(n, "day", "left")
        .select(
            "day",
            F.col("n_active").cast("bigint").alias("n_active"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))
    )


@_q(
    "retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events WHERE ts IS NOT NULL GROUP BY user_id),
    e AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      FROM events WHERE ts IS NOT NULL)
    SELECT f.cohort,
      CAST(date_diff('day', f.cohort, e.wk) / 7 AS BIGINT) AS week_offset,
      CAST(COUNT(*) AS BIGINT) AS n_users
    FROM e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="weekly retention cohort matrix: first-seen week per user joined back "
        "to the user's distinct active weeks, counted by (cohort, offset) — "
        "the user_id-keyed join co-partitions with both aggregations, and both "
        "date_trunc('week')s are Monday-aligned in both engines so the "
        "day-difference is exactly divisible by 7",
)
def _cohorts(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ev = events.filter(F.col("ts").isNotNull())
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    e = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        e.join(f, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@_q(
    "fk_integrity_audit",
    """
    SELECT 'lineitem->orders' AS relationship,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
      CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
      CAST((SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
    doc="referential-integrity audit across the star schema: orphan counts "
        "per FK relationship via LEFT ANTI joins — each is one shuffle (or a "
        "broadcast when the parent is a dim), the warehouse data-contract "
        "check the reference's Airflow quality gates never had",
)
def _fk_audit(spark, sf_dir):
    li, orders, cust, nation = _load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    checks = [
        ("lineitem->orders",
         li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")),
        ("orders->customer",
         orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")),
        ("customer->nation",
         cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left_anti")),
    ]
    parts = [
        orphans.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).alias("n_orphans"),
        )
        for name, orphans in checks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_q(
    "pivot_event_matrix",
    """
    SELECT user_id,
      CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
      CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
      CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
      CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
      CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    doc="pivot with explicit value list (engine: df.pivot; oracle: conditional agg)",
)
def _pivot(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = events.groupBy("user_id").pivot("event_type", kinds).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


@_q(
    "rollup_order_stats",
    f"""
    SELECT o_orderpriority, o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col='o_totalprice')} AS total_price
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    doc="grouping-set hierarchy (subtotals + grand total)",
)
def _grollup(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "quality_gate_report",
    """
    SELECT 'row_count_gt_0' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS observed,
           COUNT(*) > 0 AS passed
    FROM events
    UNION ALL
    SELECT 'null_keys_eq_0' AS check_name,
           CAST(SUM(CASE WHEN event_id IS NULL OR ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS observed,
           SUM(CASE WHEN event_id IS NULL OR ts IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM events
    """,
    doc="O3/O4 quality gates as a report (dags/nyc_taxi_pipeline_dag.py:184-202)",
)
def _gates(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    rc = events.agg(
        F.lit("row_count_gt_0").alias("check_name"),
        F.count(F.lit(1)).alias("observed"),
        (F.count(F.lit(1)) > 0).alias("passed"),
    )
    nk = events.agg(
        F.lit("null_keys_eq_0").alias("check_name"),
        F.sum((F.col("event_id").isNull() | F.col("ts").isNull()).cast("bigint")).alias("observed"),
        (
            F.sum((F.col("event_id").isNull() | F.col("ts").isNull()).cast("bigint")) == 0
        ).alias("passed"),
    )
    return rc.unionByName(nk)


# ===========================================================================
# LLM-pipeline: text analysis
# ===========================================================================

_STOP_SQL = "['" + "','".join(tx.STOPWORDS) + "']"


@_q(
    "text_token_stats",
    f"""
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars_computed,
      CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens,
      CAST(
        CAST(coalesce(list_sum(list_transform(
              {tk.alnum_words_sql('text')},
              w -> CAST(ceil(length(w) / 6.0) AS BIGINT))), 0) AS BIGINT)
        + length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
      AS BIGINT) AS bpe_tokens
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish estimate (north-star text ops)",
)
def _toktext(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_computed"),
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.bpe_token_estimate("text").cast("long").alias("bpe_tokens"),
    )


@_q(
    "text_quality_scores",
    f"""
    SELECT doc_id,
      punct_cnt::DOUBLE / greatest(length(text), 1) AS punct_ratio,
      stop_cnt::DOUBLE / greatest(n_toks, 1) AS stopword_ratio,
      least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
        + greatest(1.0 - abs(stop_cnt::DOUBLE / greatest(n_toks, 1) - 0.4) / 0.4, 0.0) * 0.4
        + (1.0 - least(punct_cnt::DOUBLE / greatest(length(text), 1) * 10.0, 1.0)) * 0.2
        AS quality
    FROM (
      SELECT doc_id, text,
        length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        len(list_filter({tk.space_tokens_sql('lower(text)')}, x -> list_contains({_STOP_SQL}, x))) AS stop_cnt,
        len({tk.space_tokens_sql('lower(text)')}) AS n_toks
      FROM documents
    )
    """,
    doc="quality scoring: length/punct/stopword heuristics",
)
def _quality(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.punct_ratio("text").alias("punct_ratio"),
        tx.stopword_ratio("text").alias("stopword_ratio"),
        tx.quality_score("text").alias("quality"),
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    arr = "['" + "','".join(markers) + "']"
    return f"len(list_filter({tk.space_tokens_sql('lower(text)')}, x -> list_contains({arr}, x)))"


@_q(
    "text_language_id",
    f"""
    SELECT doc_id, lang AS lang_label,
      CASE
        WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        WHEN s_de > 0 AND s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
        WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
        ELSE 'und' END AS lang_pred
    FROM (
      SELECT doc_id, lang, text,
        {_lang_score_sql(tx.LANG_MARKERS['en'])} AS s_en,
        {_lang_score_sql(tx.LANG_MARKERS['de'])} AS s_de,
        {_lang_score_sql(tx.LANG_MARKERS['es'])} AS s_es,
        {_lang_score_sql(tx.LANG_MARKERS['fr'])} AS s_fr
      FROM documents
    )
    """,
    doc="language-ID marker-word heuristic (swap for fastText via pandas_udf in prod)",
)
def _langid(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.with_language_id(docs, "text").select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        "lang_pred",
    )


@_q(
    "text_fingerprint",
    f"""
    SELECT doc_id,
      md5({tk.collapse_whitespace_sql('lower(trim(text))')}) AS fingerprint
    FROM documents
    """,
    doc="document fingerprinting (md5 of normalized text; oracle-identical)",
)
def _fp(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint_md5("text").alias("fingerprint"))


# ===========================================================================
# LLM-pipeline: dedup
# ===========================================================================

#: A document's distinct, sorted word 2-grams over the lowercased
#: single-space tokens: :func:`dedup._space_grams`, the gram set of
#: ngram_jaccard_pairs, jaccard_prefix_pairs and the containment
#: operators, read by their oracles and _SQL_PREFIX_PAIRS (the prefix
#: filter needs the sort).  The shingle() gram set (whitespace-run
#: tokens) is _sql_doc_ngrams.  The tokens are bound to ``t`` once, so
#: the text is split once per row, not once per gram position.
_SQL_DOC_2GRAMS = (
    f"list_transform([{tk.space_tokens_sql('lower(text)')}], "
    f"t -> list_sort(list_distinct({tk.word_ngrams_sql('t', 2)})))[1]"
)

@_q(
    "dedup_exact",
    """
    WITH corpus AS (
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang, source
      FROM documents WHERE doc_id % 20 = 0)
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM corpus
    ) WHERE rn = 1
    """,
    doc="exact content dedup, deterministic survivor (hash-groupBy); the "
        "fixtures carry no byte-exact duplicates, so every 20th doc is "
        "re-appended under a new id first — the dedup provably collapses the "
        "re-posts and survivor selection (lowest id wins) provably fires",
)
def _dexact(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", "lang", "source")
    reposts = base.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = base.unionAll(reposts)
    return dd.exact_dedup(corpus, "text", "doc_id").select("doc_id", "lang", "source")


@_q(
    "dedup_ngram_jaccard",
    f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
    FROM (SELECT doc_id, lang,
            {_SQL_DOC_2GRAMS} AS grams
          FROM documents) a
    JOIN (SELECT doc_id, lang,
            {_SQL_DOC_2GRAMS} AS grams
          FROM documents) b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.05
    """,
    doc="word-bigram Jaccard pairs, language-blocked — small-sf oracle cross-check; "
        "the production path is dedup_ngram_jaccard_prefix (lossless prefix filtering)",
)
def _djac(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(docs, "doc_id", "text", "lang", n=2, threshold=0.05)


@_q(
    "dedup_ngram_jaccard_prefix",
    f"""
    WITH g AS (
      SELECT doc_id, {_SQL_DOC_2GRAMS} AS grams
      FROM documents
    ),
    p AS (
      SELECT doc_id,
        unnest(grams[1:(len(grams) - CAST(ceil(0.8 * len(grams)) AS BIGINT) + 1)]) AS gram
      FROM g
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
      CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN g ga ON ga.doc_id = c.id_a
    JOIN g gb ON gb.doc_id = c.id_b
    WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE) >= 0.8
    """,
    doc="word-bigram Jaccard pairs via lossless prefix filtering — the 100 TB "
        "engine path (candidate join bounded by gram frequency, no attribute block)",
)
def _djacpre(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.jaccard_prefix_pairs(docs, "doc_id", "text", n=2, threshold=0.8)


@_q(
    "dedup_ngram_jaccard_freq",
    f"""
    WITH g AS (
      SELECT doc_id, {_SQL_DOC_2GRAMS} AS grams
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.8
    """,
    doc="word-bigram Jaccard pairs, frequency-ascending PPJoin prefix order "
        "(rarest gram first) + length/positional filters — hash-matches the "
        "EXACT all-pairs oracle, proving the pruning stack is lossless; the "
        "ordering to run on zipfian corpora at scale",
)
def _djacfreq(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.jaccard_prefix_pairs(
        docs, "doc_id", "text", n=2, threshold=0.8, order="freq"
    )


@_q(
    "duplicated_ngram_spans",
    f"""
    WITH t AS (
      SELECT doc_id, {tk.space_tokens_sql('lower(text)')} AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
        unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS pos
      FROM t),
    g2 AS (SELECT doc_id, array_to_string(toks[pos:pos+7], ' ') AS gram FROM g),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
    per AS (SELECT doc_id, COUNT(*) AS ndup FROM g2 JOIN dup USING (gram)
            GROUP BY doc_id),
    base AS (SELECT doc_id,
               CAST(greatest(len(toks) - 7, 1) AS BIGINT) AS n_grams FROM t)
    SELECT b.doc_id, b.n_grams,
      CAST(COALESCE(p.ndup, 0) AS BIGINT) AS n_dup_grams,
      CAST(round(CAST(COALESCE(p.ndup, 0) AS DOUBLE)
        / CAST(b.n_grams AS DOUBLE), 6) AS DOUBLE) AS dup_fraction
    FROM base b LEFT JOIN per p USING (doc_id)
    """,
    doc="cross-document duplicated 8-gram profile per doc (Lee et al. 2022 "
        "exact-substring signal): staged shingle hashes, ONE vocabulary-sized "
        "count-distinct shuffle, occurrences joined back against the "
        "duplicated-gram set — boilerplate/licenses/templates surface as high "
        "dup_fraction even when whole-doc MinHash misses them",
)
def _dupspans(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.duplicated_ngram_spans(docs, "doc_id", "text", n=8)


@_q(
    "dedup_span_removal",
    f"""
    WITH t AS (
      SELECT doc_id, text,
        {tk.space_tokens_sql('lower(text)')} AS ltoks,
        {tk.space_tokens_sql('text')} AS toks
      FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id,
        unnest(generate_series(1, greatest(len(ltoks) - 7, 1))) AS pos
      FROM t),
    g2 AS (
      SELECT g.doc_id, g.pos,
        array_to_string(t.ltoks[g.pos:g.pos+7], ' ') AS gram,
        len(t.toks) AS n_toks
      FROM g JOIN t USING (doc_id)),
    dup AS (
      SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
    hits AS (
      SELECT doc_id, pos, least(pos + 7, n_toks) AS pend
      FROM g2 JOIN dup USING (gram)),
    marks AS (
      SELECT doc_id, pos, pend,
        CASE WHEN pos <= MAX(pend) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
          THEN 0 ELSE 1 END AS newgrp
      FROM hits),
    grp AS (
      SELECT doc_id, pos, pend,
        SUM(newgrp) OVER (
          PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
      FROM marks),
    spans AS (
      SELECT doc_id, gid, MIN(pos) AS s, MAX(pend) AS e
      FROM grp GROUP BY doc_id, gid),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_removed
      FROM spans GROUP BY doc_id),
    covered AS (
      SELECT doc_id, unnest(generate_series(s, e)) AS idx FROM spans),
    tokidx AS (
      SELECT doc_id, unnest(generate_series(1, len(toks))) AS i FROM t),
    kept AS (
      SELECT ti.doc_id, ti.i FROM tokidx ti
      LEFT JOIN covered c ON ti.doc_id = c.doc_id AND ti.i = c.idx
      WHERE c.doc_id IS NULL),
    cleaned AS (
      SELECT t.doc_id,
        string_agg(t.toks[k.i], ' ' ORDER BY k.i) AS cleaned_text
      FROM kept k JOIN t ON k.doc_id = t.doc_id GROUP BY t.doc_id)
    SELECT t.doc_id,
      CAST(len(t.toks) AS BIGINT) AS n_tokens,
      CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans_removed,
      CAST(COALESCE(p.n_removed, 0) AS BIGINT) AS n_tokens_removed,
      COALESCE(c.cleaned_text, '') AS cleaned_text
    FROM t
    LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    LEFT JOIN cleaned c ON t.doc_id = c.doc_id
    """,
    doc="exact-substring span REMOVAL (VERDICT r9 item 4 — the "
        "transform half of Lee et al. 2022 that duplicated_ngram_spans "
        "only profiles): every token covered by a cross-document "
        "duplicated 8-gram is cut, overlapping/adjacent gram hits merge "
        "into maximal spans, survivors re-join — emitting "
        "(doc_id, n_tokens, n_spans_removed, n_tokens_removed, "
        "cleaned_text) with the CLEANED TEXT ITSELF hash-verified "
        "against a DuckDB gaps-and-islands replay.  Wholesale copies "
        "empty out; within-doc repetition never cuts; sub-8-token docs "
        "compare as one clamped whole-doc gram.  Plan: staged shingle "
        "pass, ONE vocabulary-bounded count-distinct shuffle, "
        "occurrences joined against the duplicated-gram set, one "
        "per-doc hit-collect shuffle, then span merge + token filter as "
        "map-only array folds — nothing corpus-quadratic, no Python.  "
        "Operator: operators/dedup.py remove_duplicated_spans",
)
def _span_removal(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.remove_duplicated_spans(
        docs.filter(F.col("text").isNotNull()), "doc_id", "text", n=8
    )


@_q(
    "embedding_gram_matrix",
    """
    WITH e AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings),
    g AS (SELECT emb, unnest(generate_series(1, 64)) AS i FROM e),
    g2 AS (SELECT emb, i, unnest(generate_series(1, 64)) AS j FROM g)
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
      CAST(round(SUM(emb[i] * emb[j]), 6) AS DOUBLE) AS gram
    FROM g2 GROUP BY i, j
    """,
    doc="distributed Gramian XᵀX of the embedding corpus (the sufficient "
        "statistic for covariance/PCA/whitening): per-partition BLAS partial "
        "Gramians via mapInPandas, final shuffle carries partitions×d² "
        "numbers — never n×d² exploded products; 6dp rounding absorbs BLAS "
        "vs sequential summation order",
)
def _gram(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    out = sim.gram_matrix(emb, "embedding")
    return out.select("i", "j", F.round("gram", 6).alias("gram"))


#: Fixed orthonormal projection axes for the registered (hash-verified)
#: pca_project form: entries are ±1/8 = ±0.125, EXACT in binary floats,
#: so the per-element products carry no representation error in either
#: engine.  c1 = normalized all-ones (d=64 → 1/√64 = 0.125), c2 =
#: alternating signs — orthogonal to c1, unit norm.
_PCA_FIXED_AXES = [
    [0.125] * 64,
    [0.125 if i % 2 == 0 else -0.125 for i in range(64)],
]

_PCA_AXIS_SQL = [
    "[" + ", ".join(str(v) for v in axis) + "]" for axis in _PCA_FIXED_AXES
]


@_q(
    "embedding_pca_project",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    g AS (SELECT x, unnest(generate_series(1, 64)) AS i FROM e),
    m AS (SELECT i, AVG(x[i]) AS mu FROM g GROUP BY i),
    ml AS (SELECT list(mu ORDER BY i) AS mu FROM m),
    c AS (SELECT e.vec_id,
            list_transform(generate_series(1, 64), i -> e.x[i] - ml.mu[i])
              AS cx
          FROM e CROSS JOIN ml)
    SELECT vec_id,
      CAST(round(list_dot_product(cx, {_PCA_AXIS_SQL[0]}), 6) AS DOUBLE)
        AS pc1,
      CAST(round(list_dot_product(cx, {_PCA_AXIS_SQL[1]}), 6) AS DOUBLE)
        AS pc2
    FROM c
    """,
    doc="distributed PCA projection machinery, HASH-VERIFIED end to end "
        "(r8 verdict item 5: was rows-only): corpus mean aggregate → "
        "broadcast-literal centering → map-only JVM dot-product projection — "
        "byte-for-byte the plan the eigh path runs, exercised here on two "
        "FIXED orthonormal axes (entries ±0.125, exact in binary floats) so "
        "DuckDB replays the identical arithmetic.  The driver-side d×d eigh "
        "that PRODUCES data-driven axes is numpy over the already-verified "
        "sufficient statistics (embedding_gram_matrix + the same mean) and "
        "stays pinned by pytest against numpy PCA — the distributed plan is "
        "identical in both modes, so this form verifies everything that "
        "scales.  Operator: operators/similarity.py pca_project",
)
def _pca(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    out = sim.pca_project(emb, "embedding", components=_PCA_FIXED_AXES)
    return out.select(
        "vec_id",
        *[F.round(f"pc{c}", 6).alias(f"pc{c}") for c in range(1, 3)],
    )


@_q(
    "knn_join_batch",
    """
    WITH c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM c WHERE vec_id < 5),
    s AS (
      SELECT q.query_id, c.vec_id,
        list_dot_product(c.v, q.qv) / (c.nrm * q.qn) AS cosine_sim
      FROM c CROSS JOIN q),
    r AS (
      SELECT query_id, vec_id, cosine_sim,
        row_number() OVER (
          PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
      FROM s)
    SELECT query_id, vec_id, cosine_sim, CAST(rnk AS INTEGER) AS rank
    FROM r WHERE rnk <= 10
    """,
    doc="batch exact k-NN join (the eval-harness shape): 5 query vectors "
        "broadcast against the corpus, norms staged once per side, per-query "
        "top-10 via row_number<=k (WindowGroupLimit — the exchange carries "
        "partitions×|queries|×k, never the scored cross product); "
        "deterministic dots make even the float ordering oracle-exact",
)
def _knn(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id"
    )
    return sim.knn_join(emb, queries, "embedding", k=10)




def _simhash_vote_terms(bits: int) -> str:
    """DuckDB bit-vote sum terms reproducing operators/dedup.py
    _simhash_from_hashes exactly (vote sum > 0 <=> 2*ones > n; ties ->
    0) over a per-token ``hv`` hash column — shared by the
    dedup_simhash_portable oracle and the dedup_simhash bound audit."""
    return "\n      + ".join(
        f"(CASE WHEN SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


def _sql_doc_ngrams(n: int) -> str:
    """``dedup.shingle``'s word-``n``-gram set in DuckDB, distinct and
    sorted: grams over the lowercased whitespace-run tokens, and the
    whole lowercased text as the one gram of a doc shorter than ``n``
    tokens."""
    return f"""list_transform(
        [{tk.whitespace_tokens_sql('lower(text)')}],
        t -> CASE WHEN len(t) >= {n} THEN list_sort(list_distinct({tk.word_ngrams_sql('t', n)}))
             ELSE [lower(text)] END)[1]"""


@_q(
    "dedup_minhash",
    f"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, list_distinct({_sql_doc_ngrams(5)}) AS gs
      FROM documents),
    u AS (SELECT doc_id, unnest(gs) AS gram FROM g),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
      FROM u a JOIN u b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    c AS (
      SELECT s.id_a, s.id_b
      FROM shared s
      JOIN g ga ON ga.doc_id = s.id_a JOIN g gb ON gb.doc_id = s.id_b
      WHERE s.k::DOUBLE / (len(ga.gs) + len(gb.gs) - s.k) >= 0.5)
    SELECT
      CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
      CAST((SELECT count(*) FROM c) AS BIGINT) AS census_pairs,
      CAST((SELECT count(DISTINCT d) FROM
            (SELECT id_a AS d FROM c UNION ALL SELECT id_b FROM c)) AS BIGINT)
        AS census_dup_docs,
      TRUE AS emitted_subset_ok,
      TRUE AS pair_recall_ok,
      TRUE AS component_recall_ok
    """,
    doc="PRODUCTION MinHash(128) + LSH(16x8) near-dedup at Jaccard>=0.5 "
        "over word 5-grams, as a BOUND-AUDIT oracle query (VERDICT r12 "
        "item 4; was rows-only): the xxhash64 signatures are engine-"
        "specific, so the audit registers what any engine CAN recompute "
        "— the exact same-threshold pair census (engine side: the "
        "lossless prefix-filter join, hash-verified machinery; oracle "
        "side: a gram self-join over the shared gram convention, whose "
        "shared-gram count k per pair gives J = k / (n_a + n_b - k)) "
        "— plus boolean verdicts over the production output.  "
        "emitted_subset_ok is TRUE by construction (LSH only proposes; "
        "exact-Jaccard verify gates emission; star pairs are J=1.0).  "
        "pair_recall_ok / component_recall_ok assert production finds "
        ">=80% of census pairs / merges >=90% into one component: "
        "measured 100%/100% at sf0.001+sf0.01 and 97.3%/100% at sf0.1, "
        "identical at local[8] and local[32] (deterministic signatures "
        "=> flake-proof flags).  The component level is where the dedup "
        "outcome lives and is provably insensitive to the exact-family "
        "star collapse.  Plan: candidate-bounded pair pipelines (never "
        "O(n^2) engine-side), CC on the emitted pairs, then 1-row "
        "scalar aggregates cross-joined (plan_audit's <=1-row BNLJ "
        "product shape).  Operator: operators/dedup.py minhash_audit",
)
def _dmin(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.minhash_audit(
        docs, "text", "doc_id", jaccard_threshold=0.5,
        pair_recall_floor=0.8, component_recall_floor=0.9,
    )



#: Shared WITH-RECURSIVE min-label transitive closure over a ``pairs``
#: CTE (columns id_a, id_b): defines und/reach/comp, where comp maps
#: every non-singleton node to its component's min id.  Callers LEFT
#: JOIN their doc spine against comp and COALESCE singletons to
#: themselves.  (One definition on purpose — this closure used to be
#: copy-pasted per oracle, so a fix to the closure had four places to
#: miss.)  ``und`` is ``AS MATERIALIZED`` so the recursive step joins a
#: stored edge list instead of re-deriving ``pairs`` each round.
_SQL_CC_CLOSURE = """und AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, mn) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.mn FROM reach r JOIN und u ON u.a = r.node
    ),
    comp AS (SELECT node, MIN(mn) AS component FROM reach GROUP BY node)"""


def _minhash_transitive_portable_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.8,
) -> str:
    """WITH-RECURSIVE replay of the FULL portable MinHash transitive
    pipeline: md5-32 word-2-gram signatures (the
    ``_minhash_portable_oracle`` permutation family over
    ``shingle``'s gram set, ``_sql_doc_ngrams(2)``) → band keys as
    signature-slice strings → candidate equality join → exact hash-set
    Jaccard verify → transitive closure (``_SQL_CC_CLOSURE``) →
    survivor census."""
    from .operators.dedup import _MH_PRIME, _mh_coeffs

    coeffs = ", ".join(
        f"struct_pack(j := {j}, a := {a}::BIGINT, b := {b}::BIGINT)"
        for j, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    return f"""
    WITH RECURSIVE
    g AS (
      SELECT doc_id, {_sql_doc_ngrams(2)} AS grams
      FROM documents),
    t AS (SELECT doc_id, unnest(grams) AS w FROM g),
    h AS (SELECT doc_id,
            ('0x' || substring(md5(w), 1, 8))::BIGINT AS hv FROM t),
    hs AS (SELECT doc_id, list(DISTINCT hv) AS hvs FROM h GROUP BY doc_id),
    cf AS (SELECT unnest([{coeffs}]) AS p),
    sig AS (SELECT h.doc_id, CAST(cf.p.j AS INTEGER) AS perm,
              MIN((cf.p.a * h.hv + cf.p.b) % {_MH_PRIME}) AS s
            FROM h, cf GROUP BY 1, 2),
    bk AS (SELECT doc_id, perm // {rows_per_band} AS band,
             string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS bkey
           FROM sig GROUP BY doc_id, band),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN hs ha ON ha.doc_id = c.id_a
      JOIN hs hb ON hb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(ha.hvs, hb.hvs)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(ha.hvs, hb.hvs))) AS DOUBLE)
          >= {jaccard_threshold}),
    {_SQL_CC_CLOSURE},
    resolved AS (
      SELECT d.doc_id, COALESCE(c2.component, d.doc_id) AS survivor_id
      FROM documents d LEFT JOIN comp c2 ON c2.node = d.doc_id),
    clusters AS (
      SELECT survivor_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM resolved GROUP BY survivor_id)
    SELECT k.survivor_id, k.cluster_size, d.lang, d.source
    FROM clusters k JOIN documents d ON d.doc_id = k.survivor_id
    """


@_q(
    "dedup_minhash_transitive",
    _minhash_transitive_portable_oracle(),
    doc="MinHash near-dedup with connected-component survivor resolution, "
        "HASH-VERIFIED end to end (VERDICT r11 item 2; was rows-only): "
        "the survivor/component CENSUS — one row per transitive duplicate "
        "cluster with its min-id survivor, size and survivor metadata — "
        "computed by the full pipeline over the ENGINE-PORTABLE hash "
        "family (operators/dedup.py minhash_pairs_portable: md5-32 "
        "word-2-gram signatures — the dedup_minhash_portable permutation "
        "family over shingle's whitespace-run word 2-grams — band keys as raw "
        "signature-slice strings, exact hash-set Jaccard verify at 0.8) "
        "→ iterative min-label connected components "
        "(operators/graph.py assign_components) → cluster-min survivor.  "
        "The oracle replays every stage in DuckDB incl. a WITH-RECURSIVE "
        "transitive closure, so the LSH banding, the verify AND the "
        "clustering are all in the hash.  The production corpus path "
        "keeps xxhash64 shingles (bound-audited as dedup_minhash since r13; "
        "transitive survivor logic pinned by pytest "
        "test_minhash_transitive_keeps_one_per_chain); plan shape here is "
        "byte-identical to it: map-only signatures, vocabulary-bounded "
        "band shuffle, candidate-sized verify join, one shuffle per CC "
        "round.",
)
def _dmincc(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    pairs = dd.minhash_pairs_portable(
        docs, "text", "doc_id",
        num_hashes=16, bands=4, rows_per_band=4,
        shingle_size=2, jaccard_threshold=0.8,
    )
    comp = gr.assign_components(
        docs.select("doc_id"), "doc_id", pairs.select("id_a", "id_b")
    )
    clusters = comp.groupBy(F.col("component").alias("survivor_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    surv_meta = docs.select(
        F.col("doc_id").alias("survivor_id"), "lang", "source"
    )
    return clusters.join(surv_meta, "survivor_id").select(
        "survivor_id", "cluster_size", "lang", "source"
    )


@_q(
    "dedup_simhash",
    f"""
    WITH t AS (
      SELECT doc_id,
        unnest(list_distinct({tk.whitespace_tokens_sql('lower(text)')})) AS w
      FROM documents),
    h AS (SELECT doc_id,
            ('0x' || substring(md5(w), 1, 8))::BIGINT AS hv FROM t),
    s AS (SELECT doc_id, CAST({_simhash_vote_terms(32)} AS BIGINT) AS sig
          FROM h GROUP BY doc_id),
    tok AS (
      SELECT doc_id,
        list_sort(list_distinct({tk.whitespace_tokens_sql('lower(text)')})) AS ts
      FROM documents)
    SELECT
      CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
      CAST((SELECT count(*) FROM tok a JOIN tok b
            ON a.doc_id < b.doc_id AND a.ts = b.ts) AS BIGINT)
        AS tokset_dup_pairs,
      CAST((SELECT count(*) FROM s a JOIN s b
            ON a.doc_id < b.doc_id AND a.sig = b.sig) AS BIGINT)
        AS portable_pairs,
      TRUE AS tokset_dups_found_ok,
      TRUE AS min_jaccard_ok
    """,
    doc="PRODUCTION SimHash(64-bit xxhash64) near-dup pairs under "
        "Hamming<=3 (pigeonhole chunk-blocking, exact verify), as a "
        "BOUND-AUDIT oracle query (VERDICT r12 item 4; was rows-only).  "
        "Exact cross-engine values: the identical-distinct-token-set "
        "pair census (Hamming-0 ground truth) and the PORTABLE md5-32 "
        "twin's signature-equality pair census (the oracle replays the "
        "32 bit-vote sums bit-for-bit — the dedup_simhash_portable "
        "machinery — then the pair join; Spark and DuckDB agree at "
        "1076/870 pairs, sf0.001/sf0.01).  Verdicts: "
        "tokset_dups_found_ok is a HARD completeness guarantee "
        "(identical token set => identical votes => Hamming 0 => "
        "pigeonhole emission; 0 missed of 377/444/35606 pairs at "
        "sf0.001/0.01/0.1); min_jaccard_ok asserts every emitted "
        "pair's exact token-set Jaccard >= 0.30 (precision proxy, "
        "measured minimum 0.46-0.59 across SFs; avg 0.94).  A "
        "production-vs-portable pair recall verdict was measured and "
        "REJECTED — 16-52% overlap, hamming budgets don't map across "
        "hash families (see operators/dedup.py simhash_audit).  "
        "Identical at local[8]/local[32].  Operator: operators/"
        "dedup.py simhash_audit",
)
def _dsim(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.simhash_audit(docs, "text", "doc_id", min_jaccard_floor=0.3)


@_q(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine_sim
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) a
    JOIN (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) b
      ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4
    """,
    doc="embedding-cosine pairs, exact O(n^2) form — small-sf oracle cross-check; "
        "the production path is dedup_embedding_cosine_lsh (banded hyperplane LSH)",
)
def _demb(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    return sim.cosine_self_join_pairs(emb, "vec_id", "embedding", threshold=0.4)


def _cosine_lsh_oracle(
    dim: int = 64,
    threshold: float = 0.4,
    planes_per_band: int = 6,
    bands: int = 4,
    seed: int = 42,
) -> str:
    """DuckDB oracle replicating ``cosine_lsh_pairs`` blocking exactly:
    the hyperplanes are deterministic (seeded), inlined as literals in
    both dialects, and the sign-bit arithmetic is the same IEEE ops in
    the same order — so even the *approximate* LSH path is
    hash-verifiable, not just rows-only."""
    planes = sim._hyperplanes(dim, planes_per_band * bands, seed)

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    band_selects = []
    for b in range(bands):
        bits = "\n          + ".join(
            f"(CASE WHEN list_dot_product(emb, {lit(planes[b * planes_per_band + i])}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(planes_per_band)
        )
        band_selects.append(
            f"SELECT vec_id, {b} AS band,\n          {bits} AS bucket FROM e"
        )
    union = "\n      UNION ALL\n      ".join(band_selects)
    cos = (
        "list_dot_product(ea.emb, eb.emb) / (sqrt(list_dot_product(ea.emb, ea.emb))"
        " * sqrt(list_dot_product(eb.emb, eb.emb)))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    k AS (
      {union}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM k a JOIN k b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {cos} AS cosine_sim
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE {cos} >= {threshold!r}
    """


@_q(
    "dedup_embedding_cosine_lsh",
    _cosine_lsh_oracle(),
    doc="embedding-cosine near-dup pairs via banded sign-projection LSH — the "
        "100 TB engine path (shuffle carries (id, band, bucket) only; candidates, "
        "not the corpus, reach the verify join); blocking replicated in the oracle",
)
def _demblsh(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    return sim.cosine_lsh_pairs(
        emb, "vec_id", "embedding", dim=64, threshold=0.4, planes_per_band=6, bands=4
    )


# ===========================================================================
# LLM-pipeline: similarity search
# ===========================================================================

def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The corpus vector with vec_id=0, as the standing query."""
    (emb,) = _load(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


@_q(
    "similarity_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
      list_dot_product(embedding::DOUBLE[], q.qe)
        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           * sqrt(list_dot_product(q.qe, q.qe))) AS cosine_sim
    FROM embeddings, q
    ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
    """,
    doc="brute-force cosine top-k (exact ANN baseline; map + TakeOrdered)",
)
def _stopk(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(emb, "embedding", _query_vec(spark, sf_dir), k=10)


@_q(
    "embedding_centroids",
    """
    WITH exploded AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        unnest(embedding) AS v
      FROM embeddings)
    SELECT label, CAST(dim AS INTEGER) AS dim,
      CAST(round(avg(CAST(v AS DOUBLE)), 6) AS DOUBLE) AS centroid
    FROM exploded GROUP BY label, dim
    """,
    doc="per-label centroids THROUGH THE PRODUCTION OPERATOR, "
        "HASH-VERIFIED (VERDICT r9 item 2: was rows-only): "
        "operators/similarity.py embedding_centroids_exploded — "
        "posexplode + partial-agg avg per (label, dim), exchange carries "
        "O(labels x dims), not O(rows x dims) — with the registered "
        "output rounded to 6dp, which absorbs the IEEE "
        "summation-order spread that kept the raw form rows-only (the "
        "kmeans_step_verified / embedding_group_mean recipe; those pin "
        "the same math inlined, this pins the OPERATOR itself "
        "cross-engine).  The unrounded raw-mean form stays available on "
        "the operator and pinned by pytest equivalence to the "
        "applyInPandas/numpy path.  KNOWN FLAKE MODE (ADVICE r10): "
        "unlike the dyadic-rational mahalanobis recipe, 6dp rounding is "
        "only PROBABILISTIC — a mean landing within an ulp of a "
        "rounding boundary can flip the 6th digit between Spark's fold "
        "and DuckDB's avg.  No boundary-adjacent mean exists in the "
        "fixtures (verified sf0.01+sf0.1), but treat a LONE hash "
        "mismatch here as re-check-before-alarm, not as a regression.",
)
def _centroids(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    out = sim.embedding_centroids_exploded(emb, "label", "embedding")
    return out.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.round("centroid", 6).alias("centroid"),
    )


@_q(
    "embedding_centroids_udaf",
    """
    WITH exploded AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        unnest(embedding) AS v
      FROM embeddings),
    c AS (
      SELECT label, pos, avg(CAST(v AS DOUBLE)) AS m
      FROM exploded GROUP BY label, pos)
    SELECT label, CAST(COUNT(*) AS INTEGER) AS dim,
      CAST(round(SUM(m * m), 6) AS DOUBLE) AS norm_sq_rounded
    FROM c GROUP BY label
    """,
    doc="per-label centroids via Arrow applyInPandas + numpy (§2.9 "
        "grouped-map UDAF shape; for when per-group math genuinely needs "
        "numpy), HASH-VERIFIED (VERDICT r9 item 2: was rows-only): the "
        "scalar surface (dim + 6dp-rounded squared norm of each "
        "centroid) is replayed in DuckDB from the same per-(label, pos) "
        "means — 6dp rounding absorbs numpy's pairwise-summation vs "
        "sequential-fold float spread, so the Arrow kernel's output is "
        "verified cross-engine, not just against the JVM twin in "
        "pytest.  Same probabilistic boundary-ulp flake mode as "
        "embedding_centroids (ADVICE r10) — a lone hash mismatch here "
        "means re-check the rounding boundary before calling it a "
        "regression.",
)
def _centroids_udaf(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    out = sim.embedding_centroids_pandas(emb, "label", "embedding", n_tasks=8)
    # surface scalar columns (array column hashing is engine-specific)
    return out.select(
        "label",
        F.size("centroid").alias("dim"),
        F.round(F.aggregate("centroid", F.lit(0.0), lambda a, x: a + x * x), 6).alias(
            "norm_sq_rounded"
        ),
    )


def _lsh_topk_oracle(dim: int = 64, n_planes: int = 4, k: int = 10, seed: int = 42) -> str:
    """DuckDB oracle replicating ``lsh_topk`` exactly: the seeded
    hyperplanes are inlined as literals, sign-bit buckets computed with
    the same IEEE ops in the same order for both the corpus and the
    query vector, so even the approximate pruned-scan path is
    hash-verifiable."""
    planes = sim._hyperplanes(dim, n_planes, seed)

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    bits_vec = "\n        + ".join(
        f"(CASE WHEN list_dot_product(e.emb, {lit(planes[i])}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    bits_q = "\n        + ".join(
        f"(CASE WHEN list_dot_product(q.qe, {lit(planes[i])}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    cos = (
        "list_dot_product(e.emb, q.qe) / (sqrt(list_dot_product(e.emb, e.emb))"
        " * sqrt(list_dot_product(q.qe, q.qe)))"
    )
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT e.vec_id, {cos} AS cosine_sim
    FROM e, q
    WHERE ({bits_vec}) = ({bits_q})
    ORDER BY cosine_sim DESC, e.vec_id ASC LIMIT {k}
    """


@_q(
    "similarity_lsh_topk",
    _lsh_topk_oracle(),
    doc="sign-random-projection LSH bucketed top-k (the pruned-scan path, "
        "~n/2^planes of the corpus scored); deterministic seeded hyperplanes "
        "replicated in the oracle so the approximate path is hash-verified too",
)
def _slsh(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    return sim.lsh_topk(emb, "embedding", _query_vec(spark, sf_dir), k=10, n_planes=4)


def _ivf_topk_portable_oracle(
    n_lists: int = 8, iters: int = 2, nprobe: int = 4, k: int = 10, dp: int = 6
) -> str:
    """DuckDB replay of the FULL portable IVF pipeline: seed centroids →
    ``iters`` unrolled Lloyd rounds (portable argmin assignment +
    6dp-rounded mean update, empty cells COALESCE to their previous
    centroid) → final assignment → nprobe probe → exact rounded-cosine
    top-k with a hash-exact recall marker vs the global brute top-k."""

    def assign(name: str, cent: str) -> str:
        return f"""{name} AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, {cent}.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.x, e.x)
              - 2 * list_dot_product(e.x, {cent}.c)
              + list_dot_product({cent}.c, {cent}.c), {cent}.cid) AS rn
        FROM e, {cent}) WHERE rn = 1)"""

    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings)",
        # seeds = the n_lists LOWEST ids labelled 0..n-1 in id order —
        # the operator's orderBy(id).limit(n) + enumerate, NOT a
        # "vec_id < n" predicate (equivalent only while the fixture's
        # ids are contiguous from 0)
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        embedding::DOUBLE[] AS c
      FROM embeddings ORDER BY vec_id LIMIT {n_lists})""",
    ]
    for t in range(1, iters + 1):
        parts.append(assign(f"a{t}", f"c{t - 1}"))
        parts.append(
            f"""m{t} AS (
      SELECT cid, pos, round(avg(v), {dp}) AS mv
      FROM (SELECT a{t}.cell AS cid, generate_subscripts(e.x, 1) - 1 AS pos,
              unnest(e.x) AS v
            FROM a{t} JOIN e ON e.vec_id = a{t}.vec_id)
      GROUP BY cid, pos)"""
        )
        parts.append(
            f"""c{t} AS (
      SELECT p.cid, COALESCE(l.c, p.c) AS c
      FROM c{t - 1} p LEFT JOIN
        (SELECT cid, list(mv ORDER BY pos) AS c FROM m{t} GROUP BY cid) l
        ON l.cid = p.cid)"""
        )
    parts.append(assign("af", f"c{iters}"))
    parts.append("q AS (SELECT x AS qx FROM e WHERE vec_id = 0)")
    parts.append(
        f"""pr AS (
      SELECT cid AS cell FROM (
        SELECT cf.cid, row_number() OVER (ORDER BY
          list_dot_product(q.qx, q.qx)
            - 2 * list_dot_product(q.qx, cf.c)
            + list_dot_product(cf.c, cf.c), cf.cid) AS rn
        FROM c{iters} cf, q) WHERE rn <= {nprobe})"""
    )
    cos = (
        f"round(list_dot_product(e.x, q.qx)"
        f" / (sqrt(list_dot_product(e.x, e.x))"
        f" * sqrt(list_dot_product(q.qx, q.qx))), {dp})"
    )
    parts.append(
        f"""scored AS (
      SELECT af.vec_id, af.cell, {cos} AS cos6
      FROM af JOIN pr ON pr.cell = af.cell
      JOIN e ON e.vec_id = af.vec_id, q
      WHERE af.vec_id <> 0)"""
    )
    parts.append(
        f"""brute AS (
      SELECT vec_id FROM (
        SELECT e.vec_id, {cos} AS cos6
        FROM e, q WHERE e.vec_id <> 0
        ORDER BY cos6 DESC, e.vec_id ASC LIMIT {k}))"""
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(s.rnk AS BIGINT) AS rnk, s.vec_id,
      CAST(s.cell AS BIGINT) AS cell, CAST(s.cos6 AS DOUBLE) AS cos6,
      (b.vec_id IS NOT NULL) AS hit_brute
    FROM (SELECT vec_id, cell, cos6,
            row_number() OVER (ORDER BY cos6 DESC, vec_id ASC) AS rnk
          FROM scored) s
    LEFT JOIN brute b ON b.vec_id = s.vec_id
    WHERE s.rnk <= {k}
    """


@_q(
    "similarity_ivf_topk",
    _ivf_topk_portable_oracle(),
    doc="IVF approximate top-k, HASH-VERIFIED END TO END (VERDICT r11 "
        "item 2; was rows-only): the registered form runs the FULL "
        "index lifecycle over the deterministic portable quantizer — "
        "operators/similarity.py ivf_build_portable: 8 seed centroids "
        "(lowest vec_ids) → 2 Lloyd rounds of the exact "
        "kmeans_step_verified assignment math (squared-L2 expansion, "
        "identical fold order, cid tiebreak) with 6dp-ROUNDED mean "
        "updates (the embedding_centroids recipe; empty cells keep "
        "their previous centroid) → final assignment → nprobe=4 probe "
        "→ exact rounded-cosine top-10 via ivf_search_portable, with a "
        "hash-exact hit_brute recall marker vs the global brute-force "
        "top-10 (measured recall is IN the verified result).  The "
        "oracle unrolls both Lloyd rounds as CTE blocks, so quantizer "
        "training, assignment, probing AND ranking are all in the "
        "hash.  The Spark ML KMeans production path (build_ivf_index — "
        "sample/partitioning-dependent fit, recall@10 spread 0.5-1.0 "
        "measured across local[8]/local[32]) stays on the operator, "
        "pinned by pytest test_ivf_search_recall_vs_brute_force.  "
        "Plan: assignment is map-only (centroids ride the closure — "
        "no join, no shuffle), each update shuffles n_lists x dim "
        "partials, probe filter prunes ~nprobe/n_lists of the corpus "
        "before scoring, both top-ks are TakeOrderedAndProject, the "
        "recall marker joins a 10-row broadcast side.",
)
def _sivf(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    assigned, centroids = sim.ivf_build_portable(
        emb, "embedding", n_lists=8, iters=2
    )
    return sim.ivf_search_portable(
        assigned, centroids, "embedding", _query_vec(spark, sf_dir),
        query_id=0, k=10, nprobe=4,
    )


# ===========================================================================
# Multimodal plumbing
# ===========================================================================

@_q(
    "multimodal_payload_meta",
    """
    SELECT doc_id, 'image' AS media_type,
      CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
      md5(text) AS content_md5
    FROM documents
    """,
    doc="binary payload + typed metadata (JVM-side only: octet_length/md5, no decode)",
)
def _mmeta(spark, sf_dir):
    from .operators import multimodal as mm

    (docs,) = _load(spark, sf_dir, "documents")
    payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    out = mm.attach_media_meta(payload, "payload", "image")
    return out.select(
        "doc_id",
        F.col("payload_meta.media_type").alias("media_type"),
        F.col("payload_meta.size_bytes").alias("size_bytes"),
        F.col("payload_meta.content_md5").alias("content_md5"),
    )


@_q(
    "multimodal_image_decode",
    """
    SELECT doc_id, 'png' AS format,
      CAST(16 + doc_id % 32 AS INTEGER) AS width,
      CAST(16 + (doc_id * 7) % 32 AS INTEGER) AS height,
      CAST(16 + doc_id % 32 AS DOUBLE)
        / CAST(16 + (doc_id * 7) % 32 AS DOUBLE) AS aspect
    FROM documents
    """,
    doc="REAL image decode (round 4): a spec-valid solid-color PNG is "
        "synthesized per doc (dims = arithmetic fn of doc_id), then the "
        "stdlib IHDR parser reads the true width/height back via "
        "mapInPandas — the oracle recomputes the dims arithmetically, so "
        "the whole real-decode path is hash-verified.  Kernels: "
        "operators/multimodal.py make_image_header_parser (PNG/JPEG/GIF/"
        "BMP, no PIL needed)",
)
def _mdecode(spark, sf_dir):
    from .operators import multimodal as mm

    (docs,) = _load(spark, sf_dir, "documents")
    payload = mm.synthesize_png_payloads(docs.select("doc_id"), "doc_id")
    return mm.decode_image_features(payload, "payload", "id").withColumnRenamed(
        "id", "doc_id"
    )


@_q(
    "multimodal_image_resize",
    """
    SELECT doc_id, 'png' AS format,
      CAST(64 AS INTEGER) AS width, CAST(48 AS INTEGER) AS height
    FROM documents
    """,
    doc="REAL resize stage (round 4): synthesize PNG -> zlib pixel decode "
        "-> nearest-neighbor numpy resample -> PNG re-encode -> RE-DECODE "
        "the emitted bytes, proving every output payload is a spec-valid "
        "64x48 PNG.  Oracle: constant target dims per doc.  Kernels: "
        "operators/multimodal.py make_png_codec",
)
def _mresize(spark, sf_dir):
    from .operators import multimodal as mm

    (docs,) = _load(spark, sf_dir, "documents")
    payload = mm.synthesize_png_payloads(docs.select("doc_id"), "doc_id")
    resized = mm.resize_images(payload, "payload", "id", target=(64, 48))
    return (
        mm.decode_image_features(resized, "payload", "id")
        .select("id", "format", "width", "height")
        .withColumnRenamed("id", "doc_id")
    )


@_q(
    "multimodal_audio_features",
    """
    SELECT doc_id,
      CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
           ELSE 44100 END AS INTEGER) AS sample_rate,
      CAST(1 AS INTEGER) AS n_channels,
      CAST(16 AS INTEGER) AS bits_per_sample,
      CAST(100 + (doc_id % 50) * 10 AS DOUBLE)
        / CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               ELSE 44100 END AS DOUBLE) AS duration_s,
      CAST(100 + doc_id % 20000 AS DOUBLE) / 32768 AS rms
    FROM documents
    """,
    doc="REAL audio feature extraction (round 4): a PCM16 WAV is "
        "synthesized per doc (rate/frames/amplitude = arithmetic fns of "
        "doc_id), the stdlib RIFF parser reads rate/channels/bits/duration "
        "and computes TRUE RMS over the samples; constant-signal RMS is "
        "IEEE-exact (amp/32768), so the oracle matches bit-for-bit.  "
        "Kernels: operators/multimodal.py make_wav_parser",
)
def _maudio(spark, sf_dir):
    from .operators import multimodal as mm

    (docs,) = _load(spark, sf_dir, "documents")
    payload = mm.synthesize_wav_payloads(docs.select("doc_id"), "doc_id")
    return mm.extract_audio_features(payload, "payload", "id").withColumnRenamed(
        "id", "doc_id"
    )


@_q(
    "multimodal_video_frames",
    """
    SELECT doc_id,
      CAST(unnest(generate_series(0, (doc_id % 300) // 60)) * 60
           AS INTEGER) AS frame_idx
    FROM documents
    """,
    doc="REAL video frame-sampling plan (round 4): a spec-valid MP4 box "
        "tree (ftyp + moov/trak/mdia/minf/stbl) is synthesized per doc "
        "with n_frames = 1 + doc_id %% 300 in stsz; the stdlib ISO-BMFF "
        "walker reads the true sample count and emits every 60th frame "
        "index — the oracle regenerates the same index series.  "
        "frame_md5 (a sampling key, not pixel content) is projected out "
        "of the compare.  Kernels: operators/multimodal.py make_mp4_parser",
)
def _mframes(spark, sf_dir):
    from .operators import multimodal as mm

    (docs,) = _load(spark, sf_dir, "documents")
    payload = mm.synthesize_mp4_payloads(docs.select("doc_id"), "doc_id")
    frames = mm.sample_video_frames(payload, "payload", "id", every_nth=60)
    return frames.select(F.col("id").alias("doc_id"), "frame_idx")


# ===========================================================================
# Sink round-trip (S9/S10/M3 + dynamic partition overwrite)
# ===========================================================================

@_q(
    "sink_roundtrip",
    f"""
    SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
      COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem GROUP BY 1
    """,
    doc="S9+M3: month-partitioned Parquet sink, dynamic-partition overwrite of "
        "one month (the incremental reload README.md:220-222 claims), re-read, "
        "aggregate — hash-matched against the oracle over the ORIGINAL table, so "
        "any write/read corruption or partition loss breaks the hash",
)
def _sinkrt(spark, sf_dir):
    import tempfile

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    out = _scratch(f"automated_batch_data_pipeline_nyc_sink_{os.path.basename(os.path.normpath(sf_dir))}")
    enriched = lineitem.withColumn("ship_month", F.month("l_shipdate"))
    # runtime-settable; makes mode='overwrite' rewrite only the
    # partitions present in the incoming DataFrame.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    write_parquet(enriched, out, partition_by=["ship_month"], mode="overwrite")
    # incremental reload: overwrite exactly one month's partition; every
    # other partition must survive untouched for the hash to match.
    write_parquet(
        enriched.filter(F.col("ship_month") == 3),
        out,
        partition_by=["ship_month"],
        mode="overwrite",
    )
    back = read_parquet(spark, out)
    return back.groupBy(F.col("ship_month").cast("long").alias("ship_month")).agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "table_modes_roundtrip",
    f"""
    SELECT o_orderstatus,
      COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders WHERE o_orderstatus IN ('O', 'F')
    GROUP BY o_orderstatus
    """,
    doc="S10/S11/S14/M2/M4: catalog table sinks through all three save "
        "modes — overwrite creates the table from the open orders, append "
        "adds the fulfilled ones, and an ignore-mode write of the FULL "
        "table must be a no-op (CREATE IF NOT EXISTS semantics) — then "
        "the table is re-read from the catalog and aggregated.  The "
        "oracle aggregates the original orders filtered to the two "
        "written statuses, so a leaked ignore-write (doubled counts, "
        "status 'P' rows) or a lost append breaks the hash.  Sink: "
        "sources/writers.py write_table",
)
def _tblmodes(spark, sf_dir):
    import hashlib

    from .sources.writers import write_table

    (orders,) = _load(spark, sf_dir, "orders")
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    name = f"automated_batch_data_pipeline_nyc_tbl_modes_{digest}"
    # A PRIOR PROCESS may have left the managed-table directory behind
    # while this session's catalog has no entry for it — saveAsTable
    # then fails with LOCATION_ALREADY_EXISTS even in overwrite mode.
    # Drop any catalog entry and purge the orphan location first.
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    loc = os.path.join(wh.path or wh.netloc, name.lower())
    shutil.rmtree(loc, ignore_errors=True)
    write_table(orders.filter(F.col("o_orderstatus") == "O"), name, mode="overwrite")
    write_table(orders.filter(F.col("o_orderstatus") == "F"), name, mode="append")
    write_table(orders, name, mode="ignore")  # must be a no-op
    back = spark.table(name)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "fuzzy_levenshtein",
    """
    SELECT s_suppkey, s_name,
      CAST(levenshtein(s_name, 'Supplier#000000042') AS BIGINT) AS edit_dist
    FROM supplier
    WHERE levenshtein(s_name, 'Supplier#000000042') <= 2
    """,
    doc="fuzzy string matching: edit distance to a probe (same DP recurrence "
        "in both engines -> exact integer parity); at scale, pre-block on "
        "length/prefix so the distance only runs inside candidate buckets",
)
def _fuzzy(spark, sf_dir):
    (supplier,) = _load(spark, sf_dir, "supplier")
    dist = F.levenshtein("s_name", F.lit("Supplier#000000042"))
    return supplier.filter(dist <= 2).select(
        "s_suppkey", "s_name", dist.cast("long").alias("edit_dist")
    )


@_q(
    "merge_upsert_orders",
    """
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
      CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
      CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice
    FROM orders t
    FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
    """,
    doc="MERGE/upsert on plain DataFrames: matched rows take the update, "
        "unmatched target rows survive, new keys insert — one full-outer "
        "shuffle (bucketed target would eliminate its side)",
)
def _merge(spark, sf_dir):
    from .operators.incremental import merge_upsert

    (orders,) = _load(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    updates = base.filter(F.col("o_orderkey") % 10 == 0).withColumns(
        {
            "o_orderstatus": F.lit("X"),
            "o_totalprice": F.col("o_totalprice") + 100.0,
        }
    ).unionByName(
        base.filter(F.col("o_orderkey") % 13 == 0).withColumns(
            {
                "o_orderkey": F.col("o_orderkey") + 1000000,
                "o_orderstatus": F.lit("N"),
            }
        )
    )
    return merge_upsert(base, updates, ["o_orderkey"])


@_q(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 17 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
      CASE WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
             OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
      END AS change_type,
      coalesce(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
      coalesce(n.o_totalprice, o.o_totalprice) AS o_totalprice
    FROM old o
    FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL) OR (n.o_orderkey IS NULL)
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
    doc="CDC-style snapshot diff: added/removed/changed rows via one "
        "full-outer join with null-safe column comparison",
)
def _snapdiff(spark, sf_dir):
    from .operators.incremental import snapshot_diff

    (orders,) = _load(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = old.filter(F.col("o_orderkey") % 17 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 100.0).otherwise(
            F.col("o_totalprice")
        ),
    ).unionByName(
        old.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 1000000
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"])


@_q(
    "string_agg_per_group",
    """
    SELECT c_nationkey,
      string_agg(c_name, ',' ORDER BY c_name) AS member_csv,
      COUNT(*) AS n_members
    FROM (SELECT c_nationkey, c_name FROM customer WHERE c_acctbal > 9000) t
    GROUP BY c_nationkey
    """,
    doc="ordered string aggregation (collect_list -> array_sort -> concat_ws; "
        "sorted so the result is partitioning-invariant — bare collect_list "
        "order is nondeterministic and would never hash-match)",
)
def _stragg(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    return (
        customer.filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("member_csv"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


@_q(
    "grouping_sets_quantity",
    f"""
    SELECT l_returnflag, l_linestatus,
      {SQL_SUM.format(col="l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    doc="§2.4 explicit GROUPING SETS (arbitrary key subsets, one pass)",
)
def _gsets(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
          {SQL_SUM.format(col="l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@_q(
    "approx_quantiles",
    """
    SELECT l_returnflag,
      CAST(COUNT(*) AS BIGINT) AS n,
      quantile_cont(l_extendedprice, 0.5) AS p50_exact,
      quantile_cont(l_extendedprice, 0.95) AS p95_exact,
      TRUE AS p50_rank_ok,
      TRUE AS p95_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approximate quantiles (GK sketch / percentile_approx; mergeable "
        "partials at scale) — as a BOUND-AUDIT oracle query (VERDICT r10 "
        "item 4; was rows-only): the registered result is the exact "
        "quantiles (percentile == quantile_cont bit-for-bit, the "
        "grouped_median/equi_depth precedent) plus boolean WITHIN-EPSILON-"
        "RANK-BOUND verdicts on the GK estimates.  DuckDB's "
        "approx_quantile is a t-digest, so the ESTIMATE can never "
        "hash-match — but the rank-bound verdict can: the estimate's "
        "rank interval [count(<v), count(<=v)] must meet Spark's "
        "documented guarantee floor((p-eps)*n) <= rank <= "
        "ceil((p+eps)*n) with one extra rank of slack each side "
        "(eps = 1/accuracy = 1/1000; measured deviations reach 98%% of "
        "eps*n at sf0.01, so the slack keeps the flag flake-proof while "
        "the guarantee itself keeps it honest).  Estimates are "
        "deterministic for fixed data (verified across 6 runs at "
        "local[8] AND local[32]).  Plan: one grouped agg computing "
        "exact+approx together, a broadcast of the 3-row estimate frame "
        "back onto the scan for the rank counts, one final 3-row join — "
        "the corpus is scanned twice, shuffled never (both aggs are "
        "map-side partial on a 3-value key).",
)
def _aquant(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    acc = 1000
    eps = 1.0 / acc
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95_exact"),
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("__p50a"),
        F.percentile_approx("l_extendedprice", 0.95, acc).alias("__p95a"),
    )
    ranks = (
        lineitem.join(
            F.broadcast(agg.select("l_returnflag", "__p50a", "__p95a")),
            "l_returnflag",
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_extendedprice") < F.col("__p50a")).cast("long")).alias("__lt50"),
            F.sum((F.col("l_extendedprice") <= F.col("__p50a")).cast("long")).alias("__le50"),
            F.sum((F.col("l_extendedprice") < F.col("__p95a")).cast("long")).alias("__lt95"),
            F.sum((F.col("l_extendedprice") <= F.col("__p95a")).cast("long")).alias("__le95"),
        )
    )

    def _rank_ok(lt: str, le: str, p: float):
        lo = F.floor((F.lit(p) - F.lit(eps)) * F.col("n")) - 1
        hi = F.ceil((F.lit(p) + F.lit(eps)) * F.col("n")) + 1
        return (F.col(le) >= lo) & (F.col(lt) <= hi)

    return agg.join(ranks, "l_returnflag").select(
        "l_returnflag",
        "n",
        "p50_exact",
        "p95_exact",
        _rank_ok("__lt50", "__le50", 0.5).alias("p50_rank_ok"),
        _rank_ok("__lt95", "__le95", 0.95).alias("p95_rank_ok"),
    )


@_q(
    "schema_evolution_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n,
      {SQL_SUM.format(col="o_totalprice")} AS revenue,
      CAST(count(priority_class) AS BIGINT) AS n_with_new_col
    FROM (
      SELECT o_orderstatus, o_totalprice, NULL AS priority_class
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderstatus
    """,
    doc="schema evolution: v1 parquet without a column + v2 append with it, "
        "read with mergeSchema — old rows surface NULL, aggregate hash-matched",
)
def _schemaevo(spark, sf_dir):
    import tempfile

    (orders,) = _load(spark, sf_dir, "orders")
    out = _scratch(f"automated_batch_data_pipeline_nyc_evo_{os.path.basename(os.path.normpath(sf_dir))}")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderpriority").alias("priority_class"),
    )
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        _sum_money(F.col("o_totalprice"), "revenue"),
        F.count("priority_class").alias("n_with_new_col"),
    )


@_q(
    "date_arithmetic",
    """
    SELECT o_orderkey,
      strftime(CAST(o_orderdate + to_days(90) AS DATE), '%Y-%m-%d') AS due_date,
      strftime(CAST(o_orderdate + to_months(4) AS DATE), '%Y-%m-%d') AS review_date,
      date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_epoch_95,
      strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month_start
    FROM orders
    """,
    doc="date arithmetic: interval add, add_months (both engines clamp to "
        "month end), datediff, date_trunc; dates serialized as strings so the "
        "hash compares calendar values, not engine date encodings. Oracle uses "
        "to_days/to_months with UNEQUAL spans: DuckDB compares intervals at "
        "1 month == 30 days, so +90 days and +3 months are CSE-merged into one "
        "expression — a cross-engine trap worth pinning here",
)
def _datemath(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.add_months(d, 4), "yyyy-MM-dd").alias("review_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_95"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("order_month_start"),
    )


@_q(
    "conditional_agg",
    f"""
    SELECT o_orderstatus,
      CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
      CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
      {SQL_SUM.format(col="CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END")}
        AS urgent_revenue
    FROM orders GROUP BY o_orderstatus
    """,
    doc="conditional aggregation: count_if / filtered sums in one pass "
        "(no self-joins for per-predicate metrics)",
)
def _condagg(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        _sum_money(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(
                F.lit(0.0)
            ),
            "urgent_revenue",
        ),
    )


@_q(
    "having_filter",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS lifetime_value
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    doc="HAVING: post-aggregation predicate (filter above the agg, pushed "
        "nowhere — the one filter that must NOT reach the scan)",
)
def _having(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "lifetime_value"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@_q(
    "exists_subquery",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
    doc="correlated EXISTS — planned as a left-semi join (no row explosion)",
)
def _exists(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    big = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(big, "c_custkey", "left_semi").select("c_custkey", "c_name")


@_q(
    "window_first_last",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
      first_value(o_totalprice) OVER w AS first_price,
      last_value(o_totalprice) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    doc="§2.7 first_value/last_value (unbounded frame for last — the classic "
        "default-frame trap, handled identically in both engines)",
)
def _firstlast(spark, sf_dir):
    from pyspark.sql import Window

    (orders,) = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
    )


@_q(
    "join_full_outer",
    """
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
      c.c_name, CAST(o.n_orders AS BIGINT) AS n_orders
    FROM customer c
    FULL OUTER JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
    doc="§2.6 full outer join (unmatched rows from both sides survive)",
)
def _fullouter(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    j = customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        F.col("n_orders").cast("long").alias("n_orders"),
    )


@_q(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, metric, value FROM (
      SELECT p_partkey, 'retail' AS metric, p_retailprice AS value FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    )
    """,
    doc="§2.7 unpivot/melt: wide metric columns -> long (metric, value) rows",
)
def _unpivot(spark, sf_dir):
    (part,) = _load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_retailprice").alias("retail"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retail", "size"], "metric", "value")


@_q(
    "fill_defaults",
    """
    SELECT event_id, coalesce(value, 0.0) AS value_filled,
      coalesce(props, '{}') AS props_filled
    FROM (
      SELECT event_id,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        CASE WHEN event_id % 29 = 0 THEN NULL ELSE props END AS props
      FROM events)
    """,
    doc="null repair: fillna with typed defaults (complement of P1 dropna); "
        "fixtures are null-free, so every 17th value / 29th props is "
        "anonymized first — the fill provably replaces",
)
def _fillna(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 29 != 0, F.col("props")).alias("props"),
    )
    return dirty.na.fill({"value": 0.0, "props": "{}"}).withColumnsRenamed(
        {"value": "value_filled", "props": "props_filled"}
    )


@_q(
    "word_counts",
    f"""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest({tk.space_tokens_sql('lower(text)')}) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 50
    """,
    doc="explode + groupBy wordcount (the canonical shuffle benchmark), "
        "deterministic top-50 via (count, word) tie-break",
)
def _wordcount(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tk.space_tokens(F.lower("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


@_q(
    "regexp_extract_supplier",
    """
    SELECT s_suppkey,
      CAST(regexp_extract(s_name, 'Supplier#(\\d+)', 1) AS BIGINT) AS sup_num,
      upper(s_name) AS name_upper,
      substring(s_name, 1, 8) AS name_prefix
    FROM supplier
    """,
    doc="string toolkit: regexp capture group, case map, substring",
)
def _regex(spark, sf_dir):
    (supplier,) = _load(spark, sf_dir, "supplier")
    return supplier.select(
        "s_suppkey",
        F.regexp_extract("s_name", r"Supplier#(\d+)", 1).cast("long").alias("sup_num"),
        F.upper("s_name").alias("name_upper"),
        F.substring("s_name", 1, 8).alias("name_prefix"),
    )


@_q(
    "asof_click_attribution",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
    ),
    clicks AS (
      SELECT user_id, ts AS click_ts, max(event_id) AS click_event_id
      FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.ts,
      l.click_ts AS asof_click_ts,
      l.click_event_id AS asof_click_event_id
    FROM purchases p
    ASOF LEFT JOIN clicks l
      ON p.user_id = l.user_id AND l.click_ts <= p.ts
    """,
    doc="§2.6 backward AS-OF join (latest same-user click at-or-before each "
        "purchase) — union + last(ignorenulls) carry-forward, ONE shuffle on "
        "the key, linear per row; oracle is DuckDB's native ASOF JOIN",
)
def _asof(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
    )
    return J.asof_join(
        purchases,
        clicks,
        by=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_ts", "click_event_id"],
    )


@_q(
    "sessionize_events",
    """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      COUNT(*) AS n_events,
      min(ts) AS session_start,
      max(ts) AS session_end
    FROM (
      SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL '30 minutes'
               THEN 1 ELSE 0 END AS new_s
        FROM events WHERE ts IS NOT NULL
      )
    )
    GROUP BY user_id, session_id
    """,
    doc="§2.7 gap-based sessionization (30-min inactivity): lag-flag + running "
        "sum, one shuffle on user_id; deterministic via (ts, event_id) ordering",
)
def _sessions(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    s = W.sessionize(
        events.filter(F.col("ts").isNotNull()), "user_id", "ts", "event_id"
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@_q(
    "corpus_prep",
    f"""
    WITH good AS (
      SELECT * FROM documents d
      WHERE d.lang = 'en'
        AND least(length(d.text)::DOUBLE / 500.0, 1.0) * 0.4
          + greatest(1.0 - abs(
              len(list_filter({tk.space_tokens_sql('lower(d.text)')},
                              x -> list_contains({_STOP_SQL}, x)))::DOUBLE
                / greatest(len({tk.space_tokens_sql('lower(d.text)')}), 1) - 0.4) / 0.4, 0.0) * 0.4
          + (1.0 - least((length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')))::DOUBLE
                / greatest(length(d.text), 1) * 10.0, 1.0)) * 0.2 >= 0.5
    )
    SELECT doc_id, lang, source,
      CAST(coalesce(list_sum(list_transform(
            {tk.alnum_words_sql('text')},
            w -> CAST(ceil(length(w) / 6.0) AS BIGINT))), 0) AS BIGINT)
        + length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS bpe_tokens
    FROM (
      SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM good
    ) WHERE rn = 1
    """,
    doc="headline training-data prep pipeline: language filter -> quality "
        "threshold -> exact dedup -> token accounting, all JVM-side, one pass "
        "+ one dedup shuffle",
)
def _corpus(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en")
    good = en.filter(tx.quality_score("text") >= 0.5)
    deduped = dd.exact_dedup(good, "text", "doc_id")
    return deduped.select(
        "doc_id",
        "lang",
        "source",
        tx.bpe_token_estimate("text").cast("long").alias("bpe_tokens"),
    )


@_q(
    "cube_order_counts",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="§2.4 CUBE grouping sets (all 2^k key subsets in one shuffle)",
)
def _cube(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "grouped_median",
    """
    SELECT l_returnflag,
      median(l_quantity) AS med_qty,
      quantile_cont(l_quantity, 0.25) AS q1_qty,
      quantile_cont(l_quantity, 0.75) AS q3_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="§2.4 exact median / continuous quantiles (linear interpolation is one "
        "double op from identical sorted inputs -> bit-exact across engines)",
)
def _median(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q1_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q3_qty"),
    )


@_q(
    "window_rank_ntile",
    """
    SELECT c_custkey, c_nationkey, c_acctbal,
      CAST(rank() OVER w AS BIGINT) AS bal_rank,
      CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
      CAST(ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS bal_quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
    doc="§2.7 rank/dense_rank (tie-stable) + ntile over a unique ordering",
)
def _rank(spark, sf_dir):
    from pyspark.sql import Window

    (customer,) = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    wu = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return customer.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.ntile(4).over(wu).cast("long").alias("bal_quartile"),
    )


@_q(
    "csv_roundtrip",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="S3/S8+S13: CSV sink -> explicit-schema CSV scan round-trip (the "
        "reference's Spark->CSV->Postgres hop, dags/nyc_taxi_pipeline_dag.py:70-92); "
        "2-dp money survives the text hop exactly, so the oracle over the "
        "ORIGINAL parquet catches any serialization loss",
)
def _csvrt(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    from .sources.readers import read_csv
    from .sources.writers import write_csv

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    out = _scratch(f"automated_batch_data_pipeline_nyc_csv_{os.path.basename(os.path.normpath(sf_dir))}")
    write_csv(lineitem.select("l_orderkey", "l_returnflag", "l_extendedprice"), out)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    back = read_csv(spark, out, schema=schema)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


# ===========================================================================
# LLM-pipeline: deterministic sampling / splitting (operators/sampling.py)
# ===========================================================================

#: DuckDB twin of sampling.hash_bucket — hex-parse of the md5 prefix.
_SQL_BUCKET = "(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 10000)"


@_q(
    "sample_hash_fraction",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_SQL_BUCKET.format(key="doc_id")} < 3000
    """,
    doc="deterministic 30% corpus sample by key-hash bucket — rerun/engine-stable "
        "membership (unlike df.sample), scan-level predicate, no shuffle",
)
def _shash(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return sa.hash_sample(docs, "doc_id", 0.3).select("doc_id", "lang", "source")


@_q(
    "train_test_split_counts",
    f"""
    SELECT source, split, COUNT(*) AS n FROM (
      SELECT source,
        CASE WHEN {_SQL_BUCKET.format(key="doc_id")} < 1000
             THEN 'test' ELSE 'train' END AS split
      FROM documents)
    GROUP BY source, split
    """,
    doc="leakage-safe train/test labeling: membership is a pure function of the "
        "doc key, so a document keeps its split across corpus versions",
)
def _ttsplit(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        sa.train_test_split(docs, "doc_id", test_fraction=0.1)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "mixture_by_source",
    f"""
    SELECT source, COUNT(*) AS n FROM documents
    WHERE {_SQL_BUCKET.format(key="doc_id")} <
      CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                  WHEN 'src2' THEN 2000 ELSE 1000 END
    GROUP BY source
    """,
    doc="corpus-mixture sampling: per-source keep rates (100%/50%/20%/10%) as one "
        "CASE-driven hash predicate — the dataset-weighting primitive, map-only",
)
def _mix(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    kept = sa.mixture_sample(
        docs, "source", "doc_id",
        {"src0": 1.0, "src1": 0.5, "src2": 0.2},
        default_fraction=0.1,
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


# ===========================================================================
# LLM-pipeline: chunking / packing (operators/chunking.py)
# ===========================================================================

@_q(
    "chunk_documents",
    f"""
    WITH d AS (
      SELECT doc_id, {tk.space_tokens_sql('text')} AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
        greatest(CAST(ceil((len(toks) - 8) / 56.0) AS BIGINT), 1) AS n_chunks
      FROM d
    ),
    e AS (
      SELECT doc_id, toks, unnest(generate_series(1, n_chunks)) AS i FROM c
    )
    SELECT doc_id, i - 1 AS chunk_idx,
      array_to_string(toks[(i-1)*56+1 : (i-1)*56+64], ' ') AS chunk_text,
      len(toks[(i-1)*56+1 : (i-1)*56+64]) AS n_tokens
    FROM e
    """,
    doc="context-window chunking: 64-token windows, 8-token overlap, tail kept — "
        "map-side posexplode over computed offsets, no shuffle at any scale",
)
def _chunk(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = ch.chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long"),
        "chunk_text",
        F.col("n_tokens").cast("long"),
    )


@_q(
    "pack_token_windows",
    f"""
    SELECT doc_id, source, n_tokens,
      CAST(floor((CAST(cum - n_tokens AS DOUBLE)) / 2000.0) AS BIGINT) AS window_id
    FROM (
      SELECT doc_id, source, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC) AS cum
      FROM (SELECT doc_id, source,
              CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens
            FROM documents)
    )
    """,
    doc="greedy context-window packing: per-source running token total, window id "
        "by budget division — ONE shuffle on the packing key (window cumsum)",
)
def _pack(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", "source", F.size(tk.space_tokens("text")).cast("long").alias("n_tokens")
    )
    out = ch.pack_token_windows(
        with_counts, "doc_id", "n_tokens", budget=2000, pack_by="source"
    )
    return out.select("doc_id", "source", "n_tokens", "window_id")


# ===========================================================================
# LLM-pipeline: duplicate-cluster resolution (operators/graph.py)
# ===========================================================================

#: gram/prefix CTE shared with dedup_ngram_jaccard_prefix's oracle.
#: ``g``, ``cand`` and ``pairs`` are ``AS MATERIALIZED``: DuckDB 1.0
#: inlines a plain CTE at every use, and ``g`` and ``pairs`` are each
#: read more than once (``pairs`` by both halves of _SQL_CC_CLOSURE's
#: ``und``), which re-ran the gram and candidate joins per reference.
_SQL_PREFIX_PAIRS = f"""
    g AS MATERIALIZED (
      SELECT doc_id, {_SQL_DOC_2GRAMS} AS grams
      FROM documents
    ),
    p AS (
      SELECT doc_id,
        unnest(grams[1:(len(grams) - CAST(ceil(0.8 * len(grams)) AS BIGINT) + 1)]) AS gram
      FROM g
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE) >= 0.8
    )
"""


@_q(
    "dedup_components",
    f"""
    WITH RECURSIVE
    {_SQL_PREFIX_PAIRS},
    {_SQL_CC_CLOSURE}
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    doc="duplicate-cluster resolution: connected components (iterative min-label "
        "propagation, one shuffle per round, O(diameter) rounds) over the lossless "
        "prefix-jaccard pair graph; singletons are their own component — the "
        "transitive-closure step that turns near-dup PAIRS into canonical clusters",
)
def _dcc(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    pairs = dd.jaccard_prefix_pairs(docs, "doc_id", "text", n=2, threshold=0.8)
    out = gr.assign_components(
        docs.select("doc_id"), "doc_id", pairs.select("id_a", "id_b")
    )
    return out.select("doc_id", "component")


@_q(
    "dedup_pipeline_transitive",
    f"""
    WITH RECURSIVE
    {_SQL_PREFIX_PAIRS},
    {_SQL_CC_CLOSURE},
    resolved AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS survivor_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    clusters AS (
      SELECT survivor_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM resolved GROUP BY survivor_id
    )
    SELECT k.survivor_id, k.cluster_size, d.lang, d.source
    FROM clusters k JOIN documents d ON d.doc_id = k.survivor_id
    """,
    doc="the FULL near-dup dedup pipeline, hash-verified end to end: lossless "
        "prefix-jaccard pairs (operators/dedup.py jaccard_prefix_pairs) -> "
        "iterative min-label connected components (operators/graph.py "
        "assign_components) -> cluster-min survivor + cluster size, survivor "
        "metadata joined back.  Same pairs->CC->survivor shape as the "
        "production xxhash64 MinHash path (bound-audited as dedup_minhash "
        "since r13 — its signatures stay engine-specific); here every stage is "
        "deterministic and re-stated in the oracle as WITH RECURSIVE, so the "
        "transitive-closure *pipeline*, not just its stages, gets a "
        "hash-green row.  Scale: candidate join bounded by prefix-gram "
        "frequency, one shuffle per CC round (O(diameter) rounds, "
        "localCheckpoint lineage truncation), one count shuffle keyed on "
        "survivor, survivor-metadata equi-join.",
)
def _dpipe(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    pairs = dd.jaccard_prefix_pairs(docs, "doc_id", "text", n=2, threshold=0.8)
    comp = gr.assign_components(
        docs.select("doc_id"), "doc_id", pairs.select("id_a", "id_b")
    )
    clusters = comp.groupBy(F.col("component").alias("survivor_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    surv_meta = docs.select(
        F.col("doc_id").alias("survivor_id"), "lang", "source"
    )
    return clusters.join(surv_meta, "survivor_id").select(
        "survivor_id", "cluster_size", "lang", "source"
    )


# ===========================================================================
# LLM-pipeline: text enrichment round 2 (operators/text.py)
# ===========================================================================

@_q(
    "redact_pii",
    """
    SELECT doc_id,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            substring(text, 1, 40) || ' reach me: user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 (555) 010-1234 or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7',
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g'),
        '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS redacted
    FROM documents
    """,
    doc="PII scrubbing (emails / phone runs / IPv4 -> typed tags) over text with "
        "synthetic injected PII so the redaction provably fires; RE2-safe patterns "
        "run identically in Spark (java regex) and the oracle; map-only",
)
def _pii(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" reach me: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-1234 or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("seeded"),
    )
    return seeded.select("doc_id", tx.redact_pii("seeded").alias("redacted"))


@_q(
    "tfidf_top_terms",
    f"""
    WITH terms AS (
      SELECT doc_id,
        unnest(list_filter({tk.space_tokens_sql('lower(text)')}, x -> len(x) >= 4)) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
    SELECT doc_id, term, CAST(round(tfidf, 6) AS DOUBLE) AS tfidf FROM (
      SELECT tf.doc_id, tf.term,
        CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS tfidf,
        row_number() OVER (
          PARTITION BY tf.doc_id
          ORDER BY CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) DESC,
                   tf.term ASC) AS rk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n) s
    WHERE rk <= 3
    """,
    doc="top-3 characteristic terms per document by tf-idf: explode + two hash "
        "aggs + broadcast corpus size + WindowGroupLimit top-k; the doc-frequency "
        "side is the vocabulary (tiny vs corpus) — AQE-broadcastable at scale; "
        "scores rounded to 6dp because libm ln() differs by 1 ULP across engines",
)
def _tfidf(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = tx.tf_idf_top_terms(docs, "doc_id", "text", k=3, min_term_len=4)
    return out.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


# ===========================================================================
# time-series: event-time RANGE windows (operators/windows.py)
# ===========================================================================

@_q(
    "rolling_hour_window",
    """
    SELECT event_id, user_id,
      CAST(COUNT(*) OVER w AS BIGINT) AS w_count,
      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS w_cents
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="trailing 1-hour event-time RANGE window per user (count + integer-cents "
        "sum): value-based frame over unix_micros so bounds are integral and "
        "bit-exact cross-engine; one shuffle on the user key, sliding-frame O(rows)",
)
def _rollhour(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    us = U.epoch_micros(base, "ts")
    spec = (
        Wn.partitionBy("user_id").orderBy(us).rangeBetween(-3_600_000_000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(spec).alias("w_count"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).over(spec).alias("w_cents"),
    )


@_q(
    "value_histogram",
    """
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, COUNT(*) AS n,
      CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi
    FROM events WHERE value IS NOT NULL
    GROUP BY bucket
    """,
    doc="fixed-width value histogram (quality-monitoring primitive): bucket by "
        "IEEE-exact floor division, min/max per bucket (order-independent), one agg",
)
def _hist(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.floor(F.col("value") / 50).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )


@_q(
    "window_percentile_ranks_dist",
    """
    SELECT event_id, event_type, value,
      percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
    FROM events WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value ASC)
    """,
    doc="distributed percent_rank/cume_dist: identical numbers to the exact "
        "window form, but computed from the (group, value) histogram so no "
        "whole group is ever sorted in one task — the 100 TB path when the "
        "partition key has low cardinality (exact form measured 9.5x "
        "super-linear on the 10x fixture step; this form stays parallel)",
)
def _prank_dist(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull())
    out = W.distributed_percent_rank(base, "event_type", "value")
    return out.select("event_id", "event_type", "value", "pr", "cd")


@_q(
    "embedding_quantize",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS norm, v FROM e),
    u AS (SELECT vec_id, norm, list_transform(v, x -> x / norm) AS uv FROM n),
    q AS (SELECT vec_id, norm,
            list_transform(uv, x ->
              CAST(least(greatest(floor(x * 127 + 0.5), -127.0), 127.0) AS INT)) AS qv
          FROM u)
    SELECT vec_id, norm,
      CAST(list_min(qv) AS BIGINT) AS q_min,
      CAST(list_max(qv) AS BIGINT) AS q_max,
      CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
      CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
    FROM q
    """,
    doc="ANN storage path: l2-normalize then symmetric int8-quantize every "
        "embedding (4x shrink; floor(x*127+0.5) is engine-deterministic unlike "
        "round-half rules); verified via per-vector code statistics — map-only",
)
def _equant(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    normed = sim.l2_normalize(emb, "embedding", out_col="unit_vec")
    staged = normed.withColumn("__q", sim.quantize_int8(F.col("unit_vec")))
    return staged.select(
        "vec_id",
        sim.l2_norm(F.col("embedding")).alias("norm"),
        F.array_min("__q").cast("long").alias("q_min"),
        F.array_max("__q").cast("long").alias("q_max"),
        F.aggregate("__q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.size(F.filter("__q", lambda x: F.abs(x) == 127)).cast("long").alias("n_sat"),
    )


@_q(
    "clip_outliers",
    """
    WITH s AS (
      SELECT event_type,
        quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
      least(greatest(e.value, s.lo), s.hi) AS clipped
    FROM events e JOIN s USING (event_type)
    WHERE e.value IS NOT NULL
    """,
    doc="winsorize: clip values to the per-group [p05, p95] band — exact "
        "percentiles (interpolation matches quantile_cont bit-for-bit), tiny "
        "stats side broadcast back; at 100 TB swap percentile for approx_percentile",
)
def _clip(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull())
    stats = base.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    return base.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("clipped"),
    )


@_q(
    "window_percentile_ranks",
    """
    SELECT event_id, event_type, value,
      percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
    FROM events WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value ASC)
    """,
    doc="§2.7 distribution-position windows: percent_rank + cume_dist per group "
        "— tie-aware (deterministic without a tiebreak column), one shuffle. "
        "SMALL-DATA PATH ONLY: the window sorts each PARTITION BY group in "
        "one task, capping parallelism at the group count (measured 9.5x "
        "wall for 10x data, SCALING.md).  The DEFAULT for production is "
        "window_percentile_ranks_dist (operators/windows.py "
        "distributed_percent_rank) — identical numbers from the "
        "(group, value) histogram, never a whole group in one task.",
)
def _prank(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    w = Wn.partitionBy("event_type").orderBy(F.asc("value"))
    return (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "value",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
    )


@_q(
    "json_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="JSON-lines sink -> explicit-schema scan round-trip (interchange-format "
        "hop); doubles survive Jackson shortest-repr serialization exactly, "
        "verified by the decimal-money aggregate against the ORIGINAL table",
)
def _jsonrt(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    from .sources.readers import read_json
    from .sources.writers import write_json

    (orders,) = _load(spark, sf_dir, "orders")
    out = _scratch(f"automated_batch_data_pipeline_nyc_json_{os.path.basename(os.path.normpath(sf_dir))}")
    write_json(orders.select("o_orderkey", "o_orderstatus", "o_totalprice"), out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = read_json(spark, out, schema=schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "orc_roundtrip",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="partitioned ORC sink -> scan round-trip: the parquet-equivalent "
        "columnar path for ORC-standard warehouses, incl. partition pruning "
        "layout; verified against the ORIGINAL table",
)
def _orcrt(spark, sf_dir):
    import tempfile

    from .sources.readers import read_orc
    from .sources.writers import write_orc

    (orders,) = _load(spark, sf_dir, "orders")
    out = _scratch(f"automated_batch_data_pipeline_nyc_orc_{os.path.basename(os.path.normpath(sf_dir))}")
    write_orc(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        out,
        partition_by=["o_orderpriority"],
    )
    back = read_orc(spark, out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "scalar_function_battery",
    """
    SELECT s_suppkey,
      lpad(s_name, 30, '*') AS padded,
      rpad(left(s_name, 8), 12, '.') AS padded_r,
      translate(s_name, 'aeiou', 'AEIOU') AS translated,
      repeat(right(s_name, 2), 3) AS repeated,
      reverse(s_name) AS reversed,
      ascii(s_name) AS first_code,
      chr(65 + CAST(s_suppkey % 26 AS INT)) AS letter,
      nullif(CAST(s_suppkey % 7 AS BIGINT), 0) AS nullable_mod,
      ((CAST(s_suppkey AS BIGINT) - 50) % 7 + 7) % 7 AS pmod7,
      CAST(sign(s_acctbal) AS DOUBLE) AS bal_sign,
      split_part(s_name, '#', 2) AS name_part,
      CAST(strpos(s_name, 'er') AS BIGINT) AS er_pos,
      sha256(s_name) AS digest,
      CAST(bit_count(CAST(s_suppkey AS BIGINT)) AS INT) AS key_bits
    FROM supplier
    """,
    doc="§2.3 scalar battery: 14 string/math built-ins verified at once against "
        "the oracle (the dialect-safe intersection; initcap/overlay/"
        "substring_index have no DuckDB twin and are excluded) — all map-only, "
        "whole-stage codegen",
)
def _battery(spark, sf_dir):
    (supplier,) = _load(spark, sf_dir, "supplier")
    name, key = F.col("s_name"), F.col("s_suppkey")
    return supplier.select(
        "s_suppkey",
        F.lpad(name, 30, "*").alias("padded"),
        F.rpad(F.substring(name, 1, 8), 12, ".").alias("padded_r"),
        F.translate(name, "aeiou", "AEIOU").alias("translated"),
        F.repeat(F.substring(name, -2, 2), 3).alias("repeated"),
        F.reverse(name).alias("reversed"),
        F.ascii(name).alias("first_code"),
        F.char(F.lit(65) + (key % 26).cast("int")).alias("letter"),
        F.nullif((key % 7).cast("long"), F.lit(0)).alias("nullable_mod"),
        F.pmod(key.cast("long") - 50, F.lit(7)).alias("pmod7"),
        F.signum("s_acctbal").cast("double").alias("bal_sign"),
        F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).alias("name_part"),
        F.locate("er", name).cast("long").alias("er_pos"),
        F.sha2(name, 256).alias("digest"),
        F.bit_count(key.cast("long")).alias("key_bits"),
    )


@_q(
    "resample_gap_fill",
    """
    WITH b AS (
      SELECT date_trunc('hour', ts) AS hour, event_type FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    span AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM b),
    spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span),
    types AS (SELECT DISTINCT event_type FROM b),
    c AS (SELECT hour, event_type, COUNT(*) AS n FROM b GROUP BY hour, event_type)
    SELECT s.hour, t.event_type, COALESCE(c.n, 0) AS n_events
    FROM spine s CROSS JOIN types t
    LEFT JOIN c ON c.hour = s.hour AND c.event_type = t.event_type
    """,
    doc="time-series resample with gap filling: dense hour x type spine "
        "(sequence+explode from the observed span — driver-side-free) left-joined "
        "with the sparse counts, missing cells zero-filled; the spine side is "
        "spans x types (tiny, broadcast), the corpus only ever hash-aggregates",
)
def _resample(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    b = events.filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(F.date_trunc("hour", "ts").alias("hour"), "event_type")
    span = b.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    spine = span.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = b.select("event_type").distinct()
    counts = b.groupBy("hour", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n_events"))
    )


@_q(
    "funnel_signup_purchase",
    """
    WITH l AS (
      SELECT user_id, min(ts) AS first_signup FROM events
      WHERE event_type = 'signup' AND user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase
      FROM events e JOIN l ON l.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= l.first_signup
      GROUP BY e.user_id
    )
    SELECT l.user_id, l.first_signup, p.first_purchase,
      (p.first_purchase IS NOT NULL) AS converted
    FROM l LEFT JOIN p USING (user_id)
    """,
    doc="two-step funnel: first signup, then first purchase at-or-after it, "
        "per-user conversion flag — two keyed aggregations + one join, no "
        "window over raw history (min() composes with partial aggregation)",
)
def _funnel(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    signups = (
        base.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .filter(F.col("ts") >= F.col("first_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return signups.join(purchases, "user_id", "left").select(
        "user_id",
        "first_signup",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
    )


@_q(
    "skew_salted_agg",
    """
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
      CAST(MIN(value) AS DOUBLE) AS vmin,
      CAST(MAX(value) AS DOUBLE) AS vmax
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    doc="skew-safe two-stage aggregation: pre-aggregate on (key, salt) so no "
        "reducer sees more than ~1/B of a hot key, then combine partials — "
        "result provably identical to the plain GROUP BY (the oracle IS the "
        "plain form); decomposable aggs only, integer-cents sum for exactness",
)
def _salted(spark, sf_dir):
    from .operators import skew as sk

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull()).withColumn(
        "cents_part", F.floor(F.col("value") * 100).cast("long")
    )
    return sk.salted_two_stage_agg(
        base,
        ["event_type"],
        {
            "n": ("count", "event_type"),
            "cents": ("sum", "cents_part"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
        salt_buckets=16,
    ).select(
        "event_type",
        F.col("n").cast("long"),
        F.col("cents").cast("long"),
        F.col("vmin").cast("double"),
        F.col("vmax").cast("double"),
    )


# ===========================================================================
# LLM-pipeline: corpus curation round 2b (repetition / decontamination /
# domain curation / deterministic shuffle)
# ===========================================================================

@_q(
    "repetition_scores",
    f"""
    WITH toks AS (SELECT doc_id, {tk.space_tokens_sql('lower(text)')} AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    tstats AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
      FROM tok GROUP BY doc_id),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks),
    gc AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram FROM idx)
      GROUP BY doc_id, gram),
    gstats AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_grams,
             COUNT(*) AS n_distinct_grams
      FROM gc GROUP BY doc_id)
    SELECT ts.doc_id, ts.n_tokens,
      CAST(1 AS DOUBLE) - CAST(ts.n_distinct AS DOUBLE)
        / greatest(CAST(ts.n_tokens AS DOUBLE), CAST(1 AS DOUBLE)) AS dup_token_frac,
      CAST(gs.top_c AS DOUBLE)
        / greatest(CAST(gs.n_grams AS DOUBLE), CAST(1 AS DOUBLE)) AS top_gram_frac,
      CAST(1 AS DOUBLE) - CAST(gs.n_distinct_grams AS DOUBLE)
        / greatest(CAST(gs.n_grams AS DOUBLE), CAST(1 AS DOUBLE)) AS dup_gram_frac
    FROM tstats ts LEFT JOIN gstats gs USING (doc_id)
    """,
    doc="Gopher-style repetition quality metrics (dup-token fraction, top-bigram "
        "fraction, dup-bigram fraction) per document: staged token array, two "
        "explode->hash-agg branches joined on doc id; ratios are single double "
        "divisions of exact counts — the standard boilerplate/spam filter inputs",
)
def _repetition(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.repetition_metrics(docs, "doc_id", "text", n=2)


@_q(
    "decontaminate_overlap",
    f"""
    WITH toks AS (SELECT doc_id, {tk.space_tokens_sql('lower(text)')} AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i FROM toks),
    grams AS (SELECT doc_id, array_to_string(t[i:i+3], ' ') AS gram FROM idx),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench USING (gram))
    SELECT d.doc_id,
      CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    doc="benchmark decontamination (GPT-3 §C n-gram overlap, n=4 on the tiny-"
        "vocab fixture): the benchmark gram set (docs with id % 97 == 0) is "
        "distinct-ed and broadcast, the corpus probe is a map-only broadcast "
        "semi-join on exploded grams — no corpus-side shuffle at any scale",
)
def _decon(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return tx.contamination_flags(docs, bench, "doc_id", "text", n=4)


@_q(
    "domain_stats",
    """
    WITH seeded AS (
      SELECT doc_id, n_chars,
        'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.site'
          || CAST(doc_id % 3 AS VARCHAR) || '.com/docs/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
    hosts AS (
      SELECT doc_id, n_chars,
        regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host
      FROM seeded)
    SELECT regexp_extract(host, '([a-z0-9-]+\\.[a-z0-9-]+)$', 1) AS domain,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
      CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_weight
    FROM hosts GROUP BY domain
    """,
    doc="C4-style per-registered-domain curation stats over synthetic injected "
        "URLs (so extraction provably fires): RE2-safe host + two-label domain "
        "regex shared with the oracle, one hash agg keyed by domain — the "
        "aggregate is dashboard-sized at any corpus scale",
)
def _domains(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://cdn"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".site"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return tx.domain_stats(seeded, "url", weight_col="n_chars")


@_q(
    "shuffle_shard_assign",
    """
    WITH h AS (
      SELECT doc_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT AS hv
      FROM documents)
    SELECT doc_id, CAST(hv % 16 AS BIGINT) AS shard,
      CAST(row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    doc="deterministic global shuffle for training-data ordering: keyed md5 -> "
        "(shard, within-shard rank); shards sort independently (row_number "
        "partitioned by shard, NOT a single global window task) and the "
        "concatenation shard asc, pos asc IS the seeded permutation — "
        "reproducible across engines, reruns, and cluster layouts",
)
def _shuffle(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = sa.shuffle_shards(docs.select("doc_id"), "doc_id", n_shards=16, seed=7)
    return out.select("doc_id", "shard", "pos")


@_q(
    "scd2_orders_history",
    """
    WITH hist AS (
      SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price,
        TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
        CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
      FROM orders WHERE o_orderkey % 3 <> 0),
    snap AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
        o_totalprice + CASE WHEN o_orderkey % 5 = 0
          THEN CAST(1.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS price
      FROM orders)
    SELECT k, status, price, valid_from, valid_to, is_current
    FROM hist WHERE k % 5 <> 0
    UNION ALL
    SELECT k, status, price, valid_from,
      TIMESTAMP '2026-02-01 00:00:00', FALSE
    FROM hist WHERE k % 5 = 0
    UNION ALL
    SELECT k, status, price, TIMESTAMP '2026-02-01 00:00:00',
      CAST(NULL AS TIMESTAMP), TRUE
    FROM snap WHERE (k % 5 = 0 AND k % 3 <> 0) OR k % 3 = 0
    """,
    doc="SCD type-2 merge: snapshot (orderkey%5 prices bumped, orderkey%3 rows "
        "brand-new) applied to a current history at an effective timestamp — "
        "changed keys close + reopen, new keys open, unchanged pass through; "
        "ONE full-outer shuffle of the current slice, 0-2 output rows per key "
        "via inline over a compacted struct array (no second join, no window); "
        "the oracle states the expected history as three explicit unions",
)
def _scd2(spark, sf_dir):
    from .operators.incremental import scd2_apply

    (orders,) = _load(spark, sf_dir, "orders")
    hist = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    snap = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, F.lit(1.5)).otherwise(F.lit(0.0))
        ).alias("price"),
    )
    return scd2_apply(hist, snap, ["k"], "2026-02-01 00:00:00")


@_q(
    "sample_per_group",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
        row_number() OVER (
          PARTITION BY o_orderstatus
          ORDER BY ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10000,
                   o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 10
    """,
    doc="deterministic per-group reservoir: exactly min(10, |group|) orders per "
        "status, selected by md5-of-key order (rerun- and engine-stable, unlike "
        "RNG reservoir sampling); row_number<=n rewrites to WindowGroupLimit so "
        "no group is fully sorted",
)
def _sample_grp(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    return sa.sample_n_per_group(base, "o_orderstatus", "o_orderkey", 10)


@_q(
    "weighted_sample_per_group",
    """
    WITH w AS (
      SELECT lang, doc_id,
        ln((CAST(('0x' || substring(
              md5('42' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            + 0.5) / 4294967296.0)
          / CAST(n_chars AS DOUBLE) AS es_key
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0)
    SELECT lang, doc_id, CAST(rn AS INTEGER) AS draw_rank FROM (
      SELECT lang, doc_id,
        row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn
      FROM w) t
    WHERE rn <= 5
    """,
    doc="weighted sample WITHOUT replacement (Efraimidis-Spirakis): 5 docs per "
        "language with probability proportional to n_chars — u from md5(seed,"
        "key) so the draw replays on any engine; rank key ln(u)/w, "
        "WindowGroupLimit caps groups before any full sort; the deterministic "
        "quality-weighted mixture draw of LLM-data curation",
)
def _wsample_grp(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("lang", "doc_id", "n_chars")
    out = sa.weighted_sample_per_group(base, "lang", "doc_id", "n_chars", 5)
    return out.select("lang", "doc_id", "draw_rank")


def _pagerank_sql(iters: int = 3, d: float = 0.85) -> str:
    """Fixed-iteration PageRank unrolled into ``iters`` chained CTEs
    (the LSH-hyperplane-inlining trick applied to iteration): float
    literals are emitted as Python ``repr`` so both engines parse the
    identical IEEE double."""
    one_minus_d, d_lit = repr(1.0 - d), repr(d)
    its = []
    for i in range(1, iters + 1):
        its.append(f"""
    r{i} AS (
      SELECT nodes.node,
        CAST({one_minus_d} AS DOUBLE) / n.cnt
          + CAST({d_lit} AS DOUBLE) * COALESCE(m.mass, CAST(0.0 AS DOUBLE)) AS rank
      FROM nodes CROSS JOIN n
      LEFT JOIN (
        SELECT ed.d AS node, SUM(r{i - 1}.rank / ed.deg) AS mass
        FROM ed JOIN r{i - 1} ON ed.s = r{i - 1}.node GROUP BY ed.d) m
      USING (node))""")
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l_orderkey * 2 AS s, l_partkey * 2 + 1 AS d
      FROM lineitem),
    e AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM e UNION SELECT DISTINCT d FROM e),
    n AS (SELECT COUNT(*) AS cnt FROM nodes),
    deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
    ed AS (SELECT e.s, e.d, deg.deg FROM e JOIN deg USING (s)),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.cnt AS rank FROM nodes CROSS JOIN n),
    {",".join(its)}
    SELECT node, CAST(round(r{iters}.rank * CAST(n.cnt AS DOUBLE), 6) AS DOUBLE)
      AS relrank
    FROM r{iters} CROSS JOIN n
    """


@_q(
    "pagerank_order_part",
    _pagerank_sql(iters=3),
    doc="fixed-iteration PageRank on the symmetrized order-part graph — "
        "DataFrame-native Pregel: static (src,dst,outdeg) persisted once, one "
        "mass shuffle per power step, localCheckpoint lineage truncation; "
        "oracle unrolls the 3 iterations into chained CTEs with repr'd float "
        "literals, rank normalized to mean 1.0 and 6dp-rounded",
)
def _pr(spark, sf_dir):
    from .operators.graph import pagerank

    (li,) = _load(spark, sf_dir, "lineitem")
    # BIGINT node ids (even = order, odd = part): long hash/compare in
    # every shuffle instead of string churn
    pairs = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(
        edges, iterations=3, normalize=True, assume_distinct=True, symmetric=True
    )
    return pr.select("node", F.round("rank", 6).alias("relrank"))


@_q(
    "token_budget_mixture",
    """
    WITH totals AS (
      SELECT source, SUM(CAST(n_chars AS DOUBLE)) AS total
      FROM documents GROUP BY source),
    rates AS (
      SELECT source,
        CASE
          WHEN budget IS NULL OR total <= budget THEN 10000
          ELSE CAST(floor(budget / total * 10000) AS BIGINT)
        END AS keep_below
      FROM (
        SELECT source, total,
          CASE WHEN source = 'src0' THEN CAST(4000 AS DOUBLE)
               WHEN source = 'src1' THEN CAST(2000 AS DOUBLE)
               ELSE NULL END AS budget
        FROM totals) b)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
          < r.keep_below
    """,
    doc="token-budget corpus mixing: per-source keep rate = min(1, budget / "
        "total_weight) from one dashboard-sized aggregate broadcast back onto "
        "the scan, membership by deterministic key hash — the corpus is never "
        "shuffled; budgets are stated in weight units (tokens), not row counts",
)
def _budget_mix(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "n_chars")
    out = sa.downsample_to_token_budget(
        base, "source", "doc_id", "n_chars", {"src0": 4000, "src1": 2000}
    )
    return out.select("doc_id", "source", "n_chars")


@_q(
    "interval_overlap_pairs",
    """
    WITH l AS (
      SELECT event_id AS err_id, epoch_us(ts) AS ls
      FROM events WHERE event_type = 'error' AND ts IS NOT NULL),
    r AS (
      SELECT event_id AS pur_id, epoch_us(ts) AS rs
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL)
    SELECT err_id, pur_id
    FROM l JOIN r ON ls <= rs + 600000000 AND rs <= ls + 600000000
    """,
    doc="interval-overlap join with BOTH sides large (error vs purchase events "
        "within +-10 min): intervals explode into fixed-width time buckets, the "
        "join runs as an equi-join on the bucket (shuffle-partitionable, AQE-"
        "skew-splittable — NOT a broadcast nested loop), each pair emitted once "
        "in the later start bucket so no distinct pass; integer-microsecond "
        "arithmetic matches the oracle's epoch_us exactly",
)
def _interval_overlap(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ten_min_us = 600_000_000

    def _side(etype: str, id_alias: str, s: str, e: str):
        return (
            events.filter((F.col("event_type") == etype) & F.col("ts").isNotNull())
            .select(
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(s),
                (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias(e),
            )
        )

    out = J.interval_overlap_join(
        _side("error", "err_id", "err_start", "err_end"),
        _side("purchase", "pur_id", "pur_start", "pur_end"),
        ("err_start", "err_end"),
        ("pur_start", "pur_end"),
        bucket_seconds=600,
    )
    return out.select("err_id", "pur_id")


@_q(
    "token_divergence",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({tk.space_tokens_sql('lower(text)')}) AS tok FROM documents),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    withn AS (
      SELECT doc_id, tok, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc),
    corpus AS (SELECT tok, SUM(c) AS cc FROM tc GROUP BY tok),
    tot AS (SELECT SUM(cc) AS t FROM corpus),
    scored AS (
      SELECT w.doc_id, w.n,
        CAST(w.c AS DOUBLE) / CAST(w.n AS DOUBLE) AS p,
        CAST(corpus.cc AS DOUBLE) / CAST(tot.t AS DOUBLE) AS q
      FROM withn w JOIN corpus USING (tok) CROSS JOIN tot)
    SELECT doc_id,
      CAST(MIN(n) AS BIGINT) AS n_tokens,
      CAST(round(-SUM(p * ln(p)), 6) AS DOUBLE) AS entropy,
      CAST(round(SUM(p * ln(p / q)), 6) AS DOUBLE) AS kl_vs_corpus
    FROM scored GROUP BY doc_id
    """,
    doc="per-document token-distribution entropy (repetitiveness) and KL "
        "divergence vs the corpus unigram distribution (domain-outlier score): "
        "explode -> per-(doc,token) counts, window totals on the same doc-id "
        "partitioning, vocabulary-sized corpus join (AQE-broadcastable), one "
        "final per-doc agg; 6dp rounding absorbs libm ln ULP and float "
        "summation-order drift",
)
def _tok_div(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.token_divergence_stats(docs, "doc_id", "text")


@_q(
    "exact_moment_stats",
    """
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
        CAST(floor(l_extendedprice * 100) AS BIGINT) AS px,
        CAST(floor(l_quantity) AS BIGINT) AS qy
      FROM lineitem),
    m AS (
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(px AS DECIMAL(12,0))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(px AS DECIMAL(12,0)) * CAST(px AS DECIMAL(12,0))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(qy AS DECIMAL(12,0))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(qy AS DECIMAL(12,0)) * CAST(qy AS DECIMAL(12,0))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(px AS DECIMAL(12,0)) * CAST(qy AS DECIMAL(12,0))) AS DOUBLE) AS sxy
      FROM base GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus, n,
      sx / CAST(n AS DOUBLE) AS mean_price,
      CASE WHEN n > 1 THEN (CAST(n AS DOUBLE) * sxx - sx * sx)
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS var_price,
      sqrt(CASE WHEN n > 1 THEN (CAST(n AS DOUBLE) * sxx - sx * sx)
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END) AS stddev_price,
      sy / CAST(n AS DOUBLE) AS mean_qty,
      CASE WHEN n > 1 THEN (CAST(n AS DOUBLE) * syy - sy * sy)
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS var_qty,
      CASE WHEN n > 1
             AND sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
               * sqrt(CAST(n AS DOUBLE) * syy - sy * sy) <> 0
        THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
             * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) END AS corr_priceqty
    FROM m
    """,
    doc="distributed variance / stddev / correlation via EXACT decimal second "
        "moments (ship sufficient statistics, not data): six order-independent "
        "decimal sums per group (map-side combinable, one six-number shuffle), "
        "then a fixed IEEE-double closed form — bit-identical on any engine or "
        "partitioning, unlike Welford-accumulated stddev_samp/corr built-ins",
)
def _moments(spark, sf_dir):
    from .operators.stats import exact_second_moments

    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("px"),
        F.floor(F.col("l_quantity")).cast("long").alias("qy"),
    )
    out = exact_second_moments(
        base, ["l_returnflag", "l_linestatus"], "px", "qy",
        prefix_x="price", prefix_y="qty",
    )
    return out.select(
        "l_returnflag", "l_linestatus", "n",
        "mean_price", "var_price", "stddev_price",
        "mean_qty", "var_qty", "corr_priceqty",
    )


@_q(
    "group_linear_fit",
    """
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
        CAST(floor(l_quantity) AS BIGINT) AS x,
        CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    m AS (
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(x AS DECIMAL(12,0))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(x AS DECIMAL(12,0))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(y AS DECIMAL(12,0)) * CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS sxy
      FROM base GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus, n,
      CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) <> 0 THEN
        (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
      CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) <> 0 THEN
        sy / CAST(n AS DOUBLE)
          - ((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx)) * (sx / CAST(n AS DOUBLE))
        END AS intercept,
      CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) <> 0
             AND (CAST(n AS DOUBLE) * syy - sy * sy) <> 0 THEN
        ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
          / ((CAST(n AS DOUBLE) * sxx - sx * sx)
             * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
    FROM m
    """,
    doc="per-group closed-form OLS (price-cents vs quantity): slope/intercept/"
        "r2 derived from the six exact decimal power sums — a million per-group "
        "regressions cost ONE map-side-combinable aggregation (no ML library, "
        "no iteration), and the fixed IEEE closed form is bit-identical "
        "cross-engine",
)
def _linfit(spark, sf_dir):
    from .operators.stats import group_linear_fit

    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_quantity")).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    return group_linear_fit(base, ["l_returnflag", "l_linestatus"], "x", "y")


def _morton_sql(cols: list[str], bits: int = 16) -> str:
    """The exact shift/mask OR-chain of ``operators.layout.morton_code``
    in DuckDB syntax — integer bit ops, so parity is exact."""
    k = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * k + j})"
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


@_q(
    "zorder_bucket_stats",
    f"""
    WITH z AS (
      SELECT CAST(l_partkey % 256 AS BIGINT) AS a,
             CAST(l_suppkey % 256 AS BIGINT) AS b
      FROM lineitem),
    c AS (SELECT a, b, {_morton_sql(["a", "b"], bits=8)} AS zcode FROM z)
    SELECT zcode >> 8 AS zbucket,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      MIN(a) AS min_a, MAX(a) AS max_a,
      MIN(b) AS min_b, MAX(b) AS max_b
    FROM c GROUP BY zbucket
    """,
    doc="Z-order (Morton) layout key + per-z-bucket min/max stats — the "
        "multi-column file-skipping layout (Delta OPTIMIZE ZORDER BY, from "
        "first principles): bit-interleave is a flat codegen'd shift/mask OR "
        "chain, and the per-bucket stats SHOW the skipping win (min/max narrow "
        "in BOTH dimensions at once); bit-exact BIGINT oracle",
)
def _zorder(spark, sf_dir):
    from .operators.layout import morton_code

    (li,) = _load(spark, sf_dir, "lineitem")
    z = li.select(
        (F.col("l_partkey") % 256).cast("long").alias("a"),
        (F.col("l_suppkey") % 256).cast("long").alias("b"),
    ).withColumn("zcode", morton_code(["a", "b"], bits=8))
    return z.groupBy(F.shiftright("zcode", 8).alias("zbucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("a").alias("min_a"),
        F.max("a").alias("max_a"),
        F.min("b").alias("min_b"),
        F.max("b").alias("max_b"),
    )


@_q(
    "mutual_information",
    """
    WITH cells AS (
      SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS c0
      FROM orders GROUP BY x, y),
    s AS (
      SELECT CAST(c0 AS DOUBLE) AS c,
        CAST(SUM(c0) OVER (PARTITION BY x) AS DOUBLE) AS nx,
        CAST(SUM(c0) OVER (PARTITION BY y) AS DOUBLE) AS ny,
        CAST(SUM(c0) OVER () AS DOUBLE) AS n
      FROM cells)
    SELECT 'o_orderstatus' AS x_col, 'o_orderpriority' AS y_col,
      CAST(MIN(n) AS BIGINT) AS n,
      CAST(round(-SUM((c / n) * ln(nx / n)), 6) AS DOUBLE) AS h_x,
      CAST(round(-SUM((c / n) * ln(ny / n)), 6) AS DOUBLE) AS h_y,
      CAST(round(-SUM((c / n) * ln(c / n)), 6) AS DOUBLE) AS h_xy,
      CAST(round((-SUM((c / n) * ln(nx / n))) + (-SUM((c / n) * ln(ny / n)))
        - (-SUM((c / n) * ln(c / n))), 6) AS DOUBLE) AS mi_nats,
      CASE WHEN least(-SUM((c / n) * ln(nx / n)), -SUM((c / n) * ln(ny / n))) > 0
        THEN CAST(round(((-SUM((c / n) * ln(nx / n))) + (-SUM((c / n) * ln(ny / n)))
          - (-SUM((c / n) * ln(c / n))))
          / least(-SUM((c / n) * ln(nx / n)), -SUM((c / n) * ln(ny / n))), 6) AS DOUBLE)
        END AS nmi
    FROM s
    """,
    doc="categorical association screen: H(X), H(Y), H(X,Y), mutual "
        "information and normalized MI between order status and priority — "
        "one corpus shuffle to contingency cells, margins as window sums over "
        "the tiny cell frame; 6dp rounding absorbs ln ULP + summation order",
)
def _mi(spark, sf_dir):
    from .operators.stats import categorical_mutual_information

    (orders,) = _load(spark, sf_dir, "orders")
    return categorical_mutual_information(orders, "o_orderstatus", "o_orderpriority")


_NFC_SUFFIX = "\tCafé  beep\x07 ok "

@_q(
    "text_normalize_nfc",
    f"""
    SELECT doc_id,
      nfc_normalize(trim({tk.collapse_whitespace_sql('s')})) AS norm_text
    FROM (SELECT doc_id, regexp_replace(
        substring(text, 1, 60) || '{_NFC_SUFFIX}',
        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS s
      FROM documents)
    """,
    doc="Unicode canonicalization for dedup keys (control-strip, whitespace "
        "collapse, NFC compose) over text with injected tab / BEL / combining-"
        "acute sequences so every pass provably fires: byte passes are JVM "
        "regexp (codegen), NFC is the one Arrow-batched stdlib-unicodedata hop "
        "(Spark has no NFC built-in); map-only, oracle via nfc_normalize",
)
def _nfc_norm(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(F.substring("text", 1, 60), F.lit(_NFC_SUFFIX)).alias("raw"),
    )
    return tx.normalize_text(seeded, "raw", out_col="norm_text").select(
        "doc_id", "norm_text"
    )


@_q(
    "url_canonical_dedup",
    """
    WITH seeded AS (
      SELECT doc_id,
        CASE CAST(doc_id % 3 AS INTEGER)
          WHEN 0 THEN 'https://WWW.Example' || CAST((doc_id // 3) % 5 AS VARCHAR)
            || '.COM:443/page/' || CAST(doc_id // 3 AS VARCHAR)
            || '/?b=2&utm_source=x&a=1'
          WHEN 1 THEN 'https://www.example' || CAST((doc_id // 3) % 5 AS VARCHAR)
            || '.com/page/' || CAST(doc_id // 3 AS VARCHAR)
            || '?a=1&fbclid=zz&b=2'
          ELSE 'https://www.example' || CAST((doc_id // 3) % 5 AS VARCHAR)
            || '.com:443/page/' || CAST(doc_id // 3 AS VARCHAR)
            || '/?b=2&a=1#frag'
        END AS raw
      FROM documents),
    comp AS (
      SELECT doc_id, raw,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        regexp_replace(regexp_extract(nofrag,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
        regexp_extract(nofrag, '\\?(.*)$', 1) AS q
      FROM (SELECT *, regexp_replace(raw, '#.*$', '') AS nofrag FROM seeded)),
    canon AS (
      SELECT doc_id, raw,
        scheme || '://'
        || CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END
        || path
        || CASE WHEN qc <> '' THEN '?' || qc ELSE '' END AS canon_url
      FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(q, '&'),
        x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z0-9_]*|fbclid|gclid|ref)='))),
        '&') AS qc FROM comp))
    SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_raw,
      CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_variants
    FROM canon GROUP BY canon_url
    """,
    doc="URL-level dedup, the first-pass key of every web-corpus pipeline: "
        "canonicalize (lowercase scheme/host, drop default port, strip "
        "fragment + trailing slash, remove utm_*/fbclid/gclid/ref params, sort "
        "survivors) over three injected messy variants per logical URL, then "
        "group — map-only regexp + array ops feeding one hash agg; the three "
        "variants provably collapse to one canonical key",
)
def _url_canon(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = F.expr("doc_id div 3")
    k = (base % 5).cast("string")
    b = base.cast("string")
    raw = (
        F.when(
            (F.col("doc_id") % 3) == 0,
            F.concat(
                F.lit("https://WWW.Example"), k, F.lit(".COM:443/page/"), b,
                F.lit("/?b=2&utm_source=x&a=1"),
            ),
        )
        .when(
            (F.col("doc_id") % 3) == 1,
            F.concat(
                F.lit("https://www.example"), k, F.lit(".com/page/"), b,
                F.lit("?a=1&fbclid=zz&b=2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.example"), k, F.lit(".com:443/page/"), b,
                F.lit("/?b=2&a=1#frag"),
            )
        )
    )
    seeded = docs.select("doc_id", raw.alias("raw"))
    return (
        seeded.withColumn("canon_url", tx.canonical_url("raw"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_raw"),
            F.countDistinct("raw").alias("n_variants"),
        )
    )


@_q(
    "equi_depth_histogram",
    """
    WITH c AS (
      SELECT quantile_cont(value,
        [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cuts
      FROM events WHERE value IS NOT NULL)
    SELECT CAST(len(list_filter(c.cuts, x -> x <= e.value)) AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n,
      MIN(e.value) AS lo, MAX(e.value) AS hi
    FROM events e, c WHERE e.value IS NOT NULL
    GROUP BY bucket
    """,
    doc="equal-frequency histogram (8 buckets bounded by exact corpus "
        "percentiles — the skew-proof distribution view): one agg computes all "
        "cutpoints at once (percentile==quantile_cont bit-for-bit), the single-"
        "row cut array broadcasts onto the scan, bucket id is a map-only array "
        "count, one final hash agg; swap approx_percentile at 100 TB",
)
def _equi_depth(spark, sf_dir):
    from .operators.stats import equi_depth_histogram

    (events,) = _load(spark, sf_dir, "events")
    return equi_depth_histogram(events, "value", k=8)


@_q(
    "hll_mergeable_rollup",
    """
    SELECT event_type,
      CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_partial_days,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      TRUE AS union_within_tol
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
    """,
    doc="mergeable distinct-count rollup: per-(event_type, day) DataSketches "
        "HLL partials (one corpus shuffle, sketches are ~2^lg_k bytes each), "
        "then per-type union + estimate over the dashboard-sized partials "
        "table — coarser rollups never rescan the corpus.  BOUND-AUDIT "
        "oracle form (VERDICT r10 item 4 recipe; was rows-only): the "
        "registered result is the partial-grain cardinality (n_partial_days "
        "— hash-exact proof the rollup really aggregated per-day sketches) "
        "+ exact per-type distinct users + a boolean |union_est - exact| <= "
        "3*(1.04/sqrt(2^12))*exact verdict on the unioned estimate "
        "(measured rel-err 0.000/0.008 at sf0.01/sf0.1, deterministic "
        "across 3 runs; tol 0.049).  The union estimate itself stays "
        "engine-specific and deliberately out of the hash; note union != "
        "single-shot direct estimate in dense mode (the union drops the "
        "HIP accumulator — 1488 vs 1494 at sf0.1), which is why the audit "
        "bounds it against EXACT, not against the direct sketch.  partials "
        "feed two consumers (day count + union) so they stage through a "
        "lazy localCheckpoint (SCALING.md scalar-reuse trap).",
)
def _hll_rollup(spark, sf_dir):
    from .operators.stats import hll_partial_sketches, hll_union_estimate

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("user_id").isNotNull())
    partials = _ckpt(
        hll_partial_sketches(
            base.withColumn("day", F.date_trunc("day", "ts")),
            ["event_type", "day"],
            "user_id",
        ),
        eager=False,
        label="hll_rollup_partials",
    )
    union = hll_union_estimate(partials, ["event_type"])
    counts = partials.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_partial_days")
    )
    exact = base.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    tol = 3 * 1.04 / 2 ** 6  # 3 sigma at lg_k=12
    return (
        counts.join(union, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_partial_days",
            "exact_users",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_users"))
                <= F.lit(tol) * F.col("exact_users")
            ).alias("union_within_tol"),
        )
    )


@_q(
    "null_safe_enrich",
    """
    WITH e AS (
      SELECT event_id,
        CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS user_id
      FROM events),
    a AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_events
      FROM e GROUP BY user_id)
    SELECT e.event_id, e.user_id, a.user_events
    FROM e JOIN a ON e.user_id IS NOT DISTINCT FROM a.user_id
    """,
    doc="null-safe equi-join (<=> / IS NOT DISTINCT FROM): enrich events with "
        "per-user counts WITHOUT dropping NULL-user rows (every 10th event is "
        "anonymized so the semantic provably fires) — NULLs match the "
        "aggregate's single NULL-key row, the 'unattributed' bucket every "
        "attribution report needs; still a hash-partitioned equi-join, and "
        "the aggregate side holds exactly one NULL row so no hot-key blow-up",
)
def _null_safe(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        F.when(F.col("event_id") % 10 != 0, F.col("user_id")).alias("user_id"),
    )
    agg = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
    return J.null_safe_join(e, agg, ["user_id"]).select(
        "event_id", "user_id", "user_events"
    )


@_q(
    "edit_distance_pairs",
    """
    WITH s AS (
      SELECT doc_id, lower(substring(text, 1, 32)) AS s,
        lower(substring(text, 1, 8)) AS block
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_dist
    FROM s a JOIN s b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 5
    """,
    doc="edit-distance near-dup pairs over 32-char document heads: candidates "
        "must share a lowercased 8-char prefix block, so the self-join is a "
        "shuffle-partitionable equi-join on the block (never a corpus "
        "cartesian); JVM levenshtein runs only on in-block candidates — on "
        "this corpus prefix 8 cuts candidates 13x vs prefix 4 (405k -> 30k at "
        "sf0.1) while keeping 262 of 263 matched pairs; recall-bounded like "
        "any blocked near-dup pass (the lossless alternative is PPJoin)",
)
def _edit_pairs(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return J.edit_distance_pairs(
        docs, "doc_id", "text", max_distance=5, prefix_len=8, compare_len=32
    )


@_q(
    "clean_pipeline_dirty",
    """
    WITH dirty AS (
      SELECT event_id, ts,
        CASE WHEN event_id % 23 = 0 THEN NULL ELSE user_id END AS user_id,
        event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        props
      FROM events
      UNION ALL
      SELECT event_id, ts,
        CASE WHEN event_id % 23 = 0 THEN NULL ELSE user_id END AS user_id,
        event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        props
      FROM events WHERE event_id % 50 = 0)
    SELECT t.*, CAST(month(t.ts) AS BIGINT) AS event_month
    FROM (
      SELECT DISTINCT * FROM dirty
      WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
    ) t
    """,
    doc="the reference cleaning pipeline on PROVABLY dirty input: the driver "
        "fixtures are null-free and duplicate-free, so `clean_pipeline` alone "
        "no longer exercises dropna/dropDuplicates — this variant anonymizes "
        "every 23rd user and 17th value and re-appends every 50th row before "
        "cleaning, so both passes demonstrably remove rows (plan unchanged: "
        "narrow dropna, one all-column dedup shuffle, derived month)",
)
def _clean_dirty(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirtied = events.select(
        "event_id",
        "ts",
        F.when(F.col("event_id") % 23 != 0, F.col("user_id")).alias("user_id"),
        "event_type",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        "props",
    )
    dirty = dirtied.unionAll(dirtied.filter(F.col("event_id") % 50 == 0))
    out = clean_pipeline(dirty, ts_col="ts", month_col="event_month")
    return out.withColumn("event_month", F.col("event_month").cast("long"))


@_q(
    "small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey,
        SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_total,
        CAST(COUNT(*) AS BIGINT) AS qty_n
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      AS below_avg_revenue,
      CAST(COUNT(*) AS BIGINT) AS n_small
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 2 * pa.qty_n < pa.qty_total
    """,
    doc="TPC-H Q17 shape (correlated scalar subquery): revenue from line items "
        "below half their part's average quantity — written as the decorrelated "
        "form Catalyst would produce (per-part aggregate joined back on the "
        "part key), so the corpus shuffles once on l_partkey for the aggregate "
        "and once for the join, both combinable/AQE-coalesced.  The "
        "qty < 0.5·avg predicate is cross-multiplied to 2·qty·n < Σqty over "
        "exact DECIMAL sums: no float division, so boundary rows cannot flip "
        "with summation order at any scale; DECIMAL revenue for bit-exact "
        "oracle parity",
)
def _q17_small(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(D2)).alias("qty_total"),
        F.count(F.lit(1)).alias("qty_n"),
    )
    return (
        li.join(pa, "l_partkey")
        .filter(
            F.col("l_quantity").cast(D2) * 2 * F.col("qty_n") < F.col("qty_total")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(D2))
            .cast("double")
            .alias("below_avg_revenue"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@_q(
    "customer_order_distribution",
    """
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape (outer-join count distribution): orders per customer "
        "INCLUDING zero-order customers (LEFT JOIN + COUNT(col) skips NULLs, "
        "so empty groups survive as n_orders=0), then the histogram of those "
        "counts — double aggregation where the second input is only "
        "customer-cardinality; first shuffle on the join key, second on the "
        "tiny count domain",
)
def _q13_dist(spark, sf_dir):
    cust, orders = _load(spark, sf_dir, "customer", "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@_q(
    "sliding_window_counts",
    f"""
    SELECT ws AS window_start, ws + INTERVAL 30 MINUTE + INTERVAL 30 MINUTE
        AS window_end,
      event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value
    FROM (
      SELECT event_type, value,
        unnest([time_bucket(INTERVAL '30 minutes', ts),
                time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
          AS ws
      FROM events WHERE ts IS NOT NULL)
    GROUP BY ws, event_type
    """,
    doc="hopping (sliding) 1-hour windows with a 30-minute slide, batch form "
        "of streaming window(ts, '1 hour', '30 minutes'): Spark fans each row "
        "into duration/slide = 2 windows before one hash agg (map-side "
        "combine bounds the exchange by windows x types); the oracle derives "
        "the same two epoch-aligned starts per row via time_bucket; DECIMAL "
        "money sums keep the hash bit-exact",
)
def _sliding(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@_q(
    "grouped_mode",
    """
    SELECT event_type, mode_value, CAST(n AS BIGINT) AS n FROM (
      SELECT event_type, user_id AS mode_value, COUNT(*) AS n,
        row_number() OVER (PARTITION BY event_type
                           ORDER BY COUNT(*) DESC, user_id ASC) AS rn
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id)
    WHERE rn = 1
    """,
    doc="deterministic per-group mode (most frequent user per event type, "
        "ties broken by smallest value — unlike SQL mode(), which is "
        "tie-nondeterministic): one combinable count shuffle to (group, "
        "value) cells, then WindowGroupLimit rn=1 over the cell frame — the "
        "categorical-imputation primitive, corpus never sorted",
)
def _gmode(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    cells = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Wn.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("event_type"), F.col("user_id").alias("mode_value"), "n")
    )


@_q(
    "robust_spread",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE value IS NOT NULL GROUP BY event_type),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL)
    SELECT event_type, CAST(round(MIN(med), 6) AS DOUBLE) AS median_value,
      CAST(round(quantile_cont(adev, 0.5), 6) AS DOUBLE) AS mad
    FROM dev GROUP BY event_type
    """,
    doc="robust spread per group: median + MAD (median absolute deviation) — "
        "the outlier-resistant partner to clip_outliers for heavy-tailed "
        "value columns; two exact-percentile corpus aggregations with the "
        "tiny per-group median broadcast back between them (percentile == "
        "quantile_cont bit-for-bit; 6dp absorbs the subtraction's last-ulp "
        "sensitivity to double rounding)",
)
def _mad(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull())
    med = base.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    return dev.groupBy("event_type").agg(
        F.round(F.min("med"), 6).alias("median_value"),
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad"),
    )


@_q(
    "first_event_per_user",
    """
    SELECT user_id, ts AS first_ts, event_id AS first_event_id,
      event_type AS first_event_type
    FROM (
      SELECT user_id, ts, event_id, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    WHERE rn = 1
    """,
    doc="argmin as an AGGREGATE, not a window: the earliest event per user "
        "computed as min(struct(ts, event_id, event_type)) — lexicographic "
        "struct ordering gives a deterministic tiebreak on event_id, and the "
        "partial min combines map-side, so the exchange carries one struct "
        "per (partition, user) instead of sorting each user's history; the "
        "oracle states the same thing as the rn=1 window form; ts IS NOT "
        "NULL on both sides because Spark's struct-min sorts NULLs first "
        "while the oracle's ORDER BY defaults NULLS LAST — different "
        "survivors if a null ts ever appears",
)
def _first_event(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    m = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("m"))
    )
    return m.select(
        "user_id",
        F.col("m.ts").alias("first_ts"),
        F.col("m.event_id").alias("first_event_id"),
        F.col("m.event_type").alias("first_event_type"),
    )


@_q(
    "embedding_group_mean",
    """
    WITH exploded AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        unnest(embedding) AS v
      FROM embeddings)
    SELECT label, CAST(pos AS BIGINT) AS pos,
      CAST(round(avg(CAST(v AS DOUBLE)), 6) AS DOUBLE) AS mean_v
    FROM exploded GROUP BY label, pos
    """,
    doc="exact per-label mean embedding (the per-domain/cluster centroid used "
        "for drift detection and diversity audits — exact, unlike the KMeans "
        "rows-only path), in long (label, dim-position, mean) form so every "
        "output cell is scalar-hashable: posexplode to (label, pos) cells, "
        "one combinable avg shuffle bounded by labels x dim — never by corpus "
        "size; 6dp rounding absorbs float-summation order across engines",
)
def _emb_mean(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_v"))
        .select("label", F.col("pos").cast("long").alias("pos"), "mean_v")
    )


@_q(
    "cross_source_contamination",
    """
    WITH corpus AS (
      SELECT source, text FROM documents
      UNION ALL
      -- cross-posts: every 7th doc republished under the next source id
      -- (7 is coprime to the 20-source cycle, so every source pair fires)
      SELECT 'src' || CAST((CAST(substring(source, 4) AS BIGINT) + 1) % 20
        AS VARCHAR) AS source, text
      FROM documents WHERE doc_id % 7 = 0),
    fp AS (
      SELECT DISTINCT source, md5(text) AS fp FROM corpus)
    SELECT a.source AS source_a, b.source AS source_b,
      CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    doc="cross-source contamination matrix — the train/test leakage audit: "
        "which pairs of sources share identical content fingerprints (every "
        "7th doc is republished under the neighboring source — 7 is coprime "
        "to the 20-source cycle, so every neighbor pair provably overlaps).  The corpus collapses to DISTINCT (source, md5) "
        "once — everything after runs on that fingerprint frame, so the "
        "pair join is fingerprint-cardinality, never corpus-cardinality, and "
        "a fp shared by k sources costs k(k-1)/2 pairs, not a corpus scan",
)
def _contamination(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("source", "text")
    crossposts = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(
            F.lit("src"),
            ((F.substring("source", 4, 10).cast("bigint") + 1) % 20).cast("string"),
        ).alias("source"),
        "text",
    )
    fp = (
        base.unionAll(crossposts)
        .select("source", F.md5("text").alias("fp"))
        .distinct()
    )
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@_q(
    "rolling_distinct_users",
    """
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    contrib AS (
      SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        INTERVAL 1 DAY)) AS DATE) AS window_day, user_id
      FROM ud)
    SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS rolling_7d_users
    FROM contrib GROUP BY window_day
    """,
    doc="trailing 7-day distinct users per day (the DAU/WAU dashboard "
        "primitive) — exact sliding-window COUNT DISTINCT without re-scanning "
        "7 days per output row: the corpus collapses once to DISTINCT "
        "(user, day), each such pair fans out to the 7 window-end days it "
        "contributes to, and the count-distinct runs on that bounded frame "
        "(7 x users x active-days, never corpus events); window ends beyond "
        "the data's last day keep their partial trailing value",
)
def _rolling_dau(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ud = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    contrib = ud.select(
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("window_day"),
        "user_id",
    )
    return contrib.groupBy(
        F.date_format("window_day", "yyyy-MM-dd").alias("window_day")
    ).agg(F.countDistinct("user_id").alias("rolling_7d_users"))


@_q(
    "topk_with_ties_per_nation",
    """
    SELECT n_name, c_custkey, c_acctbal FROM (
      SELECT n.n_name, c.c_custkey, c.c_acctbal,
        rank() OVER (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC) AS rk
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    WHERE rk <= 3
    """,
    doc="per-nation top-3 account balances WITH ties (rank(), not "
        "row_number(): equal balances at the cut all survive, so the result "
        "is deterministic without a tiebreak column) — broadcast dim join "
        "then per-group window, WindowGroupLimit prunes each group to its "
        "top ranks before the full sort",
)
def _topk_ties(spark, sf_dir):
    from pyspark.sql import Window as Wn

    cust, nation = _load(spark, sf_dir, "customer", "nation")
    j = cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    w = Wn.partitionBy("n_name").orderBy(F.desc("c_acctbal"))
    return (
        j.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", "c_acctbal")
    )


@_q(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    SELECT prev_type, event_type AS next_type,
      CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    doc="event-type transition matrix (the empirical Markov view of user "
        "journeys — funnel-leak and bot-pattern audit): lag over (user, "
        "event-time) with a deterministic event_id tiebreak, then one "
        "combinable count shuffle to the types x types frame; the window "
        "shuffles each user's history once, the aggregate output is "
        "dashboard-sized at any scale",
)
def _transitions(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    w = Wn.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("prev_type", F.lag("event_type").over(w))
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@_q(
    "revenue_share_of_total",
    """
    WITH per_nation AS (
      SELECT n.n_name,
        SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
      CAST(round(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE), 6)
        AS DOUBLE) AS share
    FROM per_nation
    """,
    doc="percent-of-total decomposition (the BI share-of-wallet shape): "
        "corpus aggregates to exact DECIMAL revenue per nation first, the "
        "unpartitioned total-sum window runs over the 25-row nation frame — "
        "never the corpus — and the single-task global window is harmless at "
        "that cardinality; 6dp on the ratio absorbs the one double division",
)
def _rev_share(spark, sf_dir):
    from pyspark.sql import Window as Wn

    cust, orders, nation = _load(spark, sf_dir, "customer", "orders", "nation")
    per_nation = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast(D2)).alias("rev"))
    )
    total = F.sum("rev").over(Wn.partitionBy())
    return per_nation.select(
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        F.round(F.col("rev").cast("double") / total.cast("double"), 6).alias("share"),
    )


@_q(
    "split_leakproof_by_content",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 20 = 0),
    labeled AS (
      SELECT doc_id, md5(text) AS fp,
        CASE WHEN {_SQL_BUCKET.format(key="md5(text)")} < 2000
             THEN 'test' ELSE 'train' END AS split
      FROM corpus),
    straddle AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS straddling_fps FROM (
        SELECT fp FROM labeled GROUP BY fp
        HAVING COUNT(DISTINCT split) > 1))
    SELECT l.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT l.fp) AS BIGINT) AS n_contents,
      s.straddling_fps
    FROM labeled l CROSS JOIN straddle s
    GROUP BY l.split, s.straddling_fps
    """,
    doc="leakage-proof train/test split: membership is a function of the "
        "CONTENT fingerprint, not the doc id, so byte-identical documents "
        "(the injected reposts) can never land on both sides of the split — "
        "the query emits the straddle count (0 by construction) alongside "
        "the per-split doc/content tallies; fingerprint + bucket are map-"
        "only, the tallies one combinable shuffle, the straddle check runs "
        "on the fingerprint frame",
)
def _leakproof(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    corpus = base.unionAll(
        base.filter(F.col("doc_id") % 20 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    labeled = sa.train_test_split(
        corpus.withColumn("fp", F.md5("text")), "fp", test_fraction=0.2
    )
    straddle = (
        labeled.groupBy("fp")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("straddling_fps"))
    )
    return (
        labeled.crossJoin(F.broadcast(straddle))
        .groupBy("split", "straddling_fps")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_contents"),
        )
        .select("split", "n_docs", "n_contents", "straddling_fps")
    )


# ===========================================================================
# TPC-H correlated / nested-subquery shapes (round 3): the decision-
# support query patterns the reference's SQL-warehouse stage implies
# (SURVEY §2.7) that were not yet first-class — market share, max-over-
# aggregate, nested aggregate semi-join, double-correlated exists/anti.
# ===========================================================================

@_q(
    "market_share_by_year",
    f"""
    WITH sales AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        CAST(l.l_extendedprice AS DECIMAL(12,2))
          * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS volume,
        ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'AMERICA'
    )
    SELECT o_year,
      CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
      CAST(CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS total_volume
    FROM sales GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): 7-way star join — four "
        "broadcast dims (nation x2, region, supplier) around the "
        "lineitem->orders->customer spine — then a conditional-aggregate "
        "share per order year.  Volumes accumulate in DECIMAL so the "
        "share division is one IEEE op on identical operands in both "
        "engines.  Scale: only the two fact joins shuffle; every dim "
        "broadcasts; the share needs no second pass (CASE inside SUM).",
)
def _mkt_share(spark, sf_dir):
    li, o, c, n, r, s = _load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region",
        "supplier",
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    amer = r.filter(F.col("r_name") == "AMERICA").select("r_regionkey")
    vol = (F.col("l_extendedprice").cast(D2) * (1 - F.col("l_discount").cast(D2)))
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(amer), F.col("nc_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast(D2)
    return sales.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share"),
        F.sum("volume").cast("double").alias("total_volume"),
    )


@_q(
    "top_supplier_revenue",
    f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
        {SQL_SUM.format(col="l_extendedprice")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1995-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15 shape (max over an aggregate view): quarterly revenue "
        "per supplier, keep the supplier(s) hitting the global max — the "
        "scalar-subquery-over-aggregate pattern.  Spark plan: one "
        "combinable agg shuffle builds rev, the 1-row global max cross-"
        "broadcasts back (never a sort), supplier dim broadcasts.  "
        "Decimal revenue makes the equality join exact cross-engine.",
)
def _top_supp(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_sum_money(F.col("l_extendedprice"), "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_q(
    "dominant_part_suppliers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    part_total AS (
      SELECT l_partkey, SUM(qty) AS total_qty FROM shipped GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name,
      CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
    FROM shipped sh
    JOIN part_total pt ON sh.l_partkey = pt.l_partkey
    JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    WHERE sh.qty > 0.5 * pt.total_qty
    GROUP BY s.s_suppkey, s.s_name
    """,
    doc="TPC-H Q20 shape (nested aggregate threshold semi-join): suppliers "
        "shipping >50% of a part's total volume, counted per supplier — "
        "the 'excess availability' correlated-subquery pattern re-planned "
        "as two stacked aggs on the SAME l_partkey grouping (the second "
        "shuffle reuses the first's partitioning; AQE coalesces) + a "
        "broadcast supplier dim.  No correlated per-row subquery ever "
        "executes: the inner aggregate joins back on its grouping key.",
)
def _dominant(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(D2)).cast("double").alias("qty")
    )
    part_total = shipped.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty")
    )
    return (
        shipped.join(part_total, "l_partkey")
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
    )


@_q(
    "sole_supplier_open_orders",
    """
    SELECT s.s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'O'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (EXISTS + NOT EXISTS double correlation): per "
        "supplier, open orders where other suppliers participated but "
        "none shipped after this supplier.  Both correlated subqueries "
        "collapse into ONE per-order aggregate: a line satisfies the "
        "NOT EXISTS iff no other supplier shipped strictly later, and "
        "such a line exists for supplier s iff s achieves the order's "
        "max ship date (ties: every achiever qualifies, exactly the "
        "NOT-EXISTS semantics).  Plan: one l_orderkey agg (count-"
        "distinct suppliers + max date) joined back to the fact — no "
        "per-row subquery, no triple self-join; COUNT(DISTINCT "
        "orderkey) guards multi-line survivors.",
)
def _sole_supplier(spark, sf_dir):
    li, o, s = _load(spark, sf_dir, "lineitem", "orders", "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max("l_shipdate").alias("max_ship"),
    )
    open_orders = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    qual = (
        li.join(per_order, "l_orderkey")
        .join(open_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("max_ship")))
    )
    return (
        qual.join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
    )


@_q(
    "idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape (scalar average subquery + anti join): customers "
        "with above-average positive balance and NO orders, rolled up by "
        "segment.  The scalar avg is a 1-row broadcast predicate, the NOT "
        "EXISTS is a left-anti hash join on c_custkey (never a per-row "
        "probe).  The average is computed decimal-sum-then-one-division "
        "in BOTH engines, so the threshold scalar is bit-identical and "
        "the strict > comparison cannot flip cross-engine.",
)
def _idle_rich(spark, sf_dir):
    c, o = _load(spark, sf_dir, "customer", "orders")
    # match DuckDB's AVG exactly: sum in decimal (exact), divide once
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(D2)).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
    )
    idle = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("a"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(D2)).cast("double").alias("total_bal"),
        )
    )


@_q(
    "dedup_incremental_batch",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    corpus AS (SELECT doc_id, text FROM base WHERE doc_id % 5 <> 0),
    reposts AS (
      SELECT doc_id + 2000000 AS doc_id, text FROM corpus WHERE doc_id % 20 = 1),
    increment AS (
      SELECT doc_id, text FROM base WHERE doc_id % 5 = 0
      UNION ALL SELECT doc_id, text FROM reposts),
    cfp AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
    exact_killed AS (
      SELECT i.doc_id FROM increment i JOIN cfp ON md5(i.text) = cfp.fp),
    rest AS (
      SELECT * FROM increment
      WHERE doc_id NOT IN (SELECT doc_id FROM exact_killed)),
    u AS (
      SELECT doc_id, text, 0 AS side FROM corpus
      UNION ALL SELECT doc_id, text, 1 AS side FROM rest),
    g AS (
      SELECT doc_id, {_SQL_DOC_2GRAMS} AS grams
      FROM u
    ),
    p AS (
      SELECT doc_id,
        unnest(grams[1:(len(grams) - CAST(ceil(0.8 * len(grams)) AS BIGINT) + 1)]) AS gram
      FROM g
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE) >= 0.8
    ),
    sides AS (SELECT doc_id, side FROM u),
    near_killed AS (
      SELECT DISTINCT CASE WHEN sa.side = 1 THEN pr.id_a ELSE pr.id_b END AS doc_id
      FROM pairs pr
      JOIN sides sa ON sa.doc_id = pr.id_a
      JOIN sides sb ON sb.doc_id = pr.id_b
      WHERE sa.side <> sb.side
    )
    SELECT i.doc_id,
      CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
           WHEN nk.doc_id IS NOT NULL THEN 'near_dup'
           ELSE 'kept' END AS status
    FROM increment i
    LEFT JOIN exact_killed e ON e.doc_id = i.doc_id
    LEFT JOIN near_killed nk ON nk.doc_id = i.doc_id
    """,
    doc="incremental dedup — the production shape at 100 TB, where a new "
        "batch dedups AGAINST the standing corpus instead of re-clustering "
        "everything: (1) exact kill via distinct corpus content "
        "fingerprints (md5, broadcast-or-shuffle semi join — corpus "
        "fingerprint frame, never corpus text), (2) near-dup kill via "
        "lossless prefix-jaccard pairs restricted to CROSS-side "
        "(increment x corpus) pairs at >= 0.8.  Exact re-deliveries are "
        "injected (corpus docs with id = 1 mod 20 re-posted under new ids, "
        "FIXTURES.md policy) so stage 1 provably fires; the fixtures' own "
        "near-dup families straddle the %5 split so stage 2 fires "
        "naturally.  Within-increment duplicates are deliberately NOT "
        "killed here — that is the batch pipeline's job "
        "(dedup_pipeline_transitive); this entry is the between-batch "
        "contract.  Every stage is a bounded equi-join: no corpus-squared "
        "work anywhere.",
)
def _dinc(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    corpus = base.filter(F.col("doc_id") % 5 != 0)
    # % 20 == 1 keys are always in the corpus (1 mod 5 != 0) — a % 20
    # == 0 predicate would be provably empty against the % 5 != 0 corpus
    reposts = corpus.filter(F.col("doc_id") % 20 == 1).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    increment = base.filter(F.col("doc_id") % 5 == 0).unionAll(reposts)

    cfp = corpus.select(F.md5("text").alias("fp")).distinct()
    with_fp = increment.withColumn("fp", F.md5("text"))
    exact_killed = with_fp.join(cfp, "fp", "left_semi").select("doc_id")
    rest = with_fp.join(cfp, "fp", "left_anti").select("doc_id", "text")

    u = corpus.withColumn("side", F.lit(0)).unionAll(
        rest.withColumn("side", F.lit(1))
    )
    pairs = dd.jaccard_prefix_pairs(u, "doc_id", "text", n=2, threshold=0.8)
    sides = u.select("doc_id", "side")
    sa = sides.select(F.col("doc_id").alias("id_a"), F.col("side").alias("side_a"))
    sb = sides.select(F.col("doc_id").alias("id_b"), F.col("side").alias("side_b"))
    near_killed = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("side_a") != F.col("side_b"))
        .select(
            F.when(F.col("side_a") == 1, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    ek = exact_killed.withColumn("__exact", F.lit(1))
    nk = near_killed.withColumn("__near", F.lit(1))
    return (
        increment.join(ek, "doc_id", "left")
        .join(nk, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__exact").isNotNull(), F.lit("exact_dup"))
            .when(F.col("__near").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


# ===========================================================================
# Structured Streaming round 3: hash-verified streaming entries beyond
# streaming_hourly_counts — custom stateful sessionization
# (applyInPandasWithState), bounded-state streaming dedup, and the
# stream-static broadcast enrichment, each bit-matched to a batch oracle.
# ===========================================================================

def _stage_stream_src(spark, sf_dir: str, tag: str, df: DataFrame) -> str:
    """Write ``df`` to a per-(sf,tag) staging dir for the file-source
    stream — cross-process content-addressed (``_shared_stage``): the
    feed is a pure derivation of the fixture tables, so one machine-wide
    copy serves every suite/bench/verify run."""
    # Key on the fixture CONTENT fingerprint (path + per-parquet
    # size/mtime): distinct roots sharing a basename never collide, and
    # regenerated fixtures at the same path rebuild instead of serving
    # stale derived bytes.
    norm = os.path.abspath(os.path.normpath(sf_dir))
    digest = _fixture_fingerprint(sf_dir)
    return _shared_stage(
        f"stream_{tag}_{os.path.basename(norm)}_{digest}",
        lambda tmp: df.repartition(4).write.mode("overwrite").parquet(tmp),
    )


#: State-store partition count for the suite's stateful streams.
#: ``spark.sql.shuffle.partitions`` at FIRST query start fixes the
#: state layout for a checkpoint's lifetime, and the r9 profile
#: (SCALING.md "where streaming wall time actually goes") measured the
#: suite's streaming wall as ~2-3 s per partition-commit WAVE of
#: HDFSBackedStateStore snapshot+commit — fixed protocol cost per
#: store partition, unrelated to the kB of state these feeds carry.
#: These verification streams restart from FRESH checkpoints every run
#: (uuid-named memory sinks), so nothing is baked in: 8 partitions is
#: right-sized for the backlog the bench actually drains (VERDICT r9
#: item 3: 32 -> 8 cuts the sequential commit waves 4x and with them
#: the family's host-load spread).  A production deployment sizes this
#: to its cluster ONCE at first start — the scope helper below is the
#: engine making that capacity decision explicit per stream instead of
#: inheriting whatever the session default happens to be.
_STREAM_STATE_PARTITIONS = 8


class _stream_conf_scope:
    """Scope ``spark.sql.shuffle.partitions`` around a stream's whole
    start->drain window (the value is latched into the query's offset
    metadata at batch-0 planning, so the scope must cover the drain,
    not just ``.start()``).  The suite/bench/driver run queries
    sequentially, so a set/restore on the shared session is safe here;
    it is NOT a general concurrent-session tool."""

    _KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark, n: int = _STREAM_STATE_PARTITIONS):
        self._spark, self._n = spark, n

    def __enter__(self):
        self._old = self._spark.conf.get(self._KEY)
        self._spark.conf.set(self._KEY, str(self._n))

    def __exit__(self, *exc):
        self._spark.conf.set(self._KEY, self._old)
        return False


def _run_stream_to_table(
    agg, mode: str, no_data_batches: bool | None = None
) -> str:
    """availableNow the streaming frame into a uniquely-named memory
    sink; return the table name.

    ``no_data_batches=False`` skips the trailing empty micro-batch that
    availableNow otherwise runs to advance the watermark (VERDICT r11
    item 7: measured 0.7-0.9 s of pure state-store commit waves, ~40%
    of the interval join's wall).  ONLY valid for sinks whose every row
    is emitted by the data batches themselves.  Complete-mode sinks are
    categorically such (every batch re-emits the full result), so the
    default (``None``) derives the skip from ``mode`` — no per-site
    flag to forget; append/update sites must opt in EXPLICITLY because
    the answer depends on the operator: inner stream-stream joins and
    pass-through dedup emit on arrival (safe), append/update windowed
    and session aggregates NEED that batch to flush closed windows."""
    import uuid

    if no_data_batches is None:
        no_data_batches = mode != "complete"
    name = f"strm_{uuid.uuid4().hex[:8]}"
    spark_ = agg.sparkSession
    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    nd_old = spark_.conf.get(nd_key)
    with _stream_conf_scope(spark_):
        # latched at query start, so set before .start() and restore
        # after the drain completes (a leaked "false" would silently
        # drop the final-window flush of a LATER append-mode agg)
        spark_.conf.set(nd_key, "true" if no_data_batches else "false")
        try:
            q = (
                agg.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            try:
                # awaitTermination returns False on timeout; stopping a
                # stream mid-backlog would silently aggregate PARTIAL
                # results, so a timeout must be an error, never a
                # truncated answer.  600 s is ~60x the observed sf0.01
                # drain time — headroom for the host's measured 2-8x
                # allocation swings during driver verification.
                if not q.awaitTermination(600):
                    raise TimeoutError(
                        f"stream {name} did not drain its backlog within 600s"
                    )
            finally:
                q.stop()
        finally:
            spark_.conf.set(nd_key, nd_old)
    return name


@_q(
    "streaming_sessionize",
    """
    WITH e AS (
      SELECT user_id, ts FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    m AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts)
                    OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e),
    sid AS (
      SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess
      FROM m),
    sess AS (
      SELECT user_id, sess, MIN(ts) AS session_start, MAX(ts) AS session_end,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sid GROUP BY user_id, sess),
    last AS (SELECT user_id, MAX(sess) AS last_sess FROM sess GROUP BY user_id)
    SELECT s.user_id, s.session_start, s.session_end, s.n_events
    FROM sess s JOIN last l ON s.user_id = l.user_id AND s.sess < l.last_sess
    """,
    doc="§2.8 custom stateful streaming operator, hash-verified: gap-based "
        "(30 min) sessionization via applyInPandasWithState "
        "(streaming/jobs.py sessionize_stream), tz-proof as_micros mode — "
        "event time reduced to epoch-micro longs JVM-side before the Arrow "
        "hop, sessions rebuilt as TIMESTAMP_NTZ wall clock after.  The "
        "stream emits a session only when a later same-user event closes "
        "it, so the batch oracle excludes each user's final (still-open) "
        "session — the exact emission semantics, stated in SQL.  State is "
        "bounded by active users; one state shuffle total.",
)
def _stream_sessionize(spark, sf_dir):
    from .streaming.jobs import read_event_stream, sessionize_stream

    (events,) = _load(spark, sf_dir, "events")
    src = _stage_stream_src(
        spark, sf_dir, "sess",
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()),
    )
    sessions = sessionize_stream(
        read_event_stream(spark, src), gap_s=1800, as_micros=True
    )
    name = _run_stream_to_table(sessions, "update")
    ntz = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return spark.table(name).select(
        "user_id",
        F.expr(f"timestampadd(MICROSECOND, session_start_us, {ntz})").alias(
            "session_start"
        ),
        F.expr(f"timestampadd(MICROSECOND, session_end_us, {ntz})").alias(
            "session_end"
        ),
        "n_events",
    )


@_q(
    "streaming_dedup_counts",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
      {SQL_SUM.format(col="value")} AS total_value
    FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
    """,
    doc="§2.8 streaming exact dedup with bounded state, hash-verified: the "
        "staged stream carries every 7th event RE-DELIVERED (duplicates "
        "injected per FIXTURES.md policy — the fixtures themselves are "
        "dup-free), dropDuplicatesWithinWatermark(event_id) suppresses the "
        "re-deliveries with state bounded by the watermark horizon, and "
        "the surviving rows aggregate to EXACTLY the original table's "
        "count/sum (duplicates are byte-identical, so survivor choice "
        "cannot change the aggregate).  n_rows == n_unique proves the "
        "dedup actually fired.",
)
def _stream_dedup(spark, sf_dir):
    from .streaming.jobs import dedup_stream, read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("event_id").isNotNull() & F.col("ts").isNotNull()
    )
    redelivered = base.filter(F.col("event_id") % 7 == 0)
    src = _stage_stream_src(
        spark, sf_dir, "dedup", base.unionAll(redelivered)
    )
    # horizon must cover the fixture's full span (~30 days): with a
    # shorter watermark a multi-batch source could evict dedup state
    # while re-deliveries are still arriving
    deduped = dedup_stream(
        read_event_stream(spark, src), ["event_id"], ts_col="ts",
        watermark="1440 hours",
    )
    name = _run_stream_to_table(deduped, "append", no_data_batches=False)
    return spark.table(name).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_unique"),
        _sum_money(F.col("value"), "total_value"),
    )


@_q(
    "streaming_enriched_totals",
    f"""
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col="e.value")} AS total_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    WHERE e.user_id IS NOT NULL AND e.ts IS NOT NULL AND e.value IS NOT NULL
    GROUP BY n.n_name
    """,
    doc="§2.8 stream-static join, hash-verified: each micro-batch of the "
        "event stream is enriched against the (static, re-planned per "
        "batch) nation dimension via broadcast — no stream-side shuffle, "
        "no state store for the join — then aggregated complete-mode.  "
        "The synthetic user_id%25 key exercises the join; decimal sums "
        "make streaming == batch bit-exact.",
)
def _stream_enrich(spark, sf_dir):
    from .streaming.jobs import enrich_stream_static, read_event_stream

    events, nation = _load(spark, sf_dir, "events", "nation")
    base = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    src = _stage_stream_src(spark, sf_dir, "enrich", base)
    dim = nation.select(
        F.col("n_nationkey").alias("nkey"), "n_name"
    )
    stream = read_event_stream(spark, src).withColumn(
        "nkey", F.col("user_id") % 25
    )
    enriched = enrich_stream_static(stream, dim, on="nkey", how="inner")
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_money(F.col("value"), "total_value"),
    )
    name = _run_stream_to_table(agg, "complete")
    return spark.table(name).select("n_name", "n_events", "total_value")


@_q(
    "streaming_interval_join",
    f"""
    WITH v AS (
      SELECT user_id, ts AS vts FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL),
    p AS (
      SELECT user_id, ts AS pts, value FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND ts IS NOT NULL AND value IS NOT NULL)
    SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      {SQL_SUM.format(col="p.value")} AS attributed_value
    FROM v JOIN p ON p.user_id = v.user_id
      AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
    doc="§2.8 stream-stream interval join, hash-verified: the view and "
        "purchase streams (two independent file-source readers over the "
        "same staged events) join on user with the purchase constrained to "
        "[view_ts, view_ts + 1h] — the impression→conversion attribution "
        "shape.  Both sides are watermarked and the range predicate is in "
        "the join condition, which is what lets Spark evict join state "
        "once the other side's watermark passes view_ts + 1h (bounded "
        "state; without the range bound the state store grows forever).  "
        "Inner stream-stream join emits each matched pair exactly once, "
        "so the appended pairs aggregate bit-identically to the batch "
        "join oracle (decimal sums).",
)
def _stream_interval_join(spark, sf_dir):
    from .streaming.jobs import join_streams_interval, read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # tag "sess" on purpose: this frame is byte-identical to the one
    # streaming_sessionize stages (same user/ts null filter), so the two
    # queries share one staging write via the _shared_stage key.
    src = _stage_stream_src(spark, sf_dir, "sess", base)
    views = (
        read_event_stream(spark, src)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    purchases = (
        read_event_stream(spark, src)
        .filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
    )
    joined = join_streams_interval(
        views.withColumnRenamed("user_id", "u"),
        purchases.withColumnRenamed("p_user", "u"),
        key="u",
        left_ts="v_ts",
        right_ts="p_ts",
        within="1 hour",
        # horizon covers the fixture's full span: availableNow may split
        # the staged files into multiple micro-batches, and a short
        # watermark would evict join state mid-backlog (same reasoning
        # as streaming_dedup_counts)
        watermark="1440 hours",
    )
    # inner stream-stream join: every match emits in the data batch it
    # completes in, so the trailing watermark-advancing empty batch is
    # pure state-store commit cost (VERDICT r11 item 7) — skip it
    name = _run_stream_to_table(joined, "append", no_data_batches=False)
    return spark.table(name).groupBy(F.col("u").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        _sum_money(F.col("value"), "attributed_value"),
    )


# ===========================================================================
# Model-based quality filtering and line-level boilerplate removal
# ===========================================================================

#: Shared oracle expression for the hashing-trick weight sum over a
#: text column — used by quality_classifier_scores,
#: dedup_survivor_by_quality and corpus_filter_funnel.
_SQL_HASH_WSUM = (
    f"list_sum(list_transform({tk.space_tokens_sql('text')}, "
    "t -> (('0x' || substring(md5(t), 1, 8))::BIGINT % 2001) - 1000))"
)


@_q(
    "quality_classifier_scores",
    f"""
    WITH s AS (
      SELECT doc_id,
        CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens,
        CAST({_SQL_HASH_WSUM} AS BIGINT) AS w_sum
      FROM documents)
    SELECT doc_id, n_tokens, w_sum,
      round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE)
        / (n_tokens * 1000.0)))), 6) AS score,
      w_sum >= 0 AS keep
    FROM s
    """,
    doc="model-based quality filtering (the fastText-style linear scorer "
        "of CCNet/DCLM): tokens hash into a weight table, weights sum to "
        "an exact BIGINT inside one JVM higher-order aggregate, sigmoid of "
        "the mean weight is the keep probability.  Weights here are a "
        "deterministic function of the hash so DuckDB replays the exact "
        "model; production swaps the lambda body for an element_at lookup "
        "into a broadcast trained-weight array — same map-only plan.  The "
        "keep decision compares the INTEGER sum (not the rounded float), "
        "so the boundary is bit-deterministic at any partitioning.  Zero "
        "shuffles: cheapest possible corpus pass.",
)
def _quality_classifier(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.quality_classifier(docs, "doc_id", "text")


@_q(
    "line_boilerplate_removal",
    rf"""
    WITH docs2 AS (
      SELECT doc_id, source,
        'home | about | contact | ' || source || chr(10) || text || chr(10)
          || '(c) 2026 ' || source || ' all rights reserved' AS text
      FROM documents),
    parts AS (
      SELECT doc_id, source, {tk.lines_sql('text')} AS p FROM docs2),
    lines AS (
      SELECT doc_id, source, p,
        unnest(generate_series(1, len(p))) AS pos
      FROM parts),
    sel AS (
      SELECT doc_id, source, pos, p[pos] AS line,
        lower(trim({tk.collapse_whitespace_sql('p[pos]')})) AS norm
      FROM lines),
    gd AS (SELECT source, COUNT(DISTINCT doc_id) AS g_docs
           FROM docs2 GROUP BY source),
    lc AS (SELECT source, norm, COUNT(DISTINCT doc_id) AS l_docs
           FROM sel GROUP BY source, norm),
    bp AS (
      SELECT lc.source, lc.norm FROM lc JOIN gd ON lc.source = gd.source
      WHERE lc.l_docs >= 3 AND lc.l_docs >= 0.5 * gd.g_docs),
    kept AS (
      SELECT s.doc_id, s.pos, s.line FROM sel s
      WHERE NOT EXISTS (
        SELECT 1 FROM bp WHERE bp.source = s.source AND bp.norm = s.norm)),
    agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT d.doc_id, d.source,
      CAST(len({tk.lines_sql('d.text')}) AS BIGINT) AS n_lines,
      COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
      md5(COALESCE(a.clean_text, '')) AS clean_fp
    FROM docs2 d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    doc="line-level boilerplate removal (CCNet/RefinedWeb line dedup): a "
        "line occurring in >=50% (and >=3) of its source's documents is "
        "template chrome — nav/footer/cookie banner — and dies; the same "
        "words quoted in one document elsewhere survive.  Fixtures have "
        "single-line docs, so the query injects a per-source header and "
        "footer line around every body (header+footer hit 25/25 docs per "
        "source -> removed; each unique body stays), making the removal "
        "provable: clean_fp must equal md5 of the ORIGINAL body.  Scale: "
        "posexplode -> one count-distinct shuffle bounded by distinct "
        "(source, line) -> tiny boilerplate set broadcast left-anti -> one "
        "groupBy(doc) reassembly.  Never corpus x corpus.",
)
def _line_boilerplate(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    docs3 = docs.withColumn(
        "text",
        F.concat(
            F.lit("home | about | contact | "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("(c) 2026 "), F.col("source"),
            F.lit(" all rights reserved"),
        ),
    )
    out = tx.remove_boilerplate_lines(
        docs3, "doc_id", "text", "source", min_frac=0.5, min_docs=3
    )
    return out.select(
        "doc_id", "source", "n_lines", "n_kept",
        F.md5("clean_text").alias("clean_fp"),
    )


@_q(
    "html_text_extraction",
    rf"""
    WITH seeded AS (
      SELECT doc_id,
        '<html><head><style>p {{ color: red }}</style><title>t</title></head>'
          || '<body><h1>' || source || '</h1><p>' || text
          || '</p><script type="text/javascript">var x = 1 < 2;</script>'
          || '<div>&amp; &lt;tail&gt;&nbsp;&quot;end&quot;</div></body></html>'
          AS html
      FROM documents)
    SELECT doc_id, trim({tk.collapse_whitespace_sql('body')}) AS extracted
    FROM (SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(html,
                        '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                      '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                    '(?s)<[^>]+>', ' ', 'g'),
                  '&nbsp;', ' ', 'g'),
                '&lt;', '<', 'g'),
              '&gt;', '>', 'g'),
            '&quot;', '"', 'g'),
          '&amp;', '&', 'g') AS body
      FROM seeded)
    """,
    doc="WET-style HTML text extraction ahead of cleaning/dedup: script and "
        "style blocks die WITH their contents (two RE2-safe passes — no "
        "backreference, the oracle's regex engine has none), remaining tags "
        "become spaces, core entities decode, whitespace collapses.  The "
        "query wraps every fixture body in a full HTML shell (head/style/"
        "script/entities) so the strip provably fires: the result must be "
        "'<h1 text> <body text> & <tail> \"end\"' exactly.  Map-only "
        "whole-stage codegen; a production pipeline swaps a DOM extractor "
        "in via mapInPandas only where regex fidelity isn't enough.",
)
def _html_extract(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p { color: red }</style>"
                  "<title>t</title></head><body><h1>"),
            F.col("source"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit('</p><script type="text/javascript">var x = 1 < 2;'
                  "</script><div>&amp; &lt;tail&gt;&nbsp;&quot;end&quot;"
                  "</div></body></html>"),
        ).alias("html"),
    )
    return seeded.select("doc_id", tx.strip_html("html").alias("extracted"))


@_q(
    "inverted_index_postings",
    f"""
    WITH t AS (
      SELECT doc_id,
        unnest(list_filter({tk.space_tokens_sql('lower(text)')},
                           x -> len(x) >= 4)) AS term
      FROM documents),
    p AS (SELECT DISTINCT doc_id, term FROM t),
    post AS (
      SELECT term,
        CAST(COUNT(*) AS BIGINT) AS df_count,
        md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
          AS postings_fp
      FROM p GROUP BY term),
    tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS total_tf
           FROM t GROUP BY term)
    SELECT tf.term, tf.total_tf, post.df_count, post.postings_fp
    FROM tf JOIN post ON tf.term = post.term
    """,
    doc="search-index build over the corpus: term -> (total tf, document "
        "frequency, md5 fingerprint of the numerically-sorted posting "
        "list).  The fingerprint verifies the index artifact without "
        "materializing posting lists into the result.  One map-side "
        "explode + one groupBy(term) shuffle bounded by vocabulary x "
        "postings; heavy-hitter terms are the known skew point — at web "
        "scale you cap df (stopword-frequency terms carry no retrieval "
        "signal) or shard postings by (term, id-range); min_len=4 already "
        "drops the worst stopword mass here.",
)
def _inv_index(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.inverted_index(docs, "doc_id", "text", min_len=4).select(
        "term", "total_tf", "df_count", "postings_fp"
    )


@_q(
    "dedup_survivor_by_quality",
    f"""
    WITH RECURSIVE
    {_SQL_PREFIX_PAIRS},
    {_SQL_CC_CLOSURE},
    assign AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    score AS (
      SELECT doc_id,
        CAST({_SQL_HASH_WSUM} AS BIGINT) AS w_sum
      FROM documents),
    j AS (
      SELECT a.component, a.doc_id, s.w_sum
      FROM assign a JOIN score s ON a.doc_id = s.doc_id),
    pick AS (
      SELECT component, doc_id, w_sum,
        row_number() OVER (PARTITION BY component
                           ORDER BY w_sum DESC, doc_id ASC) AS rk
      FROM j),
    sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM j GROUP BY component)
    SELECT p.doc_id AS survivor_id, z.cluster_size,
      p.w_sum AS survivor_w_sum
    FROM pick p JOIN sz z ON p.component = z.component
    WHERE p.rk = 1
    """,
    doc="quality-aware dedup survivor selection: same lossless pairs -> "
        "connected-components pipeline as dedup_pipeline_transitive, but "
        "the survivor of each near-dup cluster is the member with the BEST "
        "quality-classifier score (exact integer w_sum, doc_id tiebreak) "
        "instead of the arbitrary min-id — what a production corpus "
        "actually keeps.  The argmax is min(struct(-w_sum, doc_id)): "
        "lexicographic struct min, map-side combinable — one struct per "
        "(partition, cluster) crosses the exchange, no per-cluster history "
        "sort.  Scale = dedup_pipeline_transitive + one map-only scoring "
        "pass + one combinable argmax shuffle.",
)
def _dedup_best_quality(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    pairs = dd.jaccard_prefix_pairs(docs, "doc_id", "text", n=2, threshold=0.8)
    comp = gr.assign_components(
        docs.select("doc_id"), "doc_id", pairs.select("id_a", "id_b")
    )
    scored = tx.quality_classifier(docs, "doc_id", "text").select(
        "doc_id", "w_sum"
    )
    j = comp.join(scored, "doc_id")
    return (
        j.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("w_sum")).alias("neg_w"),
                    F.col("doc_id").alias("doc_id"),
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            F.col("s.doc_id").alias("survivor_id"),
            "cluster_size",
            (-F.col("s.neg_w")).alias("survivor_w_sum"),
        )
    )


@_q(
    "corpus_filter_funnel",
    f"""
    WITH flags AS (
      SELECT
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL THEN 1 ELSE 0 END AS s1,
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL
              AND n_chars >= 150 THEN 1 ELSE 0 END AS s2,
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL
              AND n_chars >= 150 AND lang = 'en' THEN 1 ELSE 0 END AS s3,
        CASE WHEN text IS NOT NULL AND lang IS NOT NULL
              AND n_chars >= 150 AND lang = 'en'
              AND {_SQL_HASH_WSUM} >= 0
             THEN 1 ELSE 0 END AS s4,
        1 AS s0
      FROM documents),
    tot AS (
      SELECT CAST(SUM(s0) AS BIGINT) AS n0, CAST(SUM(s1) AS BIGINT) AS n1,
        CAST(SUM(s2) AS BIGINT) AS n2, CAST(SUM(s3) AS BIGINT) AS n3,
        CAST(SUM(s4) AS BIGINT) AS n4
      FROM flags)
    SELECT 0 AS stage, 'ingested' AS stage_name, n0 AS n_docs,
      CAST(0 AS BIGINT) AS n_rejected FROM tot
    UNION ALL SELECT 1, 'non_null', n1, n0 - n1 FROM tot
    UNION ALL SELECT 2, 'min_length', n2, n1 - n2 FROM tot
    UNION ALL SELECT 3, 'lang_en', n3, n2 - n3 FROM tot
    UNION ALL SELECT 4, 'quality_model', n4, n3 - n4 FROM tot
    """,
    doc="filter-funnel attrition report — the pipeline-observability view "
        "every production corpus build ships with: one corpus pass computes "
        "every stage's cumulative survival flag (null-check -> min-length "
        "-> language -> model-based quality), ONE combinable aggregate "
        "sums them, and the 5-row funnel (stage, survivors, rejected-at-"
        "stage) unpivots from that single row.  Rejection counts per stage "
        "fall out of adjacent differences — no per-stage rescan, no "
        "count() loop; the whole report costs one scan at any corpus size.",
)
def _filter_funnel(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    s1 = F.col("text").isNotNull() & F.col("lang").isNotNull()
    s2 = s1 & (F.col("n_chars") >= 150)
    s3 = s2 & (F.col("lang") == "en")
    keep = tx.hashed_linear_score("text")["w_sum"] >= 0
    s4 = s3 & keep
    flag = lambda c: F.sum(c.cast("int").cast("bigint"))  # noqa: E731
    tot = docs.agg(
        F.count(F.lit(1)).alias("n0"),
        flag(s1).alias("n1"),
        flag(s2).alias("n2"),
        flag(s3).alias("n3"),
        flag(s4).alias("n4"),
    )
    return tot.selectExpr(
        """stack(5,
            0L, 'ingested',      n0, 0L,
            1L, 'non_null',      n1, n0 - n1,
            2L, 'min_length',    n2, n1 - n2,
            3L, 'lang_en',       n3, n2 - n3,
            4L, 'quality_model', n4, n3 - n4
        ) AS (stage, stage_name, n_docs, n_rejected)"""
    )


@_q(
    "rolling_zscore_anomalies",
    """
    WITH e AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    w AS (
      SELECT event_id, user_id, value,
        CAST(COUNT(*) OVER win AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER win AS DOUBLE) AS s1,
        CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
             OVER win AS DOUBLE) AS s2
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, value,
      round((value - s1 / n)
            / sqrt((n * s2 - s1 * s1) / (n * (n - 1))), 6) AS zscore
    FROM w
    WHERE n >= 5 AND (n * s2 - s1 * s1) > 0
      AND abs((value - s1 / n)
              / sqrt((n * s2 - s1 * s1) / (n * (n - 1)))) > 2.5
    """,
    doc="rolling z-score anomaly detection over each user's trailing-10 "
        "event window (frame excludes the current row — no self-"
        "contamination): the monitoring primitive for value-drift / fraud "
        "screens.  Cross-engine exactness: the window sums run in DECIMAL "
        "(order-independent, bit-identical on any partitioning), variance "
        "derives from the two exact power sums in a handful of identical "
        "IEEE ops, and the one sqrt/division rounds to 6dp.  One shuffle "
        "(hash by user), per-user local sort, linear frame scan.",
)
def _rolling_zscore(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    v = F.col("value").cast(D2)
    w = e.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum(v).over(win).cast("double").alias("s1"),
        F.sum(v * v).over(win).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var_num = n * s2 - s1 * s1
    z = (F.col("value") - s1 / n) / F.sqrt(var_num / (n * (n - 1)))
    return w.filter((n >= 5) & (var_num > 0) & (F.abs(z) > 2.5)).select(
        "event_id", "user_id", "value", F.round(z, 6).alias("zscore")
    )


@_q(
    "session_window_native",
    f"""
    WITH e AS (
      SELECT user_id, ts, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    m AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sid AS (
      SELECT user_id, ts, value,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess
      FROM m)
    SELECT user_id, MIN(ts) AS session_start,
      MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col="value")} AS total_value
    FROM sid GROUP BY user_id, sess
    """,
    doc="Spark's NATIVE session_window aggregation (batch form): "
        "groupBy(user, session_window(ts, '30 minutes')) merges events "
        "whose gaps are under the timeout into dynamic windows — one "
        "shuffle + per-user local sort, no self-join, no window-function "
        "pass.  The oracle restates the exact semantics as gaps-and-"
        "islands (a gap of EXACTLY the timeout starts a new session — "
        "session_window ends are exclusive) with session_end = last event "
        "+ timeout.  Complements the applyInPandasWithState streaming "
        "sessionizer (streaming_sessionize) and the SQL-form "
        "sessionize_events: three routes, one hash-verified semantics.",
)
def _session_native(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@_q(
    "sink_quarantine_roundtrip",
    f"""
    WITH stamped AS (
      SELECT *, CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v2
      FROM events)
    SELECT (v2 IS NOT NULL) AS _valid,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      {SQL_SUM.format(col="v2")} AS total_value
    FROM stamped GROUP BY (v2 IS NOT NULL)
    """,
    doc="data-contract quarantine sink, hash-verified round trip: every "
        "11th event's value is nulled (fixtures are contract-clean, so "
        "violations are injected), the contract predicate stamps a "
        "boolean _valid, and ONE partitioned write routes accepted rows "
        "to _valid=true and rejects to _valid=false side by side "
        "(sources/writers.py quarantine_write) — one scan, both sinks; "
        "the two-filtered-writes alternative scans the corpus twice.  "
        "The aggregate over the RE-READ files must hash-match the oracle "
        "computed on the original table, so lost rows, misrouted rows, "
        "or partition corruption all break the hash.",
)
def _quarantine(spark, sf_dir):
    import tempfile

    from .sources.writers import quarantine_write

    (events,) = _load(spark, sf_dir, "events")
    stamped = events.withColumn(
        "value",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    ).withColumn("_valid", F.col("value").isNotNull())
    out = _scratch(f"automated_batch_data_pipeline_nyc_quarantine_{os.path.basename(os.path.normpath(sf_dir))}")
    quarantine_write(stamped, out)
    back = read_parquet(spark, out)
    return back.groupBy(F.col("_valid").cast("boolean").alias("_valid")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        _sum_money(F.col("value"), "total_value"),
    )


@_q(
    "cdc_apply_orders",
    f"""
    WITH feed AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority, 'D' AS op
      FROM orders WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'X', o_totalprice + 10,
        o_orderdate, o_orderpriority, 'U'
      FROM orders WHERE o_orderkey % 13 = 1
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority, 'I'
      FROM orders WHERE o_orderkey % 13 = 2),
    applied AS (
      SELECT o.o_orderstatus, o.o_totalprice FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM feed f WHERE f.o_orderkey = o.o_orderkey)
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM feed WHERE op <> 'D')
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_value
    FROM applied GROUP BY o_orderstatus
    """,
    doc="CDC change-feed apply with DELETE tombstones "
        "(operators/incremental.py cdc_apply): a deterministic feed "
        "deletes every key = 0 mod 13, rewrites status/price for = 1, and "
        "inserts fresh keys for = 2; the applied snapshot's per-status "
        "aggregate must hash-match the oracle's independent semantic "
        "restatement (untouched rows UNION surviving feed rows) — so a "
        "missed delete, double-applied update, or dropped insert all "
        "break the hash.  One full-outer shuffle total; the delete "
        "branch is a filter on the joined row, not a second anti-join "
        "pass over the target.",
)
def _cdc_apply(spark, sf_dir):
    from .operators.incremental import cdc_apply

    (orders,) = _load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    d = orders.filter(k % 13 == 0).withColumn("op", F.lit("D"))
    u = (
        orders.filter(k % 13 == 1)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10)
        .withColumn("op", F.lit("U"))
    )
    i = (
        orders.filter(k % 13 == 2)
        .withColumn("o_orderkey", k + 10000000)
        .withColumn("op", F.lit("I"))
    )
    feed = d.unionByName(u).unionByName(i)
    applied = cdc_apply(orders, feed, ["o_orderkey"])
    return applied.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_value"),
    )


@_q(
    "cdc_compact_feed",
    f"""
    WITH feed AS (
      SELECT o_orderkey, o_totalprice, 'U' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 7 < 3
      UNION ALL
      SELECT o_orderkey, o_totalprice + 5, 'U', 2
      FROM orders WHERE o_orderkey % 7 < 2
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'D', 3
      FROM orders WHERE o_orderkey % 7 < 1),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      FROM feed),
    compact AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n_changes,
      {SQL_SUM.format(col="o_totalprice")} AS total_value,
      CAST(SUM(seq) AS BIGINT) AS seq_sum
    FROM compact GROUP BY op
    """,
    doc="CDC feed compaction — collapse a multi-change-per-key feed to "
        "the LAST change per key before applying (the precondition "
        "cdc_apply documents): deterministic synthetic feed gives keys "
        "one, two, or three versions, and only the latest survives.  "
        "row_number over (key, seq DESC) plans with WindowGroupLimit, so "
        "each group prunes to one row during the sort — the same "
        "bounded-state shape as top-k sampling, never a per-key history "
        "materialization.  Per-op aggregate (counts, decimal sums, seq "
        "checksum) pins every surviving version.",
)
def _cdc_compact(spark, sf_dir):
    from pyspark.sql import Window

    (orders,) = _load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    v1 = orders.filter(k % 7 < 3).select(
        "o_orderkey", "o_totalprice", F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    v2 = orders.filter(k % 7 < 2).select(
        "o_orderkey",
        (F.col("o_totalprice") + 5).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    v3 = orders.filter(k % 7 < 1).select(
        "o_orderkey", "o_totalprice", F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    feed = v1.unionByName(v2).unionByName(v3)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    compact = (
        feed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return compact.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_changes"),
        _sum_money(F.col("o_totalprice"), "total_value"),
        F.sum("seq").cast("long").alias("seq_sum"),
    )


#: ewma_by_user per-key history cap (rows per aggregation buffer).  At
#: ~50-100 B per collected (ts, event_id, value) struct this bounds the
#: worst single buffer to ~100-200 MB — far past any bounded-history
#: workload, far short of executor OOM.  Read at query-BUILD time so
#: tests can tighten it (monkeypatch) to pin the fail-fast path.
EWMA_MAX_HISTORY = 2_000_000


@_q(
    "ewma_by_user",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    a AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM e GROUP BY user_id)
    SELECT user_id, n_events, vs[-1] AS last_value,
      round(list_reduce(vs, (s, x) -> 0.3 * x + 0.7 * s), 6) AS ewma
    FROM a
    """,
    doc="per-key exponentially weighted moving average (alpha=0.3) — the "
        "monitoring/feature-engineering smoother: s_1 = x_1, "
        "s_i = 0.3 x_i + 0.7 s_{i-1} over each user's time-ordered "
        "values.  The fold is a JVM higher-order aggregate over the "
        "collected per-user array, seeded with the first element — "
        "DuckDB's list_reduce folds accumulator-first with the same "
        "seed, so every intermediate double is computed in the identical "
        "order and the result is bit-exact before the final 6dp round.  "
        "One user-keyed shuffle.  SCALE CAVEAT: collect_list materializes "
        "each key's full value history in one aggregation buffer, so this "
        "batch form is only safe while per-key history is bounded (events "
        "per user — the same locality assumption as sessionization).  "
        "EWMA_MAX_HISTORY enforces the bound: a key whose history "
        "exceeds it RAISES (assert_true) instead of ballooning the "
        "buffer toward OOM.  For unbounded/hot keys the PRODUCTION form "
        "is streaming/jobs.py ewma_stream, which folds incrementally "
        "with O(1) state (s, last_us, last_id, n) per key and is "
        "hash-verified against this batch fold by the streaming_ewma "
        "suite entry.",
)
def _ewma(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    # fail-fast guard for the SCALE CAVEAT above: a key whose collected
    # history exceeds the cap raises with a pointer to ewma_stream
    # instead of silently ballooning one aggregation buffer toward OOM.
    # Module-level so tests (and operators) can tighten it.
    cap = F.lit(int(EWMA_MAX_HISTORY))
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda x: x["value"],
    )
    agged = e.groupBy("user_id").agg(
        arr.alias("vs"), F.count(F.lit(1)).alias("n_events")
    )
    ewma = F.round(
        F.aggregate(
            F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
            F.element_at(F.col("vs"), 1),
            lambda s, x: F.lit(0.3) * x + F.lit(0.7) * s,
        ),
        6,
    )
    guard = F.assert_true(
        F.size("vs") <= cap,
        F.concat_ws(
            "",
            F.lit("ewma_by_user: per-key history for key "),
            F.col("user_id").cast("string"),
            F.lit(" exceeds EWMA_MAX_HISTORY="),
            cap.cast("string"),
            F.lit(
                " rows; the batch collect_list fold is bounded-history "
                "only — use streaming/jobs.py ewma_stream (O(1) state "
                "per key) for unbounded/hot keys"
            ),
        ),
    )
    return agged.where(guard.isNull()).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.element_at("vs", -1).alias("last_value"),
        ewma.alias("ewma"),
    )


@_q(
    "user_value_drawdown",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    r AS (
      SELECT user_id, value,
        MAX(CAST(value AS DECIMAL(12,2))) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS runmax
      FROM e)
    SELECT user_id,
      CAST(MAX(runmax - CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        AS max_drawdown,
      CAST(MAX(runmax) AS DOUBLE) AS peak_value
    FROM r GROUP BY user_id
    """,
    doc="per-key maximum drawdown (largest drop from a running peak) — "
        "the classic sequence-risk metric, and the gaps-and-islands "
        "cousin that needs only a running MAX: one cummax window pass "
        "in exact DECIMAL (order-independent given the (ts, id) sort), "
        "then a per-key aggregate of peak minus current.  The groupBy "
        "reuses the window's hash partitioning on user_id, so the whole "
        "query is ONE shuffle.",
)
def _drawdown(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col("value").cast(D2)
    r = e.select(
        "user_id", "value", F.max(v).over(w).alias("runmax")
    )
    return r.groupBy("user_id").agg(
        F.max(F.col("runmax") - v).cast("double").alias("max_drawdown"),
        F.max("runmax").cast("double").alias("peak_value"),
    )


# ===========================================================================
# Retrieval / language-model scoring / graph analytics (round-3 session 2)
# ===========================================================================

#: BM25 probe terms (present in the fixture vocabulary, all >= 4 chars).
_BM25_PROBE = ("spark", "window", "batch")
_BM25_K1, _BM25_B = 1.2, 0.75

#: Shared oracle CTE chain producing per-(doc, probe-term) BM25
#: contributions — used verbatim by BOTH bm25_search and
#: hybrid_retrieval_rrf so a formula tweak cannot silently diverge the
#: two oracles.
_SQL_BM25_CONTRIB = f"""base AS (
      SELECT doc_id,
        list_filter({tk.space_tokens_sql('lower(text)')}, x -> len(x) >= 4) AS toks
      FROM documents),
    lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM lens),
    hits AS (
      SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM hits
      WHERE term IN ('spark', 'window', 'batch')
      GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT t.doc_id, t.term,
        ln(1 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
               / (CAST(d.df AS DOUBLE) + 0.5))
        * (CAST(t.tf AS DOUBLE) * (1.2 + 1))
        / (CAST(t.tf AS DOUBLE)
           + 1.2 * (1 - 0.75 + 0.75 * CAST(l.dl AS DOUBLE)
                    * (CAST(s.n_docs AS DOUBLE) / CAST(s.sum_dl AS DOUBLE))))
          AS c
      FROM tf t
      JOIN dfreq d ON t.term = d.term
      JOIN lens l ON t.doc_id = l.doc_id
      CROSS JOIN stats s)"""



@_q(
    "bm25_search",
    f"""
    WITH {_SQL_BM25_CONTRIB}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
      round(SUM(CASE WHEN term = 'spark' THEN c ELSE 0.0 END)
          + SUM(CASE WHEN term = 'window' THEN c ELSE 0.0 END)
          + SUM(CASE WHEN term = 'batch' THEN c ELSE 0.0 END), 6) AS score
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
    doc="Okapi BM25 ranking (Robertson et al.; Lucene's +1 idf variant) for "
        "a fixed probe-term set — the lexical-retrieval scorer every "
        "RAG / eval-search pipeline needs beside the ANN path.  Plan: the "
        "probe filter prunes the exploded terms at the scan, tf is one "
        "doc-keyed shuffle, df (3 rows) and the corpus stats (1 row) "
        "broadcast back, top-20 via TakeOrderedAndProject.  Cross-engine "
        "exactness: per-term contributions are conditional sums (each has "
        "at most one nonzero addend, and adding 0.0 is exact), added in a "
        "FIXED order and rounded to 6dp — no float-summation-order drift; "
        "ordering uses the rounded score with a doc_id tiebreak.  Note "
        "dl/avgdl is computed as dl * (n_docs / sum_dl) in both engines "
        "(identical op order).",
)
def _bm25(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    toks = F.filter(
        tk.space_tokens(F.lower(F.col("text"))), lambda x: F.length(x) >= 4
    )
    base = docs.select("doc_id", toks.alias("toks"))
    lens = base.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    tf = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_PROBE))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = F.col("n_docs").cast("double")
    idf = F.log(
        1 + (nd - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tfd = F.col("tf").cast("double")
    norm = 1 - _BM25_B + _BM25_B * F.col("dl").cast("double") * (
        nd / F.col("sum_dl").cast("double")
    )
    c = idf * (tfd * (_BM25_K1 + 1)) / (tfd + _BM25_K1 * norm)
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", c.alias("c"))
    )
    zero = F.lit(0.0)
    term_sum = lambda t: F.sum(  # noqa: E731
        F.when(F.col("term") == t, F.col("c")).otherwise(zero)
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(
                term_sum("spark") + term_sum("window") + term_sum("batch"), 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@_q(
    "bigram_logprob_scores",
    f"""
    WITH toks AS (
      SELECT doc_id, {tk.space_tokens_sql('text')} AS p FROM documents),
    pos AS (
      SELECT doc_id, p, unnest(generate_series(1, len(p) - 1)) AS i
      FROM toks WHERE len(p) >= 2),
    bg AS (
      SELECT doc_id, p[i] || ' ' || p[i+1] AS g, p[i] AS w1 FROM pos),
    c12 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY g),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1),
    scored AS (
      SELECT bg.doc_id,
        CAST(round(ln(CAST(c12.c AS DOUBLE) / CAST(c1.c AS DOUBLE)), 6)
             AS DECIMAL(20,6)) AS lp
      FROM bg JOIN c12 ON bg.g = c12.g JOIN c1 ON bg.w1 = c1.w1)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc="corpus-bigram language-model scoring (the CCNet/KenLM perplexity "
        "filter's shape, with the corpus itself as the LM): every bigram "
        "scores ln P(w2|w1) from the corpus bigram/left-unigram counts, "
        "and a document's quality proxy is its mean bigram log-prob — "
        "boilerplate-heavy docs score high, token soup scores low.  "
        "Float discipline: each log-prob is 6dp-rounded then summed as "
        "DECIMAL(20,6) — the per-doc sum is order-independent at any "
        "partitioning (a raw double sum would drift with addend order); "
        "one final division, rounded.  Plan: two vocabulary-bounded "
        "count shuffles, broadcastable joins back onto the bigram "
        "stream, one doc-keyed agg.",
)
def _bigram_lm(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", tk.space_tokens("text").alias("toks"))
    # docs with fewer than 2 tokens have no bigrams
    grams = F.when(F.size("toks") >= 2, tk.word_ngrams("toks", 2))
    grams = grams.otherwise(F.array().cast("array<string>"))
    bg = base.select("doc_id", F.explode(grams).alias("g")).withColumn(
        "w1", F.substring_index("g", " ", 1)
    )
    c12 = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    lp = F.round(
        F.log(F.col("c12").cast("double") / F.col("c1").cast("double")), 6
    ).cast("decimal(20,6)")
    scored = (
        bg.join(F.broadcast(c12), "g")
        .join(F.broadcast(c1), "w1")
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )


@_q(
    "dedup_graph_triangles",
    f"""
    WITH {_SQL_PREFIX_PAIRS},
    verts AS (
      SELECT id_a AS v FROM pairs UNION SELECT id_b FROM pairs),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT id_a AS v FROM pairs UNION ALL SELECT id_b FROM pairs)
      GROUP BY v),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM pairs e1
      JOIN pairs e2 ON e1.id_b = e2.id_a
      JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM verts) AS n_vertices,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
      (SELECT n_triangles FROM tri) AS n_triangles,
      (SELECT MAX(d) FROM deg) AS max_degree
    """,
    doc="triangle counting on the near-dup pair graph — the graph-health "
        "metric that separates chain-shaped false-positive clusters (no "
        "triangles) from genuine duplicate cliques (triangle-dense).  "
        "r12 (VERDICT r11 item 5): now runs the DEGREE-ORDERED "
        "Schank/Wagner orientation through operators/graph.py "
        "count_triangles — edges re-point low->high under the (degree, "
        "id) total order before the wedge join, which provably bounds "
        "per-vertex wedge fan-out by sqrt(2m) (a skewed hub becomes "
        "all-incoming and emits no wedges), where the previous id-order "
        "wedge was unbounded under hub skew.  The triangle count is "
        "orientation-INVARIANT, so the oracle's simple id-order wedge "
        "join still matches bit-for-bit; the fan-out shrink is pinned "
        "separately by tests/test_llm_ops.py on a skewed star "
        "fixture.  Degree / vertex / edge tallies ride along as 1-row "
        "broadcast aggregates.",
)
def _triangles(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    pairs = dd.jaccard_prefix_pairs(
        docs, "doc_id", "text", n=2, threshold=0.8
    ).select("id_a", "id_b")
    pairs = pairs.persist()
    try:
        verts = (
            pairs.select(F.col("id_a").alias("v"))
            .union(pairs.select("id_b"))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_vertices"))
        )
        edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
        deg = (
            pairs.select(F.col("id_a").alias("v"))
            .unionAll(pairs.select("id_b"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d").alias("max_degree"))
        )
        tri = gr.count_triangles(pairs, "id_a", "id_b")
        out = (
            verts.crossJoin(F.broadcast(edges))
            .crossJoin(F.broadcast(tri))
            .crossJoin(F.broadcast(deg))
            .select("n_vertices", "n_edges", "n_triangles", "max_degree")
        )
        out = _ckpt(out, label="triangles_result")
    finally:
        pairs.unpersist()
    return out


@_q(
    "hybrid_retrieval_rrf",
    f"""
    WITH {_SQL_BM25_CONTRIB},
    lex AS (
      SELECT doc_id,
        round(SUM(CASE WHEN term = 'spark' THEN c ELSE 0.0 END)
            + SUM(CASE WHEN term = 'window' THEN c ELSE 0.0 END)
            + SUM(CASE WHEN term = 'batch' THEN c ELSE 0.0 END), 6) AS score
      FROM contrib GROUP BY doc_id
      ORDER BY score DESC, doc_id ASC LIMIT 20),
    lexr AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC)
        AS rank_lex FROM lex),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    cosed AS (
      SELECT vec_id AS doc_id,
        list_dot_product(embedding::DOUBLE[], q.qe)
          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * sqrt(list_dot_product(q.qe, q.qe))) AS cs
      FROM embeddings, q),
    vec AS (SELECT doc_id, cs FROM cosed ORDER BY cs DESC, doc_id ASC LIMIT 20),
    vecr AS (
      SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id ASC)
        AS rank_vec FROM vec),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        CAST(l.rank_lex AS BIGINT) AS rank_lex,
        CAST(v.rank_vec AS BIGINT) AS rank_vec,
        COALESCE(1.0 / (60 + l.rank_lex), 0.0)
          + COALESCE(1.0 / (60 + v.rank_vec), 0.0) AS rrf
      FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id)
    SELECT doc_id, rank_lex, rank_vec, round(rrf, 6) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
    doc="hybrid retrieval with reciprocal-rank fusion (Cormack et al. "
        "RRF, k=60): the BM25 top-20 candidate list fuses with the "
        "vector top-20 (cosine to the probe embedding) by summing "
        "1/(60+rank) over both lists — rank-based fusion needs no score "
        "normalization between the lexical and vector spaces, which is "
        "why it's the production default for hybrid search.  Cross-"
        "engine exactness: ranks are integers from deterministic "
        "(score, id) orderings, the fusion is two fixed-order additions "
        "of exactly-representable reciprocals, rounded at output.  The "
        "rank windows run over 20-row candidate frames (driver-sized by "
        "construction), NOT the corpus — at scale each side's top-k "
        "comes from its own distributed TakeOrdered/ANN path first.",
)
def _hybrid_rrf(spark, sf_dir):
    from pyspark.sql import Window

    lex = _bm25(spark, sf_dir).limit(20).select("doc_id", "score")
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("rank_lex")
    )
    (emb,) = _load(spark, sf_dir, "embeddings")
    vec = sim.brute_force_topk(emb, "embedding", _query_vec(spark, sf_dir), k=20)
    wv = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    vecr = vec.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).cast("long").alias("rank_vec"),
    )
    fused = lexr.join(vecr, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_vec")), F.lit(0.0))
    return (
        fused.select(
            "doc_id", "rank_lex", "rank_vec", rrf.alias("_rrf")
        )
        .orderBy(F.col("_rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            "doc_id", "rank_lex", "rank_vec",
            F.round(F.col("_rrf"), 6).alias("rrf_score"),
        )
    )


#: Broadcast weight table for the bucketed classifier: 64 integer weights
#: derived from a Knuth multiplicative hash of the bucket index — pure
#: Python at module load, embedded as a literal in BOTH dialects so the
#: table is provably shared.
_BUCKET_WEIGHTS = [((i * 2654435761) % 2001) - 1000 for i in range(64)]
_SQL_WEIGHTS = "[" + ", ".join(str(w) for w in _BUCKET_WEIGHTS) + "]"


@_q(
    "quality_classifier_bucketed",
    f"""
    WITH s AS (
      SELECT doc_id,
        CAST(len({tk.space_tokens_sql('text')}) AS BIGINT) AS n_tokens,
        CAST(list_sum(list_transform({tk.space_tokens_sql('text')},
          t -> list_extract({_SQL_WEIGHTS},
            CAST(('0x' || substring(md5(t), 1, 8))::BIGINT % 64 AS INTEGER)
              + 1))) AS BIGINT) AS w_sum
      FROM documents)
    SELECT doc_id, n_tokens, w_sum,
      round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE)
        / (n_tokens * 1000.0)))), 6) AS score,
      w_sum >= 0 AS keep
    FROM s
    """,
    doc="the PRODUCTION shape of the hashing-trick classifier: tokens hash "
        "into a FIXED-SIZE bucket space (64 here) and the weight comes "
        "from an element_at lookup into a broadcast weight table — "
        "exactly how a trained fastText/logistic model deploys (weights "
        "arrive as a literal/broadcast array, not a function of the "
        "hash).  The table is generated once in Python and embedded in "
        "both dialects, so the oracle provably runs the same model.  "
        "Still one JVM higher-order aggregate per row: map-only, exact "
        "BIGINT sum, bit-deterministic keep boundary.  Companion to "
        "quality_classifier_scores (hash-derived weights, unbounded "
        "bucket space).",
)
def _quality_bucketed(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    arr = F.array(*[F.lit(w) for w in _BUCKET_WEIGHTS])
    toks = tk.space_tokens("text")
    w_sum = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(
            arr,
            (
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint") % 64
            ).cast("int")
            + 1,
        ).cast("bigint"),
    )
    out = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        w_sum.alias("w_sum"),
    )
    logit = F.col("w_sum") / (F.col("n_tokens") * F.lit(1000.0))
    return out.select(
        "doc_id",
        "n_tokens",
        "w_sum",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
        (F.col("w_sum") >= 0).alias("keep"),
    )


# ===========================================================================
# TPC-H analytic shapes, batch 3 (Q5/Q6/Q7/Q10/Q14/Q18/Q19)
# ===========================================================================

#: exact discounted revenue (both dialects)
_REV = 'CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))'


def _rev_col() -> F.Column:
    return F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )


@_q(
    "local_supplier_volume",
    f"""
    SELECT n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 (full local-supplier form): revenue where the supplier "
        "and the customer share a nation — the c_nationkey = s_nationkey "
        "equi-condition rides the supplier join, so the 'local' "
        "constraint costs nothing extra.  Plan: date filter pushed to the "
        "orders scan, supplier/nation/region broadcast, one fact shuffle "
        "chain lineitem->orders->customer, exact DECIMAL revenue.",
)
def _q5local(spark, sf_dir):
    c, o, li, s, n, r = _load(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    asia = r.filter(F.col("r_name") == "ASIA").select("r_regionkey")
    od = F.col("o_orderdate")
    return (
        c.join(
            o.filter(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od < F.lit("1997-01-01").cast("date"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(asia), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@_q(
    "revenue_forecast_band",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      * CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecast revenue change): pure filtered aggregate — "
        "every predicate (date range, discount band, quantity cap) pushes "
        "to the parquet scan, the single combinable DECIMAL sum partial-"
        "aggregates map-side, and exactly one 1-row exchange crosses the "
        "wire.  The canonical 'scan speed is the query' shape.",
)
def _q6band(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate")
    return (
        li.filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(D2)
                * F.col("l_discount").cast("decimal(10,2)")
            )
            .cast("double")
            .alias("revenue_delta")
        )
    )


@_q(
    "bilateral_trade_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
      CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year, {_REV} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (bilateral trade volume): revenue flowing each way "
        "between two nations by ship year.  The nation-pair disjunction "
        "evaluates on two broadcast nation copies AFTER the key joins "
        "(tiny), the fact chain shuffles once per key, year extraction is "
        "a scalar on the shuffled rows.  Decimal volume, BIGINT year.",
)
def _q7trade(spark, sf_dir):
    s, li, o, c, n = _load(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    sd = F.col("l_shipdate")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1998-01-01").cast("date"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@_q(
    "returned_item_customers",
    f"""
    SELECT c_custkey, c_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue,
      c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned-item losers): customers ranked by revenue of "
        "lineitems they returned in one quarter.  Return-flag and date "
        "filters push to both fact scans, nation broadcasts, one grouped "
        "shuffle keyed on the customer, top-20 via TakeOrderedAndProject "
        "with a c_custkey tiebreak (never a global sort).",
)
def _q10returned(spark, sf_dir):
    c, o, li, n = _load(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    od = F.col("o_orderdate")
    return (
        c.join(
            o.filter(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od < F.lit("1996-04-01").cast("date"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_q(
    "promo_revenue_share",
    f"""
    SELECT round(100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN {_REV} ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      / CAST(SUM({_REV}) AS DOUBLE)), 6) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
    """,
    doc="TPC-H Q14 (promotion effect): share of one month's revenue from "
        "promo-type parts.  The part dim broadcasts; both sums are exact "
        "decimals partial-aggregated map-side; the single division is one "
        "IEEE double op rounded to 6dp.  One 1-row exchange total.",
)
def _q14promo(spark, sf_dir):
    li, p = _load(spark, sf_dir, "lineitem", "part")
    sd = F.col("l_shipdate")
    rev = _rev_col()
    zero = F.lit(0).cast(D2)
    agg = (
        li.filter(
            (sd >= F.lit("1996-03-01").cast("date"))
            & (sd < F.lit("1996-04-01").cast("date"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            .alias("_promo"),
            F.sum(rev).cast("double").alias("_total"),
        )
    )
    return agg.select(
        F.round(F.lit(100.0) * (F.col("_promo") / F.col("_total")), 6).alias(
            "promo_share"
        )
    )


@_q(
    "large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
        AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 (large-volume customers): orders whose total quantity "
        "clears a threshold, with their customers.  The HAVING aggregate "
        "is the decorrelated IN-subquery of the official query: one "
        "combinable per-order sum (map-side partials), the surviving "
        "order set is tiny and drives broadcast joins to orders and "
        "customer — never a second fact shuffle.",
)
def _q18volume(spark, sf_dir):
    li, o, c = _load(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(D2)).alias("_tq"))
        .filter(F.col("_tq") > 250)
        .select("l_orderkey", F.col("_tq").cast("double").alias("total_qty"))
    )
    return (
        F.broadcast(big)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


@_q(
    "brand_bracket_revenue",
    f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (disjunctive bracket revenue; adapted to the "
        "fixture's columns — no shipmode/container): three (brand, size, "
        "quantity) brackets OR-ed together.  The optimizer splits the "
        "disjunction: part-only conjuncts (brand/size) prune the "
        "broadcast build side, lineitem-only conjuncts (quantity) push "
        "to the fact scan, and only the cross terms evaluate post-join — "
        "the classic OR-pushdown test.  Exact DECIMAL revenue, one 1-row "
        "exchange.",
)
def _q19bracket(spark, sf_dir):
    li, p = _load(spark, sf_dir, "lineitem", "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    cond = (
        ((br == "Brand#11") & sz.between(1, 5) & q.between(1, 11))
        | ((br == "Brand#12") & sz.between(1, 10) & q.between(10, 20))
        | ((br == "Brand#13") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@_q(
    "streaming_ewma",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    a AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM e GROUP BY user_id)
    SELECT user_id, n_events,
      round(list_reduce(vs, (s, x) -> 0.3 * x + 0.7 * s), 6) AS ewma
    FROM a
    """,
    doc="STREAMING per-key EWMA, hash-verified against the batch fold: "
        "applyInPandasWithState carries exactly (s, last_ts, n) per key "
        "and folds each micro-batch's time-sorted rows into it — the "
        "online-smoother state every monitoring pipeline maintains.  "
        "The Python kernel computes 0.3*x + 0.7*s on IEEE doubles in "
        "the same order as the batch JVM fold and DuckDB's list_reduce, "
        "so the terminal state per key is bit-identical to the batch "
        "answer (update-mode emissions; the final row per key wins via "
        "a combinable struct max on the strictly-increasing count).  "
        "State is O(active keys) x 3 scalars — the minimal stateful "
        "operator footprint.",
)
def _stream_ewma(spark, sf_dir):
    from .streaming.jobs import ewma_stream, read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # identical frame to the sessionizer's staging -> shared dir
    src = _stage_stream_src(spark, sf_dir, "sess", base)
    out = ewma_stream(read_event_stream(spark, src))
    name = _run_stream_to_table(out, "update")
    final = spark.table(name).groupBy("user_id").agg(
        F.max(F.struct("n_events", "ewma")).alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.round(F.col("s.ewma"), 6).alias("ewma"),
    )


# ===========================================================================
# TPC-H analytic shapes, batch 4 (Q2/Q4/Q9/Q11/Q12/Q16 adapted — the
# fixture has no partsupp table, so lineitem serves as the
# part-supplier offer relation where the official query reads partsupp)
# ===========================================================================

@_q(
    "cheapest_part_supplier_region",
    """
    WITH offers AS (
      SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name,
        MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS price
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY 1, 2, 3, 4)
    SELECT o.p_partkey, o.s_name, o.n_name,
      CAST(o.price AS DOUBLE) AS best_price
    FROM (SELECT *, row_number() OVER (PARTITION BY p_partkey
            ORDER BY price, s_suppkey) AS rn FROM offers) o
    JOIN part ON o.p_partkey = part.p_partkey
    WHERE o.rn = 1 AND part.p_size = 25
    """,
    doc="TPC-H Q2 shape (min-cost supplier in region): per size-25 part, "
        "the ASIA supplier offering the lowest price, suppkey tiebreak.  "
        "The correlated MIN decorrelates to one combinable argmin: "
        "min(struct(price, suppkey, ...)) — map-side partials, no per-part "
        "sort, no window.  supplier x nation x region prejoins driver-side "
        "tiny and broadcasts onto the fact scan; the size filter joins "
        "broadcast AFTER the argmin so the aggregate stays one pass.",
)
def _q2cheapest(spark, sf_dir):
    li, s, n, r, p = _load(
        spark, sf_dir, "lineitem", "supplier", "nation", "region", "part"
    )
    dim = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r.filter(F.col("r_name") == "ASIA"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        li.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice").cast(D2)).alias("price"))
    )
    best = offers.groupBy("l_partkey").agg(
        F.min(F.struct("price", "s_suppkey", "s_name", "n_name")).alias("b")
    )
    sized = p.filter(F.col("p_size") == 25).select("p_partkey")
    return (
        best.join(F.broadcast(sized), best.l_partkey == sized.p_partkey)
        .select(
            "p_partkey",
            F.col("b.s_name").alias("s_name"),
            F.col("b.n_name").alias("n_name"),
            F.col("b.price").cast("double").alias("best_price"),
        )
    )


@_q(
    "late_ship_priority_counts",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND date_diff('day', o.o_orderdate, l.l_shipdate) > 60)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order-priority checking): orders from one year "
        "with at least one line item shipped >60 days after ordering, "
        "counted by priority.  The EXISTS plans as a LEFT SEMI join with "
        "the datediff predicate evaluated inside the join — one pass over "
        "each side, no fan-out, order-date filter pushed to the scan.",
)
def _q4late(spark, sf_dir):
    li, o = _load(spark, sf_dir, "lineitem", "orders")
    od = F.col("o_orderdate")
    filtered = o.filter(
        (od >= F.lit("1997-01-01").cast("date"))
        & (od < F.lit("1998-01-01").cast("date"))
    )
    late = filtered.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


@_q(
    "nation_year_profit",
    """
    SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(10,2)))
               - CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(0.1 AS DECIMAL(2,1))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (product-type profit): revenue minus a supply-"
        "cost proxy (10% of retail price x quantity — the fixture has no "
        "partsupp.ps_supplycost), grouped by supplier nation and ship "
        "year.  Both dims broadcast onto one fact scan; the profit "
        "expression stays DECIMAL end-to-end (exact, order-independent "
        "partial aggregation) and is cast to double once after the sum.",
)
def _q9profit(spark, sf_dir):
    li, s, n, p = _load(spark, sf_dir, "lineitem", "supplier", "nation", "part")
    profit = (
        F.col("l_extendedprice").cast(D2)
        * (F.lit(1) - F.col("l_discount").cast("decimal(10,2)"))
        - F.col("p_retailprice").cast(D2)
        * F.col("l_quantity").cast(D2)
        * F.lit(0.1).cast("decimal(2,1)")
    )
    dim = s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey", "n_name")
    econ = p.filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_retailprice"
    )
    return (
        li.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(econ), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


@_q(
    "important_part_values",
    """
    WITH val AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS v
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 3
      GROUP BY 1)
    SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) AS part_value
    FROM val
    WHERE v > (SELECT SUM(v) * CAST(0.005 AS DECIMAL(4,3)) FROM val)
    """,
    doc="TPC-H Q11 shape (important stock value): per-part traded value "
        "from one nation's suppliers, kept when above 0.5% of the "
        "nation's total — the scalar-aggregate-subquery threshold.  The "
        "subquery decorrelates to a 1-row aggregate broadcast-cross-"
        "joined back; the threshold compare runs in exact DECIMAL on "
        "both engines, so boundary parts can't flap on float rounding.",
)
def _q11value(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    nat = s.filter(F.col("s_nationkey") == 3).select("s_suppkey")
    val = (
        li.join(F.broadcast(nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(D2)).alias("v"))
    )
    thr = val.agg(
        (F.sum("v") * F.lit(0.005).cast("decimal(4,3)")).alias("thr")
    )
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("v") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("v").cast("double").alias("part_value"),
        )
    )


@_q(
    "ship_delay_priority_mix",
    """
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 'late'
                WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN 'slow'
                ELSE 'fast' END AS delay_bucket,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1998-01-01' AND l_shipdate < DATE '1999-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q12 shape (shipping-delay priority mix; the fixture has no "
        "l_shipmode, so ship-delay buckets stand in for mode): one year of "
        "line items classified by order-to-ship latency, with urgent vs "
        "other order counts as conditional sums.  The ship-date filter "
        "pushes to the fact scan; the orders join is the one shuffle; the "
        "CASE pivot partial-aggregates map-side to 3 rows.",
)
def _q12delay(spark, sf_dir):
    li, o = _load(spark, sf_dir, "lineitem", "orders")
    sd = F.col("l_shipdate")
    d = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(d > 90, F.lit("late")).when(d > 30, F.lit("slow")).otherwise(F.lit("fast"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (sd >= F.lit("1998-01-01").cast("date"))
            & (sd < F.lit("1999-01-01").cast("date"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_priority"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_priority"),
        )
    )


@_q(
    "part_supplier_variety",
    """
    SELECT p_brand, p_size,
      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 9, 14, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
    doc="TPC-H Q16 shape (supplier variety per part attribute): distinct "
        "suppliers per (brand, size) over the lineitem offer relation "
        "(stands in for partsupp), excluding one brand and the "
        "negative-balance 'complaint' suppliers.  The NOT IN decorrelates "
        "to a broadcast ANTI join (s_suppkey is non-null, so NOT IN and "
        "anti-join semantics coincide); the part dim broadcasts; the "
        "count-distinct is the one shuffle, keyed on (brand, size).",
)
def _q16variety(spark, sf_dir):
    li, p, s = _load(spark, sf_dir, "lineitem", "part", "supplier")
    keep = p.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_size")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(keep), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("long").alias("supplier_cnt"))
    )


# ===========================================================================
# Round-4 pipeline additions: maintenance sinks, eval folds,
# containment dedup, embedding norms
# ===========================================================================

@_q(
    "compact_roundtrip",
    f"""
    SELECT event_type, COUNT(*) AS n_events,
      {SQL_SUM.format(col="value")} AS total_value
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
    doc="small-file compaction round-trip: the events table is written as "
        "48 deliberately tiny files, compact_parquet coalesces them to "
        "~target size through a staging dir + atomic-ish swap, and the "
        "compacted dataset must aggregate identically to the source — "
        "any row loss/duplication in the rewrite breaks the hash.  The "
        "maintenance pass every streaming/incremental sink needs at 100 "
        "TB (file-count pathology).  Sink: sources/writers.py "
        "compact_parquet",
)
def _compactrt(spark, sf_dir):
    import hashlib
    import tempfile

    from .sources.writers import compact_parquet

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("event_type").isNotNull())
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    out = _scratch(f"automated_batch_data_pipeline_nyc_compact_{digest}")
    base.repartition(48).write.mode("overwrite").parquet(out)
    compact_parquet(spark, out, target_file_mb=256)
    back = read_parquet(spark, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_money(F.col("value"), "total_value"),
    )


@_q(
    "manifest_partition_counts",
    """
    SELECT event_type, COUNT(*) AS n_rows
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
    doc="load-manifest verification: events are written partitioned by "
        "event_type, manifest_for_dir builds the per-file row-count "
        "manifest from footer metadata (one metadata-only distributed "
        "pass), and summing the manifest per partition directory must "
        "reproduce the source counts — the partial/corrupt-load detector "
        "a warehouse publishes beside each load.  Exercises the "
        "URI-decode relativization fix end-to-end.  Sink: "
        "sources/writers.py manifest_for_dir",
)
def _manifestpc(spark, sf_dir):
    import hashlib
    import tempfile

    from .sources.writers import manifest_for_dir, write_parquet

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("event_type").isNotNull())
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    out = _scratch(f"automated_batch_data_pipeline_nyc_manifest_{digest}")
    write_parquet(base, out, partition_by=["event_type"], mode="overwrite")
    man = manifest_for_dir(spark, out)
    return (
        man.groupBy(
            F.regexp_extract("file", "^event_type=([^/]+)/", 1).alias("event_type")
        )
        .agg(F.sum("n_rows").alias("n_rows"))
    )


@_q(
    "kfold_assign_counts",
    f"""
    SELECT CAST({_SQL_BUCKET.format(key="doc_id")} % 5 AS INTEGER) AS fold,
      lang, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
    doc="k-fold eval assignment: every document gets a stable fold in "
        "[0,5) from the same engine-portable md5-bucket recipe as the "
        "train/test split, counted per (fold, lang).  Keys keep their "
        "fold across corpus versions (no eval leakage on incremental "
        "loads); assignment is a map-only scan expression.  Operator: "
        "operators/sampling.py kfold_assign",
)
def _kfold(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        sa.kfold_assign(docs, "doc_id", k=5)
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "containment_pairs_blocked",
    f"""
    WITH g AS (
      SELECT doc_id, lang,
        {_SQL_DOC_2GRAMS} AS grams
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(a.grams) AS DOUBLE) AS containment_a_in_b,
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(b.grams) AS DOUBLE) AS containment_b_in_a
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(a.grams) AS DOUBLE) >= 0.3
       OR CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(b.grams) AS DOUBLE) >= 0.3
    """,
    doc="asymmetric n-gram containment pairs (|A∩B|/|A|, both "
        "directions), language-blocked — the near-SUBSET detector "
        "Jaccard misses: a short doc quoted inside a long one has tiny "
        "Jaccard but containment ~1.0 (the excerpt/concatenation crawl "
        "pathology).  SMALL-SF ORACLE CROSS-CHECK FORM (the block join "
        "is block-quadratic: measured 62× wall for 10× data on this "
        "hot-vocab fixture — excluded from bench like the O(n²) Jaccard "
        "form); the production path is containment_pairs_prefix "
        "(lossless asymmetric prefix filtering, and global rather than "
        "language-blocked).  Operator: operators/dedup.py "
        "containment_pairs",
)
def _containment(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.containment_pairs(
        docs, "doc_id", "text", "lang", n=2, threshold=0.3
    )


@_q(
    "containment_pairs_prefix",
    f"""
    WITH g AS (
      SELECT doc_id,
        {_SQL_DOC_2GRAMS} AS grams
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(a.grams) AS DOUBLE) AS containment_a_in_b,
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(b.grams) AS DOUBLE) AS containment_b_in_a
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(a.grams) AS DOUBLE) >= 0.6
       OR CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(b.grams) AS DOUBLE) >= 0.6
    """,
    doc="PRODUCTION containment path: exact near-subset pairs over the "
        "WHOLE corpus via the inverted-index COUNT join (r13): |A∩B| "
        "is the per-pair row count of the gram-occurrence self-equi-"
        "join — narrow (id, size, gram-hash) rows, map-side-combinable "
        "count aggregation, no gram array ever crosses a join, no "
        "candidate/verify asymmetry.  Both directions' exact scores "
        "divide the one count by the per-side set sizes.  Identical "
        "output to the r3-r12 prefix-filter form (which remains in the "
        "library as containment_prefix_pairs for corpora where the "
        "t=0.6 prefix actually prunes — on this fixture it left 7.86M "
        "of 12.5M pairs as candidates and the per-candidate array "
        "verify was ~70% of the wall; measured 5.2 s → 2.2 s).  The "
        "oracle is the O(n²) cross join, checkable at small sf.  "
        "Operator: operators/dedup.py containment_count_pairs",
)
def _containment_prefix(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.containment_count_pairs(docs, "doc_id", "text", n=2, threshold=0.6)


@_q(
    "embedding_norm_buckets",
    """
    SELECT CAST(floor(sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[])) * 100)
           AS BIGINT) AS norm_bucket,
      COUNT(*) AS n
    FROM embeddings GROUP BY 1
    """,
    doc="embedding L2-norm histogram (0.01-wide buckets) — the vector-"
        "hygiene scan run before any ANN build: unnormalized or "
        "degenerate-norm vectors distort cosine/IP search.  Norms fold "
        "sequentially over the array (same index order both engines, so "
        "the doubles match bit-for-bit); map-only + one tiny "
        "bucket-count shuffle.",
)
def _enorm(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm2 = F.aggregate(
        F.zip_with(e, e, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return (
        emb.select(
            F.floor(F.sqrt(norm2) * 100).cast("long").alias("norm_bucket")
        )
        .groupBy("norm_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "events_dow_hour_matrix",
    """
    SELECT isodow(ts) AS dow, hour(ts) AS hr, COUNT(*) AS n_events
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="calendar heatmap counts (ISO day-of-week x hour) — the traffic-"
        "shape report behind every ops dashboard.  Spark's dayofweek is "
        "1=Sunday, so the ISO form is derived arithmetically "
        "((dow+5)%7+1) to match DuckDB's isodow.  Map-only expression + "
        "one 168-row-bounded count shuffle.",
)
def _dowhour(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(iso.alias("dow"), F.hour("ts").cast("long").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@_q(
    "pmi_top_bigrams",
    f"""
    WITH toks AS (
      SELECT unnest({tk.space_tokens_sql('lower(text)')}) AS w FROM documents),
    uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni),
    bi AS (
      SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c_ab FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(len(ws) - 1, 1)),
                 i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS p
        FROM (SELECT {tk.space_tokens_sql('lower(text)')} AS ws FROM documents)
        WHERE len(ws) >= 2)
      GROUP BY 1, 2),
    nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_bi FROM bi)
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
      round(ln((CAST(c_ab AS DOUBLE) / n_bi)
               / ((CAST(ua.c AS DOUBLE) / n_uni)
                  * (CAST(ub.c AS DOUBLE) / n_uni))), 6) AS pmi
    FROM bi JOIN uni ua ON bi.w1 = ua.w
    JOIN uni ub ON bi.w2 = ub.w, nu, nb
    WHERE c_ab >= 50
    ORDER BY pmi DESC, w1, w2 LIMIT 100
    """,
    doc="top PMI collocations: pointwise mutual information over corpus "
        "bigrams (min count 50) — the classic phrase/collocation miner "
        "for tokenizer and quality work.  Unigram and bigram counts "
        "partial-aggregate map-side (vocabulary-bounded shuffles); the "
        "two corpus totals come back as broadcast 1-row aggregates; the "
        "PMI expression is the identical double op tree on both engines "
        "rounded to 6dp (ln may differ in the last ulp across libm "
        "implementations); top-100 is TakeOrdered with (w1, w2) "
        "tiebreak, never a global sort.",
)
def _pmi(spark, sf_dir):
    from .operators.util import spread

    (docs,) = _load(spark, sf_dir, "documents")
    toks = tk.space_tokens(F.lower(F.col("text")))
    ex = spread(docs.select(toks.alias("ws")))
    uni = (
        ex.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = ex.filter(F.size("ws") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("ws") - 1, F.lit(1))),
                lambda i: F.struct(
                    F.element_at("ws", i).alias("w1"),
                    F.element_at("ws", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    )
    bi = (
        pairs.select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 50)
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    n_bi_all = (
        pairs.agg(F.count(F.lit(1)).cast("double").alias("n_bi"))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.col("n_bi"))
            / (
                (F.col("c_a").cast("double") / F.col("n_uni"))
                * (F.col("c_b").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_all))
        .select(
            "w1", "w2", F.col("c_ab").cast("long").alias("c_ab"), pmi.alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(100)
    )


@_q(
    "window_cume_nth",
    """
    SELECT c_custkey, c_mktsegment,
      round(cume_dist() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey), 6) AS acctbal_cume,
      nth_value(c_name, 3) OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal, c_custkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS third_poorest
    FROM customer
    """,
    doc="cume_dist + nth_value per market segment — the remaining "
        "§2.7 window functions: cumulative distribution of account "
        "balance and the segment's third-poorest customer pinned on "
        "every row.  (acctbal, custkey) makes the order total, so both "
        "functions are tie-deterministic; one segment-keyed shuffle, "
        "per-segment sort bounded by segment size.",
)
def _cumenth(spark, sf_dir):
    from pyspark.sql import Window

    (cust,) = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.cume_dist().over(w), 6).alias("acctbal_cume"),
        F.nth_value("c_name", 3).over(wf).alias("third_poorest"),
    )


@_q(
    "multimodal_format_sniff",
    """
    SELECT doc_id,
      CASE doc_id % 7 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
        WHEN 3 THEN 'bmp' WHEN 4 THEN 'wav' WHEN 5 THEN 'mp4'
        ELSE NULL END AS format
    FROM documents
    """,
    doc="mixed-media triage: a payload column cycling through all six "
        "sniffable containers (+ plain text) is classified by trying "
        "the real parsers in sequence — the routing scan a media lake "
        "runs before type-specific decode fan-out.  The oracle derives "
        "the expected format arithmetically from the synthesis rule; "
        "plain text must come back NULL, so a parser that false-"
        "positives on arbitrary bytes breaks the hash.  Operator: "
        "operators/multimodal.py sniff_media_format",
)
def _msniff(spark, sf_dir):
    from .operators import multimodal as mm

    (docs,) = _load(spark, sf_dir, "documents")
    payload = mm.synthesize_mixed_payloads(docs.select("doc_id"), "doc_id")
    return mm.sniff_media_format(payload, "payload", "id").withColumnRenamed(
        "id", "doc_id"
    )


@_q(
    "dedup_family_size_hist",
    """
    SELECT family_size, CAST(COUNT(*) AS BIGINT) AS n_families
    FROM (SELECT md5(text) AS fp, COUNT(*) AS family_size
          FROM documents GROUP BY 1)
    GROUP BY 1
    """,
    doc="exact-duplicate family-size histogram — the corpus-health "
        "metric behind the MinHash collapse_exact design: how many "
        "byte-identical families exist at each size.  Two count "
        "shuffles, the first keyed on the md5 fingerprint (map-side "
        "combinable), the second bounded by max family size.",
)
def _famhist(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    fams = docs.groupBy(F.md5(F.col("text").cast("string")).alias("fp")).agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return fams.groupBy("family_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_families")
    )


@_q(
    "order_lead_time_monthly",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      CAST(month(o_orderdate) AS BIGINT) AS m,
      COUNT(*) AS n_lines,
      CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
        AS total_lead_days,
      CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
        AS max_lead_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
    doc="monthly order-to-ship lead time (integer day sums/max, exact — "
        "no float averaging): the fulfillment-latency report.  One "
        "fact-fact shuffle on the order key, then a month-bounded "
        "aggregate; all metrics are map-side-combinable integers.",
)
def _leadtime(spark, sf_dir):
    li, o = _load(spark, sf_dir, "lineitem", "orders")
    lead = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(lead).cast("long").alias("total_lead_days"),
            F.max(lead).cast("long").alias("max_lead_days"),
        )
    )


@_q(
    "supplier_pareto_share",
    """
    WITH rev AS (
      SELECT s_suppkey, s_name,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2),
    tot AS (SELECT SUM(r) AS t FROM rev)
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS revenue,
      round(CAST(SUM(r) OVER (ORDER BY r DESC, s_suppkey
                              ROWS UNBOUNDED PRECEDING) AS DOUBLE)
            / CAST(t AS DOUBLE), 6) AS cum_share
    FROM rev, tot
    """,
    doc="supplier Pareto (cumulative revenue share, descending): the "
        "80/20 concentration report.  Per-supplier revenue partial-"
        "aggregates over the fact scan; the running sum is an "
        "unpartitioned window over the SUPPLIER DIM ONLY (dim-sized "
        "single sort, never the fact table) in exact DECIMAL, divided "
        "once by the broadcast total.",
)
def _pareto(spark, sf_dir):
    from pyspark.sql import Window

    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.join(F.broadcast(s.select("s_suppkey", "s_name")),
                F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum(F.col("l_extendedprice").cast(D2)).alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("t"))
    w = (
        Window.orderBy(F.col("r").desc(), "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "s_suppkey",
            "s_name",
            F.col("r").cast("double").alias("revenue"),
            F.round(
                F.sum("r").over(w).cast("double") / F.col("t").cast("double"), 6
            ).alias("cum_share"),
        )
    )


@_q(
    "countmin_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({tk.space_tokens_sql('lower(text)')}) AS w FROM documents),
    cnt AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    cells AS (
      SELECT i AS r,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || w), 1, 8))::BIGINT
          % 1024 AS b
      FROM toks, (SELECT unnest([0, 1, 2, 3]) AS i) h),
    sk AS (SELECT r, b, COUNT(*) AS cnt FROM cells GROUP BY r, b),
    probes AS (SELECT w, c FROM cnt WHERE c >= 100)
    SELECT p.w AS token, CAST(p.c AS BIGINT) AS true_cnt,
      CAST(least(e0.cnt, e1.cnt, e2.cnt, e3.cnt) AS BIGINT) AS cm_estimate,
      CAST(least(e0.cnt, e1.cnt, e2.cnt, e3.cnt) - p.c AS BIGINT) AS overcount
    FROM probes p
    JOIN sk e0 ON e0.r = 0 AND e0.b =
      ('0x' || substring(md5('0:' || p.w), 1, 8))::BIGINT % 1024
    JOIN sk e1 ON e1.r = 1 AND e1.b =
      ('0x' || substring(md5('1:' || p.w), 1, 8))::BIGINT % 1024
    JOIN sk e2 ON e2.r = 2 AND e2.b =
      ('0x' || substring(md5('2:' || p.w), 1, 8))::BIGINT % 1024
    JOIN sk e3 ON e3.r = 3 AND e3.b =
      ('0x' || substring(md5('3:' || p.w), 1, 8))::BIGINT % 1024
    """,
    doc="Count-Min sketch heavy hitters: a 4x1024-cell CM sketch over "
        "corpus token occurrences, then every token with true count "
        ">= 100 is estimated from the sketch (min over its 4 buckets) "
        "beside its exact count and overcount.  The mergeable counting "
        "primitive: cells are linear, so per-shard sketches SUM to the "
        "corpus sketch — heavy-hitter dashboards at 100 TB read 4096 "
        "cells, never the corpus.  The md5 hash family is the engine-"
        "portable hash_bucket recipe, so DuckDB rebuilds the IDENTICAL "
        "sketch and the estimates — overcounts included — match "
        "bit-for-bit.  Operators: operators/stats.py countmin_sketch / "
        "countmin_estimate",
)
def _cmheavy(spark, sf_dir):
    from .operators.stats import countmin_estimate, countmin_sketch
    from .operators.util import spread

    (docs,) = _load(spark, sf_dir, "documents")
    toks = spread(docs.select(F.explode(tk.space_tokens(F.lower("text"))).alias("w")))
    # r13: hash the VOCABULARY, not the occurrences — one tokenize pass
    # into the (token, count) table (map-side combinable, staged through
    # a lazy localCheckpoint for its two consumers), then the sketch's
    # 4 md5 bucket hashes run per DISTINCT token with the count as the
    # cell weight (cells are linear, so the weighted sketch equals the
    # occurrence sketch exactly).  Before: two tokenize passes and
    # 4 x occurrences md5 evaluations.
    cnt = _ckpt(
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c")),
        eager=False,
        label="cm_heavy_counts",
    )
    sk = countmin_sketch(cnt, "w", depth=4, width=1024, weight_col="c")
    probes = cnt.filter(F.col("c") >= 100)
    est = countmin_estimate(sk, probes, "w", depth=4, width=1024)
    return est.select(
        F.col("w").alias("token"),
        F.col("c").cast("long").alias("true_cnt"),
        "cm_estimate",
        (F.col("cm_estimate") - F.col("c")).cast("long").alias("overcount"),
    )


@_q(
    "skew_salted_join",
    f"""
    SELECT s_name, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
    doc="skew-safe salted equi join: the big side's key is salted over 8 "
        "buckets and the small side replicated per salt, so one hot key "
        "spreads across 8 tasks instead of stalling a single reducer — "
        "then per-supplier revenue proves the salt is SEMANTICALLY "
        "INVISIBLE (the oracle is the plain join; any row loss or "
        "duplication from the salt plumbing breaks the hash).  The "
        "join-side companion to skew_salted_agg; at Spark 3.2+ AQE's "
        "skew-join split covers sort-merge cases automatically, manual "
        "salting remains the lever for broadcast-ineligible hot keys.  "
        "Operator: operators/skew.py salted_join",
)
def _saltjoin(spark, sf_dir):
    from .operators import skew as sk

    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    dim = s.select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    j = sk.salted_join(
        li.select("l_suppkey", "l_extendedprice"), dim, on="l_suppkey"
    )
    return j.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "streaming_countmin",
    """
    WITH cells AS (
      SELECT i AS row,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                               || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
          % 256 AS bucket
      FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) h
      WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM cells GROUP BY 1, 2
    """,
    doc="STREAMING Count-Min sketch, hash-verified against the batch "
        "oracle: the same countmin_sketch operator runs unchanged on a "
        "file-source stream (stateless cell explode + complete-mode "
        "count), and because sketch cells are LINEAR the incrementally "
        "maintained sketch is bit-identical to the batch one — the "
        "property that lets a streaming job keep live heavy-hitter "
        "counts whose merged state equals a from-scratch rebuild.  "
        "4x256 cells of per-user occurrence counts; DuckDB rebuilds the "
        "identical sketch via the portable md5 hash family.  Operators: "
        "operators/stats.py countmin_sketch over streaming/jobs.py "
        "read_event_stream",
)
def _scountmin(spark, sf_dir):
    from .operators.stats import countmin_sketch
    from .streaming.jobs import read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # identical frame to the sessionizer's staging -> shared dir
    src = _stage_stream_src(spark, sf_dir, "sess", base)
    sk = countmin_sketch(read_event_stream(spark, src), "user_id", depth=4, width=256)
    name = _run_stream_to_table(sk, "complete")
    return spark.table(name).select(
        "row", "bucket", F.col("cnt").cast("long").alias("cnt")
    )


def _simhash_portable_oracle(bits: int = 32) -> str:
    """Conditional bit-vote sums over the portable md5-32 token hash
    — reproduces operators/dedup.py _simhash_from_hashes exactly
    (vote sum > 0 <=> 2*ones > n; ties -> 0).  The vote terms come
    from _simhash_vote_terms, the SAME helper the dedup_simhash bound
    audit's oracle uses — one source for the vote convention."""
    terms = _simhash_vote_terms(bits)
    return f"""
    WITH t AS (
      SELECT doc_id,
        unnest(list_distinct({tk.whitespace_tokens_sql('lower(text)')})) AS w
      FROM documents),
    h AS (SELECT doc_id,
            ('0x' || substring(md5(w), 1, 8))::BIGINT AS hv FROM t)
    SELECT doc_id, CAST({terms} AS BIGINT) AS simhash32
    FROM h GROUP BY doc_id
    """


@_q(
    "dedup_simhash_portable",
    _simhash_portable_oracle(),
    doc="SimHash ALGORITHM verification: the identical bit-vote "
        "signature (distinct tokens vote +-1 per bit, tie -> 0) computed "
        "over the engine-portable md5-32 hash family on both engines — "
        "every one of 500 32-bit signatures must match bit-for-bit, so "
        "the signature math itself is hash-verified, not just executed.  "
        "Production SimHash keeps xxhash64 (bound-audited as dedup_simhash since r13); same staged-array plan, map-only.  Operator: "
        "operators/dedup.py with_simhash(portable=True)",
)
def _simhash_portable(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return dd.with_simhash(
        docs, "text", out_col="simhash32", bits=32, portable=True
    ).select("doc_id", "simhash32")


def _minhash_portable_oracle(num_hashes: int = 16) -> str:
    """The same (a, b) mod p permutation family as the production
    signature (operators/dedup.py _mh_coeffs seed 7), evaluated over
    the portable md5-32 token hash — one MIN per permutation."""
    from .operators.dedup import _MH_PRIME, _mh_coeffs

    coeffs = ", ".join(
        f"struct_pack(j := {j}, a := {a}::BIGINT, b := {b}::BIGINT)"
        for j, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
        unnest(list_distinct({tk.whitespace_tokens_sql('lower(text)')})) AS w
      FROM documents),
    h AS (SELECT doc_id,
            ('0x' || substring(md5(w), 1, 8))::BIGINT AS hv FROM t),
    c AS (SELECT unnest([{coeffs}]) AS p)
    SELECT h.doc_id, CAST(c.p.j AS INTEGER) AS perm,
      MIN((c.p.a * h.hv + c.p.b) % {_MH_PRIME}) AS sig
    FROM h, c GROUP BY 1, 2
    """


@_q(
    "dedup_minhash_portable",
    _minhash_portable_oracle(),
    doc="MinHash ALGORITHM verification: the production permutation "
        "family ((a_j h + b_j) mod p, seed-7 coefficients, p = first "
        "prime > 2^32) evaluated over the portable md5-32 token hash on "
        "both engines — all 16 signature components of all 500 docs "
        "must match exactly, so the universal-hash minima themselves "
        "are verified cross-engine.  Production MinHash keeps xxhash64 "
        "shingles (bound-audited as dedup_minhash since r13).  Operator: "
        "operators/dedup.py with_minhash_portable",
)
def _minhash_portable(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    sig = dd.with_minhash_portable(docs, "text", out_col="__sig", num_hashes=16)
    return sig.select(
        "doc_id", F.posexplode("__sig").alias("perm", "sig")
    )


@_q(
    "kmeans_step_verified",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    seeds AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
              FROM embeddings WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, seeds.cid,
        list_dot_product(e.x, e.x)
          - 2 * list_dot_product(e.x, seeds.c)
          + list_dot_product(seeds.c, seeds.c) AS dist
      FROM e, seeds),
    a AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d)
      WHERE rn = 1),
    m AS (
      SELECT a.cid AS cluster,
        generate_subscripts(em.embedding, 1) - 1 AS pos,
        unnest(em.embedding) AS v
      FROM a JOIN embeddings em ON a.vec_id = em.vec_id)
    SELECT CAST(cluster AS BIGINT) AS cluster, CAST(pos AS BIGINT) AS pos,
      CAST(round(avg(CAST(v AS DOUBLE)), 6) AS DOUBLE) AS mean_v,
      COUNT(*) AS n_members
    FROM m GROUP BY 1, 2
    """,
    doc="Lloyd (KMeans) ITERATION verification: from 8 deterministic "
        "seed centroids (vec_id < 8), assign every vector to its "
        "nearest seed (squared distance expanded as |x|^2 - 2 x.c + "
        "|c|^2, identical fold order both engines, cid tiebreak) and "
        "recompute per-cluster means — the full assignment + update "
        "step hash-matched against DuckDB.  This verifies the exact "
        "KMeans math the rows-only IVF/centroid paths iterate "
        "(those stay rows-only only because numpy's multi-iteration "
        "trajectory is engine-specific).  Plan: seeds broadcast, "
        "|x|^2 staged once, argmin as combinable min(struct), mean "
        "shuffle bounded by clusters x dim.",
)
def _kmeans_step(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q), F.lit(0.0), lambda s, v: s + v
        )

    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    ).withColumn("__xx", dot(F.col("x"), F.col("x")))
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("embedding", lambda v: v.cast("double")).alias("c"),
        )
        .withColumn("__cc", dot(F.col("c"), F.col("c")))
    )
    dist = (
        F.col("__xx") - F.lit(2) * dot(F.col("x"), F.col("c")) + F.col("__cc")
    )
    assign = (
        e.crossJoin(F.broadcast(seeds))
        .groupBy("vec_id")
        .agg(F.min(F.struct(dist.alias("d"), F.col("cid"))).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cluster"))
    )
    return (
        assign.join(emb, "vec_id")
        .select("cluster", F.posexplode("embedding").alias("pos", "v"))
        .groupBy(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("pos").cast("long").alias("pos"),
        )
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_v"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


@_q(
    "asof_next_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
    ),
    purch AS (
      SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_event_id
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts,
      p.purchase_ts AS asof_purchase_ts,
      p.purchase_event_id AS asof_purchase_event_id
    FROM clicks c
    ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND p.purchase_ts >= c.ts
    """,
    doc="§2.6 FORWARD as-of join (earliest same-user purchase at-or-"
        "after each click — next-event attribution / time-to-convert): "
        "the mirrored union trick, first(ignorenulls) over an unbounded-"
        "FOLLOWING frame with the side tag flipped so boundary ties land "
        "inside the frame; still ONE key shuffle, linear per row.  "
        "Oracle is DuckDB's native forward ASOF JOIN.  Operator: "
        "operators/joins.py asof_join(direction='forward')",
)
def _asof_fwd(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    return J.asof_join(
        clicks,
        purch,
        by=["user_id"],
        left_ts="ts",
        right_ts="purchase_ts",
        value_cols=["purchase_ts", "purchase_event_id"],
        direction="forward",
    )


@_q(
    "asof_nearest_event",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
    ),
    purch AS (
      SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_event_id
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, ts
    ),
    b AS (
      SELECT c.event_id, c.user_id, c.ts,
        p.purchase_ts AS b_ts, p.purchase_event_id AS b_id
      FROM clicks c
      ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND p.purchase_ts <= c.ts
    ),
    f AS (
      SELECT c.event_id, p.purchase_ts AS f_ts, p.purchase_event_id AS f_id
      FROM clicks c
      ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND p.purchase_ts > c.ts
    ),
    j AS (
      SELECT b.event_id, b.user_id, b.ts, b.b_ts, b.b_id, f.f_ts, f.f_id,
        (b.b_ts IS NOT NULL AND (f.f_ts IS NULL OR
          epoch_us(b.ts) - epoch_us(b.b_ts)
            <= epoch_us(f.f_ts) - epoch_us(b.ts))) AS use_b
      FROM b JOIN f USING (event_id)
    )
    SELECT event_id, user_id, ts,
      CASE WHEN use_b THEN b_ts ELSE f_ts END AS asof_purchase_ts,
      CASE WHEN use_b THEN b_id ELSE f_id END AS asof_purchase_event_id,
      CASE WHEN use_b THEN 'b' WHEN f_ts IS NOT NULL THEN 'f' END
        AS asof_matched_side
    FROM j
    """,
    doc="§2.6 NEAREST as-of join (closest same-user purchase in either "
        "time direction from each click — sensor alignment / "
        "quote-to-trade matching): both the backward and the forward "
        "carry run over ONE (ts, side) sort — a single Exchange+Sort "
        "feeding one Window node — and the per-row winner is the "
        "smaller epoch-micros distance, ties backward.  Oracle is a "
        "pair of native DuckDB ASOF joins (<= and >) merged by the "
        "same distance rule.  Operator: operators/joins.py "
        "asof_join(direction='nearest')",
)
def _asof_nearest(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    return J.asof_join(
        clicks,
        purch,
        by=["user_id"],
        left_ts="ts",
        right_ts="purchase_ts",
        value_cols=["purchase_ts", "purchase_event_id"],
        direction="nearest",
    )


@_q(
    "gopher_quality_rules",
    f"""
    WITH s AS (
      SELECT doc_id, text, {tk.space_tokens_sql('text')} AS w
      FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
          / len(w), 6) AS mean_word_len,
        round(CAST((len(text) - len(replace(text, '#', '')))
          + (len(text) - len(replace(text, '...', ''))) / 3 AS DOUBLE)
          / len(w), 6) AS symbol_ratio,
        round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
          AS DOUBLE) / len(w), 6) AS frac_alpha_words,
        CAST(len(list_filter(
          ['the','be','to','of','and','that','have','with'],
          st -> list_contains(w, st))) AS BIGINT) AS n_required_stops
      FROM s),
    r AS (
      SELECT *,
        (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
        (symbol_ratio <= 0.1) AS r_symbol_ratio,
        (frac_alpha_words >= 0.8) AS r_alpha_words,
        (n_required_stops >= 2) AS r_stopwords
      FROM m)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, frac_alpha_words,
      n_required_stops, r_word_count, r_mean_word_len, r_symbol_ratio,
      r_alpha_words, r_stopwords,
      (r_word_count AND r_mean_word_len AND r_symbol_ratio
        AND r_alpha_words AND r_stopwords) AS gopher_keep
    FROM r
    """,
    doc="Gopher quality-rule battery (Rae et al. 2021 Appendix A1.1, the "
        "document-level subset): word-count bounds, mean word length, "
        "symbol-to-word ratio, alpha-word fraction, required-stopword "
        "presence, and the conjunction keep flag — the standard "
        "heuristic pre-filter ahead of model-based scoring "
        "(quality_classifier_scores) in an LLM data pipeline.  Pure "
        "map-only JVM expressions, token array staged once; exact "
        "integer counts until the final double division.  Operator: "
        "operators/text.py gopher_rules",
)
def _gopher(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = tx.gopher_rules(docs.filter(F.col("text").isNotNull()), "text")
    return out.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "frac_alpha_words", "n_required_stops", "r_word_count",
        "r_mean_word_len", "r_symbol_ratio", "r_alpha_words",
        "r_stopwords", "gopher_keep",
    )


@_q(
    "user_activity_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    g AS (
      SELECT user_id, day,
        date_diff('day', DATE '1970-01-01', day)
          - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM d),
    s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp)
    SELECT user_id,
      CAST(max(len) AS BIGINT) AS longest_streak,
      CAST(count(*) AS BIGINT) AS n_streaks,
      CAST(sum(len) AS BIGINT) AS n_active_days
    FROM s GROUP BY user_id
    """,
    doc="§2.7 consecutive-day activity streaks per user (engagement / "
        "retention feature): the classic gaps-and-islands shape — "
        "distinct active days, then (epoch_day - row_number) labels each "
        "run of consecutive days with a constant, one groupBy per run "
        "then per user.  Two user-keyed shuffles total (distinct + "
        "window share one), no self-join, no explode over date ranges — "
        "the date-dimension cross-join alternative is corpus x days and "
        "dies at scale.",
)
def _streaks(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    days = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Wn.partitionBy("user_id").orderBy(F.asc("day"))
    grouped = days.withColumn(
        "__grp", F.unix_date(F.col("day")) - F.row_number().over(w)
    )
    streaks = grouped.groupBy("user_id", "__grp").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("__len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("__len").cast("long").alias("n_active_days"),
    )


@_q(
    "url_ingest_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS revenue
    FROM orders WHERE o_orderkey % 4 = 0 GROUP BY o_orderstatus
    """,
    doc="S1/S15 HASH-VERIFIED: the distributed URL-manifest ingest moves "
        "real bytes end to end — a deterministic orders subset is "
        "exported to CSV, a (url, dest) manifest of file:// URLs fans "
        "out over executors (fetch_url_manifest, the same urllib kernel "
        "that serves http/https), every fetch must report ok=true, and "
        "the FETCHED copies are re-read and aggregated against the "
        "oracle over the ORIGINAL table — so a corrupted, truncated, or "
        "dropped transfer breaks the hash.  file:// stands in for http "
        "only at the scheme level; the transfer path (open-stream, "
        "chunked copy, size accounting, per-row error capture) is "
        "exactly the production one.  Sources: readers.py "
        "fetch_url_manifest + read_csv_glob, writers.py write_csv",
)
def _urlrt(spark, sf_dir):
    import glob as _glob
    import tempfile

    from pyspark.sql import types as T

    from .sources.readers import fetch_url_manifest, read_csv_glob
    from .sources.writers import write_csv

    (orders,) = _load(spark, sf_dir, "orders")
    tag = os.path.basename(os.path.normpath(sf_dir))
    src = _scratch(f"automated_batch_data_pipeline_nyc_urlsrc_{tag}")
    dst = _scratch(f"automated_batch_data_pipeline_nyc_urldst_{tag}")
    # part-file basenames are unique per write (uuid suffix), so a
    # previous run's fetched copies would survive in dst and double the
    # glob read — clear the destination like a real ingest staging dir
    import shutil

    shutil.rmtree(dst, ignore_errors=True)
    write_csv(
        orders.filter(F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        src,
    )
    parts = sorted(_glob.glob(os.path.join(src, "*.csv")))
    manifest = spark.createDataFrame(
        [(f"file://{pp}", os.path.join(dst, os.path.basename(pp))) for pp in parts],
        ["url", "dest"],
    )
    fetched = fetch_url_manifest(manifest).collect()
    bad = [r for r in fetched if not r.ok]
    if bad or len(fetched) != len(parts):
        raise RuntimeError(f"url ingest failed: {bad!r}")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = read_csv_glob(spark, os.path.join(dst, "*.csv"), schema=schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "revenue"),
    )


@_q(
    "sql_extract_roundtrip",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem WHERE l_quantity > 25 GROUP BY l_returnflag
    """,
    doc="S5 HASH-VERIFIED (catalog path): the SQL-extract source reads a "
        "registered table through read_sql_table with a pushed-down "
        "predicate string — the same API whose jdbc_url branch talks to "
        "an external database (that branch executes for real against "
        "Spark's bundled embedded Derby in tests/test_jdbc_derby.py: "
        "write.jdbc overwrite+append, bound-partitioned reads, predicate "
        "pushdown to the remote engine — VERDICT r9 item 5) — and the "
        "extract aggregates against the oracle over the raw table.  "
        "Source: readers.py read_sql_table",
)
def _sqlrt(spark, sf_dir):
    from .sources.readers import read_sql_table

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    view = "sql_extract_lineitem_src"
    lineitem.createOrReplaceTempView(view)
    ext = read_sql_table(spark, view, predicate="l_quantity > 25")
    return ext.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "window_range_frame_sum",
    """
    SELECT event_id, user_id, value,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS range_sum,
      CAST(COUNT(*) OVER w AS BIGINT) AS range_n
    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY value
                 RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
    """,
    doc="§2.7 value-RANGE window frame (the non-time RANGE BETWEEN x "
        "PRECEDING case — rows-frames and time-range frames are covered "
        "elsewhere): per user, the sum/count of that user's values "
        "within 10.0 below each row's value.  RANGE frames are "
        "peer-inclusive, so equal values see identical frames and the "
        "result is deterministic without a tiebreak; the sum runs in "
        "DECIMAL so partial order can't change the double.  One "
        "group-keyed shuffle + per-group sort — keyed on user_id "
        "(corpus-cardinality key, bounded groups) deliberately: the "
        "same frame over a HANDFUL of groups sorts each whole group in "
        "one task, the single-task-per-group window pathology "
        "(measured 6.8 s vs 0.9 s at sf0.1 for event_type vs user_id "
        "keying — see window_percentile_ranks for the documented "
        "low-cardinality escape hatch).",
)
def _rangeframe(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    w = Wn.partitionBy("user_id").orderBy(F.asc("value")).rangeBetween(-10, 0)
    return (
        events.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "value",
            F.sum(F.col("value").cast(D2)).over(w).cast("double").alias("range_sum"),
            F.count(F.lit(1)).over(w).cast("long").alias("range_n"),
        )
    )


@_q(
    "set_ops_multiset",
    """
    WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 10),
    b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
    ex AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_except
      FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
      GROUP BY l_suppkey),
    ix AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_intersect
      FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b)
      GROUP BY l_suppkey)
    SELECT COALESCE(ex.l_suppkey, ix.l_suppkey) AS l_suppkey,
      COALESCE(ex.n_except, CAST(0 AS BIGINT)) AS n_except,
      COALESCE(ix.n_intersect, CAST(0 AS BIGINT)) AS n_intersect
    FROM ex FULL JOIN ix ON ex.l_suppkey = ix.l_suppkey
    """,
    doc="§2.7 multiset set ops (EXCEPT ALL / INTERSECT ALL — the "
        "multiplicity-preserving variants; plain distinct forms are "
        "covered by set_union/intersect/except): per-supplier surplus "
        "and overlap counts between two overlapping lineitem slices.  "
        "Implemented as count ALGEBRA — one scan, conditional counts "
        "per key, then n_except = max(n_a - n_b, 0) and n_intersect = "
        "min(n_a, n_b) — because Spark's built-in exceptAll/"
        "intersectAll plan `Generate replicaterows`: they aggregate to "
        "per-key counts and then MATERIALIZE the multiplicities as "
        "rows, so a hot key with a 1M surplus replicates 1M rows just "
        "to be re-counted.  The algebraic form is the identical "
        "multiset semantics (oracle IS DuckDB's EXCEPT ALL / INTERSECT "
        "ALL) in one keyed shuffle with no join and no row "
        "replication; plan-contract-tested.",
)
def _setall(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    counts = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.count_if(F.col("l_quantity") > 10).alias("n_a"),
            F.count_if(F.col("l_returnflag") == "R").alias("n_b"),
        )
        # keys absent from slice A appear in neither multiset result
        .filter(F.col("n_a") > 0)
    )
    return counts.select(
        "l_suppkey",
        F.greatest(F.col("n_a") - F.col("n_b"), F.lit(0)).cast("long").alias("n_except"),
        F.least(F.col("n_a"), F.col("n_b")).cast("long").alias("n_intersect"),
    )


@_q(
    "schema_contract_enforced",
    """
    WITH drifted AS (
      SELECT o_orderkey AS order_key,
        CAST(o_totalprice AS VARCHAR) AS o_totalprice,
        o_orderstatus, 'v2' AS producer_tag
      FROM orders),
    aligned AS (
      SELECT order_key,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        o_orderstatus,
        CAST(NULL AS DATE) AS o_orderdate
      FROM drifted)
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      CAST(COUNT(o_orderdate) AS BIGINT) AS n_dated
    FROM aligned GROUP BY o_orderstatus
    """,
    doc="P-ext schema contract HASH-VERIFIED: a producer-drifted feed "
        "(renamed key, price re-typed to string, extra producer_tag "
        "column, o_orderdate dropped) is aligned back to a contract "
        "schema by cleaning.enforce_schema — extras dropped, the string "
        "price cast back to double, the missing date NULL-filled — and "
        "the aggregate over the aligned frame must match the oracle "
        "replaying the same drift+alignment in SQL: a silently "
        "mis-cast or mis-filled column breaks the hash.  Map-only.  "
        "Operator: operators/cleaning.py enforce_schema",
)
def _schemacontract(spark, sf_dir):
    from pyspark.sql import types as T

    from .operators.cleaning import enforce_schema

    (orders,) = _load(spark, sf_dir, "orders")
    drifted = orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        "o_orderstatus",
        F.lit("v2").alias("producer_tag"),
    )
    contract = T.StructType(
        [
            T.StructField("order_key", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    aligned = enforce_schema(drifted, contract, fail_on_missing=False)
    return aligned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "revenue"),
        F.count("o_orderdate").cast("long").alias("n_dated"),
    )


@_q(
    "bloom_prefilter_join",
    f"""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col='o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    """,
    doc="Bloom semi-join reduction HASH-VERIFIED lossless: the fact side "
        "(orders) is pruned by an 8192-bit Bloom filter of the BUILDING "
        "customer keys BEFORE the exact join — the runtime-filter pattern "
        "that keeps a 100 TB fact table from shuffling rows that cannot "
        "match (Spark's InjectRuntimeFilter / Iceberg bloom skipping as an "
        "explicit operator).  The oracle is the PLAIN join: a single false "
        "negative (a pruned matching row) breaks the hash, so the "
        "no-false-negative guarantee is verified end to end; false "
        "positives are harmless here because the exact join removes them.  "
        "Plan: dim collapses to a bit_or shuffle bounded by m/64 words, "
        "the 1-row bitmap broadcasts onto the fact scan, the membership "
        "test is JVM bit arithmetic in whole-stage codegen.  "
        "Operator: operators/joins.py bloom_prefilter",
)
def _bloomjoin(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    pre = J.bloom_prefilter(
        orders, "o_custkey", dim, "c_custkey", m_bits=8192, n_hashes=3
    )
    keys = dim.select(F.col("c_custkey").alias("o_custkey"))
    return (
        J.semi_join(pre, keys, "o_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "revenue"),
        )
    )


@_q(
    "bloom_fpp_audit",
    """
    WITH dim AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
    pos AS (
      SELECT DISTINCT
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
           || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 4096 AS p
      FROM dim, (SELECT unnest([0, 1, 2]) AS i) h),
    f AS (
      SELECT o_custkey,
        EXISTS (SELECT 1 FROM pos WHERE p =
          ('0x' || substring(md5('0:' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 4096)
        AND EXISTS (SELECT 1 FROM pos WHERE p =
          ('0x' || substring(md5('1:' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 4096)
        AND EXISTS (SELECT 1 FROM pos WHERE p =
          ('0x' || substring(md5('2:' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 4096)
          AS bloom_pass,
        EXISTS (SELECT 1 FROM dim WHERE k = o_custkey) AS true_match
      FROM orders)
    SELECT bloom_pass, true_match, CAST(COUNT(*) AS BIGINT) AS n
    FROM f GROUP BY bloom_pass, true_match
    """,
    doc="Bloom filter BIT-EXACT cross-engine audit (the countmin-style "
        "verification, for membership): DuckDB rebuilds the identical "
        "4096-bit filter from the engine-portable md5 hash family and "
        "classifies every orders row as (bloom_pass, true_match) — so the "
        "exact false-positive COUNT of the filter, not just its lossless-"
        "ness, must match bit-for-bit, and the (false, true) cell — a "
        "false negative — must be structurally ABSENT from both engines.  "
        "This pins the sketch's behavior at the bit level: a hash-family "
        "drift, an off-by-one in the word/bit indexing, or a signed-shift "
        "bug would flip cells.  Operators: operators/stats.py bloom_build "
        "/ bloom_bitmap / bloom_might_contain",
)
def _bloomaudit(spark, sf_dir):
    from .operators.stats import bloom_bitmap, bloom_build, bloom_might_contain

    orders, customer = _load(spark, sf_dir, "orders", "customer")
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bitmap = bloom_bitmap(bloom_build(dim, "c_custkey", 4096, 3), 4096)
    flagged = (
        orders.join(F.broadcast(bitmap))
        .withColumn(
            "bloom_pass",
            bloom_might_contain(F.col("o_custkey"), F.col("bloom_bitmap"), 4096, 3),
        )
        .join(
            F.broadcast(
                dim.select(F.col("c_custkey").alias("o_custkey")).withColumn(
                    "__hit", F.lit(1)
                )
            ),
            "o_custkey",
            "left",
        )
        .withColumn("true_match", F.col("__hit").isNotNull())
    )
    return flagged.groupBy("bloom_pass", "true_match").agg(
        F.count(F.lit(1)).alias("n")
    )


@_q(
    "bpe_pair_counts",
    f"""
    WITH words AS (
      SELECT unnest({tk.alpha_words_sql('text')}) AS w
      FROM documents),
    wc AS (SELECT w, COUNT(*) AS c FROM words WHERE length(w) >= 2 GROUP BY w),
    pairs AS (
      SELECT substring(w, CAST(i AS INT), 1) AS a,
             substring(w, CAST(i AS INT) + 1, 1) AS b, c
      FROM wc, unnest(range(1, length(w))) AS t(i)),
    agg AS (
      SELECT a AS left_sym, b AS right_sym, CAST(SUM(c) AS BIGINT) AS n
      FROM pairs GROUP BY a, b)
    SELECT * FROM agg ORDER BY n DESC, left_sym, right_sym LIMIT 100
    """,
    doc="BPE tokenizer-training statistic (Sennrich et al. 2016), hash-"
        "verified: corpus-weighted adjacent character-pair frequencies — "
        "the argmax a BPE trainer's first merge takes — with the top-100 "
        "pinned under a (count, pair) total order.  Plan: ONE corpus "
        "shuffle into the word-frequency table, then a map-only pair "
        "explode over the VOCABULARY (never the corpus again — the "
        "trainer's core scale trick) and an alphabet²-bounded count "
        "shuffle; top-k is TakeOrdered, no global sort.  Operators: "
        "operators/text.py bpe_word_freq / bpe_pair_counts",
)
def _bpepairs(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        tx.bpe_pair_counts(docs, "text")
        .orderBy(F.desc("n"), "left_sym", "right_sym")
        .limit(100)
    )


@_q(
    "bpe_train_merges",
    None,
    doc="full BPE TRAINING loop, distributed (Sennrich et al. 2016): 12 "
        "merge rules learned from the documents corpus in deterministic "
        "order (count-desc, pair-lex tiebreak).  Corpus is read once into "
        "the word-frequency table; each iteration is a vocabulary-bounded "
        "pair-count shuffle + a 1-row TakeOrdered argmax + a map-only "
        "greedy merge fold (pure JVM `aggregate`, overlapping runs merge "
        "left-first), with localCheckpoint lineage truncation every 4 "
        "rounds.  Rows-only by nature (iterative argmax is not SQL-"
        "expressible); the merge sequence is pinned by pytest against a "
        "pure-Python reference trainer.  Operator: operators/text.py "
        "bpe_train",
)
def _bpetrain(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.bpe_train(docs, "text", n_merges=12)


@_q(
    "semdedup_prune",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    kk AS (SELECT greatest(8, (COUNT(*) + 249) // 250) AS k FROM e),
    seeds AS (
      SELECT vec_id AS cid, x AS c FROM (
        SELECT vec_id, x, row_number() OVER (ORDER BY vec_id) AS rn
        FROM e)
      WHERE rn <= (SELECT k FROM kk)),
    d AS (
      SELECT e.vec_id, seeds.cid,
        list_dot_product(e.x, e.x)
          - 2 * list_dot_product(e.x, seeds.c)
          + list_dot_product(seeds.c, seeds.c) AS dist
      FROM e, seeds),
    asn AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d)
      WHERE rn = 1),
    v AS (SELECT asn.vec_id, asn.cluster, e.x FROM asn JOIN e USING (vec_id)),
    pruned AS (
      SELECT DISTINCT vb.vec_id
      FROM v va JOIN v vb
        ON va.cluster = vb.cluster AND va.vec_id < vb.vec_id
      WHERE list_dot_product(va.x, vb.x)
          / (sqrt(list_dot_product(va.x, va.x))
             * sqrt(list_dot_product(vb.x, vb.x))) >= 0.4)
    SELECT CAST(v.cluster AS BIGINT) AS cluster,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(SUM(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_kept,
      CAST(SUM(CASE WHEN p.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        AS n_pruned
    FROM v LEFT JOIN pruned p ON v.vec_id = p.vec_id
    GROUP BY v.cluster
    """,
    doc="SemDeDup (Abbas et al. 2023) HASH-VERIFIED end to end: embeddings "
        "cluster to their nearest of k deterministic seed centroids (the "
        "proven portable argmin recipe from kmeans_step_verified), then "
        "within each cluster every vector with a lower-id cluster-mate at "
        "cosine >= 0.4 is pruned — the semantic-dedup pass an LLM corpus "
        "runs AFTER lexical MinHash (paraphrases and re-renders share "
        "embeddings, not shingles).  r12 (VERDICT r11 item 3, the "
        "suite's worst sweep exponent α=1.06): k now SCALES WITH THE "
        "CORPUS as max(8, ceil(n/250)) — fixed expected cluster size, "
        "the paper's k ∝ corpus — so within-cluster pair work stays "
        "LINEAR (~250·n pairs) instead of n²/8; the oracle derives the "
        "identical k from COUNT(*) in pure integer arithmetic, so "
        "assignment AND pruning still replay exactly in DuckDB and the "
        "per-cluster kept/pruned census hash-matches (k=8 unchanged at "
        "sf0.01/sf0.1, k=40 at the sf0.5 sweep leg).  Scale: centroids "
        "broadcast, one argmin shuffle, quadratic work bounded WITHIN "
        "clusters.  Operator: operators/similarity.py semdedup",
)
def _semdedup(spark, sf_dir):
    (emb,) = _load(spark, sf_dir, "embeddings")
    flags = sim.semdedup(
        emb, "vec_id", "embedding", n_clusters="auto", threshold=0.4,
        target_cluster_size=250,
    )
    return flags.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).cast("long").alias("n_pruned"),
    )


#: Fixed BPE merge table for the registered (hash-verified) encoder
#: form — common English digraphs, rank order.  Every pair has left ≠
#: right: that is the precondition under which the oracle's
#: double-replace fold is EXACTLY greedy left-to-right BPE (a (x,x)
#: merge over a run of 5+ identical symbols is the one case where the
#: space-delimited string rewrite segments differently; property-tested
#: in tests/test_llm_ops.py over 120k random word×table combinations).
_BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def _bpe_fold_sql(expr: str) -> str:
    """Nest the fixed merge table into a DuckDB expression: one merge =
    two successive replace() passes over the space-delimited symbol
    string (pass 1 is greedy left-to-right but consumes the shared
    delimiter of back-to-back occurrences; pass 2 merges exactly the
    occurrences greedy BPE would have taken — left≠right makes new
    matches impossible, so the composition is exact)."""
    for a, b in _BPE_FIXED_MERGES:
        pat, rep = f"' {a} {b} '", f"' {a}{b} '"
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    return expr


_BPE_CHARS_SQL = "(' ' || regexp_replace(w, '(.)', '\\1 ', 'g'))"


@_q(
    "bpe_encode_tokens",
    f"""
    WITH w AS (
      SELECT doc_id, unnest({tk.alpha_words_sql('text')}) AS w
      FROM documents),
    s AS (SELECT doc_id,
            {_bpe_fold_sql(_BPE_CHARS_SQL)} AS s
          FROM w WHERE length(w) >= 1)
    SELECT doc_id,
      CAST(SUM(length({tk.space_tokens_sql('trim(s)')})) AS BIGINT) AS n_bpe_tokens
    FROM s GROUP BY doc_id
    """,
    doc="tokenizer APPLICATION at corpus scale, HASH-VERIFIED (r8 verdict "
        "item 5: was rows-only): a FIXED 8-merge table (common English "
        "digraphs, embedded in both dialects like the "
        "quality_classifier_bucketed trick) applied through the "
        "dictionary-join encoder — merge folds run over the distinct-word "
        "VOCABULARY only, the corpus joins each word occurrence to its "
        "precomputed segmentation and reassembles documents in order (the "
        "word-level cache every production BPE encoder uses, as a join; a "
        "per-row fold would nest every merge into the corpus scan).  "
        "Returns per-doc BPE token counts.  The oracle replays greedy BPE "
        "as a double-replace fold over space-delimited symbols (exact for "
        "left≠right merges; property-tested).  The TRAINED-table form "
        "(learned merges upstream) stays exercised by bpe_train_merges + "
        "the pytest pure-Python-reference pin.  Operator: "
        "operators/text.py bpe_encode",
)
def _bpeencode(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    enc = tx.bpe_encode(docs, "doc_id", "text", _BPE_FIXED_MERGES)
    return enc.select(
        "doc_id", F.size("bpe_syms").cast("long").alias("n_bpe_tokens")
    )


@_q(
    "k_anonymity_events",
    """
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             hour(ts) AS h, minute(ts) AS m, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3, 4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
      CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      CAST(MIN(n) AS BIGINT) AS effective_k
    FROM g
    """,
    doc="k-anonymity privacy audit (Sweeney 2002) over the events table "
        "released at (event_type, date, hour, minute) granularity — the "
        "census a privacy review runs before publishing: how many quasi-"
        "identifier groups, how many have < 5 members (re-identifiable), "
        "how many rows sit in them, and the dataset's effective k.  The "
        "minute-precision timestamp is the classic quasi-identifier leak "
        "this audit exists to catch.  One count shuffle keyed on the "
        "quasi columns, then a group-table fold.  Operators: "
        "operators/quality.py k_anonymity_summary / k_anonymity_audit",
)
def _kanon(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    quasi = events.select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("m"),
    )
    return Q.k_anonymity_summary(quasi, ["event_type", "d", "h", "m"], k=5)


_PROFILE_SPEC = [
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice", "CAST(o_totalprice AS DECIMAL(12,2))"),
    ("o_orderdate", "CAST(o_orderdate AS DATE)"),
    ("o_orderpriority", "o_orderpriority"),
]

_PROFILE_ORACLE = "\n    UNION ALL\n".join(
    f"""
    SELECT '{name}' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) - COUNT({expr}) AS BIGINT) AS n_nulls,
      CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct,
      CAST(MIN({expr}) AS VARCHAR) AS min_value,
      CAST(MAX({expr}) AS VARCHAR) AS max_value
    FROM orders"""
    for name, expr in _PROFILE_SPEC
)


@_q(
    "profile_orders_table",
    _PROFILE_ORACLE,
    doc="ANALYZE-TABLE profile, hash-verified: per-column row/null/NDV "
        "counts plus min/max for the whole orders table in ONE aggregate "
        "over one scan (the exact COUNT(DISTINCT) battery plans a single "
        "Expand shuffle, never a job per column) — the stats pass every "
        "catalog/optimizer/data-contract workflow runs first.  min/max "
        "serialize via portable casts (double -> DECIMAL before "
        "stringifying; float formatting is the one engine-specific "
        "rendering).  At 100 TB flip approx_distinct=True: HLL NDV keeps "
        "the scan map-only with no Expand fan-out.  Operator: "
        "operators/quality.py profile_table",
)
def _profile(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    proj = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(D2).alias("o_totalprice"),
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_orderpriority",
    )
    return Q.profile_table(proj)


@_q(
    "gapfill_user_hourly",
    """
    WITH obs AS (
      SELECT user_id,
        CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600 AS slot_s,
        COUNT(*) AS n_obs,
        SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2),
    grid AS (
      SELECT user_id, unnest(range(lo, hi + 1, 3600)) AS slot_s
      FROM (SELECT user_id, MIN(slot_s) AS lo, MAX(slot_s) AS hi
            FROM obs GROUP BY 1)),
    j AS (
      SELECT g.user_id, g.slot_s,
        COALESCE(o.n_obs, 0) AS n_obs, CAST(o.v AS DOUBLE) AS v_obs, o.v
      FROM grid g LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.slot_s = o.slot_s),
    w AS (
      SELECT user_id, slot_s, n_obs, v_obs,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN slot_s END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS UNBOUNDED PRECEDING) AS ps,
        LAST_VALUE(v IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS UNBOUNDED PRECEDING) AS pv,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN slot_s END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns,
        FIRST_VALUE(v IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM j)
    SELECT user_id, slot_s, CAST(n_obs AS BIGINT) AS n_obs, v_obs,
      CASE WHEN v_obs IS NOT NULL THEN v_obs
           WHEN ps IS NOT NULL AND ns IS NOT NULL
             THEN CAST(pv * (ns - ps) + (nv - pv) * (slot_s - ps) AS DOUBLE)
                  / (ns - ps)
           END AS v_lerp,
      COALESCE(v_obs, CAST(pv AS DOUBLE)) AS v_locf
    FROM w
    """,
    doc="Time-series gap-fill + interpolation, hash-verified: every "
        "user's event stream resampled onto a dense hourly grid spanning "
        "their observed range, holes filled by linear interpolation "
        "between the nearest observed slots (no extrapolation past the "
        "edges) and by carry-forward — the resampling primitive feature "
        "windows / forecasting / charting need over irregular events.  "
        "Plan (segment form, round-5 optimization — identical hash, ~10× "
        "wall at sf0.1): ONE corpus shuffle (the (user, slot) bucket "
        "aggregate), one lead() window over the OBSERVED-slot table, "
        "then each [p, n) segment sequence()-GENERATES its own grid "
        "slots with both interpolation endpoints already on the row — "
        "the dense grid is never joined and never windowed; the "
        "grid-sized frame passes only through map-only expressions.  "
        "Slots are integer epoch seconds end to end — no timezone, no "
        "interval arithmetic.  Operator: "
        "operators/timeseries.py gap_fill_interpolate",
)
def _gapfill(spark, sf_dir):
    from .operators.timeseries import gap_fill_interpolate

    (events,) = _load(spark, sf_dir, "events")
    clean = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return gap_fill_interpolate(
        clean, ["user_id"], "ts", "value", step_seconds=3600
    )


@_q(
    "temperature_lang_rates",
    """
    WITH c AS (
      SELECT lang AS source, COUNT(*) AS n_rows FROM documents GROUP BY 1),
    t AS (
      SELECT SUM(n_rows) AS n_tot, SUM(pow(n_rows, 0.7)) AS w_tot FROM c),
    p AS (
      SELECT source, n_rows,
        CAST(n_rows AS DOUBLE) / n_tot AS p_src,
        pow(n_rows, 0.7) / w_tot AS q_src
      FROM c, t),
    s AS (SELECT MIN(p_src / q_src) AS sc FROM p)
    SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
      round(p_src, 6) AS p_src, round(q_src, 6) AS q_src,
      round(LEAST(1.0, q_src / p_src * sc), 6) AS keep_rate
    FROM p, s
    """,
    doc="Temperature-based language rebalancing (XLM's p^alpha scheme, "
        "Conneau & Lample 2019), hash-verified: per-language corpus "
        "shares flattened toward q ∝ p^0.7, realized as the largest "
        "downsampling-only keep rates (the rarest-relative language "
        "keeps 100%; the over-represented head is trimmed).  Plan: one "
        "count aggregate (rows = #languages), then source-table-sized "
        "arithmetic with scalar totals broadcast — the corpus is scanned "
        "once and never shuffled.  Feed the rates into the deterministic "
        "hash-bucket filter (mixture_sample) to materialize the draw.  "
        "Operator: operators/sampling.py temperature_resample_rates",
)
def _temp_rates(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return sa.temperature_resample_rates(docs, "lang", alpha=0.7)


@_q(
    "psi_drift_orders",
    """
    WITH e AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        AND o_totalprice IS NOT NULL),
    a AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        AND o_totalprice IS NOT NULL),
    bins AS (SELECT CAST(unnest(range(5)) AS BIGINT) AS bin_id),
    be AS (
      SELECT CASE WHEN v < 100000 THEN 0 WHEN v < 200000 THEN 1
                  WHEN v < 300000 THEN 2 WHEN v < 400000 THEN 3
                  ELSE 4 END AS bin_id, COUNT(*) AS c
      FROM e GROUP BY 1),
    ba AS (
      SELECT CASE WHEN v < 100000 THEN 0 WHEN v < 200000 THEN 1
                  WHEN v < 300000 THEN 2 WHEN v < 400000 THEN 3
                  ELSE 4 END AS bin_id, COUNT(*) AS c
      FROM a GROUP BY 1),
    j AS (
      SELECT b.bin_id,
        CAST(COALESCE(be.c, 0) AS BIGINT) AS n_expected,
        CAST(COALESCE(ba.c, 0) AS BIGINT) AS n_actual
      FROM bins b LEFT JOIN be USING (bin_id) LEFT JOIN ba USING (bin_id)),
    t AS (SELECT SUM(n_expected) AS te, SUM(n_actual) AS ta FROM j)
    SELECT bin_id, n_expected, n_actual,
      round((n_expected + 0.5) / (te + 2.5), 6) AS p_expected,
      round((n_actual + 0.5) / (ta + 2.5), 6) AS p_actual,
      round(((n_actual + 0.5) / (ta + 2.5) - (n_expected + 0.5) / (te + 2.5))
        * ln(((n_actual + 0.5) / (ta + 2.5))
           / ((n_expected + 0.5) / (te + 2.5))), 6) AS psi_term
    FROM j, t
    """,
    doc="Population Stability Index drift monitor, hash-verified: "
        "o_totalprice distribution of pre-1997 orders (the 'training "
        "window' baseline) vs 1997+ orders (the 'serving window'), cut at "
        "fixed 100k-wide bins; per-bin Laplace-smoothed shares and "
        "(p_a − p_e)·ln(p_a/p_e) terms whose sum is the headline PSI "
        "(< 0.1 stable / > 0.25 shifted).  Plan: the two corpora are "
        "NEVER joined row-wise — one map-side-combined count aggregate "
        "per side (k rows out), broadcast-joined to a literal bin table "
        "so empty bins stay in the output.  The per-round drift check a "
        "training-data pipeline runs before accepting a new crawl.  "
        "Operator: operators/quality.py population_stability_index",
)
def _psi(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("date")
    d = F.col("o_orderdate").cast("date")
    return Q.population_stability_index(
        orders.filter(d < cut),
        orders.filter(d >= cut),
        "o_totalprice",
        [100_000.0, 200_000.0, 300_000.0, 400_000.0],
    )


@_q(
    "incremental_agg_merge",
    """
    SELECT o_custkey,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
      CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_spend,
      CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_spend,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS avg_spend
    FROM orders GROUP BY o_custkey
    """,
    doc="Incremental aggregate maintenance, hash-verified against the "
        "full recompute: per-customer (count, sum, min, max) state built "
        "from history (orders before 1997-07-01), a DELTA state from just "
        "the new slice, then merge_agg_state folds them — union + "
        "re-aggregate of two KEY-SIZED state tables, no join, no history "
        "rescan.  The oracle is the direct GROUP BY over all orders, so "
        "the hash match proves the merge law (algebraic components: "
        "counts/DECIMAL sums add, min/max fold) holds cross-engine.  The "
        "100 TB pattern: daily rollups scan only the new partition; "
        "derived stats (mean) are computed at read time so merging stays "
        "exact.  Operators: operators/incremental.py agg_state / "
        "merge_agg_state",
)
def _incr_agg(spark, sf_dir):
    from .operators import incremental as inc

    (orders,) = _load(spark, sf_dir, "orders")
    cut = F.lit("1997-07-01").cast("date")
    hist = orders.filter(F.col("o_orderdate").cast("date") < cut)
    delta = orders.filter(F.col("o_orderdate").cast("date") >= cut)
    d18 = "decimal(18,2)"
    merged = inc.merge_agg_state(
        inc.agg_state(hist, ["o_custkey"], "o_totalprice", d18),
        inc.agg_state(delta, ["o_custkey"], "o_totalprice", d18),
    )
    return merged.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        F.col("sum_v").cast("double").alias("total_spend"),
        F.col("min_v").cast("double").alias("min_spend"),
        F.col("max_v").cast("double").alias("max_spend"),
        (F.col("sum_v").cast("double") / F.col("n")).alias("avg_spend"),
    )


@_q(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS tgt,
        list_filter({tk.space_tokens_sql('lower(text)')}, x -> x <> '') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, tgt, unnest(list_concat(t,
        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS g
      FROM toks),
    db AS (
      SELECT doc_id, tgt,
        ('0x' || substring(md5(g), 1, 8))::BIGINT % 64 AS b,
        COUNT(*) AS c
      FROM grams GROUP BY 1, 2, 3),
    dist AS (
      SELECT b, SUM(c) AS raw_c, SUM(CASE WHEN tgt THEN c ELSE 0 END) AS tgt_c
      FROM db GROUP BY 1),
    lr AS (
      SELECT b,
        ln((tgt_c + 0.5) / ((SELECT SUM(tgt_c) FROM dist) + 0.5 * 64))
        - ln((raw_c + 0.5) / ((SELECT SUM(raw_c) FROM dist) + 0.5 * 64)) AS lr
      FROM dist),
    scored AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        round(SUM(c * lr), 6) AS log_weight
      FROM db JOIN lr USING (b) GROUP BY 1)
    SELECT d.doc_id, COALESCE(s.n_grams, 0) AS n_grams,
      COALESCE(s.log_weight, 0.0) AS log_weight
    FROM (SELECT doc_id FROM documents) d LEFT JOIN scored s USING (doc_id)
    """,
    doc="DSIR data-selection importance weights (Xie et al. 2023), "
        "hash-verified end to end: every document scored by how much more "
        "likely its hashed unigram+bigram profile is under the trusted "
        "target slice (lang='en') than under the raw pool — the importance-"
        "resampling signal for picking pre-training data that looks like a "
        "reference corpus without training a classifier.  Plan: ONE "
        "corpus-sized (doc, bucket) count shuffle (map-side combined, "
        "width bounded by 64 buckets/doc), a 64-row distribution aggregate "
        "over those counts (corpus never rescanned), log-ratios broadcast "
        "back, one doc-keyed sum.  The md5 bucket hash replays exactly in "
        "ANSI SQL; log-weight rounds at 6 dp (documented float-sum "
        "tolerance).  Operator: operators/sampling.py dsir_log_weights",
)
def _dsir(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return sa.dsir_log_weights(
        docs.withColumn("__is_tgt", F.col("lang") == "en"),
        "text",
        "__is_tgt",
        "doc_id",
        n_buckets=64,
    )


def _corr_matrix_sql(cols: list[str]) -> str:
    """Emit the corr-matrix oracle: the same exact-decimal sufficient
    statistics and fixed IEEE closed form as operators/stats.py
    corr_matrix, one UNION ALL branch per upper-triangle pair (the
    branches read a single pre-aggregated 1-row CTE, so DuckDB computes
    the sums once)."""
    dec = "DECIMAL(12,0)"
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in cols:
        sums.append(f"CAST(SUM(CAST({c} AS {dec})) AS DOUBLE) AS s_{c}")
        sums.append(
            f"CAST(SUM(CAST({c} AS {dec}) * CAST({c} AS {dec})) AS DOUBLE) AS ss_{c}"
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(
                f"CAST(SUM(CAST({a} AS {dec}) * CAST({b} AS {dec})) AS DOUBLE)"
                f" AS sx_{a}_{b}"
            )
    branches = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            den = (
                f"sqrt(CAST(n AS DOUBLE) * ss_{a} - s_{a} * s_{a})"
                f" * sqrt(CAST(n AS DOUBLE) * ss_{b} - s_{b} * s_{b})"
            )
            num = f"CAST(n AS DOUBLE) * sx_{a}_{b} - s_{a} * s_{b}"
            branches.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, n,\n"
                f"  CASE WHEN n > 1 AND ({den}) <> 0\n"
                f"    THEN ({num}) / ({den}) END AS corr FROM m"
            )
    return (
        "WITH base AS (\n"
        "  SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,\n"
        "    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,\n"
        "    CAST(floor(l_discount * 100) AS BIGINT) AS disc_c,\n"
        "    CAST(floor(l_tax * 100) AS BIGINT) AS tax_c\n"
        "  FROM lineitem),\n"
        "m AS (\n  SELECT " + ",\n    ".join(sums) + "\n  FROM base)\n"
        + "\nUNION ALL\n".join(branches)
    )


@_q(
    "corr_matrix_lineitem",
    _corr_matrix_sql(["qty", "price_c", "disc_c", "tax_c"]),
    doc="one-pass Pearson correlation MATRIX over lineitem's four numeric "
        "measures (quantity / price / discount / tax as exact cents): ONE "
        "aggregate over one scan ships every sufficient statistic at once "
        "(n + 4 sums + 4 square sums + 6 cross sums — 15 numbers through "
        "the shuffle, map-side combined, never rows), then the 1-row "
        "result explodes into the long-form upper triangle INSIDE the "
        "plan (per-pair select branches would re-execute the scan per "
        "pair, the SCALING.md scalar-reuse trap).  Each corr is the fixed "
        "IEEE closed form over exact DECIMAL sums — bit-identical on any "
        "engine or partitioning, unlike the Welford-accumulated corr() "
        "built-ins.  The column-dependence screen a table profile runs "
        "beside profile_orders_table.  Operator: operators/stats.py "
        "corr_matrix",
)
def _corrmat(spark, sf_dir):
    from .operators.stats import corr_matrix

    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        F.floor("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("disc_c"),
        F.floor(F.col("l_tax") * 100).cast("long").alias("tax_c"),
    )
    return corr_matrix(base, ["qty", "price_c", "disc_c", "tax_c"])


@_q(
    "benford_price_audit",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit,
        COUNT(*) AS n_obs
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
      GROUP BY 1),
    digits AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10)),
    j AS (
      SELECT d.digit, CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs
      FROM digits d LEFT JOIN c USING (digit)),
    t AS (
      SELECT digit, n_obs, CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total
      FROM j),
    s AS (
      SELECT digit, n_obs, n_total,
        CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
        round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_share
      FROM t),
    s2 AS (
      SELECT digit, n_obs, n_total, obs_share, exp_share,
        round(((CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share)
               * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share))
              / (CAST(n_total AS DOUBLE) * exp_share), 6) AS chi_term
      FROM s)
    SELECT digit, n_obs, n_total, obs_share, exp_share, chi_term,
      CAST(SUM(CAST(chi_term AS DECIMAL(28,6))) OVER () AS DOUBLE) AS chi2_total
    FROM s2
    """,
    doc="Benford first-significant-digit audit of o_totalprice — the "
        "fraud / fabrication / unit-mixing screen for amount columns: "
        "per digit 1-9 the exact observed count and share beside the "
        "log10(1+1/d) expectation and chi-square contribution, plus the "
        "dataset-wide chi2 on every row.  The digit comes from the "
        "DECIMAL string render, so the corpus scan is pure integer/"
        "string codegen (no log/pow near the hot path); log10 appears "
        "only in the 9-row tail (rounded 6dp, libm-ULP tolerance) and "
        "the chi total sums 6dp-rounded terms in DECIMAL so partial "
        "order can't change it.  ONE map-side-combined count shuffle, "
        "broadcast against a literal digit table, windows over the "
        "9-row frame.  Operator: operators/quality.py benford_audit",
)
def _benford(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return Q.benford_audit(orders, "o_totalprice")


@_q(
    "basket_brand_lift",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk, p_brand AS item
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_baskets FROM b),
    i AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_i FROM b GROUP BY 1),
    p AS (
      SELECT a.item AS item_a, c.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b a JOIN b c ON a.bk = c.bk AND a.item < c.item
      GROUP BY 1, 2)
    SELECT item_a, item_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
      CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
      CAST(n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE) AS confidence,
      CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS lift
    FROM p
    JOIN i ia ON p.item_a = ia.item
    JOIN i ib ON p.item_b = ib.item
    CROSS JOIN nb
    """,
    doc="market-basket association mining: support / confidence / lift "
        "for every brand pair co-purchased within an order — the "
        "co-occurrence primitive behind recommendations and affinity "
        "reports.  Scale design: baskets collapse to distinct (order, "
        "brand) FIRST and stage through a lazy localCheckpoint (three "
        "consumers — both pair-join sides and the basket total — would "
        "otherwise each re-execute the distinct, the SCALING.md "
        "scalar-reuse trap); the pair join is equi on the order key so "
        "the quadratic is bounded WITHIN a basket (≤ 25 distinct brands), "
        "never corpus-sized; margins and the total are brand-table-sized "
        "broadcasts, and every ratio divides exact counts.  Operator: "
        "operators/stats.py pair_lift",
)
def _basket(spark, sf_dir):
    from .operators.stats import pair_lift

    li, part = _load(spark, sf_dir, "lineitem", "part")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(F.col("l_orderkey").alias("bk"), F.col("p_brand").alias("item"))
    return pair_lift(baskets, "bk", "item")


@_q(
    "bucketed_join_roundtrip",
    f"""
    SELECT c_nationkey,
      COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
    doc="co-bucketed SHUFFLE-FREE join, hash-verified end to end: orders "
        "and customer are written as catalog tables bucketed (and "
        "sorted) on the customer key with matching bucket counts, "
        "re-read, and sort-merge-joined — the plan has NO Exchange "
        "before the join (contract-tested in test_plans.py), which is "
        "the pay-once-skip-every-future-shuffle layout for repeated "
        "100 TB fact-dim joins (the Spark-native replacement for the "
        "reference's Postgres BTREE join indexes).  The oracle is the "
        "plain join over the original parquet, so a dropped bucket, a "
        "mis-hashed row, or a bucket-pruning bug breaks the hash.  "
        "Sink: sources/writers.py write_table_bucketed",
)
def _bucketed_join(spark, sf_dir):
    import hashlib
    import shutil
    from urllib.parse import urlparse

    from .sources.writers import write_table_bucketed

    orders, customer = _load(spark, sf_dir, "orders", "customer")
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    t_o = f"automated_batch_data_pipeline_nyc_bkt_orders_{digest}"
    t_c = f"automated_batch_data_pipeline_nyc_bkt_customer_{digest}"
    # same orphan-location hygiene as table_modes_roundtrip: a prior
    # process may have left the managed directory without a catalog row
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    for name in (t_o, t_c):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = os.path.join(wh.path or wh.netloc, name.lower())
        shutil.rmtree(loc, ignore_errors=True)
    write_table_bucketed(
        orders.select("o_custkey", "o_totalprice"),
        t_o, ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"],
    )
    write_table_bucketed(
        customer.select(
            F.col("c_custkey").alias("o_custkey"), "c_nationkey"
        ),
        t_c, ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"],
    )
    joined = spark.table(t_o).hint("merge").join(spark.table(t_c), "o_custkey")
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "incremental_join_view",
    """
    SELECT n_name,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="incremental maintenance of an aggregate-over-JOIN view, "
        "hash-verified against the full recompute: the per-customer "
        "order state (count + DECIMAL revenue) is built from history "
        "(orders before 1997-07-01), merged with the delta slice's "
        "state via merge_agg_state (union + re-aggregate of two "
        "KEY-SIZED tables — no join, no history rescan), and only THEN "
        "joined to the broadcast customer→nation dims and rolled up per "
        "nation.  The point beyond incremental_agg_merge: the "
        "maintained state makes every downstream dim join and rollup "
        "corpus-independent — at 100 TB the nightly refresh scans the "
        "new partition once, and serving N different rollups costs N "
        "key-table joins, never N fact scans.  Operators: "
        "operators/incremental.py agg_state / merge_agg_state",
)
def _inc_join_view(spark, sf_dir):
    from .operators.incremental import agg_state, merge_agg_state

    orders, customer, nation = _load(spark, sf_dir, "orders", "customer", "nation")
    cut = F.lit("1997-07-01").cast("timestamp")
    hist = agg_state(
        orders.filter(F.col("o_orderdate") < cut), ["o_custkey"], "o_totalprice"
    )
    delta = agg_state(
        orders.filter(F.col("o_orderdate") >= cut), ["o_custkey"], "o_totalprice"
    )
    merged = merge_agg_state(hist, delta)
    dims = customer.select("c_custkey", "c_nationkey").join(
        nation.select("n_nationkey", "n_name"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        merged.join(F.broadcast(dims), merged.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("sum_v").cast("double").alias("total_revenue"),
        )
    )


@_q(
    "streaming_upsert_apply",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
    target0 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        CAST(0 AS BIGINT) AS seq
      FROM base WHERE o_orderkey % 4 <> 0),
    feed AS (
      SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
        o_totalprice + 50.0 AS o_totalprice, CAST(1 AS BIGINT) AS seq
      FROM base WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 100.0,
        CAST(2 AS BIGINT)
      FROM base WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'I', o_totalprice, CAST(1 AS BIGINT)
      FROM base WHERE o_orderkey % 4 = 0),
    latest AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, seq
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        FROM feed)
      WHERE rn = 1)
    SELECT
      coalesce(l.o_orderkey, t.o_orderkey) AS o_orderkey,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_custkey
           ELSE t.o_custkey END AS o_custkey,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_orderstatus
           ELSE t.o_orderstatus END AS o_orderstatus,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_totalprice
           ELSE t.o_totalprice END AS o_totalprice,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.seq ELSE t.seq END AS seq
    FROM target0 t FULL OUTER JOIN latest l ON t.o_orderkey = l.o_orderkey
    """,
    doc="§2.8 streaming MERGE sink, hash-verified end to end: a CDC-style "
        "feed (two versioned updates per touched key + inserts of keys "
        "absent from the target) streams through foreachBatch, each "
        "micro-batch collapses to latest-seq-wins and MERGEs into a "
        "catalog target table initialized from the pre-update slice — "
        "the idiomatic bridge from a stream to any batch-only sink, "
        "idempotent on replay (checkpoint + key-deduped MERGE).  The "
        "feed is staged partitioned BY KEY so both versions of a key "
        "share a file: micro-batch boundaries then can't reorder a "
        "key's versions, making the final table deterministic however "
        "availableNow splits the backlog.  The oracle replays the same "
        "latest-wins MERGE in SQL over the original orders — a lost "
        "update, doubled insert, or stale-version win breaks the hash.  "
        "Sink: streaming/jobs.py foreach_batch_upsert",
)
def _stream_upsert(spark, sf_dir):
    import hashlib
    import shutil
    import tempfile
    import uuid
    from urllib.parse import urlparse

    from .streaming.jobs import foreach_batch_upsert

    (orders,) = _load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    target0 = base.filter(F.col("o_orderkey") % 4 != 0).withColumn(
        "seq", F.lit(0).cast("long")
    )
    upd = base.filter(F.col("o_orderkey") % 10 == 0)
    feed = (
        upd.select(
            "o_orderkey",
            "o_custkey",
            F.lit("U1").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(50.0)).alias("o_totalprice"),
            F.lit(1).cast("long").alias("seq"),
        )
        .unionByName(
            upd.select(
                "o_orderkey",
                "o_custkey",
                F.lit("U2").alias("o_orderstatus"),
                (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
                F.lit(2).cast("long").alias("seq"),
            )
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 4 == 0).select(
                "o_orderkey",
                "o_custkey",
                F.lit("I").alias("o_orderstatus"),
                F.col("o_totalprice"),
                F.lit(1).cast("long").alias("seq"),
            )
        )
    )
    norm = os.path.abspath(os.path.normpath(sf_dir))
    digest = hashlib.md5(norm.encode()).hexdigest()[:10]
    table = f"automated_batch_data_pipeline_nyc_upsert_{digest}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    for name in (table, f"{table}__staged"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = os.path.join(wh.path or wh.netloc, name.lower())
        shutil.rmtree(loc, ignore_errors=True)
    target0.write.saveAsTable(table)
    # keyed staging (NOT _stage_stream_src's round-robin): both versions
    # of a key must share a file so batch splits can't reorder them
    src = _shared_stage(
        f"stream_upsertfeed_{os.path.basename(norm)}_{_fixture_fingerprint(sf_dir)}",
        lambda tmp: feed.repartition(4, "o_orderkey")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    stream = spark.readStream.schema(feed.schema).parquet(src)
    ckpt = _scratch(f"automated_batch_data_pipeline_nyc_ckpt_upsert_{uuid.uuid4().hex[:8]}")
    # scope the shuffle width around the drain: the stream itself is
    # stateless, but every micro-batch's foreachBatch MERGE join plans
    # with the session's shuffle.partitions — 8 is right-sized for the
    # per-batch increments this feed carries (fresh checkpoint per run,
    # nothing baked in)
    with _stream_conf_scope(spark):
        q = foreach_batch_upsert(stream, table, ["o_orderkey"], ckpt, "seq")
        try:
            if not q.awaitTermination(600):
                raise TimeoutError(
                    "streaming upsert did not drain within 600s"
                )
        finally:
            q.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(table).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "seq"
    )


@_q(
    "c4_cleaning_rules",
    rf"""
    WITH seeded AS (
      SELECT doc_id,
        'Document ' || CAST(doc_id AS VARCHAR) || ' from source ' || source
          || ' opens with a clean first sentence.' || chr(10)
        || CASE WHEN doc_id % 2 = 0
             THEN 'It also carries a second well formed sentence right here.'
             ELSE 'second line lacking any terminal mark' END || chr(10)
        || CASE WHEN doc_id % 3 = 0
             THEN 'And a third sentence appears in every third document.'
             ELSE 'filler words continuing without punctuation' END || chr(10)
        || 'tiny line.' || chr(10)
        || 'Please enable javascript to continue reading this content.'
          || chr(10)
        || CASE WHEN doc_id % 7 = 0
             THEN 'Standard lorem ipsum placeholder text lives in this sentence.'
             ELSE 'A normal closing sentence finishes the document nicely.' END
          || chr(10)
        || CASE WHEN doc_id % 11 = 0
             THEN 'var config = {{ "a": 1 }};'
             ELSE 'closing filler again with no ending' END || chr(10)
        || text AS t
      FROM documents),
    lines AS (
      SELECT doc_id, t,
        list_transform({tk.lines_sql('t')}, l -> trim(l)) AS ln
      FROM seeded),
    kept AS (
      SELECT doc_id, t, ln,
        list_filter(ln, l ->
          substr(l, -1, 1) IN ('.', '!', '?', '"')
          AND len(list_filter({tk.space_tokens_sql('l')}, w -> w <> '')) >= 5
          AND NOT contains(lower(l), 'javascript')) AS kl
      FROM lines),
    agg AS (
      SELECT doc_id, t,
        CAST(len(ln) AS BIGINT) AS n_lines,
        CAST(len(kl) AS BIGINT) AS n_kept,
        array_to_string(kl, chr(10)) AS clean_text
      FROM kept)
    SELECT doc_id, n_lines, n_kept,
      CAST(length(clean_text)
           - length(translate(clean_text, '.!?', '')) AS BIGINT) AS n_sentences,
      contains(lower(t), 'lorem ipsum') AS has_lorem,
      contains(t, '{{') AS has_brace,
      (CAST(length(clean_text)
            - length(translate(clean_text, '.!?', '')) AS BIGINT) >= 3
       AND NOT contains(lower(t), 'lorem ipsum')
       AND NOT contains(t, '{{')) AS c4_keep,
      md5(clean_text) AS clean_fp
    FROM agg
    """,
    doc="C4 cleaning battery (Raffel et al. 2020 §2.2), hash-verified: "
        "line-level keep = terminal punctuation AND ≥5 words AND no "
        "'javascript'; page-level drop = <3 surviving sentences, 'lorem "
        "ipsum', or a curly brace.  Fixture docs are single-line and "
        "punctuation-free, so the query seeds a deterministic 8-line page "
        "around every body — a doc_id-keyed opening sentence, parity/"
        "third-document conditional sentences, a too-short line, a "
        "javascript banner, a %7 lorem line, a %11 code line, and the raw "
        "body — making every rule provably fire in BOTH directions; "
        "clean_fp pins the surviving lines and their order.  All map-only "
        "array/string codegen over one staged split, no shuffle.  "
        "Operator: operators/text.py c4_rules",
)
def _c4(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    seeded = docs.withColumn(
        "t",
        F.concat(
            F.lit("Document "), F.col("doc_id").cast("string"),
            F.lit(" from source "), F.col("source"),
            F.lit(" opens with a clean first sentence."), nl,
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("It also carries a second well formed sentence right here."),
            ).otherwise(F.lit("second line lacking any terminal mark")), nl,
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("And a third sentence appears in every third document."),
            ).otherwise(F.lit("filler words continuing without punctuation")), nl,
            F.lit("tiny line."), nl,
            F.lit("Please enable javascript to continue reading this content."), nl,
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("Standard lorem ipsum placeholder text lives in this sentence."),
            ).otherwise(
                F.lit("A normal closing sentence finishes the document nicely.")
            ), nl,
            F.when(
                F.col("doc_id") % 11 == 0, F.lit('var config = { "a": 1 };')
            ).otherwise(F.lit("closing filler again with no ending")), nl,
            F.col("text"),
        ),
    )
    out = tx.c4_rules(seeded, "t")
    return out.select(
        "doc_id", "n_lines", "n_kept", "n_sentences",
        "has_lorem", "has_brace", "c4_keep",
        F.md5("clean_text").alias("clean_fp"),
    )


@_q(
    "impute_group_mean",
    """
    WITH dirty AS (
      SELECT event_id, user_id,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value
      FROM events),
    m AS (
      SELECT event_id, user_id, value,
        CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id) AS DOUBLE) AS s,
        CAST(COUNT(value) OVER (PARTITION BY user_id) AS DOUBLE) AS c
      FROM dirty)
    SELECT event_id, user_id,
      value IS NULL AS value_was_null,
      COALESCE(value, s / c) AS value_imputed
    FROM m
    """,
    doc="group-mean null imputation, hash-verified: every 17th event's "
        "value is nulled (the fixtures are null-free — FIXTURES.md "
        "anonymization policy) and refilled with ITS USER's mean over "
        "observed values — the standard feature-repair step between "
        "dropna (too destructive for sparse columns) and a constant "
        "fill (too blunt across systematically-different groups).  The "
        "mean is an exact DECIMAL sum over the 2-dp values divided once "
        "by the non-null count, so the imputed double is bit-identical "
        "cross-engine.  ONE shuffle on the corpus-cardinality user key "
        "(sum and count share a single Window node), then map-only "
        "coalesce.  Operator: operators/cleaning.py impute_group_mean",
)
def _impute(spark, sf_dir):
    from .operators.cleaning import impute_group_mean

    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = impute_group_mean(dirty, ["user_id"], "value")
    return out.select(
        "event_id", "user_id", "value_was_null", "value_imputed"
    )


@_q(
    "join_size_estimate_cm",
    """
    WITH a AS (
      SELECT l_partkey AS k FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1996-01-01'),
    b AS (
      SELECT l_partkey AS k FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
    ca AS (
      SELECT i AS r,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                               || CAST(k AS VARCHAR)), 1, 8))::BIGINT
          % 4096 AS bk,
        COUNT(*) AS cnt
      FROM a, (SELECT unnest([0, 1, 2, 3]) AS i) h GROUP BY 1, 2),
    cb AS (
      SELECT i AS r,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                               || CAST(k AS VARCHAR)), 1, 8))::BIGINT
          % 4096 AS bk,
        COUNT(*) AS cnt
      FROM b, (SELECT unnest([0, 1, 2, 3]) AS i) h GROUP BY 1, 2),
    ip AS (
      SELECT ca.r,
        SUM(CAST(ca.cnt AS DECIMAL(19,0)) * CAST(cb.cnt AS DECIMAL(19,0)))
          AS ip
      FROM ca JOIN cb ON ca.r = cb.r AND ca.bk = cb.bk GROUP BY ca.r),
    -- a hash row with NO bucket overlap has inner product ZERO and must
    -- still participate in the min (disjoint-side correctness)
    ipf AS (
      SELECT COALESCE(ip.ip, 0) AS ip
      FROM (SELECT unnest([0, 1, 2, 3]) AS r) rows_
      LEFT JOIN ip ON ip.r = rows_.r),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ipf),
    fa AS (SELECT k, COUNT(*) AS c FROM a GROUP BY k),
    fb AS (SELECT k, COUNT(*) AS c FROM b GROUP BY k),
    tru AS (
      SELECT CAST(COALESCE(SUM(
        CAST(fa.c AS DECIMAL(19,0)) * CAST(fb.c AS DECIMAL(19,0))), 0)
        AS BIGINT) AS true_join_size
      FROM fa JOIN fb USING (k))
    SELECT est_join_size, true_join_size,
      CAST(est_join_size - true_join_size AS BIGINT) AS overcount
    FROM est CROSS JOIN tru
    """,
    doc="join-CARDINALITY estimation from two Count-Min sketches (the CM "
        "inner-product estimator, Cormode & Muthukrishnan 2005 §4.2), "
        "hash-verified bit-for-bit: the pre/post-1996 lineitem slices "
        "sketch their part keys into 4x4096 cells, and min-over-rows of "
        "the per-row bucket dot products upper-bounds the true fact-fact "
        "join size — what a cost-based optimizer or pipeline pre-flight "
        "wants before committing a 100 TB shuffle (sketches are linear "
        "and mergeable; the estimate joins two 16k-cell tables, the "
        "corpora never meet; a no-overlap hash row contributes a ZERO "
        "that stays in the min, so disjoint sides estimate small).  The "
        "true size is computed beside it via "
        "exact per-key count products (the verification branch — "
        "production reads only the cells), and the md5 hash family "
        "replays in ANSI SQL so estimate AND overcount match exactly.  "
        "Products run in DECIMAL (two 10^12-row sides can share a "
        "bucket).  Operator: operators/stats.py countmin_inner_product",
)
def _cm_joinsize(spark, sf_dir):
    from .operators.stats import countmin_inner_product, countmin_sketch
    from .operators.util import spread

    (li,) = _load(spark, sf_dir, "lineitem")
    cut = F.lit("1996-01-01").cast("timestamp")
    a = spread(li.filter(F.col("l_shipdate") < cut).select(F.col("l_partkey").alias("k")))
    b = spread(li.filter(F.col("l_shipdate") >= cut).select(F.col("l_partkey").alias("k")))
    # r13: hash the VOCABULARY, not the occurrences (the
    # countmin_heavy_hitters pattern) — the per-key (k, count) tables
    # the true-size branch needs anyway now double as the sketch
    # inputs, so the 4 md5 bucket hashes run once per DISTINCT part key
    # instead of once per lineitem row (~15x fewer digests here), and
    # each side's count aggregate runs once for both consumers (lazy
    # localCheckpoint).  Cells sum the counts, which equals the
    # occurrence sketch exactly (cells are linear in integer counts).
    fa = _ckpt(
        a.groupBy("k").agg(F.count(F.lit(1)).alias("ca")),
        eager=False,
        label="cm_joinsize_a",
    )
    fb = _ckpt(
        b.groupBy("k").agg(F.count(F.lit(1)).alias("cb")),
        eager=False,
        label="cm_joinsize_b",
    )
    est = countmin_inner_product(
        countmin_sketch(fa, "k", depth=4, width=4096, weight_col="ca"),
        countmin_sketch(fb, "k", depth=4, width=4096, weight_col="cb"),
        depth=4,
    )
    true_size = fa.join(fb, "k").agg(
        F.coalesce(
            F.sum(F.col("ca").cast("decimal(19,0)") * F.col("cb").cast("decimal(19,0)")),
            F.lit(0),
        )
        .cast("long")
        .alias("true_join_size")
    )
    return est.crossJoin(true_size).select(
        "est_join_size",
        "true_join_size",
        (F.col("est_join_size") - F.col("true_join_size"))
        .cast("long")
        .alias("overcount"),
    )


def _kcore_peel_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peel as a plain (non-recursive) CTE chain.

    Recursive SQL forbids aggregates in the recursive term, so the
    peel's per-round degree count can't recurse — but peeling converges
    in at most the peel depth, so a FIXED unroll that exceeds it
    computes the same fixpoint (extra rounds are no-ops on a stable
    edge set).  Depth measured 1 at both parity SFs (sf0.001/sf0.01);
    ``rounds=6`` leaves a 5-round margin, and the Spark side iterates
    to the true fixpoint regardless, so a mismatch would be loud, not
    silent.

    Every CTE is ``AS MATERIALIZED``: each round reads the previous
    edge set three times, and DuckDB 1.0 would otherwise inline the
    chain into ~3^rounds copies of the pair graph (it filled the disk).
    """
    ctes = [
        "e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs"
        " UNION SELECT id_b, id_a FROM pairs)"
    ]
    for r in range(rounds):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree"
            f" FROM e{r} GROUP BY a)"
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT node, degree FROM d{r} WHERE degree >= {k})"
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e"
            f" JOIN s{r} x ON e.a = x.node JOIN s{r} y ON e.b = y.node)"
        )
    return (
        f"WITH {_SQL_PREFIX_PAIRS},\n    "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, degree FROM s{rounds - 1}"
    )


@_q(
    "dedup_graph_kcore",
    _kcore_peel_sql(k=2, rounds=6),
    doc="2-core of the near-dup pair graph (iterative peeling — drop "
        "degree-<k nodes, recompute, repeat; operators/graph.py k_core): "
        "the density screen that separates genuine duplicate FAMILIES "
        "(every member ≥2 neighbors) from incidental one-edge pairings "
        "before survivor selection.  Hash-verified since r7 (VERDICT r6 "
        "item 4): the oracle unrolls the peel as a bounded CTE chain "
        "(_kcore_peel_sql — aggregates can't recurse in SQL, but a "
        "fixed unroll past the peel depth reaches the same fixpoint) "
        "over the SAME oracle-verified jaccard-prefix pair graph as "
        "dedup_graph_triangles; the algorithm is additionally pinned by "
        "pytest against a pure-Python peeling reference.  Each round: "
        "one degree shuffle of the SHRINKING edge list + two semi-join "
        "filters, lineage checkpoint-truncated; rounds ≤ peel depth "
        "(tiny on near-dup graphs).",
)
def _kcore(spark, sf_dir):
    pairs = dd.jaccard_prefix_pairs(
        _load(spark, sf_dir, "documents")[0], "doc_id", "text", n=2, threshold=0.8
    ).select("id_a", "id_b")
    return gr.k_core(pairs, k=2)


@_q(
    "hierarchy_share_rollup",
    """
    WITH nat AS (
      SELECT r_name, n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name)
    SELECT r_name, n_name,
      CAST(rev AS DOUBLE) AS revenue,
      CAST(rev AS DOUBLE)
        / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE)
        AS share_of_region,
      CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS share_of_total
    FROM nat
    """,
    doc="hierarchical percent-of-parent rollup (region → nation): each "
        "nation's revenue beside its share of its region and of the "
        "grand total — the drill-down report shape every BI layer asks "
        "of an analytics engine.  One fact shuffle into the 25-row "
        "nation aggregate (dims broadcast); both parent totals are "
        "unbounded window sums OVER THE DIM-SIZED aggregate in exact "
        "DECIMAL (safe single-partition windows — input bounded by "
        "construction, the PSI/scalar-reuse pattern), so no second "
        "corpus pass and no re-planned scan per share level.  Shares "
        "divide two engine-identical exact decimals once.",
)
def _hier_share(spark, sf_dir):
    from pyspark.sql import Window

    orders, customer, nation, region = _load(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    dims = (
        customer.select("c_custkey", "c_nationkey")
        .join(nation.select("n_nationkey", "n_name", "n_regionkey"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )
    nat = (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev")
        )
    )
    w_region = Window.partitionBy("r_name")  # 25-row frame: bounded
    w_all = Window.partitionBy()
    rev_d = F.col("rev").cast("double")
    return nat.select(
        "r_name",
        "n_name",
        rev_d.alias("revenue"),
        (rev_d / F.sum("rev").over(w_region).cast("double")).alias(
            "share_of_region"
        ),
        (rev_d / F.sum("rev").over(w_all).cast("double")).alias(
            "share_of_total"
        ),
    )


#: Fixed precision matrix for the registered (hash-verified)
#: mahalanobis_outliers form (VERDICT r9 item 2): a KMS kernel
#: 2^-|i-j| (symmetric positive-definite for any size) rescaled per
#: variable by dyadic powers 2^-e_i chosen to bring each measure's
#: deviations to O(1) — qty ~2^5, price cents ~2^23, disc/tax cents
#: ~2^3.  Every entry is a dyadic rational, EXACT in binary floats, so
#: the quadratic form's products and left-associated sum are
#: deterministic IEEE arithmetic in any engine — no rounding needed,
#: the raw doubles hash bit-for-bit.
_MAHA_COLS = ["qty", "price_c", "disc_c", "tax_c"]
_MAHA_SCALES = [5, 23, 3, 3]
_MAHA_PRECISION = [
    [
        2.0 ** -(abs(i - j) + _MAHA_SCALES[i] + _MAHA_SCALES[j])
        for j in range(4)
    ]
    for i in range(4)
]


def _maha_fixed_oracle() -> str:
    """DuckDB replay of the registered mahalanobis_outliers form,
    generated from the SAME _MAHA_PRECISION literals with the SAME
    left-associated (i, j) term order the operator's codegen emits, so
    every IEEE step matches bit-for-bit: exact integer measures, means
    as CAST(exact sum AS DOUBLE) / CAST(count AS DOUBLE) (identical to
    the operator's float(decimal)/float(n)), dyadic coefficients."""
    cent = [
        f"(CAST({c} AS DOUBLE) - m.mu{i})" for i, c in enumerate(_MAHA_COLS)
    ]
    terms = "0.0"
    for i in range(4):
        for j in range(4):
            terms += f"\n        + {_MAHA_PRECISION[i][j]!r} * {cent[i]} * {cent[j]}"
    mus = ",\n        ".join(
        f"CAST(SUM({c}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu{i}"
        for i, c in enumerate(_MAHA_COLS)
    )
    return f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
        CAST(floor(l_quantity) AS BIGINT) AS qty,
        CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,
        CAST(floor(l_discount * 100) AS BIGINT) AS disc_c,
        CAST(floor(l_tax * 100) AS BIGINT) AS tax_c
      FROM lineitem),
    m AS (
      SELECT {mus}
      FROM base)
    SELECT l_orderkey, l_linenumber,
      {terms} AS maha2
    FROM base CROSS JOIN m
    ORDER BY maha2 DESC, l_orderkey, l_linenumber
    LIMIT 100
    """


@_q(
    "mahalanobis_outliers",
    _maha_fixed_oracle(),
    doc="multivariate outlier detection, HASH-VERIFIED end to end "
        "(VERDICT r9 item 2: was rows-only): top-100 lineitem rows by "
        "squared Mahalanobis-form distance over the four cents-exact "
        "measures — the jointly-implausible-row screen per-column "
        "z-scores can't see.  Plan (identical to the data-driven mode): "
        "ONE exact-DECIMAL moment aggregate for n + the d sums (a "
        "single driver-sized row), data-driven means as "
        "float(exact_sum)/n, then the quadratic form as map-only "
        "codegen with literal coefficients — no UDF, no second shuffle; "
        "top-k is TakeOrdered with a unique key tiebreak.  The "
        "precision matrix is PINNED to fixed dyadic-rational literals "
        "(scaled SPD KMS kernel, exact in binary floats), so every "
        "arithmetic step is deterministic IEEE in both engines and the "
        "raw doubles hash bit-for-bit — the r9 PCA recipe: the one "
        "remaining float step with no portable replay (numpy's d×d "
        "ridge inverse that PRODUCES data-driven coefficients) runs on "
        "already-verified sufficient statistics and stays pinned by "
        "pytest, while everything that scales is hash-verified here.  "
        "Operator: operators/stats.py mahalanobis_scores(precision=...)",
)
def _maha(spark, sf_dir):
    from .operators.stats import mahalanobis_scores

    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("disc_c"),
        F.floor(F.col("l_tax") * 100).cast("long").alias("tax_c"),
    )
    scored = mahalanobis_scores(base, _MAHA_COLS, precision=_MAHA_PRECISION)
    return (
        scored.orderBy(F.desc("maha2"), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "maha2")
        .limit(100)
    )


@_q(
    "hll_audience_overlap",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         b AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL)
    SELECT 'purchase' AS label_a, 'click' AS label_b,
      CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
      CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
      CAST((SELECT COUNT(DISTINCT user_id) FROM events
            WHERE event_type IN ('purchase', 'click')
              AND user_id IS NOT NULL) AS BIGINT) AS exact_union,
      CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
        AS exact_overlap,
      TRUE AS overlap_within_tol
    """,
    doc="distinct-user audience overlap (purchased AND clicked) by "
        "inclusion–exclusion over mergeable HLL sketches: est(A) + "
        "est(B) − est(A∪B), answered from the SAME per-event-type "
        "partials a distinct dashboard already maintains — union is "
        "register-wise max, so the corpus is scanned once for the "
        "partials (checkpoint-staged for the three estimate consumers) "
        "and never again.  BOUND-AUDIT oracle form (VERDICT r10 item 4 "
        "recipe; was rows-only): the registered result is the exact "
        "a/b/union/overlap cardinalities (hash-exact cross-engine) "
        "plus a |est_overlap − exact_overlap| <= 3*(1.04/sqrt(2^12))*"
        "exact_union verdict — the tolerance scales with the UNION "
        "cardinality because inclusion–exclusion sums three estimates' "
        "errors (the operator docstring's documented amplification).  "
        "Measured: |err| = 0.00/17.0 vs tol 7.3/73.1 at sf0.01/sf0.1 "
        "(margin ratio 0.23), deterministic across runs; the raw "
        "estimates stay out of the hash (DataSketches register "
        "semantics have no SQL replay) and remain pinned by pytest "
        "(< 5% at lg_k=12).  Operator: operators/stats.py "
        "hll_overlap_estimate",
)
def _hll_overlap(spark, sf_dir):
    from .operators.stats import hll_overlap_estimate, hll_partial_sketches

    (events,) = _load(spark, sf_dir, "events")
    ev = events.filter(F.col("user_id").isNotNull())
    both = ev.filter(F.col("event_type").isin("purchase", "click"))
    partials = _ckpt(
        hll_partial_sketches(both, ["event_type"], "user_id", lg_k=12),
        eager=False,
        label="hll_overlap_partials",
    )
    est = hll_overlap_estimate(partials, "event_type", "purchase", "click")
    pa = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    pb = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    exact = (
        pa.agg(F.count(F.lit(1)).cast("long").alias("exact_a"))
        .crossJoin(pb.agg(F.count(F.lit(1)).cast("long").alias("exact_b")))
        .crossJoin(
            both.select("user_id")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("exact_union"))
        )
        .crossJoin(
            pa.join(pb, "user_id", "left_semi").agg(
                F.count(F.lit(1)).cast("long").alias("exact_overlap")
            )
        )
    )
    tol = 3 * 1.04 / 2 ** 6  # 3 sigma at lg_k=12, scaled by exact_union
    return est.crossJoin(exact).select(
        "label_a",
        "label_b",
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_overlap",
        (
            F.abs(F.col("est_overlap") - F.col("exact_overlap"))
            <= F.lit(tol) * F.col("exact_union")
        ).alias("overlap_within_tol"),
    )


@_q(
    "session_path_trigrams",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    m AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sid AS (
      SELECT user_id, ts, event_id, event_type,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sess
      FROM m),
    paths AS (
      SELECT user_id, sess,
        string_split(string_agg(event_type, '>' ORDER BY ts, event_id), '>')
          AS path
      FROM sid GROUP BY user_id, sess),
    tri AS (
      SELECT path[i] || '>' || path[i+1] || '>' || path[i+2] AS trigram
      FROM paths, unnest(generate_series(1, len(path) - 2)) AS t(i)
      WHERE len(path) >= 3)
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri GROUP BY trigram
    ORDER BY n DESC, trigram LIMIT 25
    """,
    doc="session path analysis: the 25 most common 3-step event "
        "sequences WITHIN a session (30-min gap sessionization, same "
        "rule as streaming_sessionize) — the product-analytics staple "
        "behind 'what do users do right before purchasing'.  Ordering "
        "inside a session is pinned by (ts, event_id) so concurrent "
        "events can't reorder across engines.  Plan: ONE user-keyed "
        "shuffle drives both sessionization windows and the per-session "
        "path assembly (array_sort over collect_list — session-bounded, "
        "never a corpus sort), trigrams explode map-side bounded by "
        "events-per-session, the count shuffle carries the tiny trigram "
        "vocabulary, top-k is TakeOrdered.",
)
def _session_paths(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "ts", "event_id", "event_type")
    e = e.withColumn("__us", U.epoch_micros(e, "ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = (
        F.when(
            F.lag("__us").over(w).isNull()
            | (F.col("__us") - F.lag("__us").over(w) > 1_800_000_000),
            1,
        )
        .otherwise(0)
    )
    sid = e.withColumn("new_s", new_s).withColumn(
        "sess",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = sid.groupBy("user_id", "sess").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda x: x["event_type"],
        ).alias("path")
    )
    tri = (
        paths.filter(F.size("path") >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("path") - 3),
                    lambda i: F.concat_ws(
                        ">",
                        F.col("path")[i],
                        F.col("path")[i + 1],
                        F.col("path")[i + 2],
                    ),
                )
            ).alias("trigram")
        )
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(25)
    )


@_q(
    "rfm_segments",
    """
    WITH c AS (
      SELECT o_custkey, MAX(o_orderdate) AS last_d,
        CAST(COUNT(*) AS BIGINT) AS freq,
        SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
      FROM orders GROUP BY o_custkey),
    a AS (SELECT MAX(last_d) AS anchor FROM c),
    b AS (
      SELECT CAST(date_diff('day', c.last_d, a.anchor) AS BIGINT)
               AS recency_d,
             c.freq, c.monetary
      FROM c, a),
    s AS (
      SELECT recency_d, freq, monetary,
        CASE WHEN recency_d <= 120 THEN 'active'
             WHEN recency_d <= 365 THEN 'warm'
             ELSE 'cold' END AS r_band,
        CASE WHEN freq >= 13 THEN 'frequent'
             WHEN freq >= 9 THEN 'regular'
             ELSE 'occasional' END AS f_band,
        CASE WHEN monetary >= 3000000 THEN 'high'
             WHEN monetary >= 2000000 THEN 'mid'
             ELSE 'low' END AS m_band
      FROM b)
    SELECT r_band, f_band, m_band,
      CASE WHEN r_band = 'active' AND f_band = 'frequent'
                AND m_band = 'high' THEN 'champion'
           WHEN r_band = 'active' AND f_band <> 'occasional' THEN 'loyal'
           WHEN r_band = 'cold' AND (f_band = 'frequent'
                OR m_band = 'high') THEN 'at_risk'
           WHEN r_band = 'cold' THEN 'hibernating'
           ELSE 'developing' END AS segment,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(monetary) AS DOUBLE) AS total_monetary,
      CAST(SUM(recency_d) AS DOUBLE) / COUNT(*) AS avg_recency_days
    FROM s GROUP BY 1, 2, 3, 4
    """,
    doc="RFM customer segmentation (recency / frequency / monetary — the "
        "CRM workhorse report): per-customer last-order age vs the corpus "
        "anchor date, order count, and exact-DECIMAL lifetime spend, banded "
        "on fixed business thresholds and rolled into named segments "
        "(champion / loyal / at_risk / hibernating / developing).  "
        "Threshold bands — not quantiles — keep the whole pipeline "
        "map-only after ONE customer-keyed corpus shuffle: the anchor is "
        "the 1-row max over the checkpoint-staged customer aggregate "
        "(no second corpus scan, no scalar-reuse re-execution) broadcast "
        "back via a 1-row cross join, and the segment rollup shuffles "
        "only the ≤27-band table.  The quantile-scored variant at scale "
        "is the window_percentile_ranks_dist histogram pattern.  All "
        "band edges compare integers / exact decimals, so membership is "
        "bit-deterministic cross-engine.",
)
def _rfm(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    c = _ckpt(
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast(D2)).alias("monetary"),
        ),
        # two consumers (anchor max + the banding scan): stage so the
        # corpus aggregate is computed once (SCALING.md scalar-reuse trap)
        eager=False,
        label="rfm_customers",
    )
    anchor = c.agg(F.max("last_d").alias("anchor"))
    b = c.crossJoin(F.broadcast(anchor)).select(
        F.datediff(F.col("anchor"), F.col("last_d"))
        .cast("long")
        .alias("recency_d"),
        "freq",
        "monetary",
    )
    r_band = (
        F.when(F.col("recency_d") <= 120, "active")
        .when(F.col("recency_d") <= 365, "warm")
        .otherwise("cold")
    )
    f_band = (
        F.when(F.col("freq") >= 13, "frequent")
        .when(F.col("freq") >= 9, "regular")
        .otherwise("occasional")
    )
    m_band = (
        F.when(F.col("monetary") >= 3_000_000, "high")
        .when(F.col("monetary") >= 2_000_000, "mid")
        .otherwise("low")
    )
    s = b.select(
        "recency_d",
        "monetary",
        r_band.alias("r_band"),
        f_band.alias("f_band"),
        m_band.alias("m_band"),
    )
    segment = (
        F.when(
            (F.col("r_band") == "active")
            & (F.col("f_band") == "frequent")
            & (F.col("m_band") == "high"),
            "champion",
        )
        .when(
            (F.col("r_band") == "active") & (F.col("f_band") != "occasional"),
            "loyal",
        )
        .when(
            (F.col("r_band") == "cold")
            & ((F.col("f_band") == "frequent") | (F.col("m_band") == "high")),
            "at_risk",
        )
        .when(F.col("r_band") == "cold", "hibernating")
        .otherwise("developing")
    )
    return (
        s.withColumn("segment", segment)
        .groupBy("r_band", "f_band", "m_band", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("double").alias("total_monetary"),
            (F.sum("recency_d").cast("double") / F.count(F.lit(1))).alias(
                "avg_recency_days"
            ),
        )
    )


@_q(
    "cusum_changepoint_daily",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
        CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
    s AS (
      SELECT event_type, day, x,
        SUM(x) OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS pre,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
        SUM(x) OVER (PARTITION BY event_type) AS total,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d),
    t AS (
      SELECT event_type, day, n, total,
        n * pre - i * total AS s_raw,
        ABS(n * pre - i * total) AS s_abs
      FROM s),
    r AS (
      SELECT event_type, day, n, total, s_raw, s_abs,
        ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY s_abs DESC, day) AS rk
      FROM t)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
      CAST(n AS BIGINT) AS n_days,
      CAST(total AS BIGINT) AS total_events,
      CAST(s_raw AS BIGINT) AS s_scaled,
      CAST(s_abs AS BIGINT) AS s_abs
    FROM r WHERE rk = 1
    """,
    doc="change-point detection per event type: the day maximizing the "
        "classic cumulative-sum deviation statistic (Page 1954 / Pettitt "
        "shape) over the daily count series — 'when did this metric's "
        "level shift'.  The statistic is kept INTEGER by scaling: "
        "S_i = n·prefix_i − i·total (n× the mean-subtracted CUSUM), so "
        "the whole detector is exact bigint arithmetic with no float "
        "mean anywhere and the argmax (ties broken by earliest day) is "
        "bit-deterministic cross-engine.  Plan: ONE map-side-combined "
        "(type, day) count shuffle reduces the corpus to day-frame rows; "
        "all four window passes (prefix, index, per-type totals, the "
        "argmax rank) share the single event_type-keyed exchange over "
        "that tiny frame.  Days bucket via date_trunc on NTZ wall-clock "
        "time — timezone-proof like every event-time expression here.",
)
def _cusum(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    d = (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wo = Wn.partitionBy("event_type").orderBy("day")
    wa = Wn.partitionBy("event_type")
    s = d.select(
        "event_type",
        "day",
        F.sum("x").over(wo.rowsBetween(Wn.unboundedPreceding, 0)).alias("pre"),
        F.row_number().over(wo).alias("i"),
        F.sum("x").over(wa).alias("total"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    s_raw = F.col("n") * F.col("pre") - F.col("i") * F.col("total")
    t = s.select(
        "event_type",
        "day",
        "n",
        "total",
        s_raw.alias("s_raw"),
        F.abs(s_raw).alias("s_abs"),
    )
    rk = F.row_number().over(
        Wn.partitionBy("event_type").orderBy(F.desc("s_abs"), "day")
    )
    return (
        t.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
            F.col("n").alias("n_days"),
            F.col("total").alias("total_events"),
            F.col("s_raw").alias("s_scaled"),
            F.col("s_abs").alias("s_abs"),
        )
    )


@_q(
    "rolling_corr_daily",
    """
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS di,
        CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
        CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    sp AS (
      SELECT UNNEST(generate_series(MIN(di), MAX(di))) AS di FROM d),
    g AS (
      SELECT sp.di, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
      FROM sp LEFT JOIN d USING (di)),
    w AS (
      SELECT di, x, y,
        SUM(x) OVER win AS sx, SUM(y) OVER win AS sy,
        SUM(x * x) OVER win AS sxx, SUM(y * y) OVER win AS syy,
        SUM(x * y) OVER win AS sxy,
        ROW_NUMBER() OVER (ORDER BY di) AS rn
      FROM g
      WINDOW win AS (ORDER BY di ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT
      strftime(CAST(DATE '1970-01-01' + CAST(di AS INTEGER) AS DATE),
               '%Y-%m-%d') AS day,
      x AS n_click, y AS n_purchase,
      CAST(round(
        CAST(7 * sxy - sx * sy AS DOUBLE) /
        NULLIF(sqrt(CAST(7 * sxx - sx * sx AS DOUBLE)) *
               sqrt(CAST(7 * syy - sy * sy AS DOUBLE)), 0),
        6) AS DOUBLE) AS corr7
    FROM w WHERE rn >= 7
    """,
    doc="7-day rolling Pearson correlation between the click and purchase "
        "daily count series — the lead-indicator co-movement monitor "
        "('are conversions still tracking traffic this week?').  Exactness: "
        "day indices are integer epoch-day division of epoch micros (no "
        "timezone, no double rounding past 2^53), all five rolling "
        "sufficient statistics (Σx Σy Σx² Σy² Σxy) are windowed BIGINT "
        "sums, and the correlation is the closed form over those integers "
        "with exactly three IEEE double ops (two sqrts, one division; "
        "round 6dp; zero-variance windows NULL out via the guard).  "
        "Plan: ONE map-side-combined day-bucket shuffle reduces the "
        "corpus to the day table (checkpoint-staged for its two "
        "consumers), the min..max day spine is sequence()-GENERATED and "
        "broadcast-joined so silent zero-count days stay in the frame, "
        "and every window runs over the span-bounded spine (the PSI "
        "bounded-frame pattern — safe single partition by construction).",
)
def _rolling_corr(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(F.col("ts").isNotNull())
    e = e.withColumn("__us", U.epoch_micros(e, "ts"))
    d = _ckpt(
        e.select(F.expr("__us DIV 86400000000").alias("di"), "event_type")
        .groupBy("di")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        ),
        # two consumers (spine extent + the join): stage so the corpus
        # bucket aggregate runs once (SCALING.md scalar-reuse trap)
        eager=False,
        label="rolling_corr_buckets",
    )
    sp = d.agg(F.min("di").alias("__lo"), F.max("di").alias("__hi")).select(
        F.explode(F.sequence("__lo", "__hi")).alias("di")
    )
    g = sp.join(F.broadcast(d), "di", "left").select(
        "di",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    win = Wn.orderBy("di").rowsBetween(-6, 0)
    w = g.select(
        "di",
        "x",
        "y",
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.row_number().over(Wn.orderBy("di")).alias("rn"),
    )
    num = (F.lit(7) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    va = (F.lit(7) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vb = (F.lit(7) * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    denom = F.sqrt(va) * F.sqrt(vb)
    return w.filter(F.col("rn") >= 7).select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("di").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("x").alias("n_click"),
        F.col("y").alias("n_purchase"),
        F.round(num / F.when(denom != 0, denom), 6).alias("corr7"),
    )


@_q(
    "market_concentration_hhi",
    """
    WITH sr AS (
      SELECT l_suppkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (1 - CAST(l_discount AS DECIMAL(10,2))))
             AS DECIMAL(19,4)) AS rev
      FROM lineitem GROUP BY l_suppkey),
    j AS (
      SELECT n.n_name, sr.rev
      FROM sr
      JOIN supplier s ON sr.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey)
    SELECT n_name,
      CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      CAST(SUM(rev) AS DOUBLE) AS revenue,
      CAST(round(
        CAST(SUM(rev * rev) AS DOUBLE) /
        CAST(CAST(SUM(rev) AS DECIMAL(19,4)) *
             CAST(SUM(rev) AS DECIMAL(19,4)) AS DOUBLE),
        6) AS DOUBLE) AS hhi,
      CAST(round(CAST(MAX(rev) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE), 6)
        AS DOUBLE) AS top_share
    FROM j GROUP BY n_name
    """,
    doc="market-concentration report per nation: the Herfindahl–Hirschman "
        "index of supplier revenue shares plus the top-supplier share — "
        "the antitrust / vendor-risk screen ('is this market one outage "
        "away from a supply shock?').  The float trap here is summing "
        "share² as doubles (summation order would drift bits across "
        "partitionings); instead HHI = Σrev² / (Σrev)² with BOTH sums in "
        "exact DECIMAL and ONE rounded double division at the end.  The "
        "declared widths differ per engine on purpose — Spark DECIMAL(18,4) "
        "so the square's p1+p2+1 stays ≤ 38 (no scale truncation), DuckDB "
        "DECIMAL(19,4) so its physical multiply runs in int128 instead of "
        "overflowing int64 — but both hold the same exact 4dp values; "
        "widen both before rev exceeds 10^14 on larger corpora.  "
        "Plan: ONE supplier-keyed corpus shuffle reduces lineitem to the "
        "supplier revenue table, both dims broadcast, and the nation "
        "rollup (count / Σ / Σ² / max in one aggregate — no windows) "
        "shuffles only supplier-table-sized rows.",
)
def _hhi(spark, sf_dir):
    li, supp, nat = _load(spark, sf_dir, "lineitem", "supplier", "nation")
    disc_price = F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )
    sr = li.groupBy("l_suppkey").agg(
        F.sum(disc_price).cast("decimal(18,4)").alias("rev")
    )
    j = (
        sr.join(F.broadcast(supp), sr["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .select("n_name", "rev")
    )
    g = j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").alias("__sr"),
        F.sum(F.col("rev") * F.col("rev")).alias("__sq"),
        F.max("rev").alias("__mx"),
    )
    sr18 = F.col("__sr").cast("decimal(18,4)")
    return g.select(
        "n_name",
        "n_suppliers",
        F.col("__sr").cast("double").alias("revenue"),
        F.round(
            F.col("__sq").cast("double") / (sr18 * sr18).cast("double"), 6
        ).alias("hhi"),
        F.round(
            F.col("__mx").cast("double") / F.col("__sr").cast("double"), 6
        ).alias("top_share"),
    )


@_q(
    "keyness_log_odds",
    f"""
    WITH toks AS (
      SELECT doc_id % 2 AS s,
        unnest({tk.space_tokens_sql('lower(text)')}) AS word
      FROM documents),
    w AS (
      SELECT word,
        CAST(COUNT(*) FILTER (WHERE s = 1) AS BIGINT) AS y1,
        CAST(COUNT(*) FILTER (WHERE s = 0) AS BIGINT) AS y0
      FROM toks WHERE word <> '' GROUP BY word),
    t AS (
      SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y0) AS BIGINT) AS n0
      FROM w),
    m AS (
      SELECT word, y1, y0, n1, n0,
        CAST(1000 * (y1 + y0) AS DOUBLE) / CAST(n1 + n0 AS DOUBLE) AS a_w
      FROM w, t WHERE y1 + y0 >= 5),
    e AS (
      SELECT word, y1, y0,
        ln((CAST(y1 AS DOUBLE) + a_w) /
           (CAST(n1 + 1000 - y1 AS DOUBLE) - a_w))
        - ln((CAST(y0 AS DOUBLE) + a_w) /
             (CAST(n0 + 1000 - y0 AS DOUBLE) - a_w)) AS delta,
        CAST(y1 AS DOUBLE) + a_w AS num1,
        CAST(y0 AS DOUBLE) + a_w AS num0
      FROM m),
    z AS (
      SELECT word, y1, y0,
        CAST(round(delta, 6) AS DOUBLE) AS delta6,
        CAST(round(delta / sqrt(1.0 / num1 + 1.0 / num0), 6) AS DOUBLE)
          AS z6
      FROM e)
    SELECT word, y1, y0, delta6, z6
    FROM z ORDER BY abs(z6) DESC, word LIMIT 30
    """,
    doc="weighted log-odds keyness between two corpus slices (Monroe, "
        "Colaresi & Quinn 2008 'Fightin' Words'): the top-30 words whose "
        "usage rate most diverges between the even- and odd-doc_id halves "
        "of the documents corpus, scored by the log-odds-ratio under an "
        "informative Dirichlet prior drawn from the combined corpus and "
        "ranked by |z|.  The topic-drift screen between crawl snapshots — "
        "raw frequency ratios over-rank rare words; the prior shrinks "
        "exactly those.  Exactness: ONE vocabulary-keyed count shuffle "
        "(map-side combined, checkpoint-staged for its totals + per-word "
        "consumers), totals broadcast back as a 1-row cross join, then a "
        "fixed IEEE sequence per word — the two ln() calls are the only "
        "libm steps and 6dp rounding absorbs their ULP (the Benford "
        "log10 precedent); ranking reads the ROUNDED z so top-k is "
        "bit-deterministic.  Operator: operators/text.py log_odds_keyness",
)
def _keyness(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    d = docs.withColumn("__slice", (F.col("doc_id") % 2).cast("long"))
    out = tx.log_odds_keyness(d, "text", "__slice", a0=1000, min_count=5)
    out = out.select(
        "word",
        "y1",
        "y0",
        F.round("delta", 6).alias("delta6"),
        F.round("z", 6).alias("z6"),
    )
    return out.orderBy(F.abs(F.col("z6")).desc(), "word").limit(30)


@_q(
    "ab_test_conversion",
    """
    WITH r AS (
      SELECT user_id, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    u AS (
      SELECT user_id % 2 AS variant,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM r WHERE rn = 1),
    c AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE variant = 0) AS BIGINT) AS n0,
        CAST(COUNT(*) FILTER (WHERE variant = 1) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
          AS c0,
        CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT)
          AS c1
      FROM u),
    s AS (
      SELECT n0, n1, c0, c1,
        CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
        CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
      FROM c),
    z AS (
      SELECT n0, n1, c0, c1, p0, p1,
        CAST(round((p1 - p0) /
          NULLIF(sqrt(pp * (1.0 - pp) *
               (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 0),
          6) AS DOUBLE) AS z6
      FROM s)
    SELECT n0 AS n_control, n1 AS n_treatment,
      c0 AS conv_control, c1 AS conv_treatment,
      CAST(round(p0, 6) AS DOUBLE) AS p_control,
      CAST(round(p1, 6) AS DOUBLE) AS p_treatment,
      CAST(round(p1 - p0, 6) AS DOUBLE) AS lift,
      z6 AS z_score,
      CAST(CASE WHEN abs(z6) > 1.96 THEN 1 ELSE 0 END AS BIGINT)
        AS significant
    FROM z
    """,
    doc="A/B experiment readout: two-proportion z-test of FIRST-TOUCH "
        "conversion (is the user's first tracked event a purchase?) "
        "between the deterministic user_id-parity buckets — the "
        "hash-bucket assignment a real platform uses, same family as "
        "mixture_sample's md5 buckets.  First-touch keeps the metric "
        "volume-independent (any 'ever purchased' outcome saturates to "
        "100% as events-per-user grow — it did on this very corpus) and "
        "the unit of analysis is the USER, so heavy users can't inflate "
        "their arm (the classic unit-mismatch bug).  First events are "
        "pinned by (ts, event_id) so ties can't reorder across engines; "
        "counts are exact longs; the pooled-variance z statistic is one "
        "fixed IEEE sequence rounded 6dp (zero-variance guard NULLs it), "
        "and significance thresholds on the ROUNDED z so the verdict is "
        "bit-deterministic.  Plan: ONE user-keyed corpus shuffle drives "
        "the first-event window, then a 1-row total aggregate — nothing "
        "else moves.",
)
def _ab_test(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    w = Wn.partitionBy("user_id").orderBy("ts", "event_id")
    u = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            (F.col("user_id") % 2).alias("variant"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("conv"),
        )
    )
    c = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
        .alias("c0"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
        .alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    s = c.select(
        "n0",
        "n1",
        "c0",
        "c1",
        p0.alias("p0"),
        p1.alias("p1"),
        pp.alias("pp"),
    )
    se = F.sqrt(
        F.col("pp")
        * (F.lit(1.0) - F.col("pp"))
        * (
            F.lit(1.0) / F.col("n0").cast("double")
            + F.lit(1.0) / F.col("n1").cast("double")
        )
    )
    z = s.select(
        "n0",
        "n1",
        "c0",
        "c1",
        "p0",
        "p1",
        F.round(
            (F.col("p1") - F.col("p0")) / F.when(se != 0, se), 6
        ).alias("z6"),
    )
    return z.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        F.col("c0").alias("conv_control"),
        F.col("c1").alias("conv_treatment"),
        F.round("p0", 6).alias("p_control"),
        F.round("p1", 6).alias("p_treatment"),
        F.round(F.col("p1") - F.col("p0"), 6).alias("lift"),
        F.col("z6").alias("z_score"),
        F.when(F.abs(F.col("z6")) > 1.96, 1)
        .otherwise(0)
        .cast("long")
        .alias("significant"),
    )


@_q(
    "cohort_ltv_curve",
    """
    WITH e AS (
      SELECT user_id, date_trunc('week', ts) AS wk, value FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    f AS (
      SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id),
    sz AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM f GROUP BY cohort),
    r AS (
      SELECT f.cohort,
        CAST(date_diff('day', f.cohort, e.wk) / 7 AS BIGINT) AS week_offset,
        SUM(CAST(e.value AS DECIMAL(12,2))) AS rev
      FROM e JOIN f USING (user_id)
      WHERE e.value IS NOT NULL
      GROUP BY 1, 2),
    c AS (
      SELECT cohort, week_offset, rev,
        SUM(rev) OVER (PARTITION BY cohort ORDER BY week_offset
                       ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM r)
    SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week, c.week_offset,
      sz.cohort_users,
      CAST(c.rev AS DOUBLE) AS revenue,
      CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
      CAST(round(CAST(c.cum_rev AS DOUBLE) / CAST(sz.cohort_users AS DOUBLE),
                 6) AS DOUBLE) AS ltv_per_user
    FROM c JOIN sz USING (cohort)
    """,
    doc="cohort lifetime-value curve: cumulative revenue per user by "
        "signup-week cohort and week offset — the LTV companion to "
        "retention_cohorts (same Monday-aligned week math, so offsets "
        "divide exactly by 7).  Revenue accumulates in exact DECIMAL "
        "(the cumulative window runs over the cohort×offset frame — "
        "dashboard-sized, never the corpus) and the per-user division "
        "is one rounded double op.  Plan: the filtered corpus is "
        "checkpoint-staged (first-week + revenue consumers), the "
        "first-week table staged again for its size + join consumers, "
        "the revenue join is user-keyed equi (co-partitioned with the "
        "first-week aggregate), and cohort sizes broadcast onto the "
        "tiny curve table.",
)
def _cohort_ltv(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    e = _ckpt(
        events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("week", "ts").alias("wk"), "value"),
        # two consumers (first-week aggregate + the revenue join):
        # stage so the corpus scan runs once (scalar-reuse trap)
        eager=False,
        label="cohort_ltv_events",
    )
    f = _ckpt(
        e.groupBy("user_id")
        .agg(F.min("wk").alias("cohort")),
        # two consumers (cohort sizes + the revenue join)
        eager=False,
        label="cohort_ltv_first_week",
    )
    sz = f.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    r = (
        e.filter(F.col("value").isNotNull())
        .join(f, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.sum(F.col("value").cast(D2)).alias("rev"))
    )
    cum = F.sum("rev").over(
        Wn.partitionBy("cohort")
        .orderBy("week_offset")
        .rowsBetween(Wn.unboundedPreceding, 0)
    )
    c = r.withColumn("cum_rev", cum)
    return c.join(F.broadcast(sz), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "cohort_users",
        F.col("rev").cast("double").alias("revenue"),
        F.col("cum_rev").cast("double").alias("cum_revenue"),
        F.round(
            F.col("cum_rev").cast("double")
            / F.col("cohort_users").cast("double"),
            6,
        ).alias("ltv_per_user"),
    )


@_q(
    "neyman_allocation_orders",
    """
    WITH m AS (
      SELECT o_orderpriority AS stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))
            * CAST(o_totalprice AS DECIMAL(18,2))) AS sxx
      FROM orders GROUP BY 1),
    s AS (
      SELECT stratum, n_rows,
        CASE WHEN n_rows > 1 THEN
          sqrt((CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) - 1.0)))
        ELSE 0.0 END AS sd
      FROM m),
    w AS (
      SELECT stratum, n_rows, sd,
        CAST(round(CAST(n_rows AS DOUBLE) * sd, 4) AS DECIMAL(28,4)) AS wgt
      FROM s),
    t AS (SELECT SUM(wgt) AS tot FROM w)
    SELECT stratum, n_rows,
      CAST(round(sd, 6) AS DOUBLE) AS stddev6,
      CAST(round(CAST(wgt AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS DOUBLE)
        AS share6,
      CAST(floor(10000 * (CAST(wgt AS DOUBLE) / CAST(t.tot AS DOUBLE)) + 0.5)
        AS BIGINT) AS alloc_n
    FROM w, t
    """,
    doc="Neyman-optimal stratified-sample allocation (n_h ∝ N_h·S_h, "
        "Neyman 1934): how a 10k-row audit budget should split across "
        "order-priority strata so the stratified mean estimator has "
        "minimum variance — big or volatile strata get more budget, "
        "near-constant strata almost none.  The survey-sampling upgrade "
        "to proportional allocation for eval-set draws over skewed "
        "corpora.  Exactness: per-stratum S_h from EXACT decimal "
        "moments (order-independent sums, one fixed IEEE expression); "
        "the weight N_h·S_h is rounded 4dp and cast BACK to DECIMAL so "
        "the across-strata total is an exact order-independent sum — a "
        "double total would depend on stratum visit order.  Plan: ONE "
        "map-side-combinable moment shuffle, then window+math over the "
        "5-row stratum dim.  Operator: operators/sampling.py "
        "neyman_allocation (+ stratified_sample_neyman applies the "
        "rates via the portable md5 bucket).",
)
def _neyman(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return sa.neyman_allocation(
        orders, "o_orderpriority", "o_totalprice", total_n=10_000
    )


@_q(
    "txlog_time_travel",
    f"""
    WITH v1 AS (
      SELECT 'v1-open' AS snapshot, o_orderpriority,
        COUNT(*) AS n_orders,
        {SQL_SUM.format(col="o_totalprice")} AS total_price
      FROM orders WHERE o_orderstatus = 'O' GROUP BY 2),
    v2 AS (
      SELECT 'v2-open+fulfilled' AS snapshot, o_orderpriority,
        COUNT(*) AS n_orders,
        {SQL_SUM.format(col="o_totalprice")} AS total_price
      FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 2)
    SELECT * FROM v1 UNION ALL SELECT * FROM v2
    """,
    doc="ACID transaction log with time travel (sources/txlog.py — the "
        "lakehouse Delta/Iceberg primitive from first principles): open "
        "orders are committed as version 0, fulfilled orders appended "
        "as version 1, then BOTH snapshots are read back — v0 via time "
        "travel, v1 as the head — and aggregated.  The oracle "
        "aggregates the original table filtered to each version's "
        "status set, so a reader that lists the data directory instead "
        "of replaying the log (leaking the append into v0), a lost "
        "append, or a half-visible commit breaks the hash.  Readers "
        "get the explicit live-file list from the log — a crashed "
        "writer's staging dir is invisible by construction; the commit "
        "point is a put-if-absent on the version file (optimistic "
        "concurrency).  Log replay is O(commits) driver-side metadata; "
        "data moves only through normal parquet jobs.",
)
def _txlog_tt(spark, sf_dir):
    import shutil
    import tempfile

    from .sources import txlog

    (orders,) = _load(spark, sf_dir, "orders")
    t = _scratch(f"automated_batch_data_pipeline_nyc_txlog_{os.path.basename(os.path.normpath(sf_dir))}")
    # append semantics are stateful: start from a clean table each run
    shutil.rmtree(t, ignore_errors=True)
    v0 = txlog.commit(
        orders.filter(F.col("o_orderstatus") == "O"), t, mode="overwrite"
    )
    v1 = txlog.commit(
        orders.filter(F.col("o_orderstatus") == "F"), t, mode="append"
    )

    def _agg(df, label):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "total_price"),
        ).select(F.lit(label).alias("snapshot"), "*")

    past = txlog.read_table(spark, t, version=v0)
    head = txlog.read_table(spark, t, version=v1)
    return _agg(past, "v1-open").unionByName(
        _agg(head, "v2-open+fulfilled")
    )


@_q(
    "graph_bfs_hops",
    f"""
    WITH RECURSIVE
    {_SQL_PREFIX_PAIRS},
    und AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, dist) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
      UNION
      SELECT u.b, w.dist + 1 FROM walk w JOIN und u ON u.a = w.node
      WHERE w.dist < 4
    )
    SELECT node AS doc_id, CAST(MIN(dist) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
    doc="bounded-radius BFS: min-hop distance (≤4) from a seed set "
        "(every 97th doc) over the SAME oracle-verified jaccard-prefix "
        "near-dup pair graph as dedup_components — the blast-radius "
        "primitive ('everything within k links of these known-bad "
        "docs') and the shortest-path complement to connected "
        "components (whether vs HOW CLOSE nodes connect).  Frontier "
        "BFS: per level ONE shuffle joins the narrow frontier to the "
        "static symmetrized edge list, an anti-join drops visited "
        "nodes (each node labeled once, at its true min distance — "
        "BFS levels are monotone), lineage checkpoint-truncated, "
        "Pregel-style limit(1) stop probe; ≤max_hops shuffles total.  "
        "The oracle is a depth-bounded recursive SQL walk taking "
        "MIN(dist) per node — hop counts are exact integers, so the "
        "labeling matches exactly.  Operator: operators/graph.py "
        "bfs_hops",
)
def _bfs_hops(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    pairs = dd.jaccard_prefix_pairs(docs, "doc_id", "text", n=2, threshold=0.8)
    seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("node")
    )
    out = gr.bfs_hops(seeds, pairs.select("id_a", "id_b"), max_hops=4)
    return out.select(F.col("node").alias("doc_id"), "hops")


@_q(
    "survival_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id, MIN(ts) AS t0,
        MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id),
    mx AS (SELECT MAX(ts) AS tmax FROM events WHERE ts IS NOT NULL),
    d AS (
      SELECT
        CAST(date_diff('day', u.t0, COALESCE(u.tp, mx.tmax)) AS BIGINT)
          AS dur,
        CASE WHEN u.tp IS NOT NULL THEN 1 ELSE 0 END AS died
      FROM u, mx),
    tbl AS (
      SELECT dur, CAST(SUM(died) AS BIGINT) AS deaths,
        CAST(COUNT(*) AS BIGINT) AS leaving
      FROM d GROUP BY dur),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    r AS (
      SELECT dur, deaths, leaving,
        CAST(tot.n - COALESCE(SUM(leaving) OVER (ORDER BY dur
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS at_risk
      FROM tbl, tot),
    k AS (
      SELECT dur, deaths, at_risk,
        SUM(CASE WHEN deaths < at_risk THEN
              ln(1.0 - CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE))
            END)
          OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS lsum
      FROM r)
    SELECT dur AS dur_days, at_risk, deaths,
      CASE WHEN deaths = at_risk THEN CAST(0.0 AS DOUBLE)
           ELSE CAST(round(exp(lsum), 6) AS DOUBLE) END AS surv6
    FROM k WHERE deaths > 0
    """,
    doc="Kaplan-Meier survival curve: time from each user's first "
        "tracked event to first PURCHASE (users who never purchase are "
        "right-censored at the corpus horizon) — the time-to-convert "
        "estimator that, unlike a naive conversion-rate-by-day, is "
        "unbiased under censoring because censored users leave the "
        "risk set without counting as failures.  S(t) = Π over death "
        "times ≤ t of (1 - d_i/n_i).  Exactness: durations/deaths/"
        "risk-set counts are exact integers (date_diff day boundaries "
        "== Spark datediff calendar days); the product runs as "
        "exp(Σ ln(1-d/n)) with the running sum over the DISTINCT-"
        "DURATION table (horizon-bounded, never the corpus) in "
        "deterministic dur order — identical IEEE sequence both "
        "engines, 6dp round absorbs libm ULP; a full-wipe tail row "
        "(d=n, ln 0) is necessarily last and pinned to 0.0 by CASE.  "
        "Plan: ONE user-keyed corpus shuffle, a broadcast 1-row "
        "horizon, then window+agg over the tiny duration table.",
)
def _survival_km(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    mx = events.filter(F.col("ts").isNotNull()).agg(
        F.max("ts").alias("tmax")
    )
    d = u.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.coalesce("tp", "tmax"), F.col("t0"))
        .cast("bigint")
        .alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("died"),
    )
    # two consumers (duration table + the 1-row total): stage once
    d = _ckpt(d, eager=False, label="survival_km_durations")
    tbl = d.groupBy("dur").agg(
        F.sum("died").cast("bigint").alias("deaths"),
        F.count(F.lit(1)).alias("leaving"),
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    # windows over the distinct-duration table: horizon-bounded (a few
    # hundred rows at any sf), safe single-partition frame
    w_prev = Wn.orderBy("dur").rowsBetween(Wn.unboundedPreceding, -1)
    w_run = Wn.orderBy("dur").rowsBetween(Wn.unboundedPreceding, 0)
    r = tbl.crossJoin(F.broadcast(tot)).withColumn(
        "at_risk",
        F.col("n") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    )
    k = r.withColumn(
        "lsum",
        F.sum(
            F.when(
                F.col("deaths") < F.col("at_risk"),
                F.log(
                    F.lit(1.0)
                    - F.col("deaths").cast("double")
                    / F.col("at_risk").cast("double")
                ),
            )
        ).over(w_run),
    )
    return k.filter(F.col("deaths") > 0).select(
        F.col("dur").alias("dur_days"),
        "at_risk",
        "deaths",
        F.when(F.col("deaths") == F.col("at_risk"), F.lit(0.0))
        .otherwise(F.round(F.exp("lsum"), 6))
        .alias("surv6"),
    )


@_q(
    "gini_revenue_concentration",
    """
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey),
    rk AS (
      SELECT o_custkey, rev,
        ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i,
        NTILE(10) OVER (ORDER BY rev, o_custkey) AS decile
      FROM rev),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rev) AS total,
        SUM(CAST(i AS DECIMAL(18,0)) * rev) AS iw
      FROM rk),
    gini AS (
      SELECT n, total,
        CAST(round(
          2.0 * CAST(iw AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
          - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS DOUBLE)
          AS gini6
      FROM g),
    dec AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS customers,
        SUM(rev) AS drev
      FROM rk GROUP BY decile)
    SELECT CAST(d.decile AS BIGINT) AS decile, d.customers,
      CAST(d.drev AS DOUBLE) AS revenue,
      CAST(round(CAST(d.drev AS DOUBLE) / CAST(g2.total AS DOUBLE), 6)
        AS DOUBLE) AS rev_share6,
      CAST(round(
        CAST(SUM(d.drev) OVER (ORDER BY d.decile ROWS UNBOUNDED PRECEDING)
          AS DOUBLE) / CAST(g2.total AS DOUBLE), 6) AS DOUBLE)
        AS cum_share6,
      g2.gini6, g2.n AS n_customers
    FROM dec d, gini g2
    """,
    doc="Gini coefficient + decile Lorenz curve of customer revenue "
        "concentration — the inequality summary behind 'whale' "
        "analysis, one level deeper than market_concentration_hhi "
        "(HHI measures firm shares; Gini measures the whole "
        "distribution's skew).  G = 2·Σi·x(i)/(n·Σx) − (n+1)/n over "
        "revenue-ascending ranks.  Exactness: revenue and the "
        "rank-weighted sum stay in exact DECIMAL end-to-end (i ≤ "
        "customer count, so i·rev sums are overflow-safe in "
        "DECIMAL(38,2) far past 100 TB), cast to double once for the "
        "two-term Gini formula rounded 6dp; (rev, custkey) makes the "
        "rank order total, and NTILE(10) over a total order is "
        "engine-identical by the SQL-standard bucket rule.  Plan: one "
        "fact shuffle into the customer aggregate; ranks come from "
        "operators/windows.py::global_row_number — the two-level "
        "bucketed prefix scan, NO unpartitioned window over the "
        "customer frame (customers are the schema's largest 'dim'; at "
        "100x a single-task sort here is the bottleneck — VERDICT r5 "
        "item 3).  NTILE(10) is then the closed-form SQL-standard "
        "bucket rule applied to (i, n): the first n%10 deciles hold "
        "ceil(n/10) rows, the rest floor(n/10).  Ends in a 10-row "
        "Lorenz aggregate with the 1-row Gini broadcast back.",
)
def _gini_conc(spark, sf_dir):
    from pyspark.sql import Window as Wn

    from .operators.windows import global_row_number

    (orders,) = _load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked = global_row_number(rev, "rev", "o_custkey", out_col="i")
    n_row = rev.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    i, nn = F.col("i"), F.col("__n")
    q, r = (nn / 10).cast("long"), nn % 10
    # SQL-standard NTILE(10): buckets 1..r get q+1 rows, r+1..10 get q;
    # with n < 10 (q = 0) each row is its own bucket, i.e. decile = i.
    decile = (
        F.when(q == 0, i)
        .when(i <= r * (q + 1), F.floor((i - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((i - r * (q + 1) - 1) / q) + 1)
        .cast("int")
    )
    rk = _ckpt(
        ranked.crossJoin(F.broadcast(n_row))
        .select("o_custkey", "rev", "i", decile.alias("decile")),
        # two consumers (totals + decile aggregate): stage the ranked dim
        eager=False,
        label="gini_ranked",
    )
    g = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("total"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("rev")).alias("iw"),
    )
    gini = g.select(
        "n",
        "total",
        F.round(
            F.lit(2.0)
            * F.col("iw").cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0))
            / F.col("n").cast("double"),
            6,
        ).alias("gini6"),
    )
    dec = rk.groupBy("decile").agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum("rev").alias("drev"),
    )
    w_cum = Wn.orderBy("decile").rowsBetween(Wn.unboundedPreceding, 0)
    return dec.crossJoin(F.broadcast(gini)).select(
        F.col("decile").cast("bigint").alias("decile"),
        "customers",
        F.col("drev").cast("double").alias("revenue"),
        F.round(
            F.col("drev").cast("double") / F.col("total").cast("double"), 6
        ).alias("rev_share6"),
        F.round(
            F.sum("drev").over(w_cum).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("cum_share6"),
        "gini6",
        F.col("n").alias("n_customers"),
    )


@_q(
    "seasonal_dow_anomalies",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    s AS (
      SELECT isodow(d) AS dow, CAST(COUNT(*) AS BIGINT) AS days,
        SUM(rev) AS dow_rev
      FROM daily GROUP BY 1),
    t AS (SELECT SUM(rev) AS tot_rev, CAST(COUNT(*) AS BIGINT) AS tot_days
          FROM daily),
    j AS (
      SELECT daily.d, daily.rev, s.dow,
        CAST(s.dow_rev AS DOUBLE) / CAST(s.days AS DOUBLE) AS dow_avg,
        (CAST(s.dow_rev AS DOUBLE) / CAST(s.days AS DOUBLE))
          / (CAST(t.tot_rev AS DOUBLE) / CAST(t.tot_days AS DOUBLE))
          AS idx
      FROM daily JOIN s ON isodow(daily.d) = s.dow, t),
    z AS (
      SELECT strftime(d, '%Y-%m-%d') AS day, CAST(dow AS BIGINT) AS dow,
        CAST(rev AS DOUBLE) AS revenue,
        CAST(round(dow_avg, 6) AS DOUBLE) AS dow_avg6,
        CAST(round(idx, 6) AS DOUBLE) AS index6,
        CAST(round(CAST(rev AS DOUBLE) / dow_avg, 6) AS DOUBLE) AS ratio6
      FROM j)
    SELECT day, dow, revenue, dow_avg6, index6, ratio6
    FROM z ORDER BY abs(ratio6 - 1.0) DESC, day LIMIT 15
    """,
    doc="seasonal decomposition + anomaly ranking: daily revenue vs "
        "its ISO-weekday seasonal average — each day's deseasonalized "
        "ratio (revenue / weekday mean) beside the weekday's seasonal "
        "index (weekday mean / overall daily mean), top-15 days by "
        "deviation.  The ratio-to-seasonal-average screen that "
        "separates 'it's just Saturday' from a genuine demand spike — "
        "the calendar-aware complement to rolling_zscore_anomalies "
        "and cusum_changepoint_daily.  Exactness: daily/weekday "
        "revenue in exact DECIMAL; the index/ratio are fixed double "
        "op sequences rounded 6dp; ranking reads the ROUNDED ratio "
        "with a day tiebreak so top-k is bit-deterministic; ISO "
        "weekday derived arithmetically from Spark's Sunday-based "
        "dayofweek (the events_dow_hour_matrix recipe).  Plan: one "
        "fact shuffle into the date-bounded daily table (staged for "
        "its three consumers), 7-row seasonal + 1-row total aggregates "
        "broadcast back, TakeOrdered top-k — the corpus is scanned "
        "once.",
)
def _seasonal_dow(spark, sf_dir):
    daily = _ckpt(
        _daily_revenue(spark, sf_dir)
        .withColumn(
            "dow", ((F.dayofweek("d") + 5) % 7 + 1).cast("bigint")
        ),
        # three consumers (seasonal agg, total agg, the day join)
        eager=False,
        label="seasonal_dow_daily",
    )
    s = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("days"), F.sum("rev").alias("dow_rev")
    )
    t = daily.agg(
        F.sum("rev").alias("tot_rev"), F.count(F.lit(1)).alias("tot_days")
    )
    dow_avg = F.col("dow_rev").cast("double") / F.col("days").cast("double")
    overall = F.col("tot_rev").cast("double") / F.col("tot_days").cast(
        "double"
    )
    j = (
        daily.join(F.broadcast(s), "dow")
        .crossJoin(F.broadcast(t))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dow"),
            F.col("rev").cast("double").alias("revenue"),
            F.round(dow_avg, 6).alias("dow_avg6"),
            F.round(dow_avg / overall, 6).alias("index6"),
            F.round(F.col("rev").cast("double") / dow_avg, 6).alias(
                "ratio6"
            ),
        )
    )
    return j.orderBy(
        F.abs(F.col("ratio6") - F.lit(1.0)).desc(), "day"
    ).limit(15)


@_q(
    "user_event_entropy",
    """
    WITH c AS (
      SELECT user_id,
        CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
          AS c_click,
        CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
          AS c_view,
        CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
          AS c_purchase,
        CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
          AS c_signup,
        CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
          AS c_error,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY user_id)
    SELECT user_id, n,
      CAST((CASE WHEN c_click > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_view > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_purchase > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_signup > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_error > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_types,
      CAST(round(
        ln(CAST(n AS DOUBLE))
        - ((CASE WHEN c_click > 0
              THEN CAST(c_click AS DOUBLE) * ln(CAST(c_click AS DOUBLE))
              ELSE 0.0 END)
         + (CASE WHEN c_view > 0
              THEN CAST(c_view AS DOUBLE) * ln(CAST(c_view AS DOUBLE))
              ELSE 0.0 END)
         + (CASE WHEN c_purchase > 0
              THEN CAST(c_purchase AS DOUBLE)
                   * ln(CAST(c_purchase AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN c_signup > 0
              THEN CAST(c_signup AS DOUBLE) * ln(CAST(c_signup AS DOUBLE))
              ELSE 0.0 END)
         + (CASE WHEN c_error > 0
              THEN CAST(c_error AS DOUBLE) * ln(CAST(c_error AS DOUBLE))
              ELSE 0.0 END)) / CAST(n AS DOUBLE), 6) AS DOUBLE)
        AS entropy6
    FROM c
    """,
    doc="per-user Shannon entropy of the event-type mix — the "
        "behavioral-diversity feature behind bot screening (a scraper "
        "is near-0 entropy, a human browses a mix) and audience "
        "segmentation, computed as H = ln n − (Σ cᵢ ln cᵢ)/n so every "
        "term is a function of exact integer counts.  Determinism: "
        "the five event types pivot to FIXED columns, so the Σ is a "
        "fixed-order scalar expression tree (never a float SUM whose "
        "partial-aggregate order could differ across engines) — "
        "identical IEEE sequence both sides, 6dp round absorbs ln "
        "ULP.  Plan: ONE user-keyed count shuffle (map-side "
        "combinable conditional counts), then map-only math; output "
        "is the user dim.",
)
def _user_entropy(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    types = ["click", "view", "purchase", "signup", "error"]
    c = e.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"c_{t}")
            for t in types
        ],
        F.count(F.lit(1)).alias("n"),
    )
    plogp = None
    for t in types:
        ct = F.col(f"c_{t}")
        term = F.when(
            ct > 0, ct.cast("double") * F.log(ct.cast("double"))
        ).otherwise(F.lit(0.0))
        plogp = term if plogp is None else plogp + term
    n_types = None
    for t in types:
        ind = F.when(F.col(f"c_{t}") > 0, 1).otherwise(0)
        n_types = ind if n_types is None else n_types + ind
    return c.select(
        "user_id",
        "n",
        n_types.cast("bigint").alias("n_types"),
        F.round(
            F.log(F.col("n").cast("double"))
            - plogp / F.col("n").cast("double"),
            6,
        ).alias("entropy6"),
    )


@_q(
    "l_diversity_events",
    """
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             hour(ts) AS h, minute(ts) AS m,
             COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_sensitive
      FROM events GROUP BY 1, 2, 3, 4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(SUM(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_homogeneous_groups,
      CAST(SUM(CASE WHEN n_sensitive < 3 THEN n ELSE 0 END) AS BIGINT)
        AS n_rows_at_risk,
      CAST(MIN(n_sensitive) AS BIGINT) AS effective_l
    FROM g
    """,
    doc="l-diversity privacy census (Machanavajjhala et al. 2007) over "
        "the events table at (event_type, date, hour, minute) "
        "granularity with user_id as the sensitive attribute — the "
        "audit k-anonymity misses: a group can clear k members yet "
        "leak the sensitive value outright when all members share it "
        "(homogeneity attack).  Counts the quasi-identifier groups "
        "whose sensitive column has < 3 distinct values, the rows in "
        "them, and the dataset's effective l.  Plan: one shuffle keyed "
        "on the quasi columns (the per-group exact COUNT(DISTINCT) is "
        "a single Expand, still map-side combinable), then a group-"
        "table fold.  Operator: operators/quality.py "
        "l_diversity_summary / l_diversity_audit",
)
def _ldiv(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    quasi = events.select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("m"),
        "user_id",
    )
    return Q.l_diversity_summary(
        quasi, ["event_type", "d", "h", "m"], "user_id", l=3
    )


@_q(
    "zipf_vocab_fit",
    f"""
    WITH w AS (
      SELECT unnest({tk.space_tokens_sql('text')}) AS word FROM documents
    ), f AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM w WHERE word <> '' GROUP BY 1
    ), r AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, word ASC)
                     AS DOUBLE)) AS lx,
             ln(CAST(freq AS DOUBLE)) AS ly, freq
      FROM f
    ), a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(freq) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(lx) AS sx, SUM(lx * lx) AS sxx,
             SUM(ly) AS sy, SUM(ly * ly) AS syy, SUM(lx * ly) AS sxy
      FROM r)
    SELECT n_types, n_tokens,
      CAST(round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
        AS zipf_slope,
      CAST(round(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * (sx / n), 6) AS DOUBLE) AS intercept,
      CAST(round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS DOUBLE) AS r2
    FROM a
    """,
    doc="Zipf rank-frequency fit over the corpus vocabulary (Zipf "
        "1949): OLS slope/r2 of ln freq ~ ln rank — natural text sits "
        "near slope −1 with a tight fit, so a bent curve is the cheap "
        "whole-corpus smoke alarm for templated spam or crawler "
        "artifacts, run next to the per-document quality scores.  The "
        "only corpus-sized stage is the unigram count; the rank window "
        "runs over the VOCABULARY (types, not tokens — executor-"
        "trivial even at 100 TB).  Slope/intercept/r2 round to 6dp "
        "(ln ULP + float-sum order).  Operator: operators/text.py "
        "zipf_fit",
)
def _zipf(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return tx.zipf_fit(docs, "text")


@_q(
    "auc_price_basket_size",
    """
    WITH lc AS (
      SELECT l_orderkey, COUNT(*) AS nl FROM lineitem GROUP BY 1
    ), s AS (
      SELECT o_totalprice AS score, (coalesce(nl, 0) >= 5) AS pos
      FROM orders LEFT JOIN lc ON o_orderkey = l_orderkey
      WHERE o_totalprice IS NOT NULL
    ), h AS (
      SELECT score,
        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS cn
      FROM s GROUP BY score
    ), c AS (
      SELECT cp, cn, SUM(cn) OVER (ORDER BY score) AS cumn FROM h
    ), t AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
             CAST(SUM(cn) AS BIGINT) AS n_neg FROM h)
    SELECT n_pos, n_neg,
      CAST(SUM(cp * (2 * cumn - cn)) AS DOUBLE)
        / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
    FROM c, t GROUP BY n_pos, n_neg
    """,
    doc="distributed ROC-AUC (Mann–Whitney rank-sum identity): how well "
        "the order total ranks large baskets (>= 5 lineitems) — the "
        "eval every scoring feature/quality classifier needs, computed "
        "without materializing a single ROC point: per distinct score, "
        "a positive beats the negatives strictly below and half-ties "
        "the negatives at the same score, so 2U folds from the "
        "inclusive running negative counts.  Exact integer arithmetic "
        "(DECIMAL(38,0) pair sums — the pair count overflows BIGINT "
        "long before 100 TB) until ONE final double division — bit-"
        "reproducible unrounded.  Same two-level prefix-scan plan as "
        "ks_drift_price: one corpus shuffle, no global-order window "
        "over the data (the oracle's ORDER BY window is the semantic "
        "spec, not the plan).  The label join aggregates lineitem "
        "before joining, so the fact table never carries the label "
        "probe.  The synthetic fixture draws totals independently of "
        "basket size, so the verified value sits near the null 0.5; "
        "discrimination itself is pinned by the perfect/reversed/tied "
        "edge pytests.  Operator: operators/stats.py rank_sum_auc",
)
def _auc(spark, sf_dir):
    from .operators.stats import rank_sum_auc

    orders, lineitem = _load(spark, sf_dir, "orders", "lineitem")
    lc = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    scored = (
        orders.join(lc, "o_orderkey", "left")
        .select(
            F.col("o_totalprice").alias("score"),
            (F.coalesce(F.col("nl"), F.lit(0)) >= 5).alias("pos"),
        )
    )
    return rank_sum_auc(scored, "score", F.col("pos"))


def _poisson_case_sql(u_expr: str) -> str:
    """CASE translating u -> Poisson(1) multiplicity from the SAME fixed
    threshold literals the Spark when-chain uses
    (operators/sampling.py POISSON1_CDF) — repr() round-trips doubles
    exactly, so both engines compare against bit-identical constants."""
    whens = "\n        ".join(
        f"WHEN {u_expr} < {t!r} THEN {k}"
        for k, t in enumerate(sa.POISSON1_CDF)
    )
    return f"CASE {whens}\n        ELSE {len(sa.POISSON1_CDF)} END"


@_q(
    "bootstrap_revenue_ci",
    f"""
    WITH s AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k,
             CAST(o_totalprice AS DECIMAL(12,2)) AS x, g.b AS b
      FROM orders, generate_series(1, 32) AS g(b)
      WHERE o_totalprice IS NOT NULL
    ), u AS (
      SELECT b, x,
        (CAST(('0x' || substring(
             md5('42' || chr(31) || k || chr(31) || CAST(b AS VARCHAR)),
             1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
      FROM s
    ), w AS (
      SELECT b, x, {_poisson_case_sql("u")} AS w FROM u
    ), m AS (
      SELECT b, round(CAST(SUM(w * x) AS DOUBLE)
                      / CAST(SUM(w) AS DOUBLE), 6) AS mean6
      FROM w GROUP BY b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
      CAST(round(AVG(mean6), 6) AS DOUBLE) AS boot_mean,
      CAST(round(quantile_cont(mean6, 0.025), 6) AS DOUBLE) AS ci_lo,
      CAST(round(quantile_cont(mean6, 0.975), 6) AS DOUBLE) AS ci_hi
    FROM m
    """,
    doc="Poisson-bootstrap 95% confidence interval for the mean order "
        "total — the resampling trick that makes the bootstrap work at "
        "corpus scale: instead of 32 indexed draws-with-replacement, "
        "every row gets an independent Poisson(1) multiplicity per "
        "replica (inverse-CDF on a portable md5 uniform with FIXED "
        "threshold literals), so all 32 replicas compute in ONE scan — "
        "the explode is map-side, partial aggregation ships "
        "n_partitions x 32 rows, and the percentile fold runs over 32 "
        "replica means.  Replica means are exact-DECIMAL weighted sums "
        "(bit-reproducible on any engine/partitioning) rounded 6dp "
        "before the interpolated percentile.  Operator: "
        "operators/sampling.py poisson_bootstrap_ci / "
        "poisson_bootstrap_means",
)
def _bootci(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return sa.poisson_bootstrap_ci(
        orders, "o_orderkey", "o_totalprice", n_replicas=32, alpha=0.05
    )


@_q(
    "ks_drift_price",
    """
    WITH b AS (
      SELECT o_totalprice AS v,
             (o_orderdate < TIMESTAMP '1998-01-01') AS a
      FROM orders WHERE o_totalprice IS NOT NULL
    ), h AS (
      SELECT v,
        CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM b GROUP BY v
    ), c AS (
      SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
             SUM(cb) OVER (ORDER BY v) AS cumb
      FROM h
    ), t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
      FROM h
    ), d AS (
      SELECT n_a, n_b,
        MAX(ABS(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS ks_stat
      FROM c, t GROUP BY n_a, n_b)
    SELECT n_a, n_b, ks_stat,
      CAST(round(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE)) * ks_stat, 6)
           AS DOUBLE) AS ks_scaled
    FROM d
    """,
    doc="two-sample Kolmogorov–Smirnov drift test on order totals, "
        "pre-1998 vs 1998+ — the exact sup-gap ECDF companion to the "
        "binned psi_drift_orders: D = sup |F_A − F_B| evaluated at "
        "every distinct price (CDFs step together at tied atoms), plus "
        "the sqrt(n_a·n_b/(n_a+n_b))·D form compared against the "
        "Kolmogorov critical values.  NO global-order window over the "
        "data: per-value histogram (one corpus shuffle), then a two-"
        "level prefix scan — running offsets over the tiny range-"
        "bucket table, within-bucket windows partitioned by bucket — "
        "so every stage stays parallel at 100 TB (the SQL oracle's "
        "single ORDER BY window is the semantic spec, not the plan).  "
        "ks_stat is a fixed IEEE sequence over exact integer counts — "
        "bit-reproducible unrounded; only the sqrt-scaled form rounds "
        "(6dp).  Operator: operators/stats.py ks_two_sample",
)
def _ks(spark, sf_dir):
    from .operators.stats import ks_two_sample

    (orders,) = _load(spark, sf_dir, "orders")
    return ks_two_sample(
        orders,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
    )




@_q(
    "chi2_event_dow",
    """
    WITH cells AS (
      SELECT event_type AS a, isodow(ts) AS b,
        CAST(COUNT(*) AS BIGINT) AS o
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    m AS (
      SELECT o,
        CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
        CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
        CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells),
    k AS (
      SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
        CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
      FROM cells),
    t AS (
      SELECT MAX(n) AS n,
        SUM(CAST(round(
          (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
             / CAST(n AS DOUBLE))
          * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
             / CAST(n AS DOUBLE))
          / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)),
          6) AS DECIMAL(28,6))) AS chi2
      FROM m)
    SELECT t.n, k.ka AS n_a, k.kb AS n_b,
      CAST((k.ka - 1) * (k.kb - 1) AS BIGINT) AS dof,
      CAST(round(CAST(t.chi2 AS DOUBLE), 6) AS DOUBLE) AS chi2_6,
      CASE WHEN t.n > 0 AND least(k.ka - 1, k.kb - 1) > 0 THEN
        CAST(round(sqrt(CAST(t.chi2 AS DOUBLE)
          / (CAST(t.n AS DOUBLE)
             * CAST(least(k.ka - 1, k.kb - 1) AS DOUBLE))), 6) AS DOUBLE)
      END AS cramers_v6
    FROM t, k
    """,
    doc="Pearson chi-square independence test of event_type x ISO "
        "weekday + Cramer's V effect size -- the hypothesis-testing "
        "complement to mutual_information (is the contingency "
        "explainable by chance?).  ONE map-side-combined count shuffle "
        "builds the contingency table; margins/expected counts are "
        "windows over the CELL frame (category-cardinality, never the "
        "corpus); per-cell chi terms are rounded 6dp and summed in "
        "DECIMAL(28,6) so partial order can't change the total (the "
        "Benford determinism pattern).  On the word-soup fixture the "
        "test should NOT reject wildly -- the pytest pins the statistic "
        "against scipy-free numpy replication on a hand-built "
        "dependent fixture instead.  Operator: operators/stats.py "
        "chi2_independence",
)
def _chi2_dow(spark, sf_dir):
    from .operators.stats import chi2_independence

    (events,) = _load(spark, sf_dir, "events")
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    return chi2_independence(
        events.filter(F.col("ts").isNotNull()).withColumn("dow", iso),
        "event_type",
        "dow",
    )


@_q(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    base AS (
      SELECT CAST(date_diff('day', DATE '1990-01-01', d) AS BIGINT) AS i,
        CAST(rev AS DECIMAL(18,2)) AS x
      FROM daily WHERE rev IS NOT NULL),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s, SUM(x * x) AS ss
      FROM base),
    lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
    pairs AS (
      SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        SUM(a.x * b.x) AS sxy, SUM(a.x) AS sh, SUM(b.x) AS st
      FROM lags l
      JOIN base a ON TRUE
      JOIN base b ON b.i = a.i + l.lag
      GROUP BY 1)
    SELECT p.lag, p.n_pairs,
      CASE WHEN p.n_pairs > 0 AND
        (CAST(g.ss AS DOUBLE) - CAST(g.n AS DOUBLE)
          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))) <> 0
      THEN CAST(round(
        (CAST(p.sxy AS DOUBLE)
          - (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (CAST(p.sh AS DOUBLE) + CAST(p.st AS DOUBLE))
          + CAST(p.n_pairs AS DOUBLE)
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)))
        / (CAST(g.ss AS DOUBLE) - CAST(g.n AS DOUBLE)
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))),
        6) AS DOUBLE)
      END AS acf6
    FROM pairs p, g
    """,
    doc="Autocorrelation function r1..r7 of daily order revenue -- the "
        "time-series memory diagnostic (weekly seasonality shows as an "
        "r7 spike) complementing cusum_changepoint_daily / "
        "seasonal_dow_anomalies.  One fact shuffle builds the "
        "DIM-BOUNDED daily series (days, never the corpus); the lag "
        "self-join and moment algebra run on that tiny frame.  "
        "Exactness: revenue in DECIMAL(18,2); all pair/global sums "
        "exact decimals; the mean enters one fixed IEEE expression per "
        "lag via SUM((x-m)(y-m)) = SUMxy - m(SUMh+SUMt) + n*m*m, "
        "rounded 6dp once.  Operator: operators/stats.py "
        "autocorrelation",
)
def _acf_daily(spark, sf_dir):
    from .operators.stats import autocorrelation

    daily = _daily_revenue(spark, sf_dir)
    series = daily.select(
        F.datediff("d", F.lit("1990-01-01").cast("date")).alias("i"), "rev"
    )
    return autocorrelation(series, "i", "rev", max_lag=7)


@_q(
    "trimmed_mean_prices",
    """
    WITH r AS (
      SELECT l_returnflag AS g,
        CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag
          ORDER BY CAST(l_extendedprice AS DECIMAL(18,2))) AS rn,
        CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      FROM lineitem WHERE l_extendedprice IS NOT NULL)
    SELECT g AS l_returnflag,
      MAX(n) AS n,
      CAST(MAX(floor(0.1 * CAST(n AS DOUBLE))) AS BIGINT) AS k_trim,
      CASE WHEN SUM(CASE WHEN rn > floor(0.1 * CAST(n AS DOUBLE))
                    AND rn <= n - floor(0.1 * CAST(n AS DOUBLE))
                   THEN 1 ELSE 0 END) > 0 THEN
        CAST(round(
          CAST(SUM(CASE WHEN rn > floor(0.1 * CAST(n AS DOUBLE))
                     AND rn <= n - floor(0.1 * CAST(n AS DOUBLE))
                    THEN v END) AS DOUBLE)
          / CAST(SUM(CASE WHEN rn > floor(0.1 * CAST(n AS DOUBLE))
                      AND rn <= n - floor(0.1 * CAST(n AS DOUBLE))
                     THEN 1 ELSE 0 END) AS DOUBLE), 6) AS DOUBLE)
      END AS trimmed_mean6
    FROM r GROUP BY 1
    """,
    doc="Exact 10 percent trimmed mean of l_extendedprice per return "
        "flag -- the robust-location upgrade to AVG for heavy-tailed "
        "measures (clip-free complement to clip_outliers' winsorize). "
        "The engine computes per-group order statistics WITHOUT any "
        "per-group global sort: count algebra over the (group, value) "
        "histogram with the two-level range-bucket prefix scan, so "
        "even within-group running counts parallelize past the 3-group "
        "partition count; value weight = clamp(min(cum, n-k) - "
        "max(cum-cnt, k)) handles ties exactly (any tie order gives "
        "the same sum -- which is why the oracle's ROW_NUMBER form is "
        "equivalent).  Weighted sum exact DECIMAL, one division, 6dp. "
        "Operator: operators/stats.py trimmed_mean",
)
def _trimmed_prices(spark, sf_dir):
    from .operators.stats import trimmed_mean

    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return trimmed_mean(lineitem, "l_returnflag", "l_extendedprice", 0.1)


@_q(
    "kmv_distinct_users",
    """
    WITH pts AS (
      SELECT DISTINCT event_type AS g, user_id AS k
      FROM events WHERE user_id IS NOT NULL),
    h AS (
      SELECT g, k,
        (CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
      FROM pts),
    r AS (
      SELECT g, u,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY u, k) AS rn
      FROM h)
    SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
      CAST(round(CASE WHEN COUNT(*) = 64 THEN 63.0 / MAX(u)
                 ELSE CAST(COUNT(*) AS DOUBLE) END, 6) AS DOUBLE)
        AS kmv_estimate6
    FROM r WHERE rn <= 64 GROUP BY 1
    """,
    doc="K-Minimum-Values distinct-user sketch per event type (k=64 so even the sf0.01 driver fixture exercises the ESTIMATOR path, "
        "Bar-Yossef et al. 2002) -- the order-statistics dual of HLL: "
        "if the k-th smallest of the uniformly-hashed keys is h(k), "
        "~(k-1)/h(k) keys span (0,1).  Exact below k, mergeable, and "
        "(unlike HLL) supports set intersection via sketch unions.  "
        "Plan: dedup shuffle on (type, user), then row_number <= k -- "
        "Spark rewrites to WindowGroupLimit so every partition "
        "pre-prunes to its local k before the merge; surviving rows "
        "are k x |types|, never the corpus.  The md5-prefix uniform is "
        "the engine-portable hash every sampler shares, so DuckDB "
        "rebuilds the identical sketch bit-for-bit.  Operator: "
        "operators/stats.py kmv_distinct",
)
def _kmv_users(spark, sf_dir):
    from .operators.stats import kmv_distinct

    (events,) = _load(spark, sf_dir, "events")
    return kmv_distinct(events, "event_type", "user_id", k=64)


@_q(
    "dp_event_counts",
    """
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
    u AS (
      SELECT event_type, true_count,
        (CAST(('0x' || substring(
            md5('42' || chr(31) || event_type), 1, 8)) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
      FROM c)
    SELECT event_type, true_count,
      CAST(round(-2.0 * sign(u - 0.5)
        * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS DOUBLE) AS noise6,
      CAST(round(CAST(true_count AS DOUBLE)
        + (-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
        AS DOUBLE) AS noisy_count6
    FROM u
    """,
    doc="epsilon-differentially-private event-type counts via the "
        "Laplace mechanism (eps=0.5, sensitivity 1) -- completes the "
        "privacy battery beside k_anonymity_events / "
        "l_diversity_events with the release-side primitive.  The "
        "noise is the inverse-CDF Laplace draw on the engine-portable "
        "md5 uniform: -(1/eps) sign(u-1/2) ln(1-2|u-1/2|) -- "
        "deterministic per (seed, group), so releases are auditable "
        "and replayable cross-engine (same-seed re-release spends no "
        "extra budget; a REAL release drops true_count, kept here for "
        "mechanism audit).  ONE map-side-combined count shuffle; noise "
        "math runs on the group-cardinality frame.  Operator: "
        "operators/quality.py dp_noisy_counts",
)
def _dp_counts(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return Q.dp_noisy_counts(events, "event_type", epsilon=0.5, seed=42)


@_q(
    "did_revenue_effect",
    """
    WITH j AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        (c_mktsegment = 'BUILDING') AS t,
        (o_orderdate >= TIMESTAMP '1996-01-01') AS p
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice IS NOT NULL AND c_mktsegment IS NOT NULL
        AND o_orderdate IS NOT NULL),
    a AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE t AND NOT p) AS BIGINT) AS n_t_pre,
        CAST(COUNT(*) FILTER (WHERE t AND p) AS BIGINT) AS n_t_post,
        CAST(COUNT(*) FILTER (WHERE NOT t AND NOT p) AS BIGINT) AS n_c_pre,
        CAST(COUNT(*) FILTER (WHERE NOT t AND p) AS BIGINT) AS n_c_post,
        SUM(x) FILTER (WHERE t AND NOT p) AS s_t_pre,
        SUM(x) FILTER (WHERE t AND p) AS s_t_post,
        SUM(x) FILTER (WHERE NOT t AND NOT p) AS s_c_pre,
        SUM(x) FILTER (WHERE NOT t AND p) AS s_c_post
      FROM j)
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
      CAST(round(CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE), 6)
        AS DOUBLE) AS mean_t_pre6,
      CAST(round(CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE), 6)
        AS DOUBLE) AS mean_t_post6,
      CAST(round(CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE), 6)
        AS DOUBLE) AS mean_c_pre6,
      CAST(round(CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE), 6)
        AS DOUBLE) AS mean_c_post6,
      CAST(round(
        (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
          - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
        - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
          - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)), 6)
        AS DOUBLE) AS did6
    FROM a
    """,
    doc="Difference-in-differences estimate of order value for the "
        "BUILDING segment (treated) vs all other segments (control), "
        "pre/post 1996-01-01 -- the quasi-experimental estimator when "
        "treatment wasn't randomized: the control group's pre->post "
        "drift nets out shared time trends under parallel trends.  On "
        "the signal-free fixture did6 ~ 0 by construction; the pytest "
        "pins recovery of a PLANTED effect on a hand-built panel.  "
        "Plan: broadcast customer-dim join, then ONE map-side-combined "
        "conditional aggregate (each row hits exactly one of 4 cells); "
        "nothing grows with the corpus.  Cell sums exact DECIMAL; "
        "means/DiD one fixed IEEE expression rounded 6dp.  Operator: "
        "operators/quality.py diff_in_diff",
)
def _did_revenue(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).filter(
        F.col("c_mktsegment").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    return Q.diff_in_diff(
        j,
        treated=F.col("c_mktsegment") == "BUILDING",
        post=F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"),
        value_col="o_totalprice",
    )


@_q(
    "fdr_event_value_tests",
    """
    WITH m AS (
      SELECT event_type,
        (isodow(ts) >= 6) AS wend,
        CAST(value AS DECIMAL(18,2)) AS x
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    s AS (
      SELECT event_type,
        CAST(COUNT(*) FILTER (WHERE wend) AS BIGINT) AS n1,
        CAST(COUNT(*) FILTER (WHERE NOT wend) AS BIGINT) AS n2,
        SUM(x) FILTER (WHERE wend) AS s1,
        SUM(x) FILTER (WHERE NOT wend) AS s2,
        SUM(x * x) FILTER (WHERE wend) AS ss1,
        SUM(x * x) FILTER (WHERE NOT wend) AS ss2
      FROM m GROUP BY 1),
    z AS (
      SELECT event_type, n1 AS n_wend, n2 AS n_wday,
        (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        / sqrt(
            ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
            / CAST(n1 AS DOUBLE)
            + ((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
             / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))
            / CAST(n2 AS DOUBLE)) AS zval
      FROM s WHERE n1 > 1 AND n2 > 1),
    z2 AS (
      SELECT event_type, n_wend, n_wday, zval,
        abs(zval) / sqrt(2.0) AS xx
      FROM z),
    z3 AS (
      SELECT *, 1.0 / (1.0 + 0.3275911 * xx) AS t FROM z2),
    p AS (
      SELECT event_type, n_wend, n_wday,
        CAST(round(zval, 6) AS DOUBLE) AS z6,
        CAST(round(2.0 * (1.0 - (0.5 * (1.0 + (1.0
          - (0.254829592 * t
             + -0.284496736 * t * t
             + 1.421413741 * t * t * t
             + -1.453152027 * t * t * t * t
             + 1.061405429 * t * t * t * t * t)
            * exp(-xx * xx))))), 6) AS DOUBLE) AS p6
      FROM z3),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p6, event_type) AS BIGINT)
          AS rank,
        CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p),
    adj AS (
      SELECT event_type, n_wend, n_wday, z6, p6, rank,
        CAST(round(least(1.0, MIN(p6 * CAST(m AS DOUBLE)
            / CAST(rank AS DOUBLE))
          OVER (ORDER BY p6 DESC, event_type DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
          AS DOUBLE) AS p_bh6
      FROM ranked)
    SELECT event_type, n_wend, n_wday, z6, p6, rank, p_bh6,
      (p_bh6 <= 0.05) AS reject
    FROM adj
    """,
    doc="Per-event-type Welch z-test of weekend-vs-weekday mean value, "
        "Benjamini-Hochberg corrected at FDR 0.05 -- the "
        "multiple-testing control every metric battery needs (testing "
        "k segments at alpha=.05 'discovers' ~k/20 false positives; "
        "BH bounds the false-discovery RATE).  On the signal-free "
        "fixture nothing should reject -- the pytest pins rejection "
        "recovery on a planted-effect fixture and the BH math against "
        "a pure-Python reference.  Exactness: per-cell moments exact "
        "DECIMAL; z one fixed IEEE expression; Phi(z) via the A&S "
        "7.1.26 erf polynomial (FIXED shared literals, max err 1.5e-7 "
        "<< the 6dp round) because neither engine has a builtin erf; "
        "BH runs on the ROUNDED p so both engines rank identical "
        "values, ties broken by event_type.  Plan: one moment shuffle "
        "over (type, weekend); everything after runs on the "
        "hypothesis frame (one row per event type).  Operators: "
        "operators/stats.py normal_cdf + benjamini_hochberg",
)
def _fdr_value_tests(spark, sf_dir):
    from .operators.stats import benjamini_hochberg, normal_cdf

    (events,) = _load(spark, sf_dir, "events")
    iso = (F.dayofweek("ts") + 5) % 7 + 1
    m = events.filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "event_type",
        (iso >= 6).alias("wend"),
        F.col("value").cast("decimal(18,2)").alias("x"),
    )
    s = m.groupBy("event_type").agg(
        F.count(F.when(F.col("wend"), F.lit(1))).alias("n_wend"),
        F.count(F.when(~F.col("wend"), F.lit(1))).alias("n_wday"),
        F.sum(F.when(F.col("wend"), F.col("x"))).alias("__s1"),
        F.sum(F.when(~F.col("wend"), F.col("x"))).alias("__s2"),
        F.sum(F.when(F.col("wend"), F.col("x") * F.col("x"))).alias("__ss1"),
        F.sum(F.when(~F.col("wend"), F.col("x") * F.col("x"))).alias("__ss2"),
    )

    def var_over_n(n: str, sx: str, ssx: str):
        nd = F.col(n).cast("double")
        sd = F.col(sx).cast("double")
        ssd = F.col(ssx).cast("double")
        return ((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0)))) / nd

    zval = (
        F.col("__s1").cast("double") / F.col("n_wend").cast("double")
        - F.col("__s2").cast("double") / F.col("n_wday").cast("double")
    ) / F.sqrt(
        var_over_n("n_wend", "__s1", "__ss1")
        + var_over_n("n_wday", "__s2", "__ss2")
    )
    tests = (
        s.filter((F.col("n_wend") > 1) & (F.col("n_wday") > 1))
        .withColumn("__z", zval)
        .select(
            "event_type",
            "n_wend",
            "n_wday",
            F.round("__z", 6).alias("z6"),
            F.round(
                F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.abs(F.col("__z")))), 6
            ).alias("p6"),
        )
    )
    return benjamini_hochberg(tests, "event_type", "p6", alpha=0.05)


# ===========================================================================
# Round 7 additions: LM-perplexity quality filter, binaryFile ingestion,
# hash-verified IVF probe.  Three registrations (VERDICT r6 item 2 caps
# the round at ~10) — each closes a named family gap: perplexity-based
# filtering was the one headline LLM-data op with no entry, binaryFile
# was the one Spark-native source format with no roundtrip, and the IVF
# PROBE path was the last rows-only similarity stage with no oracle.
# ===========================================================================

@_q(
    "lm_perplexity_scores",
    f"""
    WITH toks AS (
      SELECT doc_id,
        {tk.alpha_words_sql('text')} AS t
      FROM documents),
    pairs AS (
      SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)),
    db AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM pairs GROUP BY 1, 2, 3),
    mtoks AS (
      SELECT {tk.alpha_words_sql('text')} AS t
      FROM documents WHERE lang = 'en'),
    mp AS (
      SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      FROM mtoks, unnest(range(1, len(t))) AS u(i)),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM mp GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM
            (SELECT w1 AS w FROM c12 UNION ALL SELECT w2 AS w FROM c12)),
    sc AS (
      SELECT db.doc_id, db.n,
        CAST(round(ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                      / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)), 8)
          AS DECIMAL(18,8)) AS lp
      FROM db
      LEFT JOIN c12 ON db.w1 = c12.w1 AND db.w2 = c12.w2
      LEFT JOIN c1 ON db.w1 = c1.w1
      CROSS JOIN v),
    doc AS (
      SELECT doc_id, SUM(n) AS n_bigrams,
        SUM(CAST(n AS DECIMAL(10,0)) * lp) AS s
      FROM sc GROUP BY doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      CAST(round(-CAST(s AS DOUBLE) / n_bigrams, 6) AS DOUBLE) AS nll,
      CAST(round(exp(-CAST(s AS DOUBLE) / n_bigrams), 6) AS DOUBLE) AS ppl
    FROM doc
    """,
    doc="Perplexity LM quality filter, REFERENCE-model form (the true "
        "CCNet shape, Wenzek et al. 2020: train a KenLM on clean "
        "Wikipedia, score the crawl, keep the low-perplexity tail): an "
        "add-one-smoothed bigram model trained on the English documents "
        "scores EVERY document's mean negative log-likelihood + "
        "perplexity — non-English docs hit unseen bigrams and left "
        "contexts (c12=0, even c1=0), so the smoothing is load-bearing, "
        "which is the semantic distinction from the unsmoothed MLE "
        "self-scorer bigram_logprob_scores (that form cannot leave its "
        "own training support).  The corpus is read, tokenized and "
        "shuffled ONCE (round 8): the model is a subset of the scored "
        "corpus, so model_flag derives its counts from the same "
        "(doc, bigram) cell table the scoring join consumes — no "
        "second corpus scan; c1 and the vocabulary roll up from the "
        "TYPE table; unseen pairs survive via LEFT joins + coalesce. "
        "Exactness: each ln rounded to 8dp, carried as DECIMAL(18,8), "
        "so per-doc weighted sums are order-independent; only the final "
        "/n and exp() touch doubles (6dp).  Operator: operators/text.py "
        "bigram_lm_scores",
)
def _lm_perplexity(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    # model_flag (not model_df): the reference corpus is a SUBSET of the
    # scored corpus, so the model counts derive from the same tokenize/
    # shuffle as the scoring cells — one corpus pass instead of two
    return tx.bigram_lm_scores(
        docs, "doc_id", "text", model_flag=F.col("lang") == "en"
    )


@_q(
    "binaryfile_ingest_roundtrip",
    """
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(text) AS content_md5
    FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    """,
    doc="S-ext binaryFile source (the multimodal INGESTION path: raw "
        "image/audio/doc files on disk -> one binary column + file "
        "metadata): the first 200 documents are staged as individual "
        "UTF-8 files, read back through Spark's binaryFile DataSource "
        "v2, and each file's byte length + md5 must hash-match the "
        "source table — REAL byte movement through the file-source "
        "scan, the url_ingest_roundtrip philosophy on the format the "
        "reference never had.  At 100 TB the same reader points at an "
        "object-store glob; files partition by size "
        "(maxPartitionBytes), and decode/feature-extract kernels "
        "(operators/multimodal.py) consume the binary column via "
        "mapInPandas.  Driver-side staging here is test plumbing only "
        "(bounded at 200 tiny files, staged once per user+machine "
        "through the cross-process content-addressed _shared_stage "
        "cache, keyed on the fixture fingerprint).",
)
def _binaryfile_ingest(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    norm = os.path.abspath(os.path.normpath(sf_dir))
    digest = _fixture_fingerprint(sf_dir)

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        # NULL text cannot stage as a file; filter it on BOTH sides
        # (see the oracle's `text IS NOT NULL`) so the query degrades
        # consistently instead of an AttributeError on .encode if
        # fixtures ever gain NULL documents.
        rows = (
            docs.filter(
                (F.col("doc_id") < 200) & F.col("text").isNotNull()
            )
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(tmp, f"doc_{r['doc_id']}.txt"), "wb") as fh:
                fh.write(r["text"].encode("utf-8"))

    src = _shared_stage(
        f"binfiles_{os.path.basename(norm)}_{digest}", _build
    )
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.txt"))
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@_q(
    "binaryfile_decode_fused",
    """
    SELECT doc_id,
      CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' END AS format,
      CASE WHEN doc_id % 3 = 0
           THEN CAST(16 + doc_id % 32 AS INTEGER) END AS width,
      CASE WHEN doc_id % 3 = 0
           THEN CAST(16 + (doc_id * 7) % 32 AS INTEGER) END AS height
    FROM documents WHERE doc_id < 210
    """,
    doc="END-TO-END multimodal ingestion (VERDICT r7 item 4 — closes "
        "the gap between binaryfile_ingest_roundtrip's byte roundtrip "
        "and the decode kernels): a mixed media directory (one third "
        "real varying-dimension PNGs, one third real PCM WAVs, one "
        "third plain text, all staged EXTENSION-LESS as blob_{id}.bin "
        "so format can only come from bytes) is read through Spark's "
        "binaryFile DataSource v2 and pushed through the fused "
        "triage+decode kernel: sniff the container from the bytes, "
        "route image payloads straight into the real header decode, "
        "one Arrow pass, zero Exchange — scan -> MapInPandas is the "
        "whole plan.  The oracle recomputes format and the PNG "
        "width/height arithmetically from doc_id (the synthesizer's "
        "dimension law), so the sniff AND the decoded dims are "
        "hash-verified end-to-end.  At 100 TB the same two-node plan "
        "points at an object-store glob and scales with input splits; "
        "driver-side staging here is test plumbing only (bounded at "
        "210 tiny files, staged once per user+machine through the "
        "cross-process content-addressed _shared_stage cache, keyed "
        "on the fixture fingerprint).  Operator: "
        "operators/multimodal.py triage_and_decode",
)
def _binaryfile_decode_fused(spark, sf_dir):
    from .operators import multimodal as mm

    (docs,) = _load(spark, sf_dir, "documents")
    norm = os.path.abspath(os.path.normpath(sf_dir))
    digest = _fixture_fingerprint(sf_dir)

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        ids = docs.filter(F.col("doc_id") < 210).select("doc_id")
        png = {
            r["id"]: bytes(r["payload"])
            for r in mm.synthesize_png_payloads(
                ids.filter(F.col("doc_id") % 3 == 0), "doc_id"
            ).collect()
        }
        wav = {
            r["id"]: bytes(r["payload"])
            for r in mm.synthesize_wav_payloads(
                ids.filter(F.col("doc_id") % 3 == 1), "doc_id"
            ).collect()
        }
        for r in ids.collect():
            i = r["doc_id"]
            payload = png.get(i) or wav.get(i) or f"plain text blob {i}".encode()
            with open(os.path.join(tmp, f"blob_{i}.bin"), "wb") as fh:
                fh.write(payload)

    src = _shared_stage(
        f"mediafiles_{os.path.basename(norm)}_{digest}", _build
    )
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.bin"))
    blobs = files.select(
        F.regexp_extract(F.col("path"), r"blob_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        "content",
    )
    return mm.triage_and_decode(blobs, "content", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@_q(
    "ivf_probe_verified",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
             FROM embeddings WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, cent.cid,
        list_dot_product(e.x, e.x)
          - 2 * list_dot_product(e.x, cent.c)
          + list_dot_product(cent.c, cent.c) AS dist
      FROM e, cent),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid AS cell, rn AS probe_rank FROM (
        SELECT e.vec_id, cent.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.x, e.x)
              - 2 * list_dot_product(e.x, cent.c)
              + list_dot_product(cent.c, cent.c), cent.cid) AS rn
        FROM e, cent WHERE e.vec_id % 100 = 7)
      WHERE rn <= 2),
    scored AS (
      SELECT p.query_id, a.vec_id AS cand_id,
        round(list_dot_product(q.x, e.x)
          / (sqrt(list_dot_product(q.x, q.x))
             * sqrt(list_dot_product(e.x, e.x))), 6) AS cos6
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN e q ON q.vec_id = p.query_id
      JOIN e ON e.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id)
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id,
      CAST(cos6 AS DOUBLE) AS cos6
    FROM (
      SELECT query_id, cand_id, cos6,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cos6 DESC, cand_id) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    doc="IVF probe path, hash-verified END TO END (the last rows-only "
        "similarity stage gains an oracle): coarse quantizer = the 8 "
        "deterministic seed centroids (vec_id < 8; the Lloyd UPDATE "
        "those seeds would iterate is separately hash-verified by "
        "kmeans_step_verified — numpy's multi-iteration trajectory is "
        "why the full KMeans index stays rows-only), every vector "
        "assigned to its nearest cell via the proven portable argmin "
        "(squared L2 expanded, identical fold order, cid tiebreak), "
        "then each query (vec_id % 100 = 7) probes its nprobe=2 "
        "nearest cells and exact cosine ranks the probed candidates, "
        "top-5 under a (rounded-score, vec_id) total order.  Plan: "
        "centroids broadcast twice (assignment + probe — both "
        "dim-bounded BNLJs over an 8-row side), candidate scoring is "
        "an equi-join on cell id (the IVF point: scoring touches "
        "~nprobe/k of the corpus, never all of it), top-5 is a "
        "WindowGroupLimit.  Operator: operators/similarity.py "
        "ivf_build/ivf_search iterate exactly this shape.",
)
def _ivf_probe(spark, sf_dir):
    from pyspark.sql import Window as Wn

    (emb,) = _load(spark, sf_dir, "embeddings")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q), F.lit(0.0), lambda s, v: s + v
        )

    e = _ckpt(
        emb.select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        )
        .withColumn("__xx", dot(F.col("x"), F.col("x"))),
        eager=False,
        label="ivf_probe_vectors",
    )
    cent = (
        e.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("x").alias("c"),
            F.col("__xx").alias("__cc"),
        )
    )
    dist = (
        F.col("__xx") - F.lit(2) * dot(F.col("x"), F.col("c")) + F.col("__cc")
    )
    assign = (
        e.crossJoin(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(F.min(F.struct(dist.alias("d"), F.col("cid"))).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cell"))
    )
    probes = (
        e.filter(F.col("vec_id") % 100 == 7)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cid").alias("cell"),
            F.row_number()
            .over(
                Wn.partitionBy("vec_id").orderBy(dist.asc(), F.col("cid").asc())
            )
            .alias("probe_rank"),
        )
        .filter(F.col("probe_rank") <= 2)
    )
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.col("__xx").alias("__qq"),
    )
    scored = (
        probes.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(q, "query_id")
        .join(e, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(
                dot(F.col("qx"), F.col("x"))
                / (F.sqrt(F.col("__qq")) * F.sqrt(F.col("__xx"))),
                6,
            ).alias("cos6"),
        )
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Wn.partitionBy("query_id").orderBy(
                    F.desc("cos6"), F.asc("cand_id")
                )
            ),
        )
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("rnk").cast("long").alias("rnk"), "cand_id", "cos6")
    )


@_q(
    "temporal_split_audit",
    """
    WITH per_user AS (
      SELECT user_id,
        COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-24 00:00:00')
          AS n_tr,
        COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-24 00:00:00')
          AS n_te
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id)
    SELECT CAST(SUM(n_tr) AS BIGINT) AS n_train_rows,
      CAST(SUM(n_te) AS BIGINT) AS n_test_rows,
      CAST(COUNT(*) FILTER (WHERE n_tr > 0) AS BIGINT) AS n_train_users,
      CAST(COUNT(*) FILTER (WHERE n_te > 0) AS BIGINT) AS n_test_users,
      CAST(COUNT(*) FILTER (WHERE n_tr > 0 AND n_te > 0) AS BIGINT)
        AS n_leaky_users,
      CAST(SUM(CASE WHEN n_tr > 0 THEN n_te ELSE 0 END) AS BIGINT)
        AS n_test_rows_seen_user
    FROM per_user
    """,
    doc="Time-based train/test split with an entity-leakage audit — "
        "the standard eval split for event data (train on the past, "
        "test on the future), which the hash-keyed and content-keyed "
        "splits deliberately don't provide.  One summary row: split "
        "sizes, distinct users per side, users present on BOTH sides "
        "(fatal for user-cold-start eval; legitimate for forecasting), "
        "and test rows whose user was seen in train.  The pivot "
        "compares against the column's own TIMESTAMP_NTZ type, so a "
        "non-UTC session can't shift the boundary.  Plan: ONE "
        "user-keyed count shuffle (map-side combinable conditional "
        "counts), then a 1-row rollup over the user-cardinality frame "
        "— the corpus is never shuffled at row granularity.  Operator: "
        "operators/sampling.py temporal_split_audit",
)
def _temporal_split(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return sa.temporal_split_audit(
        events, "ts", "user_id", "2024-01-24 00:00:00"
    )


# ===========================================================================
# Driver verification window rotation
# ===========================================================================
# The driver hash-verifies only the FIRST 50 entries of queries() each
# round (CORRECTNESS_r{N}.json key list == iteration order of this dict).
# Registration order above is therefore a *verification budget*, not an
# accident of file layout: round 2's mid-file insertions silently evicted
# the whole dedup/similarity/sink family from the round-1 window.
#
# From round 3 on the window is chosen EXPLICITLY here.  Rotation policy:
#   1. Queries that have never had a driver-green row go first (oracle-
#      backed ones prioritized — they get the full rows+schema+hash check).
#   2. Remaining never-verified queries queue right behind the window so
#      the next round's rotation picks them up (_NEXT_WINDOW_QUEUE).
#   3. Queries already driver-green in a past round (hashes recorded in
#      CORRECTNESS_r01/r02) go last — they stay guarded locally by
#      tests/test_oracle_parity.py, which runs the SAME sort+compare
#      contract against DuckDB for every oracle-backed entry.
# tests/test_suite_contract.py pins the window contents so future edits
# can't evict entries unknowingly.

#: Round-14 window: slot 1 = the standing SS2 canary; slots 2-19 =
#: every query whose operator internals changed this optimization round
#: (shared-gram minhash_audit + fused audit branches, shared-token
#: simhash_audit, fused CC rounds 0+1, batched pagerank checkpoints,
#: containment max_df parameter, jpp gram_frame refactor, spread
#: histogram inputs in trimmed_mean/_two_sample_running_counts) plus the
#: VERDICT r13 item-10 consumers (gini/_hhi re-verify the r13
#: equi-depth/global_row_number changes, bloom_fpp_audit pins the
#: portable bloom family against the r13 fast-family default,
#: bloom_prefilter_join re-verifies the flipped default end to end);
#: the rest is the r14 stale-first proposal (tools/next_window.py) in
#: proposal order.
DRIVER_WINDOW: list[str] = [
    "clean_pipeline",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_minhash_transitive",
    "dedup_components",
    "dedup_pipeline_transitive",
    "dedup_survivor_by_quality",
    "pagerank_order_part",
    "containment_pairs_prefix",
    "dedup_ngram_jaccard_prefix",
    "dedup_ngram_jaccard_freq",
    "dedup_graph_triangles",
    "dedup_graph_kcore",
    "dedup_simhash_portable",
    "dedup_incremental_batch",
    "gini_revenue_concentration",
    "market_concentration_hhi",
    "bloom_fpp_audit",
    "bloom_prefilter_join",
    "trimmed_mean_prices",
    "ks_drift_price",
    "auc_price_basket_size",
    "set_intersect",
    "set_except",
    "window_topk_per_group",
    "window_lag_delta",
    "window_moving_avg",
    "window_running_sum",
    "hourly_event_counts",
    "streaming_hourly_counts",
    "merge_user_intervals",
    "user_growth_daily",
    "retention_cohorts",
    "fk_integrity_audit",
    "pivot_event_matrix",
    "rollup_order_stats",
    "quality_gate_report",
    "text_token_stats",
    "text_quality_scores",
    "text_language_id",
    "text_fingerprint",
    "dedup_exact",
    "duplicated_ngram_spans",
    "dedup_embedding_cosine_lsh",
    "url_canonical_dedup",
    "edit_distance_pairs",
    "fuzzy_levenshtein",
    "knn_join_batch",
    "embedding_gram_matrix",
    "embedding_quantize",
]


#: Never-driver-verified queries queued for the NEXT round's window.
#: Every new registration this round must be appended here (it gets a
#: driver slot in the r13 rotation ahead of stale re-verification).
_NEXT_WINDOW_QUEUE: list[str] = []


#: Driver-green in a past round (hash-stable; guarded by local oracle
#: parity).  Grouped by the MOST RECENT driver-green round so the
#: stale-first rotation (tools/next_window.py) is auditable by eye.
#: EXPLICIT on purpose: a new registration that appears in none of the
#: three lists fails the assert below at import time, so every new query
#: must be placed in a bucket deliberately (usually _NEXT_WINDOW_QUEUE).
_PREVIOUSLY_VERIFIED: list[str] = [
    "embedding_group_mean",
    "multimodal_payload_meta",
    "sink_roundtrip",
    # stalest r14 proposal entries displaced by the changed-form
    # re-verification block (first in line if rotation continues)
    "csv_roundtrip",
    "json_roundtrip",
    "orc_roundtrip",
    "binaryfile_decode_fused",
    "schema_evolution_roundtrip",
    "merge_upsert_orders",
    "snapshot_diff_orders",
    "scd2_orders_history",
    "asof_click_attribution",
    "sessionize_events",
    "interval_overlap_pairs",
    "resample_gap_fill",
    "funnel_signup_purchase",
    "sample_hash_fraction",
    "bootstrap_revenue_ci",
    "chi2_event_dow",
    "acf_daily_revenue",
    "kmv_distinct_users",
    "dp_event_counts",
    "did_revenue_effect",
    "fdr_event_value_tests",
    "bpe_train_merges",
    "similarity_topk",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "filter_equality",
    "filter_null_disjunction",
    "filter_hour_range",
    "projection_rename_drop",
    "constant_column_stamp",
    "string_filter_generic",
    "time_bucket_enrich",
    "datetime_parts",
    "datetime_coerce",
    "string_trim",
    "json_extract_props",
    "row_count",
    "filtered_count",
    "null_matrix",
    "group_agg_stats",
    "time_bucket_rollup",
    "distinct_count",
    "pricing_summary",
    "join_broadcast_dims",
    "join_left_enrich",
    "join_semi",
    "lm_perplexity_scores",
    "binaryfile_ingest_roundtrip",
    "ivf_probe_verified",
    "temporal_split_audit",
    "join_anti",
    "join_range_buckets",
    "sql_revenue_by_nation",
    "shipping_priority_topk",
    "top_k_customers",
    "ordered_limit",
    "set_union",
    "train_test_split_counts",
    "mixture_by_source",
    "sample_per_group",
    "weighted_sample_per_group",
    "token_budget_mixture",
    "shuffle_shard_assign",
    "split_leakproof_by_content",
    "chunk_documents",
    "pack_token_windows",
    "corpus_prep",
    "redact_pii",
    "tfidf_top_terms",
    "repetition_scores",
    "decontaminate_overlap",
    "domain_stats",
    "token_divergence",
    "text_normalize_nfc",
    "exact_moment_stats",
    "group_linear_fit",
    "mutual_information",
    "cross_source_contamination",
    "streaming_sessionize",
    "streaming_dedup_counts",
    "streaming_enriched_totals",
    "streaming_interval_join",
    "streaming_ewma",
    "local_supplier_volume",
    "revenue_forecast_band",
    "bilateral_trade_volume",
    "returned_item_customers",
    "promo_revenue_share",
    "large_volume_customers",
    "brand_bracket_revenue",
    "market_share_by_year",
    "top_supplier_revenue",
    "embedding_pca_project",
    "bpe_encode_tokens",
    "dedup_span_removal",
    "dominant_part_suppliers",
    "sole_supplier_open_orders",
    "idle_rich_customers",
    "small_quantity_revenue",
    "customer_order_distribution",
    "quality_classifier_scores",
    "quality_classifier_bucketed",
    "bm25_search",
    "hybrid_retrieval_rrf",
    "cdc_apply_orders",
    "cdc_compact_feed",
    "session_window_native",
    "line_boilerplate_removal",
    "html_text_extraction",
    "inverted_index_postings",
    "null_safe_enrich",
    "join_full_outer",
    "window_percentile_ranks_dist",
    "ewma_by_user",
    "user_value_drawdown",
    "corpus_filter_funnel",
    "rolling_zscore_anomalies",
    "sink_quarantine_roundtrip",
    "bigram_logprob_scores",
    "equi_depth_histogram",
    "skew_salted_agg",
    "rolling_hour_window",
    "sliding_window_counts",
    "rolling_distinct_users",
    "first_event_per_user",
    "event_transition_matrix",
    "revenue_share_of_total",
    "topk_with_ties_per_nation",
    "multimodal_image_decode",
    "multimodal_image_resize",
    "multimodal_audio_features",
    "multimodal_video_frames",
    "multimodal_format_sniff",
    "table_modes_roundtrip",
    "similarity_lsh_topk",
    "kmeans_step_verified",
    "streaming_countmin",
    "mahalanobis_outliers",
    "embedding_centroids",
    "embedding_centroids_udaf",
    "dedup_minhash_portable",
    "asof_next_purchase",
    "cheapest_part_supplier_region",
    "late_ship_priority_counts",
    "nation_year_profit",
    "important_part_values",
    "ship_delay_priority_mix",
    "part_supplier_variety",
    "string_agg_per_group",
    "grouping_sets_quantity",
    "cube_order_counts",
    "grouped_median",
    "grouped_mode",
    "having_filter",
    "conditional_agg",
    "robust_spread",
    "value_histogram",
    "window_first_last",
    "window_rank_ntile",
    "window_cume_nth",
    "date_arithmetic",
    "exists_subquery",
    "unpivot_part_metrics",
    "fill_defaults",
    "word_counts",
    "regexp_extract_supplier",
    "clip_outliers",
    "zorder_bucket_stats",
    "compact_roundtrip",
    "manifest_partition_counts",
    "kfold_assign_counts",
    "embedding_norm_buckets",
    "events_dow_hour_matrix",
    "pmi_top_bigrams",
    "dedup_family_size_hist",
    "order_lead_time_monthly",
    "supplier_pareto_share",
    "countmin_heavy_hitters",
    "skew_salted_join",
    "window_percentile_ranks",
    "clean_pipeline_dirty",
    "scalar_function_battery",
    "containment_pairs_blocked",
    "approx_quantiles",
    "approx_distinct",
    "hll_mergeable_rollup",
    "hll_audience_overlap",
    "schema_contract_enforced",
    "url_ingest_roundtrip",
    "sql_extract_roundtrip",
    "window_range_frame_sum",
    "set_ops_multiset",
    "asof_nearest_event",
    "gopher_quality_rules",
    "user_activity_streaks",
    "bpe_pair_counts",
    "semdedup_prune",
    "k_anonymity_events",
    "profile_orders_table",
    "dsir_importance_weights",
    "incremental_agg_merge",
    "psi_drift_orders",
    "temperature_lang_rates",
    "gapfill_user_hourly",
    "corr_matrix_lineitem",
    "benford_price_audit",
    "basket_brand_lift",
    "bucketed_join_roundtrip",
    "incremental_join_view",
    "streaming_upsert_apply",
    "c4_cleaning_rules",
    "impute_group_mean",
    "join_size_estimate_cm",
    "hierarchy_share_rollup",
    "session_path_trigrams",
    "rfm_segments",
    "cusum_changepoint_daily",
    "rolling_corr_daily",
    "keyness_log_odds",
    "ab_test_conversion",
    "cohort_ltv_curve",
    "neyman_allocation_orders",
    "txlog_time_travel",
    "graph_bfs_hops",
    "survival_kaplan_meier",
    "seasonal_dow_anomalies",
    "user_event_entropy",
    "l_diversity_events",
    "zipf_vocab_fit",
    "similarity_ivf_topk",
]


_rotated = (
    DRIVER_WINDOW + _NEXT_WINDOW_QUEUE + _PREVIOUSLY_VERIFIED
)
# Set equality AND no duplicates: a length-only check lets a pasted
# duplicate cancel out a forgotten registration, and the dict rebuild
# below would then silently drop a query from queries()/oracle_sql().
assert len(_rotated) == len(set(_rotated)), (
    f"duplicate names in rotation lists: "
    f"{sorted(n for n in set(_rotated) if _rotated.count(n) > 1)}"
)
assert set(_rotated) == set(QUERIES), (
    f"rotation lists out of sync with registrations: "
    f"missing={set(QUERIES) - set(_rotated)} "
    f"unknown={set(_rotated) - set(QUERIES)}"
)
QUERIES = {name: QUERIES[name] for name in _rotated}


# ===========================================================================
# public accessors (driver contract)
# ===========================================================================

def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_queries() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
