"""Iterative graph analytics on DataFrames: weighted PageRank over
the customer–supplier trade graph (SURVEY.md §2 adjacency — the
iterative-algorithm family next to k-means/BPE; method is the public
Page et al. 1999 formulation).

Graph: an undirected bipartite graph built from the fact tables —
customer ``o_custkey`` is linked to supplier ``l_suppkey`` with
weight = number of lineitems traded between them (lineitem ⋈ orders,
grouped). Undirected means both directions are materialized as
directed edges, so every node has out-degree ≥ 1 — no dangling-mass
special case. Supplier node ids are offset by ``SUPPLIER_NODE_BASE``
to share one id space with customers.

Rank update (damping d, n nodes):
``r'(v) = (1-d)/n + d·Σ_{u→v} r(u)·w(u,v)/W(u)``
with the incoming sum 1e-9-quantized (long-summed — aggregation-order
independent, exact in both engines), which is what lets the DuckDB
twin replay all ``PR_ITERS`` rounds as unrolled CTEs and the result
hash-check despite being an iterative float algorithm.

The kernel, :func:`pagerank`, is the one PageRank implementation in
the package: ``link_pagerank``/``frontier_authority_rank`` (link
graph, unit weights) and ``textrank_keywords`` (word co-occurrence
graph) call it too, and their oracles use the same
``PAGERANK_CTES`` round chain.

Scale posture (100 TB): the edge list shuffles once on (cust, supp)
to aggregate weights; each iteration is an equi-join of edges against
the n-row rank table keyed by src plus a keyed aggregation on dst —
the standard Pregel-as-join shape. The edge list and the normalized
edge list are checkpointed once; the rounds chain lazily and only
the final vector is checkpointed, so the number of blocking jobs
does not depend on ``PR_ITERS``. The final top-N is
TakeOrderedAndProject, never a global sort. The single driver scalar
(node count, for the teleport constant) is the iterative-loop probe
``kmeans_fit``/``pq_train`` already model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    dec_qsum,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

PR_DAMP = 0.85
PR_ITERS = 5
PR_TOPN = 20
#: supplier node id = SUPPLIER_NODE_BASE + s_suppkey (customers keep
#: their key) — one integer id space, no string concat in the hot path.
SUPPLIER_NODE_BASE = 1_000_000

_Q9 = 1e9


def _trade_edges(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """(src, dst, w): both directions of the weighted bipartite graph."""
    pairs = lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
    wts = pairs.groupBy("cust", "supp").agg(F.count(F.lit(1)).alias("w"))
    fwd = wts.select(
        F.col("cust").alias("src"),
        (F.col("supp") + F.lit(SUPPLIER_NODE_BASE)).alias("dst"),
        "w",
    )
    rev = wts.select(
        (F.col("supp") + F.lit(SUPPLIER_NODE_BASE)).alias("src"),
        F.col("cust").alias("dst"),
        "w",
    )
    return fwd.unionByName(rev)


def pagerank(edges: DataFrame) -> DataFrame:
    """The (node, r) weighted PageRank vector after ``PR_ITERS``
    synchronous rounds over ``edges(src, dst, w)`` with a long weight
    ``w``; the transition weight is ``p = w / Σ_src w``. Nodes are the
    edge sources; a node with no in-edges holds no rank after round 1
    and a node whose out-edges all point outside the graph leaks its
    mass (no dangling redistribution — the oracles replay the same).

    Checkpoint policy: the edge list and the normalized edge list are
    checkpointed once (every round joins the latter, and without it
    the out-weight join re-executes per round). Each round's rank is
    consumed exactly once, by the next round's join, so the rounds
    chain lazily into one job; only the final vector is checkpointed,
    because callers consume it more than once (top-N + window;
    authority join + rank shift). The blocking-job count therefore
    does not depend on ``PR_ITERS``."""
    edges = edges.localCheckpoint(eager=True)
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    e = (
        edges.join(outw, "src")
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("wout").cast("double")).alias(
                "p"
            ),
        )
        .localCheckpoint(eager=True)
    )
    nodes = edges.select("src").distinct()
    n_nodes = nodes.count()
    rank = nodes.select(
        F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("r")
    )
    teleport = (1.0 - PR_DAMP) / n_nodes
    for _ in range(PR_ITERS):
        contrib = e.join(rank, F.col("src") == F.col("node")).select(
            "dst", (F.col("r") * F.col("p")).alias("c")
        )
        rank = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(teleport)
                + F.lit(PR_DAMP)
                * (dec_qsum(F.col("c"), _Q9).cast("double") / F.lit(_Q9))
            ).alias("r")
        )
    return rank.localCheckpoint(eager=True)


#: DuckDB twin of :func:`pagerank`: the outw/e/nn/r0..r{PR_ITERS} CTE
#: chain over an ``edges(src, dst, w)`` CTE the caller puts in scope
#: first. ``r{PR_ITERS}`` holds the final (node, r) vector; each round
#: replays the 1e-9-quantized BIGINT-summed update bit-for-bit.
PAGERANK_CTES = """outw AS (
    SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src
),
e AS (
    SELECT src, dst, CAST(w AS DOUBLE) / CAST(wout AS DOUBLE) AS p
    FROM edges JOIN outw USING (src)
),
nn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM edges),
r0 AS (
    SELECT DISTINCT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM edges
),
""" + ",\n".join(
    f"""r{i} AS (
    SELECT e.dst AS node,
           CAST({(1.0 - PR_DAMP)!r} AS DOUBLE) / (SELECT n FROM nn)
             + {PR_DAMP} * (sum(CAST(floor(r.r * e.p * 1000000000.0 + 0.5)
                                     AS BIGINT)) / 1000000000.0) AS r
    FROM e JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst
)"""
    for i in range(1, PR_ITERS + 1)
)


def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PR_TOPN`` nodes of the trade graph by weighted PageRank
    after ``PR_ITERS`` synchronous rounds. Emits the rank position,
    node type/id, and the (1e-9-deterministic) PageRank value."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rank = pagerank(_trade_edges(lineitem, orders))
    top = rank.orderBy(F.col("r").desc(), F.col("node")).limit(PR_TOPN)
    w_pos = Window.orderBy(F.col("r").desc(), F.col("node"))
    return top.withColumn("pos", F.row_number().over(w_pos)).select(
        "pos",
        F.when(F.col("node") >= SUPPLIER_NODE_BASE, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        F.when(
            F.col("node") >= SUPPLIER_NODE_BASE,
            F.col("node") - SUPPLIER_NODE_BASE,
        )
        .otherwise(F.col("node"))
        .alias("node_id"),
        stable_round(F.col("r"), 9).alias("pagerank"),
    )


PAGERANK_ORACLE = f"""
WITH pairs AS (
    SELECT o_custkey AS cust, l_suppkey AS supp
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
wts AS (
    SELECT cust, supp, CAST(count(*) AS BIGINT) AS w
    FROM pairs GROUP BY cust, supp
),
edges AS (
    SELECT cust AS src, supp + {SUPPLIER_NODE_BASE} AS dst, w FROM wts
    UNION ALL
    SELECT supp + {SUPPLIER_NODE_BASE} AS src, cust AS dst, w FROM wts
),
{PAGERANK_CTES}
SELECT CAST(pos AS INT) AS pos,
       CASE WHEN node >= {SUPPLIER_NODE_BASE} THEN 'supplier'
            ELSE 'customer' END AS node_type,
       CASE WHEN node >= {SUPPLIER_NODE_BASE}
            THEN node - {SUPPLIER_NODE_BASE} ELSE node END AS node_id,
       floor(r * 1000000000.0 + 0.5) / 1000000000.0 AS pagerank
FROM (
    SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS pos
    FROM r{PR_ITERS}
)
WHERE pos <= {PR_TOPN}
"""


def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part CO-OCCURRENCE graph (parts are
    adjacent iff some order contains both) — the graph-health metric
    behind clustering-coefficient / community analyses, and the
    second classic graph algorithm beside PageRank. Emits one row:
    node/edge/wedge/triangle counts (all integer-exact) plus the
    global clustering coefficient 3T/W.

    Scale shape (Suri & Vassilvitskii's MR-triangle design, public):
    each undirected edge is DIRECTED from its (degree, id)-smaller
    endpoint to the larger, so every wedge is generated at its
    lowest-degree apex — the join fan-out is Σ d_out² with
    d_out ≤ O(√m) instead of Σ d² (a hub of degree 1e6 contributes
    ~m, not 1e12, wedges). Wedge closure is then ONE equi-join of
    the wedge list against the directed edge list on the composite
    (v, w) key — shuffle-partitioned, no broadcast of anything
    unbounded. Edge generation reuses the per-order pair explosion
    bounded by Σ basket² (the `market_basket_pairs` posture)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    # checkpointed: edges feed degree, both wedge sides, the closing
    # list, and the edge count — without materialization Spark would
    # recompute the per-order pair explosion once per self-join side
    # (no common-subexpression elimination across self-joins)
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # direct each edge from the (degree, id)-smaller endpoint
    ed = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .localCheckpoint(eager=True)  # shared by w1, w2, closing
    )
    w1, w2 = ed.alias("w1"), ed.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.s") == F.col("w2.s")) & (F.col("w1.t") < F.col("w2.t")),
    ).select(F.col("w1.t").alias("x"), F.col("w2.t").alias("y"))
    # a wedge (x, y) closes iff the directed edge x->y or y->x exists;
    # normalize both sides to an unordered key for one equi-join
    closing = ed.select(
        F.least("s", "t").alias("x"), F.greatest("s", "t").alias("y")
    )
    tri = wedges.join(
        closing, ["x", "y"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = edges.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    )
    # per-row d(d-1)/2 in integer arithmetic, summed in decimal(38,0)
    # (the dec_qsum discipline — wedge totals pass long range early
    # on a skewed co-occurrence graph)
    wedge_tot = deg.agg(
        F.sum(
            F.expr("d * (d - 1) DIV 2").cast("decimal(38,0)")
        )
        .cast("long")
        .alias("n_wedges")
    )
    return (
        counts.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedge_tot))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            stable_round(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ).alias("global_clustering"),
        )
    )


TRIANGLE_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS (
    SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
    GROUP BY n
),
ed AS (
    SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                THEN e.u ELSE e.v END AS s,
           CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                THEN e.v ELSE e.u END AS t
    FROM edges e
    JOIN deg du ON du.n = e.u
    JOIN deg dv ON dv.n = e.v
),
wedges AS (
    SELECT w1.t AS x, w2.t AS y
    FROM ed w1 JOIN ed w2 ON w1.s = w2.s AND w1.t < w2.t
),
closing AS (
    SELECT least(s, t) AS x, greatest(s, t) AS y FROM ed
),
tri AS (
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM wedges w WHERE EXISTS (
        SELECT 1 FROM closing c WHERE c.x = w.x AND c.y = w.y)
),
counts AS (
    SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges
),
nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
wt AS (
    SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       floor((3.0 * n_triangles / n_wedges) * 1000000.0 + 0.5)
         / 1000000.0 AS global_clustering
FROM counts, nodes, tri, wt
"""


#: Bounded BFS over the trade graph as ONE SQL text both engines run
#: verbatim — Spark 4's native WITH RECURSIVE (UNION ALL semantics;
#: Spark rejects UNION-distinct recursion as of 4.1, so the hop bound
#: keeps the path enumeration finite and the aggregation outside the
#: recursion collapses it). n_paths is itself an attested output: the
#: number of distinct 2-hop trade chains seed->supplier->customer.
_REACH_SEED_MAX = 10
_REACH_MAX_HOPS = 2
RECURSIVE_REACH_SQL = f"""
WITH RECURSIVE wts AS (
    SELECT o_custkey AS cust, l_suppkey AS supp
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
edges AS (
    SELECT cust AS src, supp + {SUPPLIER_NODE_BASE} AS dst FROM wts
    UNION ALL
    SELECT supp + {SUPPLIER_NODE_BASE} AS src, cust AS dst FROM wts
),
reach(node, hops) AS (
    SELECT CAST(c_custkey AS BIGINT), 0
    FROM customer WHERE c_custkey < {_REACH_SEED_MAX}
    UNION ALL
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.hops < {_REACH_MAX_HOPS}
)
SELECT CASE WHEN node >= {SUPPLIER_NODE_BASE} THEN 'supplier'
            ELSE 'customer' END AS node_type,
       CASE WHEN node >= {SUPPLIER_NODE_BASE}
            THEN node - {SUPPLIER_NODE_BASE} ELSE node END AS node_id,
       CAST(min(hops) AS INT) AS min_hops,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY 1, 2
"""


def recursive_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability on the trade graph through Spark 4's NATIVE
    recursive CTE (``WITH RECURSIVE`` landed in Spark 4.0; the engine
    plans the fixpoint itself — a UnionLoop, no driver-side iteration
    or checkpointing like :func:`pagerank_trade_graph` hand-rolls for
    its weighted update). Emits, per reachable node, the BFS distance
    from the seed customers and the exact count of distinct trade
    paths. DuckDB runs the IDENTICAL SQL text — the dialects agree on
    recursion semantics, so the oracle is the same string.

    Scale note: UNION ALL recursion enumerates PATHS, so the hop
    bound is the cost control (2 hops ≈ 257k paths at sf0.1); the
    deduplicated per-hop frontier a 100 TB run wants is
    :func:`trade_reach_frontier` below — same graph, same seeds,
    per-node state instead of per-path."""
    from bigdata_pipelines_aws_glue_spark.sql import register_corpus_views

    register_corpus_views(spark, sf_dir)
    return spark.sql(RECURSIVE_REACH_SQL)


#: Depth for the frontier-deduplicated BFS form. Deeper than the
#: UNION-ALL variant's 2 because dedup makes depth cheap: per-node
#: state is one (node, min_hops) row, never a path.
_FRONTIER_MAX_HOPS = 4


def trade_reach_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability with a DEDUPLICATED per-hop frontier — the
    form that survives dense graphs, closing
    :func:`recursive_trade_reach`'s documented caveat: UNION ALL
    recursion enumerates PATHS (exponential in the worst case, the
    hop bound its only guard), while this iterates joins with a
    distinct + anti-join per round, so per-node state is one
    (node, min_hops) row regardless of path multiplicity — the
    ``connected_components`` machinery applied to BFS.

    Spark rejects UNION-distinct recursion as of 4.1, so the Spark
    side is a driver loop (one stage pair per hop, lineage truncated
    with eager localCheckpoint exactly like connected_components;
    early exit on an empty frontier via a limit(1) probe). The DuckDB
    twin IS the UNION-distinct recursive CTE — min(hops) over
    set-semantics recursion is the same BFS distance, so the two
    forms attest each other.

    Scale: each round shuffles (frontier x avg-degree) node ids only;
    visited is bounded by |V| longs. At 100 TB the per-round cost is
    |E_touched| + |V| — never the path count the UNION-ALL form pays.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    wts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
        .distinct()
    )
    fwd = wts.select(
        F.col("cust").cast("long").alias("src"),
        (F.col("supp") + SUPPLIER_NODE_BASE).cast("long").alias("dst"),
    )
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    seeds = cust.filter(F.col("c_custkey") < _REACH_SEED_MAX).select(
        F.col("c_custkey").cast("long").alias("node")
    )
    visited = seeds.withColumn(
        "min_hops", F.lit(0)
    ).localCheckpoint(eager=True)
    frontier = visited.select("node")
    for h in range(1, _FRONTIER_MAX_HOPS + 1):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("min_hops", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    sup = F.col("node") >= SUPPLIER_NODE_BASE
    return visited.select(
        F.when(sup, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        F.when(sup, F.col("node") - SUPPLIER_NODE_BASE)
        .otherwise(F.col("node"))
        .alias("node_id"),
        F.col("min_hops").cast("int").alias("min_hops"),
    )


FRONTIER_REACH_ORACLE = f"""
WITH RECURSIVE wts AS (
    SELECT o_custkey AS cust, l_suppkey AS supp
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
edges AS (
    SELECT cust AS src, supp + {SUPPLIER_NODE_BASE} AS dst FROM wts
    UNION ALL
    SELECT supp + {SUPPLIER_NODE_BASE} AS src, cust AS dst FROM wts
),
reach(node, hops) AS (
    SELECT CAST(c_custkey AS BIGINT), 0
    FROM customer WHERE c_custkey < {_REACH_SEED_MAX}
    UNION
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.hops < {_FRONTIER_MAX_HOPS}
)
SELECT CASE WHEN node >= {SUPPLIER_NODE_BASE} THEN 'supplier'
            ELSE 'customer' END AS node_type,
       CASE WHEN node >= {SUPPLIER_NODE_BASE}
            THEN node - {SUPPLIER_NODE_BASE} ELSE node END AS node_id,
       CAST(min(hops) AS INT) AS min_hops
FROM reach GROUP BY 1, 2
"""


_BF_ROUNDS = 4


def bellman_ford_trade_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford: cheapest trade-route cost from the seed
    customers to every node reachable within ``_BF_ROUNDS`` edges.
    Edge cost = the MINIMUM lineitem price (exact cents) ever traded
    on that customer-supplier link — so the distance is "cheapest
    chain of cheapest trades", all integer arithmetic. The hop bound
    makes this the K-round relaxation (exact for every shortest path
    using <= K edges; full BF needs |V|-1 rounds — at 4 rounds this
    is the bounded-horizon variant, the honest trade documented for
    ``recursive_trade_reach`` applied to WEIGHTED distance).

    Spark: K driver-loop rounds of (edges JOIN dist ON src) -> min per
    node — one keyed shuffle pair per round, lineage truncated with
    eager localCheckpoint (the connected_components/frontier-BFS
    machinery). The DuckDB twin unrolls the same K rounds as
    MATERIALIZED CTEs, so a hash match replays every relaxation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    wts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("cust", "supp")
        .agg(F.min("cents").alias("cost"))
    )
    fwd = wts.select(
        F.col("cust").cast("long").alias("src"),
        (F.col("supp") + SUPPLIER_NODE_BASE).cast("long").alias("dst"),
        "cost",
    )
    edges = fwd.union(
        fwd.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cost"
        )
    ).localCheckpoint(eager=True)

    dist = (
        cust.filter(F.col("c_custkey") < _REACH_SEED_MAX)
        .select(F.col("c_custkey").cast("long").alias("node"))
        .withColumn("d", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_BF_ROUNDS):
        relaxed = (
            edges.join(dist.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"), (F.col("d") + F.col("cost")).alias("d")
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
    sup = F.col("node") >= SUPPLIER_NODE_BASE
    return dist.select(
        F.when(sup, F.lit("supplier")).otherwise(F.lit("customer")).alias(
            "node_type"
        ),
        F.when(sup, F.col("node") - SUPPLIER_NODE_BASE)
        .otherwise(F.col("node"))
        .alias("node_id"),
        F.col("d").alias("min_cost_cents"),
    )


def _bf_round_sql(i: int) -> str:
    return f"""d{i} AS MATERIALIZED (
    SELECT node, min(d) AS d FROM (
        SELECT node, d FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.d + e.cost AS d
        FROM d{i - 1} p JOIN edges e ON e.src = p.node
    ) GROUP BY node
)"""


_BF_ROUNDS_SQL = ",\n".join(
    _bf_round_sql(i) for i in range(1, _BF_ROUNDS + 1)
)

BELLMAN_FORD_ORACLE = f"""
WITH wts AS MATERIALIZED (
    SELECT o_custkey AS cust, l_suppkey AS supp,
           min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cost
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
edges AS MATERIALIZED (
    SELECT cust AS src, supp + {SUPPLIER_NODE_BASE} AS dst, cost FROM wts
    UNION ALL
    SELECT supp + {SUPPLIER_NODE_BASE} AS src, cust AS dst, cost FROM wts
),
d0 AS MATERIALIZED (
    SELECT CAST(c_custkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
    FROM customer WHERE c_custkey < {_REACH_SEED_MAX}
),
{_BF_ROUNDS_SQL}
SELECT CASE WHEN node >= {SUPPLIER_NODE_BASE} THEN 'supplier'
            ELSE 'customer' END AS node_type,
       CAST(CASE WHEN node >= {SUPPLIER_NODE_BASE}
                 THEN node - {SUPPLIER_NODE_BASE} ELSE node END AS BIGINT)
           AS node_id,
       CAST(d AS BIGINT) AS min_cost_cents
FROM d{_BF_ROUNDS}
"""


def _register() -> None:
    registry.register(
        "recursive_trade_reach", recursive_trade_reach, RECURSIVE_REACH_SQL
    )
    registry.register(
        "bellman_ford_trade_cost", bellman_ford_trade_cost, BELLMAN_FORD_ORACLE
    )
    registry.register(
        "trade_reach_frontier", trade_reach_frontier, FRONTIER_REACH_ORACLE
    )
    registry.register(
        "triangle_count_parts", triangle_count_parts, TRIANGLE_ORACLE
    )
    registry.register(
        "pagerank_trade_graph", pagerank_trade_graph, PAGERANK_ORACLE
    )
