"""Semantic assertions for the SemDeDup prune pass and the trade-graph
PageRank (beyond the hash oracles, which prove cross-engine equality
but not that the SEMANTICS are right)."""

from __future__ import annotations

from bigdata_pipelines_aws_glue_spark.operators.graph import (
    PR_TOPN,
    pagerank_trade_graph,
)
from bigdata_pipelines_aws_glue_spark.operators.semdedup import (
    SEMDEDUP_TAU,
    semdedup_prune,
)
from bigdata_pipelines_aws_glue_spark.operators.similarity import DUP_OFFSET


def test_semdedup_prunes_every_copy_keeps_every_original(spark, sf_dir):
    rows = semdedup_prune(spark, sf_dir).collect()
    base = [r for r in rows if r.vec_id < DUP_OFFSET]
    copies = [r for r in rows if r.vec_id >= DUP_OFFSET]
    assert len(base) == len(copies) > 0
    # every injected copy has its twin (lower id, identical vector) in
    # the same cell -> max_sim ~1.0 -> pruned
    assert all(not r.is_kept for r in copies)
    assert all(r.max_sim_lower is not None and r.max_sim_lower > 0.999
               for r in copies)
    # the base corpus has no natural pairs near the threshold -> kept
    assert all(r.is_kept for r in base)
    assert all(
        r.max_sim_lower is None or r.max_sim_lower < SEMDEDUP_TAU
        for r in base
    )
    # cells partition the doubled corpus: twin pairs share a cell, so
    # every cell population is even
    by_cell: dict[int, int] = {}
    for r in rows:
        by_cell[r.cell] = by_cell.get(r.cell, 0) + 1
    assert all(n % 2 == 0 for n in by_cell.values())
    for r in rows:
        assert r.n_cell_members == by_cell[r.cell]


def test_pagerank_top_nodes_shape_and_mass(spark, sf_dir):
    rows = pagerank_trade_graph(spark, sf_dir).collect()
    assert [r.pos for r in rows] == list(range(1, PR_TOPN + 1))
    prs = [r.pagerank for r in rows]
    # ranked descending, all probability-mass-positive and < 1
    assert prs == sorted(prs, reverse=True)
    assert all(0.0 < p < 1.0 for p in prs)
    assert all(r.node_type in ("customer", "supplier") for r in rows)
    # suppliers are ~15x rarer than customers in the TPC-H universe but
    # aggregate the same trade mass, so the top of the rank table is
    # supplier-dominated (at sf0.001 all 10 existing suppliers chart)
    # — the signature PageRank asymmetry a uniform initialization
    # cannot produce on its own; the #1 node in particular
    n_supp = sum(1 for r in rows if r.node_type == "supplier")
    assert n_supp >= PR_TOPN // 2
    assert rows[0].node_type == "supplier"


def test_pagerank_checkpoints_do_not_grow_with_rounds(spark, monkeypatch):
    """The kernel checkpoints the edge lists and the final vector
    only: a per-round checkpoint would make the 5-round run take more
    blocking jobs than the 1-round run."""
    from bigdata_pipelines_aws_glue_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 1, 2), (3, 2, 5)],
        "src long, dst long, w long",
    )
    real = type(edges).localCheckpoint
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(edges), "localCheckpoint", counting)
    counts = {}
    for rounds in (1, 5):
        monkeypatch.setattr(graph, "PR_ITERS", rounds)
        calls.clear()
        assert len(graph.pagerank(edges).collect()) == 3
        counts[rounds] = len(calls)
    assert counts[1] == counts[5] > 0


def test_dq_expectations_flags_planted_violations(spark, tmp_path):
    """On a deliberately corrupted mini-corpus every targeted check
    must flip to failed with the right violation count (the corpus
    run only ever shows all-green, which can't distinguish a working
    gate from a vacuous one)."""
    from bigdata_pipelines_aws_glue_spark.operators.quality import (
        dq_expectations,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        # dup PK (1), null custkey (1), orphan custkey 99 (1)
        [(1, 10, 100.0), (1, 11, 50.0), (2, None, 20.0), (3, 99, 30.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(10,), (11,)], "c_custkey long"
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        # orphan orderkey 9 (1), qty 0 out of range (1), discount 0.5 (1)
        [(1, 0.0, 0.05), (9, 10.0, 0.5)],
        "l_orderkey long, l_quantity double, l_discount double",
    ).write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1, -5.0)], "user_id long, value double"
    ).write.parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        [(0, "abc", 2)], "doc_id long, text string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(0,), (1,)], "r_regionkey long"
    ).write.parquet(f"{d}/region.parquet")

    rows = {
        r.check_name: r for r in dq_expectations(spark, d).collect()
    }
    assert len(rows) == 9
    expected_metric = {
        "pk_unique_o_orderkey": 1,
        "complete_o_custkey": 1,
        "fk_orders_customer": 2,  # orphan 99 + NULL custkey never matches
        "fk_lineitem_orders": 1,
        "range_l_quantity_1_50": 1,
        "range_l_discount_0_01": 1,
        "nonneg_value": 1,
        "len_consistency_n_chars": 1,
        "dim_region_count_5": 2,
    }
    for name, want in expected_metric.items():
        assert rows[name].metric == want, name
        assert not rows[name].passed, name


def test_merge_aggregate_delta_new_and_existing_groups(spark):
    """IVM merge must handle all three cases: group only in base,
    group in both (measures add), group only in delta (appears)."""
    from bigdata_pipelines_aws_glue_spark.operators.merge import (
        merge_aggregate_delta,
    )

    base = spark.createDataFrame(
        [("a", 2, 100), ("b", 3, 300)], "k string, n long, s long"
    )
    delta = spark.createDataFrame(
        [("b", 1, 50), ("c", 4, 400)], "k string, n long, s long"
    )
    got = {
        r.k: (r.n, r.s)
        for r in merge_aggregate_delta(base, delta, ["k"]).collect()
    }
    assert got == {"a": (2, 100), "b": (4, 350), "c": (4, 400)}


def test_triangle_count_matches_bruteforce(spark):
    """Degree-ordered wedge counting must equal the brute-force
    adjacency-set triangle census on the sf0.001 co-occurrence
    graph (an independent Python implementation, no SQL)."""
    import duckdb

    from bigdata_pipelines_aws_glue_spark.operators.graph import (
        triangle_count_parts,
    )

    row = triangle_count_parts(spark, "/root/testdata/sf0.001").collect()[0]

    edges = duckdb.sql(
        "WITH op AS (SELECT DISTINCT l_orderkey o, l_partkey p "
        "FROM '/root/testdata/sf0.001/lineitem.parquet') "
        "SELECT DISTINCT a.p, b.p FROM op a "
        "JOIN op b ON a.o = b.o AND a.p < b.p"
    ).fetchall()
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = (
        sum(
            len(adj[u] & adj[v])
            for u, v in edges
        )
        // 3
    )
    wedges = sum(d * (len(n) - 1) for d, n in ((len(n), n) for n in adj.values())) // 2
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)
    assert row.n_triangles == tri
    assert row.n_wedges == wedges


def test_frontier_reach_agrees_with_path_form_within_horizon(spark):
    """The frontier-deduplicated BFS and the UNION-ALL path recursion
    must assign identical min_hops to every node within the path
    form's 2-hop horizon (the frontier form explores deeper; beyond
    the shared horizon it may only ADD nodes, never relabel)."""
    from bigdata_pipelines_aws_glue_spark.operators.graph import (
        recursive_trade_reach,
        trade_reach_frontier,
    )

    sf = "/root/testdata/sf0.001"
    path_form = {
        (r.node_type, r.node_id): r.min_hops
        for r in recursive_trade_reach(spark, sf).collect()
    }
    frontier = {
        (r.node_type, r.node_id): r.min_hops
        for r in trade_reach_frontier(spark, sf).collect()
    }
    assert len(path_form) > 0
    for key, hops in path_form.items():
        assert frontier[key] == hops, key
    # deeper horizon: the frontier form never loses a node
    assert set(path_form) <= set(frontier)
