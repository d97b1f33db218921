"""Link extraction edge cases: scheme filtering, host/path parsing,
internal-vs-external split, and fixture composition."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.links import (
    _HOST_RE,
    _PATH_RE,
    _http_links,
    extract_links,
    link_host_degree,
)


def test_scheme_filtering(spark):
    html = (
        '<a href="https://a.test/x">1</a> <a href="#frag">2</a> '
        '<a href="mailto:x@y.test">3</a> <a href="/rel">4</a> '
        '<a href="http://b.test">5</a> <a href="ftp://c.test/f">6</a>'
    )
    df = spark.createDataFrame([(html,)], "html string").select(
        _http_links(F.col("html")).alias("links")
    )
    assert df.collect()[0]["links"] == [
        "https://a.test/x",
        "http://b.test",
    ]


def test_host_and_path_parsing(spark):
    df = spark.createDataFrame(
        [("https://h.test",), ("https://h.test/",), ("http://h.test/a/b?q=1",)],
        "url string",
    ).select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host"),
        F.coalesce(
            F.nullif(F.regexp_extract("url", _PATH_RE, 1), F.lit("")),
            F.lit("/"),
        ).alias("path"),
    )
    rows = [tuple(r) for r in df.collect()]
    assert rows == [
        ("h.test", "/"),
        ("h.test", "/"),
        ("h.test", "/a/b?q=1"),
    ]


def test_fixture_counts(spark, sf_dir):
    rows = extract_links(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # base fixture: 5 relative anchors; link block: 3 http +
        # fragment + mailto -> 10 hrefs, 3 http
        assert r["n_hrefs"] == 10
        assert r["n_http"] == 3
        assert r["n_internal"] == 2
        assert r["n_external"] == 1
        assert r["n_hosts"] in (1, 2)  # t1 == t2 can't collapse hosts


def test_host_degree_consistency(spark, sf_dir):
    deg = link_host_degree(spark, sf_dir).collect()
    total_docs = extract_links(spark, sf_dir).count()
    # every doc emits exactly 3 http links
    assert sum(r["n_links"] for r in deg) == 3 * total_docs
    for r in deg:
        assert r["n_src_docs"] <= r["n_links"]
        assert r["n_paths"] <= r["n_links"]
        assert (
            r["host"].endswith(".example.test")
            or r["host"].endswith(".assets.test")
        )


def test_link_pagerank_invariants(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.graph import PR_TOPN
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        link_pagerank,
    )

    rows = link_pagerank(spark, sf_dir).collect()
    assert len(rows) == PR_TOPN
    assert [r["pos"] for r in rows] == list(range(1, PR_TOPN + 1))
    ranks = [r["pagerank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)
    # total mass over ALL nodes stays <= 1 (mass leaks at dangling
    # nodes, never appears from nowhere); top-20 certainly <= 1
    assert sum(ranks) <= 1.0 + 1e-9


def test_crawl_frontier_semantics(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        crawl_frontier,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    doc_ids = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    }
    rows = crawl_frontier(spark, sf_dir).collect()
    assert rows
    per_host = {}
    for r in rows:
        # nothing visited ever reaches the frontier
        m = re.search(r"/doc/(\d+)$", r["url"])
        if m and r["host"].endswith(".example.test"):
            assert int(m.group(1)) not in doc_ids, r["url"]
        assert r["n_refs"] >= 1
        per_host.setdefault(r["host"], []).append(r)
    for host, group in per_host.items():
        group.sort(key=lambda r: r["fetch_rank"])
        # dense politeness ranks, most-referenced first
        assert [r["fetch_rank"] for r in group] == list(
            range(1, len(group) + 1)
        )
        refs = [r["n_refs"] for r in group]
        assert refs == sorted(refs, reverse=True)
    # the CDN asset hosts are always unvisited -> always present
    assert any(h.endswith(".assets.test") for h in per_host)


def test_frontier_authority_consistency(spark, sf_dir):
    """Authority ordering vs the attested pieces: (a) the frontier
    membership and n_refs multiset match crawl_frontier exactly;
    (b) demand_rank replays crawl_frontier's fetch_rank; (c) both
    rank columns are dense per-host permutations and rank_shift is
    their difference; (d) per host, authority is non-increasing in
    auth_rank; (e) the authority signal BITES: somewhere it
    overrules raw demand (rank_shift != 0), and authority mass is
    positive somewhere, zero somewhere (rank-less referrers)."""
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        crawl_frontier,
        frontier_authority_rank,
    )

    auth = frontier_authority_rank(spark, sf_dir).collect()
    dem = crawl_frontier(spark, sf_dir).collect()
    assert {(r["host"], r["url"], r["n_refs"]) for r in auth} == {
        (r["host"], r["url"], r["n_refs"]) for r in dem
    }
    fetch_rank = {(r["host"], r["url"]): r["fetch_rank"] for r in dem}
    per_host = {}
    for r in auth:
        assert r["demand_rank"] == fetch_rank[(r["host"], r["url"])]
        assert r["rank_shift"] == r["demand_rank"] - r["auth_rank"]
        assert r["authority"] >= 0.0
        per_host.setdefault(r["host"], []).append(r)
    for host, group in per_host.items():
        group.sort(key=lambda r: r["auth_rank"])
        assert [r["auth_rank"] for r in group] == list(
            range(1, len(group) + 1)
        )
        assert sorted(r["demand_rank"] for r in group) == list(
            range(1, len(group) + 1)
        )
        a = [r["authority"] for r in group]
        assert a == sorted(a, reverse=True)
    assert any(r["rank_shift"] != 0 for r in auth)
    assert any(r["authority"] > 0 for r in auth)
    assert any(r["authority"] == 0.0 for r in auth)


def test_frontier_authority_matches_rank_vector_replay(spark, sf_dir):
    """Pure-Python replay of the authority sum from the collected
    rank vector and the fixture's own link arithmetic: every doc's
    http outlinks are the two internal /doc/{t1,t2} targets + one
    CDN asset (+ the markup fixture's absolute links, captured via
    the Spark-side n_http == len of _http_links — re-derived here
    from extract_links' n_http attested column), so the frontier's
    quantized authority is recomputable exactly."""
    from bigdata_pipelines_aws_glue_spark.operators.graph import pagerank
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        _doc_edges,
        extract_links,
        frontier_authority_rank,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    ).collect()
    doc_ids = {r["doc_id"] for r in docs}
    ranks = {
        r["node"]: r["r"]
        for r in pagerank(_doc_edges(spark, sf_dir)).collect()
    }
    n_http = {
        r["doc_id"]: r["n_http"]
        for r in extract_links(spark, sf_dir).collect()
    }
    expect_q: dict[tuple[str, str], int] = {}
    for d in docs:
        did, lang = d["doc_id"], d["lang"]
        cq = int(
            (ranks.get(did, 0.0) / n_http[did]) * 1_000_000_000 + 0.5
        )  # floor(x+0.5) for x >= 0
        urls = []
        for t in (did * 7 % 997, did * 13 % 997):
            if t not in doc_ids:
                urls.append(
                    (
                        f"{lang}.example.test",
                        f"https://{lang}.example.test/doc/{t}",
                    )
                )
        urls.append(
            (
                f"cdn{did % 5}.assets.test",
                f"https://cdn{did % 5}.assets.test/img/{did % 50}.png",
            )
        )
        for key in urls:
            expect_q[key] = expect_q.get(key, 0) + cq
    got = {
        (r["host"], r["url"]): round(r["authority"] * 1_000_000_000)
        for r in frontier_authority_rank(spark, sf_dir).collect()
    }
    assert got == expect_q


def _py_lpa(edges, rounds):
    """Pure-Python replay of lpa_labels' exact semantics:
    undirected, self-loops dropped, synchronous rounds, tie-break
    (count DESC, label ASC)."""
    nbrs: dict[int, set] = {}
    for s, d in edges:
        if s == d:
            continue
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    lab = {n: n for n in nbrs}
    for _ in range(rounds):
        new = {}
        for n, ns in nbrs.items():
            cnt: dict[int, int] = {}
            for m in ns:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            new[n] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    return lab


def test_lpa_matches_python_replay_random(spark):
    """10 seeded random digraphs (self-loops included to exercise
    the drop, duplicate edges to exercise the undirected distinct)
    through the Spark kernel vs the pure-Python replay — exact label
    equality at 1..4 rounds."""
    import random

    from bigdata_pipelines_aws_glue_spark.operators.links import (
        lpa_labels,
    )

    for seed in range(10):
        rng = random.Random(7000 + seed)
        n = rng.randint(4, 14)
        m = rng.randint(n, 3 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        rounds = rng.randint(1, 4)
        if not any(s != d for s, d in edges):
            edges.append((0, 1))
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["label"]
            for r in lpa_labels(df, rounds=rounds).collect()
        }
        want = _py_lpa(edges, rounds)
        assert got == want, f"seed {seed} rounds {rounds}"


def test_lpa_two_cliques_converge_to_min_labels(spark):
    """Two disjoint triangles converge to one community each, both
    labelled by the clique's minimum node id (the deterministic
    tie-break drives labels downward)."""
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        lpa_labels,
    )

    tri = lambda a, b, c: [(a, b), (b, c), (a, c)]
    df = spark.createDataFrame(
        tri(1, 2, 3) + tri(10, 11, 12), "src long, dst long"
    )
    got = {r["node"]: r["label"] for r in lpa_labels(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_lpa_doc_communities_refine_components(spark, sf_dir):
    """Corpus communities: sizes sum to the linked-node count, and
    LPA genuinely REFINES connectivity — at least as many
    communities as connected components (computed by union-find on
    the same collected edge list), backing the dedup_clusters_star
    adjacency note."""
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        _doc_edges,
        lpa_doc_communities,
    )

    edges = [
        (r["src"], r["dst"])
        for r in _doc_edges(spark, sf_dir).collect()
    ]
    nodes = {s for s, d in edges if s != d} | {
        d for s, d in edges if s != d
    }
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        if s != d:
            parent[find(s)] = find(d)
    n_components = len({find(n) for n in nodes})
    rows = lpa_doc_communities(spark, sf_dir).collect()
    assert sum(r["n_nodes"] for r in rows) == len(nodes)
    for r in rows:
        assert r["min_node"] <= r["max_node"]
        assert r["n_nodes"] >= 1
    assert len(rows) >= n_components
    # the corpus graph's density structure splits at least one
    # component into several communities
    assert len(rows) > n_components


def _py_kcore_rounds(edges, k, rounds):
    """Pure-Python replay of kcore_peel_audit's per-round counts."""
    und = {(s, d) for s, d in edges if s != d} | {
        (d, s) for s, d in edges if s != d
    }
    out = []
    for r in range(1, rounds + 1):
        nodes_before = {s for s, _ in und}
        deg: dict[int, int] = {}
        for s, _ in und:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, dg in deg.items() if dg >= k}
        und = {(s, d) for s, d in und if s in keep and d in keep}
        nodes_after = {s for s, _ in und}
        dropped = len(nodes_before) - len(nodes_after)
        out.append(
            (r, len(nodes_after), len(und) // 2, dropped, dropped == 0)
        )
    return out


def test_kcore_matches_python_replay_random(spark):
    """8 seeded random digraphs through the Spark peel kernel vs the
    pure-Python replay — exact audit equality, including graphs
    that fully dissolve (all rows converge at 0 nodes) and graphs
    whose core survives."""
    import random

    from bigdata_pipelines_aws_glue_spark.operators.links import (
        KCORE_K,
        KCORE_ROUNDS,
        _undirected,
        kcore_peel,
    )

    for seed in range(8):
        rng = random.Random(3100 + seed)
        n = rng.randint(4, 16)
        m = rng.randint(3, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(
            tuple(r) for r in kcore_peel(_undirected(df)).collect()
        )
        want = _py_kcore_rounds(edges, KCORE_K, KCORE_ROUNDS)
        assert got == want, f"seed {seed}: {got} != {want}"


def test_kcore_corpus_audit_properties(spark, sf_dir):
    """Corpus audit: 4 rows, monotone non-increasing nodes/edges,
    dropped-count identity across consecutive rounds, peeling
    genuinely bites (round 1 drops > 0), converged iff dropped==0."""
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        KCORE_ROUNDS,
        kcore_peel_audit,
    )

    rows = sorted(
        kcore_peel_audit(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == list(
        range(1, KCORE_ROUNDS + 1)
    )
    assert rows[0]["n_dropped"] > 0
    for a, b in zip(rows, rows[1:]):
        assert b["n_nodes"] <= a["n_nodes"]
        assert b["n_edges"] <= a["n_edges"]
    for r in rows:
        assert r["converged"] == (r["n_dropped"] == 0)
        assert r["n_nodes"] >= 0 and r["n_edges"] >= 0
