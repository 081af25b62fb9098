"""Web-graph semantics: outlink extraction/resolution and integer
fixed-point PageRank (operators/webgraph.py)."""

from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
    extract_outlinks,
    pagerank_fixed,
)


def _links(spark, html, url="https://h.example.com/a/b/page.html"):
    df = spark.createDataFrame([(url, html.encode())], "url string, html binary")
    return [r["outlink"] for r in extract_outlinks(df).collect()]


def test_outlink_resolution_cases(spark):
    html = (
        '<a href="https://other.com/x">abs</a>'
        '<a href="/root/path">rootrel</a>'
        '<a href="sibling.html">rel</a>'
        '<a href="http://plain.org/">plain</a>'
    )
    assert _links(spark, html) == [
        "https://other.com/x",
        "https://h.example.com/root/path",
        "https://h.example.com/a/b/sibling.html",
        "http://plain.org/",
    ]


def test_outlink_null_html_yields_no_rows(spark):
    df = spark.createDataFrame(
        [("https://h/x", None), ("https://h/y", b'<a href="/z">z</a>')],
        "url string, html binary",
    )
    out = extract_outlinks(df).collect()
    assert [(r["url"], r["outlink"]) for r in out] == [("https://h/y", "https://h/z")]


def _ranks(spark, edges, iterations):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["node"]: r["rank_units"]
        for r in pagerank_fixed(df, iterations=iterations).collect()
    }


def test_pagerank_one_round_hand_computed(spark):
    # a->b, a->c, b->c, c->a; unit=1e6, d=85/100, base=150000
    r = _ranks(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], 1)
    assert r == {"a": 1_000_000, "b": 575_000, "c": 1_425_000}


def test_pagerank_dangling_mass_dropped(spark):
    # b has no outlinks: its mass is dropped, not redistributed
    r = _ranks(spark, [("a", "b")], 1)
    assert r == {"a": 150_000, "b": 1_000_000}


def test_pagerank_multi_edge_collapses_to_distinct(spark):
    # duplicated edge rows must not double the contribution
    r1 = _ranks(spark, [("a", "b"), ("a", "b")], 1)
    r2 = _ranks(spark, [("a", "b")], 1)
    assert r1 == r2


def test_pagerank_deterministic_across_partitionings(spark):
    edges = [(f"n{i % 7}", f"n{(i * 3) % 7}") for i in range(40)]
    df1 = spark.createDataFrame(edges, "src string, dst string")
    df4 = df1.repartition(4)
    a = {r["node"]: r["rank_units"] for r in pagerank_fixed(df1, 3).collect()}
    b = {r["node"]: r["rank_units"] for r in pagerank_fixed(df4, 3).collect()}
    assert a == b


def test_outlink_plan_is_jvm_side(spark):
    df = spark.createDataFrame(
        [("https://h/x", b'<a href="/y">y</a>')], "url string, html binary"
    )
    plan = extract_outlinks(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_extract_anchors_pairs_link_with_label(spark):
    html = (
        '<a href="/a">First</a> junk '
        '<a class="x" href="https://o.com/b" rel="nofollow">Second link</a>'
    ).encode()
    df = spark.createDataFrame(
        [("https://h.example.com/p/q.html", html)], "url string, html binary"
    )
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        extract_anchors,
    )

    got = [
        (r["outlink"], r["anchor_text"])
        for r in extract_anchors(df).orderBy("anchor_text").collect()
    ]
    assert got == [
        ("https://h.example.com/a", "First"),
        ("https://o.com/b", "Second link"),
    ]


def test_bare_host_url_resolves_relative_links(spark):
    """A path-less page url must not lose its host when resolving a
    relative link (regression: base_dir of 'https://h.example.com'
    once became 'https://')."""
    df = spark.createDataFrame(
        [("https://h.example.com", b'<a href="about.html">A</a><a href="/x">X</a>')],
        "url string, html binary",
    )
    got = sorted(r["outlink"] for r in extract_outlinks(df).collect())
    assert got == ["https://h.example.com/about.html", "https://h.example.com/x"]


def test_crawl_frontier_composition(spark):
    """The composed frontier: crawled urls are excluded, some pending
    /doc/new urls are robots-blocked, and every surviving row carries
    its host's PageRank priority."""
    import __spark_entry__ as e

    out = e.queries()["crawl_frontier"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    urls = [r["url"] for r in rows]
    assert all("/doc/new" in u or not u.rsplit("/", 1)[1].isdigit() for u in urls)
    # anti-join: no crawled /doc/<number> url survives
    import re

    assert not any(re.search(r"/doc/\d+$", u) for u in urls)
    # robots gate bit: fewer pending urls than the 200 candidates
    pend = [u for u in urls if "/doc/new" in u]
    assert 0 < len(pend) < 200
    # priority joined for every row
    assert all(r["rank_units"] > 0 for r in rows)


def test_hits_hubs_and_authorities_structure(spark):
    """A node everyone links to is the top authority; a node that
    only links out is a pure hub (authority 0); L1 normalization
    keeps each score vector summing to ~unit (floor losses < n)."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        hits_fixed,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src string, dst string",
    )
    out = {r["node"]: r for r in hits_fixed(edges, 4).collect()}
    auth = {k: v["auth_units"] for k, v in out.items()}
    hub = {k: v["hub_units"] for k, v in out.items()}
    assert max(auth, key=auth.get) == "c"  # 3 in-links -> top authority
    assert auth["d"] == 0  # no in-links
    assert hub["c"] < min(hub["a"], hub["b"], hub["d"])  # c points at a weak authority
    for scores in (auth, hub):
        assert 1_000_000 - len(scores) <= sum(scores.values()) <= 1_000_000


def test_hits_partitioning_invariant(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        hits_fixed,
    )

    rows = [(f"n{i}", f"n{(i * 7) % 23}") for i in range(60)]
    df = spark.createDataFrame(rows, "src string, dst string")
    a = sorted(tuple(r) for r in hits_fixed(df, 3).collect())
    b = sorted(tuple(r) for r in hits_fixed(df.repartition(8), 3).collect())
    assert a == b  # integer arithmetic: bit-equal under any plan


def _lp(spark, edges, iterations=4):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        label_propagation,
    )

    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r.node: r.label
        for r in label_propagation(df, iterations=iterations).collect()
    }


def test_label_propagation_two_cliques_bridge(spark):
    # two triangles joined by one bridge edge: each converges to its
    # smallest member's label, the bridge does not merge them
    tri1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    got = _lp(spark, tri1 + tri2 + [("a3", "b1")], iterations=6)
    assert got["a1"] == got["a2"] == got["a3"] == "a1"
    # LPA labels are identifiers, not necessarily members: the b-clique
    # converges to the stale label its bridge neighbor carried
    assert got["b1"] == got["b2"] == got["b3"]
    # the two triangles do not share one label
    assert got["b1"] != got["a1"]


def test_label_propagation_tie_breaks_to_min_label(spark):
    # c has neighbors a and b (one vote each): min label wins
    got = _lp(spark, [("a", "c"), ("b", "c")], iterations=1)
    assert got["c"] == "a"


def test_label_propagation_drops_self_loop_only_nodes(spark):
    got = _lp(spark, [("a", "b"), ("z", "z")], iterations=2)
    assert "z" not in got and {"a", "b"} <= set(got)


def test_label_propagation_partitioning_invariant(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        label_propagation,
    )

    edges = [
        (f"n{i}", f"n{(i * 7) % 23}") for i in range(40)
    ] + [("n1", "n40"), ("n40", "n41")]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {r.node: r.label for r in label_propagation(df, 4).collect()}
    b = {
        r.node: r.label
        for r in label_propagation(df.repartition(13), 4).collect()
    }
    assert a == b and len(a) > 0


def _tri(spark, edges):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        triangle_counts,
    )

    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.triangles for r in triangle_counts(df).collect()}


def test_triangle_counts_hand_computed(spark):
    # K4 on {a,b,c,d}: every node is in C(3,2)=3 triangles; e hangs off
    k4 = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    got = _tri(spark, k4 + [("d", "e")])
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}


def test_triangle_counts_ignores_direction_dupes_selfloops(spark):
    # same triangle given with mixed directions, duplicates, self-loop
    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
        ("a", "b"), ("a", "a"),
    ]
    got = _tri(spark, edges)
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_triangle_free(spark):
    got = _tri(spark, [("a", "b"), ("b", "c"), ("c", "d")])  # a path
    assert set(got.values()) == {0}


def test_triangle_counts_partitioning_invariant(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        triangle_counts,
    )

    edges = [
        (f"n{i}", f"n{j}")
        for i in range(10)
        for j in range(i + 1, 10)
        if (i + j) % 3 != 0
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {r.node: r.triangles for r in triangle_counts(df).collect()}
    b = {
        r.node: r.triangles
        for r in triangle_counts(df.repartition(11)).collect()
    }
    assert a == b and sum(a.values()) > 0


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_kcore_cascade_peels_the_tail(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        kcore_converged,
    )

    # triangle a-b-c plus a pendant path c-d-e-f: the 2-core is the
    # triangle, and the path must peel one node per round (cascade),
    # NOT in a single sweep — f first (deg 1), then e, then d.
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "e"), ("e", "f"),
    ]
    core, rounds = kcore_converged(_edges(spark, pairs), k=2)
    got = {r.node: r.core_deg for r in core.collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    assert rounds >= 3  # the cascade takes one round per path node


def test_kcore_fixed_matches_converged_and_asserts(spark):
    import pytest

    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        kcore_converged,
        kcore_fixed,
    )

    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "e"), ("e", "f"),
    ]
    df = _edges(spark, pairs)
    conv, rounds = kcore_converged(df, k=2)
    fixed = kcore_fixed(df, k=2, rounds=rounds + 1)
    assert {tuple(r) for r in conv.collect()} == {
        tuple(r) for r in fixed.collect()
    }
    # an unconverged unroll must refuse to masquerade as the k-core
    with pytest.raises(AssertionError, match="not converged"):
        kcore_fixed(df, k=2, rounds=2).collect()


def test_kcore_ignores_self_loops_and_duplicates(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        kcore_converged,
    )

    # self-loops and repeated/reversed edges must not inflate degrees
    pairs = [
        ("a", "a"), ("a", "b"), ("b", "a"), ("a", "b"),
        ("b", "c"), ("c", "a"),
    ]
    core, _ = kcore_converged(_edges(spark, pairs), k=2)
    got = {r.node: r.core_deg for r in core.collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_ktruss_keeps_clique_peels_pendant_triangle(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        ktruss_fixed,
    )

    # 4-clique (every edge closes 2 triangles) + a pendant triangle
    # hanging off d (each of its edges closes only 1)
    clique = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    pendant = [("d", "e"), ("e", "f"), ("d", "f")]
    out = ktruss_fixed(_edges(spark, clique + pendant), k=4, rounds=3)
    edges = {(r.a, r.b): r.support for r in out.collect()}
    assert set(edges) == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }
    assert set(edges.values()) == {2}


def test_ktruss_cascade_collapses_diamond(spark):
    import pytest

    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        ktruss_fixed,
    )

    # diamond: bc closes 2 triangles, the outer edges close 1 each.
    # k=4 drops the outer edges in round 1, which strands bc
    # (support 0) — it must peel in round 2, NOT survive.
    diamond = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")]
    out = ktruss_fixed(_edges(spark, diamond), k=4, rounds=3)
    assert out.count() == 0
    # and a 1-round unroll must refuse (not converged)
    with pytest.raises(AssertionError, match="not converged"):
        ktruss_fixed(_edges(spark, diamond), k=4, rounds=2).collect()


def test_ktruss_rejects_k_below_3(spark):
    import pytest

    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        ktruss_fixed,
    )

    with pytest.raises(ValueError):
        ktruss_fixed(_edges(spark, [("a", "b")]), k=2, rounds=2)

