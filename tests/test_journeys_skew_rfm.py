"""Personalized PageRank (operators/webgraph.pagerank_personalized)."""


def test_personalized_pagerank_mass_stays_near_seed(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        pagerank_fixed,
        pagerank_personalized,
    )

    # a -> b -> c chain plus a disconnected d <-> e pair
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("e", "d")],
        "src string, dst string",
    )
    ppr = {
        r.node: r.rank_units
        for r in pagerank_personalized(edges, seed="a", iterations=4).collect()
    }
    # unreachable-from-seed nodes end with exactly zero mass
    assert ppr["d"] == 0 and ppr["e"] == 0
    assert ppr["a"] > ppr["b"] > 0 and ppr["b"] > ppr["c"] > 0
    # global pagerank gives d/e nonzero mass — the seeding is real
    gpr = {
        r.node: r.rank_units
        for r in pagerank_fixed(edges, iterations=4).collect()
    }
    assert gpr["d"] > 0 and gpr["e"] > 0
