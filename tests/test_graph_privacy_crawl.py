"""Round-5 batch: k-anonymity audit, crawl sharding, dup-cluster stats
(operators/privacy.k_anonymity_report, crawl.frontier_shards,
dedup.component_size_stats)."""

from medical_and_charity_document_extraction_system_spark.operators.crawl import frontier_shards
from medical_and_charity_document_extraction_system_spark.operators.dedup import (
    component_size_stats,
)
from medical_and_charity_document_extraction_system_spark.operators.privacy import (
    k_anonymity_report,
)


def test_k_anonymity_report_cells_and_rate(spark):
    rows = (
        # en/web length-bucket 0: 5 docs -> safe at k=5
        [(i, "en", "web", 50) for i in range(5)]
        # en/web bucket 1: 2 docs -> at risk
        + [(10, "en", "web", 150), (11, "en", "web", 199)]
        # fr: one lonely doc -> 100% at risk
        + [(20, "fr", "web", 10)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long"
    )
    got = {r.lang: r for r in k_anonymity_report(docs, k=5).collect()}
    en = got["en"]
    assert (en.n_docs, en.n_cells, en.n_small_cells, en.n_docs_at_risk) == (
        7, 2, 1, 2,
    )
    assert en.risk_bp == 2 * 10000 // 7
    fr = got["fr"]
    assert fr.n_docs_at_risk == 1 and fr.risk_bp == 10000


def test_frontier_shards_makespan_is_busiest_host(spark):
    frontier = spark.createDataFrame(
        [("big.com",)] * 7 + [("small.com",)] * 2, "host string"
    )
    rows = frontier_shards(frontier, n_shards=1, delay_us=1000).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_hosts, r.n_urls, r.max_host_urls, r.makespan_us) == (
        2, 9, 7, 7000,
    )


def test_frontier_shards_deterministic_assignment(spark):
    frontier = spark.createDataFrame(
        [(f"h{i}.com",) for i in range(40)], "host string"
    )
    a = sorted(map(tuple, frontier_shards(frontier, n_shards=4).collect()))
    b = sorted(map(tuple, frontier_shards(frontier, n_shards=4).collect()))
    assert a == b
    assert sum(r[1] for r in a) == 40  # every host lands somewhere


def test_component_size_stats_histogram(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (9, 9), (10, 9)],
        "node long, component long",
    )
    got = {r.cluster_size: r for r in component_size_stats(comps).collect()}
    assert got[3].n_clusters == 1 and got[3].n_docs == 3
    assert got[2].n_clusters == 2 and got[2].n_docs == 4
