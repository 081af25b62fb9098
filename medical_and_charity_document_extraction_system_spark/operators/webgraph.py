"""Web-graph operators: outlink extraction and fixed-point PageRank.

The crawl-side complement of robots_filter (operators/crawl.py): a
frontier needs to know (a) which urls a page links to and (b) which
hosts are worth recrawling first. The reference system has no crawl
layer (documents arrive as uploads); these operators are part of the
web-scale ingestion surface this engine adds (SURVEY.md section 6).

``extract_outlinks`` pulls every ``href="..."`` anchor out of the raw
html bytes with one JVM ``regexp_extract_all`` (no Python in the data
path) and resolves relative links against the page url per RFC 3986's
common cases: absolute http(s) links pass through, root-relative
links join the origin, other relative links join the page's base
directory.

``pagerank_fixed`` is PageRank in INTEGER fixed-point: ranks are
bigint "units" (10^6 per node initially), each iteration moves
``units DIV out_degree`` along every edge and renews each node at
``(1-d)*10^6 + (d_num * inflow) DIV d_den`` with d = 85/100. Every
operation is integer add / multiply / floor-divide, so the result is
EXACTLY reproducible regardless of aggregation order — no libm, no
float fold-order dependence — and the DuckDB twin (K chained CTEs,
oracles.host_pagerank_sql) lands on identical bigints. Dangling-node
mass is dropped (the classic "PageRank without dangling
redistribution" variant); self-edges are allowed and contribute to
their own node. Unit overflow bound: 85 * total_units must fit in
int64, i.e. n_nodes * 10^6 < 10^17 — fine up to 10^11 nodes
(the host graph of the full web is ~10^8).

Scale shape (10^12 pages): outlink extraction is a zero-shuffle
projection. PageRank shuffles the edge list once per iteration
(join on src, agg on dst) — the standard distributed PageRank plan;
pre-partitioning edges and ranks on the node key (a bucketed table)
makes the per-iteration join co-located, leaving only the inflow agg
shuffle. ``pagerank_fixed`` runs a fixed unrolled K (the oracle needs a
finite SQL twin) and cuts the round lineage every five rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HREF_RE = r'href="([^"]*)"'


def _resolve_link(page, link):
    """RFC 3986 common-case resolution against the page url. The
    base dir comes from the PATH alone — on a path-less url
    ('https://h.example.com') the host must not be mistaken for the
    final path segment (review finding r4): its base dir is '/'."""
    origin = F.regexp_extract(page, r"^(https?://[^/]+)", 1)
    path = F.regexp_extract(page, r"^https?://[^/]+(/.*)?$", 1)
    base_dir = F.regexp_replace(path, r"[^/]*$", "")
    base_dir = F.when(base_dir == "", F.lit("/")).otherwise(base_dir)
    return (
        F.when(link.rlike(r"^https?://"), link)
        .when(link.startswith("/"), F.concat(origin, link))
        .otherwise(F.concat(origin, base_dir, link))
    )


def extract_outlinks(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """One row per anchor: (url, outlink) with outlink resolved to an
    absolute url. Rows with NULL html (non-html payloads) yield no
    links. Pure JVM: decode + regexp_extract_all + explode."""
    page = F.col(url_col)
    resolved = _resolve_link(page, F.col("_raw_link"))
    return (
        df.where(F.col(html_col).isNotNull())
        .select(
            page.alias("url"),
            F.explode(
                F.regexp_extract_all(
                    F.col(html_col).cast("string"), F.lit(_HREF_RE), F.lit(1)
                )
            ).alias("_raw_link"),
        )
        .select("url", resolved.alias("outlink"))
    )


_ANCHOR_RE = r'<a[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def extract_anchors(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """(url, outlink, anchor_text) per anchor — the link graph WITH
    its labels (anchor text is the classic relevance signal search
    indexes aggregate per target). Same zero-shuffle JVM shape as
    extract_outlinks: two regexp_extract_all passes over the same
    pattern (href group, body group) zipped positionally."""
    page = F.col(url_col)
    html_s = F.col(html_col).cast("string")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html_s, F.lit(_ANCHOR_RE), F.lit(1)).alias("link"),
        F.regexp_extract_all(html_s, F.lit(_ANCHOR_RE), F.lit(2)).alias("txt"),
    )
    resolved = _resolve_link(page, F.col("_p")["link"])
    return (
        df.where(F.col(html_col).isNotNull())
        .select(page.alias("url"), F.explode(pairs).alias("_p"))
        .select(
            "url",
            resolved.alias("outlink"),
            F.col("_p")["txt"].alias("anchor_text"),
        )
    )


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    unit: int = 1_000_000,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """Integer fixed-point PageRank over a DISTINCT edge list.
    Returns (node, rank_units) after ``iterations`` rounds. All
    arithmetic is int64 — bit-reproducible under any partitioning."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # materialize the edge list once: every iteration references it,
    # and without the cut each round re-runs the whole upstream edge
    # derivation (same lineage-cut rationale as
    # operators/dedup.connected_components)
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od")).localCheckpoint(eager=True)
    # base (1-d) share per node: exact when d_den divides unit
    base = unit - (d_num * unit) // d_den
    ranks = nodes.select("node", F.lit(unit).cast("long").alias("units"))
    for it in range(iterations):
        inflow = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", F.expr("units DIV od").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = nodes.join(
            inflow, nodes["node"] == inflow["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({d_num} * coalesce(inflow, 0L)) DIV {d_den}")
            ).alias("units"),
        )
        # cut the per-round join lineage periodically so deep runs
        # don't accumulate an O(iterations)-tall plan
        if (it + 1) % 5 == 0 and (it + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("units").alias("rank_units"))


def hits_fixed(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    unit: int = 1_000_000,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in INTEGER fixed
    point — the link-analysis complement to pagerank_fixed. The
    textbook algorithm L2-normalizes each round, which is float; this
    form L1-normalizes instead (the ranking is identical — both are
    positive rescalings of the same power iteration): per round,

        auth_raw(i) = sum of hub(j) over edges j->i
        auth(i)     = (auth_raw(i) * unit) DIV sum(auth_raw)
        hub_raw(i)  = sum of auth(j) over edges i->j
        hub(i)      = (hub_raw(i) * unit) DIV sum(hub_raw)

    so every operation is bigint add / multiply / floor-divide —
    bit-reproducible under any partitioning, with a finite unrolled
    SQL twin. Overflow bound: raw sums are at most n_nodes*unit and
    the normalize multiplies by unit, so n_nodes * unit^2 must fit in
    int64 — fine to ~9*10^6 nodes at unit 10^6; drop unit to 10^3 for
    a 10^12-node graph. Returns (node, auth_units, hub_units).

    Scale shape: per round, two edge-list joins + two doc-keyed aggs
    + two 1-row totals — the PageRank plan run twice; localCheckpoint
    per round keeps the plan O(1)-tall."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _push(scores: DataFrame, from_col: str, to_col: str) -> DataFrame:
        """raw(to) = sum of score(from) over edges, L1-renormalized."""
        raw = (
            e.join(scores, e[from_col] == scores["node"])
            .groupBy(F.col(to_col).alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        total = raw.agg(F.sum("raw")).collect()[0][0] or 0
        out = nodes.join(raw, "node", "left").select(
            "node",
            F.expr(
                f"(coalesce(raw, 0L) * {unit}L) DIV {max(total, 1)}L"
            ).alias("s"),
        )
        return out.localCheckpoint(eager=True)

    hub = nodes.select("node", F.lit(unit).cast("long").alias("s"))
    auth = None
    for _ in range(iterations):
        auth = _push(hub, "src", "dst")
        hub = _push(auth, "dst", "src")
    return (
        auth.select("node", F.col("s").alias("auth_units"))
        .join(hub.select("node", F.col("s").alias("hub_units")), "node")
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) — community detection over the host graph, the third
    link-analysis member after PageRank and HITS. The textbook
    algorithm breaks argmax ties randomly and updates asynchronously;
    both are non-reproducible on a cluster, so this form is (a)
    synchronous (every round reads the previous round's labels only)
    and (b) tie-broken by SMALLEST label — the update is a pure
    function of the graph, bit-identical under any partitioning:

        label'(v) = argmax over l of |{u in N(v) : label(u) = l}|,
                    ties -> min l; N(v) from the UNDIRECTED edge list
                    (self-loops dropped — a node does not vote for
                    itself). Nodes whose ONLY edges are self-loops
                    have no neighbors and are excluded entirely.

    Plan shape per round: one edge-list equi-join on the neighbor key
    + one (node, label) hash-agg (map-side combinable) + one per-node
    argmax via min(struct(-count, label)) — an agg, NEVER a
    row_number window over nodes (the window twin would funnel a hub
    node's candidate labels through one task; the agg form combines
    map-side). localCheckpoint every 5 rounds cuts the iterative
    lineage exactly as pagerank_fixed does. Fixed K rounds keeps the
    SQL twin finite (unrolled CTEs).

    Returns (node, label) — label is the community representative
    (the smallest node id string that won the vote).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    ud = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = ud.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for it in range(iterations):
        votes = (
            ud.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        winner = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("w")
        ).select("node", F.col("w.label").alias("new_label"))
        labels = (
            labels.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
        )
        if (it + 1) % 5 == 0 and (it + 1) < iterations:
            labels = labels.localCheckpoint(eager=True)
    return labels


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph —
    the local-clustering signal (spam farms and link rings are
    triangle-dense; editorial link neighborhoods are sparse).

    The naive three-way edge self-join explodes on hubs: a degree-d
    node contributes d*(d-1)/2 wedges, so one 10^6-degree host alone
    yields 5*10^11 join rows — the "curse of the last reducer" (Suri
    & Vassilvitskii, WWW 2011). The fix is their degree orientation:
    direct every edge from the endpoint with smaller (degree, node)
    rank to the larger, then build wedges only from each node's
    OUT-neighbors. Every node's out-degree is bounded by O(sqrt(m))
    on any graph, so the wedge fan-out per node is O(m) total no
    matter how skewed the degree distribution is; each triangle is
    generated exactly once (its lowest-rank corner builds the wedge,
    the closing edge is oriented low->high by construction).

    All joins are equi-joins on node keys (AQE-splittable), counts
    are integers, ties in the rank break on the node id — the result
    is a pure function of the edge set. Returns (node, triangles)
    for every node of the simple graph (0 for triangle-free nodes).
    """
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    ud = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        ud.select(F.col("a").alias("node"))
        .union(ud.select(F.col("b").alias("node")))
        .distinct()
    )
    deg = (
        ud.select(F.col("a").alias("node"))
        .union(ud.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        ud.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ).localCheckpoint(eager=True)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.ddst") < F.col("o2.ddst"))
            | (
                (F.col("o1.ddst") == F.col("o2.ddst"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(
        F.col("o1.src").alias("u"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    corner = (
        closed.select(F.col("u").alias("node"))
        .union(closed.select(F.col("v").alias("node")))
        .union(closed.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return nodes.join(corner, "node", "left").select(
        "node", F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles")
    )


def _symmetric_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Canonical undirected edge set (self-loops dropped, duplicates
    and reverse duplicates collapsed) expanded to both directions —
    the degree-counting form shared by the k-core peeler. Same
    canonicalization as triangle_counts."""
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).where(F.col(src_col) != F.col(dst_col))
    und = e.select(
        F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
    ).distinct()
    return und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))


def kcore_fixed(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    assert_converged: bool = True,
) -> DataFrame:
    """k-core membership by ``rounds`` synchronous peel iterations
    (Seidman 1983; the BSP peeling of Montresor et al. 2013): each
    round recomputes degrees over the surviving undirected subgraph
    and drops every node with degree < k, together with its edges.
    Returns (node, core_deg) for the survivors — after convergence
    this IS the k-core and every core_deg >= k.

    Determinism: pure set operations and integer counts — no floats,
    no tie-breaks. The unrolled-CTE twin replays identical rounds.

    Scale: per round one map-side-combinable degree agg + two
    semi-joins of the edge list against the (shrinking, usually
    broadcastable) survivor set; localCheckpoint cuts the per-round
    lineage exactly like pagerank_fixed. Rounds needed = peel depth,
    which is tiny on heavy-tailed web graphs (the core collapses in a
    few sweeps); ``assert_converged`` spends one extra count per call
    to guarantee the fixed unroll reached the fixpoint rather than
    silently returning a partial peel."""
    sym = _symmetric_edges(edges, src_col, dst_col).localCheckpoint(eager=True)
    prev_edges = None
    for r in range(rounds):
        deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.where(F.col("c") >= k).select("node")
        sym = (
            sym.join(keep, "node")
            .join(keep.withColumnRenamed("node", "nbr"), "nbr")
            .select("node", "nbr")
            .localCheckpoint(eager=True)
        )
        if r == rounds - 2:
            prev_edges = sym
    if assert_converged and rounds >= 2:
        n_prev = prev_edges.count()
        n_last = sym.count()
        assert n_prev == n_last, (
            f"k-core peel not converged after {rounds} rounds "
            f"({n_prev} -> {n_last} directed edges); raise `rounds`"
        )
    return sym.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("core_deg")
    )


def kcore_converged(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    src_col: str = "src",
    dst_col: str = "dst",
) -> tuple[DataFrame, int]:
    """Runtime-terminating twin of kcore_fixed: peel until no edge is
    removed (the per-round edge count doubles as the convergence
    action and the lineage cut). Returns (core_degrees, rounds_run) —
    bit-equal to kcore_fixed(rounds=rounds_run+...) by construction."""
    sym = _symmetric_edges(edges, src_col, dst_col).localCheckpoint(eager=True)
    n = sym.count()
    it = 0
    while it < max_rounds:
        deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.where(F.col("c") >= k).select("node")
        sym = (
            sym.join(keep, "node")
            .join(keep.withColumnRenamed("node", "nbr"), "nbr")
            .select("node", "nbr")
            .localCheckpoint(eager=True)
        )
        it += 1
        n_new = sym.count()
        if n_new == n:
            break
        n = n_new
    return (
        sym.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("core_deg")
        ),
        it,
    )


def _edge_support(ud: DataFrame) -> DataFrame:
    """Triangle support per canonical undirected edge (a < b): the
    number of triangles the edge closes, computed by the SAME
    degree-oriented wedge enumeration as triangle_counts (each
    triangle found exactly once at its lowest-rank corner, wedge
    fan-out bounded O(sqrt(m)) per node), then exploded to its three
    canonical edges and counted. Edges in no triangle get support 0
    (left join). Input must be canonical distinct (a < b) edges."""
    deg = (
        ud.select(F.col("a").alias("node"))
        .union(ud.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = ud.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ).localCheckpoint(eager=True)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.ddst") < F.col("o2.ddst"))
            | (
                (F.col("o1.ddst") == F.col("o2.ddst"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(
        F.col("o1.src").alias("u"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    tri_edges = closed.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
                ),
                F.struct(
                    F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")
                ),
                F.struct(
                    F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    sup = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup"))
    return ud.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("sup", F.lit(0)).cast("long").alias("support")
    )


def ktruss_fixed(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    assert_converged: bool = True,
) -> DataFrame:
    """k-truss of the undirected simple graph (Cohen 2008): the
    maximal subgraph where every edge closes >= k-2 triangles —
    peeled by synchronous rounds of (edge support -> drop weak
    edges), the same BSP discipline as kcore_fixed but one level up
    (edges peel on triangle support, not nodes on degree). Returns
    the surviving canonical edges with their final support
    (a, b, support), every support >= k-2 after convergence.

    Support counting reuses the degree-oriented triangle enumeration
    (wedge fan-out O(sqrt(m)) per node — survives power-law hubs);
    the oracle twin replays the peel with the orientation-free
    common-neighbor join, equal because support(a,b) is exactly
    |N(a) n N(b)|. ``assert_converged`` costs one count to guarantee
    the fixed unroll reached the fixpoint."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 >= 1)")
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    ud = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_n = None
    for r in range(rounds):
        sup = _edge_support(ud)
        ud = (
            sup.where(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        if r == rounds - 2:
            prev_n = ud
    if assert_converged and rounds >= 2:
        n_prev, n_last = prev_n.count(), ud.count()
        assert n_prev == n_last, (
            f"k-truss peel not converged after {rounds} rounds "
            f"({n_prev} -> {n_last} edges); raise `rounds`"
        )
    return _edge_support(ud)

