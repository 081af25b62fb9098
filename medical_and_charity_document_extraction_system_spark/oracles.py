"""DuckDB oracle SQL builders.

For every Spark query exposed through ``__spark_entry__.queries()``
these functions emit the equivalent ANSI SQL for the driver's
correctness gate. Two families:

1. **Construction oracles** for the extraction pipeline: the pages
   table is a deterministic pure function of ``documents.parquet``
   (sources/pages.py), so the expected extraction output — full text,
   totals, confidences, span values *and* char offsets — is
   reconstructed arithmetically in SQL, never by re-parsing HTML.
   This is the SQL twin of the reference's golden-fixture strategy
   (/root/reference/storage/json_tasks/).

2. **Expression twins** for the text/dedup/similarity analytics:
   operation-order-identical SQL so double results match Spark
   bit-for-bit (left-fold sums, same division order, no rounding).

Keep every formula in lock-step with sources/pages.py and
functions/textstats.py.
"""

from __future__ import annotations

import functools as _functools

from .functions.textstats import LANG_MARKERS, STOPWORDS
from .sources.pages import NAMES

NL = "chr(10)"
HDR1 = "'--- Page 1 ---' || chr(10)"

# ---------------------------------------------------------------- pages
_NAME_CASE = (
    "CASE (doc_id % 20) "
    + " ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(NAMES))
    + " END"
)


def base_cte() -> str:
    """CTE ``base``: every deterministic component of the synthesized
    page + expected extraction, one row per document."""
    return f"""
base AS (
  SELECT
    doc_id,
    text,
    lang,
    (doc_id * 31) % 100                       AS m,
    (doc_id * 131) % 100                      AS hmod,
    {_NAME_CASE}                              AS name,
    CASE WHEN doc_id % 2 = 0 THEN 'Patient: ' ELSE 'Donor: ' END AS prefix,
    CAST(10000 + (doc_id * 7919) % 90000 AS VARCHAR)             AS inv,
    printf('%02d/%02d/23', CAST(1 + doc_id % 12 AS INT), CAST(1 + doc_id % 28 AS INT)) AS dt,
    (doc_id * 9973) % 1000000                 AS cents,
    chr(CAST(65 + doc_id % 26 AS INT)) || printf('%02d', doc_id % 100)
      || '.' || CAST(doc_id % 10 AS VARCHAR)  AS icd,
    'scan ' || CAST(doc_id AS VARCHAR)        AS scan_text
  FROM documents
),
parts AS (
  SELECT *,
    '$' || format('{{:,}}', cents // 100) || '.' || printf('%02d', cents % 100) AS amt,
    CASE WHEN hmod < 40 THEN 0 WHEN hmod < 60 THEN 1 WHEN hmod < 70 THEN 2
         ELSE 3 + hmod % 17 END AS hidx
  FROM base
),
doc AS (
  SELECT *,
    'https://host' || CAST(hidx AS VARCHAR) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
    prefix || name AS l2,
    'Invoice ' || inv || ' dated ' || dt AS l3,
    'Total due: ' || amt || ' (code ' || icd || ')' AS l4
  FROM parts
),
rec AS (
  SELECT *,
    text || {NL} || l2 || {NL} || l3 || {NL} || l4 AS main,
    l2 || {NL} || l3 || {NL} || l4 AS p2
  FROM doc
)"""


_WORDS = "len(list_filter(regexp_split_to_array({s}, '\\s+'), x -> x <> ''))"


def _words(s: str) -> str:
    return _WORDS.format(s=s)


# the expected full text per document (shared by the flagship oracle
# and every oracle that post-processes extraction text)
_EXTRACT_TEXT_CASE = (
    f"CASE WHEN m >= 14 AND m < 16 THEN '' "
    f"WHEN m >= 10 AND m < 14 THEN {HDR1} || scan_text "
    f"WHEN m >= 4 AND m < 10 THEN {HDR1} || text || {NL} || {NL} || "
    f"'--- Page 2 ---' || {NL} || p2 "
    f"ELSE {HDR1} || main END"
)


def extraction_doc_records_sql() -> str:
    """Expected document records (flagship oracle)."""
    return f"""
WITH {base_cte()}
SELECT
  doc_id,
  url,
  CASE WHEN m >= 10 AND m < 14 THEN TRUE ELSE FALSE END AS is_scanned,
  CASE WHEN m < 4 THEN 'direct_text_extraction'
       WHEN m < 10 THEN 'direct_text_extraction'
       WHEN m < 14 THEN 'ocr_pipeline'
       WHEN m < 16 THEN 'error'
       ELSE 'html_extraction' END AS processing_method,
  CAST(CASE WHEN m >= 14 AND m < 16 THEN 0 WHEN m >= 4 AND m < 10 THEN 2 ELSE 1 END AS INT) AS page_count,
  CAST(CASE WHEN m >= 14 AND m < 16 THEN 0
            WHEN m >= 10 AND m < 14 THEN length(scan_text)
            WHEN m >= 4 AND m < 10 THEN length(text) + length(p2)
            ELSE length(main) END AS BIGINT) AS total_characters,
  CAST(CASE WHEN m >= 14 AND m < 16 THEN 0
            WHEN m >= 10 AND m < 14 THEN {_words('scan_text')}
            WHEN m >= 4 AND m < 10 THEN {_words('text')} + {_words('p2')}
            ELSE {_words('main')} END AS BIGINT) AS total_words,
  CAST(CASE WHEN m >= 14 AND m < 16 THEN 0.0
            WHEN m >= 10 AND m < 14 THEN 80 + length(scan_text) % 20
            ELSE 100.0 END AS DOUBLE) AS average_confidence,
  {_EXTRACT_TEXT_CASE} AS text,
  CASE WHEN m < 4 THEN 'text' WHEN m < 10 THEN 'text' WHEN m < 14 THEN 'stub'
       WHEN m < 16 THEN 'none' ELSE 'density_v1' END AS engine,
  lang
FROM rec
"""


def extraction_spans_sql() -> str:
    """Expected exploded field spans with 0-based char offsets into the
    document full text (end exclusive). Span layout mirrors
    sources/pages.py content_lines: header(15) + text + separator +
    'Patient: '/'Donor: ' name / 'Invoice ' inv ' dated ' dt /
    'Total due: ' amt ' (code ' icd ')'."""
    return f"""
WITH {base_cte()},
pos AS (
  SELECT *,
    CASE WHEN m >= 4 AND m < 10
         THEN 15 + length(text) + 2 + 15   -- pdf: hdr1+text+\\n\\n+hdr2
         ELSE 15 + length(text) + 1        -- html/direct: hdr1+text+\\n
    END AS l2pos
  FROM rec
  WHERE m < 10 OR m >= 16
),
pos2 AS (
  SELECT *,
    l2pos + length(l2) + 1 AS l3pos,
    l2pos + length(l2) + 1 + length(l3) + 1 AS l4pos
  FROM pos
)
SELECT doc_id, field, value,
       CAST(span_start AS INT) AS span_start,
       CAST(span_end AS INT) AS span_end
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'patient_name' ELSE 'donor_name' END AS field,
         name AS value,
         l2pos + length(prefix) AS span_start,
         l2pos + length(prefix) + length(name) AS span_end
  FROM pos2
  UNION ALL
  SELECT doc_id, 'invoice_number', inv, l3pos + 8, l3pos + 8 + 5 FROM pos2
  UNION ALL
  SELECT doc_id, 'date', dt, l3pos + 8 + 5 + 7, l3pos + 8 + 5 + 7 + 8 FROM pos2
  UNION ALL
  SELECT doc_id, 'amount', amt, l4pos + 11, l4pos + 11 + length(amt) FROM pos2
  UNION ALL
  SELECT doc_id, 'diagnosis_code', icd,
         l4pos + 11 + length(amt) + 7,
         l4pos + 11 + length(amt) + 7 + 5
  FROM pos2
)
"""


# ------------------------------------------------------- analytics twins
def rollup_source_sql() -> str:
    return """
WITH t AS (
  SELECT source, text, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS pn
  FROM documents
)
SELECT source,
       CAST(count(*) AS INT) AS page_count,
       CAST(sum(n_chars) AS BIGINT) AS total_characters,
       string_agg('--- Page ' || CAST(pn AS VARCHAR) || ' ---' || chr(10) || text,
                  chr(10) || chr(10) ORDER BY pn) AS text
FROM t
GROUP BY source
"""


_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"


def token_count_sql() -> str:
    return f"SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents"


def _in_list(words: tuple[str, ...]) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> x IN ({lits})))"


def quality_score_sql() -> str:
    stop = _in_list(STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
r AS (
  SELECT doc_id,
    len(toks) AS n,
    {stop} / len(toks) AS stop_ratio,
    (length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g'))) / length(text) AS punct
  FROM t
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  stop_ratio AS stopword_ratio,
  punct AS punct_ratio,
  0.4 * least(n / 100.0, 1.0) + 0.4 * (1.0 - stop_ratio) + 0.2 * (1.0 - punct) AS quality
FROM r
"""


def lang_guess_sql() -> str:
    c = {lang: _in_list(words) for lang, words in LANG_MARKERS.items()}
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (SELECT doc_id, {c['en']} AS c_en, {c['de']} AS c_de, {c['fr']} AS c_fr, {c['es']} AS c_es FROM t)
SELECT doc_id,
  CASE WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0 THEN 'und'
       WHEN c_en >= greatest(c_de, c_fr, c_es) THEN 'en'
       WHEN c_de >= greatest(c_fr, c_es) THEN 'de'
       WHEN c_fr >= c_es THEN 'fr'
       ELSE 'es' END AS lang_guess
FROM c
"""


def lang_agreement_sql() -> str:
    """Twin of q_lang_agreement: the declared-vs-detected language
    confusion matrix (the corpus-quality dashboard table), reusing the
    lang_guess reconstruction verbatim."""
    return f"""
WITH g AS ({lang_guess_sql()})
SELECT d.lang AS declared, g.lang_guess AS detected,
       count(*) AS n_docs
FROM documents d JOIN g ON g.doc_id = d.doc_id
GROUP BY d.lang, g.lang_guess
"""


def fingerprint_sql() -> str:
    return "SELECT doc_id, md5(text) AS fp FROM documents"


def exact_dedup_sql() -> str:
    return """
SELECT md5(text) AS fp,
       CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM documents GROUP BY md5(text)
"""


_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
    " ELSE [] END"
)


def ngram_jaccard_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
WHERE len(a.sh) > 0 AND len(b.sh) > 0
"""


def shingle_jaccard_pairs_sql(t_num: int = 1, t_den: int = 2) -> str:
    """Twin of operators/sparsesim.shingle_jaccard_pairs (exact mode):
    same word-3-gram shingle sets, posting self-join on the gram,
    per-pair co-occurrence count, integer cross-multiplied threshold,
    ONE exact-integer division for the reported Jaccard. The Spark
    side's df=1 prune is a pure optimization (a df-1 gram cannot
    co-occur), so the twin omits it and results are identical."""
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
p AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz, unnest(sh) AS gram FROM s),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         CAST(count(*) AS BIGINT) AS overlap
  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, sz_a, sz_b, overlap,
       overlap / (sz_a + sz_b - overlap) AS jaccard
FROM pr
WHERE overlap * {t_den} >= {t_num} * (sz_a + sz_b - overlap)
"""


_DOT = (
    "list_reduce(list_transform(generate_series(1, {n}), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)


def _cos(a: str, b: str, n: int = 64) -> str:
    dot = _DOT.format(n=n, a=a, b=b)
    na = _DOT.format(n=n, a=a, b=a)
    nb = _DOT.format(n=n, a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def topk_cosine_sql(k: int = 10, query_vec_id: int = 0) -> str:
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_vec_id})
SELECT vec_id, {_cos('v', 'qv')} AS cos_sim
FROM e, q
WHERE vec_id <> {query_vec_id}
ORDER BY cos_sim DESC, vec_id
LIMIT {k}
"""


def embedding_near_dup_sql(threshold: float = 0.3) -> str:
    # pre-normalized form: must stay in IEEE lock-step with
    # q_embedding_near_dup (norm per row, one fold-dot per pair)
    norm = _DOT.format(n=64, a="v", b="v")
    dot = _DOT.format(n=64, a="a.vn", b="b.vn")
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
n AS (SELECT vec_id, sqrt({norm}) AS nrm, v FROM e),
vn AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM n)
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS cos_sim
  FROM vn a JOIN vn b ON a.vec_id < b.vec_id
) WHERE cos_sim > {threshold}
"""


def minhash_near_dup_sql(threshold: float = 0.9) -> str:
    """True all-pairs n-gram Jaccard >= threshold. The Spark side goes
    through MinHash banding + verification; at j>=0.9 with 64 hashes /
    16 bands the LSH miss probability is ~1e-12, so the verified output
    equals the exact pair set."""
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(a.sh) > 0 AND len(b.sh) > 0
  AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)) >= {threshold}
"""


def near_dup_components_sql(threshold: float = 0.9) -> str:
    """Recursive-CTE twin of operators/dedup.connected_components over
    the exact >=threshold jaccard pair graph (the pairs the Spark side
    reaches through MinHash banding + verification): every node's
    component is the min id reachable through the undirected edges."""
    return f"""
WITH RECURSIVE
{_near_dup_walk_ctes(threshold)}
SELECT CAST(node AS BIGINT) AS node, CAST(min(label) AS BIGINT) AS component
FROM walk GROUP BY node
"""


def _near_dup_walk_ctes(threshold: float) -> str:
    """Shared recursive-closure fragment over the exact >=threshold
    jaccard pair graph: defines CTEs t, s, p, e and walk(node, label).
    Callers prepend WITH RECURSIVE."""
    return f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS MATERIALIZED (SELECT doc_id, {_SHINGLES} AS sh FROM t),
p AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
    AND len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)) >= {threshold}
),
e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
walk(node, label) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, w.label FROM e JOIN walk w ON w.node = e.dst
)"""


def golden_records_sql(threshold: float = 0.9) -> str:
    """Twin of q_golden_records: the same recursive closure, LEFT
    JOIN to cover singletons, election as a textbook row_number over
    (quality DESC, id) — identical selection to the Spark side's
    min(struct(-q, id)) aggregate."""
    return f"""
WITH RECURSIVE
{_near_dup_walk_ctes(threshold)},
{_survivorship_tail()}
"""


def _survivorship_tail() -> str:
    """Shared closure + election fragment: expects a CTE ``walk(node,
    label)`` over the undirected pair edges; emits the golden-record
    SELECT (component, canonical_id, n_members, max_quality)."""
    return """comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
allrows AS (
  SELECT d.doc_id AS id, d.n_chars AS q,
         coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
r AS (
  SELECT component, id, q,
         row_number() OVER (PARTITION BY component ORDER BY q DESC, id) AS rn,
         count(*) OVER (PARTITION BY component) AS n_members,
         max(q) OVER (PARTITION BY component) AS mq
  FROM allrows
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(id AS BIGINT) AS canonical_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(mq AS BIGINT) AS max_quality
FROM r WHERE rn = 1"""


def entity_resolution_sql(max_dist: int = 4, prefix_len: int = 24) -> str:
    """Twin of q_entity_resolution: the all-pairs Levenshtein edge
    list closed by the same recursive walk, same election tail as
    golden_records — fuzzy-key entity resolution end to end."""
    return f"""
WITH RECURSIVE
t AS (SELECT doc_id AS id, substring(text, 1, {prefix_len}) AS s
      FROM documents WHERE text IS NOT NULL),
p AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b
  FROM t a JOIN t b
    ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= {max_dist}
  WHERE levenshtein(a.s, b.s) <= {max_dist}
),
e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
walk(node, label) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, w.label FROM e JOIN walk w ON w.node = e.dst
),
{_survivorship_tail()}
"""


def source_topk_sql(k: int = 3) -> str:
    """Twin of q_source_topk: the textbook row_number window — the
    Spark side must land on the identical row set through its
    agg+join threshold plan (ties broken by doc_id ASC in both)."""
    return f"""
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {k}
"""


def stratified_sample_sql(k: int = 5) -> str:
    """Twin of q_stratified_sample: bottom-k md5-hash rank per source
    (same 15-hex-digit bigint hash both engines), ties on doc_id."""
    h = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    return f"""
SELECT source, doc_id, lang FROM (
  SELECT source, doc_id, lang,
         row_number() OVER (
           PARTITION BY source ORDER BY {h}, doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {k}
"""


def snapshot_evolution_sql() -> str:
    """Twin of q_snapshot_evolution: original rows read NULL in the
    evolved column, the post-evolution batch carries its values —
    the direct construction of the expected current-table state."""
    return """
SELECT doc_id, md5(text) AS fp, CAST(NULL AS VARCHAR) AS lang FROM documents
UNION ALL
SELECT doc_id + 200000, md5(text), lang FROM documents WHERE doc_id % 5 = 0
"""


def incremental_report_sql() -> str:
    """Twin of q_incremental_report: the IVM-refreshed view must
    equal the per-source count/sum report RECOMPUTED from the
    post-merge table state, which this SQL constructs directly (the
    snapshot_merge CASE/UNION arithmetic)."""
    return """
WITH v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 100000, 'src_new', 'new doc ' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 50 = 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM v2 GROUP BY source
"""


def bitext_mine_sql(
    label_a: int = 0,
    label_b: int = 1,
    knn: int = 4,
    top_k: int = 50,
) -> str:
    """Twin of q_bitext_mine: same pre-normalized fold cosines, ranks
    by (cos DESC, other id), the neighbor sum as the SAME explicit
    left-assoc (((c1+c2)+c3)+c4 tree, margin = one multiply by the
    exact 2k + one division."""
    norm = _DOT.format(n=64, a="v", b="v")
    dot = _DOT.format(n=64, a="a.vn", b="b.vn")

    def rank_sum(key: str, other: str, out: str) -> str:
        arms = [f"max(CASE WHEN rn = {j} THEN cos_sim END)" for j in range(1, knn + 1)]
        tree = arms[0]
        for a in arms[1:]:
            tree = f"({tree} + {a})"
        return f"""r_{key} AS (
  SELECT {key}, {other}, cos_sim,
         row_number() OVER (PARTITION BY {key}
                            ORDER BY cos_sim DESC, {other}) AS rn
  FROM s
),
d_{key} AS (
  SELECT {key}, {tree} AS {out} FROM r_{key} WHERE rn <= {knn} GROUP BY {key}
)"""

    return f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE label IN ({label_a}, {label_b})),
n AS (SELECT vec_id, label, sqrt({norm}) AS nrm, v FROM e),
vn AS (SELECT vec_id, label, list_transform(v, x -> x / nrm) AS vn FROM n),
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {dot} AS cos_sim
  FROM vn a JOIN vn b ON a.label = {label_a} AND b.label = {label_b}
),
{rank_sum("id_a", "id_b", "denom_a")},
{rank_sum("id_b", "id_a", "denom_b")}
SELECT s.id_a, s.id_b, s.cos_sim,
       s.cos_sim * {_dlit(float(2 * knn))} / (d_id_a.denom_a + d_id_b.denom_b)
         AS margin
FROM s JOIN d_id_a USING (id_a) JOIN d_id_b USING (id_b)
ORDER BY margin DESC, id_a, id_b
LIMIT {top_k}
"""


def pca_project_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    k: int = 4,
    sample_rows: int = 10000,
) -> str:
    """Twin of q_pca_project: the fit is re-derived from the target
    sf_dir with the SAME shared numpy helper (identical id-ordered
    sample, LAPACK SVD, sign convention), and the mean/component
    values land as repr-string literals in a 0.0-seeded left-assoc
    sum — bit-identical to the Spark side's Python fold."""
    import duckdb
    import numpy as np

    from .operators.pca import pca_fit_np

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        f"FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id LIMIT {sample_rows}"
    ).fetchall()
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    mean, comps = pca_fit_np(mat, k)
    dim = mat.shape[1]
    branches = []
    for j in range(k):
        terms = "".join(
            f" + ((v[{i + 1}] - {_dlit(float(mean[i]))}) * {_dlit(float(comps[j][i]))})"
            for i in range(dim)
        )
        branches.append(
            f"SELECT vec_id, CAST({j} AS INT) AS component,"
            f" CAST('0.0' AS DOUBLE){terms} AS value FROM e"
        )
    union = "\nUNION ALL ".join(branches)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
{union}
"""


def term_cooccurrence_sql(
    min_support: int = 3, max_terms_per_doc: int = 500, top_k: int = 50
) -> str:
    """Twin of q_term_cooccurrence: same filtered universe (2..cap
    distinct terms), same int64 cross products, ONE division, textbook
    ORDER BY ... LIMIT."""
    return f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS dt FROM documents),
tt AS (SELECT doc_id, dt FROM t
       WHERE len(dt) >= 2 AND len(dt) <= {max_terms_per_doc}),
u AS (SELECT doc_id, unnest(dt) AS w FROM tt),
nxy AS (
  SELECT a.w AS x, b.w AS y, CAST(count(*) AS BIGINT) AS n_xy
  FROM u a JOIN u b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
),
dfw AS (SELECT w, CAST(count(*) AS BIGINT) AS dfw FROM u GROUP BY w),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tt)
SELECT x, y, n_xy,
       CAST(n_xy * nd.n AS DOUBLE) / CAST(a.dfw * b.dfw AS DOUBLE) AS lift
FROM nxy JOIN dfw a ON a.w = x JOIN dfw b ON b.w = y CROSS JOIN nd
WHERE n_xy >= {min_support}
ORDER BY lift DESC, x, y
LIMIT {top_k}
"""


def table_profile_sql() -> str:
    """Twin of q_table_profile: UNION-ALL unpivot of the documents
    columns to (col, rendered value), same counting aggregates.
    String min/max is binary/lexicographic in both engines."""
    branches = []
    for c, needs_cast in (
        ("doc_id", True),
        ("text", False),
        ("lang", False),
        ("source", False),
        ("n_chars", True),
    ):
        v = f"CAST({c} AS VARCHAR)" if needs_cast else c
        branches.append(f"SELECT '{c}' AS col, {v} AS val FROM documents")
    kv = "\nUNION ALL ".join(branches)
    return f"""
WITH kv AS ({kv})
SELECT col AS "column",
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(val) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
       min(val) AS min_str,
       max(val) AS max_str
FROM kv GROUP BY col
"""


def _dhash_rows(n: int = 200) -> tuple[tuple[int, int], ...]:
    """Expected (media_id, dhash) for the synthetic page images —
    the image_preprocess golden-fixture pattern: the same integer
    dHash kernel run once single-process on the driver."""
    from .operators.multimodal import render_page_image
    from .operators.phash import dhash64_np

    return tuple((i, dhash64_np(render_page_image(i))) for i in range(n))


def image_dhash_sql(n: int = 200) -> str:
    """Twin of q_image_dhash: driver-computed dHash literals (exact
    integer kernel — no float to disagree on) joined to documents."""
    vals = ",\n".join(f"({i}, {h})" for i, h in _dhash_rows(n))
    return f"""
SELECT CAST(v.media_id AS BIGINT) AS media_id,
       CAST(v.dhash AS BIGINT) AS dhash,
       CAST(NULL AS VARCHAR) AS error
FROM (VALUES {vals}) v(media_id, dhash)
JOIN documents d ON d.doc_id = v.media_id
"""


def image_near_dup_sql(max_hamming: int = 4, n: int = 200) -> str:
    """Twin of q_image_near_dup: all-pairs bit_count(xor) over the
    same dhash literals — the Spark side's banded candidates must be
    invisible in the result."""
    vals = ",\n".join(f"({i}, {h})" for i, h in _dhash_rows(n))
    return f"""
WITH h0 AS (SELECT * FROM (VALUES {vals}) v(media_id, dhash)),
h AS (SELECT CAST(h0.media_id AS BIGINT) AS id, CAST(h0.dhash AS BIGINT) AS dh
      FROM h0 JOIN documents d ON d.doc_id = h0.media_id)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.id < b.id
WHERE bit_count(xor(a.dh, b.dh)) <= {max_hamming}
"""


def distinctive_terms_sql(top_k: int = 5, min_count: int = 3) -> str:
    """Twin of q_distinctive_terms: same lift arithmetic (exact int64
    cross products, ONE division), textbook row_number top-k. DuckDB
    sum() returns HUGEINT — cast to BIGINT before the products."""
    return f"""
WITH tok AS (
  SELECT source AS cls, unnest({_TOKS}) AS t
  FROM documents WHERE text IS NOT NULL
),
tc AS (SELECT cls, t, CAST(count(*) AS BIGINT) AS n_tc FROM tok GROUP BY 1, 2),
tt AS (SELECT t, CAST(sum(n_tc) AS BIGINT) AS n_t FROM tc GROUP BY 1),
ct AS (SELECT cls, CAST(sum(n_tc) AS BIGINT) AS n_c FROM tc GROUP BY 1),
tot AS (SELECT CAST(sum(n_tc) AS BIGINT) AS n FROM tc),
s AS (
  SELECT cls, t, n_tc,
         CAST(n_tc * n AS DOUBLE) / CAST(n_t * n_c AS DOUBLE) AS lift
  FROM tc JOIN tt USING (t) JOIN ct USING (cls) CROSS JOIN tot
  WHERE n_tc >= {min_count}
),
r AS (SELECT *, row_number() OVER (
        PARTITION BY cls ORDER BY lift DESC, t ASC) AS rn FROM s)
SELECT cls AS source, t AS term, n_tc, lift FROM r WHERE rn <= {top_k}
"""


def winnow_fingerprints_sql(k: int = 5, w: int = 4) -> str:
    """Twin of q_winnow_fingerprints: identical combined-integer
    arithmetic (40-bit md5 gram hash << 20 | reversed 1-based pos),
    window minima via a rows-frame window, short docs via a global
    min. Rightmost-min ties fall out of the integer encoding."""
    mod, top = 1 << 20, (1 << 20) - 1
    return f"""
WITH t AS (
  SELECT doc_id, text AS s, length(text) AS n FROM documents
  WHERE text IS NOT NULL AND length(text) >= {k} AND length(text) < {top}
),
j AS (SELECT doc_id, s, n, unnest(generate_series(1, n - {k - 1})) AS j FROM t),
h AS (SELECT doc_id, n, j,
        CAST(('0x' || substr(md5(substr(s, j, {k})), 1, 10)) AS BIGINT)
          * {mod} + ({top} - j) AS c
      FROM j),
w1 AS (SELECT doc_id, j,
        min(c) OVER (PARTITION BY doc_id ORDER BY j
                     ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS c
       FROM h WHERE n - {k - 1} > {w}),
sel AS (
  SELECT DISTINCT doc_id, c FROM w1 WHERE j >= {w}
  UNION
  SELECT doc_id, min(c) AS c FROM h WHERE n - {k - 1} <= {w} GROUP BY doc_id
)
SELECT doc_id, CAST({top} - (c % {mod}) AS BIGINT) AS pos, c // {mod} AS fp
FROM sel
"""


def edit_distance_pairs_sql(max_dist: int = 4, prefix_len: int = 24) -> str:
    """Twin of q_edit_distance_pairs: the straightforward all-pairs
    Levenshtein join (DuckDB's levenshtein == Spark's: unit-cost
    character DP). The Spark side's q-gram/deletion candidate
    machinery is lossless, so the naive form IS the spec."""
    return f"""
WITH t AS (
  SELECT doc_id AS id, substring(text, 1, {prefix_len}) AS s
  FROM documents WHERE text IS NOT NULL
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM t a JOIN t b
  ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= {max_dist}
WHERE levenshtein(a.s, b.s) <= {max_dist}
"""


def merge_sources_sql() -> str:
    """Twin of operators/maintenance.merge_sources (reference
    merge_pdfs, pdf_service.py:23-85): UNION ALL of the two halves,
    then the A4 page-count aggregation."""
    return """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT * FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT * FROM documents WHERE doc_id % 2 = 1
)
GROUP BY source
"""


def retention_cleanup_sql(cutoff: str = "2024-01-15 00:00:00") -> str:
    """Twin of operators/maintenance.retention_filter (reference
    cleanup_files, file_utils.py:75-126): survivors per event_type."""
    return f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept
FROM events WHERE ts >= TIMESTAMP '{cutoff}'
GROUP BY event_type
"""


def pdf_pages_sql() -> str:
    """Construction oracle for the F1/F2 page explode: pdf_text docs
    (m in [4,10)) have pages [text, p2]; pdf_scanned (m in [10,14))
    a single scan_text page (sources/pages.py bucket/payload rules)."""
    return f"""
WITH {base_cte()}
SELECT doc_id, page_number, page_text,
       CAST(length(page_text) AS INT) AS char_count
FROM (
  SELECT doc_id, 1 AS page_number, text AS page_text
  FROM rec WHERE m >= 4 AND m < 10
  UNION ALL
  SELECT doc_id, 2 AS page_number, p2 AS page_text
  FROM rec WHERE m >= 4 AND m < 10
  UNION ALL
  SELECT doc_id, 1 AS page_number, scan_text AS page_text
  FROM rec WHERE m >= 10 AND m < 14
)
"""


_GOPHER_KEEP = """coalesce(
    n_words >= 50 AND n_words <= 100000
    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
    AND alpha_word_ratio >= 0.8 AND stopword_hits >= 2
    AND dup_line_frac <= 0.3
    AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3,
    FALSE)"""

# the signal CTE chain over a CTE named ``t`` providing (doc_id,
# text); shared by gopher_sql and the composite training_pipeline_sql
_GOPHER_BODY = """s AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
    string_split(text, chr(10)) AS lines
  FROM t
),
c AS (
  SELECT doc_id, toks, lines,
    len(toks) AS n_words,
    coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
    len(list_filter(toks, x -> x IN ('the','a','of','to','and','in'))) AS stop_hits,
    len(lines) AS n_lines,
    len(list_distinct(lines)) AS n_distinct_lines,
    coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS line_chars,
    coalesce(list_sum(list_transform(list_distinct(lines),
        l -> (len(list_filter(lines, y -> y = l)) - 1) * length(l))), 0) AS dup_chars,
    len(list_filter(lines, x -> starts_with(x, '- ') OR starts_with(x, '* ')
        OR starts_with(x, '• '))) AS bullet_lines,
    len(list_filter(lines, x -> ends_with(x, '...'))) AS ellipsis_lines,
    CASE WHEN len(toks) > 0 THEN list_max(list_transform(list_distinct(toks),
        w -> len(list_filter(toks, x -> x = w)))) END AS top_count
  FROM s
),
v AS (
  SELECT doc_id,
    CAST(n_words AS BIGINT) AS n_words,
    CASE WHEN n_words > 0
         THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
    CASE WHEN n_words > 0
         THEN CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) END AS alpha_word_ratio,
    CAST(stop_hits AS BIGINT) AS stopword_hits,
    CASE WHEN n_words > 0
         THEN CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) END AS top_word_frac,
    CAST(n_lines AS BIGINT) AS n_lines,
    CAST(n_lines - n_distinct_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS dup_line_frac,
    CASE WHEN line_chars > 0
         THEN CAST(dup_chars AS DOUBLE) / CAST(line_chars AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS dup_line_char_frac,
    CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_line_frac,
    CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_line_frac
  FROM c
)"""


def gopher_sql() -> str:
    """Twin of functions/gopher.with_gopher_signals over the
    reconstructed extraction text: every signal is integer counts
    divided once (CAST AS DOUBLE on both sides), so doubles are
    bit-identical across engines."""
    return f"""
WITH {base_cte()},
t AS (SELECT doc_id, {_EXTRACT_TEXT_CASE} AS text FROM rec),
{_GOPHER_BODY}
SELECT *,
  {_GOPHER_KEEP} AS gopher_keep
FROM v
"""


def _robots_rules_values(n_hosts: int = 20) -> str:
    """VALUES literals for the parsed robots rules of host0..N — the
    OUTPUT of the real parser over the same synthesized bodies
    (shared by robots_filter_sql and crawl_frontier_sql)."""
    from .functions.robots import parse_robots, pattern_to_like, synthesize_robots

    rows = []
    for i in range(n_hosts):
        for pattern, allow in parse_robots(synthesize_robots(i)):
            like = pattern_to_like(pattern).replace("'", "''")
            rows.append(
                f"('host{i}.example.com', '{pattern}', {str(allow).upper()}, "
                f"'{like}', {len(pattern.encode('utf-8'))})"
            )
    return ",\n  ".join(rows)


def robots_filter_sql(n_hosts: int = 20) -> str:
    """Twin of q_robots_filter: the rules table is the OUTPUT of the
    real parser (functions/robots.parse_robots over the same
    synthesized bodies), embedded as VALUES literals — the LSH
    projection/centroid trick — and the longest-match resolution is
    replayed as the identical join + window. DuckDB has NO default
    LIKE escape, so the twin says ``ESCAPE '\\'`` explicitly (Spark's
    LIKE default escape is already backslash)."""
    values = _robots_rules_values(n_hosts)
    return rf"""
WITH hid AS (
  SELECT doc_id, (doc_id * 131) % 100 AS h FROM documents),
urls AS (
  SELECT doc_id,
         CASE WHEN h < 40 THEN 0 WHEN h < 60 THEN 1 WHEN h < 70 THEN 2
              ELSE 3 + h % 17 END AS hidx
  FROM hid),
u AS (
  SELECT doc_id,
         'https://host' || CAST(hidx AS VARCHAR) || '.example.com/doc/'
           || CAST(doc_id AS VARCHAR) AS url,
         'host' || CAST(hidx AS VARCHAR) || '.example.com' AS host,
         '/doc/' || CAST(doc_id AS VARCHAR) AS path
  FROM urls),
rules(host, pattern, allow, like_pat, pat_len) AS (VALUES
  {values}),
m AS (
  SELECT u.doc_id, r.pattern, r.allow, r.pat_len
  FROM u JOIN rules r ON u.host = r.host AND u.path LIKE r.like_pat ESCAPE '\'),
best AS (
  SELECT doc_id, pattern, allow FROM (
    SELECT doc_id, pattern, allow,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY pat_len DESC, allow DESC, pattern) AS rn
    FROM m) WHERE rn = 1)
SELECT u.doc_id, u.url,
       coalesce(b.allow, TRUE) AS allowed,
       coalesce(b.pattern, '(default)') AS rule
FROM u LEFT JOIN best b ON u.doc_id = b.doc_id
"""


def pdf_pages_type0_sql(n: int = 300) -> str:
    """Type0-generation round-trip oracle: each doc became a one-page
    subsetted-CID PDF whose shows are hex CIDs — extraction through
    the embedded /ToUnicode CMap must reproduce the source text
    byte-identically (page_number 1, char_count = length)."""
    return f"""
SELECT doc_id,
       CAST(1 AS INT) AS page_number,
       coalesce(text, '') AS page_text,
       CAST(length(coalesce(text, '')) AS INT) AS char_count
FROM documents WHERE doc_id < {n}
"""


def bpe_token_count_sql() -> str:
    return r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def host_quality_sql() -> str:
    """Construction oracle for plans/metrics.host_quality_metrics over
    the extraction output: per-doc error/scanned/confidence/span-count
    values are pure functions of doc_id (sources/pages.py), aggregated
    by host. All averaged values are integers, so double sums are
    exact in any order and the single final division matches Spark
    bit-for-bit."""
    return f"""
WITH {base_cte()}
SELECT
  'host' || CAST(hidx AS VARCHAR) || '.example.com' AS host,
  CAST(count(*) AS BIGINT) AS docs,
  avg(CASE WHEN m >= 14 AND m < 16 THEN 1.0 ELSE 0.0 END) AS error_share,
  avg(CASE WHEN m >= 10 AND m < 14 THEN 1.0 ELSE 0.0 END) AS scanned_share,
  avg(CASE WHEN m >= 14 AND m < 16 THEN 0.0
           WHEN m >= 10 AND m < 14 THEN 80 + length(scan_text) % 20
           ELSE 100.0 END) AS avg_confidence,
  avg(CASE WHEN m >= 10 AND m < 16 THEN 0.0 ELSE 5.0 END) AS avg_spans,
  CAST(sum(CASE WHEN m >= 14 AND m < 16 THEN 0
                WHEN m >= 10 AND m < 14 THEN length(scan_text)
                WHEN m >= 4 AND m < 10 THEN length(text) + length(p2)
                ELSE length(main) END) AS BIGINT) AS total_chars
FROM rec
GROUP BY 1
"""


def ocr_words_sql() -> str:
    """Construction oracle for the exploded OCR word records (F3):
    scanned docs' single page text is 'scan ' || doc_id, so the two
    word records and their char offsets are pure doc_id arithmetic;
    confidence matches the stub engine's 80 + len % 20."""
    return f"""
WITH {base_cte()}
SELECT doc_id, CAST(1 AS INT) AS page_number,
       CAST(word_num AS INT) AS word_num, word,
       CAST(w_start AS INT) AS w_start, CAST(w_end AS INT) AS w_end,
       CAST(80 + length(scan_text) % 20 AS DOUBLE) AS confidence
FROM (
  SELECT doc_id, scan_text, 1 AS word_num, 'scan' AS word,
         0 AS w_start, 4 AS w_end
  FROM rec WHERE m >= 10 AND m < 14
  UNION ALL
  SELECT doc_id, scan_text, 2 AS word_num, CAST(doc_id AS VARCHAR) AS word,
         5 AS w_start, 5 + length(CAST(doc_id AS VARCHAR)) AS w_end
  FROM rec WHERE m >= 10 AND m < 14
)
"""


def route_stats_sql() -> str:
    """Construction oracle for the routing distribution (P1): bucket
    membership and per-bucket page counts/chars are doc_id arithmetic
    (sources/pages.py bucket rules)."""
    return f"""
WITH {base_cte()}
SELECT
  CASE WHEN m < 10 THEN 'direct_text_extraction'
       WHEN m < 14 THEN 'ocr_pipeline'
       WHEN m < 16 THEN 'error'
       ELSE 'html_extraction' END AS processing_method,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN m >= 14 AND m < 16 THEN 0
                WHEN m >= 4 AND m < 10 THEN 2 ELSE 1 END) AS BIGINT) AS n_pages,
  CAST(sum(CASE WHEN m >= 14 AND m < 16 THEN 0
                WHEN m >= 10 AND m < 14 THEN length(scan_text)
                WHEN m >= 4 AND m < 10 THEN length(text) + length(p2)
                ELSE length(main) END) AS BIGINT) AS sum_chars
FROM rec
GROUP BY 1
"""


# ------------------------------------------------------ streaming twins
def stream_host_rate_sql() -> str:
    """Construction oracle for the watermarked tumbling-window stream
    (streaming/stream.host_rate_stream, 1h window / 2h watermark):
    warc_ts and host are doc_id arithmetic (sources/pages.py:91-95,
    :75-84), and append-mode emission is itself deterministic — a
    window emits iff its END <= max(event_time) - watermark when the
    availableNow drain finishes. Both the counts AND the emission rule
    are reconstructed here, so the oracle pins watermark semantics,
    not just the aggregation."""
    return """
WITH p AS (
  SELECT doc_id,
         TIMESTAMP '2026-01-01 00:00:00'
           + ((doc_id * 137) % 630720000) * INTERVAL 1 SECOND AS warc_ts,
         (doc_id * 131) % 100 AS hmod
  FROM documents
),
h AS (
  SELECT warc_ts,
         CASE WHEN hmod < 40 THEN 0 WHEN hmod < 60 THEN 1
              WHEN hmod < 70 THEN 2 ELSE 3 + hmod % 17 END AS hidx
  FROM p
),
agg AS (
  SELECT date_trunc('hour', warc_ts) AS ws,
         'host' || CAST(hidx AS VARCHAR) || '.example.com' AS host,
         CAST(count(*) AS BIGINT) AS n_pages
  FROM h GROUP BY 1, 2
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       host, n_pages
FROM agg
WHERE ws + INTERVAL 1 HOUR <= (SELECT max(warc_ts) FROM p) - INTERVAL 2 HOUR
"""


def stream_host_totals_sql() -> str:
    """Construction oracle for the applyInPandasWithState running
    totals drained in one micro-batch: final running row per host =
    the host's page count, which is doc_id arithmetic."""
    return """
WITH h AS (
  SELECT (doc_id * 131) % 100 AS hmod FROM documents
),
idx AS (
  SELECT CASE WHEN hmod < 40 THEN 0 WHEN hmod < 60 THEN 1
              WHEN hmod < 70 THEN 2 ELSE 3 + hmod % 17 END AS hidx
  FROM h
)
SELECT 'host' || CAST(hidx AS VARCHAR) || '.example.com' AS host,
       CAST(count(*) AS BIGINT) AS total_pages
FROM idx GROUP BY 1
"""


# ----------------------------------------------------------- LSH twins
def _lsh_proj_values(tables: int, bits: int, dim: int) -> str:
    """The random-hyperplane projection matrix as SQL literals — the
    SAME constants the Spark side derives (similarity._projections,
    seeded RandomState), emitted with shortest-round-trip repr so
    DuckDB parses bit-identical doubles. This makes the *approximate*
    LSH operators fully oracle-checkable: DuckDB re-derives buckets,
    candidates and verification from scratch."""
    from .operators.similarity import _projections

    proj = _projections(dim, tables, bits)
    rows = []
    for t in range(tables):
        for b in range(bits):
            vec = ", ".join(repr(float(x)) for x in proj[t, b])
            rows.append(f"({t}, {b}, [{vec}])")
    return ",\n".join(rows)


def _lsh_keys_cte(tables: int, bits: int, dim: int) -> str:
    """CTEs ``proj`` + ``keys``: per-(vector, table) bucket key =
    sum over bits of 2^bit where sign(dot(projection, v)) >= 0 —
    the SQL image of similarity.lsh_bucket_udf's packed sign bits.
    (The UDF computes the dots as one GEMM; sign() is robust to the
    last-ulp summation-order difference for any non-degenerate dot.)"""
    pdot = _DOT.format(n=dim, a="proj.p", b="e.v")
    return f"""proj(tbl, bit, p) AS (VALUES {_lsh_proj_values(tables, bits, dim)}),
keys AS (
  SELECT e.vec_id, proj.tbl,
         CAST(sum(CASE WHEN ({pdot}) >= 0
                       THEN (CAST(1 AS BIGINT) << proj.bit) ELSE 0 END) AS BIGINT) AS key
  FROM e CROSS JOIN proj
  GROUP BY e.vec_id, proj.tbl
)"""


def embedding_near_dup_lsh_sql(
    threshold: float = 0.3, tables: int = 8, bits: int = 10, dim: int = 64
) -> str:
    """Twin of similarity.embedding_near_dup_lsh: candidates share an
    LSH bucket in >=1 table; verification is one fold-dot over the
    pre-normalized vectors (IEEE order matches the JVM aggregate)."""
    norm = _DOT.format(n=dim, a="v", b="v")
    dot = _DOT.format(n=dim, a="a.vn", b="b.vn")
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
{_lsh_keys_cte(tables, bits, dim)},
n AS (SELECT vec_id, sqrt({norm}) AS nrm, v FROM e),
vn AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM n),
cand AS (
  SELECT DISTINCT ka.vec_id AS vec_a, kb.vec_id AS vec_b
  FROM keys ka JOIN keys kb
    ON ka.tbl = kb.tbl AND ka.key = kb.key AND ka.vec_id < kb.vec_id
)
SELECT * FROM (
  SELECT cand.vec_a, cand.vec_b, {dot} AS cos_sim
  FROM cand JOIN vn a ON a.vec_id = cand.vec_a
            JOIN vn b ON b.vec_id = cand.vec_b
) WHERE cos_sim >= {threshold}
"""


def ann_topk_lsh_sql(
    k: int = 10,
    tables: int = 16,
    bits: int = 4,
    dim: int = 64,
    query_vec_id: int = 0,
) -> str:
    """Twin of similarity.ann_topk_lsh: score only vectors sharing a
    bucket with the query in >=1 table, exact cosine, top-k."""
    cosexpr = _cos("e.v", "q.qv", dim)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
{_lsh_keys_cte(tables, bits, dim)},
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_vec_id}),
qk AS (SELECT tbl, key FROM keys WHERE vec_id = {query_vec_id}),
cand AS (
  SELECT DISTINCT k.vec_id
  FROM keys k JOIN qk ON k.tbl = qk.tbl AND k.key = qk.key
  WHERE k.vec_id <> {query_vec_id}
)
SELECT e.vec_id, {cosexpr} AS cos_sim
FROM cand JOIN e ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY cos_sim DESC, e.vec_id
LIMIT {k}
"""


def chunk_documents_sql(chunk_size: int = 32, overlap: int = 8) -> str:
    """Twin of operators/chunking.chunk_documents: same parity
    tokenizer, same integer window arithmetic, list_slice = F.slice
    (both 1-based, both clamp at the end)."""
    step = chunk_size - overlap
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
k AS (SELECT *, CASE WHEN n <= {chunk_size} THEN 1
                     ELSE ((n - {chunk_size} + {step - 1}) // {step}) + 1
                END AS n_chunks FROM s),
g AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM k),
c AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
             list_slice(toks, i * {step} + 1, i * {step} + {chunk_size}) AS chunk
      FROM g)
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM c
"""


def url_dedup_sql() -> str:
    """Twin of q_url_dedup: the same dirty-variant construction and
    the same canonicalization steps as functions/urlnorm.canonical_url
    (anchored Java/RE2-identical regexes + split/filter/join query
    cleanup) — DuckDB re-derives the whole pipeline from scratch."""
    return r"""
WITH d AS (SELECT doc_id, doc_id // 2 AS d2 FROM documents),
u AS (SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'https://host' || CAST(d2 % 20 AS VARCHAR) || '.example.com/doc/' || CAST(d2 AS VARCHAR)
    WHEN 1 THEN 'http://' || upper('host' || CAST(d2 % 20 AS VARCHAR) || '.example.com') || ':80/doc/' || CAST(d2 AS VARCHAR) || '/'
    WHEN 2 THEN 'https://host' || CAST(d2 % 20 AS VARCHAR) || '.example.com/doc/' || CAST(d2 AS VARCHAR) || '/?utm_source=feed&utm_medium=email'
    ELSE 'https://host' || CAST(d2 % 20 AS VARCHAR) || '.example.com:443/doc/' || CAST(d2 AS VARCHAR) || '?utm_campaign=x&page=2#frag'
  END AS dirty FROM d),
c1 AS (SELECT doc_id, regexp_replace(dirty, '#.*$', '') AS u FROM u),
c2 AS (SELECT doc_id,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1))
           || regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', '') AS u FROM c1),
c3 AS (SELECT doc_id, regexp_replace(u, '^http://', 'https://') AS u FROM c2),
c4 AS (SELECT doc_id, regexp_replace(u, '^(https://[^/?:]+):(80|443)([/?]|$)', '\1\3') AS u FROM c3),
c5 AS (SELECT doc_id,
         regexp_replace(regexp_replace(u, '\?.*$', ''), '/+$', '') AS base,
         coalesce(regexp_extract(u, '\?(.*)$', 1), '') AS q FROM c4),
c6 AS (SELECT doc_id, base,
         coalesce(array_to_string(list_filter(string_split(q, '&'),
           x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z]+|fbclid|gclid|msclkid|ref_src)=')), '&'), '') AS q2
       FROM c5),
c7 AS (SELECT doc_id, CASE WHEN q2 = '' THEN base ELSE base || '?' || q2 END AS curl FROM c6)
SELECT curl, count(*) AS n_variants, min(doc_id) AS keeper
FROM c7 GROUP BY curl
"""


def pii_redact_sql() -> str:
    """Twin of q_pii_redact: the SAME rule table
    (functions/redact.REDACTION_RULES) compiled to nested DuckDB
    regexp_replace('g') over the reconstructed extraction text."""
    from .functions.redact import redact_sql_expr

    inner = extraction_doc_records_sql()
    return f"""
SELECT doc_id, {redact_sql_expr("text")} AS redacted
FROM ({inner})
"""


def _dlit(x: float) -> str:
    # quoted-repr -> DOUBLE: a bare float literal parses as DECIMAL in
    # DuckDB (loses -0.0 and precision); repr round-trips exactly
    return f"CAST('{x!r}' AS DOUBLE)"


def bm25_scores_sql(
    query_terms: tuple[str, ...] = ("table", "scan", "index"),
    sf_dir: str = "/root/testdata/sf0.01",
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of operators/sessions.bm25_scores. The corpus stats are
    re-reduced from the same parquet (integers — exact) and the idf /
    avgdl constants computed with the same Python math, so both
    engines evaluate the identical literal-for-literal scalar tree in
    the identical left-to-right term order (no engine-side ln: Java
    Math.log and libm may differ in the last ulp)."""
    score = _bm25_score_expr(query_terms, sf_dir, k1, b)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id, {score} AS bm25
FROM t
WHERE ({score}) > 0.0
"""


def _bm25_score_expr(
    query_terms: tuple[str, ...],
    sf_dir: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """The literal-for-literal BM25 scalar tree over a ``toks`` list
    column — shared by the standalone twin and the hybrid-retrieval
    composite."""
    from .operators.sessions import corpus_stats_for_oracle

    _, avgdl, idfs = corpus_stats_for_oracle(sf_dir, list(query_terms))
    terms_sql = []
    for t, idf in zip(query_terms, idfs):
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        denom = (
            f"({tf} + {_dlit(k1)} * ({_dlit(1.0 - b)} + {_dlit(b)} * "
            f"(CAST(len(toks) AS DOUBLE) / {_dlit(avgdl)})))"
        )
        terms_sql.append(f"{_dlit(idf)} * (({tf} * {_dlit(k1 + 1.0)}) / {denom})")
    return " + ".join(terms_sql)


def hybrid_retrieval_sql(
    query_terms: tuple[str, ...] = ("table", "scan", "index"),
    sf_dir: str = "/root/testdata/sf0.01",
    query_vec_id: int = 0,
    n_per_run: int = 20,
    k: int = 60,
    top_k: int = 10,
) -> str:
    """Twin of q_hybrid_retrieval: the same two bounded top-N runs
    (BM25 literal tree; left-fold cosine) ranked by row_number, RRF =
    one division per run + one addition — bit-identical doubles, so
    the final (rrf DESC, doc_id) LIMIT picks the same rows."""
    score = _bm25_score_expr(query_terms, sf_dir)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
lex0 AS (
  SELECT doc_id AS id, {score} AS s FROM t WHERE ({score}) > 0.0
  ORDER BY s DESC, id LIMIT {n_per_run}
),
lex AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS r FROM lex0),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_vec_id}),
vec0 AS (
  SELECT vec_id AS id, {_cos('v', 'qv')} AS s
  FROM e, q WHERE vec_id <> {query_vec_id}
  ORDER BY s DESC, id LIMIT {n_per_run}
),
vec AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS r FROM vec0),
f AS (
  SELECT coalesce(lex.id, vec.id) AS doc_id,
         CAST(lex.r AS BIGINT) AS r_a,
         CAST(vec.r AS BIGINT) AS r_b,
         (CASE WHEN lex.r IS NOT NULL
               THEN CAST('1.0' AS DOUBLE) / CAST({k} + lex.r AS DOUBLE)
               ELSE CAST('0.0' AS DOUBLE) END
        + CASE WHEN vec.r IS NOT NULL
               THEN CAST('1.0' AS DOUBLE) / CAST({k} + vec.r AS DOUBLE)
               ELSE CAST('0.0' AS DOUBLE) END) AS rrf
  FROM lex FULL JOIN vec ON lex.id = vec.id
)
SELECT doc_id, r_a, r_b, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT {top_k}
"""


def boilerplate_removal_sql(min_docs: int = 10) -> str:
    """Twin of q_boilerplate_removal over the reconstructed extraction
    text: lines present in >= min_docs distinct documents (per-doc
    distinct, blank lines never boilerplate) are stripped; remaining
    lines reassemble in position order."""
    return f"""
WITH {base_cte()},
doc_text AS (
  SELECT doc_id, {_EXTRACT_TEXT_CASE} AS t FROM rec
),
lines AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10))) AS line,
         generate_subscripts(string_split(t, chr(10)), 1) AS ln
  FROM doc_text
),
bp AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
  GROUP BY line
  HAVING count(*) >= {min_docs} AND trim(line) <> ''
),
kept AS (
  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM bp)
),
rem AS (
  SELECT doc_id, count(*) AS n_removed
  FROM lines WHERE line IN (SELECT line FROM bp) GROUP BY doc_id
),
clean AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(c.clean_text, '') AS clean_text,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
FROM doc_text d
LEFT JOIN clean c ON c.doc_id = d.doc_id
LEFT JOIN rem r ON r.doc_id = d.doc_id
"""


def crawl_diff_sql() -> str:
    """Twin of q_crawl_diff: exceptAll(crawl2, crawl1) on
    (doc_id, md5) is exactly the rewritten rows (every 10th doc)."""
    return """
SELECT doc_id, md5(text || ' [rev2]') AS fp
FROM documents WHERE doc_id % 10 = 0
"""


def host_length_quantiles_sql() -> str:
    """Twin of q_host_length_quantiles. The 0.95 multiplier travels as
    a quoted-repr DOUBLE: a bare 0.95 literal is DECIMAL in DuckDB and
    its exact ceil() can differ from Spark's double arithmetic at
    n*0.95 near an integer (e.g. n=40: double gives 38.000...004 ->
    ceil 39, decimal gives exactly 38)."""
    p50 = "CAST('0.5' AS DOUBLE)"
    p95 = "CAST('0.95' AS DOUBLE)"
    return f"""
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       min(CASE WHEN rk >= ceil(n * {p50}) THEN n_chars END) AS p50_chars,
       min(CASE WHEN rk >= ceil(n * {p95}) THEN n_chars END) AS p95_chars
FROM r GROUP BY source
"""


def hist_quantiles_sql(bins: int = 64, width: int = 16) -> str:
    """Twin of q_hist_quantiles: identical integer bin assignment,
    cumulative bin counts, and the float-free ceil threshold
    (n*p + 99) // 100 — no DECIMAL/DOUBLE literal anywhere."""

    def q(p: int) -> str:
        return f"min(CASE WHEN cum >= (n * {p} + 99) // 100 THEN bin END)"

    return f"""
WITH b AS (
  SELECT source, least(greatest(n_chars, 0) // {width}, {bins - 1}) AS bin
  FROM documents
),
c AS (SELECT source, bin, count(*) AS cnt FROM b GROUP BY source, bin),
w AS (
  SELECT source, bin, cnt,
         sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM c
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST({q(50)} AS BIGINT) AS p50_bin,
       CAST(({q(50)} + 1) * {width} - 1 AS BIGINT) AS p50_upper,
       CAST({q(95)} AS BIGINT) AS p95_bin,
       CAST(({q(95)} + 1) * {width} - 1 AS BIGINT) AS p95_upper
FROM w GROUP BY source
"""


def snapshot_time_travel_sql() -> str:
    """Twin of q_snapshot_time_travel: snapshot 1 holds exactly the
    even-id docs, so reading it back must aggregate exactly those."""
    return """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 2 = 0
GROUP BY source
"""


def error_taxonomy_sql() -> str:
    """Twin of q_error_taxonomy: the ~2% malformed-binary rows
    (m in [14,16), sources/pages.py:64-70) produce the pipeline's
    "html: <UnicodeDecodeError>" record, which the decision table in
    functions/errors.py maps to (html, DecodeError); every other row
    is clean -> (none, none)."""
    return f"""
WITH {base_cte()}
SELECT CASE WHEN m >= 14 AND m < 16 THEN 'html' ELSE 'none' END AS error_family,
       CASE WHEN m >= 14 AND m < 16 THEN 'DecodeError' ELSE 'none' END AS error_code,
       count(*) AS n_docs
FROM base
GROUP BY 1, 2
"""


# -------------------------------------------------- multimodal / images
def media_features_sql() -> str:
    """Construction oracle for the multimodal feature stage: the fake
    payload is 'MEDIA:<id>:<md5(id)>' (multimodal.attach_fake_media),
    so kind and byte length are pure doc_id arithmetic."""
    return """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                    WHEN 1 THEN 'audio'
                                    ELSE 'video' END AS kind,
       CAST(length('MEDIA:' || CAST(doc_id AS VARCHAR) || ':'
                   || md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS n_bytes
FROM documents
"""


@_functools.lru_cache(maxsize=None)
def _image_preprocess_rows(
    n: int = 200, codec: str = "netpbm"
) -> tuple[tuple[int, int, int, float], ...]:
    """Expected (media_id, width, height, skew_angle) for the synthetic
    page images, computed once on the driver with the pure-numpy kernel
    chain — the golden-fixture pattern (reference
    storage/json_tasks/hospitalbill_*.json): the distributed run must
    byte-match a single-process run of the same deterministic kernels.
    Pytest carries the independent semantic oracle (planted skew/dims,
    tests/test_preprocess_stage.py); this gate proves the Spark
    plumbing (Arrow batches, container round-trip, cross-process
    determinism) changes nothing.

    ``codec`` mirrors attach_page_images: the driver chain runs the
    SAME encode -> decode round trip the executors run, so for the
    lossy JPEG container the expected rows are computed over exactly
    the pixels the distributed kernels see."""
    from .functions import imageio
    from .functions.image_ops import preprocess_image_array
    from .operators.multimodal import render_page_image

    rows = []
    for i in range(n):
        img = render_page_image(i)
        if codec != "netpbm":
            img, _ = imageio.decode_auto(imageio.encode_as(img, codec))
        processed, meta = preprocess_image_array(img, document_type="general")
        rows.append(
            (i, int(processed.shape[1]), int(processed.shape[0]),
             float(meta["skew_angle"]))
        )
    return tuple(rows)


def image_preprocess_sql(n: int = 200, codec: str = "netpbm") -> str:
    # skew travels as a quoted repr string: a bare -0.0 literal is
    # parsed as DECIMAL by DuckDB and loses the sign on the way to
    # DOUBLE; VARCHAR -> DOUBLE preserves it (and repr() round-trips
    # every double exactly)
    vals = ",\n".join(
        f"({i}, {w}, {h}, '{skew!r}')"
        for i, w, h, skew in _image_preprocess_rows(n, codec)
    )
    return f"""
SELECT CAST(v.media_id AS BIGINT) AS media_id,
       CAST(v.width AS INT) AS width,
       CAST(v.height AS INT) AS height,
       CAST(v.skew AS DOUBLE) AS skew_angle,
       CAST(NULL AS VARCHAR) AS error
FROM (VALUES {vals}) v(media_id, width, height, skew)
JOIN documents d ON d.doc_id = v.media_id
"""


def media_resize_sql(height: int = 64, width: int = 128, n: int = 200) -> str:
    """Resize-stage construction oracle: every synthetic page image
    decodes, so output dims are the requested dims and error is NULL."""
    return f"""
SELECT doc_id AS media_id,
       CAST({width} AS INT) AS width,
       CAST({height} AS INT) AS height,
       CAST(NULL AS VARCHAR) AS error
FROM documents WHERE doc_id < {n}
"""


def merge_pdf_artifacts_sql() -> str:
    """Merged-PDF rollup oracle: one single-page real PDF per document,
    merged per source — page_count = n_inputs = docs in the group,
    nothing skipped (every built PDF parses)."""
    return """
SELECT source,
       CAST(count(*) AS INT) AS page_count,
       CAST(count(*) AS INT) AS n_inputs,
       CAST(0 AS INT) AS n_skipped
FROM documents GROUP BY source
"""


def stream_dedup_urls_sql() -> str:
    """One surviving row per url after the doubled re-crawl feed —
    the synthesized url universe."""
    return f"""
WITH {base_cte()}
SELECT url FROM rec
"""


# ------------------------------------------------------------- simhash
def _simhash_cte() -> str:
    """CTE ``sh``: (doc_id, hi, lo, simhash) — full from-scratch
    recompute of operators/dedup.simhash64 in SQL. Token hash = md5
    hex hi/lo 32-bit halves (the reason simhash64 uses md5, not
    xxhash64: DuckDB has no xxhash64); bit b's vote is +1/-1 per
    token; simhash bit b set iff vote > 0. hi/lo stay unsigned
    halves so shifts never touch the sign bit; the signed 64-bit
    value is reconstructed arithmetically at the end."""
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
th AS (SELECT doc_id,
              CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
              CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo
       FROM tok),
votes AS (
  SELECT doc_id, bb.b AS b,
         sum(CASE WHEN (CASE WHEN bb.b < 32 THEN (lo >> bb.b)
                             ELSE (hi >> (bb.b - 32)) END) & 1 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb
  GROUP BY doc_id, bb.b
),
halves AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 AND b < 32
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN vote > 0 AND b >= 32
                       THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM votes GROUP BY doc_id
),
sh AS (
  SELECT d.doc_id,
         COALESCE(h.hi, 0) AS hi,
         COALESCE(h.lo, 0) AS lo,
         CAST(COALESCE((CASE WHEN h.hi >= 2147483648 THEN h.hi - 4294967296
                             ELSE h.hi END) * 4294967296 + h.lo, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN halves h ON d.doc_id = h.doc_id
)"""


def simhash_sql() -> str:
    return f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM sh"


def simhash_near_dup_sql(max_hamming: int = 3) -> str:
    """16-bit chunk pigeonhole blocking + Hamming verification, the
    exact SQL image of operators/dedup.simhash_near_dup: chunks come
    from the unsigned hi/lo halves (c0..c3 = 16-bit slices), pairs
    share a (chunk, key), hamming = bit_count(xor)."""
    return f"""
WITH {_simhash_cte()},
{_simhash_pairs_ctes(max_hamming)}
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM spairs
"""


def _simhash_pairs_ctes(max_hamming: int) -> str:
    """CTEs chunks + spairs(id_a, id_b, hamming) over the ``sh``
    fingerprint table — shared by the standalone twin and the
    dedup-evaluation composite."""
    return f"""chunks AS (
  SELECT doc_id, simhash, c.chunk,
         CASE c.chunk WHEN 0 THEN lo & 65535
                      WHEN 1 THEN (lo >> 16) & 65535
                      WHEN 2 THEN hi & 65535
                      ELSE (hi >> 16) & 65535 END AS key
  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk) c
),
spairs AS (
  SELECT id_a, id_b, hamming FROM (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
  )
  WHERE hamming <= {max_hamming}
)"""


def dedup_eval_sql(max_hamming: int = 3, threshold: float = 0.9) -> str:
    """Twin of q_dedup_eval: SimHash hamming<=3 candidates vs exact
    Jaccard>=0.9 truth, full-outer joined on the pair key, confusion
    counts + basis-point rates as single integer divisions."""
    return f"""
WITH RECURSIVE
{_simhash_cte()},
{_simhash_pairs_ctes(max_hamming)},
{_near_dup_walk_ctes(threshold)},
cm AS (SELECT id_a, id_b, 1 AS c FROM spairs),
tm AS (SELECT id_a, id_b, 1 AS tr FROM p),
j AS (SELECT c, tr FROM cm FULL JOIN tm USING (id_a, id_b)),
a AS (
  SELECT CAST(count(*) FILTER (c IS NOT NULL AND tr IS NOT NULL) AS BIGINT) AS tp,
         CAST(count(*) FILTER (c IS NOT NULL AND tr IS NULL) AS BIGINT) AS fp,
         CAST(count(*) FILTER (c IS NULL AND tr IS NOT NULL) AS BIGINT) AS fneg
  FROM j
)
SELECT tp + fp AS n_candidates, tp + fneg AS n_truth, tp, fp, fneg AS "fn",
       CASE WHEN tp + fp > 0 THEN tp * 10000 // (tp + fp) END AS precision_bp,
       CASE WHEN tp + fneg > 0 THEN tp * 10000 // (tp + fneg) END AS recall_bp
FROM a
"""


_BUCKET = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000")


def sample_10pct_sql() -> str:
    """Twin of operators/sampling.deterministic_sample(fraction=0.1):
    identical md5-prefix bucket arithmetic in both engines."""
    return f"SELECT doc_id FROM documents WHERE {_BUCKET} < 1000"


def split_counts_sql() -> str:
    """Twin of operators/sampling.assign_split(0.8/0.1/0.1)."""
    return f"""
WITH b AS (SELECT doc_id, n_chars, {_BUCKET} AS bkt FROM documents)
SELECT CASE WHEN bkt < 8000 THEN 'train'
            WHEN bkt < 9000 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1
"""


def top_docs_per_source_sql(k: int = 3) -> str:
    """Per-key top-N (window rank) twin."""
    return f"""
SELECT source, doc_id, n_chars, CAST(rk AS INT) AS rk
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
WHERE rk <= {k}
"""


# --------------------------------------------------- sub-document dedup (r4)
SPAN_DEDUP_LICENSE = (
    "this work is licensed under the creative commons attribution "
    "share alike license see the terms page for more details"
)


def _paragraph_ctes(src: str) -> str:
    """The first-occurrence line-dedup CTE chain (lines/r/cl/tot)
    over CTE ``src`` providing (doc_id, t). Shared by
    paragraph_dedup_sql and training_pipeline_sql."""
    return f"""lines AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10))) AS line,
         generate_subscripts(string_split(t, chr(10)), 1) - 1 AS pos
  FROM {src}
),
r AS (
  SELECT doc_id, line, pos,
         CASE WHEN trim(line) = '' THEN 1
              ELSE row_number() OVER (PARTITION BY md5(line)
                                      ORDER BY doc_id, pos)
         END AS rn
  FROM lines
),
cl AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS nk
  FROM r WHERE rn = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n FROM lines GROUP BY doc_id)"""


def paragraph_dedup_sql() -> str:
    """Twin of operators/textdedup.paragraph_dedup over the
    reconstructed extraction text: a non-blank line survives only at
    its corpus-global first (doc_id, pos) occurrence; blank lines
    always survive; survivors reassemble in position order.
    row_number() over (md5(line) ORDER BY doc_id, pos) = 1 is exactly
    Spark's min(struct(doc_id, pos)) per line hash."""
    return f"""
WITH {base_cte()},
doc_text AS (
  SELECT doc_id, {_EXTRACT_TEXT_CASE} AS t FROM rec
),
{_paragraph_ctes("doc_text")}
SELECT tot.doc_id,
       coalesce(cl.clean_text, '') AS clean_text,
       CAST(tot.n - coalesce(cl.nk, 0) AS BIGINT) AS n_removed
FROM tot LEFT JOIN cl USING (doc_id)
"""


def span_dedup_sql(k: int = 12) -> str:
    """Twin of operators/textdedup.span_dedup over documents with the
    planted shared-license suffix (doc_id %% 3 = 0): every k-token
    window hash seen in >= 2 distinct docs marks its positions
    duplicated in all but the global-min (doc_id, wpos) occurrence.
    list_slice(toks, wpos+1, wpos+k) (1-based inclusive) ==
    F.slice(toks, wpos+1, k)."""
    return f"""
WITH d AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                      THEN ' {SPAN_DEDUP_LICENSE}' ELSE '' END AS text
  FROM documents
),
t AS (SELECT doc_id, {_TOKS} AS toks FROM d),
w AS (
  SELECT doc_id, toks, unnest(range(0, len(toks) - {k} + 1)) AS wpos
  FROM t WHERE len(toks) >= {k}
),
h AS (
  SELECT doc_id, wpos,
         md5(array_to_string(list_slice(toks, wpos + 1, wpos + {k}), ' ')) AS whash
  FROM w
),
f AS (SELECT whash, count(DISTINCT doc_id) AS nd FROM h GROUP BY whash),
r AS (
  SELECT h.doc_id, h.wpos, f.nd,
         row_number() OVER (PARTITION BY h.whash
                            ORDER BY h.doc_id, h.wpos) AS rn
  FROM h JOIN f USING (whash)
),
dup AS (SELECT doc_id, wpos FROM r WHERE nd >= 2 AND rn > 1),
cov AS (
  SELECT DISTINCT doc_id, tp
  FROM (SELECT doc_id, unnest(range(wpos, wpos + {k})) AS tp FROM dup)
),
tok AS (
  SELECT doc_id, unnest(toks) AS tok,
         generate_subscripts(toks, 1) - 1 AS tp
  FROM t
),
kept AS (
  SELECT tok.doc_id, tok.tp, tok.tok FROM tok
  WHERE NOT EXISTS (SELECT 1 FROM cov
                    WHERE cov.doc_id = tok.doc_id AND cov.tp = tok.tp)
),
tot AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
cl AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text,
         count(*) AS nk
  FROM kept GROUP BY doc_id
)
SELECT tot.doc_id,
       coalesce(cl.clean_text, '') AS clean_text,
       CAST(tot.n - coalesce(cl.nk, 0) AS BIGINT) AS n_removed
FROM tot LEFT JOIN cl USING (doc_id)
"""


# ------------------------------------------------------- web graph (r4)
def outlink_graph_sql() -> str:
    """Twin of q_outlink_graph: the html template
    (sources/pages.py:_HTML_TEMPLATE) plants exactly nine
    root-relative anchors in every html-bucket page (m >= 16), so the
    expected (doc_id, outlink) rows are constructed — origin x the
    nine paths — never re-parsed."""
    paths = [
        "/", "/about", "/contact", "/terms",
        "/tag/popular", "/tag/recent", "/tag/archive",
        "/privacy", "/imprint",
    ]
    plist = ", ".join(f"'{p}'" for p in paths)
    return f"""
WITH {base_cte()},
h AS (SELECT doc_id, url FROM rec WHERE m >= 16),
p AS (SELECT unnest([{plist}]) AS path)
SELECT h.doc_id,
       regexp_extract(h.url, '^(https?://[^/]+)', 1) || p.path AS outlink
FROM h CROSS JOIN p
"""


def _hidx_case(h: str) -> str:
    return (
        f"CASE WHEN {h} < 40 THEN 0 WHEN {h} < 60 THEN 1 "
        f"WHEN {h} < 70 THEN 2 ELSE 3 + {h} % 17 END"
    )


def _host_graph_ctes() -> str:
    """The deterministic host edge list shared by the PageRank and
    HITS twins (each doc links its Zipf host to two derived hosts) —
    kept ONE fragment so the two link-analysis oracles cannot drift
    from each other's graph."""
    return f"""dd AS (
  SELECT doc_id, (doc_id * 131) % 100 AS h0,
         (doc_id * 577) % 100 AS h1, (doc_id * 271) % 100 AS h2
  FROM documents
),
m AS (
  SELECT 'host' || CAST({_hidx_case('h0')} AS VARCHAR) AS src,
         'host' || CAST({_hidx_case('h1')} AS VARCHAR) AS dst1,
         'host' || CAST({_hidx_case('h2')} AS VARCHAR) AS dst2
  FROM dd
),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst1 AS dst FROM m UNION ALL SELECT src, dst2 FROM m
  )
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)"""


def host_hits_sql(iterations: int = 4, unit: int = 1_000_000) -> str:
    """Twin of q_host_hits: the same host graph (shared fragment) and
    the same L1-normalized integer HITS update, unrolled one
    (auth, hub) CTE pair per round. Totals are scalar subqueries;
    greatest(total, 1) mirrors the Spark side's max(total, 1)."""
    rounds = []
    prev_h = "h0"
    prev_a = None
    for i in range(1, iterations + 1):
        # AS MATERIALIZED: each round references its raw CTE twice
        # (join + scalar total) — inlined, the chain re-evaluates
        # exponentially and never finishes past ~3 rounds
        rounds.append(f"""
a{i}r AS MATERIALIZED (SELECT e.dst AS node, sum({prev_h}.s) AS raw
          FROM e JOIN {prev_h} ON e.src = {prev_h}.node GROUP BY e.dst),
a{i} AS MATERIALIZED (SELECT n.node,
         CAST((coalesce(r.raw, 0) * {unit})
              // greatest((SELECT coalesce(sum(raw), 0) FROM a{i}r), 1)
              AS BIGINT) AS s
         FROM nodes n LEFT JOIN a{i}r r USING (node)),
h{i}r AS MATERIALIZED (SELECT e.src AS node, sum(a{i}.s) AS raw
          FROM e JOIN a{i} ON e.dst = a{i}.node GROUP BY e.src),
h{i} AS MATERIALIZED (SELECT n.node,
         CAST((coalesce(r.raw, 0) * {unit})
              // greatest((SELECT coalesce(sum(raw), 0) FROM h{i}r), 1)
              AS BIGINT) AS s
         FROM nodes n LEFT JOIN h{i}r r USING (node))""")
        prev_h, prev_a = f"h{i}", f"a{i}"
    return f"""
WITH {_host_graph_ctes()},
h0 AS (SELECT node, CAST({unit} AS BIGINT) AS s FROM nodes),{",".join(rounds)}
SELECT {prev_a}.node, {prev_a}.s AS auth_units, {prev_h}.s AS hub_units
FROM {prev_a} JOIN {prev_h} ON {prev_a}.node = {prev_h}.node
"""


def host_pagerank_sql(
    iterations: int = 4,
    unit: int = 1_000_000,
    d_num: int = 85,
    d_den: int = 100,
) -> str:
    """Twin of q_host_pagerank: the same deterministic host edge list
    and the same integer fixed-point update, unrolled as one CTE per
    iteration. Integer //-division and bigint sums are
    order-independent, so the twin lands on identical units without
    any float-fold care."""
    rounds, prev = _pagerank_round_ctes(iterations, unit, d_num, d_den)
    return f"""
WITH {_host_graph_ctes()},
deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
r0 AS (SELECT node, CAST({unit} AS BIGINT) AS units FROM nodes),{rounds}
SELECT node, units AS rank_units FROM {prev}
"""


def _pagerank_round_ctes(
    iterations: int, unit: int, d_num: int, d_den: int
) -> tuple[str, str]:
    """Unrolled integer-fixed-point PageRank rounds over CTEs named
    ``e`` (src, dst — distinct), ``nodes`` (node), ``deg`` (src, od)
    and ``r0``. Returns (cte_sql_fragment, final_cte_name) — shared
    by the host-graph and TextRank twins."""
    base = unit - (d_num * unit) // d_den
    iters = []
    prev = "r0"
    for i in range(1, iterations + 1):
        iters.append(f"""
i{i} AS (
  SELECT e.dst AS node, sum({prev}.units // deg.od) AS inflow
  FROM e JOIN {prev} ON e.src = {prev}.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         CAST({base} + ({d_num} * coalesce(i{i}.inflow, 0)) // {d_den} AS BIGINT) AS units
  FROM nodes n LEFT JOIN i{i} USING (node)
)""")
        prev = f"r{i}"
    return ",".join(iters), prev


def textrank_keywords_sql(
    top_k: int = 3,
    iterations: int = 4,
    unit: int = 1_000_000,
    d_num: int = 85,
    d_den: int = 100,
) -> str:
    """Twin of q_textrank_keywords: the per-document word-adjacency
    graph ((doc <tab> word) nodes — a tab can never appear in a
    whitespace token), the SAME unrolled integer PageRank rounds as
    the host twin, textbook row_number top-k per doc."""
    rounds, prev = _pagerank_round_ctes(iterations, unit, d_num, d_den)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL),
ix AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks), 1))) AS i FROM t),
bp AS (SELECT doc_id, toks[i] AS x, toks[i + 1] AS y FROM ix
       WHERE toks[i] <> toks[i + 1]),
e AS (
  SELECT doc_id || chr(9) || x AS src, doc_id || chr(9) || y AS dst FROM bp
  UNION
  SELECT doc_id || chr(9) || y, doc_id || chr(9) || x FROM bp
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
r0 AS (SELECT node, CAST({unit} AS BIGINT) AS units FROM nodes),{rounds},
scored AS (
  SELECT CAST(split_part(node, chr(9), 1) AS BIGINT) AS doc_id,
         split_part(node, chr(9), 2) AS word,
         units AS rank_units
  FROM {prev}
),
rk AS (SELECT *, row_number() OVER (
         PARTITION BY doc_id ORDER BY rank_units DESC, word) AS rn
       FROM scored)
SELECT doc_id, word, rank_units FROM rk WHERE rn <= {top_k}
"""


def host_communities_sql(iterations: int = 4) -> str:
    """Twin of q_host_communities: the SAME shared host-graph
    fragment, made undirected with self-loops dropped, then the same
    deterministic synchronous label-propagation rounds unrolled —
    per-node argmax expressed as row_number() ORDER BY c DESC, label
    (identical selection rule to the Spark side's
    min(struct(-c, label))). MATERIALIZED: each round's labels are
    referenced twice (vote join + isolated-node fallback), so inlined
    CTEs would re-evaluate the chain exponentially."""
    rounds = []
    prev = "l0"
    for i in range(1, iterations + 1):
        rounds.append(f"""
c{i} AS MATERIALIZED (
  SELECT ud.src AS node, {prev}.label, count(*) AS c
  FROM ud JOIN {prev} ON ud.dst = {prev}.node GROUP BY 1, 2
),
p{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{i}) WHERE rn = 1
),
l{i} AS MATERIALIZED (
  SELECT {prev}.node, coalesce(p{i}.label, {prev}.label) AS label
  FROM {prev} LEFT JOIN p{i} USING (node)
)""")
        prev = f"l{i}"
    return f"""
WITH {_host_graph_ctes()},
ud AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
  ) WHERE src <> dst
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM ud),{",".join(rounds)}
SELECT node, label FROM {prev}
"""


def host_triangles_sql() -> str:
    """Twin of q_host_triangles: the shared host graph canonicalized
    to undirected simple edges, the SAME degree orientation ((deg,
    node) rank, ties on the id), wedges from out-neighbors only,
    closed against the oriented edge list — each triangle found once
    at its minimum-rank corner, then fanned out to its three
    corners."""
    return f"""
WITH {_host_graph_ctes()},
ud AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
),
un AS (SELECT a AS node FROM ud UNION SELECT b FROM ud),
dg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM ud UNION ALL SELECT b FROM ud
  ) GROUP BY node
),
wd AS (
  SELECT ud.a, ud.b, dga.deg AS da, dgb.deg AS db
  FROM ud JOIN dg dga ON ud.a = dga.node JOIN dg dgb ON ud.b = dgb.node
),
o AS MATERIALIZED (
  SELECT CASE WHEN (da < db) OR (da = db AND a < b) THEN a ELSE b END AS src,
         CASE WHEN (da < db) OR (da = db AND a < b) THEN b ELSE a END AS dst,
         CASE WHEN (da < db) OR (da = db AND a < b) THEN db ELSE da END AS ddst
  FROM wd
),
wg AS (
  SELECT o1.src AS u, o1.dst AS v, o2.dst AS wn
  FROM o o1 JOIN o o2 ON o1.src = o2.src
   AND ((o1.ddst < o2.ddst) OR (o1.ddst = o2.ddst AND o1.dst < o2.dst))
),
tr AS MATERIALIZED (
  SELECT u, v, wn FROM wg JOIN o ON wg.v = o.src AND wg.wn = o.dst
),
c AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT u AS node FROM tr UNION ALL SELECT v FROM tr
    UNION ALL SELECT wn FROM tr
  ) GROUP BY node
)
SELECT un.node, CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles
FROM un LEFT JOIN c USING (node)
"""


def mojibake_repair_sql() -> str:
    """Twin of q_mojibake_repair: the same accent-suffix plant, the
    same doc_id %% 7 corruption, and the same ONE-rule-table repair
    chain (functions/mojibake.MOJIBAKE_RULES) compiled to nested
    DuckDB replace() over chr() literals."""
    from .functions.mojibake import (
        MOJIBAKE_PLANT,
        _sql_str,
        corrupt_sql_expr,
        repair_sql_expr,
    )

    return f"""
WITH p AS (
  SELECT doc_id, text || {_sql_str(MOJIBAKE_PLANT)} AS t FROM documents
),
c AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN {corrupt_sql_expr('t')} ELSE t END AS ct
  FROM p
)
SELECT doc_id,
       ct <> {repair_sql_expr('ct')} AS had_mojibake,
       {repair_sql_expr('ct')} AS clean_text
FROM c
"""


# --------------------------------------------------- mixing / shards (r4)
def temperature_mix_sql(
    target_total: int = 200, weight_scale: int = 1000
) -> str:
    """Twin of operators/mixing.temperature_mix: per-source quotas
    from floor(sqrt(count) * scale) integer weights (sqrt is IEEE
    correctly-rounded — safe across engines, unlike ln), selection by
    md5-rank within source."""
    return f"""
WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
w AS (SELECT source, CAST(floor(sqrt(c) * {weight_scale}) AS BIGINT) AS w FROM c),
t AS (SELECT source, w, sum(w) OVER () AS tw FROM w),
q AS (SELECT source, ({target_total} * w) // tw AS quota FROM t),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
  FROM documents
)
SELECT r.doc_id, r.source, CAST(r.rank AS BIGINT) AS rank
FROM r JOIN q USING (source)
WHERE r.rank <= q.quota
"""


def shard_manifest_sql(n_shards: int = 8) -> str:
    """Twin of operators/mixing.shard_manifest: md5-bucket shard
    assignment, integer checksum (order-independent bigint sum),
    min/max member hash, token mass via the parity tokenizer."""
    return f"""
WITH b AS (
  SELECT doc_id,
         {_BUCKET} AS bucket,
         md5(CAST(doc_id AS VARCHAR)) AS oh,
         CAST(len({_TOKS}) AS BIGINT) AS ntok
  FROM documents
)
SELECT bucket % {n_shards} AS shard,
       count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(sum(bucket) AS BIGINT) AS checksum,
       min(oh) AS first_hash,
       max(oh) AS last_hash
FROM b GROUP BY 1
"""


def inverted_index_sql(min_df: int = 2) -> str:
    """Twin of operators/index.inverted_index over documents: same
    parity tokenizer, same (term, doc) agg, same windowed df."""
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS tp
  FROM t
),
p AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
         string_agg(CAST(tp AS VARCHAR), ',' ORDER BY tp) AS positions
  FROM tok GROUP BY term, doc_id
),
w AS (
  SELECT term, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
         doc_id, tf, positions
  FROM p
)
SELECT term, df, doc_id, tf, positions FROM w WHERE df >= {min_df}
"""


def training_pipeline_sql(n_shards: int = 8) -> str:
    """Twin of q_training_pipeline — the COMPOSED corpus pipeline:
    reconstructed extraction text -> Gopher keep-filter -> exact
    doc dedup (min-id keeper per md5) -> first-occurrence paragraph
    dedup -> per-shard manifest. Every stage reuses the SAME fragment
    its standalone oracle uses (_GOPHER_BODY/_GOPHER_KEEP,
    _paragraph_ctes, the manifest aggregate), so the composite cannot
    drift from the parts."""
    return f"""
WITH {base_cte()},
t AS (SELECT doc_id, {_EXTRACT_TEXT_CASE} AS text FROM rec),
{_GOPHER_BODY},
gk AS (SELECT doc_id FROM v WHERE {_GOPHER_KEEP}),
kept AS (SELECT t.doc_id, t.text FROM t JOIN gk USING (doc_id)),
firsts AS (SELECT md5(text) AS f, min(doc_id) AS keeper FROM kept GROUP BY 1),
ded AS (
  SELECT kept.doc_id, kept.text AS t
  FROM kept JOIN firsts
    ON md5(kept.text) = firsts.f AND kept.doc_id = firsts.keeper
),
{_paragraph_ctes("ded")},
clean AS (
  SELECT tot.doc_id, coalesce(cl.clean_text, '') AS text
  FROM tot LEFT JOIN cl USING (doc_id)
),
b AS (
  SELECT doc_id, {_BUCKET} AS bucket,
         md5(CAST(doc_id AS VARCHAR)) AS oh,
         CAST(len({_TOKS}) AS BIGINT) AS ntok
  FROM clean
)
SELECT bucket % {n_shards} AS shard,
       count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(sum(bucket) AS BIGINT) AS checksum,
       min(oh) AS first_hash,
       max(oh) AS last_hash
FROM b GROUP BY 1
"""


def snapshot_merge_sql() -> str:
    """Twin of q_snapshot_merge: after upserting every tenth doc
    (text || ' [rev2]') and inserting a new doc per fiftieth, the
    current table must read back exactly this union."""
    return """
SELECT doc_id,
       md5(CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]' ELSE text END) AS fp
FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id,
       md5('new doc ' || CAST(doc_id AS VARCHAR)) AS fp
FROM documents WHERE doc_id % 50 = 0
"""


def snapshot_changelog_sql() -> str:
    """Twin of q_snapshot_changelog: the row-level diff the CDC scan
    must produce for q_snapshot_merge's batch — every tenth doc emits
    an update pre-image AND post-image, every fiftieth a shifted-key
    insert, nothing else (the 450 untouched rows are rewritten into
    new files by the copy-on-write merge, and the content compare
    must suppress them all)."""
    return """
SELECT 'update_before' AS change_type, doc_id, text
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT 'update_after' AS change_type, doc_id, text || ' [rev2]' AS text
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT 'insert' AS change_type, doc_id + 100000 AS doc_id,
       'new doc ' || CAST(doc_id AS VARCHAR) AS text
FROM documents WHERE doc_id % 50 = 0
"""


def cms_heavy_hitters_sql() -> str:
    """Twin of q_cms_heavy_hitters: every Count-Min cell recomputed
    from md5 scratch (the "row:term" prefix family), one-shot build —
    which must equal the Spark side's merged two-half build because
    cell addition commutes. Integer-only: no float risk anywhere."""
    from .operators.sketches import CMS_D, CMS_W

    bucket = (
        "CAST(('0x' || substr(md5(CAST(hrow AS VARCHAR) || ':' || term), 1, 15)) "
        f"AS BIGINT) % {CMS_W}"
    )
    return f"""
WITH t AS (SELECT unnest({_TOKS}) AS term FROM documents),
c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
hr AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS hrow),
cells AS (
  SELECT hrow, {bucket} AS bucket, sum(cnt) AS cell
  FROM c CROSS JOIN hr GROUP BY 1, 2
),
top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 20),
probe AS (
  SELECT term, cnt, hrow, {bucket} AS bucket FROM top CROSS JOIN hr
)
SELECT term,
       CAST(cnt AS BIGINT) AS n_exact,
       CAST(min(coalesce(cell, 0)) AS BIGINT) AS cms_estimate,
       CAST(min(coalesce(cell, 0)) - cnt AS BIGINT) AS overcount
FROM probe LEFT JOIN cells USING (hrow, bucket)
GROUP BY term, cnt
"""


def hll_host_cardinality_sql() -> str:
    """Twin of q_hll_cardinality: every HLL register recomputed from
    md5 scratch (bin() bitlength, integer-scaled harmonic sum); the
    alpha*m^2*2^53 numerator travels as a quoted-repr DOUBLE."""
    from .operators.sketches import ALPHA_NUM, M, P

    shift53 = "(CAST(1 AS BIGINT) << 53)"
    return f"""
WITH h AS (
  SELECT source, doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h60
  FROM documents
),
b AS (SELECT source, h60 % {M} AS bucket, h60 >> {P} AS w FROM h),
r AS (
  SELECT source, bucket,
         CASE WHEN w > 0 THEN 53 - length(bin(w)) ELSE 53 END AS rho
  FROM b
),
m AS (SELECT source, bucket, max(rho) AS mreg FROM r GROUP BY source, bucket),
s AS (
  SELECT source, count(*) AS nb,
         sum(CAST(1 AS BIGINT) << (53 - mreg)) AS ss
  FROM m GROUP BY source
),
e AS (SELECT source, count(DISTINCT doc_id) AS n_exact FROM documents GROUP BY source)
SELECT e.source,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(s.nb AS BIGINT) AS n_buckets,
       CAST({M} - s.nb AS BIGINT) AS n_empty,
       CAST('{ALPHA_NUM!r}' AS DOUBLE)
         / CAST(s.ss + ({M} - s.nb) * {shift53} AS DOUBLE) AS hll_estimate
FROM e JOIN s USING (source)
"""


def zorder_curve_sql() -> str:
    """Twin of q_zorder_curve: the identical Morton bit-interleave
    (plans/zorder.zorder_sql_expr shares the magic masks with the
    Spark column form by construction)."""
    from .plans.zorder import zorder_sql_expr

    hidx = _hidx_case("(doc_id * 131) % 100")
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST({hidx} AS BIGINT) AS x,
         CAST((doc_id * 137) % 1024 AS BIGINT) AS y
  FROM documents
)
SELECT doc_id, x, y, CAST({zorder_sql_expr('x', 'y')} AS BIGINT) AS z
FROM d
"""


def _unigram_lm_literals(
    sf_dir: str, vocab_size: int = 30
) -> tuple[list[tuple[str, float]], float]:
    """Retrain the unigram LM in plain Python (parity tokenizer,
    Counter, math.log — the same floats operators/lm.train_unigram_lm
    derives) so every log-prob travels to the SQL side as a literal.
    Shared by unigram_lm_sql and ccnet_buckets_sql."""
    import math
    from collections import Counter

    import duckdb

    from .functions.textstats import _ASCII_WS_RE

    con = duckdb.connect()
    texts = [
        r[0]
        for r in con.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]
    con.close()
    c: Counter = Counter()
    for t in texts:
        c.update(w for w in _ASCII_WS_RE.split(t or "") if w)
    n, v = sum(c.values()), len(c)
    denom = n + v + 1
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    vocab = [(t, math.log((cnt + 1) / denom)) for t, cnt in top]
    logp_oov = math.log(1.0 / denom)
    return vocab, logp_oov


def unigram_lm_sql(
    sf_dir: str = "/root/testdata/sf0.01", vocab_size: int = 30
) -> str:
    """Twin of q_lm_quality: the unigram model is a pure function of
    the documents table, so the builder retrains it in plain Python
    (parity tokenizer, Counter, math.log — the same floats the Spark
    query derives) and emits every log-prob as a quoted-repr literal
    in the SAME fixed-order fold (operators/lm.unigram_lm_sql_exprs).
    Engine-side ln never runs; data-derived literals, the LSH/semdedup
    oracle trick."""
    from .operators.lm import unigram_lm_count_exprs, unigram_lm_fold_expr

    vocab, logp_oov = _unigram_lm_literals(sf_dir, vocab_size)
    cnt_names = [f"c{i}" for i in range(len(vocab))]
    cnt_proj = ",\n         ".join(
        f"{e} AS {nme}"
        for e, nme in zip(unigram_lm_count_exprs(vocab, "toks"), cnt_names)
    )
    score = unigram_lm_fold_expr(vocab, logp_oov, "n", cnt_names)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
cn AS (
  SELECT doc_id, len(toks) AS n,
         {cnt_proj}
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN n > 0
            THEN {score} / CAST(n AS DOUBLE) END AS avg_logprob
FROM cn
"""


def bigram_lm_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    vocab_size: int = 30,
    bigram_size: int = 30,
    backoff: float = 0.4,
) -> str:
    """Twin of q_lm_quality_bigram: the builder retrains the SAME
    stupid-backoff model in plain Python (parity tokenizer, Counter,
    math.log — the identical integers and float ops the Spark
    training collects) and emits every log/delta as a quoted-repr
    literal in the SAME fixed-order fold
    (operators/lm.bigram_lm_fold_expr)."""
    import math
    from collections import Counter

    import duckdb

    from .functions.textstats import _ASCII_WS_RE
    from .operators.lm import (
        bigram_lm_count_exprs,
        bigram_lm_fold_expr,
        bigram_lm_pairs_expr,
        unigram_lm_count_exprs,
    )

    con = duckdb.connect()
    texts = [
        r[0]
        for r in con.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]
    con.close()
    c: Counter = Counter()
    cb: Counter = Counter()
    for t in texts:
        toks = [w for w in _ASCII_WS_RE.split(t or "") if w]
        c.update(toks)
        cb.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    n, v = sum(c.values()), len(c)
    denom = n + v + 1
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    vocab = [(t, math.log((cnt + 1) / denom)) for t, cnt in top]
    logp_oov = math.log(1.0 / denom)
    uni = dict(vocab)
    topb = sorted(cb.items(), key=lambda kv: (-kv[1], kv[0]))[:bigram_size]
    log_backoff = math.log(backoff)
    bigrams = []
    for p, cnt in topb:
        t1, t2 = p.split(" ", 1)
        delta = math.log(cnt / c[t1]) - log_backoff - uni.get(t2, logp_oov)
        bigrams.append((p, delta))

    cnt_names = [f"c{i}" for i in range(len(vocab))]
    big_names = [f"b{j}" for j in range(len(bigrams))]
    cnt_proj = ",\n         ".join(
        f"{e} AS {nme}"
        for e, nme in zip(unigram_lm_count_exprs(vocab, "toks"), cnt_names)
    )
    big_proj = ",\n         ".join(
        f"{e} AS {nme}"
        for e, nme in zip(bigram_lm_count_exprs(bigrams, "pairs"), big_names)
    )
    score = bigram_lm_fold_expr(
        vocab, logp_oov, bigrams, log_backoff, "n", cnt_names, big_names
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
cn AS (
  SELECT doc_id, len(toks) AS n,
         {cnt_proj},
         {bigram_lm_pairs_expr('toks')} AS pairs
  FROM t
),
cb AS (
  SELECT doc_id, n, {', '.join(cnt_names)},
         {big_proj}
  FROM cn
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN n > 0
            THEN {score} / CAST(n AS DOUBLE) END AS avg_logprob
FROM cb
"""


def corpus_report_sql() -> str:
    """Twin of q_corpus_report (operators/report.py): one grouped
    aggregation; every rate is an exact integer division, so no float
    discipline is needed. DuckDB sum() returns HUGEINT — cast back to
    BIGINT before the arithmetic."""
    return f"""
WITH b AS (
  SELECT source, lang,
         len({_TOKS}) AS ntok,
         length(text) AS nchr,
         md5(text) AS fp
  FROM documents
),
a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         CAST(sum(nchr) AS BIGINT) AS n_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_texts
  FROM b GROUP BY source
)
SELECT source, n_docs, n_tokens, n_chars, n_langs, n_unique_texts,
       n_docs - n_unique_texts AS dup_docs,
       ((n_docs - n_unique_texts) * 10000) // n_docs AS dup_bp,
       (n_tokens * 100) // n_docs AS mean_tokens_x100
FROM a
"""


def topic_tags_sql() -> str:
    """Twin of q_topic_tags: the SAME rule table
    (operators/tagging.TAXONOMY) compiled to DuckDB — per-keyword
    counts over the token array, per-category integer sums, and the
    identical declaration-order arg-max CASE chain."""
    from .operators.tagging import TAXONOMY, topic_tags_sql_exprs

    cat_exprs, tagged, case = topic_tags_sql_exprs(TAXONOMY, "toks")
    cols = ", ".join(f"n_{cat}" for cat, _ in TAXONOMY)
    proj = ",\n         ".join(cat_exprs)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id,
         {proj}
  FROM t
)
SELECT doc_id, {cols},
       {tagged} AS n_tagged,
       {case} AS top_topic
FROM c
"""


def trigram_lm_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    vocab_size: int = 30,
    bigram_size: int = 30,
    trigram_size: int = 30,
    backoff: float = 0.4,
) -> str:
    """Twin of q_lm_quality_trigram: retrains the SAME stupid-backoff
    trigram model in plain Python (parity tokenizer, Counters,
    math.log over the identical integer counts the Spark training
    collects) and emits every log/delta as a quoted-repr literal in
    the SAME fixed-order fold (operators/lm.trigram_lm_fold_expr)."""
    import math
    from collections import Counter

    import duckdb

    from .functions.textstats import _ASCII_WS_RE
    from .operators.lm import (
        bigram_lm_count_exprs,
        bigram_lm_pairs_expr,
        trigram_lm_count_exprs,
        trigram_lm_fold_expr,
        trigram_lm_tris_expr,
        unigram_lm_count_exprs,
    )

    con = duckdb.connect()
    texts = [
        r[0]
        for r in con.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]
    con.close()
    c: Counter = Counter()
    cb: Counter = Counter()
    c3: Counter = Counter()
    for t in texts:
        toks = [w for w in _ASCII_WS_RE.split(t or "") if w]
        c.update(toks)
        cb.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
        c3.update(
            f"{a} {b} {d}" for a, b, d in zip(toks, toks[1:], toks[2:])
        )
    n, v = sum(c.values()), len(c)
    denom = n + v + 1
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    vocab = [(t, math.log((cnt + 1) / denom)) for t, cnt in top]
    logp_oov = math.log(1.0 / denom)
    uni = dict(vocab)
    log_backoff = math.log(backoff)
    topb = sorted(cb.items(), key=lambda kv: (-kv[1], kv[0]))[:bigram_size]
    lb = {}
    bigrams = []
    for p, cnt in topb:
        t1, t2 = p.split(" ", 1)
        lb[p] = math.log(cnt / c[t1])
        bigrams.append((p, lb[p] - log_backoff - uni.get(t2, logp_oov)))
    top3 = sorted(c3.items(), key=lambda kv: (-kv[1], kv[0]))[:trigram_size]
    trigrams = []
    for g, cnt in top3:
        pair12, _ = g.rsplit(" ", 1)
        _, pair23 = g.split(" ", 1)
        t3 = pair23.split(" ", 1)[1]
        lt = math.log(cnt / cb[pair12])
        bscore = (
            lb[pair23]
            if pair23 in lb
            else log_backoff + uni.get(t3, logp_oov)
        )
        trigrams.append((g, lt - log_backoff - bscore))

    cnt_names = [f"c{i}" for i in range(len(vocab))]
    big_names = [f"b{j}" for j in range(len(bigrams))]
    tri_names = [f"t{k}" for k in range(len(trigrams))]
    cnt_proj = ",\n         ".join(
        f"{e} AS {nme}"
        for e, nme in zip(unigram_lm_count_exprs(vocab, "toks"), cnt_names)
    )
    big_proj = ",\n         ".join(
        f"{e} AS {nme}"
        for e, nme in zip(bigram_lm_count_exprs(bigrams, "pairs"), big_names)
    )
    tri_proj = ",\n         ".join(
        f"{e} AS {nme}"
        for e, nme in zip(trigram_lm_count_exprs(trigrams, "tris"), tri_names)
    )
    score = trigram_lm_fold_expr(
        vocab,
        logp_oov,
        bigrams,
        log_backoff,
        trigrams,
        "n",
        cnt_names,
        big_names,
        tri_names,
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
cn AS (
  SELECT doc_id, len(toks) AS n,
         {cnt_proj},
         {bigram_lm_pairs_expr('toks')} AS pairs,
         {trigram_lm_tris_expr('toks')} AS tris
  FROM t
),
cb AS (
  SELECT doc_id, n, {', '.join(cnt_names)},
         {big_proj},
         {tri_proj}
  FROM cn
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN n > 0
            THEN {score} / CAST(n AS DOUBLE) END AS avg_logprob
FROM cb
"""


def gopher_repetition_sql() -> str:
    """Twin of q_gopher_repetition (operators/repetition.py): every
    fraction is one division of two exact integers, and the arg-max
    n-gram tie-breaks on the lexicographically smallest gram
    (row_number ORDER BY cnt DESC, g == Spark's min(struct(-cnt, g)))."""
    sizes = (2, 3, 4)
    cov_cases = ",\n             ".join(
        f"max(CASE WHEN n = {n} THEN cov END) AS cov{n}" for n in sizes
    )
    fracs = ",\n       ".join(
        f"CASE WHEN jlen > 0 THEN CAST(cov{n} AS DOUBLE) / CAST(jlen AS DOUBLE) "
        f"END AS top{n}gram_char_frac"
        for n in sizes
    )
    return f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
  FROM documents
),
b AS (
  SELECT doc_id,
         len(lines) AS nl,
         len(list_distinct(lines)) AS ndl,
         length(array_to_string(lines, '')) AS lc,
         length(array_to_string(list_distinct(lines), '')) AS dlc,
         length(array_to_string(toks, ' ')) AS jlen,
         toks
  FROM d
),
g AS (
  SELECT doc_id, t.n AS n,
         array_to_string(list_slice(toks, s.i, s.i + t.n - 1), ' ') AS g
  FROM b, UNNEST([{', '.join(str(n) for n in sizes)}]) AS t(n),
       UNNEST(range(1, greatest(len(toks) - t.n + 2, 1))) AS s(i)
),
c AS (SELECT doc_id, n, g, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
tk AS (
  SELECT doc_id, n, cnt * length(g) AS cov,
         row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, g) AS rn
  FROM c
),
w AS (
  SELECT doc_id,
             {cov_cases}
  FROM tk WHERE rn = 1 GROUP BY 1
)
SELECT b.doc_id,
       CAST(nl AS BIGINT) AS n_lines,
       CASE WHEN nl > 0 THEN CAST(nl - ndl AS DOUBLE) / CAST(nl AS DOUBLE)
            END AS dup_line_frac,
       CASE WHEN lc > 0 THEN CAST(lc - dlc AS DOUBLE) / CAST(lc AS DOUBLE)
            END AS dup_line_char_frac,
       {fracs}
FROM b LEFT JOIN w USING (doc_id)
"""


def dup_ngram_coverage_sql() -> str:
    """Twin of q_dup_ngram_coverage (operators/repetition.py): the
    duplicated-n-gram char fraction with union-of-covered-positions
    semantics — DISTINCT (doc, n, pos) before the char sum, exactly
    like the Spark plan. Token-less docs drop out of both engines
    (the position explode defines the universe)."""
    sizes = (5, 10)
    cov_cases = ",\n              ".join(
        f"max(CASE WHEN n = {n} THEN covc END) AS cov{n}" for n in sizes
    )
    fracs = ",\n       ".join(
        f"CASE WHEN tot > 0 THEN CAST(coalesce(cov{n}, 0) AS DOUBLE) / "
        f"CAST(tot AS DOUBLE) END AS dup{n}gram_char_frac"
        for n in sizes
    )
    return f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tp AS (
  SELECT doc_id, s.i AS p, length(toks[s.i]) AS tlen
  FROM d, UNNEST(range(1, len(toks) + 1)) AS s(i)
),
tot AS (SELECT doc_id, count(*) AS n_tokens, sum(tlen) AS tot FROM tp GROUP BY 1),
gr AS (
  SELECT doc_id, t.n AS n,
         array_to_string(list_slice(toks, s.i, s.i + t.n - 1), ' ') AS g,
         s.i AS i
  FROM d, UNNEST([{', '.join(str(n) for n in sizes)}]) AS t(n),
       UNNEST(range(1, greatest(len(toks) - t.n + 2, 1))) AS s(i)
),
dup AS (
  SELECT doc_id, n, g
  FROM (SELECT doc_id, n, g, count(*) AS c FROM gr GROUP BY 1, 2, 3)
  WHERE c >= 2
),
cov AS (
  SELECT DISTINCT gr.doc_id, gr.n, u.p
  FROM gr JOIN dup USING (doc_id, n, g),
       UNNEST(range(gr.i, gr.i + gr.n)) AS u(p)
),
cc AS (
  SELECT cov.doc_id, cov.n, sum(tp.tlen) AS covc
  FROM cov JOIN tp ON tp.doc_id = cov.doc_id AND tp.p = cov.p
  GROUP BY 1, 2
),
w AS (SELECT doc_id,
              {cov_cases}
      FROM cc GROUP BY 1)
SELECT tot.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       {fracs}
FROM tot LEFT JOIN w USING (doc_id)
"""


def quality_filter_sql() -> str:
    """Twin of q_quality_filter: composes the SAME fragments its
    parts use (_GOPHER_BODY/_GOPHER_KEEP, gopher_repetition_sql,
    dup_ngram_coverage_sql as scoped subqueries) so a mismatch
    isolates to the keep/reason wiring, not the signals. Thresholds
    travel as quoted-repr DOUBLE casts (bare decimals parse as
    DECIMAL in DuckDB — CLAUDE.md)."""
    from .operators.repetition import REPETITION_CUTS

    branches = "\n         ".join(
        f"WHEN {col} > CAST('{cut!r}' AS DOUBLE) THEN '{col}'"
        for col, cut in REPETITION_CUTS
    )
    return f"""
WITH t AS (SELECT doc_id, text FROM documents),
{_GOPHER_BODY},
gk AS (SELECT doc_id, {_GOPHER_KEEP} AS gopher_keep FROM v),
rep AS ({gopher_repetition_sql()}),
dng AS ({dup_ngram_coverage_sql()}),
j AS (
  SELECT gk.doc_id, gk.gopher_keep,
         rep.dup_line_frac, rep.dup_line_char_frac,
         rep.top2gram_char_frac, rep.top3gram_char_frac,
         rep.top4gram_char_frac,
         dng.dup5gram_char_frac, dng.dup10gram_char_frac
  FROM gk
  LEFT JOIN rep ON rep.doc_id = gk.doc_id
  LEFT JOIN dng ON dng.doc_id = gk.doc_id
),
r AS (
  SELECT doc_id,
    CASE WHEN NOT gopher_keep THEN 'gopher'
         {branches}
         ELSE 'none' END AS reject_reason
  FROM j
)
SELECT doc_id, (reject_reason = 'none') AS keep, reject_reason FROM r
"""


def anchor_text_index_sql() -> str:
    """Twin of q_anchor_text_index: the template's nine anchors carry
    fixed labels, so the per-(outlink, anchor_text) doc counts over
    html-bucket pages are constructed from the (path, label) pairs x
    the per-host doc counts."""
    pairs = [
        ("/", "Home"),
        ("/about", "About us"),
        ("/contact", "Contact"),
        ("/terms", "Terms of service"),
        ("/tag/popular", "Popular articles this week"),
        ("/tag/recent", "Recently updated pages"),
        ("/tag/archive", "Archive of older content"),
        ("/privacy", "Privacy policy"),
        ("/imprint", "Imprint"),
    ]
    vals = ", ".join(f"('{p}', '{t}')" for p, t in pairs)
    return f"""
WITH {base_cte()},
h AS (SELECT doc_id, url FROM rec WHERE m >= 16),
a(path, label) AS (VALUES {vals})
SELECT regexp_extract(h.url, '^(https?://[^/]+)', 1) || a.path AS outlink,
       a.label AS anchor_text,
       count(*) AS n_docs
FROM h CROSS JOIN a
GROUP BY 1, 2
"""


def crawl_frontier_sql(n_hosts: int = 20) -> str:
    """Twin of q_crawl_frontier — the composed crawl loop: candidate
    urls (the nine template outlinks per html page, plus every
    already-crawled url) -> anti-join against the crawled set ->
    robots longest-match gate (same VALUES rules as
    robots_filter_sql) -> host-PageRank priority (the full
    host_pagerank_sql twin nested as a derived table). Every
    fragment is the one its standalone oracle uses."""
    paths = [
        "/", "/about", "/contact", "/terms",
        "/tag/popular", "/tag/recent", "/tag/archive",
        "/privacy", "/imprint",
    ]
    plist = ", ".join(f"'{p}'" for p in paths)
    return f"""
WITH {base_cte()},
h AS (SELECT doc_id, url FROM rec WHERE m >= 16),
cand AS (
  SELECT DISTINCT regexp_extract(h.url, '^(https?://[^/]+)', 1) || p.path AS url
  FROM h CROSS JOIN (SELECT unnest([{plist}]) AS path) p
  UNION
  SELECT DISTINCT url FROM rec
  UNION
  -- pending-discovery feed: /doc/new<k> paths, some of which the
  -- wildcard '/doc/*7$'-shaped robots rules actually BLOCK
  SELECT DISTINCT 'https://host' || CAST(hidx AS VARCHAR)
         || '.example.com/doc/new' || CAST(doc_id % 10 AS VARCHAR)
  FROM rec
),
crawled AS (SELECT DISTINCT url FROM rec),
new AS (SELECT url FROM cand WHERE url NOT IN (SELECT url FROM crawled)),
u AS (
  SELECT url,
         regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         CASE WHEN regexp_replace(url, '^https?://[^/]+', '') = ''
              THEN '/' ELSE regexp_replace(url, '^https?://[^/]+', '')
         END AS path
  FROM new
),
rules(rhost, pattern, allow, like_pat, pat_len) AS (VALUES
  {_robots_rules_values(n_hosts)}),
m AS (
  SELECT u.url, r.pattern, r.allow, r.pat_len
  FROM u JOIN rules r ON u.host = r.rhost AND u.path LIKE r.like_pat ESCAPE '\\'),
best AS (
  SELECT url, allow FROM (
    SELECT url, allow,
           row_number() OVER (PARTITION BY url
             ORDER BY pat_len DESC, allow DESC, pattern) AS rn
    FROM m) WHERE rn = 1),
ok AS (
  SELECT u.url, u.host FROM u LEFT JOIN best b ON u.url = b.url
  WHERE coalesce(b.allow, TRUE)
),
pr AS (SELECT * FROM ({host_pagerank_sql()}))
SELECT ok.url, ok.host, pr.rank_units
FROM ok JOIN pr ON pr.node || '.example.com' = ok.host
"""


def site_domains_sql() -> str:
    """Twin of q_site_domains: the same deterministic multi-suffix
    host construction and the same longest-match eTLD+1 CASE chain
    (functions/domains.registrable_domain_sql)."""
    from .functions.domains import registrable_domain_sql

    return f"""
WITH h AS (
  SELECT doc_id,
    CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN 'www' || CAST(doc_id % 3 AS VARCHAR) || '.site'
              || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
      WHEN 1 THEN 'blog.ex' || CAST(doc_id % 7 AS VARCHAR) || '.com.au'
      WHEN 2 THEN 'user' || CAST(doc_id % 7 AS VARCHAR) || '.github.io'
      WHEN 3 THEN 'a.b.ex' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
      WHEN 4 THEN 'ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'
      ELSE 'localhost'
    END AS host
  FROM documents
)
SELECT {registrable_domain_sql('host')} AS site,
       count(*) AS n_docs,
       count(DISTINCT host) AS n_hosts
FROM h GROUP BY 1
"""


def decontamination_sql(n: int = 13, bench_mod: int = 17, bench_rem: int = 3) -> str:
    """Twin of q_decontamination (operators/decontam.py): benchmark =
    docs with doc_id % bench_mod = bench_rem, corpus = the rest; a
    corpus doc's n_hits counts its DISTINCT word n-grams that appear
    anywhere in the benchmark docs' n-gram set. Integer counts and one
    boolean — no float risk. DuckDB's generate_series(1, stop) is
    empty (not descending) for stop < 1, so the greatest(.., 0) clamp
    alone covers too-short docs."""
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - {n - 1}, 0)),
        i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS grams FROM t),
bench AS (SELECT DISTINCT unnest(grams) AS g FROM g
          WHERE doc_id % {bench_mod} = {bench_rem}),
corp AS (SELECT doc_id, grams FROM g WHERE doc_id % {bench_mod} <> {bench_rem}),
hits AS (SELECT doc_id, count(*) AS n_hits
         FROM (SELECT doc_id, unnest(grams) AS g FROM corp) cg
         JOIN bench USING (g) GROUP BY doc_id)
SELECT corp.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(n_hits, 0) > 0 AS contaminated
FROM corp LEFT JOIN hits USING (doc_id)
"""


def bloom_decontamination_sql(
    n: int = 13, bench_mod: int = 17, bench_rem: int = 3
) -> str:
    """Twin of q_bloom_decontamination: the exact gram-overlap count
    (decontamination_sql's construction) plus the Bloom pass with
    every set bit and probe position recomputed from md5 scratch
    ("hrow:gram" family, 2^16 bits, 4 hashes). Integer-only."""
    from .operators.decontam import BLOOM_K, BLOOM_M

    def pos(g: str) -> str:
        return (
            f"CAST(('0x' || substr(md5(CAST(hrow AS VARCHAR) || ':' || {g}), "
            f"1, 15)) AS BIGINT) % {BLOOM_M}"
        )

    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - {n - 1}, 0)),
        i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS grams FROM t),
bench AS (SELECT DISTINCT unnest(grams) AS g FROM g
          WHERE doc_id % {bench_mod} = {bench_rem}),
corp AS (SELECT doc_id, grams FROM g WHERE doc_id % {bench_mod} <> {bench_rem}),
cg AS (SELECT doc_id, unnest(grams) AS g FROM corp),
hr AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS hrow),
setbits AS (SELECT DISTINCT {pos('g')} AS p, 1 AS s FROM bench CROSS JOIN hr),
probe AS (SELECT doc_id, g, {pos('g')} AS p FROM cg CROSS JOIN hr),
bhit AS (SELECT doc_id, g FROM probe LEFT JOIN setbits USING (p)
         GROUP BY doc_id, g HAVING count(s) = {BLOOM_K}),
nb AS (SELECT doc_id, count(*) AS n_hits_bloom FROM bhit GROUP BY doc_id),
ne AS (SELECT doc_id, count(*) AS n_hits_exact
       FROM cg JOIN bench USING (g) GROUP BY doc_id)
SELECT corp.doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(coalesce(n_hits_exact, 0) AS BIGINT) AS n_hits_exact,
       CAST(coalesce(n_hits_bloom, 0) AS BIGINT) AS n_hits_bloom,
       coalesce(n_hits_exact, 0) > 0 AS contaminated_exact,
       coalesce(n_hits_bloom, 0) > 0 AS contaminated_bloom
FROM corp LEFT JOIN ne USING (doc_id) LEFT JOIN nb USING (doc_id)
"""


def containment_decontamination_sql(
    threshold: float = 0.8, bench_mod: int = 17, bench_rem: int = 3
) -> str:
    """Twin of q_containment_decontamination: the same distinct-
    shingle sets, |doc ∩ bench| / |bench| as ONE exact-int division
    per pair, order-free max per doc. The threshold travels as a
    quoted-repr DOUBLE (bare literals are DECIMAL in DuckDB)."""
    thr = f"CAST('{threshold!r}' AS DOUBLE)"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
bench AS (SELECT doc_id AS bid, sh FROM s
          WHERE doc_id % {bench_mod} = {bench_rem} AND len(sh) > 0),
corp AS (SELECT doc_id, sh FROM s WHERE doc_id % {bench_mod} <> {bench_rem}),
cont AS (
  SELECT corp.doc_id, bench.bid,
         len(list_intersect(corp.sh, bench.sh)) / len(bench.sh) AS c
  FROM corp CROSS JOIN bench
),
hit AS (SELECT doc_id, count(*) AS n_bench_hits, max(c) AS max_containment
        FROM cont WHERE c >= {thr} GROUP BY doc_id)
SELECT corp.doc_id,
       CAST(coalesce(n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
       max_containment,
       max_containment IS NOT NULL AS contaminated
FROM corp LEFT JOIN hit USING (doc_id)
"""


def semdedup_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    threshold: float = 0.4,
    n_clusters: int = 16,
    sample_rows: int = 10000,
    dim: int = 64,
) -> str:
    """Full oracle for q_semdedup (operators/similarity.semantic_dedup).

    The coarse quantizer is a pure function of the embeddings table
    (seeded Lloyd over the sample_rows smallest ids — the SAME sample
    train_ivf_centroids takes), so the builder reruns kmeans_fit on
    the parquet directly and emits the centroids as SQL literals.
    DuckDB re-derives cluster assignment (argmax centroid dot —
    normalization drops out of the argmax), the within-cluster
    earlier-id pair set, each pair's fold-order cosine over
    pre-normalized vectors (bit-identical to the Spark side's
    _fold_dot), the order-free max per row, and the keep decision.

    Assignment uses a GEMM on the Spark side vs fold-order dots here;
    the builder asserts every assignment margin exceeds 1e-9 so
    rounding cannot flip a cluster id. The threshold literal travels
    as a quoted repr cast to DOUBLE (DuckDB parses bare float
    literals as DECIMAL)."""
    import duckdb
    import numpy as np

    from .operators.similarity import kmeans_fit

    con = duckdb.connect()
    emb = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    con.close()
    mat = np.array([list(r[1]) for r in emb], dtype=np.float64)
    cent = kmeans_fit(mat[:sample_rows], n_clusters)

    vn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    d = vn @ cent.T
    top2 = np.sort(d, axis=1)[:, -2:]
    assert (top2[:, 1] - top2[:, 0]).min() > 1e-9, "assignment near-tie"

    cent_rows = ",\n".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}])"
        for c in range(len(cent))
    )
    vdot = _DOT.format(n=dim, a="e.v", b="cent.c")
    norm = _DOT.format(n=dim, a="v", b="v")
    pdot = _DOT.format(n=dim, a="a.vn", b="b.vn")
    thr = f"CAST('{threshold!r}' AS DOUBLE)"
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cent(cid, craw) AS (VALUES {cent_rows}),
centd AS (SELECT cid, list_transform(craw, x -> CAST(x AS DOUBLE)) AS c FROM cent),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ({vdot}) DESC, cent.cid) AS rn
    FROM e CROSS JOIN centd cent
  ) WHERE rn = 1
),
nrm AS (SELECT vec_id, sqrt({norm}) AS nrm, v FROM e),
vn AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM nrm),
pm AS (
  SELECT ab.vec_id AS vec_id, max({pdot}) AS max_prev_cos
  FROM assign aa JOIN assign ab
       ON ab.cid = aa.cid AND aa.vec_id < ab.vec_id
       JOIN vn a ON a.vec_id = aa.vec_id
       JOIN vn b ON b.vec_id = ab.vec_id
  GROUP BY ab.vec_id
)
SELECT assign.vec_id, CAST(assign.cid AS INTEGER) AS cid, pm.max_prev_cos,
       (pm.max_prev_cos IS NULL OR pm.max_prev_cos <= {thr}) AS keep
FROM assign LEFT JOIN pm ON pm.vec_id = assign.vec_id
"""


def collocations_sql(top_k: int = 50, min_count: int = 5) -> str:
    """Twin of q_collocations: identical integer cross-products and
    ONE exact-int division per pair — no literals needed (the reason
    lift is used instead of log-PMI)."""
    return f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
ix AS (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i FROM t),
bp AS (SELECT toks[i] AS x, toks[i + 1] AS y FROM ix),
nxy AS (SELECT x, y, count(*) AS n_xy FROM bp GROUP BY x, y),
nu AS (SELECT w, count(*) AS n_w
       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
tot AS (SELECT sum(n_w) AS n FROM nu)
SELECT x || ' ' || y AS pair,
       CAST(n_xy AS BIGINT) AS n_xy,
       CAST(ux.n_w AS BIGINT) AS n_x,
       CAST(uy.n_w AS BIGINT) AS n_y,
       CAST(n_xy * (SELECT n FROM tot) AS DOUBLE)
         / CAST(ux.n_w * uy.n_w AS DOUBLE) AS lift
FROM nxy
JOIN nu ux ON ux.w = x
JOIN nu uy ON uy.w = y
WHERE n_xy >= {min_count}
ORDER BY lift DESC, pair
LIMIT {top_k}
"""


def _bpe_word_counts(sf_dir: str) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    rows = con.sql(f"""
WITH t AS (SELECT {_TOKS} AS toks FROM '{sf_dir}/documents.parquet')
SELECT word, count(*) FROM (SELECT unnest(toks) AS word FROM t) GROUP BY word
""").fetchall()
    con.close()
    return {w: int(c) for w, c in rows}


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def bpe_train_sql(sf_dir: str = "/root/testdata/sf0.01", n_merges: int = 12) -> str:
    """Twin of q_bpe_train: the merge table re-derived by running the
    IDENTICAL algorithm (operators/bpe.bpe_train_python — same greedy
    scan, same (count DESC, left, right) tie-break) over duckdb word
    counts from the same parquet, emitted as VALUES literals. Integer
    counts and string equality only — nothing to drift."""
    from .operators.bpe import bpe_train_python

    merges, _ = bpe_train_python(_bpe_word_counts(sf_dir), n_merges)
    if not merges:
        return (
            "SELECT CAST(NULL AS INTEGER) AS rank, CAST(NULL AS VARCHAR) AS left_sym, "
            "CAST(NULL AS VARCHAR) AS right_sym, CAST(NULL AS BIGINT) AS pair_count "
            "WHERE FALSE"
        )
    rows = ",\n".join(
        f"({i}, {_sq(l)}, {_sq(r)}, {c})" for i, (l, r, c) in enumerate(merges)
    )
    return f"""
SELECT CAST(rank AS INTEGER) AS rank, left_sym, right_sym,
       CAST(pair_count AS BIGINT) AS pair_count
FROM (VALUES {rows}) AS m(rank, left_sym, right_sym, pair_count)
"""


def bpe_segment_sql(sf_dir: str = "/root/testdata/sf0.01", n_merges: int = 12) -> str:
    """Twin of q_bpe_segment: the trained word->subtoken-count map is
    re-derived in Python (bpe_train_python) and joined in SQL against
    the same tokenization the Spark side explodes."""
    from .operators.bpe import bpe_train_python

    _, syms = bpe_train_python(_bpe_word_counts(sf_dir), n_merges)
    if not syms:
        seg = "SELECT CAST(NULL AS VARCHAR) AS word, CAST(NULL AS BIGINT) AS n_sub WHERE FALSE"
    else:
        # sorted: the word counts arrive in duckdb GROUP BY order, which
        # varies run to run, and the oracle text must not
        rows = ",\n".join(f"({_sq(w)}, {len(ss)})" for w, ss in sorted(syms.items()))
        seg = f"SELECT word, CAST(n_sub AS BIGINT) AS n_sub FROM (VALUES {rows}) AS s(word, n_sub)"
    return f"""
WITH seg AS ({seg}),
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS word FROM t),
a AS (SELECT doc_id, count(*) AS n_words, sum(n_sub) AS n_subtokens
      FROM w JOIN seg USING (word) GROUP BY doc_id)
SELECT t.doc_id,
       CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(n_subtokens, 0) AS BIGINT) AS n_subtokens
FROM t LEFT JOIN a USING (doc_id)
"""


def bpe_fertility_sql(
    sf_dir: str = "/root/testdata/sf0.01", n_merges: int = 12
) -> str:
    """Twin of q_bpe_fertility: the same re-derived word->subtoken
    map as bpe_segment_sql, rolled up per source; fertility is the
    ONE exact integer division (NULL-guarded for empty groups in both
    engines)."""
    from .operators.bpe import bpe_train_python

    _, syms = bpe_train_python(_bpe_word_counts(sf_dir), n_merges)
    if not syms:
        seg = (
            "SELECT CAST(NULL AS VARCHAR) AS word, "
            "CAST(NULL AS BIGINT) AS n_sub WHERE FALSE"
        )
    else:
        # sorted for a run-to-run identical text, as in bpe_segment_sql
        rows = ",\n".join(f"({_sq(w)}, {len(ss)})" for w, ss in sorted(syms.items()))
        seg = (
            "SELECT word, CAST(n_sub AS BIGINT) AS n_sub "
            f"FROM (VALUES {rows}) AS s(word, n_sub)"
        )
    return f"""
WITH seg AS ({seg}),
t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
w AS (SELECT doc_id, source, unnest(toks) AS word FROM t),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_sub) AS BIGINT) AS n_subtokens
  FROM w JOIN seg USING (word) GROUP BY source
),
srcs AS (SELECT DISTINCT source FROM documents)
SELECT srcs.source,
       CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(n_subtokens, 0) AS BIGINT) AS n_subtokens,
       CASE WHEN coalesce(n_words, 0) > 0
            THEN n_subtokens / n_words END AS fertility
FROM srcs LEFT JOIN g USING (source)
"""


def _nb_weight_literals(
    sf_dir: str,
    m: int,
    marker: str,
    train_mod: int,
    train_lt: int,
) -> tuple[str, int, str]:
    """(weights array literal, bias, bucket-expr template): re-derive
    the NB model from the target sf_dir with duckdb + the SAME
    fixed-point arithmetic as the Spark trainer. Shared by the
    standalone classifier twin and the quality-ensemble composite."""
    import duckdb

    from .operators.classifier import nb_weights_from_counts

    bucket = "CAST(('0x' || substr(md5({t}), 1, 8)) AS BIGINT) % " + str(m)
    con = duckdb.connect()
    counts = con.sql(f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks
           FROM '{sf_dir}/documents.parquet'
           WHERE doc_id % {train_mod} < {train_lt}),
lab AS (SELECT doc_id, toks, list_contains(toks, '{marker}') AS pos FROM t),
tk AS (SELECT pos, unnest(toks) AS tok FROM lab)
SELECT pos, {bucket.format(t='tok')} AS b, count(*) AS c
FROM tk GROUP BY 1, 2
""").fetchall()
    ndocs = con.sql(f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks
           FROM '{sf_dir}/documents.parquet'
           WHERE doc_id % {train_mod} < {train_lt})
SELECT list_contains(toks, '{marker}') AS pos, count(*) FROM t GROUP BY 1
""").fetchall()
    con.close()
    cp = {int(b): int(c) for pos, b, c in counts if pos}
    cn = {int(b): int(c) for pos, b, c in counts if not pos}
    n_pos = next((int(c) for pos, c in ndocs if pos), 0)
    n_neg = next((int(c) for pos, c in ndocs if not pos), 0)
    weights, bias = nb_weights_from_counts(cp, cn, n_pos, n_neg, m)
    w_list = "[" + ", ".join(str(w) for w in weights) + "]"
    return w_list, bias, bucket


def quality_ensemble_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    m: int = 256,
    marker: str = "spark",
    train_mod: int = 10,
    train_lt: int = 8,
) -> str:
    """Twin of q_quality_ensemble: the SAME three filter fragments the
    standalone oracles use — C4 rule chain (_c4_ctes) and Gopher
    signals (_GOPHER_BODY/_GOPHER_KEEP) over the reconstructed
    extraction text, the NB vote over documents with the shared
    weight literals — joined per doc with a vote count and majority
    verdict. Composition cannot drift from the parts."""
    w_list, bias, bucket = _nb_weight_literals(
        sf_dir, m, marker, train_mod, train_lt
    )
    return f"""
WITH {base_cte()},
doc_text AS (SELECT doc_id, {_EXTRACT_TEXT_CASE} AS t FROM rec),
{_c4_ctes('doc_text')},
t AS (SELECT doc_id, {_EXTRACT_TEXT_CASE} AS text FROM rec),
{_GOPHER_BODY},
gk AS (SELECT doc_id, {_GOPHER_KEEP} AS gopher_keep FROM v),
lab AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tk AS (SELECT doc_id, unnest(toks) AS tok FROM lab),
p AS (SELECT doc_id, ({w_list})[1 + {bucket.format(t='tok')}] AS w FROM tk),
agg AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS ws FROM p GROUP BY doc_id),
nb AS (SELECT lab.doc_id, (coalesce(ws, 0) + {bias}) > 0 AS nb_keep
       FROM lab LEFT JOIN agg USING (doc_id)),
ens AS (
  SELECT c4v.doc_id,
         (c4v.reject_reason = 'none') AS c4_keep,
         gk.gopher_keep,
         nb.nb_keep
  FROM c4v JOIN gk USING (doc_id) JOIN nb USING (doc_id)
)
SELECT doc_id, c4_keep, gopher_keep, nb_keep,
       CAST(CAST(c4_keep AS INT) + CAST(gopher_keep AS INT)
            + CAST(nb_keep AS INT) AS BIGINT) AS votes,
       (CAST(c4_keep AS INT) + CAST(gopher_keep AS INT)
        + CAST(nb_keep AS INT)) >= 2 AS keep_majority
FROM ens
"""


def nb_classifier_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    m: int = 256,
    marker: str = "spark",
    train_mod: int = 10,
    train_lt: int = 8,
) -> str:
    """Full oracle for q_quality_classifier (operators/classifier.py).

    The model is a pure function of the documents table: the builder
    re-derives the per-(label, bucket) token counts straight from the
    parquet with duckdb, reruns the SAME fixed-point literal
    arithmetic (nb_weights_from_counts — one math.log per bucket,
    int64 at 2^40), and scores the held-out split in SQL with the
    weights as an array literal. Per-doc scores are exact integer
    sums plus the bias literal; the only float is one power-of-two
    descale."""
    w_list, bias, bucket = _nb_weight_literals(
        sf_dir, m, marker, train_mod, train_lt
    )
    from .operators.dsir import FP_SCALE

    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
           WHERE doc_id % {train_mod} >= {train_lt}),
lab AS (SELECT doc_id, toks, list_contains(toks, '{marker}') AS label_pos FROM t),
tk AS (SELECT doc_id, unnest(toks) AS tok FROM lab),
p AS (SELECT doc_id, ({w_list})[1 + {bucket.format(t='tok')}] AS w FROM tk),
agg AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS ws,
               CAST(count(*) AS BIGINT) AS n_toks
        FROM p GROUP BY doc_id)
SELECT lab.doc_id, lab.label_pos,
       CAST(coalesce(n_toks, 0) AS BIGINT) AS n_toks,
       CAST(coalesce(ws, 0) + {bias} AS BIGINT) AS score_scaled,
       CAST(coalesce(ws, 0) + {bias} AS DOUBLE)
         / CAST('{float(FP_SCALE)!r}' AS DOUBLE) AS score,
       (coalesce(ws, 0) + {bias}) > 0 AS pred,
       ((coalesce(ws, 0) + {bias}) > 0) = lab.label_pos AS correct
FROM lab LEFT JOIN agg USING (doc_id)
"""


def dsir_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    target_source: str = "src0",
    m: int = 64,
    k: int = 100,
) -> str:
    """Full oracle for q_dsir_weights (operators/dsir.py).

    The model is a pure function of the documents table, so the
    builder re-derives the per-bucket counts straight from the
    parquet with duckdb (independent of the Spark path), runs the
    SAME fixed-point literal arithmetic (ratios_from_counts — one
    Python math.log per bucket, int64 at 2^40), probes the selection
    threshold with the same scoring SQL, and emits everything as
    literals. Per-doc weights are exact integer sums (order-free), so
    the only floats in the output are one power-of-two descale —
    bit-identical by construction."""
    import duckdb

    from .operators.dsir import ratios_from_counts
    from .operators.lm import bigram_lm_pairs_expr

    pairs = bigram_lm_pairs_expr("toks")
    bucket = f"CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {m}"

    con = duckdb.connect()
    counts = con.sql(f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks
           FROM '{sf_dir}/documents.parquet'),
fx AS (SELECT source, unnest(toks || {pairs}) AS f FROM t)
SELECT source = '{target_source}' AS is_t, {bucket} AS b, count(*) AS c
FROM fx GROUP BY 1, 2
""").fetchall()
    ct = {int(b): int(c) for is_t, b, c in counts if is_t}
    cr = {int(b): int(c) for is_t, b, c in counts if not is_t}
    ratios = ratios_from_counts(ct, cr, m)
    lr_list = "[" + ", ".join(str(r) for r in ratios) + "]"

    def score_sql(table: str) -> str:
        return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM {table}
           WHERE source <> '{target_source}'),
fx AS (SELECT doc_id, unnest(toks || {pairs}) AS f FROM t),
p AS (SELECT doc_id, ({lr_list})[1 + {bucket}] AS lr FROM fx),
agg AS (SELECT doc_id, CAST(sum(lr) AS BIGINT) AS logw_scaled,
               CAST(count(*) AS BIGINT) AS n_feats
        FROM p GROUP BY doc_id)
SELECT t.doc_id,
       CAST(coalesce(a.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(coalesce(a.logw_scaled, 0) AS BIGINT) AS logw_scaled,
       CAST(coalesce(a.logw_scaled, 0) AS DOUBLE) / CAST('{float(1 << 40)!r}' AS DOUBLE) AS log_weight
FROM t LEFT JOIN agg a USING (doc_id)
"""

    thr = con.sql(
        score_sql(f"'{sf_dir}/documents.parquet'")
        + f" ORDER BY logw_scaled DESC, doc_id LIMIT {k}"
    ).fetchall()
    con.close()
    thr_w, thr_id = (int(thr[-1][2]), int(thr[-1][0])) if thr else (None, None)
    sel = (
        "FALSE"
        if thr_w is None
        else f"(logw_scaled > {thr_w} OR (logw_scaled = {thr_w} AND doc_id <= {thr_id}))"
    )
    return f"""
WITH scored AS ({score_sql('documents')})
SELECT doc_id, n_feats, logw_scaled, log_weight, {sel} AS selected
FROM scored
"""


def _c4_ctes(
    src: str,
    min_words: int = 3,
    min_lines: int = 5,
    blocklist: tuple[str, ...] = (),
) -> str:
    """The C4 rule chain as a reusable CTE fragment: reads
    (doc_id, t) from ``src`` and produces ``c4v`` with (doc_id, nl,
    kept, reject_reason). Shared by c4_filter_sql and the composed
    pretraining_corpus_sql so the composite cannot drift from the
    standalone oracle."""
    line_ok = (
        f"len(list_filter(regexp_split_to_array(l, '\\s+'), x -> x <> ''))"
        f" >= {min_words} AND NOT contains(lower(l), 'javascript')"
    )
    if blocklist:
        words = ", ".join("'" + w.lower().replace("'", "''") + "'" for w in blocklist)
        blocked = (
            "list_has_any(list_transform(list_filter("
            "regexp_split_to_array(t, '\\s+'), x -> x <> ''), "
            f"x -> lower(x)), [{words}])"
        )
    else:
        blocked = "FALSE"
    return f"""c4l AS (
  SELECT doc_id, t,
         list_filter(string_split(t, chr(10)), x -> x <> '') AS lines
  FROM {src}
),
c4k AS (
  SELECT doc_id, t, len(lines) AS nl,
         list_filter(lines, l -> {line_ok}) AS kept
  FROM c4l
),
c4v AS (
  SELECT doc_id, nl, kept,
         CASE WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem_ipsum'
              WHEN contains(t, '{{') THEN 'brace'
              WHEN {blocked} THEN 'blocklist'
              WHEN len(kept) < {min_lines} THEN 'too_few_lines'
              ELSE 'none' END AS reject_reason
  FROM c4k
)"""


def c4_filter_sql(
    min_words: int = 3,
    min_lines: int = 5,
    blocklist: tuple[str, ...] = (),
) -> str:
    """Twin of q_c4_filter (functions/c4.py — Raffel et al. 2020
    section 2.2) over the reconstructed extraction text: per-line
    word-count + javascript rules via nested list_filter lambdas,
    page rules as the same precedence-ordered CASE. Everything is
    integer/boolean/string — no float discipline needed.
    array_to_string of an empty list is NULL in DuckDB (CLAUDE.md),
    hence the coalesce on kept_text."""
    return f"""
WITH {base_cte()},
doc_text AS (SELECT doc_id, {_EXTRACT_TEXT_CASE} AS t FROM rec),
{_c4_ctes('doc_text', min_words, min_lines, blocklist)}
SELECT doc_id,
       CAST(nl AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       (reject_reason = 'none') AS keep,
       reject_reason,
       coalesce(array_to_string(kept, chr(10)), '') AS kept_text
FROM c4v
"""


def ccnet_buckets_sql(
    sf_dir: str = "/root/testdata/sf0.01",
    vocab_size: int = 30,
    sample_mod: int = 10,
    sample_rem: int = 7,
) -> str:
    """Twin of q_ccnet_buckets (operators/ccnet.py — Wenzek et al.
    2020): the unigram-LM score CTE reuses the retrained log-prob
    literals (_unigram_lm_literals — the lm_quality trick), the
    per-language tercile thresholds come from the SAME deterministic
    sample via row_number, and the bucket CASE mirrors the Spark arms
    verbatim (NULL score -> tail, unseen language -> head)."""
    from .operators.lm import unigram_lm_count_exprs, unigram_lm_fold_expr

    vocab, logp_oov = _unigram_lm_literals(sf_dir, vocab_size)
    cnt_names = [f"c{i}" for i in range(len(vocab))]
    cnt_proj = ",\n         ".join(
        f"{e} AS {nme}"
        for e, nme in zip(unigram_lm_count_exprs(vocab, "toks"), cnt_names)
    )
    score = unigram_lm_fold_expr(vocab, logp_oov, "n", cnt_names)
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
cn AS (
  SELECT doc_id, lang, len(toks) AS n,
         {cnt_proj}
  FROM t
),
s AS (
  SELECT doc_id, lang,
         CAST(n AS BIGINT) AS n_tokens,
         CASE WHEN n > 0
              THEN {score} / CAST(n AS DOUBLE) END AS avg_logprob
  FROM cn
),
samp AS (
  SELECT * FROM s
  WHERE doc_id % {sample_mod} = {sample_rem} AND n_tokens > 0
),
r AS (
  SELECT lang, avg_logprob,
         row_number() OVER (PARTITION BY lang
                            ORDER BY avg_logprob DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS nl
  FROM samp
),
thr AS (
  SELECT lang,
         max(CASE WHEN rn = (nl + 2) // 3 THEN avg_logprob END) AS s1,
         max(CASE WHEN rn = (2 * nl + 2) // 3 THEN avg_logprob END) AS s2
  FROM r GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_tokens, s.avg_logprob,
       CASE WHEN s.avg_logprob IS NULL THEN 'tail'
            WHEN thr.s1 IS NULL THEN 'head'
            WHEN s.avg_logprob >= thr.s1 THEN 'head'
            WHEN s.avg_logprob >= thr.s2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM s LEFT JOIN thr ON thr.lang = s.lang
"""


def sequence_packing_sql(seq_len: int = 256, n_shards: int = 8) -> str:
    """Twin of q_sequence_packing (operators/packing.py): the same
    md5-bucket shard, the same (md5(id), id) intra-shard order, one
    integer running sum, and integer div/mod for the sequence
    coordinates — exact in any engine."""
    return f"""
WITH d AS (
  SELECT doc_id,
         {_BUCKET} % {n_shards} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS oh,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY shard ORDER BY oh, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tok_start
  FROM d
)
SELECT doc_id,
       CAST(shard AS BIGINT) AS shard,
       n_tokens,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_start // {seq_len} AS BIGINT) AS seq_first,
       CAST(tok_start % {seq_len} AS BIGINT) AS seq_offset,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (tok_start + n_tokens - 1) // {seq_len}
                      - tok_start // {seq_len} + 1 END AS BIGINT) AS n_seqs
FROM c
"""


def fuzzy_decontamination_sql(
    threshold: float = 0.9, bench_mod: int = 17, bench_rem: int = 3
) -> str:
    """Twin of q_fuzzy_decontamination: TRUE all-pairs corpus x bench
    shingle Jaccard (the Spark side goes through MinHash banding +
    exact verification; at threshold 0.9 the banding provably catches
    every qualifying pair — the minhash_near_dup argument). Each
    Jaccard is one exact integer division; max_jaccard aggregates
    only the >=threshold hits, mirroring the Spark plan."""
    thr = f"CAST('{threshold!r}' AS DOUBLE)"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
c AS (SELECT * FROM s WHERE doc_id % {bench_mod} <> {bench_rem}),
b AS (SELECT * FROM s WHERE doc_id % {bench_mod} = {bench_rem}),
p AS (
  SELECT c.doc_id,
         len(list_intersect(c.sh, b.sh))
           / len(list_distinct(c.sh || b.sh)) AS j
  FROM c JOIN b ON len(c.sh) > 0 AND len(b.sh) > 0
),
h AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bench_hits,
         max(j) AS max_jaccard
  FROM p WHERE j >= {thr} GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(h.n_bench_hits, 0) AS n_bench_hits,
       h.max_jaccard,
       (h.max_jaccard IS NOT NULL) AS contaminated
FROM c LEFT JOIN h USING (doc_id)
"""


def pretraining_corpus_sql(
    n: int = 13,
    bench_mod: int = 17,
    bench_rem: int = 3,
    seq_len: int = 256,
    n_shards: int = 8,
) -> str:
    """Twin of q_pretraining_corpus — the COMPOSED modern selection
    recipe, end to end: reconstructed extraction text -> C4 line/page
    cleanup (the kept_text flows forward) -> Gopher word-shape keep ->
    exact dedup (min-id keeper) -> exact 13-gram benchmark
    decontamination (eval docs removed AND overlapping docs dropped)
    -> per-shard sequence-packing summary. Every stage reuses the
    SAME fragment its standalone oracle uses (_c4_ctes,
    _GOPHER_BODY/_GOPHER_KEEP, the firsts/ded dedup pair, the
    decontamination gram CTEs, the packing window), so a composite
    mismatch isolates to stage wiring, not stage semantics. Output is
    integer-only: (shard, n_docs, n_tokens, n_seqs)."""
    return f"""
WITH {base_cte()},
doc_text AS (SELECT doc_id, {_EXTRACT_TEXT_CASE} AS t FROM rec),
{_c4_ctes('doc_text')},
t AS (
  SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text
  FROM c4v WHERE reject_reason = 'none'
),
{_GOPHER_BODY},
gk AS (SELECT doc_id FROM v WHERE {_GOPHER_KEEP}),
kept AS (SELECT t.doc_id, t.text FROM t JOIN gk USING (doc_id)),
firsts AS (SELECT md5(text) AS f, min(doc_id) AS keeper FROM kept GROUP BY 1),
ded AS (
  SELECT kept.doc_id, kept.text
  FROM kept JOIN firsts
    ON md5(kept.text) = firsts.f AND kept.doc_id = firsts.keeper
),
dtok AS (SELECT doc_id, {_TOKS} AS toks FROM ded),
dg AS (SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - {n - 1}, 0)),
        i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS grams FROM dtok),
bgrams AS (SELECT DISTINCT unnest(grams) AS g FROM dg
           WHERE doc_id % {bench_mod} = {bench_rem}),
corp AS (SELECT doc_id FROM dg WHERE doc_id % {bench_mod} <> {bench_rem}),
contam AS (
  SELECT DISTINCT cg.doc_id
  FROM (SELECT dg.doc_id, unnest(dg.grams) AS g FROM dg
        JOIN corp USING (doc_id)) cg
  JOIN bgrams USING (g)
),
surv AS (
  SELECT d.doc_id, d.text
  FROM ded d JOIN corp USING (doc_id)
  LEFT JOIN contam c ON c.doc_id = d.doc_id
  WHERE c.doc_id IS NULL
),
pk AS (
  SELECT doc_id,
         {_BUCKET} % {n_shards} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS oh,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM surv
),
pc AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY oh, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM pk
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(coalesce(max(CASE WHEN n_tokens > 0
                 THEN (tok_start + n_tokens - 1) // {seq_len} + 1 END), 0)
            AS BIGINT) AS n_seqs
FROM pc GROUP BY shard
"""


# ---------------------------------------------------------------------------
# Grouping-sets cube and k-core twins


def docs_cube_sql() -> str:
    """Twin of q_docs_cube: native grouping sets. DuckDB's
    GROUPING(a, b) packs the same bitmask as Spark's grouping_id()
    (first column most significant), verified empirically; counts and
    integer sums leave nothing else to agree on."""
    return """
SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (source, lang)
"""


def host_kcore_sql(k: int = 4, rounds: int = 4) -> str:
    """Twin of q_host_kcore: the same peel unrolled one (degree,
    survivor, edge) CTE triple per round over the SHARED host-graph
    fragment. Every survivor CTE is referenced twice (both semi-join
    sides) — AS MATERIALIZED, or the chain re-evaluates
    exponentially (the host_hits_sql lesson). Integer counts only."""
    parts = []
    prev = "s0"
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (SELECT node, count(*) AS c FROM {prev} GROUP BY node),
k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE c >= {k}),
s{i} AS MATERIALIZED (
  SELECT s.node, s.nbr FROM {prev} s
  JOIN k{i} x ON s.node = x.node
  JOIN k{i} y ON s.nbr = y.node)""")
        prev = f"s{i}"
    return f"""
WITH {_host_graph_ctes()},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e WHERE src <> dst),
s0 AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b AS node, a AS nbr FROM und){"".join(parts)}
SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM {prev} GROUP BY node
"""


# ---------------------------------------------------------------------------
# Sketch, sampling, host-graph and text-audit twins


def phrase_match_sql(phrase: tuple = ("batch", "batch")) -> str:
    """Twin of q_phrase_match: per phrase slot a filtered positional
    posting list aligned to its start position, joined on (doc,
    start) — overlapping self-repeating occurrences count once per
    start in both engines."""
    arms = ",\n".join(
        f"s{i} AS (SELECT doc_id, tp - {i} AS p0 FROM tok WHERE term = '{w}')"
        for i, w in enumerate(phrase)
    )
    joins = " ".join(
        f"JOIN s{i} USING (doc_id, p0)" for i in range(1, len(phrase))
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS tp
  FROM t
),
{arms}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM s0 {joins}
GROUP BY 1
"""


def vocab_coverage_sql(vocab_size: int = 64) -> str:
    """Twin of q_vocab_coverage: same shared tokenizer fragment, same
    top-V tie rule (count DESC, term), coverage as one integer
    basis-point floor division."""
    return f"""
WITH t AS (SELECT source, unnest({_TOKS}) AS term FROM documents),
c AS (SELECT source, term, count(*) AS cnt FROM t GROUP BY 1, 2),
g AS (SELECT term, sum(cnt) AS n FROM c GROUP BY 1),
v AS (SELECT term FROM g ORDER BY n DESC, term LIMIT {vocab_size}),
a AS (
  SELECT c.source,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.term IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT)
           AS n_covered,
         CAST(count(DISTINCT c.term) AS BIGINT) AS n_terms
  FROM c LEFT JOIN v ON c.term = v.term GROUP BY 1
)
SELECT source, n_tokens, n_covered, n_terms,
       CAST(n_covered * 10000 // greatest(n_tokens, 1) AS BIGINT)
         AS coverage_bp
FROM a
"""


def weighted_sample_sql(k: int = 50, max_weight: int = 16) -> str:
    """Twin of q_weighted_sample: the same replica-min PPSWOR keys
    recomputed from scratch — md5(id:replica), min per row, bottom-k
    by (key, id)."""
    return f"""
WITH base AS (
  SELECT doc_id, least(greatest(n_chars // 200, 1), {max_weight}) AS weight
  FROM documents
),
rep AS (
  SELECT doc_id, weight, unnest(generate_series(1, weight)) AS i FROM base
),
keyed AS (
  SELECT doc_id, weight,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)) AS rk
  FROM rep
),
m AS (SELECT doc_id, weight, min(rk) AS sample_key FROM keyed GROUP BY 1, 2)
SELECT doc_id, CAST(weight AS BIGINT) AS weight, sample_key
FROM m ORDER BY sample_key, doc_id LIMIT {k}
"""


def k_anonymity_sql(k: int = 5, len_bucket: int = 100) -> str:
    """Twin of q_k_anonymity: same QI cells, same per-language
    rollup, the risk rate ONE integer basis-point floor division."""
    return f"""
WITH cells AS (
  SELECT lang, source, n_chars // {len_bucket} AS lb, count(*) AS cnt
  FROM documents GROUP BY 1, 2, 3
),
agg AS (
  SELECT lang,
         CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(CASE WHEN cnt < {k} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_small_cells,
         CAST(sum(CASE WHEN cnt < {k} THEN cnt ELSE 0 END) AS BIGINT)
           AS n_docs_at_risk
  FROM cells GROUP BY 1
)
SELECT lang, CAST({k} AS BIGINT) AS k, n_docs, n_cells, n_small_cells,
       n_docs_at_risk,
       CAST(n_docs_at_risk * 10000 // greatest(n_docs, 1) AS BIGINT) AS risk_bp
FROM agg
"""


def frontier_shards_sql(n_shards: int = 8, delay_us: int = 500_000) -> str:
    """Twin of q_frontier_shards: each doc's Zipf host (the h0 leg of
    the shared host-graph fragment) is one frontier url; shard = md5
    first-8-hex bucket (the dsir hashing idiom); makespan = the
    busiest host's url count times the politeness delay."""
    return f"""
WITH {_host_graph_ctes()},
f AS (SELECT 'host' || CAST({_hidx_case('h0')} AS VARCHAR) AS host FROM dd),
loads AS (SELECT host, CAST(count(*) AS BIGINT) AS n_urls FROM f GROUP BY 1),
sh AS (
  SELECT CAST(('0x' || substr(md5(host), 1, 8)) AS BIGINT) % {n_shards}
           AS shard,
         n_urls
  FROM loads
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_hosts,
       CAST(CAST(sum(n_urls) AS BIGINT) AS BIGINT) AS n_urls,
       CAST(max(n_urls) AS BIGINT) AS max_host_urls,
       CAST(max(n_urls) * {delay_us} AS BIGINT) AS makespan_us
FROM sh GROUP BY 1
"""


def dup_cluster_stats_sql(threshold: float = 0.9) -> str:
    """Twin of q_dup_cluster_stats: the shared recursive near-dup
    closure, per-component sizes, then the size histogram (sum →
    HUGEINT in DuckDB, cast to BIGINT before export)."""
    return f"""
WITH RECURSIVE
{_near_dup_walk_ctes(threshold)},
comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(CAST(sum(cluster_size) AS BIGINT) AS BIGINT) AS n_docs
FROM sz GROUP BY 1
"""


def host_ktruss_sql(k: int = 5, rounds: int = 3) -> str:
    """Twin of q_host_ktruss: the same peel with the orientation-free
    common-neighbor support join (support(a,b) = |N(a) n N(b)| — the
    Spark side's oriented triangle enumeration counts the same
    thing), one (support, filter, adjacency) CTE triple per round,
    all AS MATERIALIZED (each is referenced more than once)."""
    parts = []
    prev = "t0"
    prev_sym = "sym0"
    for i in range(1, rounds + 1):
        parts.append(f""",
sup{i} AS MATERIALIZED (
  SELECT t.a, t.b, count(*) AS sup
  FROM {prev} t
  JOIN {prev_sym} s1 ON s1.node = t.a
  JOIN {prev_sym} s2 ON s2.node = t.b AND s2.nbr = s1.nbr
  GROUP BY t.a, t.b),
t{i} AS MATERIALIZED (SELECT a, b FROM sup{i} WHERE sup >= {k - 2}),
sym{i} AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM t{i}
  UNION ALL SELECT b AS node, a AS nbr FROM t{i})""")
        prev, prev_sym = f"t{i}", f"sym{i}"
    return f"""
WITH {_host_graph_ctes()},
t0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
sym0 AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM t0
  UNION ALL SELECT b AS node, a AS nbr FROM t0){"".join(parts)},
supf AS (
  SELECT t.a, t.b, count(*) AS sup
  FROM {prev} t
  JOIN {prev_sym} s1 ON s1.node = t.a
  JOIN {prev_sym} s2 ON s2.node = t.b AND s2.nbr = s1.nbr
  GROUP BY t.a, t.b)
SELECT t.a, t.b, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
FROM {prev} t LEFT JOIN supf s ON t.a = s.a AND t.b = s.b
"""


def lsh_recall_eval_sql(
    query_mod: int = 50,
    k: int = 10,
    tables: int = 16,
    bits: int = 4,
    dim: int = 64,
) -> str:
    """Twin of q_ann_recall_eval: the same LSH keys (shared projection
    literals), the same exact/LSH top-k legs as plain row_number
    windows over identical fold-cosine doubles (grouped_topk IS
    row_number by construction), hit/candidate counts, one floor
    division for basis points."""
    cos = _cos("b.v", "q.qv", dim)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
{_lsh_keys_cte(tables, bits, dim)},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {query_mod} = 0),
b AS (SELECT vec_id, v FROM e WHERE vec_id % {query_mod} <> 0),
qk AS (SELECT vec_id AS qid, tbl, key FROM keys
       WHERE vec_id % {query_mod} = 0),
bk AS (SELECT vec_id, tbl, key FROM keys WHERE vec_id % {query_mod} <> 0),
cand AS (SELECT DISTINCT qk.qid, bk.vec_id
         FROM bk JOIN qk ON bk.tbl = qk.tbl AND bk.key = qk.key),
expairs AS (SELECT q.qid, b.vec_id, {cos} AS cos_sim FROM b CROSS JOIN q),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vec_id) AS r
    FROM expairs) WHERE r <= {k}),
lshpairs AS (
  SELECT c.qid, c.vec_id, {cos} AS cos_sim
  FROM cand c JOIN b ON b.vec_id = c.vec_id JOIN q ON q.qid = c.qid),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vec_id) AS r
    FROM lshpairs) WHERE r <= {k}),
h AS (SELECT exact.qid, CAST(count(*) AS BIGINT) AS n_hits
      FROM exact JOIN approx USING (qid, vec_id) GROUP BY 1),
nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY 1),
ne AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM exact GROUP BY 1)
SELECT q.qid, ne.n_exact,
       CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 10000 // ne.n_exact AS BIGINT)
         AS recall_bp
FROM q JOIN ne ON ne.qid = q.qid
LEFT JOIN nc ON nc.qid = q.qid
LEFT JOIN h ON h.qid = q.qid
"""


def concordance_sql(term: str = "spark", window: int = 3) -> str:
    """Twin of q_concordance: 1-based DuckDB positions exported
    0-based, list slice clamped at both edges, single-space join
    (loss-free for the whitespace tokenizer)."""
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
           WHERE text IS NOT NULL),
x AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
hit AS (SELECT doc_id, toks, i FROM x WHERE toks[i] = '{term}')
SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       array_to_string(toks[greatest(i - {window}, 1):(i + {window})], ' ')
         AS snippet
FROM hit
"""


def mirror_report_sql(min_hosts: int = 2) -> str:
    """Twin of q_mirror_report: the same deterministic mirror crawl
    (every 7th document recrawled under a mirror host), hash-agg on
    text md5, HAVING on the distinct-host count."""
    h = _hidx_case("(doc_id * 131) % 100")
    mh = _hidx_case("(doc_id * 577) % 100")
    return f"""
WITH crawl AS (
  SELECT doc_id AS id, text,
         'host' || CAST({h} AS VARCHAR) AS host
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text,
         'mirror' || CAST({mh} AS VARCHAR) AS host
  FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS text_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       min(host) AS first_host,
       CAST(min(id) AS BIGINT) AS first_id
FROM crawl GROUP BY 1 HAVING count(DISTINCT host) >= {min_hosts}
"""


def split_report_sql(train_pct: int = 90, val_pct: int = 5) -> str:
    """Twin of q_dataset_split: identical md5-bucket assignment and
    token totals; share is one integer division."""
    return f"""
WITH a AS (
  SELECT CASE
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                     AS BIGINT) % 100 < {train_pct} THEN 'train'
           WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                     AS BIGINT) % 100 < {train_pct + val_pct} THEN 'val'
           ELSE 'test' END AS split,
         CAST(len({_TOKS}) AS BIGINT) AS n_tok
  FROM documents
),
per AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM a GROUP BY 1
)
SELECT split, n_docs, n_tokens,
       CAST(n_docs * 10000 // (SELECT sum(n_docs) FROM per) AS BIGINT)
         AS share_bp
FROM per
"""


def source_topk_dense_sql(k: int = 3) -> str:
    """Twin of q_source_topk_dense: the textbook dense_rank window —
    equal to the class-table agg+join rule because membership is a
    pure function of the score class."""
    return f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens FROM (
  SELECT doc_id, source, n_tokens,
         dense_rank() OVER (PARTITION BY source ORDER BY n_tokens DESC)
           AS dr
  FROM t
) WHERE dr <= {k}
"""
