"""Chunking, URL canonicalization, and redaction operators."""

import pytest

from .conftest import SF_SMALL


# ------------------------------------------------------------- chunking
def test_chunk_documents_window_arithmetic(spark):
    from medical_and_charity_document_extraction_system_spark.operators.chunking import (
        chunk_documents,
    )

    rows = [
        (0, " ".join(f"t{i}" for i in range(100))),  # 100 toks
        (1, " ".join(f"t{i}" for i in range(10))),   # short: 1 chunk
        (2, "single"),
        (3, ""),                                     # no rows
        (4, " ".join(f"t{i}" for i in range(64))),   # exactly chunk_size
        (5, " ".join(f"t{i}" for i in range(65))),   # one past
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_size=64, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 10
    assert len(by_doc[4]) == 1 and by_doc[4][0].n_chunk_tokens == 64
    # 65 tokens, step 48: chunks at 0 (64 toks) and 48 (17 toks)
    c5 = sorted(by_doc[5], key=lambda r: r.chunk_id)
    assert [r.n_chunk_tokens for r in c5] == [64, 17]
    assert c5[1].chunk_text.split()[0] == "t48"  # overlap: starts at 48
    # 100 tokens, step 48: starts 0, 48 -> covers to 100? 48+64=112 >= 100
    c0 = sorted(by_doc[0], key=lambda r: r.chunk_id)
    assert [r.n_chunk_tokens for r in c0] == [64, 52]
    # full coverage: every token index appears in some chunk
    covered = set()
    for r in c0:
        start = r.chunk_id * 48
        covered.update(range(start, start + r.n_chunk_tokens))
    assert covered == set(range(100))


def test_chunk_documents_rejects_bad_overlap(spark):
    from medical_and_charity_document_extraction_system_spark.operators.chunking import (
        chunk_documents,
    )

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=8, overlap=8)


# ----------------------------------------------------------------- urls
URL_CASES = [
    ("https://Host.Example.com/a/b#frag", "https://host.example.com/a/b"),
    ("http://host.example.com:80/a/", "https://host.example.com/a"),
    ("https://host.example.com:443/a?x=1", "https://host.example.com/a?x=1"),
    ("https://host.example.com/a?utm_source=f&x=1&utm_medium=m",
     "https://host.example.com/a?x=1"),
    ("https://host.example.com/a/?utm_campaign=c",
     "https://host.example.com/a"),
    ("https://host.example.com/", "https://host.example.com"),
    ("https://host.example.com/a?fbclid=123&gclid=9",
     "https://host.example.com/a"),
    ("HTTPS://HOST.example.com/CaseKept?Q=UPPER",
     "https://host.example.com/CaseKept?Q=UPPER"),
    ("https://host.example.com:8080/a", "https://host.example.com:8080/a"),
]


def test_canonical_url_cases(spark):
    from pyspark.sql import functions as F

    from medical_and_charity_document_extraction_system_spark.functions.urlnorm import (
        canonical_url,
    )

    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in URL_CASES]


def test_canonical_url_duckdb_parity(spark):
    """The oracle's SQL canonicalization chain must agree with the JVM
    chain on every case (same regex subset, same split/filter/join)."""
    import duckdb

    from pyspark.sql import functions as F

    from medical_and_charity_document_extraction_system_spark.functions.urlnorm import (
        canonical_url,
    )

    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], "url string")
    jvm = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE urls AS SELECT * FROM (VALUES "
        + ", ".join(f"('{u}')" for u, _ in URL_CASES)
        + ") v(u)"
    )
    sql = r"""
WITH c1 AS (SELECT u, regexp_replace(u, '#.*$', '') AS s FROM urls),
c2 AS (SELECT u, lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1))
         || regexp_replace(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', '') AS s FROM c1),
c3 AS (SELECT u, regexp_replace(s, '^http://', 'https://') AS s FROM c2),
c4 AS (SELECT u, regexp_replace(s, '^(https://[^/?:]+):(80|443)([/?]|$)', '\1\3') AS s FROM c3),
c5 AS (SELECT u, regexp_replace(regexp_replace(s, '\?.*$', ''), '/+$', '') AS base,
         coalesce(regexp_extract(s, '\?(.*)$', 1), '') AS q FROM c4),
c6 AS (SELECT u, base, coalesce(array_to_string(list_filter(string_split(q, '&'),
         x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z]+|fbclid|gclid|msclkid|ref_src)=')), '&'), '') AS q2 FROM c5)
SELECT CASE WHEN q2 = '' THEN base ELSE base || '?' || q2 END FROM c6
"""
    duck = [r[0] for r in con.sql(sql).fetchall()]
    con.close()
    assert duck == jvm


# ------------------------------------------------------------ redaction
def test_redact_rules_three_engines(spark):
    """Spark JVM, DuckDB, and Python re must agree on the rule table
    (the regex subset is engine-portable by construction)."""
    import duckdb

    from pyspark.sql import functions as F

    from medical_and_charity_document_extraction_system_spark.functions.redact import (
        redact_python,
        redact_sql_expr,
        redact_text,
    )

    texts = [
        "Patient: Kemba Harris owes $1,234.56 by 03/07/23 (code A12.3)",
        "Donor: Alanah Gomez Invoice 90210 dated 11/28/23",
        "mail me at a.b+c@ex-ample.org or 123-45-6789",
        "no pii here at all",
        "two amounts $5.00 and $6,000.01 two dates 01/01/23 02/02/23",
    ]
    expected = [redact_python(t) for t in texts]
    assert "<NAME>" in expected[0] and "<AMOUNT>" in expected[0]
    assert "<EMAIL>" in expected[2] and "<SSN>" in expected[2]
    assert expected[3] == texts[3]
    assert expected[4].count("<AMOUNT>") == 2 and expected[4].count("<DATE>") == 2

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    jvm = [r.r for r in df.select(redact_text(F.col("t")).alias("r")).collect()]
    assert jvm == expected

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE tx AS SELECT * FROM (VALUES "
        + ", ".join("('" + t.replace("'", "''") + "')" for t in texts)
        + ") v(t)"
    )
    duck = [r[0] for r in con.sql(f"SELECT {redact_sql_expr('t')} FROM tx").fetchall()]
    con.close()
    assert duck == expected


def test_url_dedup_catalog_groups(spark):
    """Variant groups collapse exactly as designed: v0/v1 spellings of
    one target merge; v3 keeps its real query param distinct."""
    import __spark_entry__ as entry

    rows = entry.q_url_dedup(spark, SF_SMALL).collect()
    by_n = {}
    for r in rows:
        by_n.setdefault(r.n_variants, 0)
        by_n[r.n_variants] += 1
    # doc pairs (4k,4k+1) have v in {0,1} -> collapse to one canonical;
    # pairs (4k+2,4k+3) produce base (v2) and base?page=2 (v3)
    assert set(by_n) == {1, 2}
    assert all("#" not in r.curl and "utm" not in r.curl for r in rows)


def test_bm25_ranks_term_frequency(spark):
    from medical_and_charity_document_extraction_system_spark.operators.sessions import (
        bm25_scores,
    )

    rows = [
        (0, "table table table join"),
        (1, "table join group"),
        (2, "join group sort"),
        (3, "scan scan"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bm25 for r in bm25_scores(df, ["table", "scan"]).collect()}
    assert 2 not in out                      # matches no query term
    assert out[0] > out[1] > 0               # higher tf -> higher score
    assert out[3] > 0                        # rarer term scores


def test_frequent_line_removal_semantics(spark):
    """Boilerplate = lines in >= min_docs distinct documents; in-doc
    repeats count once; blanks never boilerplate; reassembly keeps
    line order; n_removed counts occurrences (not distinct lines)."""
    from medical_and_charity_document_extraction_system_spark.operators.chunking import (
        frequent_lines,
        remove_frequent_lines,
    )

    rows = []
    for i in range(12):
        body = f"unique to {i}\nSUBSCRIBE NOW\ncontent {i}\nSUBSCRIBE NOW"
        rows.append((i, body))
    rows.append((12, "no boiler here\n\njust text"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bp = frequent_lines(df, min_docs=10)
    bp_lines = {r.line for r in bp.collect()}
    assert bp_lines == {"SUBSCRIBE NOW"}  # blank line NOT boilerplate
    out = {r.doc_id: r for r in remove_frequent_lines(df, bp).collect()}
    assert out[0].clean_text == "unique to 0\ncontent 0"
    assert out[0].n_removed == 2  # both occurrences stripped
    assert out[12].clean_text == "no boiler here\n\njust text"
    assert out[12].n_removed == 0


def test_remove_frequent_lines_keeps_all_boilerplate_docs(spark):
    """A document made ENTIRELY of boilerplate must surface as
    ('', n_removed), never vanish — docs-in == docs-out."""
    from medical_and_charity_document_extraction_system_spark.operators.chunking import (
        frequent_lines,
        remove_frequent_lines,
    )

    rows = [(i, "AD LINE") for i in range(11)] + [(11, "real content\nAD LINE")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bp = frequent_lines(df, min_docs=10)
    out = {r.doc_id: r for r in remove_frequent_lines(df, bp).collect()}
    assert set(out) == set(range(12))  # nobody vanished
    assert out[0].clean_text == "" and out[0].n_removed == 1
    assert out[11].clean_text == "real content" and out[11].n_removed == 1


def test_remove_frequent_lines_broadcast_guard(spark):
    """Above max_broadcast_rows the forced broadcast hint is dropped:
    the physical plan must show a non-broadcast (shuffle) join, and
    results must be identical either way (round-4 scale guard — at C4
    scale the boilerplate set is millions of lines)."""
    from medical_and_charity_document_extraction_system_spark.operators.chunking import (
        frequent_lines,
        remove_frequent_lines,
    )

    rows = [(i, "AD LINE\nbody %d" % i) for i in range(11)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bp = frequent_lines(df, min_docs=10)

    guarded = remove_frequent_lines(df, bp, max_broadcast_rows=0)
    # over the bound the HINT must be gone — strategy is left to the
    # optimizer/AQE (which may still broadcast a genuinely tiny set,
    # from runtime stats rather than a forced hint)
    plan = guarded._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, plan
    hinted = remove_frequent_lines(df, bp, max_broadcast_rows=1_000_000)
    hplan = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hplan, hplan
    assert sorted(map(tuple, guarded.collect())) == sorted(map(tuple, hinted.collect()))


# ---------------------------------------------------- gopher rules (r4)
def test_gopher_signals_planted_cases(spark):
    from medical_and_charity_document_extraction_system_spark.functions.gopher import (
        with_gopher_signals,
    )

    good = " ".join(
        ["the quick brown fox jumps over a lazy dog of means to and in"] * 5
    )
    rows = [
        (0, good),                                  # passes every rule
        (1, ""),                                    # empty -> keep False
        (2, "x\nx\nx\ny"),                          # 3 dup lines of 4
        (3, "- one\n- two\n- three"),               # all bullets
        (4, "wait...\nmore...\nok"),                # 2/3 ellipsis lines
        (5, "zz " * 60),                            # no stopwords, short words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in with_gopher_signals(df).collect()}
    assert out[0].gopher_keep is True
    assert out[0].stopword_hits >= 2 and out[0].alpha_word_ratio == 1.0
    assert out[1].n_words == 0 and out[1].gopher_keep is False
    assert out[1].mean_word_len is None
    assert out[2].dup_line_frac == 2 / 4  # 4 lines, 2 distinct
    assert out[2].dup_line_char_frac == 2 / 4  # 2 extra 'x' chars of 4
    assert out[3].bullet_line_frac == 1.0 and out[3].gopher_keep is False
    assert out[4].ellipsis_line_frac == 2 / 3
    assert out[5].stopword_hits == 0 and out[5].gopher_keep is False
    assert out[5].top_word_frac == 1.0  # one token repeated throughout
    assert out[0].n_lines == 1 and out[2].n_lines == 4


def test_gopher_filter_is_shuffle_free(spark):
    """The quality pass must stay a pure projection: zero Exchange
    nodes in the physical plan (the property that matters at 100 TB)."""
    from medical_and_charity_document_extraction_system_spark.functions.gopher import (
        with_gopher_signals,
    )

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (
        with_gopher_signals(df).where("gopher_keep")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
