"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash/phash Hamming,
embedding-cosine near-dup and exact substring spans — each Spark-first:

- exact/ngram: pure DataFrame ops (codegen, map-side partial aggs).
- MinHash: per-shingle hashes via ``xxhash64`` (JVM), min-reduced in ONE
  aggregation; each band of the signature becomes a (band, bucket) row.
- SimHash: 64 per-bit weighted sums in ONE aggregation (64 agg columns,
  still a single shuffle); a 64-bit signature splits into pigeonhole
  (blk, key) rows.
- Embeddings: random-hyperplane LSH gives one (tbl, bkt) row per table.

Those rows are the storable index of each near-duplicate family, and every
family pairs them the same way (``_bucket_pairs``): an equi-join on the
bucket keys — linear shuffle in corpus size, never an all-pairs product —
then the family's exact verify. Incremental ingestion (B48) is the same
join twice (``_incremental_pairs``): the new batch's rows against the
persisted corpus index, and the batch against itself.

At 10^12 docs the quadratic verify step only ever runs inside buckets;
bucket skew (a shingle shared by millions of docs) is handled by dropping
top-frequency shingles (stopword-shingle cut) before the join.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_log = logging.getLogger(__name__)


def with_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("_words", F.split(F.trim(F.col(text_col)), r"\s+"))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: (content_md5, n_dups, doc_ids)."""
    return (
        df.select(id_col, F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) pairs — distinct word n-grams per doc."""
    w = with_words(df, text_col)
    # NB: Spark sequence(1, 0) yields a DESCENDING [1, 0], not an empty
    # array — docs shorter than n words need the explicit guard.
    grams = F.when(
        F.size("_words") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_words") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("_words", (i + k).cast("int")) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        w.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle"))
    )


DEFAULT_MAX_SHINGLE_FREQ = 1000


def _cut_hot_shingles(sh: DataFrame, max_shingle_freq: int | None) -> DataFrame:
    """Drop shingles shared by more than ``max_shingle_freq`` docs (the
    default-on scale guard: a stop-shingle shared by 10^6 docs makes a
    10^12-pair join bucket). The cut is results-changing — Jaccard biases
    slightly low for affected pairs — so it must be VISIBLE, not silent:
    the hot-shingle set is materialized (it is tiny by construction,
    ≤ total-occurrences/max_freq keys) and a warning with the cut count is
    logged whenever the cut actually removed anything. The anti-join
    against the materialized hot set costs the same shingle-table scans as
    an inline semi-join."""
    if max_shingle_freq is None:
        return sh
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
    hot = freq.where(F.col("_f") > max_shingle_freq).select("shingle").persist()
    n_hot = hot.count()
    if n_hot > 0:
        _log.warning(
            "hot-shingle cut removed %d shingle(s) above freq %d — Jaccard "
            "values for pairs sharing them bias low vs exact semantics "
            "(pass max_shingle_freq=None for exact on bounded corpora)",
            n_hot, max_shingle_freq,
        )
        return sh.join(hot, "shingle", "left_anti")
    hot.unpersist()
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Doc pairs with n-gram Jaccard ≥ threshold: (id_a, id_b, jaccard).

    Inverted-index join on shingles (never a cross join). Shingles shared by
    more than ``max_shingle_freq`` docs are dropped BEFORE the join (ON BY
    DEFAULT): a single stop-shingle shared by 10^6 docs makes a 10^12-pair
    bucket — quadratic in exactly the hot keys that carry no discriminative
    signal. The cut biases Jaccard slightly low for affected pairs; pass
    ``None`` for exact semantics on bounded corpora.
    """
    sh = _cut_hot_shingles(shingles(df, id_col, text_col, n), max_shingle_freq)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    prehash_fn=None,
    mix_fn=None,
) -> DataFrame:
    """(id, sig: array<long>) — MinHash signature per doc. Each hash h_k is
    min over shingles of mix_fn(prehash_fn(shingle), k) (defaults: the
    identity and ``xxhash64(h, k)``, JVM codegen); all ``num_hashes``
    minima are computed in ONE aggregation over the exploded shingle table.
    Hot shingles above ``max_shingle_freq`` are cut (same default +
    rationale as ngram_jaccard_pairs — they dominate every doc's minima
    while carrying no discriminative signal).

    ``prehash_fn(col) -> Column`` + ``mix_fn(h, k) -> Column`` exist so an
    SQL-expressible hash (e.g. md5-derived) can drive the SAME
    aggregation/banding plan for oracle-backed verification — xxhash64 has
    no DuckDB twin. The base hash is projected ONCE per shingle row and the
    ``num_hashes`` per-k hashes are cheap arithmetic mixes of it — 64 md5
    calls per shingle become 1."""
    if prehash_fn is None:
        prehash_fn = lambda c: c  # noqa: E731
    if mix_fn is None:
        mix_fn = lambda h, k: F.xxhash64(h, F.lit(k))  # noqa: E731
    sh = _cut_hot_shingles(shingles(df, id_col, text_col, n), max_shingle_freq)
    sh = sh.withColumn("_ph", prehash_fn(F.col("shingle")))
    aggs = [F.min(mix_fn(F.col("_ph"), k)).alias(f"h{k}") for k in range(num_hashes)]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig"))


def _bucket_pairs(
    index: DataFrame,
    other: DataFrame | None,
    keys: tuple[str, ...],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct (id_a, id_b, <c>_a, <c>_b for c in carry) pairs of index
    rows equal on every bucket key. Without ``other``: a self-join of
    ``index`` with id_a < id_b (each unordered pair once). With ``other``:
    ``index`` rows (a side) against ``other`` rows (b side), id_a != id_b.
    A pair sharing several buckets is reported once."""
    a = index.alias("a")
    b = (index if other is None else other).alias("b")
    cond = F.col("a.id") < F.col("b.id") if other is None else F.col("a.id") != F.col("b.id")
    for k in reversed(keys):
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return a.join(b, cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    ).distinct()


def _incremental_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    keys: tuple[str, ...],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Batch-vs-corpus pairs (origin 'corpus') ∪ within-batch pairs (origin
    'batch') as (id_new, id_other, <carry pairs>, origin). Only the batch's
    index rows are computed; the corpus side is its persisted index.
    Completeness invariant (test-pinned per family): the union equals the
    one-shot pair set over corpus ∪ batch restricted to pairs touching the
    batch."""
    return (
        _bucket_pairs(batch, corpus, keys, carry).withColumn("origin", F.lit("corpus"))
        .unionByName(
            _bucket_pairs(batch, None, keys, carry).withColumn("origin", F.lit("batch")))
        .withColumnsRenamed({"id_a": "id_new", "id_b": "id_other"})
    )


def minhash_band_buckets(
    sig: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(id, band, bucket) — the storable LSH index rows for a signature
    table. At 10^12 scale this IS the persisted dedup index: computed once
    per corpus, appended per ingestion batch, and equi-joined against by
    every arriving batch (see ``minhash_incremental_candidates``)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("id", F.explode(band_entries).alias("e")).select(
        "id", "e.band", "e.bucket"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    prehash_fn=None,
    mix_fn=None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing ANY band
    signature. (id_a, id_b) distinct pairs. bands must divide num_hashes.
    ``prehash_fn``/``mix_fn`` thread through to minhash_signatures (oracle
    variants)."""
    sig = minhash_signatures(df, num_hashes, id_col, text_col, n,
                             max_shingle_freq, prehash_fn, mix_fn)
    return _bucket_pairs(minhash_band_buckets(sig, num_hashes, bands), None,
                         ("band", "bucket"))


def minhash_incremental_candidates(
    new_df: DataFrame,
    corpus_buckets: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    prehash_fn=None,
    mix_fn=None,
) -> DataFrame:
    """Incremental-ingestion dedup: candidate pairs between a NEW batch and
    the stored corpus LSH index (``minhash_band_buckets`` rows), plus pairs
    WITHIN the batch. Only the batch is shingled/signed — the historical
    corpus is never rescanned; the corpus side joins on its persisted
    (band, bucket) index, which at north scale is bucketed storage so the
    per-batch join is index-side shuffle-free.

    Output: (id_new, id_other, origin) with origin in {'corpus','batch'};
    completeness invariant (test-pinned): corpus-vs-batch ∪ within-batch
    equals the full-corpus candidate set restricted to pairs touching the
    batch."""
    sig = minhash_signatures(new_df, num_hashes, id_col, text_col, n,
                             max_shingle_freq, prehash_fn, mix_fn)
    return _incremental_pairs(minhash_band_buckets(sig, num_hashes, bands),
                              corpus_buckets, ("band", "bucket"))


def minhash_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard on shingles — the scale path:
    candidate generation is linear (banding), exact verify runs only on the
    candidate set. Returns (id_a, id_b, jaccard). The hot-shingle cut is
    applied to BOTH the signatures and the verify shingles, so the verified
    Jaccard is consistent with the candidate space.

    Verify shape (r4): candidate pairs are melted to (pair, id) and joined
    ONCE against the per-doc shingle-set table; each pair's Jaccard is an
    array_intersect over its two sets. The former shape joined the full
    exploded (id, shingle) table on ["id_b", "shingle"] — a corpus-sized
    shuffle keyed by shingle — and recomputed the shingle pipeline for the
    a-side, b-side, and both size legs (Spark does not CSE across join
    inputs); now the pipeline runs once for signatures and once for sets,
    and nothing corpus-sized shuffles in verify (the melted candidate side
    is small, so AQE broadcasts it)."""
    cand = minhash_lsh_candidates(df, num_hashes, bands, id_col, text_col, n, max_shingle_freq)
    sh = _cut_hot_shingles(shingles(df, id_col, text_col, n), max_shingle_freq)
    sets = sh.groupBy("id").agg(F.collect_set("shingle").alias("_set"))
    melted = cand.select(F.struct("id_a", "id_b").alias("_p")).select(
        "_p", F.explode(F.array("_p.id_a", "_p.id_b")).alias("id"))
    per_pair = (
        melted.join(sets, "id")
        .groupBy("_p")
        .agg(
            F.max(F.when(F.col("id") == F.col("_p.id_a"), F.col("_set"))).alias("_sa"),
            F.max(F.when(F.col("id") == F.col("_p.id_b"), F.col("_set"))).alias("_sb"),
        )
    )
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = n_inter / (F.size("_sa") + F.size("_sb") - n_inter)
    return (
        per_pair.select(
            F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"),
            jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 64, hash_fn=None,
) -> DataFrame:
    """(id, simhash: long) — ``bits``-bit SimHash over word tokens, computed
    as per-bit weighted sums in a single aggregation (no per-row Python).
    ``hash_fn(col) -> Column`` defaults to ``xxhash64``; an SQL-expressible
    hash (md5-derived) drives the same plan for oracle verification."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    tok = with_words(df, text_col).select(
        F.col(id_col).alias("id"), F.explode("_words").alias("tok")
    )
    tok = tok.withColumn("h", hash_fn(F.col("tok")))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("id").agg(*bit_aggs)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR
    return agg.select("id", sim.alias("simhash"))


def hamming_block_index(
    sig: DataFrame, max_hamming: int = 3, sig_col: str = "simhash"
) -> DataFrame:
    """(id, simhash, blk, key) — the storable pigeonhole index rows for a
    64-bit signature table (phash / SimHash). At north scale this is the
    persisted image-dedup index: each ingestion batch joins its own block
    rows against it instead of re-blocking 10^12 historical signatures."""
    blocks = max_hamming + 1
    width = 64 // blocks
    sig = sig.select("id", F.col(sig_col).alias("simhash"))
    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("blk"),
                F.shiftright(F.col("simhash"), k * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for k in range(blocks)
        ]
    )
    return sig.select("id", "simhash", F.explode(entries).alias("e")).select(
        "id", "simhash", "e.blk", "e.key"
    )


def _within_hamming(pairs: DataFrame, max_hamming: int) -> DataFrame:
    """Exact verify of block-sharing candidates: ``hamming`` =
    popcount(simhash_a XOR simhash_b), kept when ≤ ``max_hamming``."""
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return pairs.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming)


def hamming_near_duplicates(
    sig: DataFrame,
    max_hamming: int = 3,
    sig_col: str = "simhash",
) -> DataFrame:
    """Pairs of rows in ``sig`` (columns: id, <sig_col>:long) whose 64-bit
    signatures are within ``max_hamming``, via the block-rotation trick:
    split 64 bits into (max_hamming+1) blocks; any pair within distance d
    shares ≥1 exact block (pigeonhole, EXHAUSTIVE — equals brute force) —
    so candidates come from equi-joins on block values, never a cross join.
    Returns (id_a, id_b, hamming)."""
    pairs = _bucket_pairs(hamming_block_index(sig, max_hamming, sig_col), None,
                          ("blk", "key"), ("simhash",))
    return _within_hamming(pairs, max_hamming).select("id_a", "id_b", "hamming")


def hamming_incremental_candidates(
    new_sig: DataFrame,
    corpus_index: DataFrame,
    max_hamming: int = 3,
    sig_col: str = "simhash",
) -> DataFrame:
    """Incremental image/sim-hash dedup: exact-Hamming pairs between a NEW
    batch's signatures and the stored corpus block index
    (``hamming_block_index`` rows), plus pairs within the batch — the
    historical corpus is never re-blocked. Pigeonhole completeness holds per
    stream, so (batch-vs-corpus ∪ within-batch) equals the full-corpus pair
    set restricted to pairs touching the batch (test-pinned).
    Output: (id_new, id_other, hamming, origin)."""
    pairs = _incremental_pairs(hamming_block_index(new_sig, max_hamming, sig_col),
                               corpus_index, ("blk", "key"), ("simhash",))
    return _within_hamming(pairs, max_hamming).select(
        "id_new", "id_other", "hamming", "origin")


def simhash_near_duplicates(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 64, hash_fn=None,
) -> DataFrame:
    """Near-dup pairs with Hamming(SimHash) ≤ max_hamming — SimHash
    signatures fed through the exhaustive block-rotation pair search.
    ``bits``/``hash_fn`` thread to simhash_signatures so an md5-derived
    hash can drive the identical composition for oracle verification.
    A caller that already holds an (id, simhash) table calls
    :func:`hamming_near_duplicates` on it directly."""
    sig = simhash_signatures(df, id_col, text_col, bits, hash_fn)
    return hamming_near_duplicates(sig, max_hamming, "simhash")


def _cosine_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact cosine verify of candidates carrying (v, nrm): the threshold
    applies to the RAW cosine and ``cos`` is rounded to 6 places only in
    the output, so a pair just below the threshold is dropped on every
    path (rounding first would keep cosines in [t - 5e-7, t))."""
    from .similarity import _dot

    cos = _dot(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        pairs.withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .withColumn("cos", F.round("cos", 6))
    )


def embedding_bucket_index(
    df: DataFrame,
    planes: int = 8,
    tables: int = 6,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, nrm, tbl, bkt) — the storable LSH index rows for a corpus
    embedding table (hyperplanes are deterministic in (dim, planes, seed),
    so batches indexed later land in the SAME buckets). The vector and its
    norm ride along because the verify stage needs them; at north scale the
    index is bucketed storage on (tbl, bkt)."""
    from .similarity import _norm, _hyperplanes, lsh_buckets_all, resolve_dim

    dim = resolve_dim(df, vec_col, dim)
    all_planes = [_hyperplanes(dim, planes, seed + t) for t in range(tables)]
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v"))).select(
        "id", "v", "nrm", F.explode(lsh_buckets_all("v", all_planes)).alias("e")
    ).select("id", "v", "nrm", "e.tbl", "e.bkt")


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    tables: int = 6,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a, id_b, cos).

    Candidates come from an equi-join on random-hyperplane LSH buckets
    across ``tables`` hash tables, then exact cosine verifies each
    candidate. Linear shuffle in corpus size — no all-pairs product ever
    forms. Recall < 1 by design:
    a pair at angle θ collides in one table with prob (1-θ/π)^planes, so the
    miss probability is (1-(1-θ/π)^planes)^tables — at the default
    (planes=8, tables=6) that is ≈3.6% for a pair at exactly cos 0.95
    (θ≈0.318) and ≈1.7e-11 for true perturbed copies (cos ≥ 0.9999).
    Raise ``tables`` (linear cost) for tighter recall at the threshold.

    ``dim`` defaults to the measured length of the first vector (the
    hyperplanes must match the embedding dimension: a mismatched literal
    dim would NULL every dot product and silently collapse all vectors
    into one bucket — an O(n²) cross join). Pass it explicitly to skip the
    one-row lookup; a passed value is still validated against the data.
    """
    pairs = _bucket_pairs(
        embedding_bucket_index(df, planes, tables, dim, seed, id_col, vec_col), None,
        ("tbl", "bkt"), ("v", "nrm"))
    return _cosine_at_least(pairs, threshold).select("id_a", "id_b", "cos")


def embedding_incremental_near_duplicates(
    new_df: DataFrame,
    corpus_index: DataFrame,
    threshold: float = 0.95,
    planes: int = 8,
    tables: int = 6,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental embedding near-dup: exact-cosine-verified pairs between a
    NEW batch and the stored corpus LSH index (``embedding_bucket_index``
    rows — MUST have been built with the same (planes, tables, dim, seed)),
    plus pairs within the batch. The corpus is never re-bucketed; recall
    characteristics are identical to the one-shot path because the bucket
    values are deterministic. Output: (id_new, id_other, cos, origin);
    completeness-vs-one-shot invariant test-pinned."""
    nb = embedding_bucket_index(new_df, planes, tables, dim, seed, id_col, vec_col)
    pairs = _incremental_pairs(nb, corpus_index, ("tbl", "bkt"), ("v", "nrm"))
    return _cosine_at_least(pairs, threshold).select("id_new", "id_other", "cos", "origin")


def keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop the higher-id member of every duplicate pair (canonical keep-first
    policy). At scale this is a left_anti join against the (small) drop-list."""
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Exact substring-span deduplication (B55) — window-fingerprint form of the
# suffix-array ExactSubstr procedure (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better"): any token run of length
# >= span_tokens that occurs >= min_count times across the corpus is found
# and can be scrubbed from every non-canonical occurrence.
#
# Window quantization: every length-L token window (stride 1) is
# fingerprinted; a duplicated run of R >= L tokens duplicates ALL of its
# R-L+1 interior windows, whose union covers exactly the run — so detection
# is equivalent to the suffix-array form at >= L-token granularity, and the
# only divergence (documented) is that duplications SHORTER than L are
# invisible, which is the same threshold the paper applies (they use 50
# BPE tokens).
#
# Scale shape: tokens-per-corpus rows explode once; ONE hash aggregation
# keyed by fingerprint (map-side combine) marks duplicated windows and picks
# the canonical occurrence (min (id, pos) — deterministic); the flag table
# joins back on the fingerprint (each occurrence matches at most one flag
# row — no fan-out); span merging is a per-document aggregate (per-doc keys,
# no hot keys, payload bounded by document length). No window functions, no
# global sort, no UDF — fully engine-portable (DuckDB oracle twin).
# ---------------------------------------------------------------------------

_SPAN_SEP = "\x1f"  # unit separator: cannot appear inside a whitespace token
                    # produced by split(\s+) unless the raw text embeds it


def _window_fingerprints(text_col: str, span_tokens: int):
    """Array of xxhash64 fingerprints, one per 0-based window start
    position. The fingerprint only drives GROUPING (equal windows must
    collide, distinct windows must not) — an 8-byte long quarters the
    shuffle bytes of the former md5 hex string and drops the digest cost;
    the DuckDB twin may keep md5 since group equivalence is all that is
    compared."""
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(ws)
    return F.when(
        n >= span_tokens,
        F.transform(
            F.sequence(F.lit(0), n - span_tokens),
            lambda p: F.xxhash64(F.array_join(
                F.slice(ws, p + 1, span_tokens), _SPAN_SEP)),
        ),
    ).otherwise(F.array().cast("array<long>"))


def duplicated_window_occurrences(
    df: DataFrame,
    span_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every (id, pos) whose length-``span_tokens`` window also occurs
    elsewhere in the corpus (>= ``min_count`` total occurrences, same-doc
    repeats included). ``is_canonical`` marks the single occurrence with the
    minimum (id, pos) per fingerprint — the copy :func:`duplicated_spans`
    preserves when ``keep_canonical=True``.

    Output: (id, pos, fp, n_occ, is_canonical); ``pos`` is the 0-based
    token offset of the window start.

    Shape at scale (r4): ONE exchange of the occurrence table — count and
    canonical-min are window aggregates over ``partitionBy(fp)``. The
    former groupBy(fp) + join-back-on-fp shape exchanged the table twice
    AND recomputed the explode+fingerprint subtree on both sides of the
    join (Spark does not CSE across join inputs).
    """
    if span_tokens < 2:
        raise ValueError("span_tokens must be >= 2")
    occ = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_window_fingerprints(text_col, span_tokens)).alias("pos", "fp"),
    )
    w = Window.partitionBy("fp")
    return (
        occ.withColumn("n_occ", F.count(F.lit(1)).over(w))
        .withColumn("_canon", F.min(F.struct("id", "pos")).over(w))
        .where(F.col("n_occ") >= min_count)
        .select(
            "id", "pos", "fp", "n_occ",
            ((F.col("id") == F.col("_canon.id"))
             & (F.col("pos") == F.col("_canon.pos"))).alias("is_canonical"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    span_tokens: int = 8,
    min_count: int = 2,
    keep_canonical: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Merged removable token spans per document: overlapping/adjacent
    duplicated windows coalesce into maximal [span_start, span_end) runs
    (0-based token offsets, end exclusive).

    ``keep_canonical=True`` (default) exempts each fingerprint's canonical
    occurrence, so exactly one copy of every duplicated run survives in the
    corpus (the min-(id, pos) copy — for a run shared by documents A < B,
    every window's canonical lands in A, so A keeps the run intact);
    ``False`` scrubs every occurrence (the conservative
    eval-decontamination setting).

    Span merging is a per-document ``aggregate`` over the sorted position
    set — one hash agg keyed by id, no window functions.
    """
    occ = duplicated_window_occurrences(
        df, span_tokens=span_tokens, min_count=min_count,
        id_col=id_col, text_col=text_col)
    if keep_canonical:
        occ = occ.where(~F.col("is_canonical"))
    merged = (
        occ.groupBy("id")
        .agg(F.array_sort(F.collect_set("pos")).alias("_ps"))
        .select("id", F.expr(f"""
            aggregate(
              _ps,
              cast(array() as array<struct<s:int,e:int>>),
              (acc, p) -> case
                when size(acc) > 0 and p <= element_at(acc, -1).e
                then concat(
                  slice(acc, 1, size(acc) - 1),
                  array(named_struct(
                    's', element_at(acc, -1).s,
                    'e', greatest(element_at(acc, -1).e, p + {int(span_tokens)}))))
                else concat(acc, array(named_struct(
                  's', p, 'e', p + {int(span_tokens)})))
              end)
        """).alias("_spans"))
    )
    return merged.select(
        F.col("id").alias(id_col), F.explode("_spans").alias("_sp")
    ).select(
        id_col,
        F.col("_sp.s").alias("span_start"),
        F.col("_sp.e").alias("span_end"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    span_tokens: int = 8,
    min_count: int = 2,
    keep_canonical: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scrub the duplicated spans out of every document, preserving token
    order. Pass a precomputed :func:`duplicated_spans` frame via ``spans``
    (so one detection feeds reporting AND removal), or omit it to detect
    inline with the given parameters.

    Every input document survives; docs with no duplicated spans come back
    unchanged (modulo whitespace normalization to single spaces — the token
    model of this operator, documented divergence from byte-exact removal).
    Output: (id_col, text_clean, n_tokens, n_tokens_removed, n_spans).

    The span set joins back per document id (one row per doc after the
    per-doc collect — AQE picks broadcast when it is small); token masking
    is a pure higher-order expression over the merged-interval array.
    """
    if spans is None:
        spans = duplicated_spans(
            df, span_tokens=span_tokens, min_count=min_count,
            keep_canonical=keep_canonical, id_col=id_col, text_col=text_col)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("span_start").alias("s"),
                                    F.col("span_end").alias("e")))
        ).alias("_spans"))
    j = df.join(per_doc, id_col, "left").withColumn(
        "_spans",
        F.coalesce(F.col("_spans"),
                   F.expr("cast(array() as array<struct<s:int,e:int>>)")))
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    kept = F.filter(
        F.zip_with(
            ws,
            F.sequence(F.lit(0), F.greatest(F.size(ws), F.lit(1)) - 1),
            lambda w, i: F.when(
                ~F.exists("_spans", lambda sp: (i >= sp["s"]) & (i < sp["e"])), w
            ),
        ),
        lambda x: x.isNotNull(),
    )
    n_tokens = F.size(ws)
    return j.select(
        id_col,
        F.array_join(kept, " ").alias("text_clean"),
        n_tokens.alias("n_tokens"),
        (n_tokens - F.size(kept)).alias("n_tokens_removed"),
        F.size("_spans").alias("n_spans"),
    )
