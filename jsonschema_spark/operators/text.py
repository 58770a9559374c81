"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All pure Column expressions (whole-stage codegen) —
each has an exact ANSI-SQL oracle twin in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
# Deterministic and oracle-expressible (list_intersect in DuckDB).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "es": ["el", "la", "los", "las", "y", "es", "en", "un", "una", "que"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}

# BPE-ish tokenizer regex: letter runs, digit runs, or single non-space symbol.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def language_id_cols(text_col: str = "text") -> list[Column]:
    """Aliased columns for language-ID: (predicted_lang, markers_hit)."""
    w = words(F.col(text_col))
    scores = {
        lang: F.size(F.array_intersect(w, F.array(*[F.lit(m) for m in marks])))
        for lang, marks in LANG_MARKERS.items()
    }
    best_lang = F.lit("unknown")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):  # later langs win ties only if strictly greater
        s = scores[lang]
        cond = s > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return [best_lang.alias("predicted_lang"), best_score.alias("markers_hit")]


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Predict language by stopword-marker hits; deterministic tie-break by
    language code order. Emits (id, predicted_lang, markers_hit)."""
    return df.select(F.col(id_col), *language_id_cols(text_col))


def quality_score_cols(text_col: str = "text") -> list[Column]:
    """Aliased columns for the quality signals (see quality_scores)."""
    t = F.col(text_col)
    w = words(t)
    n_tokens = F.size(w)
    n_chars = F.length(t)
    punct = F.size(F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), 0))
    stop = F.size(F.array_intersect(w, F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])))
    return [
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4).alias("avg_token_len"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        (
            (n_tokens >= 5) & (n_chars >= 20)
            & (punct / F.greatest(n_chars, F.lit(1)) < 0.3)
        ).alias("passes_quality"),
    ]


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword quality signals per document."""
    return df.select(F.col(id_col), *quality_score_cols(text_col))


def token_count_cols(text_col: str = "text") -> list[Column]:
    """Aliased columns for (ws_tokens, re_tokens)."""
    t = F.col(text_col)
    return [
        F.size(words(t)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)).alias("re_tokens"),
    ]


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    return df.select(F.col(id_col), *token_count_cols(text_col))


def fingerprint_cols(text_col: str | Column = "text") -> list[Column]:
    """Aliased column for the normalized-content fingerprint. Accepts a
    column name or any Column expression (e.g. the redacted text), so
    composed pipelines can fingerprint a derived column in the same scan."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return [F.md5(norm).alias("fingerprint")]


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized-content fingerprint: lowercase, strip non-alphanumerics,
    collapse whitespace, md5. Identical docs-after-normalization collide."""
    return df.select(F.col(id_col), *fingerprint_cols(text_col))


def profile_cols(text_col: str = "text") -> list[Column]:
    """language_id + quality_scores + token_counts + fingerprints as ONE
    aliased column list. All four legs are pure projections over the same
    scan — composing them here replaces the 4-scan/3-shuffle join-on-id
    shape with a single codegen projection (no shuffle at any scale)."""
    return [
        *language_id_cols(text_col),
        *quality_score_cols(text_col),
        *token_count_cols(text_col),
        *fingerprint_cols(text_col),
    ]


def rolling_fingerprints(
    df: DataFrame, window_tokens: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Winnowing-style rolling fingerprints: hash every ``window_tokens``-gram
    and keep the per-document minimum hash set (one value per window offset
    bucket). Used for partial-overlap detection. (id, min_gram_hash)."""
    w = words(F.col(text_col))
    # sequence(1, 0) is DESCENDING [1, 0] in Spark — guard short docs
    grams = F.when(
        F.size(w) >= window_tokens,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (window_tokens - 1)),
            lambda i: F.xxhash64(
                F.concat_ws(" ", *[F.element_at(w, (i + k).cast("int")) for k in range(window_tokens)])
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return df.select(
        F.col(id_col), F.array_min(grams).alias("min_gram_hash"), F.size(w).alias("n_tokens")
    )


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Per-doc intra-document repetition signals (Gopher-style quality
    filters, Rae et al. 2021 §A1.1): duplicate-line fraction and
    duplicate-word fraction. Pure Column expressions — computed scan-side in
    one codegen projection, NO shuffle (plan-asserted in tests), so at
    10^12 docs this is free riding on whatever scan already runs.

    ``line_sep`` is a Java-regex pattern (default newline); callers with
    regex-metachar separators must escape them. Fractions are 0.0 for docs
    with a single line/word; null text stays null.
    """
    lines = F.split(F.col(text_col), line_sep)
    ws = words(F.col(text_col))
    n_lines = F.size(lines)
    n_words = F.size(ws)
    return df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(lines)) / n_lines, 6
        ).alias("dup_line_frac"),
        n_words.alias("n_words"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(ws)) / n_words, 6
        ).alias("dup_word_frac"),
    )


def top_ngram_fraction(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fraction of each document's characters covered by its single most
    frequent word n-gram (the Gopher "top n-gram character fraction" repetition
    filter). Shape at scale: explode n-grams (NOT distinct — counts matter),
    one hash agg keyed by (doc, gram) with map-side combine, then a per-doc
    window max. Keys are per-document so no hot key can form; gram counts per
    doc are bounded by doc length. Deterministic tie-break: highest count,
    then lexicographically smallest gram.
    """
    from pyspark.sql import Window

    w = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
                  words(F.col(text_col)).alias("_words"))
    grams = F.when(
        F.size("_words") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_words") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("_words", (i + k).cast("int")) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = w.select("id", F.length("_t").alias("_chars"),
                        F.explode(grams).alias("gram"))
    counts = exploded.groupBy("id", "_chars", "gram").agg(
        F.count(F.lit(1)).alias("cnt"))
    win = Window.partitionBy("id").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return (
        counts.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .select(
            F.col("id").alias(id_col),
            F.col("gram").alias("top_gram"),
            F.col("cnt").alias("top_gram_count"),
            F.round(F.col("cnt") * F.length("gram") / F.col("_chars"), 6)
            .alias("top_gram_char_frac"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    min_doc_frac: float = 0.5,
    line_sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Corpus-level boilerplate detection (the C4 / RefinedWeb line-dedup
    prerequisite): a line occurring in at least ``min_doc_frac`` of all
    documents (per ``group_col`` when given — e.g. per source/domain, where
    nav bars and cookie banners actually repeat) is boilerplate.

    Shape at scale: per-doc DISTINCT lines explode to (group, line, doc) →
    ONE hash aggregation keyed by (group, line) with map-side combine →
    threshold filter against the (tiny) per-group doc count. No joins, no
    windows; line keys are sharded by group so no single hot key forms.
    Output: (group_col?, line, n_docs, doc_frac).

    ``line_sep`` is a LITERAL separator (escaped internally for the split).
    """
    if not 0.0 < min_doc_frac <= 1.0:
        raise ValueError("need 0 < min_doc_frac <= 1")
    gcols = [group_col] if group_col else []
    lines = F.explode(
        F.array_distinct(F.split(F.col(text_col), _re_escape(line_sep)))
    ).alias("line")
    ex = df.where(F.col(text_col).isNotNull()).select(*gcols, F.col(id_col), lines)
    # per-group doc totals are GROUP-cardinality rows (bounded) — computed
    # distributedly and joined back on the group key, never collected
    totals = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(*gcols)
        .agg(F.count(F.lit(1)).alias("_n_total"))
    )
    counts = ex.groupBy(*gcols, "line").agg(
        F.count(F.lit(1)).alias("n_docs")  # lines are per-doc distinct already
    )
    joined = counts.join(F.broadcast(totals), gcols) if gcols else counts.crossJoin(
        F.broadcast(totals)
    )
    return joined.where(
        F.col("n_docs") >= F.lit(min_doc_frac) * F.col("_n_total")
    ).select(
        *gcols,
        "line",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_n_total"), 6).alias("doc_frac"),
    )


def remove_boilerplate(
    df: DataFrame,
    boiler: DataFrame,
    line_sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Scrub the ``boiler`` line set (from :func:`boilerplate_lines`) out of
    every document, preserving line order. Every input doc survives — a doc
    whose lines are ALL boilerplate comes back with empty ``text_clean``.

    Shape at scale: posexplode(lines) → left join against the broadcast
    boilerplate set (the head of the line-frequency distribution,
    inherently small) → reassembly is ONE hash aggregation keyed by the
    document id (collect (pos, line) structs, array_sort restores order).
    Per-doc keys: no hot keys, payload bounded by doc length.
    Output: (id_col, text_clean, n_lines_kept, n_lines_removed).
    """
    gcols = [group_col] if group_col else []
    ex = (
        df.where(F.col(text_col).isNotNull())
        .select(*gcols, F.col(id_col),
                F.posexplode(F.split(F.col(text_col), _re_escape(line_sep)))
                .alias("pos", "line"))
    )
    bset = boiler.select(*gcols, "line", F.lit(True).alias("_bp")).distinct()
    j = ex.join(F.broadcast(bset), [*gcols, "line"], "left")
    kept = F.when(F.col("_bp").isNull(), F.struct("pos", "line"))
    return j.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["line"]),
            line_sep,
        ).alias("text_clean"),
        F.count(kept).alias("n_lines_kept"),
        F.count(F.when(F.col("_bp").isNotNull(), 1)).alias("n_lines_removed"),
    )


def _re_escape(sep: str) -> str:
    """Escape a literal separator for Spark's Java-regex ``split``."""
    import re as _re

    return _re.escape(sep)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 512,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into whitespace-token chunks of ``chunk_tokens``
    with ``overlap`` tokens of context carried between consecutive chunks —
    the standard pre-embedding / RAG chunking step. Pure higher-order Column
    expressions (sequence -> slice -> array_join) on the scan: no UDF, no
    shuffle; the explode multiplies rows by ceil(tokens/stride), bounded by
    document length. Output: (id_col, chunk_idx, n_chunk_tokens, chunk).

    Chunk starts advance by stride = chunk_tokens - overlap; the last chunk
    may be shorter. Deterministic and engine-portable (DuckDB oracle twin).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    ws = words(F.col(text_col))
    n = F.size(ws)
    # chunk start positions (1-based): 1, 1+stride, ... while start <= n
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.slice(ws, s, F.lit(chunk_tokens)).alias("_toks"),
        ),
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c._toks").alias("n_chunk_tokens"),
            F.array_join("c._toks", " ").alias("chunk"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary statistics (B57): token-frequency table, ranked head
# coverage, and out-of-vocabulary mass — the profiling a tokenizer-fitting /
# vocabulary-sizing step runs before training. Token model: whitespace
# words (the same `words()` every text operator here uses); empty tokens
# from blank/NULL documents are dropped.
#
# Scale shape: `vocabulary` is one explode plus ONE hash aggregation keyed
# by token (map-side combine; distinct-doc counting shuffles (token, id)
# pairs once — linear). `top_tokens` bounds the only ordered step to the
# requested k via TakeOrderedAndProject (no global sort materializes), and
# the cumulative-coverage window runs over exactly k rows (bounded, single
# partition of k — documented, not a scale risk for the k<=10^5 a
# vocabulary report uses). `oov_stats` joins the token aggregate against
# the vocabulary, which is broadcast (vocabularies are ~10^4-10^6 rows).
# ---------------------------------------------------------------------------


def _corpus_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"),
                F.explode(words(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
    )


def vocabulary(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full token-frequency table: (token, n_occ, n_docs). One explode +
    one hash aggregation keyed by token — linear in corpus token count."""
    return (
        _corpus_tokens(df, text_col, id_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"),
             F.countDistinct("_id").alias("n_docs"))
    )


def top_tokens(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ranked head of the vocabulary with cumulative corpus coverage:
    (rank, token, n_occ, n_docs, frac, cum_frac) — ``cum_frac`` at rank r
    is the fraction of ALL corpus tokens covered by the top r types (the
    coverage curve a vocabulary-size decision reads). Ties break by token
    text so the ranking is deterministic. Ordered work is bounded to k rows
    (TakeOrderedAndProject); total mass is one scalar aggregate joined in
    as a 1x1 literal cross join.
    """
    from pyspark.sql.window import Window

    vocab = vocabulary(df, text_col, id_col)
    total = vocab.agg(F.sum("n_occ").alias("_total"))
    head = vocab.orderBy(F.desc("n_occ"), F.asc("token")).limit(int(k))
    w = Window.orderBy(F.desc("n_occ"), F.asc("token"))  # <= k rows, bounded
    return (
        head.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "token", "n_occ", "n_docs",
            (F.col("n_occ") / F.col("_total")).alias("frac"),
            (F.sum("n_occ").over(
                w.rowsBetween(Window.unboundedPreceding, 0))
             / F.col("_total")).alias("cum_frac"),
        )
    )


def oov_stats(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_col: str = "token",
) -> DataFrame:
    """Out-of-vocabulary mass vs a given vocabulary table: one row
    (n_tokens, n_types, n_oov_tokens, n_oov_types, oov_token_frac,
    oov_type_frac). Token mass weighs by occurrences; type counts weigh
    each distinct token once. The join runs on the (small) per-type
    aggregate, not the raw token stream, and the vocabulary is broadcast.
    """
    v = F.broadcast(vocab.select(F.col(vocab_col).alias("token")).distinct())
    counts = (
        _corpus_tokens(df, text_col, id_col)
        .groupBy("token").agg(F.count(F.lit(1)).alias("n_occ"))
        .join(v.withColumn("_in_vocab", F.lit(True)), "token", "left")
    )
    n_tokens = F.sum("n_occ")
    n_oov_tokens = F.sum(F.when(F.col("_in_vocab").isNull(),
                                F.col("n_occ")).otherwise(F.lit(0)))
    n_types = F.count(F.lit(1))
    n_oov_types = F.sum(F.col("_in_vocab").isNull().cast("long"))
    return counts.agg(
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        n_oov_tokens.alias("n_oov_tokens"),
        n_oov_types.alias("n_oov_types"),
        (n_oov_tokens / n_tokens).alias("oov_token_frac"),
        (n_oov_types / n_types.cast("double")).alias("oov_type_frac"),
    )
