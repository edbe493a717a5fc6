"""Text-analysis operators for large-scale training-data pipelines.

Everything here is pure ``pyspark.sql.functions`` expressions — JVM-side,
whole-stage-codegen-friendly, no Python in the hot path.  Designed for the
``documents``-shaped table (id + text) at 100 TB: every operator is a
narrow projection (no shuffle) unless stated otherwise.

Operators:

- :func:`tokens` — whitespace tokenization (lowercased).
- :func:`text_stats` — length / token-count / punctuation / uppercase /
  stopword-ratio quality signals.
- :func:`quality_score` — a single [0,1] heuristic quality scalar.
- :func:`language_id` — stopword-hit + CJK-codepoint heuristic language ID.
- :func:`fingerprint` — deterministic document fingerprint (md5 over the
  first *k* normalized tokens) for cheap near-head dedup keys.
- :func:`token_count` — BPE-ish subword count estimate via regex splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pins import pin

__all__ = [
    "tokens",
    "build_vocab",
    "encode_tokens",
    "text_stats",
    "quality_score",
    "language_id",
    "fingerprint",
    "repetition_stats",
    "token_count",
    "tfidf_top_terms",
    "boilerplate_ratio",
    "normalize_text",
    "chunk_documents",
    "lm_score",
    "bigram_lm_score",
    "train_bpe",
    "bpe_encode",
    "dedup_lines",
    "dedup_paragraphs",
    "char_entropy",
    "inverted_index",
    "STOPWORDS",
    "vocab_coverage",
    "bm25_topk",
    "bm25_index",
    "bm25_index_update",
    "bm25_index_stats",
    "bm25_index_layout",
    "bm25_topk_indexed",
]

#: Small per-language stopword lists for the heuristic language ID.
#: (Deliberately tiny: the point is the operator shape, not ISO coverage.)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "pour"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "de", "para"],
}

#: conservative punctuation class — identical byte set in Spark and DuckDB
#: regex flavors, so oracle parity is exact.
_PUNCT_CLASS = r"""[.,!?;:'"()\[\]{}\-]"""


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens. Empty text ⇒ empty array."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.trim(F.lower(c))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """Corpus vocabulary table: one row per distinct token with exact
    term frequency (``tf``, total occurrences), document frequency
    (``df``, distinct docs), and a dense rank-assigned ``token_id``
    (0-based; most frequent first, ties broken by token string — fully
    deterministic, so vocabularies are reproducible across runs).

    Scale shape: explode + one ``groupBy(token)`` — a single hash shuffle
    with map-side partial counts; ``df`` uses ``count_distinct`` over the
    doc id *within* the same aggregation (no second shuffle).  The top-k
    cut (``max_vocab``) runs on the already-aggregated (vocabulary-sized)
    frame via TakeOrdered — never a global sort of the corpus.
    """
    exploded = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    agg = exploded.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.count_distinct(F.col(id_col)).alias("df"),
    )
    if min_df > 1:
        agg = agg.filter(F.col("df") >= min_df)
    ranked = agg.orderBy(F.col("tf").desc(), F.col("token").asc())
    if max_vocab is not None:
        ranked = ranked.limit(max_vocab)
    # rank assignment runs on the vocabulary-sized frame (≤ max_vocab, or
    # the distinct tokens surviving min_df) — a single-partition
    # row_number here is bounded and deterministic; the corpus itself is
    # never globally sorted
    from pyspark.sql import Window

    w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
    return ranked.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long")
    ).select("token_id", "token", "tf", "df")


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int | None = None,
) -> DataFrame:
    """Encode each document's token sequence to vocabulary ids —
    ``(id_col, token_ids array<long>, n_encoded)``.  ``vocab`` is a
    :func:`build_vocab` output (``token``, ``token_id``).  Out-of-vocab
    tokens drop by default or map to ``oov_id``.

    Scale shape: posexplode → broadcast join against the (small by
    construction) vocab → one ``groupBy(doc)`` re-assembly whose order is
    pinned by the token position (``array_sort`` on (pos, id) structs —
    ``collect_list`` alone is not order-stable).  Docs with no in-vocab
    tokens keep an empty array, not a dropped row.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
    ).filter(F.col("token") != "")
    joined = toks.join(
        F.broadcast(vocab.select("token", F.col("token_id").cast("long"))),
        "token",
        "left",
    )
    if oov_id is None:
        joined = joined.filter(F.col("token_id").isNotNull())
    else:
        joined = joined.withColumn(
            "token_id", F.coalesce(F.col("token_id"), F.lit(int(oov_id)).cast("long"))
        )
    enc = joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
            lambda s: s["token_id"],
        ).alias("token_ids")
    )
    return (
        df.select(id_col)
        .join(enc, id_col, "left")
        .withColumn(
            "token_ids",
            F.coalesce(F.col("token_ids"), F.array().cast("array<long>")),
        )
        .withColumn("n_encoded", F.size("token_ids").cast("long"))
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns. Narrow projection — no shuffle."""
    toks = tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace(F.col(text_col), f"[^{_PUNCT_CLASS[1:-1]}]", ""))
    n_upper = F.length(F.regexp_replace(F.col(text_col), "[^A-Z]", ""))
    n_stop = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", n_punct / F.greatest(n_chars, F.lit(1)))
        .withColumn("upper_ratio", n_upper / F.greatest(n_chars, F.lit(1)))
        .withColumn("stopword_hits", n_stop)
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One [0,1] heuristic quality scalar (length + structure signals) —
    the shape of a C4/Gopher-style quality filter stage."""
    toks = tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    mean_tok_len = n_chars / F.greatest(n_tokens, F.lit(1))
    len_ok = F.when((n_chars >= 50) & (n_chars <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    tok_ok = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    has_stop = F.when(
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS["en"]]))) > 0,
        F.lit(1.0),
    ).otherwise(F.lit(0.0))
    return df.withColumn(
        "quality", (len_ok + tok_ok + has_stop) / F.lit(3.0)
    )


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: CJK codepoint presence ⇒ zh; otherwise argmax
    of per-language stopword hits (ties resolve in en,de,fr,es order)."""
    toks = tokens(text_col)
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }
    n_cjk = F.length(F.regexp_replace(F.col(text_col), "[^一-鿿]", ""))
    best = F.greatest(*hits.values())
    pred = (
        F.when(n_cjk > 0, F.lit("zh"))
        .when(best == F.lit(0), F.lit("unknown"))
        .when(hits["en"] == best, F.lit("en"))
        .when(hits["de"] == best, F.lit("de"))
        .when(hits["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return df.withColumn(out_col, pred)


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 8,
                out_col: str = "fp") -> DataFrame:
    """md5 over the first ``k`` normalized tokens — a cheap, deterministic
    head-fingerprint for candidate-level dedup keys."""
    head = F.concat_ws(" ", F.slice(tokens(text_col), 1, k))
    return df.withColumn(out_col, F.md5(head))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals — the filters that catch boilerplate
    and degenerate generations:

    - ``dup_token_fraction``: 1 − distinct/total tokens.
    - ``top_bigram_fraction``: share of all bigrams taken by the most
      frequent one.

    The token fraction is a pure expression (single ``array_distinct``
    pass).  The bigram mode is explode → two-level groupBy — a per-element
    nested-HOF frequency scan would re-evaluate the tokenizer per distinct
    bigram (the O(n²) interpreted-lambda trap), and the aggregation shape
    also holds for book-length documents.  One shuffle on (id, bigram).
    """
    toks = tokens(text_col)
    n = F.size(toks)
    dup_frac = F.when(n > 0, 1.0 - F.size(F.array_distinct(toks)) / n).otherwise(0.0)
    n2 = F.size(toks) - 1
    z = F.arrays_zip(F.slice(toks, 1, n2), F.slice(toks, 2, n2))
    bigrams = F.when(
        n < 2, F.array().cast("array<struct<`0`:string,`1`:string>>")
    ).otherwise(z)
    posting = df.select(
        F.col(id_col).alias("__id"), F.explode(bigrams).alias("__z")
    ).select("__id", F.concat_ws(" ", "__z.0", "__z.1").alias("__bg"))
    top = (
        posting.groupBy("__id", "__bg")
        .agg(F.count("*").alias("__c"))
        .groupBy("__id")
        .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__total"))
        .select(
            "__id", (F.col("__top") / F.col("__total")).alias("top_bigram_fraction")
        )
    )
    out = df.withColumn("dup_token_fraction", dup_frac)
    return out.join(
        top, out[id_col] == top["__id"], "left"
    ).withColumn(
        "top_bigram_fraction", F.coalesce("top_bigram_fraction", F.lit(0.0))
    ).drop("__id")


def token_count(df: DataFrame, text_col: str = "text",
                out_col: str = "n_subwords") -> DataFrame:
    """BPE-ish token-count estimate: split on whitespace AND on transitions
    between letters/digits/other — approximates subword segmentation without
    a vocab file (the real tokenizer would be a Pandas UDF stage)."""
    pieces = F.split(
        F.trim(F.col(text_col)),
        r"\s+|(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])",
    )
    return df.withColumn(out_col, F.size(pieces))


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punct: bool = False,
) -> DataFrame:
    """Canonical text normalization — the first stage of almost every
    training-data pipeline (dedup keys, tokenizer input, quality filters
    all want a canonical form).

    Steps (each toggleable): lowercase → optional punctuation strip →
    whitespace collapse (any run of space/tab/newline/CR/FF becomes one
    space) + trim.  The whitespace class is spelled explicitly
    (``[ \\t\\n\\r\\f]``) rather than ``\\s`` because regex flavors
    disagree on ``\\s`` membership (Java includes ``\\x0B``, RE2 does
    not) — explicit classes keep the operator reproducible across
    engines.

    Scale shape: narrow projection, zero shuffle, whole-stage codegen.
    """
    c: Column = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    if strip_punct:
        c = F.regexp_replace(c, _PUNCT_CLASS, "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, "[ \t\n\r\f]+", " "))
    return df.withColumn(out_col, c)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 200,
    stride: int = 150,
    out_col: str = "chunk_text",
) -> DataFrame:
    """Split documents into overlapping character-window chunks — the
    context-window packing prep step (embedding models and retrieval
    indexes both want bounded-size pieces with overlap so no boundary
    sentence is lost).

    One output row per chunk: ``(id_col, chunk_idx, out_col,
    chunk_len)``; ``chunk_idx`` is 0-based; chunk *i* covers characters
    ``[i*stride, i*stride + size)``.  ``stride < size`` gives
    ``size - stride`` characters of overlap.  Empty documents produce a
    single empty chunk (row-preserving for audits; filter
    ``chunk_len > 0`` to drop).

    Scale shape: ``posexplode(sequence(...))`` — a narrow per-row
    fan-out with no shuffle and no Python; the expansion factor is
    ``ceil(len/stride)``, bounded per-row, so partition sizes grow by a
    constant factor and executor memory never sees the whole document
    set.  Token-window chunking is this same shape over
    ``tokens(text)`` + ``slice``.
    """
    if size < 1 or stride < 1:
        raise ValueError("chunk_documents: size and stride must be >= 1")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(F.col(text_col)), F.lit(1)), F.lit(stride)
    )
    exploded = df.select(
        F.col(id_col),
        F.col(text_col),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    chunk = F.col(text_col).substr(F.col("__start"), F.lit(size))
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        chunk.alias(out_col),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's own
    unigram distribution — the cheap perplexity-style quality signal
    (CCNet-style pipelines use an LM score to rank crawl text; a corpus
    self-model needs no external artifact and already separates
    natural-language from boilerplate/noise).

    Model: ``p(t) = (count(t) + s) / (total + s·V)`` (add-``s``
    smoothing over the corpus vocabulary); score = mean ``ln p(t)`` over
    the document's tokens.  Documents with no tokens are excluded.
    Scores are rounded (default 4 decimals) so results are reproducible
    across engines — ``ln`` can differ in the last ulp between libm
    implementations, and an unrounded mean would leak that dust.

    Scale shape: explode → one ``groupBy(token)`` for exact counts (hash
    shuffle, map-side combined); the total/vocab-size scalars come from a
    1-row aggregate cross-joined back (no driver collect); the
    vocabulary-sized logprob table broadcast-joins to the token stream;
    one final ``groupBy(doc)``.  Two shuffles total on the token stream,
    both map-side combinable.  At 100 TB cap the vocabulary with a
    ``min_count`` filter + OOV bucket if the broadcast outgrows
    executors.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("__cnt"))
    totals = counts.agg(
        F.sum("__cnt").alias("__total"), F.count("*").alias("__v")
    )
    logp = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.log(
            (F.col("__cnt").cast("double") + F.lit(float(smoothing)))
            / (
                F.col("__total").cast("double")
                + F.lit(float(smoothing)) * F.col("__v").cast("double")
            )
        ).alias("__logp"),
    )
    return (
        toks.join(F.broadcast(logp), "token")
        .groupBy(id_col)
        .agg(
            F.round(F.avg("__logp"), round_digits).alias("avg_logprob"),
            F.count("*").alias("n_scored"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document average CONDITIONAL log-probability ``ln p(w_i |
    w_{i-1})`` under the corpus's own bigram model — one step up from
    :func:`lm_score`'s unigram signal: repeated stock phrases score high,
    word salad that happens to use common words scores low, which is
    exactly the split a quality-ranking pipeline wants.

    Model: ``p(w2|w1) = (c(w1,w2) + s) / (c(w1) + s·V)`` with context
    counts derived FROM the bigram table (``c(w1) = Σ_w2 c(w1,w2)``, so
    the model is self-consistent at document edges) and ``V`` = corpus
    unigram vocabulary.  Documents with fewer than two tokens are
    excluded; scores rounded like :func:`lm_score` (libm ulp).

    Scale shape: bigrams are built ARRAY-SIDE (``zip_with`` of the two
    token-array slices — zero shuffle, no window/lag pass over the token
    stream) then exploded once; one ``groupBy(w1,w2)`` for exact counts
    (map-side combined), context counts re-aggregated from that
    bigram-vocab-sized table (not the stream), scalars via a 1-row
    broadcast crossJoin, the logprob table broadcast back onto the
    bigram stream, one final ``groupBy(doc)``.  Two token-stream
    shuffles total — identical contract to ``lm_score``; cap the model
    with a ``min_count`` + OOV bucket if bigram vocab outgrows the
    broadcast at 100 TB.
    """
    arr = tokens(text_col)
    big = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
                F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("__bg"),
    ).select(
        F.col(id_col), F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2")
    ).filter((F.col("__w1") != "") & (F.col("__w2") != ""))
    bcounts = big.groupBy("__w1", "__w2").agg(F.count("*").alias("__c12"))
    ccounts = bcounts.groupBy("__w1").agg(F.sum("__c12").alias("__c1"))
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("__t"))
        .filter(F.col("__t") != "")
        .agg(F.countDistinct("__t").alias("__v"))
    )
    logp = (
        bcounts.join(F.broadcast(ccounts), "__w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__w1",
            "__w2",
            F.log(
                (F.col("__c12").cast("double") + F.lit(float(smoothing)))
                / (
                    F.col("__c1").cast("double")
                    + F.lit(float(smoothing)) * F.col("__v").cast("double")
                )
            ).alias("__logp"),
        )
    )
    return (
        big.join(F.broadcast(logp), ["__w1", "__w2"])
        .groupBy(id_col)
        .agg(
            F.round(F.avg("__logp"), round_digits).alias("avg_logprob2"),
            F.count("*").alias("n_scored"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the per-doc keyword/topic
    signal pipelines use for clustering previews, domain tagging, and
    quick relevance filters.

    Scoring: ``tf * ln(N / df)`` with exact corpus counts (``tf`` = the
    term's count IN the document, ``df`` = docs containing it, ``N`` =
    corpus size).  Ties (same score within a doc) break by token string —
    fully deterministic output.  Returns ``(id, token, tf, df,
    tfidf DOUBLE, term_rank)``, ``term_rank`` 1-based.

    Scale shape: explode → one ``groupBy(id, token)`` for per-doc tf (one
    hash shuffle, map-side combined) → token-level ``df`` computed by
    re-aggregating THAT result (ids-free, vocabulary-sized output) and
    broadcast back — the corpus text moves through exactly one exchange;
    the per-doc top-k is a window over (id) on the already-aggregated
    (id, token) frame, partitioned by the same key the tf aggregation
    hashed on, so AQE plans it shuffle-free after the first exchange.
    """
    from pyspark.sql import Window

    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n")).first()["n"]
    exploded = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = exploded.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    # rank on the ROUNDED score: ln() can differ by an ulp across engines
    # (JVM vs any external replayer), and ranking on the raw double would
    # let such dust reorder mathematically-tied scores — 6 decimals is far
    # above ulp noise and far below any meaningful score difference
    scored = tf.join(F.broadcast(dfreq), "token").withColumn(
        "tfidf",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
            6,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "token", "tf", "df", "tfidf", "term_rank")
    )


def boilerplate_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document boilerplate detection: for every document, the
    fraction of its distinct word ``n``-gram shingles that occur in at
    least ``min_df`` documents corpus-wide (headers, footers, nav bars,
    license blurbs score high).  Returns ``(id, n_shingles, n_common,
    boilerplate_ratio)``; documents shorter than ``n`` tokens are absent.

    The C4/RefinedWeb-style curation signal: filter or down-weight rows
    with a high ratio before training.

    Scale shape: the shingle never leaves an executor as a string — the
    corpus-wide document-frequency table is built over 8-byte
    ``xxhash64`` shingle hashes (explode → ONE hash-partial-aggregated
    shuffle), rejoined on the same 8-byte key, and folded back to one
    row per document (one further shuffle on the id).  No self-join, no
    pair blow-up: cost is linear in total shingle count.
    """
    from .dedup import ngram_shingle_hashes

    sh = df.select(
        F.col(id_col),
        F.explode(ngram_shingle_hashes(text_col, n)).alias("sh"),
    )
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "sh")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") >= min_df).cast("long")).alias("n_common"),
            F.round(
                F.sum((F.col("df") >= min_df).cast("long"))
                / F.count("*"),
                6,
            ).alias("boilerplate_ratio"),
        )
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_words: int = 100_000,
    end_of_word: str = "</w>",
) -> DataFrame:
    """Train a byte-pair-encoding merge table on the corpus — the real
    subword-tokenizer training loop, not a stub.  Returns
    ``(rank, left, right)``: the ordered merge rules ``bpe_encode``
    applies.

    Distribution shape (the standard one every BPE trainer uses): the
    CORPUS-sized work — tokenize + word-frequency count — is one Spark
    shuffle producing the word-frequency dictionary, which is
    vocabulary-sized, NOT corpus-sized; training then iterates over that
    dictionary on the driver (bounded by ``max_words``, kept by
    frequency with a deterministic tie-break).  At 100 TB the corpus
    scan dominates and distributes; the merge loop's input is the same
    few-hundred-k-row dict it would be at 1 GB.

    Determinism: pair selection breaks count ties lexicographically, so
    the merge table is identical across runs/partitionings.
    """
    if num_merges < 1:
        raise ValueError("train_bpe: num_merges must be >= 1")
    words = (
        df.select(
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(max_words)
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in words.collect():
        vocab[tuple(r["w"]) + (end_of_word,)] = int(r["freq"])

    merges: list[tuple[int, str, str]] = []
    for rank in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + freq
        if not pair_counts:
            break
        # deterministic: max count, then lexicographically smallest pair
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        if pair_counts[best] < 2:
            break  # nothing repeats: further merges are memorization
        merges.append((rank, best[0], best[1]))
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, freq in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == best[0]
                        and syms[i + 1] == best[1]):
                    out.append(merged)
                    i += 2  # left-to-right, non-overlapping
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab

    spark = df.sparkSession
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    schema = StructType([
        StructField("rank", IntegerType()),
        StructField("left", StringType()),
        StructField("right", StringType()),
    ])
    return spark.createDataFrame(merges, schema)


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    merges: "DataFrame | list[tuple[int, str, str]]" = None,
    out_col: str = "bpe_tokens",
    end_of_word: str = "</w>",
) -> DataFrame:
    """Encode text with a trained BPE merge table: appends ``out_col``
    (the subword token array) and ``n_bpe_tokens``.

    Scale shape: the merge table is tiny and ships to every task inside
    the Arrow-batched ``mapInPandas`` closure (broadcast-by-construction,
    no join, no shuffle); within a batch, word → tokens results are
    memoized, so the per-row cost is driven by DISTINCT words per batch
    (Zipf makes that a fraction of the token count).  Encoding is the
    standard greedy loop: repeatedly apply the lowest-rank applicable
    merge, left-to-right non-overlapping — byte-identical to the
    training-side segmentation.
    """
    if merges is None:
        raise ValueError("bpe_encode: merges table required")
    if isinstance(merges, DataFrame):
        rules = [(int(r["rank"]), r["left"], r["right"])
                 for r in merges.collect()]
    else:
        rules = [(int(a), b, c) for a, b, c in merges]
    rank_of = {(l, r): k for k, l, r in sorted(rules)}

    import pandas as pd

    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    out_fields = df.schema.fields + [
        StructField(out_col, ArrayType(StringType())),
        StructField("n_bpe_tokens", LongType()),
    ]
    schema = StructType(out_fields)

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word) + [end_of_word]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                rk = rank_of.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best_rank, best_i = rk, i
            if best_rank is None:
                break
            l, r = syms[best_i], syms[best_i + 1]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    def encode(batches):
        import re

        # ASCII \s+, NOT Python's Unicode default: training tokenizes
        # with the JVM regex \s+ (ASCII-only), so a Unicode-aware split
        # here would shred e.g. NBSP-joined words into pieces the
        # trained vocabulary never saw — the segmentation must be
        # byte-identical to the training side
        ws = re.compile(r"\s+", re.ASCII)
        for pdf in batches:
            cache: dict = {}
            toks, counts = [], []
            for text in pdf[text_col]:
                if text is None:
                    toks.append(None)
                    counts.append(None)
                    continue
                words = [w for w in ws.split(str(text).strip().lower()) if w]
                enc = []
                for w in words:
                    enc.extend(encode_word(w, cache))
                toks.append(enc)
                counts.append(len(enc))
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(toks, index=pdf.index, dtype="object")
            pdf["n_bpe_tokens"] = pd.Series(counts, index=pdf.index,
                                            dtype="object")
            yield pdf

    return df.mapInPandas(encode, schema)


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    out_col: str | None = None,
    count_col: str = "n_lines_removed",
) -> DataFrame:
    """Within-document duplicate-line removal (the Gopher/RefinedWeb
    repetition rule): split on ``sep``, keep only the FIRST occurrence
    of each exact line (order preserved), rejoin, and report how many
    lines were dropped.  Boilerplate headers/footers repeated inside one
    page vanish without touching cross-document content.

    Scale shape: ZERO shuffle — a pure projection.  First-occurrence
    dedup IS ``array_distinct`` (it keeps elements in first-encounter
    order), which runs one hash pass per document instead of the
    O(lines²) filter-with-index-lambda formulation — and, worse than
    the quadratic compares, a lambda body that references the ``split``
    expression re-evaluates the regex split PER ELEMENT (the
    ``ngram_shingles`` trap), turning this into O(lines²·chars) regex
    work per document.  One split, one hash pass.
    """
    out_col = out_col or text_col
    # F.split takes a REGEX but array_join uses sep literally — quote the
    # separator (Java \Q...\E, with embedded \E handled like
    # Pattern.quote) so '|' or '.' split literally instead of shredding
    # the text character-by-character
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    arr = F.split(F.col(text_col), quoted)
    kept = F.array_distinct(arr)
    return df.withColumn(
        count_col, (F.size(arr) - F.size(kept)).cast("long")
    ).withColumn(out_col, F.array_join(kept, sep))


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_docs: int = 1,
    keep: str = "none",
    out_col: str | None = None,
    count_col: str = "n_paras_removed",
) -> DataFrame:
    """CROSS-document paragraph dedup (the CCNet/RefinedWeb boilerplate
    rule, complementing :func:`dedup_lines`' within-document pass): any
    paragraph that appears in more than ``max_docs`` DISTINCT documents
    is removed from every document that contains it (``keep="none"``,
    the CCNet rule) or from every document EXCEPT the lowest-id one
    (``keep="first"``, the RefinedWeb rule — one canonical copy of the
    passage survives the corpus) — repeated site
    chrome, cookie banners, and licence footers vanish corpus-wide while
    genuinely unique prose is untouched.  Paragraph order is preserved;
    per-document ``count_col`` reports how many paragraphs were dropped;
    documents whose every paragraph is boilerplate survive with empty
    text (the caller decides whether to gate them out).  ``id_col`` must
    uniquely identify rows — duplicate ids would merge their paragraph
    streams at reassembly.

    Scale shape: posexplode → ONE count-distinct aggregation keyed on
    the paragraph text (map-side combined; the shuffle carries each
    distinct paragraph once per partition, not per occurrence) → a
    LEFT-ANTI join of the exploded table against the hot set — the hot
    side is duplicated-paragraphs only, tiny relative to the corpus, so
    AQE broadcasts it — → one groupBy(id) reassembly shuffle of the
    kept paragraphs.  Nothing is ever joined all-pairs, and the full
    corpus is shuffled exactly twice (explode-group + reassembly), both
    times keyed so a hot paragraph cannot concentrate into one task
    (the count-distinct key IS the paragraph).
    """
    if keep not in ("none", "first"):
        raise ValueError(f"dedup_paragraphs: keep must be none|first, got {keep!r}")
    out_col = out_col or text_col
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    # three consumers (hot-set agg, kept join, totals agg): persist so
    # the corpus split+explode runs once, not three times (same rule as
    # ngram_jaccard_pairs' posting list)
    parts = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), quoted)).alias("__pos", "__para"),
    )
    parts = pin(parts)
    hot = (
        parts.groupBy("__para")
        .agg(
            F.countDistinct("__id").alias("__nd"),
            F.min("__id").alias("__first"),
        )
        .filter(F.col("__nd") > max_docs)
        .select("__para", "__first")
    )
    if keep == "first":
        # left join + survive when not hot OR this is the canonical copy
        kept = (
            parts.join(hot, "__para", "left")
            .filter(F.col("__first").isNull() | (F.col("__id") == F.col("__first")))
            .select("__id", "__pos", "__para")
        )
    else:
        kept = parts.join(hot.select("__para"), "__para", "left_anti")
    rebuilt = (
        kept.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("__rebuilt"),
            F.count("*").alias("__n_kept"),
        )
    )
    totals = parts.groupBy("__id").agg(F.count("*").alias("__n_paras"))
    joined = (
        df.join(totals, F.col(id_col) == totals["__id"], "left")
        .drop("__id")
        .join(rebuilt, F.col(id_col) == rebuilt["__id"], "left")
        .drop("__id")
    )
    return joined.select(
        *df.columns, "__rebuilt", "__n_kept", "__n_paras"
    ).withColumns(
        {
            out_col: F.when(
                F.col(text_col).isNotNull(),
                F.coalesce(F.col("__rebuilt"), F.lit("")),
            ),
            count_col: (
                F.coalesce(F.col("__n_paras"), F.lit(0))
                - F.coalesce(F.col("__n_kept"), F.lit(0))
            ).cast("long"),
        }
    ).drop("__rebuilt", "__n_kept", "__n_paras")


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "char_entropy",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document character-distribution Shannon entropy (bits) — the
    classic gibberish/boilerplate signal: natural language sits around
    4–4.5 bits, single-character spam near 0, random base64 near 6.
    Empty/NULL text reports NULL.

    Scale shape: explode characters → one (id, char) count shuffle
    (map-side combined; cardinality ≤ |doc| × |alphabet|) → one (id)
    rollup computing ``−Σ (c/n)·log2(c/n)`` from exact integer counts.
    The only float ops are the final log/divide on those exact counts —
    cross-engine stable under round().
    """
    chars = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("__c"))
        .filter(F.col("__c") != "")
        .groupBy(id_col, "__c")
        .agg(F.count("*").alias("__n"))
    )
    per_doc = chars.groupBy(id_col).agg(
        F.sum("__n").alias("__total"),
        F.sum(F.col("__n") * F.log2("__n")).alias("__nlogn"),
    )
    # −Σ (c/n)·log2(c/n) = log2(n) − (Σ c·log2 c)/n : one pass, no
    # per-char division
    ent = F.round(
        F.log2("__total") - F.col("__nlogn") / F.col("__total"), round_digits
    )
    scored = per_doc.select(F.col(id_col), ent.alias(out_col))
    return df.join(scored, id_col, "left")


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_postings: int = 20,
) -> DataFrame:
    """Build a term → posting-list index over the corpus: one row per
    term with its exact document frequency and the first ``max_postings``
    document ids (ascending, comma-joined string — portable across
    engines, unlike raw arrays).

    Output: ``(term, df, postings)``.  ``df`` counts ALL documents
    containing the term; ``postings`` is deliberately CAPPED — at corpus
    scale a stopword's posting list is the corpus itself, and an
    uncapped ``collect_list`` on it is the classic hot-key OOM.  The cap
    runs as a spillable ``row_number`` sort BEFORE any collect, so task
    memory is bounded under arbitrary term skew (same guard contract as
    ``funnel``/``ewma``); the full list is a filtered re-scan away for
    the terms that need it.

    Scale shape: explode → distinct(term, id) → (a) full count agg
    (partial-aggregatable, map-side combine) and (b) capped collect —
    both keyed by term, so the join between them is co-partitioned
    (no third shuffle of the big side).  Tokenization is the same
    lowercase-whitespace rule as :func:`build_vocab` so the index and
    the vocabulary agree on term identity.
    """
    if max_postings < 1:
        raise ValueError("inverted_index: max_postings must be >= 1")
    posting = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    # consumed twice (full df count + capped collect) — pin it
    posting = pin(posting)
    dfreq = (
        posting.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    from pyspark.sql import Window

    wg = Window.partitionBy("term").orderBy("__id")
    capped = (
        posting.withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") <= max_postings)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("__id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings")
        )
    )
    return dfreq.join(capped, "term")


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str = "token",
) -> DataFrame:
    """Per-document vocabulary coverage — the tokenizer-evaluation
    metric a pipeline checks before committing to a vocab: what
    fraction of each document's token OCCURRENCES (and distinct types)
    the vocabulary covers.  Output: ``id, n_tokens, n_covered,
    n_types, n_types_covered`` — exact integers, ratios are the
    caller's division so the result stays engine-portable.

    Shape: explode + ONE broadcast left-semi-style join against the
    vocabulary (vocab tables are ≤ a few 100k rows — always broadcast)
    + one groupBy(id) with map-side combine.  Zero-token documents
    survive with all-zero counts (left join from the doc table).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).filter(F.col("__t") != "")
    v = F.broadcast(vocab.select(F.col(token_col).alias("__t")).distinct()
                    .withColumn("__in", F.lit(1)))
    marked = toks.join(v, "__t", "left")
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.coalesce("__in", F.lit(0))).alias("n_covered"),
        F.count_distinct("__t").alias("n_types"),
        F.count_distinct(F.when(F.col("__in") == 1, F.col("__t")))
        .alias("n_types_covered"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                for c in ("n_tokens", "n_covered", "n_types",
                          "n_types_covered")
            ],
        )
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Ranked retrieval: top-``k`` documents per query under Lucene-style
    BM25 — the standard lexical-relevance scorer corpus pipelines use for
    decontamination probes, eval-set retrieval, and seed expansion.

    Scoring per (query, doc): ``sum over shared terms of
    idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`` with
    ``idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)`` (the Lucene
    non-negative variant).  ``N`` counts documents with at least one
    token — empty/NULL-text docs can never match and are invisible to a
    posting table, so this is the only definition under which the
    direct path, :func:`bm25_topk_indexed`, and a postings-derived SQL
    oracle all agree.  Query term multiplicity is ignored (distinct
    query terms, qtf = 1, as Lucene does).  Scores are ROUNDED to 6
    decimals before ranking — ``ln`` can differ by an ulp across engines
    and per-(q,d) sum order is nondeterministic, so the raw double would
    let dust reorder mathematically-tied scores (same contract as
    :func:`tfidf_top_terms`); rank ties break by ascending doc id.
    Returns ``(query_id, doc_id, score DOUBLE, rank)``, rank 1-based.

    Scale shape: the corpus text moves through ONE exchange — explode →
    ``groupBy(id, token)`` for tf; doc length and the vocabulary df both
    re-aggregate THAT frame (tf-sized and vocab-sized respectively, never
    the corpus), and df is broadcast back.  The query set is human-sized
    and broadcast, so the match join is map-side; the matched frame is
    ``sum over query terms of df(t)`` rows, NOT corpus x queries.  The
    per-query top-k is a window on the (q, d)-aggregated frame.  The one
    genuine 100 TB hazard is a stopword query term whose posting list IS
    the corpus — ``max_df_ratio`` drops query terms with
    ``df/N > ratio`` before the match join (the poor man's WAND; Lucene
    solves the same blow-up with impact-ordered skipping), at the cost of
    ignoring those terms' (near-zero-idf) contributions.

    Reference has no search surface (src/DBT.php — none); extension tier
    alongside ``inverted_index``/``tfidf_top_terms``.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("bm25_topk: k must be >= 1")
    exploded = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = exploded.groupBy("__id", "token").agg(F.count("*").alias("tf"))
    tf = pin(tf)  # consumed three times: dl, df, and the match join
    dl = tf.groupBy("__id").agg(F.sum("tf").alias("dl"))
    # N and avgdl both come from the dl frame — docs with >= 1 token —
    # EXACTLY as bm25_topk_indexed derives them from the posting table
    # (empty/NULL-text docs carry no postings there either), so the two
    # paths and the SQL oracle agree on any corpus.  dl values are
    # integral, so sum/count are exact in double and avgdl is
    # reproducible regardless of aggregation order.
    row = dl.select(
        F.sum("dl").alias("s"), F.count("*").alias("c")
    ).first()
    n_docs = int(row["c"] or 0)
    if not n_docs:
        raise ValueError("bm25_topk: empty corpus")
    avgdl = float(row["s"]) / float(n_docs)
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    if max_df_ratio is not None:
        dfreq = dfreq.filter(
            F.col("df") <= float(max_df_ratio) * float(n_docs)
        )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.explode(tokens(query_text_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = idf * (
        F.col("tf").cast("double") * F.lit(k1 + 1.0)
    ) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    matched = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(dfreq), "token")
        .join(dl, "__id")
    )
    scored = matched.groupBy("__qid", "__id").agg(
        F.round(F.sum(contrib), 6).alias("score")
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("score").desc(), F.col("__id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__id").alias(id_col),
            "score",
            "rank",
        )
    )


def bm25_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the BM25 posting table — ``(token, doc id, tf, dl)``
    — so retrieval can run from the index WITHOUT re-tokenizing the
    corpus: tokenize/aggregate once (the expensive, corpus-sized pass),
    write this frame to the catalog, and serve every later query batch
    through :func:`bm25_topk_indexed`.  At 100 TB the text scan +
    explode dominates :func:`bm25_topk`; everything
    :func:`bm25_topk_indexed` derives from this table (document count,
    average length, per-term df) is posting- or vocabulary-sized.

    One corpus exchange (the tf aggregation); ``dl`` attaches by
    re-aggregating the tf frame, never the corpus.
    """
    exploded = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = exploded.groupBy("__id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("__id").agg(F.sum("tf").alias("dl"))
    return (
        tf.join(dl, "__id")
        .select("token", F.col("__id").alias(id_col), "tf", "dl")
    )


def bm25_index_update(
    index: DataFrame,
    add_docs: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incrementally maintain a :func:`bm25_index` posting table —
    the index-freshness story for a corpus the dedup pipeline keeps
    mutating: new documents arrive (append), near-dups get dropped
    (delete), re-crawled documents change text (upsert = both).

    Returns the updated posting frame: ``delete_ids`` (a 1-column frame
    of doc ids) anti-joins matching postings out; ``add_docs`` rows are
    tokenized through :func:`bm25_index` and unioned in — ids present
    in ``add_docs`` are ALSO anti-joined out first, so re-adding a doc
    replaces its postings instead of double-counting them.  The result
    is EXACTLY ``bm25_index(final corpus)`` (parity pinned in tests):
    every statistic :func:`bm25_topk_indexed` serves — N, avgdl, df —
    is derived from the posting table itself, so no side metadata can
    go stale; scores after an update equal a full rebuild's to the
    last bit.

    Scale shape: the stored index never re-tokenizes — deletes are one
    posting-sized anti-join against a (typically small, broadcastable)
    id set, and only ``add_docs``' text pays the corpus-pass cost.  At
    100 TB this is the whole point: a 0.1% daily delta costs 0.1% of a
    rebuild.  Write the result back via the catalog's staged swap for
    the same atomicity the gates use.
    """
    out = index
    cuts = []
    if delete_ids is not None:
        # accept either a frame carrying id_col or a single-column id
        # frame under any name; anything else is ambiguous — refuse
        # rather than silently anti-join on the wrong column
        if id_col in delete_ids.columns:
            key = id_col
        elif len(delete_ids.columns) == 1:
            key = delete_ids.columns[0]
        else:
            raise ValueError(
                f"bm25_index_update: delete_ids must carry {id_col!r} or "
                f"be a single id column, got {delete_ids.columns}"
            )
        cuts.append(delete_ids.select(F.col(key).alias(id_col)).distinct())
    if add_docs is not None:
        cuts.append(add_docs.select(F.col(id_col)).distinct())
    if not cuts:
        raise ValueError(
            "bm25_index_update: pass add_docs and/or delete_ids"
        )
    gone = cuts[0]
    for c in cuts[1:]:
        gone = gone.unionByName(c)
    # no forced broadcast: a bulk delete (the gate_maintain force_retrain
    # use case) can exceed the broadcast limit / driver memory — let AQE
    # pick the join strategy from the id set's actual runtime size; small
    # deltas still become broadcast joins at runtime (ADVICE r9)
    out = out.join(gone.distinct(), id_col, "left_anti")
    if add_docs is not None:
        fresh = bm25_index(add_docs, id_col, text_col)
        # indexes written by streaming sinks carry extra bookkeeping
        # columns (e.g. __commit replay markers) — preserve the stored
        # schema, NULL-filling what a batch tokenize cannot know (a NULL
        # marker can never collide with a real replay marker)
        dtypes = dict(out.dtypes)
        for c in out.columns:
            if c not in fresh.columns:
                fresh = fresh.withColumn(c, F.lit(None).cast(dtypes[c]))
        out = out.unionByName(fresh.select(*out.columns))
    return out.select(*index.columns)


def bm25_index_stats(
    index: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a :func:`bm25_index` posting table's scoring
    statistics — ``(token, df, n_docs, avgdl, sum_dl, n_postings)``, one
    row per vocabulary term with the corpus scalars repeated as constant
    columns — so :func:`bm25_topk_indexed` can serve WITHOUT its
    per-batch full-index re-aggregation (``stats=``).  At 100 TB this is
    the difference between "every query batch scans the whole posting
    table for N/avgdl/df" and "query batches read only the postings
    their terms touch": write this (vocabulary-sized) frame to the
    catalog next to the index and refresh it when the index mutates —
    :func:`bm25_index_update` + rebuild stats (both cheap relative to
    the corpus), or let :func:`~...streaming.bm25_sink.stream_bm25_sink`
    maintain it per batch (``stats_table=``).

    Freshness (round 10): ``n_postings`` (the index's posting-row
    count, metadata-cheap to re-derive from a stored parquet table) and
    ``sum_dl`` (exact integral total document length, so merged stats
    stay bit-identical to a rebuild) let the serve path DETECT stale
    stats instead of silently degrading idf —
    :func:`bm25_topk_indexed` compares ``n_postings`` to the live index
    and raises (or warns under ``allow_stale=True``) on mismatch.
    """
    tf = index.select(F.col(id_col).alias("__id"), "token", "dl")
    tf = pin(tf)  # consumed thrice: the scalar row, row count, df agg
    row = tf.select("__id", "dl").distinct().select(
        F.count("*").alias("c"), F.sum("dl").alias("s")
    ).first()
    n_docs = int(row["c"])
    if not n_docs:
        raise ValueError("bm25_index_stats: empty index")
    sum_dl = int(row["s"])
    avgdl = float(sum_dl) / float(n_docs)
    n_postings = tf.count()
    return (
        tf.groupBy("token").agg(F.count("*").alias("df"))
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .withColumn("avgdl", F.lit(avgdl))
        .withColumn("sum_dl", F.lit(sum_dl).cast("long"))
        .withColumn("n_postings", F.lit(n_postings).cast("long"))
    )


def bm25_index_layout(
    catalog,
    index_table: str,
    files: int = 16,
) -> int:
    """Rewrite a stored :func:`bm25_index` posting table into the
    token-range-sorted parquet layout the ``stats=`` serving mode's
    file skipping assumes — ``files`` range partitions on ``token``,
    rows sorted by token within each, committed via the catalog's
    staged swap (readers see the old or the new layout, never a torn
    one).  Returns the data-file count after the rewrite.

    Why it matters at 100 TB: :func:`bm25_topk_indexed` with ``stats=``
    prunes the index scan to the query terms with a literal
    ``token IN (...)`` filter; on a token-range layout the parquet
    min/max footers turn that into real file skipping (SCALE.md round 9
    measured 1 of 16 files touched) — but until this helper existed the
    user had to produce that layout by hand.  An append-heavy index
    (``stream_bm25_sink``) re-fragments over time; re-run this
    out-of-band, like ``gate_maintain`` compaction.  Rows, columns and
    served scores are unchanged (pinned in tests).

    Concurrency: runs under the catalog's per-table writer lock when
    one exists (``VersionedCatalog`` — cross-process since round 10),
    so a live ``stream_bm25_sink`` append can never land between this
    rewrite's read and its commit and be clobbered — the same contract
    as ``gate_maintain``.  On lock-less catalogs schedule it between
    ingest runs.  The file count walks the table through the Hadoop
    FileSystem API, so it is correct for any storage scheme, not just
    local paths.
    """
    if files < 1:
        raise ValueError("bm25_index_layout: files must be >= 1")
    if not hasattr(catalog, "path"):
        raise ValueError(
            "bm25_index_layout: needs a file catalog (the layout is a "
            f"parquet property); {type(catalog).__name__} has no path()"
        )
    with catalog.writer_lock(index_table):
        idx = catalog.read(index_table)
        laid = idx.repartitionByRange(files, "token").sortWithinPartitions(
            "token")
        catalog.write_staged(laid, index_table)
        catalog.commit_staged(index_table)
        root = catalog.path(index_table)
        jvm = catalog.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(root)
        fs = p.getFileSystem(catalog.spark._jsc.hadoopConfiguration())
        it = fs.listFiles(p, True)
        n = 0
        while it.hasNext():
            name = it.next().getPath().getName()
            if not name.startswith(("_", ".")):
                n += 1
        return n


#: stats-mode batches of up to this many distinct ``(query id, token)``
#: pairs are collected to the driver and inlined as literals: the
#: ``token IN (...)`` filter parquet file skipping needs, plus the df and
#: query-id lookups that replace both broadcast joins.  Past it, up to
#: this many distinct tokens still inline as ``IN`` literals beside
#: broadcast joins; a larger term set keeps a semi-join plan so the
#: driver never collects an unbounded set (ADVICE r9)
_STATS_QTERM_CAP = 2048

#: a bounded stats-mode batch over an index of at most this many posting
#: rows (the live count the staleness guard takes) is scored in ONE
#: partition: the token-pruned scan is coalesced, so the groupBy and the
#: rank window need no exchange and the serving action is a single job.
#: The bound is on the whole index, not on Σ df of the query terms:
#: coalescing runs the whole upstream scan in one task, and an index
#: without a token-range layout skips no file for the pushed ``IN``.
#: ``tools/bm25_local_scale.py`` on a 4-core host, 20-query batch: one
#: partition 0.78 vs 0.83 s wide at 116k postings, even at 232k, slower
#: from 465k (1.24 vs 1.10 s; 1.97 vs 1.31 s at 1.16M)
_STATS_LOCAL_POSTINGS = 200_000


def bm25_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    max_df_ratio: float | None = None,
    stats: DataFrame | None = None,
    allow_stale: bool = False,
) -> DataFrame:
    """Serve BM25 top-``k`` from a :func:`bm25_index` posting table —
    same scoring contract and output schema as :func:`bm25_topk`
    (6-decimal rounding before ranking, doc-id tiebreak), identical
    results on the same corpus (pinned in tests), but the corpus text
    is never touched: N and avgdl come from the distinct (id, dl)
    pairs of the index, df from a vocabulary-sized re-aggregation, and
    the match join is bounded by Σ df(query terms) as before.

    ``stats`` (round 9): a :func:`bm25_index_stats` frame.  When given,
    the per-batch full-index re-aggregations are SKIPPED — N/avgdl/df
    come from the stats table, and the index scan itself is pruned to
    the query terms with a literal ``token IN (...)``, which a
    token-sorted/partitioned parquet layout (:func:`bm25_index_layout`)
    turns into real file skipping.  This is the 100 TB serving mode:
    per batch, the engine reads only postings the queries touch.
    Results are identical to the self-derived path when the stats match
    the index (pinned in tests).

    A batch of up to ``_STATS_QTERM_CAP`` distinct ``(query id, token)``
    pairs is served in this job shape:

    - one scan of ``queries``, collecting those pairs;
    - one collect of the query terms' stats rows (df plus N, avgdl and
      ``n_postings``; a ``first()`` only when no query term is in the
      vocabulary);
    - the staleness ``count()`` below (2 Spark jobs);
    - the scoring plan, where df and the term's query ids are literal
      map lookups instead of joins.  When the live index holds at most
      ``_STATS_LOCAL_POSTINGS`` posting rows the pruned scan is
      coalesced to one partition, so the aggregation and rank window
      need no exchange and the returned frame's action is one job.
      Legacy stats (no ``n_postings``, so no live count) and larger
      indexes keep the wide plan.

    A batch past the pair cap whose distinct terms still fit the cap is
    pruned with the literal ``IN`` and served through broadcast joins.
    A larger term set (``hybrid_retrieve`` passes a whole corpus) is
    never collected: its terms prune the scan and the stats through
    unhinted semi-joins (AQE still broadcasts when the runtime size
    allows), forfeiting only the literal-pushdown file skipping.

    Staleness guard (round 10): when the stats frame carries
    ``n_postings`` it is compared to the live index's posting-row count
    BEFORE serving (an eager ``count()``: 2 Spark jobs per search, even
    on a stored parquet index); a mismatch means the index mutated after
    the stats were derived, and idf would silently degrade.  Default is
    to raise; ``allow_stale=True`` downgrades to a warning (the
    serve-through-a-refresh-window escape hatch).  A mutation that
    preserves the exact posting count escapes this tier — refresh stats
    transactionally with the index (``stream_bm25_sink(stats_table=)``)
    when that matters.  Pre-round-10 stats frames (no ``n_postings``)
    skip the check.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, LongType, MapType, StringType

    if k < 1:
        raise ValueError("bm25_topk_indexed: k must be >= 1")
    tf = index.select(
        F.col(id_col).alias("__id"), "token", "tf", "dl"
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.explode(tokens(query_text_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    qids = None  # bounded stats batch: token -> its query ids
    bounded_q = True  # broadcast hints only while the term set is small
    local = False  # one-partition scoring, only on an index known small
    if stats is not None:
        fresh = "n_postings" in stats.columns
        scalars = ["n_docs", "avgdl", *(["n_postings"] if fresh else [])]
        # the batch's one scan of `queries`, a bounded collect; the
        # distinct's shuffle keeps the scan parallel
        pairs = qterms.limit(_STATS_QTERM_CAP + 1).collect()
        srows = []
        if len(pairs) <= _STATS_QTERM_CAP:
            qids = {}
            for r in pairs:
                qids.setdefault(r["token"], []).append(r["__qid"])
            if qids:
                # every stats row carries the scalars too
                srows = stats.filter(F.col("token").isin(list(qids))).select(
                    "token", "df", *scalars).collect()
        srow = srows[0] if srows else stats.select(*scalars).first()
        if srow is None:
            raise ValueError("bm25_topk_indexed: empty stats table")
        n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"])
        if fresh:
            want = int(srow["n_postings"])
            have = index.count()  # 2 Spark jobs, even on parquet
            local = have <= _STATS_LOCAL_POSTINGS
            if have != want:
                msg = (
                    f"bm25_topk_indexed: stats are STALE — the index has "
                    f"{have} posting rows but the stats were derived from "
                    f"{want}; idf/avgdl would silently degrade.  Rebuild "
                    "with bm25_index_stats(index) (or let stream_bm25_sink"
                    "(stats_table=) maintain them), or pass "
                    "allow_stale=True to serve anyway."
                )
                if not allow_stale:
                    raise ValueError(msg)
                import warnings

                warnings.warn(msg, stacklevel=2)
        if qids is not None:
            dfs = {r["token"]: int(r["df"]) for r in srows}
        else:
            # past the pair cap the distinct terms may still be few:
            # literal IN over them, broadcast joins.  A term set past the
            # cap is never collect()ed — UNHINTED semi-joins instead
            # (forcing a broadcast would materialize the whole set on the
            # driver, the exact failure the cap prevents; AQE still picks
            # a broadcast when the runtime size allows)
            qtok_df = qterms.select("token").distinct()
            qtok = [r["token"]
                    for r in qtok_df.limit(_STATS_QTERM_CAP + 1).collect()]
            if len(qtok) > _STATS_QTERM_CAP:
                bounded_q = False
                dfreq = stats.join(qtok_df, "token", "left_semi").select(
                    "token", "df")
                tf = tf.join(qtok_df, "token", "left_semi")
            else:
                dfreq = stats.select("token", "df").filter(
                    F.col("token").isin(qtok))
                tf = tf.filter(F.col("token").isin(qtok))
    else:
        tf = pin(tf)  # consumed thrice: stats, df, and the match join
        dl = tf.select("__id", "dl").distinct()
        row = dl.select(
            F.count("*").alias("c"), F.sum("dl").alias("s")
        ).first()
        n_docs = int(row["c"])
        if not n_docs:
            raise ValueError("bm25_topk_indexed: empty index")
        avgdl = float(row["s"]) / float(n_docs)
        dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    if max_df_ratio is not None:
        max_df = float(max_df_ratio) * float(n_docs)
        if qids is not None:
            dfs = {t: d for t, d in dfs.items() if d <= max_df}
        else:
            dfreq = dfreq.filter(F.col("df") <= max_df)
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = idf * (
        F.col("tf").cast("double") * F.lit(k1 + 1.0)
    ) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    if qids is not None:
        tf = tf.filter(F.col("token").isin(list(dfs)))
        if local:
            tf = tf.coalesce(1)
        df_of = F.create_map(*(
            c for t, d in dfs.items() for c in (F.lit(t), F.lit(d))
        )).cast(MapType(StringType(), LongType()))
        qids_of = F.create_map(*(
            c for t in dfs
            for c in (F.lit(t), F.array(*map(F.lit, qids[t])))
        )).cast(MapType(StringType(),
                        ArrayType(qterms.schema["__qid"].dataType)))
        matched = tf.select(
            "*", df_of[F.col("token")].alias("df"),
            F.explode(qids_of[F.col("token")]).alias("__qid"),
        )
    else:
        qj = F.broadcast(qterms) if bounded_q else qterms
        dj = F.broadcast(dfreq) if bounded_q else dfreq
        matched = tf.join(qj, "token").join(dj, "token")
    scored = matched.groupBy("__qid", "__id").agg(
        F.round(F.sum(contrib), 6).alias("score"))
    w = Window.partitionBy("__qid").orderBy(
        F.col("score").desc(), F.col("__id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__id").alias(id_col),
            "score",
            "rank",
        )
    )
