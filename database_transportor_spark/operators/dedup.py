"""Deduplication operators for training-data pipelines, Spark-first.

All operators are DataFrame-native (no Python in the hot path) and designed
around *blocking* so nothing is O(N²) at 100 TB:

- :func:`exact_dedup` — hash-groupBy exact dedup; one shuffle on the key.
- :func:`ngram_shingles` — word n-gram shingle sets (distinct).
- :func:`ngram_jaccard_pairs` — **exact** pairwise n-gram Jaccard via an
  inverted shingle index (explode → self-join on shingle → count): only
  documents sharing ≥1 shingle ever meet, so cost is Σ posting-list² per
  shingle, not N².  The classic scalable exact-similarity-join shape.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + banded
  LSH: candidates meet only within a band bucket (shuffle on band hash),
  then exact-Jaccard verification.  The 100 TB near-dup path.
- :func:`simhash` / :func:`simhash_pairs` — 32-bit SimHash over token
  hashes, banded by byte for candidate generation, verified by Hamming
  distance (``bit_count(xor)``).

Hash functions are Spark's ``xxhash64`` with fixed literal salts —
deterministic across runs, executors, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .pins import pin
from .text import tokens

__all__ = [
    "exact_dedup",
    "ngram_shingles",
    "ngram_shingle_hashes",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "drop_contained_docs",
    "dedup_clusters",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "build_lsh_index",
    "query_lsh_index",
    "dedup_keep_best",
    "simhash",
    "simhash_pairs",
    "hamming_pairs",
    "repeated_passages",
    "strip_repeated_passages",
]


def exact_dedup(
    df: DataFrame,
    keys: list[str],
    order_by: str,
    keep: str = "min",
) -> DataFrame:
    """Exact dedup: keep one row per ``keys`` group — the one with the
    min/max ``order_by`` value (deterministic winner).

    Single shuffle on ``keys``.  For very wide keys (full document text),
    group on the text itself: Spark hash-partitions internally, so this is
    already the hash-groupBy pattern; pre-hashing to ``xxhash64(text)`` only
    changes collision semantics, not the shuffle.
    """
    if keep not in ("min", "max"):
        raise ValueError("keep must be 'min' or 'max'")
    # min_by/max_by aggregation, not a row_number window: aggregation gets
    # map-side partial combine (the shuffle carries ≤1 row per key per
    # partition), where a window must shuffle and sort EVERY row.  At 100 TB
    # with text-valued keys that is the difference between a combiner-sized
    # shuffle and moving the whole corpus.
    pick = F.min_by if keep == "min" else F.max_by
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*keys)
        .agg(pick(row, F.col(order_by)).alias("__row"))
        .select("__row.*")
    )


def ngram_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word ``n``-gram shingles of a text column (array<string>).

    ``arrays_zip`` of ``n`` shifted slices, NOT ``transform(sequence, i ->
    slice(toks, i, n))``: in a lambda body each reference to ``toks``
    re-evaluates the tokenizer per *element*, turning shingling into
    O(len²) regex work per document.  The zip formulation evaluates each
    slice once per row and the lambda body touches only the zipped struct.
    """
    toks = tokens(text)
    n0 = F.size(toks) - (n - 1)
    z = F.arrays_zip(*[F.slice(toks, i + 1, n0) for i in range(n)])
    grams = F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    # guard: slice with negative length errors; short docs get [].
    return F.array_distinct(
        F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(grams)
    )


def ngram_shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct ``xxhash64`` word n-gram shingles (array<long>) — the
    shingle *hash* computed straight from per-token hashes, so the shingle
    string never materializes.  One tokenizer pass, one hash per token,
    one 3-long hash per gram; everything downstream (posting lists,
    MinHash, Jaccard verification) only ever needs the hash."""
    toks = tokens(text)
    hs = F.transform(toks, lambda t: F.xxhash64(t))
    n0 = F.size(hs) - (n - 1)
    z = F.arrays_zip(*[F.slice(hs, i + 1, n0) for i in range(n)])
    grams = F.transform(z, lambda s: F.xxhash64(*[s[str(i)] for i in range(n)]))
    return F.array_distinct(
        F.when(F.size(toks) < n, F.array().cast("array<long>")).otherwise(grams)
    )


def _shingle_index_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
    min_partitions: int | None,
) -> DataFrame:
    """Shared scaffold of the exact pair generators
    (:func:`ngram_jaccard_pairs`, :func:`ngram_containment_pairs`):
    hashed-shingle posting list (PINNED — it feeds both self-join
    sides, and under ``max_df`` the df-frequency cap too), optional
    ``max_df`` stop-phrase cap, and the inverted-index intersection
    counts.
    Returns ``inter`` = ``(id_a, id_b, intersection, __na, __nb)`` with
    ``id_a < id_b`` — the per-doc (capped) set sizes are CARRIED on the
    posting rows through the self-join and surface via ``first()`` in
    the pair aggregation.  The previous shape joined a separate sizes
    table onto ``inter`` twice; ``inter`` (every pair sharing ≥1
    shingle, BEFORE any threshold) is the largest intermediate of the
    whole family — with ``max_df`` = d it can reach d/2 × the posting
    row count — so two id-keyed shuffles of it cost far more than the
    8 extra bytes per posting row the carry adds to the self-join
    (guide: remove shuffles outright beats shuffling fewer bytes).
    Without ``max_df`` the size is just ``size(shingles)`` (the array
    is distinct), so the carry is free; with it, one id-keyed join
    attaches the capped counts to the posting before the self-join.
    See :func:`ngram_jaccard_pairs` for the full plan rationale; the
    two measures differ only in the ratio they derive.
    """
    if min_partitions is not None:
        df = df.repartition(min_partitions)
    sh = df.select(
        F.col(id_col).alias("__id"),
        ngram_shingle_hashes(text_col, n).alias("__shingles"),
    )
    if max_df is None:
        posting = pin(sh.select(
            "__id",
            F.size("__shingles").cast("long").alias("__n"),
            F.explode("__shingles").alias("__h"),
        ))
    else:
        posting0 = pin(
            sh.select("__id", F.explode("__shingles").alias("__h"))
        )
        dfreq = posting0.groupBy("__h").agg(F.count("*").alias("__df"))
        capped = posting0.join(
            F.broadcast(dfreq.filter(F.col("__df") > max_df).select("__h")),
            "__h",
            "left_anti",
        )
        sizes = capped.groupBy("__id").agg(F.count("*").alias("__n"))
        posting = pin(capped.join(sizes, "__id"))
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(
            F.count("*").alias("intersection"),
            F.first("a.__n").alias("__na"),
            F.first("b.__n").alias("__nb"),
        )
    )
    return inter


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via inverted shingle index.

    Returns ``(id_a, id_b, intersection, union_size, jaccard)`` for every
    pair with ``jaccard >= threshold`` and ``id_a < id_b``.

    Plan shape at scale: one explode (narrow), one shuffle on shingle for
    the self-join, one shuffle on (id_a, id_b) for the count — no cross
    join anywhere.  ``max_df`` is the knob that keeps it from degenerating:
    shingles appearing in more than ``max_df`` documents (stop-phrases) are
    dropped before the self-join, bounding every posting list — the same
    df-capping every production near-dup pipeline applies.  Jaccard is then
    computed over the capped shingle space on BOTH numerator and
    denominator, so the measure stays a true Jaccard of the filtered sets.

    The posting list is keyed by ``xxhash64(shingle)`` rather than the
    shingle string: the shuffled join key is 8 bytes instead of ~n words,
    and the equality compare is a long compare.  (64-bit collisions would
    merge two shingles globally — odds ~N²/2⁶⁵, ignorable at any corpus
    size we target.)  Each posting row CARRIES its document's shingle-set
    size through the self-join, so no size table is aggregated and joined
    back onto the pairs.  Without ``max_df`` the size is the length of the
    (distinct) shingle array, and one pinned posting list feeds both sides
    of the self-join: the tokenize→shingle scan runs once, not twice.
    With ``max_df`` a first pin feeds the df count and the stop-phrase
    anti-join, and the capped posting with its re-counted sizes is a
    second pin feeding both self-join sides (details in
    :func:`_shingle_index_intersections`).

    ``min_partitions``: shingling is CPU-bound; when the input arrives in
    fewer partitions than cores (e.g. one small parquet file), pass the
    session's parallelism to spread the scan.  Leave ``None`` at scale —
    real inputs already have thousands of partitions and the extra shuffle
    of raw text would be pure cost.
    """
    inter = _shingle_index_intersections(
        df, id_col, text_col, n, max_df, min_partitions
    )
    out = (
        inter
        .withColumn("union_size", F.col("__na") + F.col("__nb") - F.col("intersection"))
        .withColumn("jaccard", F.col("intersection") / F.col("union_size"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "intersection", "union_size", "jaccard")
    )
    # The pair set is tiny (threshold-bounded) and every consumer —
    # clustering, reporting, survivor selection — re-reads it; persisting
    # lets Spark's cache manager serve identical downstream plans without
    # re-running the self-join.
    return pin(out)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment — the measure that
    catches SUB-document duplication Jaccard misses: a tweet quoted
    inside a long article has tiny Jaccard (union is article-sized) but
    containment(A→B) = |A∩B| / |A| ≈ 1.  Returns
    ``(id_a, id_b, intersection, size_a, size_b)`` for ``id_a < id_b``
    whenever EITHER direction's containment reaches ``threshold`` —
    integer outputs only; consumers derive the two ratios.

    Same plan skeleton (and the same scale contract) as
    :func:`ngram_jaccard_pairs`: persisted hashed posting list, optional
    ``max_df`` stop-phrase cap bounding every posting, inverted-index
    self-join, pair-count aggregation — one explode, two shuffles, no
    cross join.  Containment is computed over the capped shingle space
    on both numerator and denominator, so the ratio stays a true
    containment of the filtered sets.
    """
    inter = _shingle_index_intersections(
        df, id_col, text_col, n, max_df, min_partitions
    )
    return (
        inter
        .withColumnRenamed("__na", "size_a")
        .withColumnRenamed("__nb", "size_b")
        .filter(
            F.greatest(
                F.col("intersection") / F.col("size_a"),
                F.col("intersection") / F.col("size_b"),
            )
            >= threshold
        )
        .select("id_a", "id_b", "intersection", "size_a", "size_b")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    shingle_n: int = 3,
    min_partitions: int | None = None,
) -> DataFrame:
    """MinHash signatures + hashed shingle sets, one shuffle.

    Returns ``(__id, __hset array<long>, __sig array<long>)`` where
    ``__hset`` is the distinct ``xxhash64`` shingle set and
    ``sig[i] = min over shingles of xxhash64(salt_i, xxhash64(s))``.
    Documents with no shingles are dropped (no signature to compare).

    Shape: explode shingles → hash each string ONCE → groupBy(id) with
    ``n_hashes`` cheap long-rehash ``min`` aggregates plus ``collect_set``
    for the verification set.  The aggregation is a hard optimizer barrier,
    so the tokenize→shingle pipeline runs exactly once per document — a
    pure-projection formulation gets inlined ``n_hashes``+1 times by
    Catalyst's project-collapse and dominates runtime.  Map-side partial
    aggregation means the shuffle carries ≈1 row per (doc, partition).
    ``min_partitions``: see :func:`ngram_jaccard_pairs`.
    """
    if min_partitions is not None:
        df = df.repartition(min_partitions)
    posting = df.select(
        F.col(id_col).alias("__id"),
        F.explode(ngram_shingle_hashes(text_col, shingle_n)).alias("__h"),
    )
    aggs = [F.collect_set("__h").alias("__hset")] + [
        F.min(F.xxhash64(F.lit(f"mh{i}"), F.col("__h"))).alias(f"__s{i}")
        for i in range(n_hashes)
    ]
    return (
        posting.groupBy("__id")
        .agg(*aggs)
        .select(
            "__id",
            "__hset",
            F.array(*[F.col(f"__s{i}") for i in range(n_hashes)]).alias("__sig"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    min_partitions: int | None = None,
) -> DataFrame:
    """Banded-LSH near-duplicate pairs with exact-Jaccard verification.

    Candidates: documents whose signature agrees on ALL rows of ≥1 band
    (band hash join — shuffle on (band_idx, band_hash), never N²).
    Verification: exact Jaccard over the true shingle sets; pairs below
    ``threshold`` are dropped, so false-positive band collisions never
    surface.  (False negatives — high-Jaccard pairs colliding in no band —
    are the documented LSH tradeoff; raise ``bands`` to trade compute for
    recall.)
    """
    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    rows = n_hashes // bands
    # Persisted: feeds both sides of the candidate self-join and the
    # two verification lookups — recomputing the shingle scan 4× is the
    # difference between one pass and four over the corpus at scale.
    sig = pin(minhash_signatures(
        df, id_col, text_col, n_hashes, shingle_n, min_partitions
    ))

    band_entries = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("__sig").getItem(bi * rows + r) for r in range(rows)]
                        ).alias("bhash"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "b.band", "b.bhash")

    a, b = band_entries.alias("a"), band_entries.alias("b")
    # Candidate pairs carry ids only — the heavy shingle sets are joined
    # back in AFTER dedup, so band-explode shuffles 16 bytes per row, not
    # the whole document's shingle set, and each pair is verified once.
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hs = sig.select("__id", "__hset")
    cand = (
        cand.join(hs.withColumnRenamed("__id", "id_a").withColumnRenamed("__hset", "__sa"), "id_a")
        .join(hs.withColumnRenamed("__id", "id_b").withColumnRenamed("__hset", "__sb"), "id_b")
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size(F.array_union("__sa", "__sb"))
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _local_union_find(edge_rows, spark, id_type):
    """Driver-side union-find (min-id representative) over a collected edge
    list.  Returns a DataFrame (__v, __label)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in edge_rows:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            # min id becomes the representative, matching the distributed
            # min-label semantics exactly.
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    rows = [(v, find(v)) for v in parent]
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("__v", id_type, False), StructField("__label", id_type, False)]
    )
    return spark.createDataFrame(rows, schema)


def dedup_clusters(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    max_local_edges: int = 5_000_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document gets
    a ``cluster_id`` = the minimum document id reachable through the pair
    graph (documents in no pair are their own cluster).  Downstream keeps
    e.g. ``min(doc_id)`` per cluster — the canonical-survivor step real
    dedup pipelines run after pair generation.

    Two physical strategies behind one semantic:

    **Small graph (≤ ``max_local_edges`` edges): driver union-find.**  The
    pair set is threshold-bounded output of a similarity join — orders of
    magnitude smaller than the corpus (a 100 TB corpus with 1% near-dups
    yields ~10⁷-10⁸ edges, each two ids).  Collecting ids-only edges and
    running path-compressed union-find is O(E α(E)) with zero per-round job
    overhead, and is what production dedup pipelines do at this stage.  The
    corpus itself is never collected — only the edge list.

    **Large graph: distributed min-label propagation with pointer halving.**
    Each round a vertex takes (1) the min label among itself and its
    neighbors, then (2) the label OF its label — label distance doubles per
    round, so convergence needs O(log diameter) rounds, not O(diameter)
    (low thresholds produce long chain components where naive propagation
    crawls).  Each round is ``localCheckpoint``ed: persist alone caches
    *data* but the logical plan still nests per round and re-analysis cost
    grows without bound — the classic iterative-algorithm trap on Spark.
    (On a cluster, prefer ``checkpoint()`` with a reliable dir if executor
    loss during the loop matters.)  Convergence = label sum unchanged
    (labels only decrease), one aggregate per round.
    """
    edges = (
        pairs.select(F.col(id_a).alias("__s"), F.col(id_b).alias("__d"))
        .union(pairs.select(F.col(id_b).alias("__s"), F.col(id_a).alias("__d")))
        .persist()
    )
    n_edges = edges.count()
    if n_edges <= max_local_edges:
        spark = vertices.sparkSession
        id_type = vertices.schema[id_col].dataType
        # collect(), not toLocalIterator(): the iterator fetches shuffle
        # partitions sequentially (one roundtrip each); a single parallel
        # collect of ≤max_local_edges 2-tuples is bounded driver memory.
        labels = _local_union_find(
            [(r["__s"], r["__d"]) for r in edges.collect()],
            spark,
            id_type,
        )
        edges.unpersist()
        in_graph = labels.select(
            F.col("__v").alias(id_col), F.col("__label").alias("cluster_id")
        )
        isolated = vertices.select(F.col(id_col)).join(
            labels.select(F.col("__v").alias(id_col)), id_col, "left_anti"
        ).select(F.col(id_col), F.col(id_col).alias("cluster_id"))
        return in_graph.unionByName(isolated)
    # Size the iteration's partitioning to the EDGE set, not the session
    # default: the pair graph is orders of magnitude smaller than the
    # corpus, and per-round task overhead dominates when a few thousand
    # edges spread over hundreds of shuffle partitions.  ~1M edges per
    # partition keeps rounds overhead-free locally and scales linearly.
    n_parts = max(2, min(int(n_edges // 1_000_000) + 1, 2048))
    raw_edges = edges
    edges = edges.repartition(n_parts, "__s").persist()
    edges.count()  # materialize the repartitioned cache off the raw one...
    raw_edges.unpersist()  # ...so the pre-repartition copy can be freed now
    # Only vertices touched by an edge can ever change label; isolated
    # documents (the overwhelming majority of a corpus) are appended at the
    # end as their own cluster.  The iteration then works on ~2·|pairs|
    # rows, not the corpus.
    labels = (
        edges.select(F.col("__s").alias("__v"))
        .distinct()
        .repartition(n_parts, "__v")
        .select("__v", F.col("__v").alias("__label"))
        .localCheckpoint()
    )

    def _label_sum(lab: DataFrame):
        return lab.select(
            F.sum(F.col("__label").cast("decimal(38,0)"))
        ).first()[0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["__s"] == labels["__v"])
            .groupBy("__d")
            .agg(F.min("__label").alias("__nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["__v"] == neighbor_min["__d"], "left"
        ).select(
            "__v",
            F.least(
                F.col("__label"), F.coalesce(F.col("__nmin"), F.col("__label"))
            ).alias("__label"),
        )
        # pointer halving: follow my label's label
        lab2 = labels.select(
            F.col("__v").alias("__u"), F.col("__label").alias("__ulabel")
        )
        new_labels = (
            stepped.join(lab2, stepped["__label"] == lab2["__u"], "left")
            .select(
                "__v",
                F.least(
                    F.col("__label"),
                    F.coalesce(F.col("__ulabel"), F.col("__label")),
                ).alias("__label"),
            )
            .localCheckpoint()
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    in_graph = labels.select(F.col("__v").alias(id_col),
                             F.col("__label").alias("cluster_id"))
    isolated = vertices.select(F.col(id_col)).join(
        labels.select(F.col("__v").alias(id_col)), id_col, "left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    return in_graph.unionByName(isolated)


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    out_col: str = "simhash",
    min_partitions: int | None = None,
) -> DataFrame:
    """SimHash over token hashes: ``bit_j = sign(Σ_tokens (2*bit_j(h)-1))``.

    Shape: explode tokens → ``xxhash64`` each occurrence ONCE → groupBy(id)
    with ``bits`` conditional-sum aggregates → recombine bits.  The
    aggregation barrier guarantees the tokenize+hash pipeline is evaluated
    once per token — a pure-projection fold gets the token-hash expression
    inlined ``bits`` times by project-collapse.  Map-side partial agg keeps
    the shuffle at ≈1 row per (doc, partition).  Documents with zero
    tokens drop out (they have no signature to compare).
    ``min_partitions``: see :func:`ngram_jaccard_pairs`.
    """
    if min_partitions is not None:
        df = df.repartition(min_partitions)
    posting = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(text_col)).alias("__t"),
    ).select("__id", F.xxhash64("__t").alias("__h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("__h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__b{j}")
        for j in range(bits)
    ]
    agg = posting.groupBy("__id").agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(
            F.col(f"__b{j}") > 0, F.lit(2 ** j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("__id", sim.alias(out_col))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    min_partitions: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: if two hashes differ in ≤ ``max_hamming`` bits and
    we cut into ``bands`` > max_hamming byte-bands, at least one band is
    identical — so candidates meet on an equi-join of (band, band_bits),
    and the exact ``bit_count(xor)`` check never runs on unrelated rows.

    Scale note: band selectivity is ``2^(bits/bands)`` distinct values —
    at ``bits=32, bands=4`` that is 256 buckets, plenty for fixture-sized
    corpora but a collision magnet at billions of documents.  At large
    scale raise ``bits`` to 64 (16-bit bands ⇒ 65k buckets) and re-tune
    ``max_hamming`` upward proportionally (expected Hamming distance for
    a given similarity doubles with the bit width).
    """
    # Both sides of the candidate self-join read this — persist so the
    # token scan + signature aggregation happens once, not twice.
    s = pin(simhash(df, id_col, text_col, bits, min_partitions=min_partitions))
    return hamming_pairs(s, "__id", "simhash", bits=bits,
                         max_hamming=max_hamming, bands=bands)


def hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
    clean_bands: int = 1,
) -> DataFrame:
    """All pairs of rows whose long-typed bit signatures differ in at most
    ``max_hamming`` of the low ``bits`` bits — the banded candidate join
    behind :func:`simhash_pairs`, exposed for ANY signature family
    (SimHash, image dHash, audio fingerprints, …).

    Generalized pigeonhole banding: with ``max_hamming`` bit errors
    spread over ``bands`` bands, at least ``bands - max_hamming`` bands
    are untouched — so any two matches share at least ``clean_bands``
    specific clean bands whenever ``bands >= max_hamming +
    clean_bands``.  Candidates therefore meet on an equi-join of
    ``xxhash64(combo_id, band values…)`` over every
    ``C(bands, clean_bands)`` band combination, and the exact
    ``bit_count(xor)`` check never runs on unrelated rows.  Output:
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Why ``clean_bands`` matters at scale: bucket selectivity is
    ``2^(clean_bands · bits/bands)``.  A 64-bit signature at Hamming ≤ 6
    forces ≥ 7 bands, i.e. ≤ 9-bit bands — 512 buckets, quadratic
    candidate growth past ~10⁵ rows.  ``clean_bands=2`` keeps the same
    recall guarantee with 16-bit compound keys (65k× sparser) at the
    cost of ``C(8,2)=28`` index entries per row — the measured x50 fix
    for `image_dups` (SCALE.md).

    Scale shape: one explode (``C(bands, clean_bands)`` rows per
    signature), one shuffle on the compound band key, verification
    entirely in codegen'd bit math.
    """
    from itertools import combinations

    if clean_bands < 1:
        raise ValueError(
            f"hamming_pairs: clean_bands must be >= 1, got {clean_bands}"
        )
    if bands < max_hamming + clean_bands:
        raise ValueError(
            "bands must be >= max_hamming + clean_bands for pigeonhole "
            f"recall, got bands={bands} max_hamming={max_hamming} "
            f"clean_bands={clean_bands}"
        )
    if bands < 2 or bits % bands:
        raise ValueError(
            f"hamming_pairs: bands must be >= 2 and divide bits, "
            f"got bits={bits} bands={bands}"
        )
    width = bits // bands
    mask = (1 << width) - 1

    def bval(bi: int):
        return (
            F.shiftright(F.col("__sig"), bi * width).bitwiseAND(F.lit(mask))
        )

    combo_keys = [
        F.xxhash64(F.lit(ci), *[bval(bi) for bi in combo])
        for ci, combo in enumerate(combinations(range(bands), clean_bands))
    ]
    # PIN the signature table before the self-join: both join sides
    # consume it, and the signature pass upstream is typically the
    # expensive part — a mapInPandas decode+hash over raw media for
    # image/audio/video pairs.  Without the pin that whole Python pass
    # runs TWICE (once per side; the broadcast side cannot reuse the
    # probe side's exchange).  The pinned frame is (id, 8-byte sig) —
    # corpus-row-sized, never payload-sized.  Callers that already
    # persist their signature frame (simhash_pairs) are left alone: a
    # second cache of a projection of a cached frame is pure overhead.
    from pyspark.storagelevel import StorageLevel

    try:
        # probe the INCOMING frame — the projection below is always a
        # fresh (never-persisted) DataFrame, so probing it would lie
        already_cached = sig.storageLevel != StorageLevel.NONE
    except Exception:  # storageLevel probe must never break the join
        already_cached = False
    sig = sig.select(F.col(id_col).alias("__id"),
                     F.col(sig_col).alias("__sig"))
    if not already_cached:
        sig = pin(sig)
    entries = sig.select(
        "__id",
        "__sig",
        F.explode(F.array(*combo_keys)).alias("__bk"),
    )
    a, b = entries.alias("a"), entries.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__bk") == F.col("b.__bk"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sig").alias("__ha"),
            F.col("b.__sig").alias("__hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _band_hash_array(sig_col, n_hashes: int, bands: int):
    """Array of ``bands`` band hashes over a minhash signature array —
    shared by :func:`build_lsh_index` and :func:`query_lsh_index`, so an
    index built yesterday collides correctly with a batch hashed today."""
    rows = n_hashes // bands
    return F.array(
        *[
            F.xxhash64(*[sig_col.getItem(bi * rows + r) for r in range(rows)])
            for bi in range(bands)
        ]
    )


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_partitions: int | None = None,
) -> DataFrame:
    """Persistable LSH index over a corpus — the INCREMENTAL-ingestion half
    of near-dup dedup: index the 100 TB corpus ONCE (write this frame with
    any catalog), then probe every incoming batch with
    :func:`query_lsh_index` without ever re-scanning the corpus, and
    append the batch's own index rows for the next round.

    One compact row per document: ``(__id, __hset array<long>,
    __bands array<long>)`` — the exact shingle-hash set (for candidate
    verification) plus one band hash per band.  Index size ≈ the corpus's
    distinct-shingle footprint; at 100 TB partition the written table by
    a stable shard of ``__id`` so per-batch appends touch few files.

    Shape: the one-shuffle :func:`minhash_signatures` aggregation plus a
    pure projection.
    """
    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    sig = minhash_signatures(
        df, id_col, text_col, n_hashes, shingle_n, min_partitions
    )
    return sig.select(
        "__id",
        "__hset",
        _band_hash_array(F.col("__sig"), n_hashes, bands).alias("__bands"),
    )


def query_lsh_index(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    min_partitions: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs between a NEW batch and an already-indexed
    corpus (:func:`build_lsh_index` with the SAME parameters): returns
    ``(batch_id, corpus_id, jaccard)`` for every batch document whose
    exact shingle Jaccard against an indexed document reaches
    ``threshold`` and that collides in >= 1 band (the standard LSH recall
    contract; raise ``bands`` for more recall).

    The batch-side cost is one signature aggregation over the BATCH only;
    the corpus index is joined by band hash (ids-only shuffle) and its
    shingle sets are fetched only for colliding candidates — the corpus
    text is never touched.  Self-collisions (a batch doc already in the
    index under the same id) are excluded.

    Shape: batch signatures (one shuffle) → band-hash equi-join against
    the exploded index (shuffle keyed on 16-byte band hashes) → exact
    verify on the joined shingle sets.
    """
    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    # the index frame is consumed twice (band entries + the candidate
    # __hset fetch); for a stored index that is two cheap re-reads, but
    # a freshly COMPUTED index (build_lsh_index piped straight in, the
    # index-then-probe pattern) would re-run its whole corpus signature
    # aggregation — pin the compact (id, hset, bands) rows instead
    index = pin(index.select("__id", "__hset", "__bands"))
    bsig = pin(minhash_signatures(
        batch, id_col, text_col, n_hashes, shingle_n, min_partitions
    ))
    b_entries = bsig.select(
        F.col("__id").alias("batch_id"),
        F.posexplode(
            _band_hash_array(F.col("__sig"), n_hashes, bands)
        ).alias("band", "bhash"),
    )
    i_entries = index.select(
        F.col("__id").alias("corpus_id"),
        F.posexplode(F.col("__bands")).alias("band", "bhash"),
    )
    cand = (
        b_entries.join(i_entries, ["band", "bhash"])
        .filter(F.col("batch_id") != F.col("corpus_id"))
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    cand = cand.join(
        bsig.select(F.col("__id").alias("batch_id"), F.col("__hset").alias("__sa")),
        "batch_id",
    ).join(
        index.select(
            F.col("__id").alias("corpus_id"), F.col("__hset").alias("__sb")
        ),
        "corpus_id",
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size(F.array_union("__sa", "__sb"))
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


def dedup_keep_best(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    cluster_col: str = "cluster_id",
    order_col: str | None = None,
    keep: str = "max",
) -> DataFrame:
    """Turn a near-dup cluster map into actual row REMOVAL: keep exactly
    one document per cluster — the one with the max/min ``order_col``
    (quality score, length, recency; default: the id itself, giving the
    deterministic min/max-id representative).  Documents absent from the
    cluster map are singletons and always survive.

    This is the second half of the dedup story: :func:`minhash_lsh_pairs`
    / :func:`dedup_clusters` FIND the duplicates; this op applies the
    keep-policy a pipeline actually wants ("keep the highest-quality copy
    of each near-dup group").

    Shape: one id-keyed join to attach labels, then the same
    single-shuffle ``max_by`` aggregation as :func:`exact_dedup` keyed on
    the cluster — no window, no sort, map-side combined.
    """
    labeled = df.join(
        clusters.select(
            F.col(id_col), F.col(cluster_col).alias("__cluster")
        ),
        id_col,
        "left",
    ).withColumn("__cluster", F.coalesce(F.col("__cluster"), F.col(id_col)))
    order_by = order_col or id_col
    picked = exact_dedup(labeled, ["__cluster"], order_by, keep=keep)
    return picked.select(*df.columns)


def drop_contained_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """Remove documents that are near-subsets of a LARGER document —
    the row-removal application of :func:`ngram_containment_pairs`
    (quotes, reposts, excerpt pages vanish; the longest copy of each
    passage survives).

    Rule: a document is dropped when ≥ ``threshold`` of its capped
    shingle set appears inside any other document with a larger shingle
    set (ties broken toward the lower id surviving).  The rule is
    applied in ONE pass — victims are decided against the ORIGINAL
    corpus, not re-evaluated after removals — so the result is
    deterministic and independent of evaluation order (a chain
    a ⊂ b ⊂ c drops both a and b; c survives).

    Scale shape: the pair generator's inverted-index plan plus one
    ids-only victim set anti-joined back onto the corpus — victims are
    threshold-bounded (near-dup-pair sized), never corpus-sized.
    """
    pairs = ngram_containment_pairs(
        df, id_col, text_col, n=n, threshold=threshold,
        max_df=max_df, min_partitions=min_partitions,
    )
    # victim = the side whose set is smaller (tie -> higher id dies) and
    # whose containment in the other side reaches the threshold
    a_dies = (
        F.col("intersection") >= F.lit(threshold) * F.col("size_a")
    ) & (F.col("size_a") < F.col("size_b"))
    # id_a < id_b by construction, so on a size tie id_b is the victim
    # (lower id survives) — hence <= here vs strict < above
    b_dies = (
        F.col("intersection") >= F.lit(threshold) * F.col("size_b")
    ) & (F.col("size_b") <= F.col("size_a"))
    victims = (
        pairs.select(
            F.when(a_dies, F.col("id_a"))
            .when(b_dies, F.col("id_b"))
            .alias("__victim")
        )
        .filter(F.col("__victim").isNotNull())
        .distinct()
    )
    return df.join(
        victims, df[id_col] == victims["__victim"], "left_anti"
    )


def repeated_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_words: int = 8,
    anchor_chars: tuple[str, ...] = ("0", "1", "2", "3"),
    min_docs: int = 2,
) -> DataFrame:
    """Span-level exact-duplicate detection: find PASSAGES (runs of
    ``span_words`` consecutive tokens) that repeat verbatim across
    ``min_docs`` or more documents — the missing tier between whole-doc
    dedup (:func:`exact_dedup`), paragraph dedup, and line dedup:
    boilerplate sentences, license blocks, and templated passages that
    cross paragraph boundaries.  The approach follows the
    exact-substring-dedup line of work (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022) with
    winnowing-style content-defined anchors (Schleimer et al., SIGMOD
    2003) in place of a suffix array.

    Anchoring is CONTENT-defined, not position-defined: a span is
    enumerated only where its first token's ``md5`` hex digest starts
    with one of ``anchor_chars`` (default 4/16 ⇒ an expected one anchor
    per 4 tokens).  Because the rule depends only on the token itself,
    the two copies of a duplicated passage select the SAME anchor
    positions regardless of where the passage sits in each document —
    the property position-strided sampling lacks, and the reason any
    duplicated region of ≳ ``span_words`` + anchor-gap tokens is
    guaranteed to be caught.  md5 (not xxhash64) so the rule is
    bit-identical in the DuckDB oracle.

    Returns one row per duplicated-span SITE:
    ``(id, pos, n_docs, n_sites, keep)`` — ``pos`` is the 1-based token
    index of the span start, ``n_docs``/``n_sites`` the corpus-wide
    spread of that exact span, and ``keep`` marks the one canonical
    site (lowest ``(id, pos)``) a remover would preserve.  This is the
    actionable cut list: every ``keep = false`` row is a passage whose
    text exists verbatim elsewhere.

    Scale shape: tokenize → per-doc anchor filter → span fingerprint
    (all narrow, one pass over the corpus, whole-stage codegen; the
    span string never leaves the row — only its ``xxhash64`` is
    shuffled, 8 bytes per site).  Then ONE shuffle groups sites by
    fingerprint (map-side partial agg shrinks it first), the duplicated
    fingerprints re-join the posting on the same key, and a window over
    (fingerprint) ranks sites for ``keep``.  Sites ≈ tokens /
    anchor-gap, so state is a fixed fraction of corpus token count; no
    all-pairs stage exists.  64-bit fingerprint collisions would merge
    two unrelated spans (odds ~sites²/2⁶⁵ — ignorable; the oracle
    groups by the span string itself and agrees at test scale).
    """
    if span_words < 2:
        raise ValueError("span_words must be >= 2")
    # Hoist the tokenizer into a BOUND COLUMN before any lambda touches
    # it: a lambda body that references the `tokens()` EXPRESSION
    # re-evaluates the whole trim→lower→regex-split per element (the
    # documented `ngram_shingles` trap), turning anchor selection into
    # O(tokens × chars) regex work per document.  Bound as a column,
    # each per-element reference is a row-field read.
    toked = df.select(F.col(id_col).alias("__id"),
                      tokens(text_col).alias("__toks"))
    return _passage_sites(toked, span_words, anchor_chars, min_docs).select(
        F.col("__id").alias(id_col), "pos", "n_docs", "n_sites", "keep"
    )


def _passage_sites(
    toked: DataFrame,
    span_words: int,
    anchor_chars: tuple[str, ...],
    min_docs: int,
) -> DataFrame:
    """Site detection over a PRE-TOKENIZED ``(__id, __toks)`` frame —
    the shared core of :func:`repeated_passages` (which tokenizes
    inline) and :func:`strip_repeated_passages` (which pins ONE
    tokenized frame and feeds it to both the detector and the rewrite,
    so the corpus is tokenized once, not twice).  Returns
    ``(__id, pos, n_docs, n_sites, keep)``."""
    toks = F.col("__toks")
    n0 = F.size(toks) - (span_words - 1)
    chars = [F.lit(c) for c in anchor_chars]
    # sequence(1, n) is DESCENDING when n < 1 — guard to an empty array
    anchors = F.when(
        n0 < 1, F.array().cast("array<int>")
    ).otherwise(
        F.filter(
            F.sequence(F.lit(1), n0),
            lambda i: F.substring(
                F.md5(F.element_at(toks, i)), 1, 1
            ).isin(*chars),
        )
    )
    sites = toked.select(
        "__id",
        F.explode(
            F.transform(
                anchors,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.xxhash64(
                        F.concat_ws(" ", F.slice(toks, i, span_words))
                    ).alias("__h"),
                ),
            )
        ).alias("__s"),
    ).select("__id", F.col("__s.pos").alias("pos"), F.col("__s.__h").alias("__h"))
    # the posting feeds the spread aggregate AND the join-back: pin it
    # so the tokenize→anchor→fingerprint scan runs once, not twice
    sites = pin(sites)
    dup = (
        sites.groupBy("__h")
        .agg(
            F.count("*").alias("n_sites"),
            F.countDistinct("__id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    w = Window.partitionBy("__h").orderBy("__id", "pos")
    return (
        sites.join(dup, "__h")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("__id", "pos", "n_docs", "n_sites", "keep")
    )


def strip_repeated_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_words: int = 8,
    anchor_chars: tuple[str, ...] = ("0", "1", "2", "3"),
    min_docs: int = 2,
) -> DataFrame:
    """Apply :func:`repeated_passages`: excise every non-canonical
    duplicated span (``keep = false`` site) from its document, keeping
    exactly one copy of each repeated passage corpus-wide — the
    row-REWRITING application, the way :func:`drop_contained_docs`
    applies containment pairs and :func:`dedup_keep_best` applies
    near-dup clusters.

    The rewrite happens in token space: a token is dropped when any cut
    span covers its position; survivors re-join with single spaces.  The
    output ``text`` is therefore the NORMALIZED reconstruction
    (lowercased, whitespace-collapsed) — the form every downstream
    LLM-corpus stage consumes anyway; keep the original column alongside
    if byte-exact provenance matters.  ``removed`` counts excised tokens.

    Scale shape: ONE tokenizer pass over the corpus — the tokenized
    ``(__id, __toks)`` frame is pinned and feeds BOTH the detector
    (fingerprint pass + group-by-span shuffle) and the token-space
    rewrite, which previously re-tokenized the corpus a second time.
    The pin is token-array-sized (≈ normalized corpus bytes,
    memory-and-disk), the price of halving the corpus passes; the cut
    list attaches by one ids-keyed left join.  Per-doc work in the
    rewrite is tokens × cut-spans-in-that-doc via nested higher-order
    functions — JVM-side, no Python.  Docs without cuts pass through the
    join as NULL and rebuild unchanged.
    """
    if span_words < 2:
        raise ValueError("span_words must be >= 2")
    toked = pin(df.select(F.col(id_col).alias("__id"),
                          tokens(text_col).alias("__toks")))
    sites = _passage_sites(toked, span_words, anchor_chars, min_docs)
    cuts = (
        sites.filter(~F.col("keep"))
        .groupBy("__id")
        .agg(F.collect_list("pos").alias("__cuts"))
    )
    # tokens come from the pinned detector frame (no second tokenize);
    # the cut list is hoisted to a bound column so the rewrite lambda
    # reads row fields per element instead of re-evaluating expressions
    # (same trap as in :func:`repeated_passages`)
    joined = toked.join(cuts, "__id", "left").withColumn(
        "__cutarr",
        F.coalesce(F.col("__cuts"), F.array().cast("array<long>")),
    )
    toks = F.col("__toks")
    cut_arr = F.col("__cutarr")
    # 1-based token position i+1 is covered when some cut span p spans it
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            cut_arr,
            lambda p: (p <= i + 1) & (i + 1 < p + span_words),
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.concat_ws(" ", kept).alias(text_col),
        (F.size(toks) - F.size(kept)).cast("long").alias("removed"),
    )
