"""Streaming ingest dedup gates: arrival-order near-dup rejection.

The batch dedup family (``operators/dedup.py``, ``operators/
similarity.py``) answers "which documents in this CORPUS duplicate each
other"; an ingest pipeline asks the online question instead: *a batch of
new documents just arrived — which are near-dups of anything already
accepted?*  The two gates here answer it without ever re-reading the
accepted corpus' content — each maintains a persisted feature index,
probes every micro-batch against it, and appends only the survivors, to
the clean table AND the index, so the next batch dedups against
everything accepted so far:

- :func:`stream_dedup_gate` — LEXICAL: exact n-gram Jaccard over an
  inverted shingle-posting index (the incremental sibling of
  ``_shingle_index_intersections``; no LSH banding, so no recall loss);
- :func:`stream_semantic_gate` — EMBEDDING: cosine over an IVF-bucketed
  vector index (the incremental sibling of ``cosine_pairs``: only
  same-nearest-centroid vectors are compared — bucket-local equi-join,
  never batch×corpus).

Semantics (both gates; deterministic, one pass per batch): a document
is REJECTED iff it matches (a) any previously ACCEPTED document, or
(b) any batch-mate with a smaller id — whether or not that mate itself
survives.  (b) is deliberately the one-pass parallel policy, not
sequential greedy ("smaller-id SURVIVING mate"): true greedy is
order-sequential within a batch, while this rule is a single
equi-join, and it never accepts a document greedy would reject.  On
clique-shaped match groups — what near-identical copies produce — the
two policies coincide exactly.  Either way the run is exactly
reproducible by a batch computation: batch k's accepted set is a
closed-form function of the accepted sets before it, which is what the
oracles compute level by level.

Exactly-once: every batch goes through the shared protocol of
:mod:`._commit` — both output tables carry the batch's ``__commit``
marker, the batch counts as applied once its sidecar commit file lands
after both appends, and a replay without the sidecar scrubs the
crashed attempt's marker rows from both tables before it recomputes,
so a crash between or inside the appends converges to the
uninterrupted run (a document's own crashed index rows can never
reject it).

Plan shape per batch: one feature pass over the BATCH only, one
equi-join against the index (shingle-hash keys / centroid buckets —
at 100 TB partition the index table by a shard of the join key so the
probe co-locates), one pair-verify shuffle, and map-only appends.
"""

from __future__ import annotations

from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import ngram_shingle_hashes
from ..operators.pins import pin, pin_scope
from ..sources.catalog import Catalog
from ._commit import (
    BatchCommit, default_checkpoint, drain, open_stream, require_tables,
)

__all__ = ["gate_maintain", "stream_dedup_gate", "stream_semantic_gate"]


def _has_partition_dirs(target, index_table: str, col: str) -> bool:
    """True iff ``index_table`` exists under a file catalog with
    ``col=value/`` Hive partition directories — the cheap layout sniff
    both direction guards share.  Non-file catalogs have no directory
    layout to conflict with and report False."""
    if not hasattr(target, "partition_spec") or not target.exists(index_table):
        return False
    jvm = target.spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(target.path(index_table))
    fs = p.getFileSystem(target.spark._jsc.hadoopConfiguration())
    return any(
        st.isDirectory() and st.getPath().getName().startswith(f"{col}=")
        for st in fs.listStatus(p)
    )


def _require_partitioned_index(target, index_table: str, col: str,
                               option: str) -> None:
    """Guard the sharded-index options against a PRE-EXISTING index laid
    out differently: appending ``col=value/`` partition dirs beside flat
    data files produces a directory structure Spark cannot read
    ('Conflicting directory structures'), silently bricking the gate.
    Raises an actionable migration error instead."""
    if not hasattr(target, "partition_spec"):
        raise ValueError(
            f"{option} needs a file catalog (Hive-partitioned index "
            f"layout); {type(target).__name__} has no partition_spec"
        )
    if not target.exists(index_table):
        return
    cols = target.read(index_table).columns
    jvm = target.spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(target.path(index_table))
    fs = p.getFileSystem(target.spark._jsc.hadoopConfiguration())
    has_part_dirs = has_root_files = False
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(f"{col}="):
            has_part_dirs = True
        elif st.isFile() and not name.startswith(("_", ".")):
            has_root_files = True
    if col not in cols or has_root_files or not has_part_dirs:
        raise ValueError(
            f"{option}: index table {index_table!r} already exists with a "
            f"non-partitioned layout (missing {col}= directories"
            + ("" if col in cols else f" and the {col} column")
            + "); rebuild it under the new layout first — read the old "
            "index, derive the partition column, and write it through a "
            f"catalog whose partition_spec[{index_table!r}] = [{col!r}] "
            "(or compact_table after setting the spec)"
        )


def _count_data_files(target, table: str) -> int:
    """Recursive data-file count of a file-catalog table via the Hadoop
    FileSystem API (works for any Spark-supported URI scheme); hidden
    files (``_SUCCESS``, ``.crc``) excluded."""
    jvm = target.spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(target.path(table))
    fs = p.getFileSystem(target.spark._jsc.hadoopConfiguration())
    n = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n += 1
    return n


def _retrain_due(spark, target, index_table: str, retrain_at: float):
    """Growth-milestone check shared by the inline post-batch hook and
    :func:`gate_maintain`: reads the index row count, initializes the
    ``__trainmeta`` baseline on first contact (never due — the current
    size is what the first milestone measures growth against), and
    reports whether the index has grown ``>= retrain_at ×`` the
    baseline.  Returns ``(rows, due)``."""
    if not target.exists(index_table):
        return 0, False
    n = target.read(index_table).count()
    meta_table = f"{index_table}__trainmeta"
    if not target.exists(meta_table):
        target.write(
            spark.createDataFrame([(int(n),)], "rows_at_train long"),
            meta_table, mode="overwrite",
        )
        return n, False
    baseline = int(target.read(meta_table).first()["rows_at_train"])
    return n, n >= retrain_at * max(baseline, 1)


def _retrain_codebook(
    spark,
    target,
    index_table: str,
    centroid_table: str,
    retrain_target_rows: int,
    retrain_sample: int,
    retrain_iters: int,
    retrain_max_k: int,
    n: int | None = None,
) -> dict:
    """Codebook retrain + one distributed index re-bucket (shared by the
    semantic gate's inline milestone and :func:`gate_maintain`): a
    deterministic id-hash-stride sample of ≤ ``retrain_sample`` index
    vectors to the driver, ``retrain_iters`` Lloyd iterations on the
    unit sphere, ``k = clamp(n / retrain_target_rows, k_current,
    retrain_max_k)``, then staged swaps in the crash-safe order the
    :func:`stream_semantic_gate` docstring documents (stage codebook →
    rewrite index under the NEW assignment → commit index → commit
    codebook → advance ``__trainmeta``).  Every driver-side artifact is
    bounded: the sample and the k×dim codebook.  Returns
    ``{"index_rows", "k_before", "k_after"}``."""
    import math

    import numpy as np

    from ..operators.similarity import _bucket_assigner

    idx = target.read(index_table)
    if "__v" not in idx.columns:
        raise ValueError(
            f"retrain applies to semantic (vector) indexes; {index_table!r} "
            "has no __v column — lexical shingle indexes have no codebook "
            "(reshard/compact are their maintenance ops)"
        )
    if n is None:  # callers coming through _retrain_due already counted
        n = idx.count()
    stride = max(1, n // retrain_sample)
    sample = [
        np.asarray(r["__v"], dtype=np.float64)
        for r in idx.filter(
            F.pmod(F.xxhash64(F.col("__id")), F.lit(stride)) == 0
        ).select("__v").collect()
    ]
    k_old = target.read(centroid_table).count()
    k = int(min(retrain_max_k,
                max(k_old, math.ceil(n / retrain_target_rows))))
    k = max(1, min(k, len(sample)))
    M = np.stack(sample)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    M = M / norms
    # Lloyd on the unit sphere (cosine = dot): evenly-strided init
    # over the sample, empty clusters keep their previous centroid
    cmat = M[:: max(1, len(M) // k)][:k].copy()
    for _ in range(retrain_iters):
        assign = np.argmax(M @ cmat.T, axis=1)
        for ci in range(len(cmat)):
            members = M[assign == ci]
            if len(members):
                c = members.mean(axis=0)
                nz = np.linalg.norm(c)
                if nz > 0:
                    cmat[ci] = c / nz
    # duplicate-heavy samples leave centroid clones behind (strided
    # init + empty clusters keeping their initial rows) — drop them,
    # they only inflate k and create exact assignment ties
    cmat = np.unique(cmat, axis=0)
    ids = np.arange(len(cmat), dtype=np.int64)
    codebook = spark.createDataFrame(
        [(int(i), [float(x) for x in cmat[i]]) for i in ids],
        "cid long, ce array<double>",
    )
    # The index MUST be rebucketed with the bit-identical centroid
    # view every future probe will compute from the STORED codebook
    # (stack → norm → divide).  cmat's rows are already unit, but
    # re-dividing by a ~1.0±ulp norm changes last bits — measured
    # at the x200 retrain: assigning with the pre-division cmat
    # flipped near-tie buckets for 4/250 planted copies, i.e. a
    # silent recall hole between the index and its probes.
    rnorms = np.linalg.norm(cmat, axis=1, keepdims=True)
    rnorms[rnorms == 0.0] = 1.0
    cmat_assign = cmat / rnorms
    target.write_staged(codebook, centroid_table)
    rebucketed = idx.withColumn(
        "__bucket",
        _bucket_assigner(ids, cmat_assign, 1)(F.col("__v")).getItem(0),
    )
    target.write_staged(rebucketed, index_table)
    target.commit_staged(index_table)
    target.commit_staged(centroid_table)
    target.write(
        spark.createDataFrame([(int(n),)], "rows_at_train long"),
        f"{index_table}__trainmeta", mode="overwrite",
    )
    return {"index_rows": n, "k_before": int(k_old),
            "k_after": int(len(cmat))}


def gate_maintain(
    spark: SparkSession,
    target: Catalog,
    index_table: str,
    *,
    centroid_table: str | None = None,
    clean_table: str | None = None,
    compact_files: int | None = None,
    retrain_at: float | None = None,
    force_retrain: bool = False,
    retrain_target_rows: int = 128,
    retrain_sample: int = 100_000,
    retrain_iters: int = 8,
    retrain_max_k: int = 65_536,
    reshard: int | None = None,
) -> dict:
    """OUT-OF-BAND gate-index maintenance — the same codebook retrain
    and file compaction the gates run inline, runnable as a separate
    job (CLI: ``gate-maintain``) so ingest micro-batches never pay the
    milestone stall (measured inline at the x200 index: a 60 s retrain
    inside the triggering batch; compaction 5–8 s).  Run the gates with
    ``maintenance="external"`` and schedule this against the SAME
    catalog/tables; atomicity is the catalogs' staged swaps, so a probe
    racing the swap reads either the old or the new index, never a
    torn one.

    Concurrency contract, stated precisely: READERS are always safe
    (old-or-new, never torn), but a concurrent ingest APPEND landing
    between this job's read and its staged commit would be clobbered by
    the rewrite.  The catalog's per-table writer lock (when present —
    ``VersionedCatalog``) serializes the two BOTH in-process and
    ACROSS PROCESSES (round 10: the lock composes an ``flock`` on
    ``<table>.versions/_LOCK``; a live ingest gate and an external
    maintenance job on the same mount genuinely exclude each other —
    pinned by the two-process test in ``tests/test_locks.py``).  On
    lock-less file catalogs, or on object stores where no file locking
    exists, schedule maintenance BETWEEN ingest runs — the natural fit
    for ``availableNow`` gates, which drain and exit — or use a
    versioned catalog on a mount (TUNING.md "cross-process writers").
    This is the same single-writer discipline every staged rewrite in
    the repo (``compact_table``, retrain, reshard) already assumes.

    Steps, in order (each optional):

    - **retrain** (``retrain_at=`` growth factor, semantic gates only —
      needs ``centroid_table=``): identical milestone rule and
      mechanics as the inline ``retrain_at``; ``force_retrain=True``
      retrains regardless of growth (e.g. after bulk deletes).
    - **reshard** (``reshard=N``, lexical shingle indexes only): rewrite
      ``__shard = pmod(__h, N)`` in one staged pass and pin the new
      count in the ``__shardmeta`` table — the migration the gate's
      shard-count-mismatch error directs here.  Works both to change an
      existing shard count and to shard a previously flat index; the
      probe modulus and layout stay consistent by construction, so
      decisions are unchanged.
    - **compaction** (``compact_files=`` threshold): rewrite the index
      via ``operators/maintenance.compact_table`` when its data-file
      count exceeds the threshold — retrain/reshard run first because
      their staged rewrites already consolidate files.

    The on-disk Hive layout (``__shard=`` / ``__bucket=`` directories)
    is sniffed and adopted into ``target.partition_spec`` before any
    rewrite — a fresh maintenance process has no in-memory spec, and a
    flat rewrite of a partitioned index would brick every later probe.

    Returns a report dict: ``{"retrained", "index_rows", "k_before",
    "k_after", "compacted", "files_before", "files_after"}`` (``None``
    for steps not requested / not applicable).
    """
    if compact_files is not None:
        if compact_files < 1:
            raise ValueError("gate_maintain: compact_files must be >= 1")
        if not hasattr(target, "path"):
            raise ValueError(
                "gate_maintain: compact_files needs a file catalog; "
                f"{type(target).__name__} has no path()"
            )
    if retrain_at is not None and retrain_at <= 1.0:
        raise ValueError(
            "gate_maintain: retrain_at is a growth factor and must be > 1, "
            f"got {retrain_at}"
        )
    if (retrain_at is not None or force_retrain) and centroid_table is None:
        raise ValueError(
            "gate_maintain: retraining needs centroid_table= (the semantic "
            "gate's codebook table)"
        )
    if reshard is not None:
        if reshard < 2:
            raise ValueError("gate_maintain: reshard must be >= 2")
        if not hasattr(target, "partition_spec"):
            raise ValueError(
                "gate_maintain: reshard needs a file catalog "
                "(Hive-partitioned layout); "
                f"{type(target).__name__} has no partition_spec"
            )
    report: dict = {
        "retrained": False, "index_rows": None, "k_before": None,
        "k_after": None, "compacted": False, "files_before": None,
        "files_after": None, "resharded": False,
    }
    if not target.exists(index_table):
        return report
    if hasattr(target, "partition_spec"):
        for col in ("__shard", "__bucket"):
            if _has_partition_dirs(target, index_table, col):
                target.partition_spec[index_table] = [col]
                break
    if retrain_at is not None or force_retrain:
        # validate BEFORE _retrain_due's first-contact meta write: a
        # lexical index must not grow a junk __trainmeta side table
        if "__v" not in target.read(index_table).columns:
            raise ValueError(
                "gate_maintain: retrain applies to semantic (vector) "
                f"indexes; {index_table!r} has no __v column — lexical "
                "shingle indexes have no codebook (reshard/compact are "
                "their maintenance ops)"
            )
    # hold the SAME lock keys a concurrent gate holds (its clean and
    # index tables) in the same sorted order, so the two cannot
    # deadlock.  On a VersionedCatalog these locks are cross-process
    # (flock), so a live ingest gate in another process is genuinely
    # excluded, not just scheduled around.
    lock_keys = sorted({t for t in (clean_table, index_table) if t})
    with ExitStack() as stack:
        for t in lock_keys:
            stack.enter_context(target.writer_lock(t))
        stack.enter_context(pin_scope())
        if reshard is not None:
            idx = target.read(index_table)
            if "__h" not in idx.columns:
                raise ValueError(
                    "gate_maintain: reshard applies to lexical shingle "
                    f"indexes (no __h column in {index_table!r}; semantic "
                    "indexes re-bucket via retrain)"
                )
            target.partition_spec[index_table] = ["__shard"]
            target.write_staged(
                idx.withColumn(
                    "__shard", F.pmod(F.col("__h"), F.lit(reshard))),
                index_table,
            )
            target.commit_staged(index_table)
            target.write(
                spark.createDataFrame([(reshard,)], "shards int"),
                f"{index_table}__shardmeta", mode="overwrite",
            )
            report["resharded"] = True
        if retrain_at is not None or force_retrain:
            n, due = _retrain_due(
                spark, target, index_table,
                retrain_at if retrain_at is not None else float("inf"),
            )
            report["index_rows"] = n
            if n and (due or force_retrain):
                report.update(_retrain_codebook(
                    spark, target, index_table, centroid_table,
                    retrain_target_rows, retrain_sample, retrain_iters,
                    retrain_max_k, n=n,
                ))
                report["retrained"] = True
        if compact_files is not None:
            before = _count_data_files(target, index_table)
            report["files_before"] = report["files_after"] = before
            if before > compact_files:
                from ..operators.maintenance import compact_table

                compact_table(target, index_table)
                report["compacted"] = True
                report["files_after"] = _count_data_files(
                    target, index_table)
    return report


def _run_ingest_gate(
    spark: SparkSession,
    source_dir: str,
    target: Catalog,
    clean_table: str,
    index_table: str,
    id_col: str,
    schema,
    checkpoint: str | None,
    ckpt_prefix: str,
    make_compute,
    transform=None,
    compact_files: int | None = None,
    post_batch=None,
    shuffle_partitions: int | None = None,
) -> int:
    """Shared gate scaffold: the stream, and each batch's gating
    computation run through the :mod:`._commit` protocol.
    ``make_compute(batch, index_df_or_None)`` returns
    ``(rejected, index_rows_for)``: a 1-column ``__id`` frame of batch
    ids to drop, and a callable mapping the kept batch rows to their
    index rows (sans ``__commit``).  ``transform``: optional stateless
    ``DataFrame -> DataFrame`` hook applied to the stream before
    gating (filter/derive stages).  ``compact_files``: after a batch
    commits, if the index table holds more than this many data files,
    rewrite it via ``compact_table`` (staged swap, partition layout
    preserved) — bounds the per-micro-batch file accrual that probe
    wall tracks.  ``post_batch``: optional no-arg maintenance hook run
    after each APPLIED batch commits (still inside the writer locks),
    e.g. the semantic gate's codebook-retrain milestone check.
    ``shuffle_partitions``: size the gating computation's reducers to
    the MICRO-BATCH volume instead of the session default (the same
    caller-sized discipline as the streaming queries'
    ``state_partitions``): a micro-batch is a small slice of the
    corpus, so its joins/aggregations want far fewer partitions than a
    full-corpus job — the session value is set for the batch and
    restored after.  Pinned frames materialize under it too (cached
    plans bypass AQE coalescing, so oversized settings leave every
    cached probe/posting frame scattered over near-empty partitions).
    Results are partition-count-invariant; only task counts change."""
    if compact_files is not None:
        if compact_files < 1:
            raise ValueError("compact_files must be >= 1")
        if not hasattr(target, "path"):
            raise ValueError(
                "compact_files needs a file catalog (file-count "
                f"threshold on the index layout); {type(target).__name__} "
                "has no path()"
            )
    if shuffle_partitions is not None and shuffle_partitions < 1:
        raise ValueError(
            f"shuffle_partitions must be >= 1, got {shuffle_partitions}"
        )
    stream = open_stream(spark, source_dir, schema, transform, ckpt_prefix)
    tables = [clean_table, index_table]
    if checkpoint is None:
        checkpoint = default_checkpoint(target, source_dir, ckpt_prefix,
                                        tables, ckpt_prefix)
    require_tables(spark, checkpoint, target, tables, ckpt_prefix)
    commit = BatchCommit(spark, target, checkpoint, [index_table, clean_table])

    @contextmanager
    def _batch_shuffle_conf(sess):
        # the conf must land on the MICRO-BATCH's session: structured
        # streaming clones the session (and its SQLConf) at stream
        # start, and every frame derived from `batch` plans under the
        # clone — setting the outer session's conf would be invisible
        # to the gating computation
        if shuffle_partitions is None:
            yield
            return
        key = "spark.sql.shuffle.partitions"
        prev = sess.conf.get(key)
        sess.conf.set(key, str(shuffle_partitions))
        try:
            yield
        finally:
            sess.conf.set(key, prev)

    def _post_commit() -> None:
        if compact_files is not None and (
            _count_data_files(target, index_table) > compact_files
        ):
            from ..operators.maintenance import compact_table

            compact_table(target, index_table)
        if post_batch is not None:
            post_batch()

    def _apply(batch: DataFrame, batch_id: int) -> bool:
        def body(append) -> None:
            kept_in = batch.dropDuplicates([id_col])
            idx = (target.read(index_table)
                   if target.exists(index_table) else None)
            rejected, index_rows_for = make_compute(kept_in, idx)
            # pinned: the kept set feeds BOTH appends (clean rows, then
            # index rows) plus the index-row projection — without the
            # pin the whole gating computation (posting/bucket joins +
            # aggregations) re-executes once per consumer, which was
            # the single largest per-batch cost in profiling.  The
            # distinct matters: a rejected doc appears once PER MATCHING
            # PARTNER in the union (dense batches: orders of magnitude),
            # and collapsing it here keeps the anti-join build side
            # reject-set-sized (measured: removing it cost ~2 s/query on
            # the semantic gate at sf0.1)
            kept = pin(kept_in.join(
                rejected.withColumnRenamed("__id", id_col).distinct(),
                id_col,
                "left_anti",
            ))
            # clean rows FIRST: an append to a path makes Spark re-cache
            # every cached plan that reads it, so appending the index
            # first would recompute the pinned kept set for the clean
            # append — against an index that already holds this batch's
            # postings, where every survivor matches itself
            append(kept, clean_table)
            append(index_rows_for(kept), index_table)

        with _batch_shuffle_conf(batch.sparkSession):
            return commit.apply(batch_id, body, _post_commit)

    return drain(stream, checkpoint, _apply)


def stream_dedup_gate(
    spark: SparkSession,
    source_dir: str,
    target: Catalog,
    clean_table: str,
    index_table: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    schema=None,
    checkpoint: str | None = None,
    transform=None,
    index_shards: int | None = None,
    compact_files: int | None = None,
    maintenance: str = "inline",
    shuffle_partitions: int | None = None,
) -> int:
    """Stream document files from ``source_dir``; per micro-batch, keep
    only documents whose exact ``shingle_n``-gram Jaccard stays below
    ``threshold`` against both the accepted corpus and smaller-id
    batch-mates, appending survivors to ``target``/``clean_table`` and
    their shingle postings — ``(__id, __h, __n)`` — to ``index_table``.
    Returns the number of micro-batches applied (replayed batches drain
    but append nothing).

    Zero-shingle documents (shorter than ``shingle_n`` tokens) have an
    empty posting set, match nothing, and are always accepted.  At
    100 TB apply the same ``max_df`` stop-phrase discipline as the batch
    pair generators via a static stoplist snapshot (batch and index must
    agree on the shingle space).

    ``index_shards`` (round 7 — the previously documented-only 100 TB
    discipline, now shipped): partition the index table Hive-style by
    ``__shard = pmod(__h, index_shards)`` (requires a file catalog) and
    filter each probe to the batch's shard set — a literal ``IN`` over
    at most ``index_shards`` values, so the index scan PRUNES
    DIRECTORIES a small batch cannot touch instead of reading the whole
    accepted corpus.  Result-transparent (the shard is a function of
    the join key); pays when batches are narrow relative to the shard
    count.  A later run that omits ``index_shards`` against a sharded
    index auto-adopts the pinned shard count from the meta table —
    both layout-migration directions are guarded (appending flat files
    beside ``__shard=`` dirs would brick the index just like the
    reverse).

    ``compact_files`` (round 8): rewrite the index through
    ``operators/maintenance.compact_table`` (staged swap, partition
    layout preserved) whenever its data-file count exceeds this after
    a batch append.  A gate accrues one file set per micro-batch, and
    probe wall tracks FILE COUNT, not bytes (SCALE.md "gate-index
    fragmentation"); compaction restores ≤1 file per shard.  Decisions
    are unaffected — the rewrite carries every row and marker.

    ``maintenance`` (round 9): ``"inline"`` (default) runs compaction
    inside the triggering micro-batch — simplest operationally, but the
    batch that crosses the threshold pays the rewrite (measured 5–8 s).
    ``"external"`` keeps the ingest path maintenance-free: the gate
    REFUSES ``compact_files`` (pass it to :func:`gate_maintain`, run
    out-of-band against the same catalog/tables) so batch wall never
    carries a milestone stall.  Decisions are identical either way —
    compaction is row-preserving.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if maintenance not in ("inline", "external"):
        raise ValueError(
            f"maintenance must be 'inline' or 'external', got {maintenance!r}"
        )
    if maintenance == "external" and compact_files is not None:
        raise ValueError(
            "maintenance='external': the ingest path runs no milestones — "
            "pass compact_files to gate_maintain() instead"
        )
    if index_shards is None:
        # reverse-direction layout guard (review r7): running WITHOUT
        # index_shards against an already-sharded index would append flat
        # files beside the __shard= dirs — the mixed layout fails every
        # later read ('Conflicting directory structures'), bricking the
        # index.  The shard count is result-transparent and pinned in the
        # meta table, so ADOPT it instead of making the caller repeat it.
        meta_table = f"{index_table}__shardmeta"
        if target.exists(meta_table):
            index_shards = int(target.read(meta_table).first()["shards"])
        elif _has_partition_dirs(target, index_table, "__shard"):
            raise ValueError(
                f"index table {index_table!r} is Hive-partitioned by "
                f"__shard but its shard-count meta table {meta_table!r} is "
                "missing — appending unsharded rows would corrupt the "
                "layout, and the probe modulus cannot be recovered; "
                "restore the meta table (one row: the shard count the "
                "index was written with) or rebuild the index"
            )
    if index_shards is not None:
        if index_shards < 2:
            raise ValueError("index_shards must be >= 2")
        _require_partitioned_index(target, index_table, "__shard",
                                   "index_shards")
        # pin the shard count: probing pmod(h, N') against an index laid
        # out with pmod(h, N) silently LOSES matches (recall, not speed)
        meta_table = f"{index_table}__shardmeta"
        if target.exists(meta_table):
            stored = int(target.read(meta_table).first()["shards"])
            if stored != index_shards:
                raise ValueError(
                    f"index_shards={index_shards} does not match the "
                    f"existing index layout ({stored} shards recorded in "
                    f"{meta_table!r}); probing with a different modulus "
                    "would silently miss matches — pass "
                    f"index_shards={stored}, or migrate with "
                    f"gate_maintain(reshard={index_shards}) (one staged "
                    "rewrite, decisions unchanged)"
                )
        else:
            target.write(
                spark.createDataFrame([(index_shards,)], "shards int"),
                meta_table, mode="overwrite",
            )
        target.partition_spec[index_table] = ["__shard"]

    def compute(batch: DataFrame, idx):
        # batch postings: (__id, __n, __h) — pinned: feeds the probe
        # join, the self-join, and the survivor posting append.  The
        # per-doc set size __n is the SIZE OF THE (already-distinct)
        # SHINGLE ARRAY, carried from the explode — the previous
        # count-per-id aggregation + join-back recomputed exactly this
        # number at the cost of two extra shuffles per micro-batch
        # (equivalent because the gate applies no df-frequency cap).
        sh = batch.select(
            F.col(id_col).alias("__id"),
            ngram_shingle_hashes(text_col, shingle_n).alias("__sh"),
        )
        posting = pin(
            sh.select(
                "__id",
                F.size("__sh").cast("long").alias("__n"),
                F.explode("__sh").alias("__h"),
            )
        )

        jac = lambda i, na, nb: i / (na + nb - i)  # noqa: E731
        parts = []
        if idx is not None:
            if index_shards is not None:
                # the batch's shard set is bounded by index_shards — a
                # literal IN on the partition column prunes index dirs
                shards = [
                    r[0]
                    for r in posting.select(
                        F.pmod(F.col("__h"), F.lit(index_shards)).alias("s")
                    ).distinct().collect()
                ]
                idx = idx.filter(F.col("__shard").isin(shards))
            parts.append(
                posting.join(
                    idx.select(
                        "__h",
                        F.col("__id").alias("__cid"),
                        F.col("__n").alias("__cn"),
                    ),
                    "__h",
                )
                .groupBy("__id", "__cid")
                .agg(
                    F.count("*").alias("__i"),
                    F.first("__n").alias("__bn"),
                    F.first("__cn").alias("__cn2"),
                )
                .filter(
                    jac(F.col("__i"), F.col("__bn"), F.col("__cn2"))
                    >= threshold
                )
                .select("__id")
            )
        a, b = posting.alias("a"), posting.alias("b")
        parts.append(
            a.join(
                b,
                (F.col("a.__h") == F.col("b.__h"))
                & (F.col("b.__id") < F.col("a.__id")),
            )
            .groupBy(
                F.col("a.__id").alias("__id"),
                F.col("b.__id").alias("__mate"),
            )
            .agg(
                F.count("*").alias("__i"),
                F.first("a.__n").alias("__na"),
                F.first("b.__n").alias("__nb"),
            )
            .filter(
                jac(F.col("__i"), F.col("__na"), F.col("__nb")) >= threshold
            )
            .select("__id")
        )
        rejected = parts[0]
        for p in parts[1:]:
            rejected = rejected.unionByName(p)

        def index_rows_for(kept: DataFrame) -> DataFrame:
            rows = posting.join(
                kept.select(F.col(id_col).alias("__id")), "__id"
            ).select("__id", "__h", "__n")
            if index_shards is not None:
                rows = rows.withColumn(
                    "__shard", F.pmod(F.col("__h"), F.lit(index_shards))
                )
            return rows

        return rejected, index_rows_for

    return _run_ingest_gate(
        spark, source_dir, target, clean_table, index_table, id_col,
        schema, checkpoint, "dedup_gate", compute, transform=transform,
        compact_files=compact_files, shuffle_partitions=shuffle_partitions,
    )


def stream_semantic_gate(
    spark: SparkSession,
    source_dir: str,
    target: Catalog,
    clean_table: str,
    index_table: str,
    id_col: str,
    vec_col: str,
    centroid_table: str,
    threshold: float = 0.9,
    schema=None,
    checkpoint: str | None = None,
    transform=None,
    partition_index: bool = False,
    compact_files: int | None = None,
    nprobe: int = 1,
    retrain_at: float | None = None,
    retrain_target_rows: int = 128,
    retrain_sample: int = 100_000,
    retrain_iters: int = 8,
    retrain_max_k: int = 65_536,
    maintenance: str = "inline",
    shuffle_partitions: int | None = None,
) -> int:
    """Embedding sibling of :func:`stream_dedup_gate`: reject a vector
    iff its cosine reaches ``threshold`` against an accepted vector or a
    smaller-id batch-mate IN THE SAME IVF BUCKET (nearest centroid,
    ties to the lowest centroid id — the exact
    ``operators/similarity.py:cosine_pairs`` assignment rule, so gate
    decisions match the batch pair generator's bucketing).  Survivors
    append to ``clean_table`` and, as ``(__id, __v, __bucket)`` rows, to
    ``index_table``.

    ``centroid_table`` (columns ``cid``, ``ce``) lives in ``target`` and
    is re-read per batch — the production IVF pattern: a FIXED codebook
    (trained once, stored) so every batch and every restart buckets
    identically; bucket-local probing trades the recall any IVF index
    trades (raise the codebook quality / add multi-probe for more — see
    SCALE.md's measured recall@k rows for the family).

    The bucket join is an equi-join: batch×corpus cosine is never
    computed all-pairs.

    ``partition_index`` (round 7): lay the index out Hive-partitioned
    by ``__bucket`` (requires a file catalog) and filter each probe to
    the batch's bucket set — the index scan then prunes every bucket
    directory the batch doesn't touch.  Pays when batches are narrow
    relative to the codebook (a 100-vector batch against a
    1024-centroid index reads ≤ 100/1024 of the accepted corpus).
    Result-transparent: the bucket is a pure function of the vector
    and the fixed codebook.  If the index already carries a
    ``__bucket=`` layout, a run with ``partition_index=False``
    auto-adopts it instead of appending flat files beside the
    partition dirs (which would brick the index).

    ``compact_files``: as in :func:`stream_dedup_gate` — rewrite the
    index via ``compact_table`` when its data-file count exceeds the
    threshold after a batch.

    ``nprobe`` (round 8): probe each batch vector against its
    ``nprobe`` nearest buckets instead of only the nearest — the
    standard IVF recall lever for NEAR-duplicates that land just across
    a Voronoi boundary from their source (exact copies always share
    their source's bucket, so nprobe=1 never misses those).  Index rows
    keep single (primary-bucket) assignment — only the probe side fans
    out, so probe cost scales ~linearly with ``nprobe`` and the index
    layout/partition pruning are unchanged.  Decisions with nprobe>1
    are a strict superset of nprobe=1 rejections.  Default 1 preserves
    the ``cosine_pairs``-parity bucketing the oracle checks.

    ``retrain_at`` (round 8): the fixed-codebook cost model is the one
    measured lever left in SCALE.md's x200 gate sweep — as the index
    grows past the corpus the codebook was trained for, every bucket
    densifies and probe cost climbs (3.2× at a 200× index with 64
    frozen centroids).  With ``retrain_at=G``, after any batch that
    leaves the index ≥ G× the size recorded at the last (re)train, the
    gate retrains the codebook itself: a deterministic bounded sample
    of ≤ ``retrain_sample`` index vectors (id-hash stride — never the
    full corpus to the driver), ``retrain_iters`` Lloyd iterations in
    numpy, and ``k = clamp(n / retrain_target_rows, k_current,
    retrain_max_k)`` so per-bucket density returns to the target and
    probe cost stays flat instead of tracking index growth.  The index
    is then re-bucketed in ONE distributed pass through the partitioned
    writer's staged swap, and the new codebook replaces
    ``centroid_table`` via its own staged swap (commit order: index
    first, codebook last — the crash window between the two renames is
    narrow and a re-run of the milestone is idempotent).  Geometric
    milestones (G=10) bound total rewrite work at ~1.11× the final
    index size.  Bucketing changes at a retrain, so post-boundary
    decisions are those of the NEW codebook — the same recall trade
    every IVF re-index makes; planted-copy recall across the boundary
    is asserted in tests and measured in SCALE.md.

    ``maintenance`` (round 9): ``"inline"`` (default) runs both
    milestones — compaction and retrain — inside the triggering
    micro-batch; the measured cost is a 60 s stall at the x200 retrain
    (sample + Lloyd + full-index re-bucket + swaps) and 5–8 s per
    compaction.  ``"external"`` keeps the ingest path maintenance-free:
    the gate REFUSES ``compact_files``/``retrain_at`` (pass them to
    :func:`gate_maintain`, run out-of-band between or alongside ingest
    runs) so batch wall stays flat across milestones.  Exact copies are
    bucket-stable under ANY codebook, so for duplicate-gating the two
    modes accept/reject identically; near-dup recall follows whichever
    codebook served the probe, exactly as with inline retrain timing.
    """
    from ..operators.similarity import _bucket_assigner, cosine_scores

    import numpy as np

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if retrain_at is not None and retrain_at <= 1.0:
        raise ValueError(
            f"retrain_at is a growth factor and must be > 1, got {retrain_at}"
        )
    if maintenance not in ("inline", "external"):
        raise ValueError(
            f"maintenance must be 'inline' or 'external', got {maintenance!r}"
        )
    if maintenance == "external" and (
        compact_files is not None or retrain_at is not None
    ):
        raise ValueError(
            "maintenance='external': the ingest path runs no milestones — "
            "pass compact_files/retrain_at to gate_maintain() instead"
        )
    if not partition_index and _has_partition_dirs(target, index_table,
                                                   "__bucket"):
        # reverse-direction layout guard (review r7): appending flat
        # files beside an existing __bucket= layout would brick the
        # index; the layout is result-transparent, so adopt it
        partition_index = True
    if partition_index:
        _require_partitioned_index(target, index_table, "__bucket",
                                   "partition_index")
        target.partition_spec[index_table] = ["__bucket"]

    def compute(batch: DataFrame, idx):
        cent = sorted(
            (r["cid"], r["ce"])
            for r in target.read(centroid_table).collect()
        )
        if not cent:
            raise ValueError(
                f"stream_semantic_gate: centroid table {centroid_table!r} "
                "is empty"
            )
        ids = np.array([c for c, _ in cent], dtype=np.int64)
        cmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in cent])
        norms = np.linalg.norm(cmat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        cmat = cmat / norms

        probes_arr = _bucket_assigner(ids, cmat, nprobe)(F.col(vec_col))
        assigned = pin(
            batch.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).alias("__v"),
                *([probes_arr.alias("__probes")] if nprobe > 1 else []),
                probes_arr.getItem(0).alias("__bucket"),
            )
        )
        # probe side: nprobe=1 keeps the single-column plan (and the
        # plan census) byte-identical; nprobe>1 fans each vector out to
        # its probe buckets — index rows stay single-assigned, so the
        # layout and the directory pruning below are unchanged
        probed = (
            assigned.select(
                "__id", "__v", F.explode("__probes").alias("__bucket")
            )
            if nprobe > 1
            else assigned
        )
        parts = []
        if idx is not None:
            if partition_index:
                buckets = [
                    r[0] for r in
                    probed.select("__bucket").distinct().collect()
                ]
                idx = idx.filter(F.col("__bucket").isin(buckets))
            parts.append(
                probed.join(
                    idx.select(
                        F.col("__bucket").cast("long").alias("__bucket"),
                        F.col("__v").alias("__cv"),
                        F.col("__id").alias("__cid"),
                    ),
                    "__bucket",
                )
                .withColumn(
                    "__cos", cosine_scores(F.col("__v"), F.col("__cv"))
                )
                .filter(F.col("__cos") >= threshold)
                .select("__id")
            )
        # batch mates sit at their PRIMARY bucket; the probe side fans
        # out, so nprobe>1 also catches a smaller-id mate across a
        # Voronoi boundary
        a = probed.select(
            F.col("__id"), F.col("__v"), F.col("__bucket")
        ).alias("a")
        b = assigned.select(
            F.col("__id"), F.col("__v"), F.col("__bucket")
        ).alias("b")
        parts.append(
            a.join(
                b,
                (F.col("a.__bucket") == F.col("b.__bucket"))
                & (F.col("b.__id") < F.col("a.__id")),
            )
            .withColumn(
                "__cos", cosine_scores(F.col("a.__v"), F.col("b.__v"))
            )
            .filter(F.col("__cos") >= threshold)
            .select(F.col("a.__id").alias("__id"))
        )
        rejected = parts[0]
        for p in parts[1:]:
            rejected = rejected.unionByName(p)

        def index_rows_for(kept: DataFrame) -> DataFrame:
            return assigned.join(
                kept.select(F.col(id_col).alias("__id")), "__id"
            ).select("__id", "__v", "__bucket")

        return rejected, index_rows_for

    def maybe_retrain() -> None:
        """Milestone check + retrain (shared machinery: `_retrain_due`
        / `_retrain_codebook`, also driven out-of-band by
        :func:`gate_maintain`).  Runs inside the writer lock after each
        applied batch; every step is bounded — the only driver-side
        data is the ≤ retrain_sample vector sample and the k×dim
        codebook."""
        n, due = _retrain_due(spark, target, index_table, retrain_at)
        if due:
            _retrain_codebook(
                spark, target, index_table, centroid_table,
                retrain_target_rows, retrain_sample, retrain_iters,
                retrain_max_k, n=n,
            )

    return _run_ingest_gate(
        spark, source_dir, target, clean_table, index_table, id_col,
        schema, checkpoint, "semantic_gate", compute, transform=transform,
        compact_files=compact_files, shuffle_partitions=shuffle_partitions,
        post_batch=maybe_retrain if retrain_at is not None else None,
    )
