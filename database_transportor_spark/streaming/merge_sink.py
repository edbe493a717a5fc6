"""Streaming merge sink: continuous upsert transport via ``foreachBatch``.

Batch-side ``do_merge_transport`` (engine.py) reruns on a schedule; this
is its always-on sibling: a file stream over the source directory feeds
micro-batches into :func:`~..operators.mutations.merge_upsert` against
the live target, each batch committed through the catalog's staged swap.
The same pattern a transactional table format's ``MERGE INTO`` sink
provides, built on plain parquet/JDBC catalogs.

Exactness: the checkpoint makes each source file process exactly once;
a batch replayed after a crash re-merges the same rows — and upsert by
key is idempotent, so replays cannot duplicate and the sink needs no
commit marker.  It shares the rest of :mod:`._commit` with the
appending sinks: the writer lock, the default checkpoint under the
catalog root, and the start-time refusal to re-bootstrap a missing
table under a checkpoint with committed batches.  Within one batch,
``seq_col`` (LSN / updated_at) picks the newest version of a key.

Scale: per micro-batch cost is one merge aggregation (single shuffle,
map-side combine) over live ∪ batch, plus the staged rewrite of the
target.  That full rewrite is the price of MERGE on a format without
row-level transactions — at 100 TB, partition the target catalog so only
affected partitions rewrite, or point the same sink logic at a
transactional table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.mutations import cdc_merge, merge_upsert
from ..sources.catalog import Catalog
from ._commit import default_checkpoint, drain, open_stream, require_tables

__all__ = ["stream_merge_sink"]


def stream_merge_sink(
    spark: SparkSession,
    source_dir: str,
    target: Catalog,
    table: str,
    keys: str | list[str],
    seq_col: str | None = None,
    checkpoint: str | None = None,
    op_col: str | None = None,
    schema=None,
    transform=None,
) -> int:
    """Stream files from ``source_dir`` and MERGE each micro-batch into
    ``target``/``table`` by ``keys`` (latest ``seq_col`` wins).

    ``op_col``: switches the per-batch apply from plain upsert MERGE to
    full CDC semantics (``operators/mutations.py:cdc_merge``) — feed
    rows carry I/U/D ops, deletes REMOVE target keys, and the TARGET
    RETAINS ``seq_col`` so sequences are durable ACROSS micro-batches: a
    stale change in a later batch (out-of-order files) loses to the
    stored sequence instead of clobbering newer data.  ``seq_col``
    becomes required (CDC needs a change order).  Replay safety holds:
    re-applying the same change set is idempotent because the highest
    sequence per key wins again.

    ``transform``: optional stateless ``DataFrame -> DataFrame`` applied to
    the stream before merging — the hook the declarative streaming spec
    (``streaming/declarative.py``) uses to run filter/derive/join-dim
    stages ahead of the sink.  Must not add stateful operators (the
    foreachBatch apply is the stateful step here).

    The run drains everything currently unprocessed and returns (an
    incremental batch job — rerun to pick up new files, the checkpoint
    remembers progress).  Returns the number of micro-batches merged.
    """
    who = "stream_merge_sink"
    if op_col is not None and seq_col is None:
        raise ValueError(f"{who}: op_col requires seq_col")
    stream = open_stream(spark, source_dir, schema, transform, who)
    if checkpoint is None:
        checkpoint = default_checkpoint(target, source_dir, "merge_sink",
                                        [table], who)
    # Spark's own commit log: a merged batch leaves no marker to count
    require_tables(spark, checkpoint, target, [table], who, log="commits")

    def _apply(batch: DataFrame, batch_id: int) -> bool:
        # the merge below bases itself on the head read here — hold the
        # catalog's per-table writer lock across the whole
        # read→merge→stage→commit sequence so an in-process append
        # racing this batch can neither move the head under the merge nor
        # base ITS union on the pre-commit head and drop this batch's rows
        with target.writer_lock(table):
            live = (
                target.read(table)
                if target.exists(table)
                else batch.limit(0).select(
                    *[c for c in batch.columns if c != op_col])
            )
            if op_col is not None:
                # cdc_merge, NOT cdc_apply: the target RETAINS the
                # sequence column, so a stale change arriving in a LATER
                # micro-batch (out-of-order files) loses against the
                # stored sequence — cdc_apply's within-batch comparison
                # would let it overwrite or delete newer data
                merged = cdc_merge(
                    live, batch, keys, op_col=op_col, seq_col=seq_col
                )
            else:
                # the live side lacks feed-only columns (seq may be
                # feed-only); merge on the live schema, seq resolves
                # within the batch side
                merged = merge_upsert(live, batch, keys, seq_col=seq_col)
            target.write_staged(merged, table)
            # CDC ↔ versioning convergence: on a VersionedCatalog the
            # commit IS a version-pointer move, so every micro-batch
            # becomes a point-in-time snapshot (time travel to any
            # pre-batch state, rollback = pointer move) and the batch id
            # is recorded in the commit marker for lineage.  Replay
            # safety carries over: a checkpoint-replayed batch re-merges
            # idempotently and commits a version with identical content.
            from ..sources.versioned import VersionedCatalog

            if isinstance(target, VersionedCatalog):
                target.commit_staged(table, note=f"stream_batch={batch_id}")
            else:
                target.commit_staged(table)
        return True

    return drain(stream, checkpoint, _apply)
