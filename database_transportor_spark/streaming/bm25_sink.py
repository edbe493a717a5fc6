"""Streaming BM25 posting-index sink: continuous retrieval-index
maintenance via ``foreachBatch``.

Batch-side, :func:`~..operators.text.bm25_index` tokenizes a corpus
once and :func:`~..operators.text.bm25_topk_indexed` serves every later
query from the stored posting table; this is the always-on sibling for
an ingest pipeline (typically BEHIND a dedup gate): each arriving
micro-batch of documents is tokenized — the only corpus-pass work, paid
exactly once per document ever — and its posting rows are APPENDED to
the index table.  Because the serve path derives N / avgdl / df from
the posting table itself, an appended index IS a fresh index: queries
served mid-stream always reflect exactly the documents indexed so far,
with no stats side-channel to go stale (the same property
:func:`~..operators.text.bm25_index_update` exploits for batch deltas;
use that, out-of-band, for deletes when the dedup pipeline retires
documents).  ``stats_table=`` additionally keeps a
:func:`~..operators.text.bm25_index_stats` table fresh in the same
committed batch, so the 100 TB ``stats=`` serving mode never reads
stale idf.

Semantics: FIRST ARRIVAL WINS — a document id already present in the
index is skipped (one posting-sized anti-join per batch), and within a
batch duplicate ids collapse to the lexicographically-smallest text
(deterministic, so replays and the oracle agree).  Re-crawled documents
that must replace their text are an out-of-band
``bm25_index_update(add_docs=...)`` upsert, not an ingest concern.

Exactly-once: every batch goes through the shared protocol of
:mod:`._commit` — a batch is applied once its sidecar
``<checkpoint>/_dbt_commits/<batch_id>`` lands, after the posting
append and the stats refresh; a replay whose sidecar is missing scrubs
the crashed attempt's ``__commit``-marked posting rows and redoes the
batch, so every crash window converges to the same index and stats.

Plan shape per batch: one tokenize/aggregate pass over the BATCH only
(two batch-sized shuffles: tf, dl), one anti-join against the stored
ids (posting-table-sized, column-pruned to the id), one map-only
append; with ``stats_table=``, plus one posting-table aggregation pass
(vocabulary-sized output, committed via staged swap).  The accepted
corpus' text is never re-read.

Checkpoint placement: the default lives under the target catalog's
root (``<root>/_checkpoints/...``) when the catalog is file-backed (see
:func:`._commit.default_checkpoint`); an explicit ``checkpoint=`` may
live on any scheme the cluster mounts.  A non-empty commit history
whose index table is missing fails loudly at start — the silent-empty-
index failure mode of a dropped-and-recreated table under a surviving
checkpoint.

Operations: the sink accrues one file set per micro-batch — the same
fragmentation curve the gates measured (SCALE.md) — so compact the
index out-of-band with :func:`~.dedup_gate.gate_maintain`
(``compact_files=``, works on any catalog table) or CLI
``gate-maintain`` / ``compact``; restore the query-term file-skipping
layout with :func:`~..operators.text.bm25_index_layout`; deletes /
upserts for retired documents go through
:func:`~..operators.text.bm25_index_update` + a staged swap (then
rebuild stats — the serve path's staleness guard catches a forgotten
rebuild).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import bm25_index, bm25_index_stats
from ..sources.catalog import Catalog
from ._commit import (
    BatchCommit, default_checkpoint, drain, open_stream, require_tables,
)

__all__ = ["stream_bm25_sink"]


def stream_bm25_sink(
    spark: SparkSession,
    source_dir: str,
    target: Catalog,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    schema=None,
    checkpoint: str | None = None,
    transform=None,
    stats_table: str | None = None,
) -> int:
    """Stream document files from ``source_dir``; per micro-batch,
    tokenize the batch and append its ``(token, id, tf, dl)`` posting
    rows to ``target``/``index_table`` (first arrival wins; see module
    docstring).  Returns the number of micro-batches applied (replayed
    batches drain but append nothing).

    ``transform``: optional stateless ``DataFrame -> DataFrame`` hook
    applied to the stream before indexing (filter/derive stages).

    ``stats_table``: when given, a :func:`bm25_index_stats` frame is
    re-derived from the full index and staged-swapped into this table
    after every applied batch — inside the same writer lock and before
    the batch's commit sidecar, so a crash anywhere in the window is
    repaired by the replay's scrub-and-redo and the stats can never
    stay out of sync with a batch that counts as committed.  Serve with
    ``bm25_topk_indexed(index, queries, stats=target.read(stats_table))``.
    """
    who = "stream_bm25_sink"
    stream = open_stream(spark, source_dir, schema, transform, who)
    if checkpoint is None:
        checkpoint = default_checkpoint(target, source_dir, "bm25",
                                        [index_table], who)
    require_tables(spark, checkpoint, target, [index_table], who)
    commit = BatchCommit(spark, target, checkpoint, [index_table],
                         [stats_table] if stats_table else [])

    def _apply(batch: DataFrame, batch_id: int) -> bool:
        def body(append) -> None:
            # within-batch id collapse: smallest text wins (deterministic)
            docs = batch.groupBy(id_col).agg(
                F.min(text_col).alias(text_col))
            if target.exists(index_table):
                seen = target.read(index_table).select(id_col).distinct()
                docs = docs.join(seen, id_col, "left_anti")
            append(bm25_index(docs, id_col, text_col), index_table)
            if stats_table is not None:
                # full re-derivation, not an incremental merge: derived
                # purely from the post-append index state, it is
                # idempotent under the scrub-and-redo crash repair (a
                # half-committed merge would double-count on replay) and
                # bit-identical to a rebuild by construction
                target.write_staged(
                    bm25_index_stats(target.read(index_table), id_col),
                    stats_table,
                )
                target.commit_staged(stats_table)

        return commit.apply(batch_id, body)

    return drain(stream, checkpoint, _apply)
