"""Streaming incremental join-view sink: continuous fact-enrichment
materialization via ``foreachBatch``.

Batch-side :func:`~..operators.rollup.refresh_join_view` maintains a
stored ``fact ⋈ dim`` view on a schedule; this is its always-on
sibling: a file stream over the FACT source feeds micro-batches, each
batch's view delta — ``Δbatch ⋈ dim``, a broadcast small-big join —
is APPENDED to the stored view.  The big shuffle a full re-join would
pay never happens, per batch or ever; each appended file is view rows
only.

Exactly-once: every batch goes through the shared protocol of
:mod:`._commit` — its view rows carry the batch's ``__commit`` marker,
the batch counts as applied once its sidecar commit file lands, and a
replay without the sidecar scrubs the crashed attempt's marker rows
before it appends again, so the append-only view never double-counts
nor keeps half a batch.

Dimension freshness: the dim table is re-read from the catalog at every
micro-batch, so dim updates enrich all FUTURE batches; rows already in
the view keep the dim values of their batch time (the standard
streaming-enrichment contract — rebuild the view for retroactive dim
corrections).  Late-arriving facts enrich whenever they arrive: the
delta formula has no watermark because append-only inner joins need no
state at all.

This module and ``merge_sink`` are the two ends of the materialization
spectrum: MERGE rewrites the target per batch (keyed upsert semantics);
the join-view sink only ever appends (bag semantics) — at 100 TB,
appends are the shape object stores love.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from ._commit import (
    BatchCommit, default_checkpoint, drain, open_stream, require_tables,
)

__all__ = ["stream_join_view_sink"]


def stream_join_view_sink(
    spark: SparkSession,
    source_dir: str,
    target: Catalog,
    view_table: str,
    dim_table: str,
    on: str | list[str],
    schema=None,
    checkpoint: str | None = None,
    transform=None,
) -> int:
    """Stream fact files from ``source_dir``; append each micro-batch's
    ``batch ⋈ broadcast(dim)`` rows (inner equi-join on ``on``) to
    ``target``/``view_table``, reading ``dim_table`` from the same
    catalog each batch.  Returns the number of micro-batches applied
    (replayed batches count as drained but append nothing).

    ``transform``: optional stateless ``DataFrame -> DataFrame`` hook
    applied to the fact stream before joining (filter/derive stages).
    """
    who = "stream_join_view_sink"
    keys = [on] if isinstance(on, str) else list(on)
    stream = open_stream(spark, source_dir, schema, transform, who)
    if checkpoint is None:
        checkpoint = default_checkpoint(target, source_dir, "join_view",
                                        [view_table, dim_table], who)
    require_tables(spark, checkpoint, target, [view_table], who)
    commit = BatchCommit(spark, target, checkpoint, [view_table])

    def _apply(batch: DataFrame, batch_id: int) -> bool:
        def body(append) -> None:
            dim = F.broadcast(target.read(dim_table))
            append(batch.join(dim, keys, "inner"), view_table)

        return commit.apply(batch_id, body)

    return drain(stream, checkpoint, _apply)
