"""Declarative streaming specs — the batch spec language over ``readStream``.

Structured Streaming's core promise is that a streaming computation is the
SAME logical plan as the batch one, executed incrementally.  This module
delivers that promise at the spec level: the stages a batch map declares in
``post_ops`` (``filter`` / ``derive`` / ``select`` / ``join``) run verbatim
on a stream, plus two streaming-only stages for the stateful pieces:

    spec = {
        "source": {"path": "<dir or file.parquet>", "ts_col": "ts"},
        "watermark": "2 hours",            # bounds all stateful stages
        "stages": [
            {"op": "filter", "condition": "value > 0"},
            {"op": "derive", "columns": {"v2": "value * 2"}},
            {"op": "join", "table": "dims", "broadcast": True, ...},
                # STATIC right side (stream-static join): resolved through
                # the catalog passed to run_stream_spec — stateless, the dim
                # is broadcast into every micro-batch
            {"op": "stream_window", "window": "1 hour", "slide": None,
             "keys": ["event_type"],
             "aggs": ["count(*) AS n_events", "round(sum(v2),2) AS sum_v2"]},
            {"op": "stream_dedup", "keys": ["event_id"]},
                # dropDuplicatesWithinWatermark — state expires with the
                # watermark instead of growing forever
        ],
        "sink": {"name": "out_tbl"},       # memory sink; mode inferred
    }
    result = run_stream_spec(spark, spec, catalog=ParquetCatalog(...))

Scale shape: identical to the hand-written operators in
``streaming/events.py`` — state is bounded by the watermark horizon, the
state-store count is scoped via ``state_partitions`` (baked into the
checkpoint at first run; size to key cardinality, not the batch shuffle
width), and a terminating ``availableNow`` trigger makes the result equal
to the batch computation over the same input, which is what lets a DuckDB
oracle check a genuinely streamed execution.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spec import SpecError
from ._commit import run_to_completion
from .events import _scoped_nanos_conf, _stream_reader

__all__ = ["run_stream_spec", "STREAM_SAFE_POST_OPS"]

#: batch post_ops that are valid verbatim on an unaggregated stream
STREAM_SAFE_POST_OPS = frozenset({"filter", "derive", "select", "join"})


def _apply_stage(
    df: DataFrame,
    stage: dict,
    resolve: Optional[Callable[[str, str], DataFrame]],
    ts_col: str,
    watermark: Optional[str],
    where: str,
) -> tuple[DataFrame, bool]:
    """Apply one stage; returns (df, is_aggregating)."""
    from ..operators.post_ops import apply_post_ops

    op = stage.get("op")
    if op == "stream_window":
        if watermark is None:
            raise SpecError(f"{where}: stream_window requires a 'watermark'")
        w = (
            F.window(F.col(ts_col), stage["window"], stage["slide"])
            if stage.get("slide")
            else F.window(F.col(ts_col), stage["window"])
        )
        out = (
            df.withWatermark(ts_col, watermark)
            .groupBy(w.alias("__w"), *[F.expr(k) for k in stage.get("keys", [])])
            .agg(*[F.expr(a) for a in stage["aggs"]])
            .withColumn(stage.get("start_col", "window_start"), F.col("__w.start"))
            .drop("__w")
        )
        return out, True
    if op == "stream_dedup":
        if watermark is None:
            raise SpecError(f"{where}: stream_dedup requires a 'watermark'")
        out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(stage["keys"])
        )
        return out, False
    if op in STREAM_SAFE_POST_OPS:
        return apply_post_ops(df, (stage,), where, resolve=resolve), False
    raise SpecError(
        f"{where}: stage {op!r} is not stream-safe (allowed: "
        f"{sorted(STREAM_SAFE_POST_OPS) + ['stream_window', 'stream_dedup']})"
    )


@_scoped_nanos_conf
def run_stream_spec(
    spark: SparkSession,
    spec: dict,
    catalog=None,
    target=None,
) -> DataFrame:
    """Run a declarative streaming spec to completion (``availableNow``)
    and return the materialized result.

    ``catalog`` (any ``Catalog``) resolves static ``join`` right sides;
    pass ``state_partitions=N`` (handled by the decorator) to size the
    state-store count for the stream's key cardinality.

    A ``"merge"`` sink routes the stream through
    :func:`~database_transportor_spark.streaming.merge_sink.stream_merge_sink`
    into ``target`` (a ``Catalog``, required) — declarative CDC ingestion:

        "sink": {"merge": {"table": "t", "keys": ["id"],
                 "seq_col": "seq", "op_col": "op",      # optional: full CDC
                 "checkpoint": "/ckpt"}}                # optional

    Only stateless stages (filter/derive/select/join) may precede a merge
    sink — the foreachBatch MERGE is the stateful step; returns the merged
    target table.

    A ``"join_view"`` sink routes the stream through
    :func:`~database_transportor_spark.streaming.join_view_sink.stream_join_view_sink`
    — declarative incremental view materialization (append-only
    ``batch ⋈ dim`` deltas, never the big-big shuffle)::

        "sink": {"join_view": {"view": "v", "dim": "orders",
                 "on": ["k"], "checkpoint": "/ckpt"}}   # ckpt optional

    Same stateless-stages rule; returns the refreshed view table.

    A ``"dedup_gate"`` / ``"semantic_gate"`` sink routes the stream
    through the matching ingest gate in
    :mod:`~database_transportor_spark.streaming.dedup_gate` —
    declarative arrival-order near-dup rejection against a persisted
    index (lexical exact-Jaccard / IVF-bucketed cosine); the round-8/9
    operational knobs pass through — ``index_shards`` /
    ``partition_index``, ``compact_files``, ``nprobe``, ``retrain_at``,
    and ``maintenance: "external"`` (milestones via ``gate_maintain``,
    ingest stays stall-free)::

        "sink": {"dedup_gate": {"clean": "clean", "index": "idx",
                 "id": "doc_id", "text": "text",
                 "threshold": 0.5, "shingle_n": 3}}     # defaults shown
        "sink": {"semantic_gate": {"clean": "clean", "index": "idx",
                 "id": "vec_id", "vec": "embedding",
                 "centroids": "cent", "threshold": 0.9}}

    Same stateless-stages rule; returns the clean table.

    A ``"bm25_index"`` sink routes the stream through
    :func:`~database_transportor_spark.streaming.bm25_sink.stream_bm25_sink`
    — each micro-batch's posting rows append to the retrieval index
    (first arrival wins, exactly-once via sidecar batch commits);
    optional ``stats`` names a table to keep a ``bm25_index_stats``
    frame fresh inside the same committed batch (the ``stats=`` serving
    mode's freshness contract).  Returns the index table::

        "sink": {"bm25_index": {"index": "idx", "id": "doc_id",
                                "text": "text", "stats": "idx_stats"}}
    """
    where = "stream spec"
    src = spec.get("source")
    if not isinstance(src, dict) or "path" not in src:
        raise SpecError(f"{where}: needs source.path")
    ts_col = src.get("ts_col", "ts")
    watermark = spec.get("watermark")
    sink = spec.get("sink") or {}
    name = sink.get("name", "stream_spec_out")

    resolve = None
    if catalog is not None:
        def resolve(side: str, table: str) -> DataFrame:  # noqa: ANN001
            return catalog.read(table)

    def _stateless_transform(kind: str):
        stateful = [
            st["op"] for st in spec.get("stages", ())
            if isinstance(st, dict)
            and st.get("op") in ("stream_window", "stream_dedup")
        ]
        if stateful:
            raise SpecError(
                f"{where}: {kind} sink only takes stateless stages, got "
                f"{stateful} (the foreachBatch apply is the stateful step)"
            )

        def _transform(stream: DataFrame) -> DataFrame:
            for st in spec.get("stages", ()):
                if not isinstance(st, dict) or "op" not in st:
                    raise SpecError(
                        f"{where}: each stage needs an 'op' key, got {st!r}"
                    )
                stream, _ = _apply_stage(
                    stream, st, resolve, ts_col, watermark, where
                )
            return stream

        return _transform

    if "join_view" in sink:
        from .join_view_sink import stream_join_view_sink

        jv = sink["join_view"]
        if target is None:
            raise SpecError(
                f"{where}: a join_view sink needs target= (a Catalog)"
            )
        stream_join_view_sink(
            spark,
            src["path"],
            target,
            jv["view"],
            jv["dim"],
            jv["on"],
            checkpoint=jv.get("checkpoint"),
            transform=_stateless_transform("join_view"),
        )
        return target.read(jv["view"])

    if "dedup_gate" in sink or "semantic_gate" in sink:
        kind = "dedup_gate" if "dedup_gate" in sink else "semantic_gate"
        g = sink[kind]
        if target is None:
            raise SpecError(
                f"{where}: a {kind} sink needs target= (a Catalog)"
            )
        for req in ("clean", "index", "id") + (
            ("text",) if kind == "dedup_gate" else ("vec", "centroids")
        ):
            if req not in g:
                raise SpecError(f"{where}: {kind} sink needs {req!r}")
        common = dict(
            checkpoint=g.get("checkpoint"),
            transform=_stateless_transform(kind),
        )
        if kind == "dedup_gate":
            from .dedup_gate import stream_dedup_gate

            stream_dedup_gate(
                spark, src["path"], target, g["clean"], g["index"],
                g["id"], g["text"],
                shingle_n=g.get("shingle_n", 3),
                threshold=g.get("threshold", 0.5),
                index_shards=g.get("index_shards"),
                compact_files=g.get("compact_files"),
                maintenance=g.get("maintenance", "inline"),
                **common,
            )
        else:
            from .dedup_gate import stream_semantic_gate

            stream_semantic_gate(
                spark, src["path"], target, g["clean"], g["index"],
                g["id"], g["vec"], g["centroids"],
                threshold=g.get("threshold", 0.9),
                partition_index=g.get("partition_index", False),
                nprobe=g.get("nprobe", 1),
                compact_files=g.get("compact_files"),
                retrain_at=g.get("retrain_at"),
                maintenance=g.get("maintenance", "inline"),
                **common,
            )
        return target.read(g["clean"])

    if "bm25_index" in sink:
        from .bm25_sink import stream_bm25_sink

        b = sink["bm25_index"]
        if target is None:
            raise SpecError(
                f"{where}: a bm25_index sink needs target= (a Catalog)"
            )
        for req in ("index", "id", "text"):
            if req not in b:
                raise SpecError(f"{where}: bm25_index sink needs {req!r}")
        stream_bm25_sink(
            spark, src["path"], target, b["index"], b["id"], b["text"],
            checkpoint=b.get("checkpoint"),
            transform=_stateless_transform("bm25_index"),
            stats_table=b.get("stats"),
        )
        return target.read(b["index"])

    if "merge" in sink:
        from .merge_sink import stream_merge_sink

        m = sink["merge"]
        if target is None:
            raise SpecError(f"{where}: a merge sink needs target= (a Catalog)")
        _transform = _stateless_transform("merge")

        stream_merge_sink(
            spark,
            src["path"],
            target,
            m["table"],
            m["keys"],
            seq_col=m.get("seq_col"),
            op_col=m.get("op_col"),
            checkpoint=m.get("checkpoint"),
            transform=_transform,
        )
        return target.read(m["table"])

    df = _stream_reader(spark, src["path"], ts_col)
    aggregating = False
    for stage in spec.get("stages", ()):
        if not isinstance(stage, dict) or "op" not in stage:
            raise SpecError(f"{where}: each stage needs an 'op' key, got {stage!r}")
        df, agg_here = _apply_stage(df, stage, resolve, ts_col, watermark, where)
        aggregating = aggregating or agg_here
    # complete mode re-emits finalized windows into the memory snapshot;
    # un-aggregated pipelines append rows as they pass the watermark
    mode = sink.get("mode") or ("complete" if aggregating else "append")
    run_to_completion(
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
    )
    return spark.table(name)
