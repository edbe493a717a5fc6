"""The exactly-once micro-batch commit protocol every ``foreachBatch``
sink shares, plus the stream plumbing the sinks would otherwise repeat.

The reference wraps a whole migration in ONE DB transaction
(CreateTemp.temp:26-38), so a failed run leaves the target untouched.
A streaming sink applies the same all-or-nothing rule per micro-batch
with :class:`BatchCommit`.  A batch counts as applied once its SIDECAR
commit file ``<checkpoint>/_dbt_commits/<batch_id>`` exists, and
:meth:`BatchCommit.apply` runs these steps in order:

1. take the catalog writer locks on the sorted set of tables the batch
   writes (the fixed order :func:`~.dedup_gate.gate_maintain` uses, so
   a maintenance job locking the same tables cannot ABBA-deadlock);
2. if the sidecar exists, the batch committed earlier: the replay
   drains and changes nothing;
3. probe every appended table for rows stamped with this batch's
   ``__commit`` marker (``<checkpoint hash>:<batch id>``) in ONE job
   (``isEmpty`` over a union of the marker filters).  Marker rows
   without a sidecar are a crashed attempt whose file set may be
   incomplete, so each table holding them is SCRUBBED by a staged
   rewrite that drops exactly those rows (null-safe: seeded rows carry
   other or NULL markers);
4. run the sink's body: compute and append, every appended row
   stamped with the marker;
5. write the sidecar atomically — the commit point;
6. run the post-commit steps (compaction, milestones).

Every crash before step 5 is repaired by the replay's scrub-and-redo;
a crash after it is a committed batch whose post-commit maintenance is
row-preserving and re-runs with the next batch.  The marker is
namespaced by checkpoint, so a FRESH checkpoint over the same tables (a
deliberate reprocess) is not mistaken for a crashed attempt.  A scrub
inherits the catalog's swap atomicity: on a ``VersionedCatalog`` the
commit is a pointer move; a plain ``FileCatalog`` swap keeps its
documented narrow rmtree/rename window.

Sidecar bookkeeping goes through the Hadoop FileSystem API, so a
checkpoint may live on any scheme the cluster mounts (HDFS, s3a,
file:) — the same places a ``checkpointLocation`` already must.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from contextlib import ExitStack
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pins import pin_scope
from ..sources.catalog import Catalog

#: checkpoint subdirectory holding one sidecar file per committed batch
SIDECARS = "_dbt_commits"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the live JVM."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def _fs_count_children(spark: SparkSession, dir_path: str) -> int:
    fs, p = _hadoop_fs(spark, dir_path)
    if not fs.exists(p):
        return 0
    # local Hadoop FS writes .<name>.crc companions — not commits
    return sum(
        1 for s in fs.listStatus(p)
        if not s.getPath().getName().startswith((".", "_"))
    )


def _fs_write_atomic(spark: SparkSession, path: str, data: str) -> None:
    """Create-then-rename: atomic on HDFS/local; on object stores the
    rename is copy+delete but the tiny sidecar appears all-or-nothing
    to the existence probe either way."""
    fs, p = _hadoop_fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".__tmp")
    fs.mkdirs(p.getParent())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data.encode()))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    fs.rename(tmp, p)


def open_stream(spark: SparkSession, source_dir: str, schema, transform,
                who: str) -> DataFrame:
    """File stream over ``source_dir`` with ``transform`` applied.  The
    schema is inferred from the files already there unless passed — a
    sink started before its producer needs ``schema=``."""
    if schema is None:
        try:
            schema = spark.read.parquet(source_dir).schema
        except Exception as exc:
            raise ValueError(
                f"{who}: cannot infer schema from an empty source dir "
                f"{source_dir!r}; pass schema= explicitly"
            ) from exc
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return stream if transform is None else transform(stream)


def default_checkpoint(target: Catalog, source_dir: str, prefix: str,
                       tables: list[str], who: str) -> str:
    """``{prefix}_ckpt_{tables[0]}_{ident}``, unique per (source,
    target, tables), under ``<catalog root>/_checkpoints`` so a
    drop-the-directory rebuild removes the checkpoint with the data.
    Location-less catalogs use the system temp dir.  An earlier
    temp-dir default with the same name is ADOPTED (with a warning)
    rather than silently abandoned to a full source re-scan."""
    ident = hashlib.sha256(
        "\x00".join(
            [os.path.abspath(source_dir), target.identity(), *tables]
        ).encode()
    ).hexdigest()[:16]
    name = f"{prefix}_ckpt_{tables[0]}_{ident}"
    base = (
        os.path.join(target.root, "_checkpoints")
        if hasattr(target, "root")
        else tempfile.gettempdir()
    )
    checkpoint = os.path.join(base, name)
    legacy = os.path.join(tempfile.gettempdir(), name)
    if legacy != checkpoint and os.path.isdir(legacy) \
            and not os.path.isdir(checkpoint):
        import warnings

        warnings.warn(
            f"{who}: adopting the pre-existing legacy default checkpoint "
            f"{legacy!r}; move it under {checkpoint!r} (and pass "
            "checkpoint=) to migrate",
            stacklevel=3,
        )
        checkpoint = legacy
    return checkpoint


def require_tables(spark: SparkSession, checkpoint: str, target: Catalog,
                   tables: list[str], who: str, log: str = SIDECARS) -> None:
    """Fail loudly when the checkpoint records committed batches (entries
    under ``<checkpoint>/<log>``) but a sink table is missing: it was
    dropped or rebuilt under a surviving checkpoint, and the stream
    would silently never re-apply the files it already saw."""
    missing = [t for t in tables if not target.exists(t)]
    if not missing:
        return
    committed = _fs_count_children(spark, checkpoint.rstrip("/") + "/" + log)
    if committed:
        raise ValueError(
            f"{who}: checkpoint {checkpoint!r} records {committed} "
            f"committed batches but table {missing[0]!r} does not exist — "
            "it was dropped or rebuilt while the checkpoint survived, so "
            "already-seen source files would never be re-applied; "
            "refusing to re-bootstrap.  Delete the checkpoint to "
            "re-ingest from scratch, or restore the table."
        )


def run_to_completion(writer) -> None:
    """Start ``writer`` (a ``DataStreamWriter``) with an ``availableNow``
    trigger and block until it has drained every available input."""
    writer.trigger(availableNow=True).start().awaitTermination()


def drain(stream: DataFrame, checkpoint: str, apply) -> int:
    """Run ``apply(batch, batch_id) -> bool`` on every non-empty
    micro-batch of ``stream`` until the available input is drained;
    returns how many calls returned True (batches applied)."""
    applied = 0

    def each(batch: DataFrame, batch_id: int) -> None:
        nonlocal applied
        if not batch.isEmpty() and apply(batch, batch_id):
            applied += 1

    run_to_completion(
        stream.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint)
    )
    return applied


class BatchCommit:
    """The per-batch protocol of the module docstring for one sink:
    ``appends`` are the tables its body appends marker-stamped rows to
    (probed and scrubbed on replay); ``writes`` are further tables it
    rewrites whole and only locks."""

    def __init__(self, spark: SparkSession, target: Catalog,
                 checkpoint: str, appends: list[str],
                 writes: list[str] = ()):
        self.spark, self.target, self.appends = spark, target, list(appends)
        self.locks = sorted(set(appends) | set(writes))
        self.ns = hashlib.sha256(checkpoint.encode()).hexdigest()[:12]
        self.sidecars = checkpoint.rstrip("/") + "/" + SIDECARS

    def apply(self, batch_id: int, body, post_commit=None) -> bool:
        """Apply one batch: ``body(append)`` computes and lands it, where
        ``append(df, table)`` stamps ``df`` with the batch's marker and
        appends it; ``post_commit()`` runs after the commit point.
        Returns False when the batch had committed before."""
        marker = f"{self.ns}:{batch_id}"
        sidecar = f"{self.sidecars}/{batch_id}"
        target = self.target
        with ExitStack() as stack:
            for t in self.locks:
                stack.enter_context(target.writer_lock(t))
            stack.enter_context(pin_scope())
            if _fs_exists(self.spark, sidecar):
                return False
            self._scrub(marker)

            def append(df: DataFrame, table: str) -> None:
                target.write(df.withColumn("__commit", F.lit(marker)),
                             table, mode="append")

            body(append)
            _fs_write_atomic(self.spark, sidecar, marker)  # commit point
            if post_commit is not None:
                post_commit()
        return True

    def _scrub(self, marker: str) -> None:
        target = self.target
        stored = {t: target.read(t) for t in self.appends if target.exists(t)}
        for t, df in stored.items():
            if "__commit" not in df.columns:
                raise ValueError(
                    f"table {t!r} exists without the __commit replay-marker "
                    "column (a batch write?) — appending mixed-schema files "
                    "would break later reads; seed it once with a staged "
                    f"rewrite: write_staged(read({t!r}).withColumn("
                    "'__commit', lit('seed:0')), ...) + commit_staged"
                )
        if not stored:
            return
        mine = F.col("__commit").eqNullSafe(F.lit(marker))
        hits = reduce(DataFrame.unionAll, [
            df.filter(mine).select(F.lit(t).alias("__t"))
            for t, df in stored.items()
        ])
        # isEmpty is one job however many tables and files there are; a
        # collect of limit(1) scans partitions in growing rounds of jobs
        if hits.isEmpty():
            return
        for t in sorted({r["__t"] for r in hits.distinct().collect()}):
            target.write_staged(stored[t].filter(~mine), t)
            target.commit_staged(t)
