"""Streaming merge sink: exactly-once file progress + idempotent upsert."""

from database_transportor_spark.sources.catalog import ParquetCatalog
from database_transportor_spark.streaming.merge_sink import stream_merge_sink


def _append_src(spark, src_dir, rows):
    spark.createDataFrame(rows, ["k", "val", "seq"]).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)


def test_merge_sink_upserts_across_runs(spark, tmp_path):
    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    tgt = ParquetCatalog(spark, str(tmp_path / "tgt"))

    _append_src(spark, src, [(1, "a", 1), (2, "b", 1)])
    n = stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                          checkpoint=ckpt)
    assert n >= 1
    got = {r["k"]: r["val"] for r in tgt.read("t").collect()}
    assert got == {1: "a", 2: "b"}

    # new feed file: update key 1, insert key 3; rerun with the same
    # checkpoint — only the NEW file is processed, the merge applies it
    _append_src(spark, src, [(1, "A", 2), (3, "c", 2)])
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt)
    got = {r["k"]: r["val"] for r in tgt.read("t").collect()}
    assert got == {1: "A", 2: "b", 3: "c"}

    # nothing new: rerun is a no-op
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt)
    assert tgt.read("t").count() == 3


def test_merge_sink_batch_internal_versions(spark, tmp_path):
    """Two versions of one key inside a single batch: highest seq wins."""
    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    tgt = ParquetCatalog(spark, str(tmp_path / "tgt"))

    _append_src(spark, src, [(1, "old", 1), (1, "new", 9), (2, "b", 1)])
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt)
    got = {r["k"]: r["val"] for r in tgt.read("t").collect()}
    assert got == {1: "new", 2: "b"}


def test_merge_sink_default_checkpoint_unique_per_source_target(spark, tmp_path):
    """Two sinks writing the SAME table name from DIFFERENT sources/targets
    must not share a default checkpoint (a shared one silently processes
    zero batches on the second sink)."""
    for i in (1, 2):
        spark.createDataFrame([(i, f"v{i}")], ["k", "v"]).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / f"feed{i}"))
    t1 = ParquetCatalog(spark, str(tmp_path / "t1"))
    t2 = ParquetCatalog(spark, str(tmp_path / "t2"))
    n1 = stream_merge_sink(spark, str(tmp_path / "feed1"), t1, "tab", "k")
    n2 = stream_merge_sink(spark, str(tmp_path / "feed2"), t2, "tab", "k")
    assert n1 >= 1 and n2 >= 1, "second sink must not reuse first's checkpoint"
    assert [r["v"] for r in t1.read("tab").collect()] == ["v1"]
    assert [r["v"] for r in t2.read("tab").collect()] == ["v2"]


def test_merge_sink_cdc_mode_applies_deletes(spark, tmp_path):
    src = str(tmp_path / "cdc_feed")
    ckpt = str(tmp_path / "cdc_ckpt")
    tgt = ParquetCatalog(spark, str(tmp_path / "cdc_tgt"))

    def feed(rows):
        spark.createDataFrame(
            rows, ["k", "val", "op", "seq"]
        ).coalesce(1).write.mode("append").parquet(src)

    feed([(1, "a", "I", 1), (2, "b", "I", 2)])
    n = stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                          checkpoint=ckpt, op_col="op")
    assert n >= 1
    assert {r["k"]: r["val"] for r in tgt.read("t").collect()} == {1: "a", 2: "b"}

    # second run: update 1, DELETE 2, insert 3
    feed([(1, "A", "U", 3), (2, None, "D", 4), (3, "c", "I", 5)])
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt, op_col="op")
    got = {r["k"]: r["val"] for r in tgt.read("t").collect()}
    assert got == {1: "A", 3: "c"}  # key 2 deleted
    # op is feed metadata; seq is RETAINED for cross-batch ordering
    assert set(tgt.read("t").columns) == {"k", "val", "seq"}


def test_merge_sink_cdc_requires_seq(spark, tmp_path):
    import pytest as _pytest

    tgt = ParquetCatalog(spark, str(tmp_path))
    with _pytest.raises(ValueError):
        stream_merge_sink(spark, str(tmp_path), tgt, "t", "k", op_col="op")


def test_merge_sink_cdc_stale_later_batch_loses(spark, tmp_path):
    """Out-of-order files: a LATER micro-batch carrying an OLDER sequence
    must not overwrite or delete newer data — the target's retained seq
    wins (the cdc_merge-vs-cdc_apply distinction)."""
    src = str(tmp_path / "ooo_feed")
    ckpt = str(tmp_path / "ooo_ckpt")
    tgt = ParquetCatalog(spark, str(tmp_path / "ooo_tgt"))

    def feed(rows):
        spark.createDataFrame(
            rows, ["k", "val", "op", "seq"]
        ).coalesce(1).write.mode("append").parquet(src)

    feed([(1, "new", "U", 9), (2, "keep", "I", 9)])
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt, op_col="op")
    # straggler file: stale delete of 1 and stale update of 2
    feed([(1, None, "D", 5), (2, "stale", "U", 4)])
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt, op_col="op")
    got = {r["k"]: r["val"] for r in tgt.read("t").collect()}
    assert got == {1: "new", 2: "keep"}  # both stale changes lost


def test_merge_sink_cdc_first_contact_live_without_seq(spark, tmp_path):
    """A pre-existing live table WITHOUT a sequence column joins the race
    with a typed-NULL seq: untouched live keys must survive (max_by would
    silently drop NULL-ordered rows without the null-safe ordering)."""
    src = str(tmp_path / "fc_feed")
    ckpt = str(tmp_path / "fc_ckpt")
    tgt = ParquetCatalog(spark, str(tmp_path / "fc_tgt"))
    tgt.write(spark.createDataFrame([(1, "old"), (9, "untouched")],
                                    ["k", "val"]), "t", mode="overwrite")
    spark.createDataFrame(
        [(1, "new", "U", 5), (2, "ins", "I", 6)], ["k", "val", "op", "seq"]
    ).coalesce(1).write.mode("append").parquet(src)
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt, op_col="op")
    got = {r["k"]: (r["val"], r["seq"]) for r in tgt.read("t").collect()}
    assert got == {1: ("new", 5), 2: ("ins", 6), 9: ("untouched", None)}


def test_merge_sink_into_versioned_catalog_time_travel(spark, tmp_path):
    """CDC ↔ versioning convergence (VERDICT r3 #8): streaming into a
    VersionedCatalog commits each micro-batch as a version — history
    shows exactly-once batches with lineage notes, time travel reads a
    pre-batch snapshot, and checkpoint replay (restart) creates no
    phantom versions."""
    from database_transportor_spark.sources.versioned import VersionedCatalog

    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    tgt = VersionedCatalog(spark, str(tmp_path / "tgt"), format="parquet")

    _append_src(spark, src, [(1, "a", 1), (2, "b", 1)])
    n1 = stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                           checkpoint=ckpt)
    v_after_1 = tgt.current_version("t")

    _append_src(spark, src, [(1, "A", 2), (3, "c", 2)])
    n2 = stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                           checkpoint=ckpt)

    # exactly-once: one committed version per merged batch, no more
    hist = tgt.history("t")
    assert len(hist) == n1 + n2
    assert all(h["note"].startswith("stream_batch=") for h in hist)
    assert hist[-1]["is_head"]

    # live = post-batch-2; time travel = the pre-batch-2 snapshot
    assert {r["k"]: r["val"] for r in tgt.read("t").collect()} == \
        {1: "A", 2: "b", 3: "c"}
    assert {r["k"]: r["val"] for r in
            tgt.read("t", version=v_after_1).collect()} == {1: "a", 2: "b"}

    # restart with nothing new (checkpoint replay): no phantom versions
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt)
    assert len(tgt.history("t")) == n1 + n2

    # rollback is a pointer move; the rolled-back state reads correctly
    tgt.rollback("t", v_after_1)
    assert {r["k"]: r["val"] for r in tgt.read("t").collect()} == \
        {1: "a", 2: "b"}


def test_merge_sink_versioned_cdc_deletes_with_history(spark, tmp_path):
    """CDC op feed into a VersionedCatalog: a delete batch becomes its own
    version; the deleted key is still present in the prior snapshot."""
    from database_transportor_spark.sources.versioned import VersionedCatalog

    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    tgt = VersionedCatalog(spark, str(tmp_path / "tgt"), format="parquet")

    def feed(rows):
        spark.createDataFrame(
            rows, "k long, val string, seq long, op string"
        ).coalesce(1).write.mode("append").parquet(src)

    feed([(1, "a", 1, "I"), (2, "b", 1, "I")])
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt, op_col="op")
    v1 = tgt.current_version("t")
    feed([(2, None, 2, "D")])
    stream_merge_sink(spark, src, tgt, "t", "k", seq_col="seq",
                      checkpoint=ckpt, op_col="op")
    assert sorted(r["k"] for r in tgt.read("t").collect()) == [1]
    assert sorted(r["k"] for r in
                  tgt.read("t", version=v1).collect()) == [1, 2]


def test_merge_sink_refuses_rebootstrap_after_commits(spark, tmp_path):
    """A sink whose checkpoint has committed batches must refuse to treat
    a missing target as first contact (that would replace the table with
    one micro-batch)."""
    import shutil

    import pytest as _pytest

    from database_transportor_spark import ParquetCatalog
    from database_transportor_spark.streaming.merge_sink import (
        stream_merge_sink,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 10, 1)], "k long, v long, seq long") \
        .write.parquet(src)
    tgt_root = str(tmp_path / "tgt")
    target = ParquetCatalog(spark, tgt_root)
    ckpt = str(tmp_path / "ckpt")
    n = stream_merge_sink(spark, src, target, "t", "k",
                          seq_col="seq", checkpoint=ckpt)
    assert n == 1 and target.read("t").count() == 1
    # simulate a dropped/unreachable target, then push another file
    shutil.rmtree(tgt_root)
    spark.createDataFrame([(2, 20, 2)], "k long, v long, seq long") \
        .write.mode("append").parquet(src)
    with _pytest.raises(Exception, match="refusing to re-bootstrap"):
        stream_merge_sink(spark, src, target, "t", "k",
                          seq_col="seq", checkpoint=ckpt)


def test_merge_sink_empty_source_requires_schema(spark, tmp_path):
    import os

    import pytest as _pytest

    from database_transportor_spark import ParquetCatalog
    from database_transportor_spark.streaming.merge_sink import (
        stream_merge_sink,
    )

    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    target = ParquetCatalog(spark, str(tmp_path / "tgt"))
    with _pytest.raises(ValueError, match="pass schema="):
        stream_merge_sink(spark, src, target, "t", "k", seq_col="seq",
                          checkpoint=str(tmp_path / "ck"))
    # with an explicit schema the sink starts and simply merges 0 batches
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType()),
                         StructField("v", LongType()),
                         StructField("seq", LongType())])
    n = stream_merge_sink(spark, src, target, "t", "k", seq_col="seq",
                          checkpoint=str(tmp_path / "ck2"), schema=schema)
    assert n == 0


def test_cdc_merge_rejects_live_only_columns(spark):
    import pytest as _pytest

    from database_transportor_spark.operators.mutations import cdc_merge

    live = spark.createDataFrame([(1, 10, "keep", 1)],
                                 "k long, v long, legacy string, seq long")
    feed = spark.createDataFrame([(1, 11, 2, "U")],
                                 "k long, v long, seq long, op string")
    with _pytest.raises(ValueError, match="silently drop"):
        cdc_merge(live, feed, "k", op_col="op", seq_col="seq")


# ---------------------------------------------------------------------------
# Streaming incremental join-view sink
# ---------------------------------------------------------------------------

class TestJoinViewSink:
    def _setup(self, spark, tmp_path):
        from database_transportor_spark import ParquetCatalog

        src = str(tmp_path / "facts")
        cat = ParquetCatalog(spark, str(tmp_path / "cat"))
        dim = spark.createDataFrame(
            [(1, "one"), (2, "two")], "k long, name string"
        )
        cat.write(dim, "dim", mode="overwrite")
        return src, cat

    def _facts(self, spark, src, rows, part):
        import os

        os.makedirs(src, exist_ok=True)
        spark.createDataFrame(rows, "k long, v long").coalesce(1) \
            .write.mode("append").parquet(src)

    def test_incremental_appends_equal_batch_join(self, spark, tmp_path):
        from database_transportor_spark.streaming.join_view_sink import (
            stream_join_view_sink,
        )

        src, cat = self._setup(spark, tmp_path)
        ckpt = str(tmp_path / "ckpt")
        self._facts(spark, src, [(1, 10), (2, 20), (9, 90)], 1)
        n1 = stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                                   checkpoint=ckpt)
        assert n1 == 1
        self._facts(spark, src, [(1, 11)], 2)
        n2 = stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                                   checkpoint=ckpt)
        assert n2 == 1
        got = sorted(
            (r["k"], r["v"], r["name"])
            for r in cat.read("view").collect()
        )
        # k=9 has no dim row (inner join); both batches present
        assert got == [(1, 10, "one"), (1, 11, "one"), (2, 20, "two")]

    def test_drained_checkpoint_appends_nothing(self, spark, tmp_path):
        from database_transportor_spark.streaming.join_view_sink import (
            stream_join_view_sink,
        )

        src, cat = self._setup(spark, tmp_path)
        ckpt = str(tmp_path / "ckpt")
        self._facts(spark, src, [(1, 10)], 1)
        stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                              checkpoint=ckpt)
        n = stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                                  checkpoint=ckpt)
        assert n == 0
        assert cat.read("view").count() == 1

    def test_replay_marker_skips_double_append(self, spark, tmp_path):
        """Simulate a replay: a wiped checkpoint under the SAME path (same
        marker namespace) re-fires batch 0 without its commit sidecar, so
        the replay scrubs the batch's marker rows and redoes it — the
        view must not double-count."""
        import shutil

        from database_transportor_spark.streaming.join_view_sink import (
            stream_join_view_sink,
        )

        src, cat = self._setup(spark, tmp_path)
        ckpt = str(tmp_path / "ckpt")
        self._facts(spark, src, [(1, 10)], 1)
        stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                              checkpoint=ckpt)
        # crash-replay: wipe the checkpoint (Spark's logs and the commit
        # sidecars) so batch 0 re-fires under the SAME path (namespace)
        shutil.rmtree(ckpt)
        n = stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                                  checkpoint=ckpt)
        assert n == 1  # marker rows scrubbed, batch redone once
        assert cat.read("view").count() == 1

    def test_dim_updates_enrich_future_batches_only(self, spark, tmp_path):
        from database_transportor_spark.streaming.join_view_sink import (
            stream_join_view_sink,
        )

        src, cat = self._setup(spark, tmp_path)
        ckpt = str(tmp_path / "ckpt")
        self._facts(spark, src, [(1, 10)], 1)
        stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                              checkpoint=ckpt)
        dim2 = spark.createDataFrame([(1, "uno")], "k long, name string")
        cat.write(dim2, "dim", mode="overwrite")
        self._facts(spark, src, [(1, 12)], 2)
        stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                              checkpoint=ckpt)
        got = {(r["v"], r["name"]) for r in cat.read("view").collect()}
        assert got == {(10, "one"), (12, "uno")}
