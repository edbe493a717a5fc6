"""Streaming BM25 posting-index sink: append-only maintenance, first
arrival wins, replay idempotence, serve parity with the batch path."""

import pytest

from database_transportor_spark.sources.catalog import ParquetCatalog
from database_transportor_spark.streaming.bm25_sink import stream_bm25_sink


def _write(spark, src, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
        "append").parquet(src)


def test_streamed_index_equals_batch_index(spark, tmp_path):
    from database_transportor_spark.operators.text import (
        bm25_index, bm25_topk, bm25_topk_indexed,
    )

    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    b1 = [(1, "apple banana apple"), (2, "cherry durian")]
    b2 = [(3, "banana fig"), (4, "apple fig grape")]
    _write(spark, src, b1)
    n = stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
    assert n == 1
    _write(spark, src, b2)
    stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)

    docs = spark.createDataFrame(b1 + b2, ["doc_id", "text"])
    want = sorted(map(tuple, bm25_index(docs).collect()))
    got = sorted(map(tuple, cat.read("idx").drop("__commit").select(
        "token", "doc_id", "tf", "dl").collect()))
    assert got == want
    # serve parity: the streamed index answers like the direct path
    q = spark.createDataFrame([(1, "apple fig")], ["query_id", "query"])
    via = sorted(map(tuple, bm25_topk_indexed(
        cat.read("idx"), q, k=10).collect()))
    direct = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    assert via == direct


def test_first_arrival_wins_and_replay_idempotent(spark, tmp_path):
    src = str(tmp_path / "feed2")
    ckpt = str(tmp_path / "ckpt2")
    cat = ParquetCatalog(spark, str(tmp_path / "cat2"))
    _write(spark, src, [(1, "original words"), (1, "zz duplicate in batch")])
    stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
    # within-batch collapse: lexicographically-smallest text won
    toks = {r["token"] for r in cat.read("idx").collect()}
    assert toks == {"original", "words"}
    # doc 1 re-arrives with new text: first arrival wins, no re-index
    _write(spark, src, [(1, "recrawled text"), (2, "fresh doc")])
    stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
    by_doc = {}
    for r in cat.read("idx").collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["token"])
    assert by_doc[1] == {"original", "words"}
    assert by_doc[2] == {"fresh", "doc"}
    # drained checkpoint: replay applies nothing
    before = cat.read("idx").count()
    n = stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
    assert n == 0 and cat.read("idx").count() == before


def test_empty_source_needs_schema(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "cat3"))
    with pytest.raises(ValueError, match="schema"):
        stream_bm25_sink(spark, str(tmp_path / "nofeed"), cat, "idx")


def test_sink_index_compacts_via_gate_maintain(spark, tmp_path):
    """The per-batch file accrual compacts out-of-band with the same
    gate_maintain entry point the gates use; postings and served
    results are unchanged."""
    from database_transportor_spark.streaming.dedup_gate import (
        gate_maintain,
    )

    src = str(tmp_path / "feed4")
    ckpt = str(tmp_path / "ckpt4")
    cat = ParquetCatalog(spark, str(tmp_path / "cat4"))
    for i in range(4):
        _write(spark, src, [(10 * i + j, f"tok{i} word{j} common")
                            for j in range(3)])
        stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
    before = sorted(map(tuple, cat.read("idx").collect()))
    r = gate_maintain(spark, cat, "idx", compact_files=2)
    assert r["compacted"] and r["files_after"] <= 2 < r["files_before"]
    assert sorted(map(tuple, cat.read("idx").collect())) == before


def test_batch_seeded_index_without_marker_is_refused(spark, tmp_path):
    """A pre-existing index lacking the __commit column (a plain batch
    bm25_index write) is refused with a migration hint instead of
    appending mixed-schema files."""
    from database_transportor_spark.operators.text import bm25_index

    src = str(tmp_path / "feed5")
    cat = ParquetCatalog(spark, str(tmp_path / "cat5"))
    cat.write(bm25_index(spark.createDataFrame(
        [(1, "seed words")], ["doc_id", "text"])), "idx", mode="overwrite")
    _write(spark, src, [(2, "new doc")])
    with pytest.raises(Exception, match="__commit"):
        stream_bm25_sink(spark, src, cat, "idx",
                         checkpoint=str(tmp_path / "ckpt5"))
    # the documented one-time seed rewrite unblocks it
    from pyspark.sql import functions as F
    cat.write_staged(
        cat.read("idx").withColumn("__commit", F.lit("seed:0")), "idx")
    cat.commit_staged("idx")
    stream_bm25_sink(spark, src, cat, "idx",
                     checkpoint=str(tmp_path / "ckpt5b"))
    by_doc = {}
    for r in cat.read("idx").collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["token"])
    assert by_doc == {1: {"seed", "words"}, 2: {"new", "doc"}}


def test_stats_table_auto_refresh_matches_rebuild(spark, tmp_path):
    """stats_table= keeps a bm25_index_stats table fresh per batch —
    exactly equal to a from-scratch rebuild, and the stats= serve path
    passes its staleness guard and matches the direct scorer."""
    from database_transportor_spark.operators.text import (
        bm25_index, bm25_index_stats, bm25_topk, bm25_topk_indexed,
    )

    src = str(tmp_path / "feed6")
    ckpt = str(tmp_path / "ckpt6")
    cat = ParquetCatalog(spark, str(tmp_path / "cat6"))
    b1 = [(1, "apple banana apple"), (2, "cherry durian")]
    b2 = [(3, "banana fig"), (4, "apple fig grape")]
    _write(spark, src, b1)
    stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt,
                     stats_table="idx_stats")
    _write(spark, src, b2)
    stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt,
                     stats_table="idx_stats")
    docs = spark.createDataFrame(b1 + b2, ["doc_id", "text"])
    want = sorted(map(tuple, bm25_index_stats(bm25_index(docs)).collect()))
    got = sorted(map(tuple, cat.read("idx_stats").collect()))
    assert got == want
    q = spark.createDataFrame([(1, "apple fig")], ["query_id", "query"])
    served = sorted(map(tuple, bm25_topk_indexed(
        cat.read("idx"), q, k=10, stats=cat.read("idx_stats")).collect()))
    direct = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    assert served == direct


def test_dropped_index_with_surviving_checkpoint_fails_loudly(
        spark, tmp_path):
    """ADVICE r9: an index table dropped/rebuilt under a surviving
    checkpoint must not silently never re-index seen files."""
    import shutil

    src = str(tmp_path / "feed8")
    ckpt = str(tmp_path / "ckpt8")
    cat = ParquetCatalog(spark, str(tmp_path / "cat8"))
    _write(spark, src, [(1, "alpha beta")])
    stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
    shutil.rmtree(cat.path("idx"))
    _write(spark, src, [(2, "gamma delta")])
    with pytest.raises(ValueError, match="dropped or rebuilt"):
        stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)


def test_default_checkpoint_lives_under_catalog_root(spark, tmp_path):
    """ADVICE r9: the default checkpoint is placed under the catalog
    root (dies with the data directory), not the system temp dir."""
    import os

    src = str(tmp_path / "feed9")
    root = str(tmp_path / "cat9")
    cat = ParquetCatalog(spark, root)
    _write(spark, src, [(1, "alpha beta")])
    stream_bm25_sink(spark, src, cat, "idx")
    ckpts = os.listdir(os.path.join(root, "_checkpoints"))
    assert len(ckpts) == 1 and ckpts[0].startswith("bm25_ckpt_idx_")


def test_gate_then_bm25_sink_composition(spark, tmp_path):
    """The documented deployment shape: a dedup gate admits documents to
    the clean table, and the BM25 sink indexes THE CLEAN TABLE's
    directory — rejected near-dups never reach the index, and the index
    equals a batch build over exactly the accepted corpus."""
    from database_transportor_spark.operators.text import (
        bm25_index, bm25_topk, bm25_topk_indexed,
    )
    from database_transportor_spark.sources.versioned import (
        VersionedCatalog,
    )
    from database_transportor_spark.streaming.dedup_gate import (
        stream_dedup_gate,
    )

    feed = str(tmp_path / "feed")
    cat = VersionedCatalog(spark, str(tmp_path / "cat"))
    docs = [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"),
            (3, "alpha beta gamma delta"),  # exact dup of 1 -> rejected
            (4, "iota kappa lambda mu")]
    spark.createDataFrame(docs, ["doc_id", "text"]).coalesce(1) \
        .write.parquet(feed)
    stream_dedup_gate(
        spark, feed, cat, "clean", "gate_idx", id_col="doc_id",
        text_col="text", threshold=0.9,
        checkpoint=str(tmp_path / "gck"))
    accepted = {r["doc_id"] for r in cat.read("clean").collect()}
    assert accepted == {1, 2, 4}
    # the clean table's CURRENT version dir is a parquet directory the
    # sink can stream from (availableNow drains it)
    clean_dir = cat.path("clean")
    stream_bm25_sink(spark, clean_dir, cat, "idx",
                     checkpoint=str(tmp_path / "bck"),
                     stats_table="idx_stats")
    got_ids = {r["doc_id"] for r in cat.read("idx").collect()}
    assert got_ids == {1, 2, 4}
    accepted_docs = cat.read("clean").select("doc_id", "text")
    want = sorted(map(tuple, bm25_index(accepted_docs).collect()))
    got = sorted(map(tuple, cat.read("idx").select(
        "token", "doc_id", "tf", "dl").collect()))
    assert got == want
    # end-to-end serve through the sink-maintained stats
    q = spark.createDataFrame([(1, "alpha kappa")], ["query_id", "query"])
    via = sorted(map(tuple, bm25_topk_indexed(
        cat.read("idx"), q, stats=cat.read("idx_stats")).collect()))
    direct = sorted(map(tuple, bm25_topk(accepted_docs, q).collect()))
    assert via == direct


def test_uri_checkpoint_sidecars_work(spark, tmp_path):
    """Round-10 review fix: sidecar bookkeeping goes through the Hadoop
    FileSystem API, so a URI checkpoint (file:, hdfs:, s3a:) works —
    the round-9-era os.* calls failed or mis-rooted on any scheme."""
    src = str(tmp_path / "feedu")
    ckpt = f"file:{tmp_path}/ckptu"  # scheme-qualified URI
    cat = ParquetCatalog(spark, str(tmp_path / "catu"))
    _write(spark, src, [(1, "alpha beta")])
    n = stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
    assert n == 1
    import os

    commits = [f for f in os.listdir(f"{tmp_path}/ckptu/_dbt_commits")
               if not f.startswith(".")]  # local FS adds .crc companions
    assert commits == ["0"]
    # replay drains without re-applying; dropped-index guard fires
    # through the same FS probe
    assert stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt) == 0
    import shutil

    shutil.rmtree(cat.path("idx"))
    _write(spark, src, [(2, "gamma delta")])
    with pytest.raises(ValueError, match="dropped or rebuilt"):
        stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt)
