"""Streaming ingest dedup gate: arrival-order near-dup rejection with a
persisted posting index — cross-batch rejection, within-batch min-id
survival, replay idempotence, crash-window recovery."""

import pyspark.sql.functions as F

from database_transportor_spark.sources.catalog import ParquetCatalog
from database_transportor_spark.streaming.dedup_gate import stream_dedup_gate

# planted corpus: ids 1/2 near-identical (clique), 3 unique, 10 dups 1
# across batches, 11 unique, 12 too short to shingle (always kept)
D1 = "the quick brown fox jumps over the lazy dog again and again"
D2 = "the quick brown fox jumps over the lazy dog again and again ok"
D3 = "completely different content about spark streaming state stores"
D10 = "the quick brown fox jumps over the lazy dog again and again yes"
D11 = "another unique document mentioning parquet files and shuffles"
D12 = "too short"


def _write(spark, src, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _run(spark, tmp_path, suffix=""):
    src = str(tmp_path / f"feed{suffix}")
    ckpt = str(tmp_path / f"ckpt{suffix}")
    cat = ParquetCatalog(spark, str(tmp_path / f"cat{suffix}"))
    return src, ckpt, cat


def test_gate_within_and_across_batches(spark, tmp_path):
    src, ckpt, cat = _run(spark, tmp_path)
    _write(spark, src, [(1, D1), (2, D2), (3, D3)])
    n = stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt)
    assert n == 1
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3]  # 2 rejected by smaller-id mate 1

    # batch 2: 10 dups accepted doc 1 (rejected via the index, whose
    # text is never re-read); 11 unique; 12 shingle-less (kept)
    _write(spark, src, [(10, D10), (11, D11), (12, D12)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11, 12]

    # index holds postings only for accepted, shingle-bearing docs
    idx_ids = {r["__id"] for r in
               cat.read("idx").select("__id").distinct().collect()}
    assert idx_ids == {1, 3, 11}


def test_gate_replay_is_idempotent(spark, tmp_path):
    src, ckpt, cat = _run(spark, tmp_path)
    _write(spark, src, [(1, D1), (2, D2)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    before = cat.read("clean").count(), cat.read("idx").count()
    # drained checkpoint: re-invoking processes nothing and appends nothing
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    assert (cat.read("clean").count(), cat.read("idx").count()) == before


def test_gate_rejects_bad_threshold(spark, tmp_path):
    src, ckpt, cat = _run(spark, tmp_path)
    _write(spark, src, [(1, D1)])
    try:
        stream_dedup_gate(spark, src, cat, "c", "i", "doc_id", "text",
                          threshold=0.0, checkpoint=ckpt)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "threshold" in str(e)


# ---------------------------------------------------------------------------
# Semantic (embedding) gate
# ---------------------------------------------------------------------------

V1 = [1.0, 0.0, 0.0, 0.0]
V2 = [0.99, 0.1, 0.0, 0.0]   # cos(V1, V2) ≈ 0.995 — near-dup of V1
V3 = [0.0, 1.0, 0.0, 0.0]
V10 = [0.98, 0.05, 0.0, 0.0]  # near-dup of V1, later batch
V11 = [0.0, 0.0, 1.0, 0.0]
CENTROIDS = [(0, [1.0, 0.0, 0.0, 0.0]), (100, [0.0, 1.0, 0.0, 0.0]),
             (200, [0.0, 0.0, 1.0, 0.0])]


def _write_vecs(spark, src, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(src)


def _semantic_setup(spark, tmp_path):
    from database_transportor_spark.sources.catalog import ParquetCatalog

    src = str(tmp_path / "vfeed")
    ckpt = str(tmp_path / "vckpt")
    cat = ParquetCatalog(spark, str(tmp_path / "vcat"))
    cat.write(
        spark.createDataFrame(CENTROIDS, "cid long, ce array<double>"),
        "cent", mode="overwrite",
    )
    return src, ckpt, cat


def test_semantic_gate_within_and_across_batches(spark, tmp_path):
    from database_transportor_spark.streaming.dedup_gate import (
        stream_semantic_gate,
    )

    src, ckpt, cat = _semantic_setup(spark, tmp_path)
    _write_vecs(spark, src, [(1, V1), (2, V2), (3, V3)])
    n = stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                             "embedding", "cent", threshold=0.9,
                             checkpoint=ckpt)
    assert n == 1
    kept = sorted(r["vec_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3]  # 2 rejected by smaller-id bucket-mate 1

    _write_vecs(spark, src, [(10, V10), (11, V11)])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt)
    kept = sorted(r["vec_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]  # 10 rejected via the index

    # index rows carry bucket assignments for accepted vectors only
    got = {r["__id"]: r["__bucket"] for r in cat.read("idx").collect()}
    assert got == {1: 0, 3: 100, 11: 200}


def test_semantic_gate_replay_and_crash_window(spark, tmp_path):
    import hashlib

    from database_transportor_spark.streaming.dedup_gate import (
        stream_semantic_gate,
    )

    src, ckpt, cat = _semantic_setup(spark, tmp_path)
    _write_vecs(spark, src, [(1, V1), (3, V3)])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt)
    # crashed attempt of batch 1 planted vec 11's index row already
    ns = hashlib.sha256(ckpt.encode()).hexdigest()[:12]
    planted = spark.createDataFrame(
        [(11, V11, 200, f"{ns}:1")],
        "__id long, __v array<double>, __bucket long, __commit string",
    )
    cat.write(planted, "idx", mode="append")
    idx_before = cat.read("idx").count()

    _write_vecs(spark, src, [(11, V11)])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt)
    kept = sorted(r["vec_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]  # self-shadow excluded, clean row landed
    assert cat.read("idx").count() == idx_before  # no double-append

    # drained checkpoint: no-op
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt)
    assert cat.read("clean").count() == 3


def test_semantic_gate_empty_centroids_actionable(spark, tmp_path):
    from database_transportor_spark.streaming.dedup_gate import (
        stream_semantic_gate,
    )

    src, ckpt, cat = _semantic_setup(spark, tmp_path)
    cat.write(
        spark.createDataFrame([], "cid long, ce array<double>"),
        "cent", mode="overwrite",
    )
    _write_vecs(spark, src, [(1, V1)])
    try:
        stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                             "embedding", "cent", checkpoint=ckpt)
        raise AssertionError("expected failure")
    except Exception as e:
        assert "centroid table" in str(e)


def test_gate_index_survives_compaction(spark, tmp_path):
    """The index accrues one file set per batch; the existing compaction
    maintenance rewrites it through the staged swap — markers and
    rejection behavior must survive the rewrite."""
    from database_transportor_spark.operators.maintenance import (
        compact_table,
    )

    src, ckpt, cat = _run(spark, tmp_path)
    _write(spark, src, [(1, D1), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    n_files = compact_table(cat, "idx")
    assert n_files >= 1
    # post-compaction: a dup of accepted doc 1 must still be rejected
    # via the rewritten index, and a fresh doc accepted
    _write(spark, src, [(10, D10), (11, D11)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]


def test_gate_sharded_index_is_result_transparent(spark, tmp_path):
    """index_shards (round 7): identical accepted sets with and without
    the Hive-sharded index layout, the layout actually partitions on
    disk, and the probe's shard filter reaches the scan as a partition
    filter."""
    import os

    outs = {}
    for label, shards in (("plain", None), ("sharded", 8)):
        src, ckpt, cat = _run(spark, tmp_path, suffix=f"_{label}")
        _write(spark, src, [(1, D1), (2, D2), (3, D3)])
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt, index_shards=shards)
        _write(spark, src, [(10, D10), (11, D11), (12, D12)])
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt, index_shards=shards)
        outs[label] = sorted(
            r["doc_id"] for r in cat.read("clean").collect())
        if shards:
            idx_path = cat.path("idx")
            dirs = [d for d in os.listdir(idx_path)
                    if d.startswith("__shard=")]
            assert dirs, "index is not Hive-partitioned by __shard"
            # partition column round-trips through the directory layout
            got = {tuple(r) for r in cat.read("idx")
                   .select("__h", "__shard").limit(50).collect()}
            assert all(h % 8 == s for h, s in got)
    assert outs["plain"] == outs["sharded"] == [1, 3, 11, 12]


def test_gate_sharded_index_requires_file_catalog(spark, tmp_path):
    import pytest

    from database_transportor_spark import MemoryCatalog

    with pytest.raises(ValueError, match="file catalog"):
        stream_dedup_gate(spark, str(tmp_path / "nofeed"), MemoryCatalog(),
                          "clean", "idx", "doc_id", "text",
                          index_shards=8)
    with pytest.raises(ValueError, match="index_shards"):
        stream_dedup_gate(
            spark, str(tmp_path / "nofeed"),
            ParquetCatalog(spark, str(tmp_path / "nc")),
            "clean", "idx", "doc_id", "text", index_shards=1)


def test_semantic_gate_partitioned_index_transparent(spark, tmp_path):
    import os

    from database_transportor_spark.streaming.dedup_gate import (
        stream_semantic_gate,
    )

    outs = {}
    for label, part in (("plain", False), ("parted", True)):
        src = str(tmp_path / f"vfeed_{label}")
        ckpt = str(tmp_path / f"vckpt_{label}")
        cat = ParquetCatalog(spark, str(tmp_path / f"vcat_{label}"))
        cat.write(
            spark.createDataFrame(CENTROIDS, "cid long, ce array<double>"),
            "cent", mode="overwrite",
        )
        _write_vecs(spark, src, [(1, V1), (2, V2), (3, V3)])
        stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                             "embedding", "cent", threshold=0.9,
                             checkpoint=ckpt, partition_index=part)
        _write_vecs(spark, src, [(10, V10)])
        stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                             "embedding", "cent", threshold=0.9,
                             checkpoint=ckpt, partition_index=part)
        outs[label] = sorted(
            r["vec_id"] for r in cat.read("clean").collect())
        if part:
            dirs = [d for d in os.listdir(cat.path("idx"))
                    if d.startswith("__bucket=")]
            assert dirs, "index is not Hive-partitioned by __bucket"
    assert outs["plain"] == outs["parted"]
    assert outs["plain"] == [1, 3]  # 2 within-batch dup, 10 index dup


def test_gate_sharding_existing_unsharded_index_is_rejected(spark, tmp_path):
    # review r7: enabling index_shards over a pre-existing flat index
    # would append partition dirs beside flat files -> unreadable mixed
    # layout; the gate must refuse with a migration message instead
    import pytest

    src, ckpt, cat = _run(spark, tmp_path, suffix="_mig")
    _write(spark, src, [(1, D1), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    _write(spark, src, [(11, D11)])
    with pytest.raises(ValueError, match="non-partitioned layout"):
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt, index_shards=8)


def test_gate_shard_count_is_pinned(spark, tmp_path):
    # probing pmod(h, N') against a pmod(h, N) layout silently loses
    # matches — a different shard count must be rejected
    import pytest

    src, ckpt, cat = _run(spark, tmp_path, suffix="_pin")
    _write(spark, src, [(1, D1), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=8)
    _write(spark, src, [(11, D11)])
    with pytest.raises(ValueError, match="8 shards"):
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt, index_shards=16)
    # the recorded count keeps working
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=8)
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]


def test_sharded_index_survives_staged_compaction(spark, tmp_path):
    # review r7: write_staged used to drop the partition layout, so a
    # compaction rewrote the index flat and the next partitioned append
    # corrupted the directory structure
    from database_transportor_spark.operators.maintenance import (
        compact_table,
    )

    src, ckpt, cat = _run(spark, tmp_path, suffix="_cmp")
    _write(spark, src, [(1, D1), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=8)
    compact_table(cat, "idx")
    import os

    dirs = [d for d in os.listdir(cat.path("idx"))
            if d.startswith("__shard=")]
    assert dirs, "compaction dropped the Hive partition layout"
    # the gate keeps working against the compacted index
    _write(spark, src, [(10, D10), (11, D11)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=8)
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]


def test_gate_unsharded_rerun_adopts_shard_layout(spark, tmp_path):
    """Reverse-direction guard (review r8): omitting index_shards
    against a sharded index must ADOPT the pinned shard count (the meta
    table knows it), not append flat files beside the __shard= dirs."""
    import os

    src, ckpt, cat = _run(spark, tmp_path, suffix="_adopt")
    _write(spark, src, [(1, D1), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=8)
    _write(spark, src, [(10, D10), (11, D11)])
    # no index_shards passed — must adopt 8 from the meta table
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]  # 10 rejected via the index => probe worked
    root = cat.path("idx")
    flat = [f for f in os.listdir(root)
            if os.path.isfile(os.path.join(root, f))
            and not f.startswith(("_", "."))]
    assert not flat, f"flat files appended beside __shard= dirs: {flat}"
    assert any(d.startswith("__shard=") for d in os.listdir(root))


def test_gate_sharded_dirs_without_meta_are_rejected(spark, tmp_path):
    """If the meta table is gone the probe modulus is unrecoverable —
    an unsharded rerun must refuse, not brick the layout."""
    import shutil

    import pytest

    src, ckpt, cat = _run(spark, tmp_path, suffix="_nometa")
    _write(spark, src, [(1, D1), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=8)
    shutil.rmtree(cat.path("idx__shardmeta"))
    _write(spark, src, [(11, D11)])
    with pytest.raises(ValueError, match="meta table"):
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt)


def test_semantic_gate_unpartitioned_rerun_adopts_layout(spark, tmp_path):
    import os

    from database_transportor_spark.streaming.dedup_gate import (
        stream_semantic_gate,
    )

    src = str(tmp_path / "vfeed_adopt")
    ckpt = str(tmp_path / "vckpt_adopt")
    cat = ParquetCatalog(spark, str(tmp_path / "vcat_adopt"))
    cat.write(
        spark.createDataFrame(CENTROIDS, "cid long, ce array<double>"),
        "cent", mode="overwrite",
    )
    _write_vecs(spark, src, [(1, V1), (3, V3)])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt, partition_index=True)
    _write_vecs(spark, src, [(10, V10), (11, V11)])
    # partition_index omitted — must adopt the __bucket= layout
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt)
    kept = sorted(r["vec_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]  # 10 rejected via the index
    root = cat.path("idx")
    flat = [f for f in os.listdir(root)
            if os.path.isfile(os.path.join(root, f))
            and not f.startswith(("_", "."))]
    assert not flat, f"flat files appended beside __bucket= dirs: {flat}"


def test_gate_compaction_threshold(spark, tmp_path):
    """compact_files (round 8): a gate run past the threshold leaves
    <=1 file per shard and identical accept/reject decisions."""
    import os

    batches = [
        [(1, D1), (2, D2), (3, D3)],
        [(10, D10), (11, D11)],
        [(20, D11 + " zz"), (21, "fresh words entirely new content here")],
    ]
    outs = {}
    for label, cf in (("plain", None), ("compacted", 8)):
        src, ckpt, cat = _run(spark, tmp_path, suffix=f"_cf_{label}")
        for rows in batches:
            _write(spark, src, rows)
            stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                              "text", checkpoint=ckpt, index_shards=8,
                              compact_files=cf)
        outs[label] = sorted(
            r["doc_id"] for r in cat.read("clean").collect())
        if cf is not None:
            root = cat.path("idx")
            for d in os.listdir(root):
                if not d.startswith("__shard="):
                    continue
                files = [f for f in os.listdir(os.path.join(root, d))
                         if not f.startswith(("_", "."))]
                assert len(files) <= 1, f"{d} holds {len(files)} files"
    assert outs["plain"] == outs["compacted"]
    assert outs["plain"] == [1, 3, 11, 21]


def test_gate_compaction_requires_file_catalog(spark, tmp_path):
    import pytest

    from database_transportor_spark import MemoryCatalog

    with pytest.raises(ValueError, match="file catalog"):
        stream_dedup_gate(spark, str(tmp_path / "nofeed2"), MemoryCatalog(),
                          "clean", "idx", "doc_id", "text",
                          compact_files=4)


def test_semantic_gate_retrain_milestone(spark, tmp_path):
    """retrain_at (round 8): crossing the growth milestone retrains the
    codebook (k scaled to the density target), re-buckets the index, and
    planted near-dups are still rejected ACROSS the retrain boundary."""
    from database_transportor_spark.streaming.dedup_gate import (
        stream_semantic_gate,
    )

    src = str(tmp_path / "vfeed_rt")
    ckpt = str(tmp_path / "vckpt_rt")
    cat = ParquetCatalog(spark, str(tmp_path / "vcat_rt"))
    # degenerate 1-centroid codebook: every vector lands in one bucket
    cat.write(
        spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                              "cid long, ce array<double>"),
        "cent", mode="overwrite",
    )

    def run():
        return stream_semantic_gate(
            spark, src, cat, "clean", "idx", "vec_id", "embedding",
            "cent", threshold=0.9, checkpoint=ckpt,
            retrain_at=2.0, retrain_target_rows=1)

    _write_vecs(spark, src, [(1, V1), (3, V3)])
    run()  # baseline recorded: 2 rows at (first) train
    assert int(cat.read("idx__trainmeta").first()["rows_at_train"]) == 2
    _write_vecs(spark, src, [(20, [0.0, 0.0, 1.0, 0.0]),
                             (21, [0.0, 0.0, 0.0, 1.0])])
    run()  # index 4 rows >= 2x baseline -> retrain, k = n/target = 4
    assert cat.read("cent").count() == 4
    assert int(cat.read("idx__trainmeta").first()["rows_at_train"]) == 4
    # the index was re-bucketed under the new codebook: 4 distinct buckets
    assert cat.read("idx").select("__bucket").distinct().count() == 4
    # across the boundary: a planted copy of vec 1 still rejected, a
    # genuinely new direction still accepted
    _write_vecs(spark, src, [(30, V2), (31, [0.5, 0.5, 0.5, 0.5])])
    run()
    kept = sorted(r["vec_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 20, 21, 31]

    # invariant behind the round-8 recall fix: every stored index bucket
    # must equal what the PROBE path computes from the STORED codebook
    # (stack -> norm -> divide) — a 1-ulp divergence here flips near-tie
    # assignments and silently un-indexes vectors (seen at the x200
    # retrain: 4/250 planted copies accepted)
    import numpy as np
    from pyspark.sql import functions as F

    from database_transportor_spark.operators.similarity import (
        _bucket_assigner,
    )

    cent = sorted((r["cid"], r["ce"]) for r in cat.read("cent").collect())
    ids = np.array([c for c, _ in cent], dtype=np.int64)
    cmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in cent])
    norms = np.linalg.norm(cmat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    cmat = cmat / norms
    mism = (
        cat.read("idx")
        .withColumn("__pb", _bucket_assigner(ids, cmat, 1)(F.col("__v"))
                    .getItem(0))
        .filter("__pb != __bucket")
        .count()
    )
    assert mism == 0


def test_semantic_gate_nprobe_recovers_boundary_neardups(spark, tmp_path):
    """nprobe=1 misses a near-dup that lands across a Voronoi boundary
    from its source (documented IVF trade); nprobe=2 catches it both
    within a batch and via the index — decisions a strict superset."""
    import math

    import pytest

    from database_transportor_spark.sources.catalog import ParquetCatalog
    from database_transportor_spark.streaming.dedup_gate import (
        stream_semantic_gate,
    )

    n81 = math.sqrt(1.81)
    u = [1.0 / n81, 0.9 / n81, 0.0, 0.0]   # nearest c0, near boundary
    v = [0.9 / n81, 1.0 / n81, 0.0, 0.0]   # nearest c100; cos(u,v)≈.9945

    # --- nprobe=1: the documented miss ---
    src, ckpt, cat = _semantic_setup(spark, tmp_path)
    _write_vecs(spark, src, [(1, u)])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt)
    _write_vecs(spark, src, [(2, v)])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt)
    assert sorted(r["vec_id"] for r in cat.read("clean").collect()) == [1, 2]

    # --- nprobe=2, same vectors in ONE batch: intra-batch catch ---
    src2 = str(tmp_path / "vfeed2")
    ckpt2 = str(tmp_path / "vckpt2")
    cat2 = ParquetCatalog(spark, str(tmp_path / "vcat2"))
    cat2.write(
        spark.createDataFrame(CENTROIDS, "cid long, ce array<double>"),
        "cent", mode="overwrite",
    )
    _write_vecs(spark, src2, [(1, u), (2, v)])
    stream_semantic_gate(spark, src2, cat2, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt2, nprobe=2)
    assert sorted(r["vec_id"] for r in cat2.read("clean").collect()) == [1]

    # --- nprobe=2, cross-batch: caught via the index from bucket 0 ---
    _write_vecs(spark, src2, [(3, v)])
    stream_semantic_gate(spark, src2, cat2, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt2, nprobe=2)
    assert sorted(r["vec_id"] for r in cat2.read("clean").collect()) == [1]
    # index rows stay single-assigned at the PRIMARY bucket
    got = {r["__id"]: r["__bucket"] for r in cat2.read("idx").collect()}
    assert got == {1: 0}

    with pytest.raises(ValueError, match="nprobe"):
        stream_semantic_gate(spark, src2, cat2, "clean", "idx", "vec_id",
                             "embedding", "cent", checkpoint=ckpt2,
                             nprobe=0)


def test_gate_maintain_external_compaction(spark, tmp_path):
    """maintenance='external' (round 9): the gate runs no milestones;
    gate_maintain() compacts out-of-band, decisions stay identical to
    the inline-compaction run, and the next ingest run probes the
    compacted index transparently."""
    import os

    from database_transportor_spark.streaming.dedup_gate import (
        gate_maintain,
    )

    batches = [
        [(1, D1), (2, D2), (3, D3)],
        [(10, D10), (11, D11)],
        [(20, D11 + " zz"), (21, "fresh words entirely new content here")],
    ]
    src, ckpt, cat = _run(spark, tmp_path, suffix="_ext")
    for rows in batches[:2]:
        _write(spark, src, rows)
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt, index_shards=8,
                          maintenance="external")
    before = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert before == [1, 3, 11]
    r = gate_maintain(spark, cat, "idx", clean_table="clean",
                      compact_files=8)
    assert r["compacted"] and r["files_after"] <= 8 < r["files_before"]
    root = cat.path("idx")
    for d in os.listdir(root):
        if d.startswith("__shard="):
            files = [f for f in os.listdir(os.path.join(root, d))
                     if not f.startswith(("_", "."))]
            assert len(files) <= 1
    # below-threshold second call is a no-op
    r2 = gate_maintain(spark, cat, "idx", compact_files=8)
    assert not r2["compacted"] and r2["files_after"] == r2["files_before"]
    # next ingest run reads the compacted, still-sharded index
    _write(spark, src, batches[2])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                      "text", checkpoint=ckpt, index_shards=8,
                      maintenance="external")
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11, 21]  # same decisions as the inline run


def test_semantic_gate_external_retrain_parity(spark, tmp_path):
    """External retrain at the same milestone boundary produces the
    SAME accepted set, codebook size, trainmeta, and rebucketed index
    as the inline retrain_at run (test_semantic_gate_retrain_milestone
    fixture replayed through gate_maintain)."""
    from database_transportor_spark.streaming.dedup_gate import (
        gate_maintain, stream_semantic_gate,
    )

    outs = {}
    for mode in ("inline", "external"):
        src = str(tmp_path / f"vfeed_{mode}")
        ckpt = str(tmp_path / f"vckpt_{mode}")
        cat = ParquetCatalog(spark, str(tmp_path / f"vcat_{mode}"))
        cat.write(
            spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                                  "cid long, ce array<double>"),
            "cent", mode="overwrite",
        )

        def run():
            kw = (dict(retrain_at=2.0, retrain_target_rows=1)
                  if mode == "inline" else dict(maintenance="external"))
            return stream_semantic_gate(
                spark, src, cat, "clean", "idx", "vec_id", "embedding",
                "cent", threshold=0.9, checkpoint=ckpt, **kw)

        def maintain():
            if mode == "external":
                return gate_maintain(
                    spark, cat, "idx", centroid_table="cent",
                    clean_table="clean", retrain_at=2.0,
                    retrain_target_rows=1)

        _write_vecs(spark, src, [(1, V1), (3, V3)])
        run(); maintain()   # external: first contact records baseline=2
        _write_vecs(spark, src, [(20, [0.0, 0.0, 1.0, 0.0]),
                                 (21, [0.0, 0.0, 0.0, 1.0])])
        run()
        rep = maintain()    # external: 4 >= 2x2 -> retrains here
        if mode == "external":
            assert rep["retrained"] and rep["k_after"] == 4
        _write_vecs(spark, src, [(30, V2), (31, [0.5, 0.5, 0.5, 0.5])])
        run(); maintain()
        outs[mode] = dict(
            kept=sorted(r["vec_id"] for r in cat.read("clean").collect()),
            k=cat.read("cent").count(),
            meta=int(cat.read("idx__trainmeta").first()["rows_at_train"]),
            buckets={r["__id"]: r["__bucket"]
                     for r in cat.read("idx").collect()},
        )
    assert outs["inline"]["kept"] == outs["external"]["kept"] == [
        1, 3, 20, 21, 31]
    assert outs["inline"] == outs["external"]


def test_gate_maintain_fresh_catalog_adopts_layout(spark, tmp_path):
    """gate_maintain from a FRESH catalog object (no in-memory
    partition_spec — the real out-of-band shape: a separate process)
    must sniff and preserve the Hive layout; a flat rewrite would brick
    every later probe."""
    from database_transportor_spark.streaming.dedup_gate import (
        gate_maintain,
    )

    src, ckpt, cat = _run(spark, tmp_path, suffix="_fresh")
    for rows in ([(1, D1), (2, D2), (3, D3)], [(10, D10), (11, D11)]):
        _write(spark, src, rows)
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=ckpt, index_shards=8,
                          maintenance="external")
    fresh = ParquetCatalog(spark, str(tmp_path / "cat_fresh"))
    assert "idx" not in fresh.partition_spec
    r = gate_maintain(spark, fresh, "idx", compact_files=4)
    assert r["compacted"]
    assert fresh.partition_spec["idx"] == ["__shard"]
    # the layout survived: the sharded gate still probes the compacted
    # index — a near-dup of accepted doc 1 is rejected THROUGH it, a
    # genuinely new doc is accepted
    _write(spark, src, [(20, D10 + " more"),
                        (21, "fresh words entirely new content here")])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                      "text", checkpoint=ckpt, index_shards=8,
                      maintenance="external")
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11, 21]


def test_gate_maintain_and_external_validation(spark, tmp_path):
    import pytest

    from database_transportor_spark import MemoryCatalog
    from database_transportor_spark.streaming.dedup_gate import (
        gate_maintain, stream_semantic_gate,
    )

    cat = ParquetCatalog(spark, str(tmp_path / "vcat_val"))
    # external mode refuses inline milestone params
    with pytest.raises(ValueError, match="gate_maintain"):
        stream_dedup_gate(spark, str(tmp_path / "nofeed3"), cat,
                          "clean", "idx", "doc_id", "text",
                          maintenance="external", compact_files=4)
    with pytest.raises(ValueError, match="gate_maintain"):
        stream_semantic_gate(spark, str(tmp_path / "nofeed3"), cat,
                             "clean", "idx", "vec_id", "embedding",
                             "cent", maintenance="external",
                             retrain_at=10.0)
    with pytest.raises(ValueError, match="maintenance"):
        stream_dedup_gate(spark, str(tmp_path / "nofeed3"), cat,
                          "clean", "idx", "doc_id", "text",
                          maintenance="nightly")
    # gate_maintain's own validation
    with pytest.raises(ValueError, match="centroid_table"):
        gate_maintain(spark, cat, "idx", retrain_at=2.0)
    with pytest.raises(ValueError, match="growth factor"):
        gate_maintain(spark, cat, "idx", centroid_table="cent",
                      retrain_at=1.0)
    with pytest.raises(ValueError, match="file catalog"):
        gate_maintain(spark, MemoryCatalog(), "idx", compact_files=4)
    # missing index table: a clean no-op report
    r = gate_maintain(spark, cat, "idx", compact_files=4)
    assert r == {"retrained": False, "index_rows": None, "k_before": None,
                 "k_after": None, "compacted": False,
                 "files_before": None, "files_after": None,
                 "resharded": False}


def test_gate_maintain_reshard_migration(spark, tmp_path):
    """gate_maintain(reshard=): migrate a lexical index's shard count
    in one staged rewrite — the path the gate's shard-mismatch error
    points to — with identical decisions after."""
    import pytest

    from database_transportor_spark.streaming.dedup_gate import (
        gate_maintain,
    )

    src, ckpt, cat = _run(spark, tmp_path, suffix="_rs")
    _write(spark, src, [(1, D1), (2, D2), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=4)
    # a different modulus is refused and names the migration
    with pytest.raises(ValueError, match="gate_maintain"):
        stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id",
                          "text", checkpoint=str(tmp_path / "ck2"),
                          index_shards=8)
    r = gate_maintain(spark, cat, "idx", reshard=8)
    assert r["resharded"]
    assert int(cat.read("idx__shardmeta").first()["shards"]) == 8
    # every row's shard matches the new modulus
    from pyspark.sql import functions as F
    bad = cat.read("idx").filter(
        F.col("__shard") != F.pmod(F.col("__h"), F.lit(8))).count()
    assert bad == 0
    # the gate continues under the new count with unchanged decisions
    _write(spark, src, [(10, D10), (11, D11)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, index_shards=8)
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 11]
    # semantic (no __h) indexes are refused with a pointer to retrain
    cat.write(spark.createDataFrame([(1, [1.0], 0)],
                                    "__id long, __v array<double>, __bucket long"),
              "vidx", mode="overwrite")
    with pytest.raises(ValueError, match="retrain"):
        gate_maintain(spark, cat, "vidx", reshard=4)


def test_gate_maintain_force_retrain_repairs_crash_window(spark, tmp_path):
    """The retrain swap's crash window (index committed under the new
    assignment, codebook commit lost) leaves stored buckets out of sync
    with what probes compute from the stored codebook.  A re-triggered
    milestone is documented idempotent — gate_maintain(force_retrain=
    True) must restore the index==probe bucketing invariant."""
    import numpy as np

    from database_transportor_spark.operators.similarity import (
        _bucket_assigner,
    )
    from database_transportor_spark.streaming.dedup_gate import (
        gate_maintain, stream_semantic_gate,
    )

    src = str(tmp_path / "vfeed_cw")
    ckpt = str(tmp_path / "vckpt_cw")
    cat = ParquetCatalog(spark, str(tmp_path / "vcat_cw"))
    cat.write(
        spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                              "cid long, ce array<double>"),
        "cent", mode="overwrite",
    )
    _write_vecs(spark, src, [(1, V1), (3, V3), (20, [0.0, 0.0, 1.0, 0.0]),
                             (21, [0.0, 0.0, 0.0, 1.0])])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt, maintenance="external")
    # simulate the crash: index re-bucketed under a codebook that never
    # got committed (all rows shoved into a bogus bucket id)
    idx = cat.read("idx")
    cat.write_staged(idx.withColumn("__bucket", F.lit(77)), "idx")
    cat.commit_staged("idx")

    rep = gate_maintain(spark, cat, "idx", centroid_table="cent",
                        clean_table="clean", force_retrain=True,
                        retrain_target_rows=1)
    assert rep["retrained"]
    # invariant restored: every stored bucket equals what a probe
    # computes from the STORED codebook (stack -> norm -> divide)
    cent = sorted((r["cid"], r["ce"]) for r in cat.read("cent").collect())
    ids = np.array([c for c, _ in cent], dtype=np.int64)
    cmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in cent])
    norms = np.linalg.norm(cmat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    cmat = cmat / norms
    mism = (
        cat.read("idx")
        .withColumn("__pb", _bucket_assigner(ids, cmat, 1)(F.col("__v"))
                    .getItem(0))
        .filter("__pb != __bucket")
        .count()
    )
    assert mism == 0
    # and the gate rejects a planted copy again through the repaired index
    _write_vecs(spark, src, [(30, V2), (31, [0.5, 0.5, 0.5, 0.5])])
    stream_semantic_gate(spark, src, cat, "clean", "idx", "vec_id",
                         "embedding", "cent", threshold=0.9,
                         checkpoint=ckpt, maintenance="external")
    kept = sorted(r["vec_id"] for r in cat.read("clean").collect())
    assert kept == [1, 3, 20, 21, 31]


def test_gate_to_export_pipeline(spark, tmp_path):
    """The full ingest story end-to-end: gate two micro-batches, then
    export the accepted table as training shards and audit the receipt
    — the manifest totals are exactly the gate's accepted set and the
    audit recounts clean."""
    from database_transportor_spark.operators.corpus import (
        _MANIFEST_SCHEMA,
        export_shards,
        verify_export,
    )

    src, ckpt, cat = _run(spark, tmp_path)
    _write(spark, src, [(1, D1), (2, D2), (3, D3)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    _write(spark, src, [(10, D10), (11, D11), (12, D12)])
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt)
    clean = cat.read("clean")
    accepted = sorted(r["doc_id"] for r in clean.collect())
    assert accepted == [1, 3, 11, 12]

    dest = str(tmp_path / "shards")
    man = spark.createDataFrame(
        export_shards(clean, dest, "doc_id", 2, seed=4).collect(),
        _MANIFEST_SCHEMA,
    )
    got = {r["shard"]: r["n_rows"] for r in man.collect()}
    assert sum(got.values()) == len(accepted)
    back = spark.read.parquet(dest)
    assert sorted(r["doc_id"] for r in back.collect()) == accepted
    assert verify_export(spark, dest, man, "doc_id",
                         seed=4).collect() == []


def test_gate_shuffle_partitions_same_decisions_and_conf_restored(
        spark, tmp_path):
    """The per-batch reducer sizing knob (round 12) must be
    result-transparent — identical survivor sets and index rows as the
    session default — and must RESTORE the session's
    spark.sql.shuffle.partitions after the run (it is set on the
    micro-batch's cloned session for the duration of each batch)."""
    key = "spark.sql.shuffle.partitions"
    src, ckpt, cat = _run(spark, tmp_path, "a")
    _write(spark, src, [(1, D1), (2, D2), (3, D3)])
    _write(spark, src, [(10, D10), (11, D11), (12, D12)])
    before_conf = spark.conf.get(key)
    # every frame the gate writes derives from the micro-batch, so its
    # session is the stream's clone, the one the knob sets
    seen = []
    write = cat.write

    def spy(df, *a, **kw):
        seen.append((df.sparkSession, df.sparkSession.conf.get(key)))
        return write(df, *a, **kw)

    cat.write = spy
    stream_dedup_gate(spark, src, cat, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt, shuffle_partitions=2)
    cat.write = write
    assert seen and all(conf == "2" for _, conf in seen)
    assert {s.conf.get(key) for s, _ in seen} == {before_conf}
    assert spark.conf.get(key) == before_conf
    kept = sorted(r["doc_id"] for r in cat.read("clean").collect())

    src2, ckpt2, cat2 = _run(spark, tmp_path, "b")
    _write(spark, src2, [(1, D1), (2, D2), (3, D3)])
    _write(spark, src2, [(10, D10), (11, D11), (12, D12)])
    stream_dedup_gate(spark, src2, cat2, "clean", "idx", "doc_id", "text",
                      checkpoint=ckpt2)
    assert kept == sorted(r["doc_id"] for r in cat2.read("clean").collect())
    # index rows (id, hash, set size) agree too — the carried-__n
    # formulation must match the old aggregate-and-join numbers
    rows = lambda c: sorted(  # noqa: E731
        (r["__id"], r["__h"], r["__n"])
        for r in c.read("idx").select("__id", "__h", "__n").collect()
    )
    assert rows(cat) == rows(cat2)
