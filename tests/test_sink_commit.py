"""Crash/replay contract of every streaming sink, at every commit step.

Each case starts from the catalog and checkpoint a sink left after its
first batch and runs the second batch on a catalog that crashes at its
k-th mutation — a "partial" crash lands one row of an append and
raises, an "after" crash raises once the mutation (staged write, staged
commit, commit sidecar, or a whole append) is done — then reruns the
sink on the same checkpoint.  Every output table must then equal an
uninterrupted run's once the ``__commit`` markers are dropped.
``STEPS`` lists each sink's mutations in order, and
``test_steps_cover_every_mutation`` fails when a sink gains one the
matrix does not crash at, or when an uninterrupted run's row counts
move."""

import shutil

import pytest

from database_transportor_spark.sources.catalog import ParquetCatalog
from database_transportor_spark.streaming import _commit
from database_transportor_spark.streaming.bm25_sink import stream_bm25_sink
from database_transportor_spark.streaming.dedup_gate import stream_dedup_gate
from database_transportor_spark.streaming.join_view_sink import (
    stream_join_view_sink,
)
from database_transportor_spark.streaming.merge_sink import stream_merge_sink


class InjectedCrash(RuntimeError):
    pass


class FaultCatalog(ParquetCatalog):
    """Counts the public mutations (nested calls, e.g. the ``write``
    inside ``write_staged``, are one mutation) and crashes at the
    armed one; ``_run`` routes the commit sidecar write through it."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.log, self.crash, self._depth = [], None, 0

    def step(self, kind, table, do, partial=None):
        if self._depth:
            return do()
        self._depth += 1
        try:
            self.log.append((kind, table))
            if self.crash and len(self.log) == self.crash[0]:
                how = self.crash[1]
                (partial if how == "partial" else do)()
                raise InjectedCrash(f"injected crash {how} {kind} {table}")
            return do()
        finally:
            self._depth -= 1

    def write(self, df, table, mode="append"):
        sup = super(FaultCatalog, self)
        return self.step(
            "append" if mode == "append" else "write", table,
            lambda: sup.write(df, table, mode),
            lambda: sup.write(df.limit(1), table, mode),
        )

    def write_staged(self, df, table):
        sup = super(FaultCatalog, self)
        return self.step("write_staged", table,
                         lambda: sup.write_staged(df, table))

    def commit_staged(self, table):
        sup = super(FaultCatalog, self)
        return self.step("commit_staged", table,
                         lambda: sup.commit_staged(table))


D1 = "the quick brown fox jumps over the lazy dog again and again"
D3 = "completely different content about spark streaming state stores"
D11 = "another unique document mentioning parquet files and shuffles"


def _gate(spark, src, cat, ckpt):
    return stream_dedup_gate(spark, src, cat, "clean", "gate_idx", "doc_id",
                             "text", checkpoint=ckpt, compact_files=1)


def _join_view(spark, src, cat, ckpt):
    if not cat.exists("dim"):
        cat.write(spark.createDataFrame([(1, "one"), (2, "two")],
                                        "k long, name string"), "dim")
    return stream_join_view_sink(spark, src, cat, "view", "dim", "k",
                                 checkpoint=ckpt)


def _bm25(spark, src, cat, ckpt):
    return stream_bm25_sink(spark, src, cat, "idx", checkpoint=ckpt,
                            stats_table="idx_stats")


def _merge(spark, src, cat, ckpt):
    return stream_merge_sink(spark, src, cat, "t", "k", seq_col="seq",
                             checkpoint=ckpt)


DOCS = "doc_id long, text string"
SINKS = {
    # name: (run, feed schema, batch 1, batch 2, output tables)
    "dedup_gate": (
        _gate, DOCS,
        [(1, D1), (3, D3)],
        # 10 dups accepted doc 1, 13 a near-dup mate of 11, 12 too short
        # to shingle
        [(10, D1 + " yes"), (11, D11), (13, D11 + " ok"), (12, "too short")],
        ["clean", "gate_idx"],
    ),
    "join_view": (
        _join_view, "k long, v long",
        [(1, 10), (2, 20)],
        [(1, 11), (2, 21), (9, 90), (2, 22)],
        ["view"],
    ),
    "bm25": (
        _bm25, DOCS,
        [(1, "apple banana apple"), (2, "cherry durian")],
        [(3, "banana fig"), (4, "apple fig grape"), (1, "recrawled")],
        ["idx", "idx_stats"],
    ),
    "merge": (
        _merge, "k long, v string, seq long",
        [(1, "a", 1), (2, "b", 1)],
        [(2, "B", 2), (3, "c", 2)],
        ["t"],
    ),
}
# each sink's mutations during the second batch, in order
STEPS = {
    "dedup_gate": [("append", "clean"), ("append", "gate_idx"),
                   ("sidecar", None), ("write_staged", "gate_idx"),
                   ("commit_staged", "gate_idx")],
    "join_view": [("append", "view"), ("sidecar", None)],
    "bm25": [("append", "idx"), ("write_staged", "idx_stats"),
             ("commit_staged", "idx_stats"), ("sidecar", None)],
    "merge": [("write_staged", "t"), ("commit_staged", "t")],
}
# row counts of an uninterrupted run: the cases compare two runs of the
# same code, so these pin what those runs must produce (gate: 1 and 3,
# then 11 and the shingle-less 12, with 10 and 13 rejected)
ROWS = {
    "dedup_gate": {"clean": 4, "gate_idx": 22},
    "join_view": {"view": 5},
    "bm25": {"idx": 9, "idx_stats": 6},
    "merge": {"t": 3},
}
CASES = [
    pytest.param(name, k, how, id=f"{name}-{k}:{kind}:{table}-{how}")
    for name, steps in STEPS.items()
    for k, (kind, table) in enumerate(steps, 1)
    for how in (("partial", "after") if kind == "append" else ("after",))
]


def _append(spark, feed, schema, rows):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append").parquet(feed)


def _run(spark, name, cat, feed, ckpt):
    real = _commit._fs_write_atomic
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_commit, "_fs_write_atomic", lambda *a: cat.step(
            "sidecar", None, lambda: real(*a)))
        return SINKS[name][0](spark, str(feed), cat, str(ckpt))


def _tables(cat, name):
    out = {}
    for t in SINKS[name][4]:
        df = cat.read(t).drop("__commit")
        df = df.select(sorted(df.columns))
        out[t] = sorted(map(tuple, df.collect()), key=repr)
    return out


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """Per sink: ``(root, tables, log)`` — ``root/snap`` holds the
    catalog and checkpoint as batch 1 left them, ``root/feed`` already
    holds batch 2 (its paths are in the checkpoint, so every case
    streams from it), and ``tables``/``log`` are the output tables and
    batch 2's mutations of an uninterrupted run."""
    got = {}

    def get(name):
        if name not in got:
            _, schema, b1, b2, _ = SINKS[name]
            root = tmp_path_factory.mktemp(name)
            _append(spark, str(root / "feed"), schema, b1)
            cat = FaultCatalog(spark, str(root / "cat"))
            _run(spark, name, cat, root / "feed", root / "ckpt")
            for d in ("cat", "ckpt"):
                shutil.copytree(root / d, root / "snap" / d)
            _append(spark, str(root / "feed"), schema, b2)
            cat.log = []
            _run(spark, name, cat, root / "feed", root / "ckpt")
            got[name] = root, _tables(cat, name), cat.log
        return got[name]

    return get


@pytest.mark.parametrize("name", list(STEPS))
def test_steps_cover_every_mutation(uninterrupted, name):
    _, tables, log = uninterrupted(name)
    assert log == STEPS[name]
    assert {t: len(rows) for t, rows in tables.items()} == ROWS[name]


@pytest.mark.parametrize("name,k,how", CASES)
def test_crash_then_rerun_equals_uninterrupted(spark, tmp_path,
                                                uninterrupted, name, k, how):
    root, want, _ = uninterrupted(name)
    shutil.copytree(root / "snap", tmp_path, dirs_exist_ok=True)
    cat = FaultCatalog(spark, str(tmp_path / "cat"))
    cat.crash = (k, how)
    with pytest.raises(Exception, match="injected crash"):
        _run(spark, name, cat, root / "feed", tmp_path / "ckpt")
    assert len(cat.log) == k  # crashed at the armed step
    cat.crash = None
    # the rerun on the same checkpoint applies the batch unless the
    # crash came after its commit sidecar
    committed = ("sidecar", None) in STEPS[name][:k]
    assert _run(spark, name, cat, root / "feed", tmp_path / "ckpt") == (
        0 if committed else 1)
    assert _tables(cat, name) == want
