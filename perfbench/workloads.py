"""The three benchmark workloads, driven through the package's public API.

Each workload writes into a fresh directory per iteration, so every
iteration repeats the full work, and returns the end-to-end samples of
that iteration.  Layer spans come from two thin subclasses — ``BenchDBT``
(spec parse, ``transform``, ``build_map``) and ``BenchCatalog``
(``write``, ``write_staged``, ``commit_staged``) — plus spans this module
opens around the operator and streaming calls it makes.
"""

from __future__ import annotations

import os
import re
import time

import pyarrow.parquet as pq

import gen
from spans import Tracer

from database_transportor_spark import DBT, ParquetCatalog, release_pins
from database_transportor_spark.operators.pins import pinned_count
from database_transportor_spark.plans.planner import dependency_edges, topo_order

DOC_SCHEMA = "doc_id long, text string"


def data_files(path: str) -> dict[str, int]:
    """Parquet data files under ``path`` (recursively) with their sizes."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


_OP = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_counts(plan: str) -> dict[str, int]:
    """Operator counts in a physical plan's tree string."""
    ops = [m.group(1) for m in map(_OP.match, plan.splitlines()) if m]
    return {
        "exchanges": sum(op == "Exchange" for op in ops),
        "joins": sum(op.endswith("Join") or op == "CartesianProduct" for op in ops),
        "broadcast_joins": sum(op.startswith("BroadcastHashJoin")
                               or op.startswith("BroadcastNestedLoopJoin")
                               for op in ops),
        "scans": sum("Scan" in op for op in ops),
    }


class BenchCatalog(ParquetCatalog):
    """``ParquetCatalog`` whose public write boundary is traced.  The
    outermost traced call also plans the frame on its own (Catalyst time
    and operator counts) and counts the files, bytes and rows it left."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self._depth = 0

    def _traced(self, name: str, table: str, df, fn):
        if not self.tracer.enabled or self._depth:
            return fn()
        if df is not None:
            with self.tracer.span("plan", table=table) as sp:
                sp.update(plan_counts(
                    df._jdf.queryExecution().executedPlan().toString()))
        path = self.path(self.staged_name(table) if name == "catalog.write_staged"
                         else table)
        before = data_files(path)
        self._depth += 1
        try:
            with self.tracer.span(name, table=table) as sp:
                fn()
        finally:
            self._depth -= 1
        new = {p: s for p, s in data_files(path).items() if p not in before}
        sp.update(files_written=len(new), bytes_written=sum(new.values()),
                  rows_written=parquet_rows(new) if df is not None else 0)

    def write(self, df, table, mode="append"):
        self._traced("catalog.write", table, df,
                     lambda: super(BenchCatalog, self).write(df, table, mode))

    def write_staged(self, df, table):
        self._traced("catalog.write_staged", table, df,
                     lambda: super(BenchCatalog, self).write_staged(df, table))

    def commit_staged(self, table):
        self._traced("catalog.commit", table, None,
                     lambda: super(BenchCatalog, self).commit_staged(table))


class BenchDBT(DBT):
    """``DBT`` with spans around spec parsing, ``transform`` and each
    ``build_map``."""

    def __init__(self, maps, target, original, tracer: Tracer):
        self.tracer = tracer
        with tracer.span("spec.parse"):
            super().__init__(maps, target=target, original=original)

    def transform(self):
        with self.tracer.span("engine.transform"):
            return super().transform()

    def build_map(self, key):
        with self.tracer.span("engine.build_map", map=key):
            return super().build_map(key)


def _planner_span(tracer: Tracer, specs) -> None:
    with tracer.span("planner.topo") as sp:
        order = topo_order(specs)
        deps = dependency_edges(specs)
        level: dict[str, int] = {}
        for key in order:
            level[key] = 1 + max((level[d] for d in deps[key]), default=-1)
    if sp is not None:
        sp["levels"] = 1 + max(level.values())


# -- migrate ------------------------------------------------------------------

def _refer(source, table, search, according, wanted):
    return {"search_source": source, "search_table": table,
            "search_column": search, "according_column": according,
            "wanted_column": wanted}


def _refers(table, search, according, processor):
    return {"search_source": "original", "search_table": table,
            "search_column": search, "according_column": according,
            "processor": processor}


MIGRATE_MAPS = {
    "dim_nation": {
        "original_table": "nation",
        "columns": {
            "nationkey": "n_nationkey",
            "nation_name": {"original": "n_name", "function": "rtrim(n_name)"},
            "temp_rk": {"original": "n_regionkey", "delete_after_transport": True},
            "region_name": {
                "refer": _refer("original", "region", "r_regionkey", "temp_rk", "r_name"),
                "default": "unknown"},
        },
    },
    "dim_supplier": {
        "original_table": "supplier",
        "extra_conditions": [["s_acctbal_cents", ">", -50000]],
        "columns": {
            "suppkey": "s_suppkey",
            "supp_name": "s_name",
            "temp_nation": {"original": "s_nation", "delete_after_transport": True},
            # J1 rtrim: padded legacy CHAR names on both sides
            "nationkey": {
                "refer": _refer("original", "nation", "n_name", "temp_nation", "n_nationkey"),
                "default": -1},
        },
    },
    "dim_customer": {
        "original_table": "customer",
        "extra_conditions": [
            ["c_mktsegment", "in", ["AUTOMOBILE", "BUILDING", "HOUSEHOLD", "MACHINERY"]],
            ["c_acctbal_cents", "between", [-50000, 900000]],
            "c_name IS NOT NULL",
        ],
        "columns": {
            "custkey": "c_custkey",
            "cust_name": {"original": "c_name", "function": "concat(c_name, '#', c_custkey)"},
            "segment": "c_mktsegment",
            "temp_nk": {"original": "c_nationkey", "delete_after_transport": True},
            "nation_name": {
                "refer": _refer("target", "dim_nation", "nationkey", "temp_nk", "nation_name"),
                "default": "unknown"},
            # two refers over the same (table, key): merged into one J3 join
            "n_orders": {"refers": _refers("orders", "o_custkey", "custkey", "count(*)"),
                         "default": 0},
            "spent_cents": {"refers": _refers("orders", "o_custkey", "custkey",
                                              "sum(o_totalprice_cents)"),
                            "default": 0},
        },
    },
    "fact_orders": {
        "original_table": "orders",
        "extra_conditions": [["o_orderdate", ">", "1992-02-29"],
                             ["o_orderstatus", "<>", "P"]],
        "columns": {
            "orderkey": "o_orderkey",
            "custkey": "o_custkey",
            "orderdate": "o_orderdate",
            "total_cents": "o_totalprice_cents",
            "segment": {
                "refer": _refer("target", "dim_customer", "custkey", "custkey", "segment"),
                "default": "NONE"},
            "n_lines": {"refers": _refers("lineitem", "l_orderkey", "orderkey", "count(*)"),
                        "default": 0},
            "qty": {"refers": _refers("lineitem", "l_orderkey", "orderkey", "sum(l_quantity)"),
                    "default": 0},
        },
    },
    "fact_lineitem": {
        "original_table": "lineitem",
        "extra_conditions": [["l_returnflag", "in", ["A", "N", "R"]],
                             "l_shipdate > DATE '1992-02-01'"],
        "columns": {
            "orderkey": "l_orderkey",
            "linenumber": "l_linenumber",
            "partkey": "l_partkey",
            "suppkey": "l_suppkey",
            "qty": "l_quantity",
            "price_cents": "l_extendedprice_cents",
            # J2 multi-key: a miss is NULL whatever the default
            "supplycost_cents": {
                "refer": _refer("original", "partsupp", ["ps_partkey", "ps_suppkey"],
                                ["partkey", "suppkey"], "ps_supplycost_cents")},
            "orderdate": {
                "refer": _refer("target", "fact_orders", "orderkey", "orderkey", "orderdate")},
        },
    },
    "part_tags": {
        "original_table": None,
        "columns": {"part_id": None, "tag_name": None},
        "middle": {
            "one": {"refer_table": "part", "refer_source": "original",
                    "wanted_column": "p_partkey", "fill_column": "part_id",
                    "according_column": "p_tags"},
            "many": {"refer_table": "tag", "refer_source": "original",
                     "wanted_column": "t_name", "fill_column": "tag_name",
                     "search_column": "t_tagkey", "search_method": "in"},
        },
    },
}


class Workload:
    name = ""
    # seconds of ``--seconds`` one steady iteration stands for: about its
    # wall on a 4-core host, so a run measures about ``--seconds``
    nominal_s = 1.0
    # iterations after the first that still warm up: run, checked, and
    # left out of the steady timings
    warmup = 0

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.inputs = f"{work}/inputs"

    def out_dir(self, i: int) -> str:
        return f"{self.work}/out-{i:03d}"

    def tables_root(self, i: int) -> str:
        """Directory holding iteration ``i``'s ``<table>.parquet`` outputs."""
        return self.out_dir(i)

    def _searches(self, searches, results: list) -> list[float]:
        """Run ``(key, fn)`` searches; ``fn`` returns a normalized result,
        appended to ``results`` as ``(key, result)`` for the output check."""
        lat = []
        for key, fn in searches:
            t0 = time.perf_counter()
            with self.tracer.span("search"):
                got = fn()
            lat.append(time.perf_counter() - t0)
            results.append((key, got))
        return lat


class Migrate(Workload):
    name = "migrate"
    nominal_s = 4.0
    warmup = 1
    scale = 0.1  # 1.0 is sf0.1-sized; 0.1 keeps a run inside its time budget

    def prepare(self) -> dict:
        self.props = gen.gen_migrate(self.seed, self.inputs, self.scale)
        return self.props

    def iteration(self, i: int) -> dict:
        from pyspark.sql import functions as F

        cat = BenchCatalog(self.spark, self.out_dir(i), self.tracer)
        t0 = time.perf_counter()
        eng = BenchDBT(MIGRATE_MAPS, target=cat,
                       original=ParquetCatalog(self.spark, self.inputs),
                       tracer=self.tracer)
        _planner_span(self.tracer, eng.specs)
        eng.do_transport(mode="overwrite", staged=True)
        release_pins()
        wall = time.perf_counter() - t0
        results: list = []
        searches = self._searches([
            (("orders_of", k), lambda k=k: tuple(
                cat.read("fact_orders").filter(F.col("custkey") == k)
                .agg(F.count("*"), F.sum("total_cents")).first()))
            for k in self.props["hot_custkeys"]], results)
        return {"wall": wall, "batches": [wall], "searches": searches,
                "search_results": results, "rows": self.props["source_rows"],
                "stream_wall": wall}


# -- corpus -------------------------------------------------------------------

CORPUS_MAPS = {
    "corpus": {
        "original_table": "documents",
        "columns": {"doc_id": "doc_id", "text": "text", "lang": "lang",
                    "n_chars": "n_chars"},
        "post_ops": [
            {"op": "language_id", "text_col": "text"},
            {"op": "quality_score", "text_col": "text"},
            {"op": "filter", "condition": "quality >= 0.5"},
            {"op": "exact_dedup", "keys": ["text"], "order_by": "doc_id", "keep": "min"},
        ],
    }
}
CORPUS_COLS = ["doc_id", "text", "lang", "lang_pred", "quality", "n_chars"]


class Corpus(Workload):
    name = "corpus"
    nominal_s = 7.0
    n_docs = 2000

    def prepare(self) -> dict:
        self.props = gen.gen_corpus(self.seed, self.inputs, self.n_docs)
        return self.props

    def iteration(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from database_transportor_spark.operators.dedup import (
            dedup_clusters, dedup_keep_best, ngram_jaccard_pairs,
        )

        tr = self.tracer
        cat = BenchCatalog(self.spark, self.out_dir(i), tr)
        t0 = time.perf_counter()
        eng = BenchDBT(CORPUS_MAPS, target=cat,
                       original=ParquetCatalog(self.spark, self.inputs), tracer=tr)
        docs = eng.transform()["corpus"].select(*eng.write_columns("corpus"))
        with tr.span("dedup.pairs"):
            pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                        threshold=0.05, max_df=100)
        with tr.span("dedup.clusters"):
            clusters = dedup_clusters(docs, pairs, "doc_id")
        with tr.span("dedup.keep"):
            ranked = docs.withColumn(
                "__q", F.col("n_chars") * F.lit(10_000_000) + F.col("doc_id"))
            kept = dedup_keep_best(ranked, clusters, "doc_id", "cluster_id",
                                   order_col="__q", keep="max")
        cat.write(kept.select(*CORPUS_COLS), "corpus_clean", mode="overwrite")
        created = pinned_count()
        if tr.enabled:
            with tr.span("dedup.count_pairs") as sp:
                sp["pairs"] = pairs.count()
        with tr.span("pins.release") as sp:
            released = release_pins()
        if sp is not None:
            sp.update(created=created, released=released)
        wall = time.perf_counter() - t0
        results: list = []
        searches = self._searches([
            (("docs_between", lo, lo + 9), lambda lo=lo: [
                tuple(r) for r in cat.read("corpus_clean")
                .filter(F.col("doc_id").between(lo, lo + 9))
                .select("doc_id", "text").collect()])
            for lo in (0, 10, 20)], results)
        return {"wall": wall, "batches": [wall], "searches": searches,
                "search_results": results, "rows": self.props["docs"],
                "stream_wall": wall}


# -- ingest -------------------------------------------------------------------

class Ingest(Workload):
    """One continuous stream per run: iteration ``i`` lands batch ``i`` as
    one file, runs the dedup gate and the BM25 sink on it, then serves
    the fixed query set from the live index.  Tables grow across
    iterations, so the output check covers the state after the last."""

    name = "ingest"
    nominal_s = 9.0
    warmup = 1
    max_batches = 20
    batch_docs = 100

    def prepare(self) -> dict:
        self.feed_batches, self.props = gen.gen_ingest(
            self.seed, self.max_batches, self.batch_docs)
        self.root = f"{self.work}/stream"
        self.feed = f"{self.root}/feed"
        os.makedirs(self.feed)
        self.cat = BenchCatalog(self.spark, f"{self.root}/cat", self.tracer)
        self.queries = self.spark.createDataFrame(gen.QUERIES, "query_id int, query string")
        return self.props

    def tables_root(self, i: int) -> str:
        return f"{self.root}/cat"

    def iteration(self, i: int) -> dict:
        from database_transportor_spark.operators.text import bm25_topk_indexed
        from database_transportor_spark.streaming.bm25_sink import stream_bm25_sink
        from database_transportor_spark.streaming.dedup_gate import stream_dedup_gate

        if i >= self.max_batches:
            raise RuntimeError(f"ingest: all {self.max_batches} generated batches used")
        tr, spark, cat = self.tracer, self.spark, self.cat
        tmp = f"{self.feed}/.batch-{i:05d}.parquet"
        pq.write_table(self.feed_batches[i], tmp)
        os.rename(tmp, f"{self.feed}/batch-{i:05d}.parquet")
        landed = time.perf_counter()
        with tr.span("gate.batch", batch=i):
            stream_dedup_gate(spark, self.feed, cat, "clean", "gate_idx",
                              id_col="doc_id", text_col="text", schema=DOC_SCHEMA,
                              checkpoint=f"{self.root}/gate_ckpt")
        with tr.span("bm25_sink.batch", batch=i):
            stream_bm25_sink(spark, cat.path("clean"), cat, "idx", schema=DOC_SCHEMA,
                             checkpoint=f"{self.root}/bm25_ckpt", stats_table="idx_stats")
        release_pins()
        lat = time.perf_counter() - landed
        results: list = []
        searches = self._searches([
            (("bm25", i), lambda: [
                (r["query_id"], r["doc_id"], r["rank"], r["score"])
                for r in bm25_topk_indexed(cat.read("idx"), self.queries, k=10,
                                           stats=cat.read("idx_stats")).collect()])],
            results)
        return {"wall": time.perf_counter() - landed, "batches": [lat],
                "searches": searches, "search_results": results,
                "rows": self.batch_docs, "stream_wall": lat}


WORKLOADS = {w.name: w for w in (Migrate, Corpus, Ingest)}
