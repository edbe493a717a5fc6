"""Stats-mode BM25 serving: one-partition vs wide scoring plan, by index size.

``bm25_topk_indexed(stats=)`` scores a bounded query batch in one
partition (``coalesce(1)`` on the token-pruned scan, no exchange) when
the live index holds at most ``_STATS_LOCAL_POSTINGS`` posting rows, and
with the wide plan otherwise.  This harness times both plans on the same
stored index and stats, forcing each through that constant, for indexes
of 1, 2, 4 and 10 replicas of the sf0.1 documents (about 116k posting
rows per replica) and for a 3-query and a 20-query batch::

    PYTHONPATH=. python tools/bm25_local_scale.py [mults] [rounds]

Rounds alternate which plan runs first; the first round is a discarded
warm-up.  Every search's rows are checked equal across the two plans.
Prints one JSON line per (index, batch) cell: posting rows, files, and
the median and quartiles of each plan's wall in seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = [
    "spark shuffle", "parquet files", "training data", "document corpus",
    "stream state", "quality filter", "token count", "join strategy",
    "partition key", "memory spill", "broadcast small", "skew salt",
    "window agg", "schema merge", "text dedup", "vector index",
    "hash bucket", "scan prune", "codegen stage", "arrow batch",
]


def main() -> None:
    from pyspark.sql import functions as F

    import database_transportor_spark.operators.text as T
    from database_transportor_spark import build_session

    mults = [int(m) for m in (sys.argv[1] if len(sys.argv) > 1
                              else "1,2,4,10").split(",")]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = build_session(
        app_name="bm25-local-scale", master="local[4]",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="bm25l_")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    batches = {
        f"q{n}": spark.createDataFrame(
            list(enumerate(QUERIES[:n])), ["query_id", "query"])
        for n in (3, 20)
    }
    for mult in mults:
        corpus = docs
        for r in range(1, mult):
            corpus = corpus.unionByName(docs.select(
                (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
                "text"))
        path = f"{work}/idx_x{mult}"
        T.bm25_index(corpus).write.parquet(path)
        idx = spark.read.parquet(path)
        T.bm25_index_stats(idx).write.parquet(f"{path}_stats")
        stats = spark.read.parquet(f"{path}_stats")
        cell = {"postings": idx.count(), "files": sum(
            f.endswith(".parquet") for f in os.listdir(path))}
        for name, queries in batches.items():
            walls = {"local": [], "wide": []}
            want = None
            for r in range(rounds + 1):
                for plan in (("local", "wide") if r % 2 == 0
                             else ("wide", "local")):
                    T._STATS_LOCAL_POSTINGS = (
                        cell["postings"] if plan == "local" else -1)
                    t0 = time.perf_counter()
                    got = sorted(map(tuple, T.bm25_topk_indexed(
                        idx, queries, k=10, stats=stats).collect()))
                    wall = time.perf_counter() - t0
                    want = got if want is None else want
                    assert got == want, "plans disagree"
                    if r:
                        walls[plan].append(wall)
            out = dict(cell)
            for plan, w in walls.items():
                q1, med, q3 = statistics.quantiles(w, n=4)
                out[plan] = {"median": round(med, 3), "q1": round(q1, 3),
                             "q3": round(q3, 3)}
            print(json.dumps({f"x{mult}_{name}": out}), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
