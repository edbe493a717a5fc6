"""Per-layer metrics from a traced run's spans (after ``Tracer.census``).

Each metric is computed per steady iteration and reported as the median
over them.  A layer the workload never calls reports 0 — the recorded
evidence that a change to that layer cannot move this workload.
"""

from __future__ import annotations

import statistics

from spans import Tracer
from workloads import data_files, parquet_rows

# name -> unit, in the order of BENCHMARK.json's per_layer list
METRICS = {
    "session.build_s": "s",
    "spec.parse_s": "s",
    "planner.topo_s": "s",
    "planner.levels": "count",
    "engine.build_s": "s",
    "engine.build_jobs": "count",
    "engine.build_stages": "count",
    "engine.build_tasks": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.joins": "count",
    "plan.broadcast_joins": "count",
    "plan.scans": "count",
    "catalog.write_s": "s",
    "catalog.write_jobs": "count",
    "catalog.write_stages": "count",
    "catalog.write_tasks": "count",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.rows_written": "count",
    "catalog.commit_s": "s",
    "dedup.pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.keep_s": "s",
    "dedup.jobs": "count",
    "dedup.pairs": "count",
    "dedup.kept_ratio": "ratio",
    "pins.created": "count",
    "pins.released": "count",
    "gate.batch_s": "s",
    "gate.jobs_per_batch": "count",
    "gate.accept_ratio": "ratio",
    "gate.index_files": "count",
    "bm25_sink.batch_s": "s",
    "bm25_sink.jobs_per_batch": "count",
    "bm25_sink.index_rows": "count",
    "bm25_sink.growth": "ratio",
    "search.s": "s",
    "search.jobs": "count",
    "scheduler.tasks_failed": "count",
    "scheduler.shuffle_read_bytes": "bytes",
    "scheduler.shuffle_write_bytes": "bytes",
    "trace.wall_s": "s",
}

_WRITES = ("catalog.write", "catalog.write_staged")


def _durations(tr: Tracer, i: int, name: str) -> list[float]:
    return [sp["end"] - sp["start"] for sp in tr.of(i, name)]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _iteration(tr: Tracer, wl, i: int, sample: dict) -> dict[str, float]:
    t = tr.total
    m: dict[str, float] = {
        "spec.parse_s": t(i, "spec.parse", "s"),
        "planner.topo_s": t(i, "planner.topo", "s"),
        "planner.levels": max((sp.get("levels", 0) for sp in tr.of(i, "planner.topo")),
                              default=0),
        "engine.build_s": t(i, "engine.transform", "s"),
        "plan.s": t(i, "plan", "s"),
        "catalog.commit_s": t(i, "catalog.commit", "s"),
        "dedup.pairs_s": t(i, "dedup.pairs", "s"),
        "dedup.clusters_s": t(i, "dedup.clusters", "s"),
        "dedup.keep_s": t(i, "dedup.keep", "s"),
        "dedup.jobs": sum(t(i, n, "jobs") for n in ("dedup.pairs", "dedup.clusters",
                                                    "dedup.keep")),
        "dedup.pairs": t(i, "dedup.count_pairs", "pairs"),
        "pins.created": t(i, "pins.release", "created"),
        "pins.released": t(i, "pins.release", "released"),
        "trace.wall_s": sample["wall"],
    }
    for k in ("jobs", "stages", "tasks"):
        m[f"engine.build_{k}"] = t(i, "engine.transform", k)
        m[f"catalog.write_{k}"] = sum(t(i, n, k) for n in _WRITES)
    for k in ("exchanges", "joins", "broadcast_joins", "scans"):
        m[f"plan.{k}"] = t(i, "plan", k)
    m["catalog.write_s"] = sum(t(i, n, "s") for n in _WRITES)
    for k in ("files_written", "bytes_written", "rows_written"):
        m[f"catalog.{k}"] = sum(t(i, n, k) for n in _WRITES)
    writes = [sp for n in _WRITES for sp in tr.of(i, n)]
    if wl.name == "corpus":
        kept = sum(sp["rows_written"] for sp in writes if sp["table"] == "corpus_clean")
        m["dedup.kept_ratio"] = kept / wl.props["docs"]
    else:
        m["dedup.kept_ratio"] = 0.0

    gate = tr.of(i, "gate.batch")
    sink = _durations(tr, i, "bm25_sink.batch")
    m["gate.batch_s"] = _median(_durations(tr, i, "gate.batch"))
    m["gate.jobs_per_batch"] = _mean(sp["jobs"] for sp in gate)
    m["bm25_sink.batch_s"] = _median(sink)
    m["bm25_sink.jobs_per_batch"] = _mean(sp["jobs"] for sp in tr.of(i, "bm25_sink.batch"))
    if wl.name == "ingest":
        accepted = sum(sp["rows_written"] for sp in writes if sp["table"] == "clean")
        m["gate.accept_ratio"] = accepted / sample["rows"]
        root = wl.tables_root(i)
        m["gate.index_files"] = len(data_files(f"{root}/gate_idx.parquet"))
        m["bm25_sink.index_rows"] = parquet_rows(data_files(f"{root}/idx.parquet"))
    else:
        m["gate.accept_ratio"] = m["gate.index_files"] = m["bm25_sink.index_rows"] = 0

    searches = tr.of(i, "search")
    m["search.s"] = _mean(sp["end"] - sp["start"] for sp in searches)
    m["search.jobs"] = _mean(sp["jobs"] for sp in searches)
    for k in ("tasks_failed", "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"scheduler.{k}"] = t(i, "iteration", k)
    return m


def per_layer(tr: Tracer, wl, samples: list[dict],
              session_build_s: float) -> dict[str, tuple[float, str]]:
    first = 1 + wl.warmup
    steady = range(first, len(samples)) if len(samples) > first else range(len(samples))
    rows = [_iteration(tr, wl, i, samples[i]) for i in steady]
    # sink batch time late in the run over early in it: ingest iterations
    # are batches of one growing stream, so this spans iterations
    sink = [d for i in steady for d in _durations(tr, i, "bm25_sink.batch")]
    q = max(1, len(sink) // 4)
    growth = _median(sink[-q:]) / _median(sink[:q]) if sink else 0.0
    out = {}
    for name, unit in METRICS.items():
        if name == "session.build_s":
            v = session_build_s
        elif name == "bm25_sink.growth":
            v = growth
        else:
            v = _median(r[name] for r in rows)
        out[name] = (v, unit)
    return out
