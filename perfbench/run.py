"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 14 --trace 0

Run from the repository root.  Sets up a ``build_session`` session on
``local[nproc]`` (its cold set-up is ``setup_s``), generates the
workload's inputs from ``--seed``, runs iterations for about
``--seconds`` (the first is the cold one, reported as ``first_s``; after
the workload's further warm-up iterations come the steady iterations the
other timings summarize), checks
every iteration's output against DuckDB, and prints a summary followed,
as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(Spark UI on, spans written to ``perfbench/.work/results``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 150.0    # start no iteration after this many seconds of the run


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Overrides on top of ``build_session``'s shipped defaults: keep every
    scratch file inside ``work``, and turn the UI on only when tracing."""
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        conf.update({"spark.ui.port": str(port),
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def cold_setup(work: str, trace: bool):
    """Import, build the session, finish one trivial job; returns the
    session and the seconds it took (``session.build_s``)."""
    t0 = time.perf_counter()
    conf = session_conf(work, trace)
    # temp files of this process and of both JVMs the launch starts stay
    # in ``work``; no JVM writes its perf-data file under /tmp
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from database_transportor_spark import build_session

    spark = build_session(app_name="perfbench", master=f"local[{nproc()}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def descendants(pid: int) -> list[int]:
    """Every live process under ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def end_processes(pids: list[int], grace_s: float) -> None:
    """SIGTERM every process of ``pids`` still alive, SIGKILL those left
    after ``grace_s``, and return once none is alive."""
    def signal_all(sig):
        for pid in pids:
            if alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass

    signal_all(signal.SIGTERM)
    deadline = time.monotonic() + grace_s
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            signal_all(signal.SIGKILL)
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM this process launched
    and every process under it (Python workers), waiting for each.  Left
    to itself the JVM exits only some seconds after this process does."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            below = descendants(proc.pid)
            try:
                gateway.shutdown()
            except Exception:
                pass
            # the gateway server exits the JVM when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            end_processes(below, grace_s=5.0)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are fewer than eleven): (value, percentile, n)."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) >= 11 else len(xs) - 1
    return xs[k], round(100.0 * (k + 1) / len(xs), 1), len(xs)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_iterations(wl, tracer, seconds: float, t_run0: float):
    """The first iteration (the cold one, reported as ``first_s``), then
    ``wl.warmup`` more warm-up iterations, then ``seconds // wl.nominal_s``
    steady iterations (at least one): a fixed
    count for a given ``--seconds``, so every run and every commit does
    the same work, and about ``seconds`` of it on a 4-core host.
    Returns (samples, errors)."""
    samples, errors = [], []
    n = 1 + wl.warmup + max(1, int(seconds // wl.nominal_s))
    while len(samples) < n and time.perf_counter() - t_run0 < DEADLINE_S:
        tracer.iteration = len(samples)
        try:
            with tracer.span("iteration"):
                samples.append(wl.iteration(len(samples)))
        except Exception:
            errors.append(traceback.format_exc())
            break
    return samples, errors


def end_to_end(samples, warmup, setup_s, rss) -> dict:
    st = samples[1 + warmup:] or samples
    batches = [b for s in st for b in s["batches"]]
    searches = [x for s in st for x in s["searches"]]
    tl, pct, n = tail(batches)
    return {
        "setup_s": (setup_s, "s"),
        "first_s": (samples[0]["wall"], "s"),
        "wall_s": (statistics.median(s["wall"] for s in st), "s"),
        "docs_per_s": (statistics.median(s["rows"] / s["stream_wall"] for s in st), "1/s"),
        "batch_p50_s": (statistics.median(batches), "s"),
        "batch_tail_s": (tl, "s"),
        "search_p50_s": (statistics.median(searches), "s"),
        "peak_rss_mb": (rss, "MB"),
    }, {"tail_percentile": pct, "batch_samples": n, "search_samples": len(searches),
        "steady_iterations": len(st), "iterations": len(samples)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["migrate", "corpus", "ingest"], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_run0 = time.perf_counter()
    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "database_transportor_spark")):
        print("perfbench: run from a checkout of the repository "
              "(database_transportor_spark/ not found)", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    # a SIGTERM unwinds through the ``finally`` below, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results_dir = os.path.join(HERE, ".work", "results")
    os.makedirs(work)
    os.makedirs(results_dir, exist_ok=True)
    spark = None
    try:
        spark, setup_s = cold_setup(work, trace)
        phases = {"setup": setup_s}
        t = time.perf_counter()

        import pyspark

        from spans import Tracer
        from workloads import WORKLOADS

        run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
        tracer = Tracer(trace, run_id)
        tracer.attach(spark)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, f"{work}/wl")
        props = wl.prepare()
        phases["prepare"] = time.perf_counter() - t
        t = time.perf_counter()
        samples, errors = run_iterations(wl, tracer, args.seconds, t_run0)
        phases["iterations"] = time.perf_counter() - t
        for e in errors:
            print(e, file=sys.stderr)
        rss = peak_rss_mb(spark)
        tracer.census(spark)
        t = time.perf_counter()

        import oracle
        attempted, failed, detail = oracle.verify(wl, samples, errors)
        phases["verify"] = time.perf_counter() - t
        env = {"nproc": nproc(), "spark": pyspark.__version__, "seed": args.seed,
               "workload": args.workload, "seconds": args.seconds, "trace": trace,
               "inputs": props}
        report = {"env": env, "setup_s": setup_s, "walls_s": [s["wall"] for s in samples],
                  "phases_s": phases, "check": detail, "errors": errors}
        if samples:
            e2e, info = end_to_end(samples, wl.warmup, setup_s, rss)
            report["end_to_end"] = {k: v[0] for k, v in e2e.items()}
            report.update(info)
        if trace and samples:
            import layers
            report["per_layer"] = layers.per_layer(tracer, wl, samples, setup_s)
            tracer.dump(os.path.join(results_dir, f"{run_id}.spans.json"))
        with open(os.path.join(results_dir, f"{run_id}.json"), "w") as f:
            json.dump(report, f, indent=1)
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"env": env, **{k: report[k] for k in
                                     ("setup_s", "walls_s", "phases_s", "check")}}))
    if not samples:
        metrics = {}
    elif trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in report["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        ratio = failed / attempted if attempted else 1.0
        print(f"{'metric':<14} {'value':>14}  unit")
        for k, (v, u) in e2e.items():
            print(f"{k:<14} {v:>14.4f}  {u}")
        print(f"{'fail_ratio':<14} {ratio:>14.4f}  ratio  ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0 and not errors and bool(samples),
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
