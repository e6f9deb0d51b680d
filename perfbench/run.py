"""Benchmark entry point: run one workload from a seed, check its outputs,
print every metric by name with its unit.

    python3 perfbench/run.py --workload market_queries --seed 1 --seconds 5 --trace 0

Every workload is a closed loop with one client: a single process drives
Spark ``local[N]`` (N = min(4, usable CPUs)) and issues its next op only
after the previous one returned. The timed loop runs whole blocks (every
block has the same op composition) until ``--seconds`` have elapsed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
blocks with spans around every call into the program's layers and prints
the per-layer table and metrics, including the share of traced op time the
tracing itself took. Its report line carries the traced op latencies, so
comparing it with the untraced run of the same seed gives the run-level
difference.

Output: a report line (environment record, sizes, op counts, extra
metrics), then, last, one JSON line ``{"correct", "attempted", "failed",
"metrics"}``. Store roots live under a private directory in the checkout,
deleted at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.market_queries import QUERY_MIX  # noqa: E402

PACKAGE = "binance_data_framework_spark"
WORKLOADS = ("market_queries", "kline_corpus")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_mean_s": "s",
}

#: span layer -> metric prefix of its self time
SELF_TIME = {
    "plans.registry": "registry",
    "operators": "operators",
    "store": "store",
    "api": "api",
    "sources": "sources",
    "docstore": "docstore",
    "ann_index": "ann_index",
    "streaming.neardup_ingest": "neardup_ingest",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "trace.uncovered_s": "s",
    "trace.overhead_ratio": "ratio",
    **{f"{p}.self_s": "s" for p in SELF_TIME.values()},
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "operators.execute_s": "s",
    "operators.execute_jobs": "count",
    "operators.execute_tasks": "count",
    **{
        f"query.{q}.{m}": u
        for q in QUERY_MIX
        for m, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))
    },
    **{
        f"store.{m}_{x}": u
        for m in ("check_data_exists", "get_data", "save_data", "delete_data")
        for x, u in (("s", "s"), ("jobs", "count"))
    },
    "store.commits": "count",
    "store.files_live": "count",
    "store.bytes_written_per_input_byte": "ratio",
    "sources.fetch_page_s": "s",
    "sources.rows_fetched_per_row_missing": "ratio",
    "api.fill_ranges_per_op": "count",
    "neardup_ingest.gate_batch_s": "s",
    "neardup_ingest.gate_jobs": "count",
    "neardup_ingest.sig_selfdedup_s": "s",
    "neardup_ingest.corpus_check_s": "s",
    "neardup_ingest.save_docs_s": "s",
    "neardup_ingest.band_append_s": "s",
    "neardup_ingest.maintenance_s": "s",
    "neardup_ingest.kept_ratio": "ratio",
    "docstore.read_keys_s": "s",
    "docstore.read_keys_jobs": "count",
    "docstore.files_live": "count",
    "docstore.bytes_written_per_input_byte": "ratio",
    "ann_index.search_s": "s",
    "ann_index.search_jobs": "count",
    "ann_index.recall_at_k": "ratio",
    "ann_index.code_files": "count",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cpus() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _configure_env(run_dir: str) -> None:
    """Pin the deployment: local[N], a 2g JVM heap, and every scratch path
    (JVM tmp, Spark local dirs, warehouse, Python tmp) inside the run's
    private directory."""
    for d in ("jvm_tmp", "spark_local", "py_tmp"):
        os.makedirs(os.path.join(run_dir, d))
    for var in ("SPARK_GRAFT_MASTER", "SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "py_tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f'--driver-java-options "-Djava.io.tmpdir={run_dir}/jvm_tmp -XX:-UsePerfData"',
            f"--conf spark.local.dir={run_dir}/spark_local",
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return r.stdout.strip() or None


def _run_blocks(wl, seconds: float):
    """Run whole blocks until ``seconds`` have elapsed. Returns (op
    records, blocks run)."""
    ops, blocks, t0 = [], 0, time.perf_counter()
    while True:
        for op in wl.block():
            args = op.prepare()
            op_id = len(ops)
            err = None
            t_op = time.perf_counter()
            try:
                if wl.tracer is not None:
                    with wl.tracer.op(op_id, op.kind):
                        res = op.run(args)
                else:
                    res = op.run(args)
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                err = f"{op.kind}: raised {type(e).__name__}: {e}"
            lat = time.perf_counter() - t_op
            fails = [err] if err else op.check(args, res)
            for f in fails[:3]:
                print(f"FAILED op {op_id} {f}", file=sys.stderr)
            ops.append(
                {"op_id": op_id, "kind": op.kind, "writes": op.writes, "lat": lat, "failed": bool(fails)}
            )
        blocks += 1
        if time.perf_counter() - t0 >= seconds:
            return ops, blocks


def _percentile(xs: list[float], q: float) -> float:
    import statistics

    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def _e2e(ops, setup_s: float) -> tuple[dict, dict]:
    from perfbench.tracing import peak_rss_mb
    from perfbench.workload import mean, median

    rss = peak_rss_mb()
    done = [o for o in ops if not o["failed"]]
    lat = [o["lat"] for o in done]
    reads = [o["lat"] for o in done if not o["writes"]]
    writes = [o["lat"] for o in done if o["writes"]]
    metrics = {
        "setup_s": setup_s,
        # completed ops over the whole timed loop, failed ops' time included
        "ops_per_s": len(done) / sum(o["lat"] for o in ops),
        "read_mean_s": mean(reads),
    }
    extra = {
        # the JVM's adaptive heap sizing moves this by up to ~20% between
        # runs of one seed, too much for a bound
        "peak_rss_mb": rss["python"] + rss["jvm"],
        # medians over a block of several op kinds land between kinds and
        # jump when their order changes, too much for a bound
        "op_p50_s": median(lat),
        "read_p50_s": median(reads),
        "write_p50_s": median(writes) if writes else None,
        "write_mean_s": mean(writes) if writes else None,
        # a percentile is reported only with >= 10 samples beyond it
        "op_p90_s": _percentile(lat, 90) if len(lat) >= 100 else None,
        "failed_op_ratio": 1 - len(done) / len(ops),
        "samples": {"ops": len(ops), "completed": len(lat), "reads": len(reads), "writes": len(writes)},
        "peak_rss_mb_by_process": rss,
    }
    return metrics, extra


def _layer_metrics(wl, ops, get_spark_s: float) -> dict:
    from perfbench.workload import mean

    tr = wl.tracer
    tr.counters.settle()
    roots = [s for s in tr.spans if s.parent is None and s.op_id is not None]
    job_ids = [j for s in roots for j in range(s.job0, s.job1)]
    tasks, failed = tr.counters.tasks(job_ids)
    n = max(1, len(roots))
    self_t = tr.self_time_by_layer()
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(
        {
            "session.get_spark_s": get_spark_s,
            "spark.jobs_per_op": mean(s.job1 - s.job0 for s in roots),
            "spark.tasks_per_op": tasks / n,
            "spark.failed_tasks": failed,
            "trace.uncovered_s": self_t.get("client", 0.0) / n,
            "trace.overhead_ratio": tr.own_s / sum(o["lat"] for o in ops),
        }
    )
    for layer, prefix in SELF_TIME.items():
        out[f"{prefix}.self_s"] = self_t.get(layer, 0.0) / n
    out.update(wl.layer_metrics(ops))
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return out


def _layer_table(metrics: dict) -> str:
    lines = ["per-layer (traced blocks; 0 = layer not reached by this workload)"]
    for k, unit in PER_LAYER.items():
        lines.append(f"  {k:<48} {metrics[k]:>14.6g} {unit}")
    return "\n".join(lines)


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if _alive(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in live:
        while _alive(p) and time.monotonic() < deadline + 10:
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - e.g. a gateway cut mid-call by SIGTERM
        traceback.print_exc()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(pids, 20)


def main(argv=None) -> int:
    a = _args(argv)
    # a terminated run still stops Spark and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{a.workload}-{a.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    spark = None
    try:
        _configure_env(run_dir)
        import pyspark

        from binance_data_framework_spark.session import get_spark

        from perfbench.tracing import SparkCounters, Tracer

        t = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
        if a.workload == "market_queries":
            from perfbench.market_queries import MarketQueries as W
        else:
            from perfbench.kline_corpus import KlineCorpus as W
        wl = W(spark, a.seed, os.path.join(run_dir, "work"))
        os.makedirs(wl.run_dir)
        wl.setup()
        setup_s = time.perf_counter() - T_START - wl.bench_s
        for f in wl.failures:
            print(f"FAILED setup check: {f}", file=sys.stderr)
        if a.trace:
            wl.tracer = Tracer(SparkCounters(spark))
            wl.begin_measured()
        ops, blocks = _run_blocks(wl, a.seconds)
        metrics, extra = _e2e(ops, setup_s)
        if a.trace:
            metrics = _layer_metrics(wl, ops, get_spark_s)
            print(_layer_table(metrics))
            spans_path = os.path.join(ROOT, ".perfbench_out", f"spans-{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            with open(spans_path, "w") as f:
                json.dump(wl.tracer.to_records(), f)
        failed = sum(o["failed"] for o in ops)
        report = {
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "blocks": blocks,
            "env": {
                "nproc": os.cpu_count(),
                "usable_cpus": len(os.sched_getaffinity(0)),
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                "pyspark": pyspark.__version__,
                "python": sys.version.split()[0],
                "commit": _commit(),
                "source_sha256": _source_digest(),
            },
            "session_get_spark_s": get_spark_s,
            "benchmark_own_s": wl.bench_s,
            "setup_phases_s": wl.setup_phases,
            **extra,
            **wl.report(ops),
            "setup_check_failures": len(wl.failures),
            "op_latencies": [[o["kind"], round(o["lat"], 4)] for o in ops],
        }
        print(json.dumps(report, default=str))
        units = PER_LAYER if a.trace else END_TO_END
        result = {
            "correct": failed == 0 and not wl.failures,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                _shutdown(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass
            print(f"run took {time.perf_counter() - T_START:.1f}s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
