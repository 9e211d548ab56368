"""Benchmark runner: one seeded, closed-loop, single-client workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload store_fetch --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` wraps the
package's entry points in spans and reports per-layer metrics instead.
``--smoke`` shrinks the inputs to sf0.001 for a fast functional check.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it holds the details that are
not gated (per-class latencies, tail percentiles, the box).

Each run is hermetic: inputs are generated from the seed into a private
work directory under ``.perfbench_work/`` in the repository root, Spark's
scratch space lives there too, and the directory is deleted at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF, SMOKE_SF = 0.1, 0.001
SMOKE_OPS = 6
# no new op starts this long after process start, so a run ends within 180 s
DEADLINE_S = 150
WORKLOADS = ("store_fetch", "analytic", "dedup_corpus")


def box_info() -> dict:
    """The execution width and memory this run pins, plus the load it
    started under."""
    cpus = len(os.sched_getaffinity(0))
    mem_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            mem_bytes = min(mem_bytes, int(limit))
    except OSError:
        pass
    driver_gb = max(1, min(8, mem_bytes // 2**30 // 4))
    return {
        "nproc": cpus,
        "cpus": cpus,
        "mem_gb": round(mem_bytes / 2**30, 1),
        "driver_mem": f"{driver_gb}g",
        "loadavg_1m": os.getloadavg()[0],
    }


def pin_environment(box: dict, work_dir: str) -> None:
    """Size Spark to the box and keep all of its scratch space in
    ``work_dir``. Must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(box["cpus"])
    os.environ["SPARK_DRIVER_MEM"] = box["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # tempfile may have resolved its default already
    os.environ.pop("SPARK_GRAFT_HOT_CACHE", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'spark-warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, ctx):
    if name == "store_fetch":
        from store_fetch import StoreFetch

        return StoreFetch(ctx)
    if name == "analytic":
        from analytic import Analytic

        return Analytic(ctx)
    from dedup_corpus import DedupCorpus

    return DedupCorpus(ctx)


def timed(op):
    """(result, error, ms) of one op's timed region."""
    t = time.perf_counter()
    try:
        result, err = op.run(), None
    except Exception as exc:  # a failed op is counted, the run goes on
        result, err = None, f"{op.kind} raised {exc!r}"[:500]
    return result, err, 1000.0 * (time.perf_counter() - t)


def finish(op, result, err, ms):
    """Check an op's result (after its timer stopped) into a Record."""
    from core import Record

    if err is None:
        try:
            err = op.check(result)
        except Exception as exc:
            err = f"{op.kind} check raised {exc!r}"[:500]
    if err is not None:
        print(f"perfbench: op {op.kind} failed: {err}", file=sys.stderr)
    return Record(op.kind, op.klass, ms, err is None, op.docs, op.repeat)


def run_op(op, tracer, counters, op_id: int, traced: bool):
    """Time one op (recording spans when ``traced``), then check it."""
    if counters is not None:
        counters.begin(op_id)
    tracer.op_id, tracer.enabled = op_id, traced
    result, err, ms = timed(op)
    tracer.enabled = False
    rec = finish(op, result, err, ms)
    if counters is not None:
        counters.end(op_id)
    tracer.run_deferred()
    return rec


def set_up(wl, tracer, workers: int) -> list:
    """Run the workload's set-up, then its warm-up ops; return the warm-up
    records. Independent warm-up ops run ``workers`` at a time — their cost
    is one-off JIT and code generation — and are checked one by one after
    all have run."""
    wl.setup()
    ops = wl.warmup()
    if not wl.independent_warmup:
        return [run_op(op, tracer, None, -1 - i, False) for i, op in enumerate(ops)]
    with ThreadPoolExecutor(max_workers=workers) as pool:
        outs = list(pool.map(timed, ops))
    return [finish(op, *out) for op, out in zip(ops, outs)]


def end_to_end(records, setup_s: float, measured_s: float) -> tuple[dict, dict]:
    """(gated metrics, details) from the measured ops."""
    from core import median, tail

    ms = [r.ms for r in records]
    tail_ms, tail_pct, n = tail(ms)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(records) / measured_s, "1/s"),
        "op_p50_ms": (median(ms), "ms"),
        "op_tail_ms": (tail_ms, "ms"),
    }
    details = {
        "op_tail_pct": tail_pct,
        "op_samples": n,
        "error_rate": sum(not r.ok for r in records) / max(len(records), 1),
        "docs_per_s": sum(r.docs for r in records) / measured_s,
        "kind_p50_ms": {
            kind: median([r.ms for r in records if r.kind == kind])
            for kind in sorted({r.kind for r in records})
        },
    }
    for klass in ("write", "read"):
        xs = [r.ms for r in records if r.klass == klass]
        t_ms, t_pct, t_n = tail(xs)
        details.update(
            {
                f"{klass}_p50_ms": median(xs),
                f"{klass}_tail_ms": t_ms,
                f"{klass}_tail_pct": t_pct,
                f"{klass}_samples": t_n,
            }
        )
    return metrics, details


def per_layer(tracer, counters, wl, records, session_s: float, scan_s: dict) -> dict:
    """Per-layer metrics from the spans and counters of the measured ops.
    Busy and self times are means per call; a layer the workload never
    calls reports zeros."""
    from core import median

    out = {"session.get_spark_s": (session_s, "s")}
    for span in ("client.load_dataframe", "client.get_dataframe"):
        calls, busy, self_ms = tracer.per_call_ms(span)
        out[f"{span}.calls"] = (calls, "count")
        out[f"{span}.busy_ms"] = (busy, "ms")
        out[f"{span}.self_ms"] = (self_ms, "ms")
    c = tracer.counters
    out["client.bytes_in"] = (c.get("client.bytes_in", 0), "bytes")
    out["client.bytes_out"] = (c.get("client.bytes_out", 0), "bytes")
    saves, save_busy, _ = tracer.per_call_ms("engine.save")
    out["engine.save.busy_ms"] = (save_busy, "ms")
    for k, unit in (("files_written", "count"), ("bytes_written", "bytes"), ("partition_dirs", "count")):
        out[f"engine.save.{k}"] = (c.get(f"engine.save.{k}", 0) / max(saves, 1), unit)
    out["engine.manifest_bytes"] = (c.get("engine.manifest_bytes", 0), "bytes")
    loads, load_busy, _ = tracer.per_call_ms("engine.load")
    out["engine.load.busy_ms"] = (load_busy, "ms")
    out["engine.load.files_scanned"] = (c.get("engine.load.files_scanned", 0) / max(loads, 1), "count")
    out["engine.load_pruned.busy_ms"] = (tracer.per_call_ms("engine.load_pruned")[1], "ms")
    out["engine.load_pruned.files_kept_ratio"] = (
        c.get("engine.load_pruned.files_kept", 0) / max(c.get("engine.load_pruned.files_selected", 0), 1),
        "ratio",
    )
    out["engine.sql.plan_ms"] = (tracer.per_call_ms("engine.sql.plan")[1], "ms")
    out["engine.sql.exec_ms"] = (tracer.per_call_ms("engine.sql.exec")[1], "ms")
    out["engine.list_datasets.busy_ms"] = (tracer.per_call_ms("engine.list_datasets")[1], "ms")
    out["io.scan_lineitem_s"] = (scan_s["lineitem"], "s")
    out["io.scan_orders_s"] = (scan_s["orders"], "s")
    from analytic import QUERIES

    for q in QUERIES:
        calls, busy, _ = tracer.per_call_ms(f"corpus.{q}")
        out[f"corpus.{q}.busy_ms"] = (busy, "ms")
        out[f"corpus.{q}.rows_out"] = (c.get(f"corpus.{q}.rows_out", 0) / max(calls, 1), "count")
    out["spark.jobs_per_op"] = (median(counters.jobs), "count")
    out["spark.stages_per_op"] = (median(counters.stages), "count")
    out["spark.tasks_per_op"] = (median(counters.tasks), "count")
    out["spark.failed_tasks"] = (counters.failed_tasks, "count")
    from dedup_corpus import KINDS

    for step in KINDS:
        out[f"{step}.busy_ms"] = (tracer.per_call_ms(step)[1], "ms")
    pairs = getattr(wl, "pairs_out", [])
    out["dedup.minhash_lsh_pairs.pairs_out"] = (median(pairs), "count")
    out["dedup.recall"] = (wl.recall() if hasattr(wl, "recall") else 0.0, "ratio")
    out["cache.persisted_rdds"] = (max(counters.persisted_rdds, default=0), "count")
    out["cache.storage_mem_mb"] = (max(counters.storage_mb, default=0.0), "MB")
    # repeated over fresh input, per op kind, median over the kinds with both
    ratios = []
    for kind in {r.kind for r in records}:
        again = [r.ms for r in records if r.kind == kind and r.repeat]
        fresh = [r.ms for r in records if r.kind == kind and not r.repeat]
        if again and fresh:
            ratios.append(median(again) / median(fresh))
    out["cache.repeat_op_ratio"] = (median(ratios), "ratio")
    # the traced run's own end-to-end figures: minus the untraced run's on
    # the same seed they give the tracing overhead; the tracer's in-op cost
    # per op is also measured directly
    ms = [r.ms for r in records]
    out["trace.op_p50_ms"] = (median(ms), "ms")
    out["trace.ops_per_s"] = (len(ms) / (sum(ms) / 1000.0), "1/s")
    out["trace.overhead_ms_per_op"] = (span_cost_ms() * len(tracer.spans) / max(len(ms), 1), "ms")
    out["trace.spans"] = (len(tracer.spans), "count")
    return out


def span_cost_ms(n: int = 5000) -> float:
    """Latency one wrapped call adds when tracing is on: a no-op method
    called through a span-recording wrapper, minus called directly."""
    from tracing import Tracer

    class Probe:
        def call(self):
            return None

    probe, tracer = Probe(), Tracer(enabled=True)
    t = time.perf_counter()
    for _ in range(n):
        probe.call()
    direct = time.perf_counter() - t
    tracer.wrap(Probe, "call", "probe")
    t = time.perf_counter()
    for _ in range(n):
        probe.call()
    wrapped = time.perf_counter() - t
    return max(wrapped - direct, 0.0) * 1000.0 / n


def scan_floor(spark, data_dir: str) -> dict:
    """One ``count()`` per table through ``io.tables``, median of three."""
    from pandas_db_sdk_spark import io

    from core import median

    tables = io.tables(spark, data_dir)
    out = {}
    for name in ("lineitem", "orders"):
        times = []
        for _ in range(3):
            t = time.perf_counter()
            tables(name).count()
            times.append(time.perf_counter() - t)
        out[name] = median(times)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 inputs and a few ops")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pandas_db_sdk_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2

    box = box_info()
    print(json.dumps({"box": box}), flush=True)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        pin_environment(box, work_dir)
        return measure(args, box, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass


def measure(args, box: dict, work_dir: str) -> int:
    import numpy as np

    import datagen
    from core import Context
    from pandas_db_sdk_spark import session
    from tracing import SparkCounters, Tracer, install_package_spans

    sf = SMOKE_SF if args.smoke else SF
    data_dir = os.path.join(work_dir, "data")
    tracer = Tracer()
    if args.trace:
        install_package_spans(tracer)
    # inputs are generated while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        generated = pool.submit(datagen.write_tables, data_dir, args.seed, sf)
        t = time.perf_counter()
        spark = session.get_spark("perfbench")
        session_s = time.perf_counter() - t
        tables = generated.result()
    try:
        ctx = Context(
            spark=spark,
            sf=sf,
            data_dir=data_dir,
            tables=tables,
            work_dir=work_dir,
            tracer=tracer,
            rng=np.random.default_rng([args.seed, 1]),
        )
        ready_s = time.perf_counter() - PROCESS_START
        t = time.perf_counter()
        wl = make_workload(args.workload, ctx)
        warm = set_up(wl, tracer, box["cpus"])
        workload_setup_s = time.perf_counter() - t
        counters = SparkCounters(spark) if args.trace else None
        setup_s = time.perf_counter() - PROCESS_START

        records, measured_s, op_id = [], 0.0, 0
        while True:
            if args.smoke and op_id >= SMOKE_OPS:
                break
            # rotation workloads stop on a round boundary, so every op kind
            # is measured equally often
            done = measured_s >= args.seconds and not wl.mid_round
            late = time.perf_counter() - PROCESS_START > DEADLINE_S
            if not args.smoke and (done or late):
                break
            op = wl.next_op()
            op_id += 1
            rec = run_op(op, tracer, counters, op_id, bool(args.trace))
            records.append(rec)
            measured_s += rec.ms / 1000.0
        for kind, err in wl.final_check().items():
            print(f"perfbench: {err}", file=sys.stderr)
            for r in records + warm:
                if r.kind == kind:
                    r.ok = False
        failed = sum(not r.ok for r in records + warm)
        attempted = len(records) + len(warm)

        metrics, details = end_to_end(records, setup_s, measured_s)
        details.update(wl.details(records))
        details.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "sf": sf,
                "trace": args.trace,
                "setup_ready_s": ready_s,
                "setup_workload_s": workload_setup_s,
                "warmup_ms": {r.kind: r.ms for r in warm},
                "measured_s": measured_s,
                "box": box,
            }
        )
        if args.trace:
            tracer.unwrap_all()
            metrics = per_layer(tracer, counters, wl, records, session_s, scan_floor(spark, data_dir))
        print(json.dumps({"details": details}), flush=True)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
