"""The repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <ingest|search> \\
        --seed <n> --seconds <s> --trace <0|1> [--scale <f>]

Starts one Spark session on ``local[<cpus>]``, builds the workload's state,
warms the op path up with a few ops (``setup_s`` runs from the start of the
process until then), runs its unit of work in a closed loop for
``--seconds`` (the op running then is finished and counted), checks
every output, and prints two JSON lines: a detail record, then the result
line ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the package's layers are wrapped in spans and the metrics are its per-layer
ones. Everything the run writes lives under ``.perfbench_run/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_ingestion_tool_bakasura__spark"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every input size (the smoke test uses a small one)")
    return ap.parse_args(argv)


def tail_percentile(values: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    pct = int(100 * (1 - 10 / n))
    return {"pct": pct, "value": statistics.quantiles(values, n=100)[pct - 1], "n": n}


def resolve(spec: str):
    """``module:Attr.attr`` -> (owner object, attribute name, span name)."""
    import importlib

    mod, attr = spec.split(":")
    owner = importlib.import_module(mod if mod.startswith("tools") else f"{PACKAGE}.{mod}")
    *path, last = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, last, f"{mod}.{last}"


def start_spark(run_dir: str, cpus: int):
    from data_ingestion_tool_bakasura__spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(timeout_s: float = 60) -> None:
    """Stop the session (if one came up), the JVM and every Python worker
    under it, and wait until each has ended. Safe to call when start-up was
    interrupted half way."""
    from pyspark import SparkContext

    import spans

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    below = spans.descendants(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in below:
        while time.monotonic() < deadline:
            fields = spans._stat_fields(pid)
            if fields is None or fields[0] == "Z":
                break
            time.sleep(0.05)
        else:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def run(args, spark, run_dir: str, t_begin: float) -> tuple[dict, dict]:
    import spans
    import workloads

    jvm_pid = spark.sparkContext._gateway.proc.pid
    wl = workloads.WORKLOADS[args.workload](spark, run_dir, args.seed, args.scale)
    tracer = None
    if args.trace:
        tracer = spans.Tracer(spark, jvm_pid)
        wl.span = tracer.span
        for spec in wl.TRACE:
            tracer.wrap(*resolve(spec))
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        tracer.wrap_callback(DataStreamWriter, "foreachBatch", "streaming.batch.sink")

    failures: list[str] = []
    attempted = failed = 0

    def cpu_now() -> float:
        return spans.cpu_s([os.getpid(), jvm_pid, *spans.descendants(jvm_pid)])

    def checked_op() -> tuple[float, float, int, float]:
        """One op, its output checked: (wall s, CPU s of every process, items,
        s spent checking); a failed op handled 0 items."""
        nonlocal attempted, failed
        attempted += 1
        c0, t0 = cpu_now(), time.perf_counter()
        wall = cpu = None
        try:
            with wl.span("bench.op"):
                n, verify = wl.op()
            wall, cpu = time.perf_counter() - t0, cpu_now() - c0
            if verify:
                verify()
            return wall, cpu, n, time.perf_counter() - t0 - wall
        except Exception as e:  # a failed op is counted, and the loop goes on
            failed += 1
            failures.append(f"op {attempted}: {type(e).__name__}: {e}"[:500])
            if not isinstance(e, workloads.CheckFailed):
                traceback.print_exc(file=sys.stderr)
            if wall is None:
                wall, cpu = time.perf_counter() - t0, cpu_now() - c0
            return wall, cpu, 0, time.perf_counter() - t0 - wall

    with spans.RssSampler(jvm_pid) as rss:
        t0 = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t0
        # warm-up: the op path's first runs (planning, JIT compilation,
        # worker start-up) belong to set-up, not to the timed ops
        warmup = [checked_op() for _ in range(wl.WARMUP_OPS)]
        warmup_s = [w[0] for w in warmup]
        # the harness's own output checks of the warm-up ops are not set-up
        setup_s = time.perf_counter() - t_begin - sum(w[3] for w in warmup)
        if tracer:
            tracer.spans.clear()
        batches0 = len(wl.progress()) if hasattr(wl, "progress") else 0
        durations, cpu, counts = [], [], []
        t_start = time.perf_counter()
        while True:
            dt, c, n, _ = checked_op()
            durations.append(dt)
            cpu.append(c)
            counts.append(n)
            if time.perf_counter() - t_start >= args.seconds:
                break
        wall = time.perf_counter() - t_start
    if tracer:
        tracer.unwrap_all()  # the final check is not part of the traced ops
    attempted += 1
    try:
        wl.final_check()
    except Exception as e:
        failed += 1
        failures.append(f"final check: {type(e).__name__}: {e}"[:500])
    wl.close()

    usage = {name: spans.dir_usage(p) for name, p in wl.stored_paths().items()}
    stored = sum(b for _, b in usage.values())
    # per op, then the median over the timed ops: an op's own time, without
    # the output check that ran after it; failed ops are left out
    rates = [n / dt for n, dt in zip(counts, durations) if n]
    e2e = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (statistics.median(rates) if rates else float("nan"), "1/s"),
        "rss_peak_mb": (rss.peak_mb, "MB"),
        "stored_bytes_per_input_byte": (stored / max(wl.input_bytes, 1), "B/B"),
    }
    detail = {
        "workload": wl.name, "unit": wl.unit, "seed": args.seed, "trace": args.trace,
        "build_s": build_s, "warmup_s": warmup_s, "ops": len(durations), "op_times_s": durations,
        "op_cpu_s": cpu, "op_p50_s": statistics.median(durations),
        "op_tail_s": tail_percentile(durations), "wall_s": wall, "items": sum(counts),
        "rss_peak_parts_mb": rss.peak_parts,
        "fail_ratio": failed / attempted, "failures": failures[:10],
        "resources": {k: {"files": f, "bytes": b} for k, (f, b) in usage.items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        **wl.detail(),
    }
    layer = {}
    if tracer:
        table = tracer.layers()
        detail["spans"] = table
        for span, counters in table.items():
            for k, v in counters.items():
                layer[f"{span}.{k}"] = v
        if hasattr(wl, "progress"):
            batches = wl.progress()[batches0:]
            detail["stream_batches"] = [json.loads(p.json) for p in batches]
            phases = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
                      "query_planning_s": "queryPlanning", "get_batch_s": "getBatch",
                      "wal_commit_s": "walCommit", "commit_offsets_s": "commitOffsets"}
            layer["streaming.batch.calls"] = len(batches)
            for k, phase in phases.items():
                layer[f"streaming.batch.{k}"] = sum(p.durationMs.get(phase, 0) for p in batches) / 1e3
            layer["streaming.batch.input_rows"] = sum(p.numInputRows for p in batches)
            layer["streaming.checkpoint_files"], layer["streaming.checkpoint_bytes"] = usage["stream_checkpoint"]
        for k, (f, b) in usage.items():
            layer[f"resources.{k}.files"], layer[f"resources.{k}.bytes"] = f, b
        layer["bench.items_per_s"] = e2e["items_per_s"][0]
        layer["bench.trace_bookkeeping_s"] = tracer.bookkeeping_s
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layer": layer}, detail


def main(argv=None) -> int:
    t_begin = time.perf_counter()
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    # before the package is imported: session.py reads SPARK_GRAFT_CPUS at import
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # executors unpickle the package's UDFs by import path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE]
    try:
        pkg = __import__(PACKAGE)
        from tools import curate_cli  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print(f"perfbench: the package was imported from {pkg.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_before = os.getloadavg()
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, cpus)
        session_s = time.perf_counter() - t0
        master = spark.sparkContext.master
        partitions = spark.conf.get("spark.sql.shuffle.partitions")
        result, detail = run(args, spark, run_dir, t_begin)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        with_parent = os.path.dirname(run_dir)
        if os.path.isdir(with_parent) and not os.listdir(with_parent):
            os.rmdir(with_parent)

    detail.update(cpus=cpus, master=master, shuffle_partitions=partitions, session_s=session_s,
                  loadavg_before=load_before, loadavg_after=os.getloadavg())
    print(json.dumps({"detail": detail}, default=str))
    if args.trace:
        wanted, values = bench["per_layer"], result["layer"]
    else:
        wanted, values = bench["end_to_end"], {k: v for k, (v, _) in result["e2e"].items()}
    # a run whose every op failed has no median; it is reported incorrect
    finite = {k: v for k, v in values.items() if math.isfinite(v)}
    metrics = {
        m["name"]: {"value": float(finite.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
