"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Workloads (``BENCHMARK.json`` says why
each was chosen):

- ``ingest_orc_partitioned`` — a file-source stream of generated events
  (1,000-row parquet files, one per trigger) into a native ORC table
  partitioned by ``event_type``;
- ``ingest_txnlog`` — the same input into a ``table.format=txnlog``
  table that starts at log version 0;
- ``query_mix`` — twelve registered queries over generated fixtures in
  one warm session, each result checked against its DuckDB oracle.

Each ingest run drains a pre-staged backlog in a closed loop (phase A),
then drops files into the source on a fixed schedule in an open loop
(phase B), stops the stream and times the reader set. ``query_mix``
repeats timed passes over the mix. ``--seconds`` sizes the phases and
the passes. The seed generates every input; the engine sees only the
generated files.

Each run checks its outputs, prints human-readable lines and, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones,
measured untraced on every workload:

- ``setup_s`` — process start until ready: session start, input
  staging, destination DDL and the warm-up (a short stream into a
  throwaway table; one pass of the mix over small fixtures);
- ``work_s`` — wall time of the workload's fixed work: the phase-A
  backlog drain, from the first batch's start to the commit of the last
  backlog batch (ingest; rows/s = backlog rows / ``work_s``), or the
  sum over the mix of each query's median wall (``query_mix``);
- ``op_p50_ms`` — median per-operation latency: a micro-batch's
  ``triggerExecution`` (ingest) or a query's median wall (``query_mix``);
- ``read_scan_s`` — median wall of the reader set (a full count and an
  ``event_type = 'click'`` aggregate) over the destination (ingest) or
  the generated ``events`` table (``query_mix``).

Every run also prints the high-water RSS of this process and of its JVM;
the traced run reports both as per-layer metrics.

Ingest runs also print the batch tail (the highest percentile with at
least ten batches beyond it) and phase B's freshness (each file's
scheduled drop until the commit of the batch that read it, mapped by
cumulative input rows); the traced run reports both as metrics.

With ``--trace 1`` the run records spans around the public calls into
each layer and reports the per-layer metrics listed in
``BENCHMARK.json`` (0 where the workload bypasses the layer). When an
untraced run of the same workload and seed has finished in this
checkout, it also prints the tracing overhead: traced minus untraced,
per end-to-end metric.

Everything a run writes stays under ``.perfbench_work/`` in the
checkout; its scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "spark_hive_streaming_sink_spark"
WORKLOADS = ("ingest_orc_partitioned", "ingest_txnlog", "query_mix")
DEADLINE_S = 170  # a run that is still going then is killed, JVM included


def _metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


class Context:
    """State of one run, passed to the workload."""

    def __init__(self, args, work: str, cpus: int, t_process: float):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.work, self.cpus = work, cpus
        self.t_process = t_process
        self.tracer = None
        self.spark = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.checks: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0
        self.query_windows: list = []

    def span(self, name: str, trace=None):
        """A tracer span in traced runs, nothing otherwise."""
        return self.tracer.span(name, trace) if self.tracer else contextlib.nullcontext()

    def record_rss(self) -> None:
        """High-water RSS (``VmHWM``) of this process and of its JVM."""
        proc = _jvm_proc()
        self.info["peak_rss_mb"] = {
            "python": _vm_hwm_kb("self") / 1024,
            "jvm": (_vm_hwm_kb(proc.pid) if proc else 0) / 1024,
        }

    def ready(self) -> None:
        """The workload is set up: ``setup_s`` is the wall time since
        the process started."""
        self.setup_s = time.perf_counter() - self.t_process

    def job_count(self) -> int:
        """Spark jobs the session has run, from Spark's status store."""
        return self.spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def _pin_environment(work: str, trace_events: bool) -> int:
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the heap starts at its maximum and the young generation has a fixed
    # size (a JVM started with a smaller -Xmx caps both at it): runs on a
    # loaded host then spend less time resizing and collecting the heap
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:InitialRAMPercentage=100 -Xmn512m"
    )
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace_events:
        # Spark's own event log, configured outside the engine; zstd (the
        # default codec) needs a package this environment lacks
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    return cpus


def _environment(cpus: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "load_1m": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
    }


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _shutdown(ctx) -> None:
    """Stop the session and the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    if ctx.spark is not None:
        ctx.spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(10)


def _abort(reason: str, code: int) -> None:
    """Kill the JVM, wait for it, and exit without a result."""
    print(f"perfbench: {reason}, aborting", file=sys.stderr)
    proc = _jvm_proc()
    if proc is not None:
        proc.kill()
        proc.wait(10)
    os._exit(code)


def _guard() -> threading.Timer:
    """Never outlive the deadline or a SIGTERM with the JVM running."""
    signal.signal(signal.SIGTERM, lambda *_: _abort("terminated", 143))
    t = threading.Timer(DEADLINE_S, _abort, (f"run exceeded {DEADLINE_S} s", 3))
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_process = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import ingest
    import qmix
    from spans import Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.chdir(work)  # spark-warehouse/ and friends land in the scratch dir
    trace = bool(args.trace)
    cpus = _pin_environment(work, trace and args.workload == "query_mix")
    ctx = Context(args, work, cpus, t_process)
    if trace:
        ctx.tracer = Tracer()
    env = _environment(cpus)
    print("env " + json.dumps(env), flush=True)
    watchdog = _guard()
    try:
        from spark_hive_streaming_sink_spark.session import get_spark

        t0 = time.perf_counter()
        ctx.spark = get_spark()
        ctx.session_s = time.perf_counter() - t0
        (qmix if args.workload == "query_mix" else ingest).run(ctx)
        ctx.e2e["setup_s"] = ctx.setup_s
    except Exception:  # noqa: BLE001 - a failed run still reports and exits cleanly
        traceback.print_exc()
        ctx.failed += 1
        ctx.checks["workload_completed"] = False
    finally:
        if "peak_rss_mb" not in ctx.info:
            ctx.record_rss()
        _shutdown(ctx)
        watchdog.cancel()

    correct = bool(ctx.checks) and all(ctx.checks.values())
    attempted = max(ctx.attempted, 1)
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    record_path = os.path.join(base, "results", f"{args.workload}-{args.seed}.json")
    if trace:
        measured = _trace_layers(ctx, base)
        overhead = _overhead(ctx, record_path)
    else:
        measured = ctx.e2e
        overhead = {}
        if correct:
            with open(record_path, "w") as f:
                json.dump(ctx.e2e, f)
    units = _metric_units(trace)
    missing = sorted(k for k in units if k not in measured)
    if missing and not trace:  # per-layer metrics are 0 where a layer is bypassed
        print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
        correct = False
    metrics = {k: {"value": float(measured.get(k, 0.0)), "unit": u} for k, u in units.items()}
    shutil.rmtree(work, ignore_errors=True)

    for name, ok in sorted(ctx.checks.items()):
        if not ok:
            print(f"check FAILED: {name}")
    print("info " + json.dumps(ctx.info, default=str))
    print(f"error_rate {ctx.failed / attempted:.4f} ({ctx.failed}/{attempted} operations)")
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    for k, v in overhead.items():
        print(f"trace_overhead {k} = {v:+.6g} (traced minus untraced, seed {args.seed})")
    print(f"run_wall_s {time.perf_counter() - t_process:.1f}")
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": ctx.failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0 if correct else 1


def _trace_layers(ctx, base: str) -> dict:
    """Per-layer metrics of a traced run; its spans go to disk."""
    import qmix

    layer = dict(ctx.layer)
    layer["session.start_s"] = ctx.session_s
    layer["mem.python_hwm_mb"] = ctx.info["peak_rss_mb"]["python"]
    layer["mem.jvm_hwm_mb"] = ctx.info["peak_rss_mb"]["jvm"]
    if ctx.query_windows:
        logs = qmix.event_log_layers(os.path.join(ctx.work, "eventlog"), ctx.query_windows)
        for name, fields in logs.items():
            for field, value in fields.items():
                layer[f"query.{name}.{field}"] = value / ctx.info["passes"]
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{ctx.workload}-{ctx.seed}.json"), "w") as f:
        json.dump(
            [dict(zip(("id", "name", "start", "end", "parent", "trace"), s)) for s in ctx.tracer.closed()],
            f,
            default=str,
        )
    return layer


def _overhead(ctx, record_path: str) -> dict:
    """Traced minus untraced, per end-to-end metric (all of them lower
    is better), against the untraced run of the same workload and seed;
    empty when there is none."""
    if not os.path.exists(record_path):
        return {}
    with open(record_path) as f:
        untraced = json.load(f)
    return {k: ctx.e2e[k] - v for k, v in untraced.items() if k in ctx.e2e}


if __name__ == "__main__":
    sys.exit(main())
