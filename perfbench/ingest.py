"""Ingest workloads: a file-source stream of ``events`` into a sink
destination through ``write_stream_to_table``, then the reader set.

``ingest_orc_partitioned`` — a native ORC table ``PARTITIONED BY
(event_type)``: phase A drains a pre-staged backlog in a closed loop,
phase B drops one file per second in an open loop and times each file
from its scheduled drop.

``ingest_txnlog`` — the same input into an unpartitioned
``table.format=txnlog`` table that starts at log version 0; its open
loop drops one file per 1.5 s.
"""

from __future__ import annotations

import collections
import datetime
import glob
import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import stats

ROWS_PER_FILE = 1000
WARM_FILES = 4  # warm-up batches, streamed into a throwaway table
READER_WARM = 3  # untimed reader sets first: the read path's JIT warm-up
READER_REPS = 11
TRIGGER = {"processingTime": "100 milliseconds"}
COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
SOURCE_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
# StreamingQueryProgress.durationMs keys -> per-layer metric stems
TRIGGER_PHASES = {
    "latestOffset": "latest_offset",
    "getBatch": "get_batch",
    "queryPlanning": "query_planning",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
    "addBatch": "add_batch",
}
TABLE_COLUMNS = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE, props STRING, event_type STRING"


class Workload:
    """One ingest scenario: destination DDL, sink options, phase sizes
    (files) for a given run length and the open-loop drop interval."""

    def __init__(self, name: str, seconds: int):
        self.txnlog = name == "ingest_txnlog"
        self.options = {"table.format": "txnlog"} if self.txnlog else {}
        # open-loop drop interval, below each protocol's warm batch rate
        # (about 65 % load for ORC, 40-60 % for txnlog, whose batches
        # slow as its log grows) so a busy host does not build a backlog
        self.interval_s = 1.5 if self.txnlog else 1.0
        self.n_a = max(2, seconds)
        self.n_b = max(1, int(seconds * 0.4 / self.interval_s))

    def ddl(self, table: str, location: str) -> str:
        if self.txnlog:
            return f"CREATE TABLE {table} ({TABLE_COLUMNS}) USING PARQUET LOCATION '{location}'"
        return (
            f"CREATE TABLE {table} ({TABLE_COLUMNS}) USING ORC "
            f"PARTITIONED BY (event_type) LOCATION '{location}'"
        )


class ProgressLog:
    """Every ``StreamingQueryProgress`` of the session, by query id,
    collected by a ``StreamingQueryListener`` (``recentProgress`` is a
    bounded ring and silently drops old batches)."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        self.by_query: dict[str, list[dict]] = collections.defaultdict(list)
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                    log.by_query[str(p.id)].append(
                        {
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "start_s": start.timestamp(),
                            "duration_ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def batches(self, query_id: str) -> list[dict]:
        return sorted(self.by_query.get(query_id, []), key=lambda b: b["batch"])

    def rows(self, query_id: str) -> int:
        return sum(b["rows"] for b in self.by_query.get(query_id, []))


def _write_files(tables: list[pa.Table], directory: str, prefix: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        path = os.path.join(directory, f"{prefix}{i:05d}.parquet")
        pq.write_table(t, path)
        paths.append(path)
    return paths


def _utc(t: pa.Table) -> pa.Table:
    """Input files carry UTC-adjusted timestamps so the stream's explicit
    ``TIMESTAMP`` schema reads them as the same instants."""
    i = t.schema.get_field_index("ts")
    return t.set_column(i, "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))


def _row_key(t: pa.Table) -> pa.Table:
    """Rows in a canonical column order with timestamps as epoch micros,
    for checksumming input and destination alike."""
    t = t.select(COLUMNS)
    return t.set_column(1, "ts", pc.cast(t["ts"], pa.int64()))


def _checksum(t: pa.Table) -> tuple[int, int, dict]:
    t = _row_key(t)
    n, s = stats.multiset_checksum(zip(*[c.to_pylist() for c in t.columns]))
    return n, s, dict(collections.Counter(t["event_type"].to_pylist()))


def _commits(batches: list[dict]) -> list[tuple[float, int]]:
    """``(commit time, cumulative input rows)`` per batch; a batch
    commits when its trigger ends."""
    out, cum = [], 0
    for b in batches:
        cum += b["rows"]
        out.append((b["start_s"] + b["duration_ms"]["triggerExecution"] / 1000.0, cum))
    return out


def _wait(pred, query, timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while not pred():
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if not query.isActive:
            raise RuntimeError("stream stopped before its input was committed")
        if time.time() > deadline:
            raise TimeoutError("stream did not commit its input in time")
        time.sleep(0.01)


def install_trace(tr) -> None:
    """Wrap the public calls into each sink layer (see ``spans.py``)."""
    from pyspark.sql import DataFrameWriter, SparkSession
    from pyspark.sql.catalog import Catalog

    from spark_hive_streaming_sink_spark.streaming import sink, txnlog

    tr.wrap_factory(sink, "make_batch_writer", "sink.write_batch", trace_arg=1)
    for owner, attr, name in [
        (sink.WriterLease, "renew", "sink.lease_renew"),
        (sink.BatchCommitLedger, "committed", "sink.ledger_committed"),
        (sink.BatchCommitLedger, "record", "sink.ledger_record"),
        (sink.SinkMetrics, "record", "sink.metrics_record"),
        (sink.StagedBatchPublisher, "publish", "sink.publish"),
        (sink.StagedBatchPublisher, "cleanup", "sink.cleanup"),
        (txnlog.TxnLogPublisher, "publish", "txnlog.publish"),
        (txnlog.TxnLogTable, "append_commit", "txnlog.append_commit"),
        (txnlog.TxnLogTable, "read_commit", "txnlog.read_commit"),
        (txnlog, "read_txnlog_table", "txnlog.snapshot_read"),
        (DataFrameWriter, "save", "spark.save"),
        (SparkSession, "sql", "spark.sql"),
        (Catalog, "refreshTable", "spark.refresh_table"),
    ]:
        tr.wrap(owner, attr, name, nested_only=True)


def _stream(spark, w, src, table, ckpt):
    """Start the sink query over ``src``; returns (query, query id)."""
    from spark_hive_streaming_sink_spark.streaming import sink

    sdf = spark.readStream.schema(SOURCE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = sink.write_stream_to_table(
        sdf, ckpt, db="default", table=table, trigger=TRIGGER, **w.options
    )
    return q, str(q.id)


def _drain(spark, progress, w, src, table, ckpt, n_rows, timeout_s=150.0):
    q, qid = _stream(spark, w, src, table, ckpt)
    try:
        _wait(lambda: progress.rows(qid) >= n_rows, q, timeout_s)
    finally:
        q.stop()
    return qid


class Generator(threading.Thread):
    """The open-loop load generator: renames file k into the source
    directory at ``t0 + k * interval``, whatever the sink is doing, and
    samples the source backlog at each drop."""

    def __init__(self, files, src, interval_s, committed_files):
        super().__init__(daemon=True)
        self.files, self.src = files, src
        self.committed_files = committed_files
        t0 = time.time() + 0.2
        self.scheduled = [t0 + k * interval_s for k in range(len(files))]
        self.actual: list[float] = []
        self.backlog_max = 0
        self.error: BaseException | None = None

    def run(self):
        try:
            for k, (path, due) in enumerate(zip(self.files, self.scheduled)):
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                now = time.time()
                os.utime(path, (now, now))
                os.rename(path, os.path.join(self.src, os.path.basename(path)))
                self.actual.append(time.time())
                self.backlog_max = max(self.backlog_max, k + 1 - self.committed_files())
        except BaseException as e:  # noqa: BLE001 - re-raised by the caller
            self.error = e


def _read_table(spark, w, table):
    from spark_hive_streaming_sink_spark.streaming import txnlog

    if w.txnlog:
        return txnlog.read_txnlog_table(spark, "default", table)
    return spark.table(table)


def reader_set(read) -> dict:
    """The reader set over the table ``read()`` resolves (for txnlog, the
    snapshot resolution): full count and pruned ``event_type = 'click'``
    aggregate. Returns per-part walls and results."""
    import pyspark.sql.functions as F

    t0 = time.perf_counter()
    df = read()
    t1 = time.perf_counter()
    n = df.count()
    t2 = time.perf_counter()
    clicks = df.where(F.col("event_type") == "click").agg(F.count("*")).collect()[0][0]
    t3 = time.perf_counter()
    return {
        "snapshot_ms": (t1 - t0) * 1000,
        "full_ms": (t2 - t1) * 1000,
        "pruned_ms": (t3 - t2) * 1000,
        "total_s": t3 - t0,
        "rows": n,
        "clicks": clicks,
    }


def time_readers(ctx, read, ops: int) -> list[dict]:
    """``READER_WARM`` untimed reader sets, then ``READER_REPS`` timed
    ones (each a ``read.set`` span in traced runs); ``ops`` counts the
    operations of one set."""
    for _ in range(READER_WARM):
        reader_set(read)
    reads = []
    for _ in range(READER_REPS):
        with ctx.span("read.set"):
            reads.append(reader_set(read))
    ctx.attempted += (READER_WARM + READER_REPS) * ops
    return reads


def run(ctx) -> None:
    """Set up, measure and check one ingest workload; fills ``ctx``."""
    spark = ctx.spark
    w = Workload(ctx.workload, ctx.seconds)
    progress = ProgressLog(spark)
    work = ctx.work

    # -- set-up: a warm-up stream into a throwaway table, then the
    #    measured input and destination ---------------------------------
    spark.sql(w.ddl("warm", f"{work}/tables/warm"))
    files = gen.event_files(ctx.seed + 1, WARM_FILES * ROWS_PER_FILE, ROWS_PER_FILE)
    _write_files([_utc(t) for t in files], f"{work}/warm_src", "w")
    _drain(spark, progress, w, f"{work}/warm_src", "warm", f"{work}/ckpt/warm", WARM_FILES * ROWS_PER_FILE)
    inputs = [_utc(t) for t in gen.event_files(ctx.seed, (w.n_a + w.n_b) * ROWS_PER_FILE, ROWS_PER_FILE)]
    src = f"{work}/src"
    _write_files(inputs[: w.n_a], src, "a")
    held = _write_files(inputs[w.n_a :], f"{work}/held", "b")
    table = "dest"
    loc = f"{work}/tables/{table}"
    spark.sql(w.ddl(table, loc))
    ctx.ready()
    expected = _checksum(pa.concat_tables(inputs))

    # -- measured stream: phase A drains the backlog (closed loop), then
    #    the generator drops the held files on schedule (open loop) -------
    if ctx.tracer is not None:
        install_trace(ctx.tracer)
    jobs0 = ctx.job_count()
    n_a_rows = w.n_a * ROWS_PER_FILE
    total = (w.n_a + w.n_b) * ROWS_PER_FILE
    q, qid = _stream(spark, w, src, table, f"{work}/ckpt/{table}")
    try:
        _wait(lambda: progress.rows(qid) >= n_a_rows, q, 150.0)
        gen_thread = Generator(
            held, src, w.interval_s, lambda: progress.rows(qid) // ROWS_PER_FILE - w.n_a
        )
        gen_thread.start()
        _wait(lambda: progress.rows(qid) >= total or gen_thread.error, q, 150.0)
        gen_thread.join(10)
        if gen_thread.error is not None:
            raise gen_thread.error
    finally:
        q.stop()
    jobs1 = ctx.job_count()
    batches = progress.batches(qid)
    ctx.attempted += len(batches)
    trigger = [b["duration_ms"]["triggerExecution"] for b in batches]
    commits = _commits(batches)
    fresh = stats.freshness_ms(gen_thread.scheduled, commits, ROWS_PER_FILE, n_a_rows)
    batch_tail = stats.tail(trigger)
    ctx.e2e["work_s"] = stats.drain_s(batches[0]["start_s"], commits, n_a_rows)
    ctx.e2e["op_p50_ms"] = stats.median(trigger)
    ctx.info["ingest_rows_per_s"] = n_a_rows / ctx.e2e["work_s"]
    ctx.info["batch_ms"] = trigger
    # (percentile, value), printed only: at 15-16 batches a run has, the
    # highest percentile with ten batches beyond it is p33-p37, no tail
    ctx.info["batch_tail"] = batch_tail
    # freshness is printed on every run but reported as a metric only by
    # the traced run: over one short open-loop phase it moved too much
    # from run to run on a shared host to carry a regression bound
    ctx.info["freshness_p50_ms"] = stats.median(fresh)
    ctx.info["freshness_samples"] = len(fresh)
    ctx.info["gen_late_ms_max"] = stats.lateness_ms(gen_thread.scheduled, gen_thread.actual)

    # -- reader set --------------------------------------------------------
    reads = time_readers(ctx, lambda: _read_table(spark, w, table), 3 if w.txnlog else 2)
    ctx.e2e["read_scan_s"] = stats.median([r["total_s"] for r in reads])
    ctx.info["read_set_s"] = [round(r["total_s"], 3) for r in reads]
    if ctx.tracer is not None:
        ctx.tracer.restore()

    # -- correctness ---------------------------------------------------------
    got = _checksum(_read_table(spark, w, table).select(*COLUMNS).toArrow())
    checks = {
        "rows_and_checksum": got[:2] == expected[:2],
        "per_event_type": got[2] == expected[2],
        "reader_rows": all(r["rows"] == expected[0] for r in reads),
        "reader_clicks": all(r["clicks"] == expected[2].get("click", 0) for r in reads),
        "no_staged_batches": not glob.glob(f"{loc}/_shss_staging/*/batch-*"),
        "ledger_markers": len(glob.glob(f"{work}/ckpt/{table}/_commit_ledger/*/batch-*")) == len(batches),
        "batch_rows": sum(b["rows"] for b in batches) == expected[0],
    }
    if w.txnlog:
        checks["txnlog_versions"] = len(glob.glob(f"{loc}/_shss_txnlog/*.json")) == len(batches)
    ctx.checks.update(checks)

    if ctx.tracer is not None:
        _layer_metrics(ctx, w, batches, reads, gen_thread, loc, table, jobs1 - jobs0)
        ctx.record_rss()  # before the second session
        ctx.layer["ingest.local1_rows_per_s"] = _local1_baseline(ctx, w, inputs[: w.n_a])


def _layer_metrics(ctx, w, batches, reads, gen_thread, loc, table, jobs):
    """The traced run's per-layer metrics (see BENCHMARK.json)."""
    tr = ctx.tracer
    m = ctx.layer
    for key, name in TRIGGER_PHASES.items():
        m[f"trigger.{name}_ms"] = stats.median([b["duration_ms"].get(key, 0) for b in batches])
    m["read.full_scan_ms"] = stats.median([r["full_ms"] for r in reads])
    m["read.pruned_scan_ms"] = stats.median([r["pruned_ms"] for r in reads])
    m["read.data_files"] = len(_read_table(ctx.spark, w, table).inputFiles())
    m["ingest.rows_per_s"] = ctx.info["ingest_rows_per_s"]
    m["ingest.freshness_p50_ms"] = ctx.info["freshness_p50_ms"]
    m["gen.late_ms_max"] = ctx.info["gen_late_ms_max"]
    m["source.backlog_files_max"] = gen_thread.backlog_max
    m["sink.spark_jobs_per_batch"] = jobs / len(batches)

    roots = tr.roots("sink.write_batch")
    kids = tr.children()
    below = tr.descendants()
    per_batch = collections.defaultdict(list)
    residual = 0.0
    for root in roots:
        dur = (root[3] - root[2]) * 1000
        self_ms = tr.self_ms(root, kids)
        residual = max(residual, abs(dur - self_ms - sum((c[3] - c[2]) * 1000 for c in kids.get(root[0], []))))
        sums = collections.Counter()
        calls = collections.Counter()
        spans = {s[0]: s for s in below.get(root[0], [])}
        for s in spans.values():
            parent = spans.get(s[4], root)[1]
            key = s[1] if s[1] != "spark.save" else f"spark.save<{parent}"
            sums[key] += (s[3] - s[2]) * 1000
            calls[key] += 1
        per_batch["sink.write_batch_ms"].append(dur)
        per_batch["sink.align_self_ms"].append(self_ms)
        for name, key in [
            ("sink.lease_renew_ms", "sink.lease_renew"),
            ("sink.metrics_record_ms", "sink.metrics_record"),
            ("sink.publish_ms", "sink.publish"),
            ("sink.stage_write_ms", "spark.save<sink.publish"),
            ("sink.catalog_sql_ms", "spark.sql"),
            ("sink.refresh_ms", "spark.refresh_table"),
            ("sink.cleanup_ms", "sink.cleanup"),
            ("txnlog.publish_ms", "txnlog.publish"),
            ("txnlog.data_write_ms", "spark.save<txnlog.publish"),
            ("txnlog.append_commit_ms", "txnlog.append_commit"),
            ("txnlog.read_commit_ms", "txnlog.read_commit"),
        ]:
            per_batch[name].append(sums[key])
        per_batch["sink.ledger_ms"].append(sums["sink.ledger_committed"] + sums["sink.ledger_record"])
        per_batch["sink.catalog_sql_calls"].append(calls["spark.sql"])
        per_batch["txnlog.read_commit_calls"].append(calls["txnlog.read_commit"])
    for name, values in per_batch.items():
        if not name.endswith("_calls"):
            m[name] = stats.median(values) if values else 0.0
    m["sink.catalog_sql_calls"] = stats.median(per_batch["sink.catalog_sql_calls"]) if roots else 0
    m["trace.self_time_residual_ms"] = residual
    n_files = []
    for path in glob.glob(f"{ctx.work}/ckpt/{table}/_sink_metrics/batch-*.json"):
        with open(path) as f:
            n_files.append(json.load(f).get("n_files", 0))
    m["sink.files_per_batch"] = stats.median(n_files) if n_files else 0
    # growth over the run: mean of the first and of the last tenth of batches
    for stem in ("sink.write_batch", "txnlog.append_commit") if w.txnlog else ("sink.write_batch",):
        values = per_batch[f"{stem}_ms"]
        dec = max(1, len(values) // 10)
        m[f"{stem}_first_decile_ms"] = sum(values[:dec]) / dec
        m[f"{stem}_last_decile_ms"] = sum(values[-dec:]) / dec
    if w.txnlog:
        # calls while streaming plus one snapshot resolution
        snap = [s for s in tr.roots("read.set")][:1]
        snap_calls = sum(1 for s in below.get(snap[0][0], []) if s[1] == "txnlog.read_commit") if snap else 0
        stream_calls = sum(per_batch["txnlog.read_commit_calls"])
        m["txnlog.read_commit_calls"] = stream_calls + snap_calls
        m["txnlog.log_versions"] = len(glob.glob(f"{loc}/_shss_txnlog/*.json"))
        m["txnlog.snapshot_read_ms"] = stats.median([r["snapshot_ms"] for r in reads])
        # the log-growth identity: batch b re-reads the b commits before
        # it twice (idempotency check in publish and in append_commit)
        ctx.info["read_commit_identity"] = (
            m["txnlog.read_commit_calls"],
            2 * sum(range(len(batches))) + m["txnlog.log_versions"],
        )


def _local1_baseline(ctx, w, files) -> float:
    """Phase A once more on a ``local[1]`` session: how much of the sink
    runs serially on the driver."""
    from spark_hive_streaming_sink_spark.session import get_spark

    ctx.spark.stop()
    spark = ctx.spark = get_spark(cpus=1)
    progress = ProgressLog(spark)
    src = f"{ctx.work}/local1_src"
    _write_files(files, src, "a")
    table = "dest_local1"
    spark.sql(w.ddl(table, f"{ctx.work}/tables/{table}"))
    n_rows = len(files) * ROWS_PER_FILE
    qid = _drain(spark, progress, w, src, table, f"{ctx.work}/ckpt/{table}", n_rows)
    batches = progress.batches(qid)
    ctx.attempted += len(batches)
    return n_rows / stats.drain_s(batches[0]["start_s"], _commits(batches), n_rows)
