"""``query_mix``: one warm session runs twelve registered queries over
generated sf0.02 fixtures in timed passes, each result checked against
the query's DuckDB oracle after the passes.

The mix covers ``operators.{relational,tpch,advanced,windows}``,
``functions.{dedup,similarity,text,corpus,clustering,multimodal}`` and
``streaming.ops``; none of it touches the sink.
"""

from __future__ import annotations

import concurrent.futures
import glob
import json
import os
import time
from collections import defaultdict

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import ingest
import stats

MIX = [
    "q1_pricing_summary",
    "q18_large_volume_customer",
    "join_skew_salted",
    "window_topk_per_group",
    "dedup_minhash_lsh",
    "sim_knn_graph_lsh",
    "text_tfidf_topk",
    "contamination_ngram_overlap",
    "corpus_decontam_span_removal",
    "graph_kcore",
    "multimodal_image_ahash",
    "stream_windowed_topk",
]
MIX_SF = 0.02
WARM_SF = 0.002  # warm-up fixtures: same code paths, a tenth of the rows
PASS_S = 10  # about one pass over the mix on a 4-core host
FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _collect(builders, spark, name: str, sf_dir: str):
    df = builders[name](spark, sf_dir)
    return df.columns, df.collect()


def run(ctx) -> None:
    """Set up, measure and check the mix; fills ``ctx``."""
    from spark_hive_streaming_sink_spark import registry

    spark = ctx.spark
    big, tiny = f"{ctx.work}/sf{MIX_SF}", f"{ctx.work}/sf{WARM_SF}"
    ctx.info["fixture_rows"] = gen.write_fixtures(big, ctx.seed, MIX_SF)
    gen.write_fixtures(tiny, ctx.seed, WARM_SF)
    builders = registry.queries()
    oracles = registry.oracle_sql()
    # warm-up: every query once on the small fixtures, four at a time —
    # class loading and code generation do not depend on the row count
    with concurrent.futures.ThreadPoolExecutor(max_workers=min(4, ctx.cpus)) as pool:
        futures = [pool.submit(_collect, builders, spark, n, tiny) for n in MIX]
        for f in futures:
            f.result()
    ctx.ready()

    # -- timed passes (one per PASS_S of --seconds): one query after
    #    another, result consumed; the first pass's results are kept for
    #    the oracle check and every later pass must equal them ----------
    walls = {n: [] for n in MIX}
    first, same = {}, {n: True for n in MIX}
    passes = max(1, ctx.seconds // PASS_S)
    for _ in range(passes):
        for name in MIX:
            ctx.attempted += 1
            start_ms = time.time() * 1000
            t = time.perf_counter()
            try:
                with ctx.span(f"query.{name}", trace=name):
                    cols, rows = _collect(builders, spark, name, big)
            except Exception as e:  # noqa: BLE001 - a failed query fails the run, not the mix
                ctx.failed += 1
                same[name] = False
                ctx.info[f"error.{name}"] = f"{type(e).__name__}: {e}"[:300]
                continue
            walls[name].append(time.perf_counter() - t)
            ctx.query_windows.append((name, start_ms, time.time() * 1000))
            got = (sorted(cols), stats.normalize(rows, cols))
            if name not in first:
                first[name] = got
            same[name] = same[name] and got == first[name]
    per_query = {n: stats.median(w) for n, w in walls.items() if w}
    ctx.e2e["work_s"] = sum(per_query.values())
    ctx.e2e["op_p50_ms"] = stats.median(per_query.values()) * 1000
    ctx.info["passes"] = passes
    ctx.info["query_wall_s"] = {n: round(w, 3) for n, w in per_query.items()}

    # -- reader set over the generated events table --------------------
    events = ctx.info["fixture_rows"]["events"]
    types = pq.read_table(f"{big}/events.parquet", columns=["event_type"])["event_type"]
    clicks = pc.sum(pc.equal(types, "click")).as_py()
    reads = ingest.time_readers(ctx, lambda: spark.read.parquet(f"{big}/events.parquet"), 2)
    ctx.e2e["read_scan_s"] = stats.median([r["total_s"] for r in reads])
    ctx.checks["reader_rows"] = all(r["rows"] == events for r in reads)
    ctx.checks["reader_clicks"] = all(r["clicks"] == clicks for r in reads)

    # -- oracle check, outside the timed passes -------------------------
    import duckdb

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{big}/{t}.parquet')")
    for name in MIX:
        if name not in first:
            ctx.checks[f"oracle.{name}"] = False
            continue
        rel = con.execute(oracles[name])
        dcols = [d[0] for d in rel.description]
        want = (sorted(dcols), stats.normalize(rel.fetchall(), dcols))
        ctx.checks[f"oracle.{name}"] = same[name] and first[name] == want
        ctx.info[f"rows.{name}"] = len(first[name][1])
    con.close()
    if ctx.tracer is not None:
        for name, w in per_query.items():
            ctx.layer[f"query.{name}.wall_s"] = w


def event_log_layers(event_dir: str, windows: list[tuple[str, float, float]]) -> dict:
    """Per-query Spark work from Spark's own event log, summed over the
    passes: jobs submitted inside each run of a query's wall-clock
    window ``(name, start_ms, end_ms)``, and the executor CPU time,
    shuffle bytes written and Python-worker time of their tasks."""
    stage_query = {}
    out = {name: defaultdict(float) for name, _, _ in windows}

    def owner(ts_ms):
        for name, lo, hi in windows:
            if lo <= ts_ms <= hi:
                return name
        return None

    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = owner(ev["Submission Time"])
                    if name is None:
                        continue
                    out[name]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_query[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    name = stage_query.get(ev["Stage ID"])
                    if name is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    out[name]["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    sw = tm.get("Shuffle Write Metrics") or {}
                    out[name]["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":  # a ms timing
                            out[name]["python_worker_ms"] += float(acc.get("Update") or 0)
    return out
