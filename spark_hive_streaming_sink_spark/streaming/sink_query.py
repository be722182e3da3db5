"""End-to-end sink exercise registered as a driver-checked query.

Creates a partitioned warehouse table, streams the events fixture into
it through :func:`write_stream_to_table` (validation → foreachBatch →
idempotent dynamic-partition insert), reads the table back and returns
it — so the driver's DuckDB hash check certifies the whole sink path,
equivalent to the reference's example pipeline
(``HiveStreamingExample.scala:63-90``) but verifiable offline.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..registry import register
from .ops import stream_table
from .sink import write_stream_to_table


@register(
    "sink_hive_streaming",
    oracle="SELECT event_id, user_id, value, event_type FROM events",
    tags=("streaming", "sink"),
)
def sink_hive_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events → partitioned table (dynamic partition routing on
    event_type, mirroring ``HiveStreamDataWriter.scala:73-83``) →
    read back. Row-for-row equality with the source is the sink's
    correctness contract."""
    run_id = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix=f"shss_sink_{run_id}_")
    table = f"events_sink_{run_id}"
    spark.sql(
        f"""
        CREATE TABLE {table}
        (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
        USING PARQUET PARTITIONED BY (event_type)
        LOCATION '{base}/tbl'
        """
    )
    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q = write_stream_to_table(
        ev,
        checkpoint_dir=f"{base}/ckpt",
        db="default",
        table=table,
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    # return a reader over the table files (independent of the temp
    # catalog entry), aligned to the oracle's column set
    return spark.table(table).select("event_id", "user_id", "value", "event_type")


def make_upsert_batch_writer(
    table: str,
    key: str = "event_id",
    version: str = "ts_us",
    partition: str = "event_type",
):
    """foreachBatch writer implementing latest-write-wins upsert by
    ``key`` (newest ``version`` wins) into a ``partition``-partitioned
    parquet table via dynamic partition overwrite. Only partitions
    present in the batch are read back and rewritten — the batch's
    blast radius is O(affected partitions), not the table."""
    from pyspark.sql import Window

    def upsert_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        w = Window.partitionBy(key).orderBy(F.col(version).desc())
        newest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        parts = [r[partition] for r in newest.select(partition).distinct().collect()]
        # NULL partition values land in the default partition and MUST be
        # read back too: isin() is null-intolerant (NULL -> NULL -> row
        # dropped), which would silently discard the NULL partition's
        # existing rows on overwrite
        cond = F.col(partition).isin([p for p in parts if p is not None])
        if any(p is None for p in parts):
            cond = cond | F.col(partition).isNull()
        existing = s.table(table).filter(cond)
        merged = (
            existing.unionByName(newest)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        merged.write.insertInto(table, overwrite=True)
        # the overwrite replaced files this session may have a cached
        # listing for — without a refresh, the NEXT batch's (or any
        # reader's) scan hits FILE_NOT_EXIST on the dead paths
        s.catalog.refreshTable(table)

    return upsert_batch


@register(
    "sink_upsert_by_key",
    oracle="""
    SELECT event_id, user_id, value + 1000.0 AS value, event_type
    FROM events WHERE ts IS NOT NULL
    """,
    tags=("streaming", "sink", "upsert"),
)
def sink_upsert_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert (latest-write-wins by key) into a partitioned
    warehouse table WITHOUT a transactional format: each micro-batch
    keeps its newest row per event_id, merges with the current rows of
    only the AFFECTED partitions, and rewrites those partitions via
    dynamic partition overwrite. This is the capability Hive ACID
    compaction provides the reference's users (``README.md:74``),
    re-expressed with plain parquet + Spark's partition-overwrite
    protocol: the rewrite unit is a partition, so keys must not move
    between partitions (here event_type is stable per event).

    The input stream is every event plus a LATER amended copy
    (value + 1000, ts + 1h) — the final table must contain exactly the
    amended rows, whether the copies land in one micro-batch
    (in-batch dedup path) or several (merge-with-existing path).

    Scale: only partitions present in the batch are read+rewritten;
    state never lives in the stream. At petabyte scale you'd bound
    partition sizes (e.g. daily partitions) so a rewrite touches
    O(batch) data, and move to a transactional table format when
    concurrent writers appear."""
    run_id = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix=f"shss_upsert_{run_id}_")
    table = f"events_upsert_{run_id}"
    spark.sql(
        f"""
        CREATE TABLE {table}
        (event_id BIGINT, user_id BIGINT, value DOUBLE, ts_us BIGINT,
         event_type STRING)
        USING PARQUET PARTITIONED BY (event_type)
        LOCATION '{base}/tbl'
        """
    )
    # NULL-ts events have no version: original and amended copy would tie
    # on a NULL ts_us and the winner would be arbitrary — an upsert needs
    # a version, so versionless rows are excluded (oracle mirrors this)
    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "event_id", "user_id", "value", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    amended = ev.withColumn("value", F.col("value") + 1000.0).withColumn(
        "ts_us", F.col("ts_us") + 3_600_000_000
    )
    both = ev.unionByName(amended)
    q = (
        both.writeStream.foreachBatch(make_upsert_batch_writer(table))
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # foreachBatch ran in a cloned session; refresh THIS session's
    # cached file listing before reading the overwritten table
    spark.catalog.refreshTable(table)
    return spark.table(table).select("event_id", "user_id", "value", "event_type")


@register(
    "sink_txnlog_streaming",
    oracle="SELECT event_id, user_id, value, event_type FROM events",
    tags=("streaming", "sink", "txnlog"),
)
def sink_txnlog_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events → ``table.format=txnlog`` destination → snapshot
    read-back (r10, VERDICT r9 item 2). Exercises the full commit-log
    provider: data files land invisibly under ``_shss_data/``, one
    atomic commit per micro-batch carries (app_id, batch_id) — the
    Delta idempotent-writes contract — and the format-aware snapshot
    reader resolves the committed file set. Row-for-row equality with
    the source certifies the provider end to end; the ACID-destination
    intent mirrors the reference's transactional-table requirement
    (``HiveStreamingExample.scala:26-31``) that the native provider
    maps onto staged renames instead (see streaming/txnlog.py)."""
    from .txnlog import read_txnlog_table

    run_id = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix=f"shss_txnsink_{run_id}_")
    table = f"events_txnlog_{run_id}"
    spark.sql(
        f"""
        CREATE TABLE {table}
        (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
        USING PARQUET LOCATION '{base}/tbl'
        """
    )
    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q = write_stream_to_table(
        ev,
        checkpoint_dir=f"{base}/ckpt",
        db="default",
        table=table,
        trigger={"availableNow": True},
        **{"table.format": "txnlog"},
    )
    q.awaitTermination()
    return read_txnlog_table(spark, "default", table).select(
        "event_id", "user_id", "value", "event_type"
    )


@register(
    "sink_txnlog_time_travel",
    oracle="""
    WITH a AS (SELECT * FROM events
               WHERE event_type IN ('click', 'view')),
    b AS (SELECT * FROM events
          WHERE event_type IS NULL OR event_type NOT IN ('click', 'view'))
    SELECT 'v1' AS phase, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
    FROM a
    UNION ALL
    SELECT 'latest', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           MIN(event_id), MAX(event_id)
    FROM events
    UNION ALL
    SELECT 'changes', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           MIN(event_id), MAX(event_id)
    FROM b
    """,
    tags=("streaming", "sink", "txnlog", "timetravel"),
)
def sink_txnlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel + change feed over a txnlog destination, certified
    end-to-end: two sequential streaming writes land in the same
    commit-log table (clicks/views first, everything else second),
    then the query reads (a) the snapshot AS OF the first write's
    version, (b) the latest snapshot, and (c) the change feed since
    the first version — and summarizes each. The oracle computes the
    same three summaries straight from the source, so the driver's
    hash check certifies that time travel sees exactly the old rows,
    the snapshot sees all rows, and the feed sees exactly the new
    rows (Delta's DESCRIBE HISTORY / readChangeFeed contract,
    re-expressed on the commit log; the provider seam is
    streaming/txnlog.py).

    Scale: snapshot resolution reads each commit file once per
    process (a warm refresh costs O(1) filesystem calls) and replays
    the log in memory, then scans only the selected files; the
    summaries are single-pass aggregates."""
    from .txnlog import (
        TxnLogTable,
        read_txnlog_table,
        read_txnlog_table_changes,
    )
    from .sink import _table_location

    run_id = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix=f"shss_txntt_{run_id}_")
    table = f"events_txntt_{run_id}"
    spark.sql(
        f"""
        CREATE TABLE {table}
        (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
        USING PARQUET LOCATION '{base}/tbl'
        """
    )
    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    first = ev.filter(F.col("event_type").isin("click", "view"))
    second = ev.filter(
        F.col("event_type").isNull()
        | ~F.col("event_type").isin("click", "view")
    )
    q1 = write_stream_to_table(
        first,
        checkpoint_dir=f"{base}/ckpt_a",
        db="default",
        table=table,
        trigger={"availableNow": True},
        **{"table.format": "txnlog"},
    )
    q1.awaitTermination()
    v_first = max(
        TxnLogTable(spark, _table_location(spark, f"default.{table}")).versions()
    )
    q2 = write_stream_to_table(
        second,
        checkpoint_dir=f"{base}/ckpt_b",
        db="default",
        table=table,
        trigger={"availableNow": True},
        **{"table.format": "txnlog"},
    )
    q2.awaitTermination()

    def summarize(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        ).select("phase", "n_rows", "n_users", "min_event_id", "max_event_id")

    v1 = read_txnlog_table(spark, "default", table, as_of_version=v_first)
    latest = read_txnlog_table(spark, "default", table)
    changes, _hw = read_txnlog_table_changes(
        spark, "default", table, since_version=v_first
    )
    return (
        summarize(v1, "v1")
        .unionByName(summarize(latest, "latest"))
        .unionByName(summarize(changes, "changes"))
    )


@register(
    "sink_txnlog_upsert_merge",
    oracle="""
    -- MERGE semantics, key-based (not type-based): rows whose
    -- event_id appears among the (non-NULL) update keys are replaced;
    -- NULL-key rows never match and the NULL-key updates insert.
    WITH upd AS (
      SELECT event_id, user_id, value + 1000.0 AS value, event_type
      FROM events WHERE event_type = 'purchase'),
    keys AS (SELECT DISTINCT event_id FROM upd WHERE event_id IS NOT NULL),
    kept AS (
      SELECT e.event_id, e.user_id, e.value, e.event_type
      FROM events e LEFT JOIN keys k ON e.event_id = k.event_id
      WHERE k.event_id IS NULL)
    SELECT * FROM kept
    UNION ALL
    SELECT * FROM upd
    """,
    tags=("streaming", "sink", "txnlog", "merge"),
)
def sink_txnlog_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE into a txnlog destination, certified end-to-end: the full
    events stream lands via the streaming sink, then a batch MERGE
    upserts amended purchase rows (value + 1000) by event_id —
    rewriting ONLY the data files that contain a matched key, in one
    atomic add+remove commit (Delta MERGE mechanics; see
    txnlog.merge_txnlog_table). The read-back snapshot must equal the
    source with purchases amended — the driver's hash check certifies
    matched-update, unmatched-insert, and NULL-key-insert semantics
    plus the file-level rewrite in one pass."""
    from .txnlog import merge_txnlog_table, read_txnlog_table

    run_id = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix=f"shss_txnmerge_{run_id}_")
    table = f"events_txnmerge_{run_id}"
    spark.sql(
        f"""
        CREATE TABLE {table}
        (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
        USING PARQUET LOCATION '{base}/tbl'
        """
    )
    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    q = write_stream_to_table(
        ev,
        checkpoint_dir=f"{base}/ckpt",
        db="default",
        table=table,
        trigger={"availableNow": True},
        **{"table.format": "txnlog"},
    )
    q.awaitTermination()
    from ..io import load_table

    updates = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            (F.col("value") + 1000.0).alias("value"),
            "event_type",
        )
    )
    merge_txnlog_table(spark, "default", table, updates, key="event_id")
    return read_txnlog_table(spark, "default", table).select(
        "event_id", "user_id", "value", "event_type"
    )


@register(
    "sink_txnlog_schema_evolution",
    oracle="""
    -- addColumns schema evolution, certified end-to-end: write 1
    -- lands click/view rows under the 4-column schema; write 2 adds a
    -- value_cents column (table.schemaEvolution=addColumns) with the
    -- remaining rows. The final snapshot must hold ALL rows, with the
    -- old rows reading NULL for the new column and the new rows
    -- carrying exact cents — summarized per event_type so the hash
    -- certifies both the NULL backfill and the new values.
    WITH t AS (
      SELECT event_type, value,
             CASE WHEN event_type IN ('click', 'view') THEN NULL
                  ELSE CAST(round(value * 100, 0) AS BIGINT)
             END AS value_cents
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value_cents IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_cents,
           CAST(SUM(value_cents) AS BIGINT) AS sum_cents
    FROM t GROUP BY event_type
    """,
    tags=("streaming", "sink", "txnlog", "schema"),
)
def sink_txnlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a txnlog destination (the Delta/Iceberg
    ``mergeSchema``/addColumns contract, re-expressed on the commit
    log; a deliberate opt-in extension over the reference's strict
    name-set check, ``HiveSourceProvider.scala:55-58``): a second
    streaming write carrying a NEW column evolves the catalog table at
    write time; the snapshot reads old files as NULL for the added
    column because every txnlog read scans with the explicit catalog
    schema.

    Scale: the evolution itself is one catalog DDL per new column set;
    nothing about the data path changes (no rewrite of existing
    files)."""
    from .sink import _table_location  # noqa: F401  (parity with siblings)
    from .txnlog import read_txnlog_table

    run_id = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix=f"shss_txnevo_{run_id}_")
    table = f"events_txnevo_{run_id}"
    spark.sql(
        f"""
        CREATE TABLE {table}
        (event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING)
        USING PARQUET LOCATION '{base}/tbl'
        """
    )
    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    first = ev.filter(F.col("event_type").isin("click", "view"))
    q1 = write_stream_to_table(
        first,
        checkpoint_dir=f"{base}/ckpt_a",
        db="default",
        table=table,
        trigger={"availableNow": True},
        **{"table.format": "txnlog"},
    )
    q1.awaitTermination()
    second = ev.filter(
        F.col("event_type").isNull()
        | ~F.col("event_type").isin("click", "view")
    ).withColumn(
        "value_cents", F.round(F.col("value") * 100, 0).cast("bigint")
    )
    q2 = write_stream_to_table(
        second,
        checkpoint_dir=f"{base}/ckpt_b",
        db="default",
        table=table,
        trigger={"availableNow": True},
        **{"table.format": "txnlog", "table.schemaEvolution": "addColumns"},
    )
    q2.awaitTermination()
    snap = read_txnlog_table(spark, "default", table)
    return snap.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("value_cents").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_cents"),
        F.sum("value_cents").cast("bigint").alias("sum_cents"),
    )
