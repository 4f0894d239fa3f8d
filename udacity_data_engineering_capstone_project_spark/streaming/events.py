"""Structured Streaming surface (extension — the reference is batch-only,
SURVEY.md §2.11; its write-up wished for daily incremental processing).

Shape: `readStream` over a file source -> event-time windowed
aggregation with watermark -> sink. Tested with `availableNow` triggers
(bounded replay of existing files), which is also the idiomatic
incremental-batch deployment mode: each run processes exactly the new
files since the last checkpoint.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table as a file source (schema from the batch
    footer — file-stream sources require a declared schema).

    Watermarks require an instant-typed TIMESTAMP event-time column, so
    ``ts`` is normalized from whichever encoding the scan yields:
    TIMESTAMP_NTZ (Spark 4.1's native read of parquet TIMESTAMP(NANOS),
    truncated to us) or raw int64 nanos (legacy `nanosAsLong`
    sessions). Both paths build the instant from the raw wall-clock
    value, so epoch-us downstream is session-timezone-independent and
    matches the batch readers (cf. `plans.queries_events.sessionize`).
    """
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # File-stream sources need a directory; point at sf_dir and glob the
    # events file(s) — also the shape of a real landing-zone deployment.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return stream


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            # Epoch-us of the window start: timezone-independent output
            # (the instant-typed start would render in session tz).
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream_within_watermark(
    stream: DataFrame,
    id_cols,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """State-BOUNDED streaming dedup: `dropDuplicatesWithinWatermark`
    evicts each id's state once the event-time watermark passes it, so
    dedup state is bounded by the duplicate-arrival horizon instead of
    growing with the stream forever (plain `dropDuplicates` is exact
    for all time but stores every id ever seen — the 100 TB
    non-starter).

    The contract is correspondingly weaker and honest: duplicates
    arriving WITHIN the watermark of the first occurrence are
    guaranteed dropped; a replay arriving after the state expired is
    re-emitted. For exactly-once over longer horizons, compose with
    the persisted dedup-index / Bloom tier (`operators.dedup`,
    `operators.bloom`) — this operator is the cheap streaming
    front-line, those are the durable backstop.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


def sessionized_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session aggregation with native session windows
    (`F.session_window`): sessions close after ``gap`` inactivity.
    The stateful-streaming twin of the batch lag+running-sum
    sessionizer (plans.queries_events.sessionize).

    Output: (user_id, start_us, end_us, n_events) — window bounds as
    epoch-us so results are session-timezone-independent. Note
    session_window's end is last_event + gap; we report last event
    time via max(ts) instead for parity with the batch formulation.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .select("user_id", "start_us", "end_us", "n_events")
    )


def running_user_stats(
    stream: DataFrame,
    timeout_ms: int | None = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running (count, sum, max) accumulator that survives
    across micro-batches — state the built-in aggregations can't
    expose mid-stream (e.g. for per-key online features).

    Emits one row per user per micro-batch with the updated totals.
    State times out after ``timeout_ms`` of processing-time inactivity
    (bounded state, the 100 TB requirement). Pass ``timeout_ms=None``
    for bounded availableNow replays — with a processing-time timeout
    the query would keep scheduling empty batches until every key's
    state expires before terminating.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    output_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("m", DoubleType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].sum())
            m = max(m, float(pdf["value"].max()))
        state.update((n, round(s, 6), m))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 6)],
             "max_value": [m]}
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def incremental_ingest(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    transform=None,
) -> int:
    """Incremental batch ingestion: process only files that appeared in
    ``landing_dir`` since the last run (availableNow + checkpoint) and
    append the transformed rows to partitioned parquet.

    This is the reference write-up's 'daily incremental processing'
    wish implemented on the streaming engine: each invocation is a
    bounded job; the checkpoint tracks consumed files, so re-running
    after new files land processes exactly the delta. Returns the
    number of rows written this run.

    Exactly-once output: each micro-batch overwrites its own
    ``batch_id=N`` partition directory. The checkpoint commits a batch
    only AFTER foreachBatch returns, so a crash between write and
    commit replays the same batch_id — the overwrite replaces the
    partial output instead of appending duplicates. (Readers see
    ``batch_id`` as an ingestion-lineage partition column.) The batch
    is persisted so the count and the write run one computation, not
    two.
    """
    schema = spark.read.parquet(landing_dir).schema
    stream = spark.readStream.schema(schema).parquet(landing_dir)
    if transform is not None:
        stream = transform(stream)

    counter = {"rows": 0}

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            counter["rows"] += batch_df.count()
            batch_df.write.mode("overwrite").parquet(
                f"{output_dir}/batch_id={batch_id}"
            )
        finally:
            batch_df.unpersist()

    q = (
        stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counter["rows"]


def run_stream_to_memory(
    agg: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Run a streaming aggregation to a memory sink with an availableNow
    trigger (process all available input, then stop) and return the
    result table as a batch DataFrame."""
    name = name or f"stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.table(name)


def stream_stream_attribution(
    events: DataFrame,
    trigger_type: str = "purchase",
    touch_type: str = "click",
    attribution_window: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join — the attribution pattern:
    pair every `trigger_type` event with the same user's `touch_type`
    events in the preceding `attribution_window`.

    Both sides carry watermarks and the join condition bounds event
    time on both sides (touch_ts in [trigger_ts - window, trigger_ts]),
    so Spark can expire join state — the requirement for an unbounded
    run; without the time bound, state grows with the stream. The join
    key includes user_id, so state is also per-key partitioned.

    Output: (trigger_id, touch_id, user_id, trigger_us, touch_us,
    lag_us) — epoch-us so results are session-timezone-independent.
    """
    trig = (
        events.filter(F.col("event_type") == trigger_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("trigger_id"),
            F.col("user_id"),
            F.col("ts").alias("trigger_ts"),
        )
    )
    touch = (
        events.filter(F.col("event_type") == touch_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("touch_id"),
            F.col("user_id").alias("touch_user"),
            F.col("ts").alias("touch_ts"),
        )
    )
    joined = trig.join(
        touch,
        on=[
            trig["user_id"] == touch["touch_user"],
            touch["touch_ts"] <= trig["trigger_ts"],
            touch["touch_ts"]
            >= trig["trigger_ts"] - F.expr(f"INTERVAL {attribution_window}"),
        ],
        how="inner",
    )
    return joined.select(
        "trigger_id",
        "touch_id",
        "user_id",
        F.unix_micros("trigger_ts").alias("trigger_us"),
        F.unix_micros("touch_ts").alias("touch_us"),
        (F.unix_micros("trigger_ts") - F.unix_micros("touch_ts")).alias("lag_us"),
    )


def merge_stream_into_dimension(
    spark: SparkSession,
    stream: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    key_cols,
    order_col: str,
) -> int:
    """Incremental dimension maintenance from a change stream — the
    reference write-up's 'daily incremental processing' wish composed
    end-to-end: each micro-batch of change rows MERGEs (last-writer-
    wins on ``order_col``, `operators.scd.merge_upsert`) into the
    current dimension snapshot, producing a new immutable version
    directory ``{dim_path}/v=<batch_id>``.

    Crash safety: the streaming checkpoint commits a batch only after
    foreachBatch returns, and a replayed batch rebuilds its OWN
    version from the highest version BELOW its batch_id — a partially
    written ``v=N`` is never read by N's retry, and the merge is
    idempotent, so the rewrite converges. Readers resolve the latest
    complete version via `read_dimension`. (As with any file-stream
    source, change drops must land as flat files — the source does not
    recurse into non-partition subdirectories.)

    Returns the number of batches processed this run.
    """
    from udacity_data_engineering_capstone_project_spark.operators.scd import merge_upsert

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        # first batch: the batch itself may carry several versions of
        # one key — collapse with an empty current side
        current = batch_df.limit(0) if prev is None else prev
        return merge_upsert(current, batch_df, key_cols, order_col)

    return _run_versioned_merge(spark, stream, dim_path, checkpoint_dir, merge)


def merge_stream_into_quantile_sketch(
    spark: SparkSession,
    stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    group_cols,
    value_col: str,
    alpha: float = 0.01,
) -> int:
    """Streaming percentile maintenance: each micro-batch is reduced
    to its DDSketch rows (`operators.sketches.quantile_sketch` —
    exact (sign, bucket, count) integers) and merged into the
    persisted all-time sketch, written as an immutable
    ``{sketch_path}/v=<batch_id>`` version exactly like the dimension
    writer — same crash-replay guarantee (a retried batch rebuilds
    from the newest version BELOW its id), same `_SUCCESS` commit
    protocol, same `read_dimension` time travel.

    This is the mergeable-sketch story for streams: quantiles over
    ALL events ever seen are readable at any moment via
    `read_dimension(spark, sketch_path)` + `sketch_quantiles`, while
    each batch touches only its own rows plus O(buckets) sketch rows —
    no raw event is ever rescanned, state does not grow with the
    stream (bounded by groups x log-range/alpha buckets).

    All batches must share ``alpha`` — persist it beside the path.
    Returns the number of batches processed this run.
    """
    from udacity_data_engineering_capstone_project_spark.operators.sketches import (
        merge_quantile_sketches,
        quantile_sketch,
    )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        sk = quantile_sketch(batch_df, group_cols, value_col, alpha)
        if prev is None:
            return sk
        return merge_quantile_sketches(
            sk.unionByName(prev.select(sk.columns)), group_cols
        )

    return _run_versioned_merge(spark, stream, sketch_path, checkpoint_dir, merge)


def merge_stream_into_freq_sketch(
    spark: SparkSession,
    stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    group_cols,
    value_col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> int:
    """Streaming frequency maintenance — the Count-Min member of the
    sketch trio (quantiles = DDSketch above, membership = Bloom below,
    frequencies = this): each micro-batch reduces to one CMS row per
    group (`operators.sketches.freq_sketch`), merged into the
    persisted all-time sketch through the same versioned writer
    (immutable ``v=<batch_id>`` dirs, crash-replay rebuilds from the
    version below, `_SUCCESS` commit, `read_dimension` time travel).

    The per-version merge unions the batch's sketch rows with the
    previous version and merges per group via Spark's own JVM
    CountMinSketch.mergeInPlace — a group-count-sized collect of
    KB-sized binaries (the same driver-bounded shape
    `merge_freq_sketches` documents), never the raw events. All
    batches must share (eps, confidence, seed) — persist them next to
    the path. Returns batches processed this run.
    """
    from udacity_data_engineering_capstone_project_spark.operators.sketches import (
        freq_sketch,
    )

    gcols = list(group_cols)

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        sk = freq_sketch(batch_df, gcols, value_col, eps, confidence, seed)
        if prev is None:
            return sk
        both = sk.unionByName(prev.select(sk.columns)).collect()
        CMS = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
        merged: dict = {}
        for r in both:
            key = tuple(r[c] for c in gcols)
            cms = CMS.readFrom(bytes(r["sketch"]))
            if key in merged:
                merged[key].mergeInPlace(cms)
            else:
                merged[key] = cms
        rows = [
            (*key, bytearray(cms.toByteArray()))
            for key, cms in sorted(merged.items(), key=lambda kv: str(kv[0]))
        ]
        return spark.createDataFrame(rows, schema=sk.schema)

    return _run_versioned_merge(spark, stream, sketch_path, checkpoint_dir, merge)


def merge_stream_into_bloom(
    spark: SparkSession,
    stream: DataFrame,
    bloom_path: str,
    checkpoint_dir: str,
    key_col: str,
    num_bits: int,
    num_hashes: int = 5,
) -> int:
    """Streaming membership maintenance: each micro-batch's keys are
    folded into the persisted block-packed Bloom filter
    (`operators.bloom`) — bit_or merge through the same versioned
    writer as dimensions and quantile sketches (immutable
    ``v=<batch_id>`` dirs, crash-replay rebuilds from the version
    below, `_SUCCESS` commit). The live filter is
    `read_dimension(spark, bloom_path)` — screen any batch against it
    with `bloom_might_contain` without touching historical data.

    All batches must share (num_bits, num_hashes) — persist them next
    to the path, exactly like sketch parameters. Returns batches
    processed this run.
    """
    from udacity_data_engineering_capstone_project_spark.operators.bloom import (
        build_bloom,
        merge_blooms,
    )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        b = build_bloom(batch_df, key_col, num_bits, num_hashes)
        if prev is None:
            return b
        return merge_blooms(b, prev.select("block", "mask"))

    return _run_versioned_merge(spark, stream, bloom_path, checkpoint_dir, merge)


def _run_versioned_merge(
    spark: SparkSession,
    stream: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    merge_fn,
) -> int:
    """Shared run loop of the versioned-table writers: per micro-batch,
    resolve the newest committed version BELOW the batch id (crash
    replays never see their own half-committed write), hand
    (batch_df, prev_df_or_None) to ``merge_fn``, write the result as
    ``v=<batch_id>`` and commit it. Returns batches processed."""
    counter = {"batches": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        prev_v = _latest_dimension_version(spark, dim_path, below=batch_id)
        prev = (
            None if prev_v is None
            else spark.read.parquet(f"{dim_path}/v={prev_v}").persist()
        )
        try:
            merged = merge_fn(batch_df, prev)
            vdir = f"{dim_path}/v={batch_id}"
            merged.write.mode("overwrite").parquet(vdir)
            _commit_version(spark, vdir)
            counter["batches"] += 1
        finally:
            if prev is not None:
                prev.unpersist()

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counter["batches"]


def _commit_version(spark: SparkSession, vdir: str) -> None:
    """Write the version's commit marker OURSELVES, not via the
    committer: clusters that disable
    mapreduce.fileoutputcommitter.marksuccessfuljobs (common with
    object-store committers) would otherwise leave every version
    invisible to `_latest_dimension_version` — and a merge against a
    silently-empty current side would truncate the table to the
    current batch's keys."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(vdir + "/_SUCCESS")
    fs = marker.getFileSystem(conf)
    if not fs.exists(marker):
        fs.create(marker, True).close()


def merge_stream_into_scd2(
    spark: SparkSession,
    stream: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    key_cols,
    attr_cols,
    order_col: str,
) -> int:
    """Type-2 twin of `merge_stream_into_dimension`: each micro-batch
    of change rows maintains FULL SCD2 history (valid_from / valid_to /
    is_current per attribute run) instead of last-writer-wins, writing
    a new immutable version ``{dim_path}/v=<batch_id>``.

    Per batch, closed history rows are immutable and carry over
    verbatim; only the KEYS PRESENT IN THE BATCH replay their single
    open row (as a pseudo-snapshot at its valid_from) plus the batch's
    change rows through `operators.scd.scd2_from_snapshots` — so a key
    that changes twice within one batch gets two history rows, and a
    no-op change row extends the current run without a new version.
    A change row whose ``order_col`` TIES the open row's valid_from
    deterministically wins (the change is the newer fact — same
    tiebreak contract as `merge_upsert`); NULL business keys group
    together, as in the last-writer twin. Expects ``order_col`` to
    advance with event order across batches (a late row older than a
    key's current valid_from re-opens history at that earlier point —
    garbage-in ordering yields garbage-out ranges, as with any SCD2
    load).

    Crash safety and committer independence are inherited from the
    shared run loop: replayed batches rebuild from the highest version
    BELOW their batch_id and re-commit their own ``v=<id>``; versions
    require the self-written _SUCCESS. Read with `read_dimension`
    (time travel included). Returns batches processed this run.
    """
    from udacity_data_engineering_capstone_project_spark.operators.scd import (
        scd2_from_snapshots,
    )

    key_cols = list(key_cols)
    attr_cols = list(attr_cols)

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        # __src: reopened pseudo-snapshot sorts before same-order_col
        # change rows, so on ties the change wins the current run
        changes = batch_df.select(*key_cols, *attr_cols, order_col).withColumn(
            "__src", F.lit(1)
        )
        if prev is None:
            return scd2_from_snapshots(
                changes, key_cols, attr_cols, order_col, tiebreak_col="__src"
            )
        keys = changes.select(*key_cols).distinct()
        # null-safe membership: a NULL business key must hit the same
        # branch on both sides (plain join equality never matches NULL,
        # which would leave a duplicate is_current row for the key)
        cond = None
        for k in key_cols:
            c = prev[k].eqNullSafe(keys[k])
            cond = c if cond is None else (cond & c)
        untouched = prev.join(keys, on=cond, how="left_anti")
        affected = prev.join(keys, on=cond, how="left_semi")
        closed = affected.filter(~F.col("is_current"))
        reopened = affected.filter(F.col("is_current")).select(
            *key_cols, *attr_cols, F.col("valid_from").alias(order_col)
        ).withColumn("__src", F.lit(0))
        redone = scd2_from_snapshots(
            reopened.unionByName(changes),
            key_cols,
            attr_cols,
            order_col,
            tiebreak_col="__src",
        )
        return untouched.unionByName(closed).unionByName(redone)

    return _run_versioned_merge(spark, stream, dim_path, checkpoint_dir, merge)


def dimension_changes(
    spark: SparkSession,
    dim_path: str,
    from_version: int,
    to_version: int,
    key_cols,
) -> DataFrame:
    """Change-data-feed between two committed dimension versions: one
    row per key whose content differs, with ``change`` in
    ('insert', 'update', 'delete'). Because every version is a full
    immutable snapshot, the diff is two directory reads + one full
    outer join on the key — no log replay, no state.

    Version ids resolve with as-of semantics (newest committed version
    <= the given id, like `read_dimension`); raises when nothing is
    committed at or below an id.

    For ONE-ROW-PER-KEY dimensions (`merge_stream_into_dimension`
    output). An SCD2 dimension holds a key's full history per version,
    so the key join would multiply rows — diff its `is_current` slice,
    or include ``valid_from`` in ``key_cols`` to diff version rows.
    """
    key_cols = list(key_cols)
    old = read_dimension(spark, dim_path, version=from_version)
    new = read_dimension(spark, dim_path, version=to_version)
    attr_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols, F.struct(*[F.col(c) for c in attr_cols]).alias("__old")
    )
    nw = new.select(
        *key_cols, F.struct(*[F.col(c) for c in attr_cols]).alias("__new")
    )
    joined = o.join(nw, on=key_cols, how="full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("__old").isNull(), F.lit("insert"))
            .when(F.col("__new").isNull(), F.lit("delete"))
            .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update")),
        )
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change", "__old", "__new")
    )


def vacuum_dimension_versions(
    spark: SparkSession, dim_path: str, keep_last: int = 3
) -> list[int]:
    """Retention for versioned dimensions: delete all but the newest
    ``keep_last`` COMMITTED versions (plus any uncommitted — torn —
    directories older than the newest committed one, which no reader
    can ever resolve). Returns the deleted version ids. Time travel
    only reaches retained versions afterwards — vacuum is the explicit
    trade of history for storage, exactly like lakehouse VACUUM.

    ``keep_last`` must be >= 2: the newest version's batch may not be
    committed to the STREAMING checkpoint yet (crash between the
    _SUCCESS write and the checkpoint commit), in which case its
    replay rebuilds from the version below — if vacuum had deleted
    that one, the replay would merge against an empty current side and
    silently truncate the table.
    """
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: the newest version's batch may still "
            "be replayed (crash before its checkpoint commit) and rebuilds "
            "from the version below it"
        )
    committed, torn = _list_versions(spark, dim_path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(dim_path)
    fs = root.getFileSystem(conf)
    keep = set(committed[-keep_last:])
    newest = committed[-1] if committed else None
    deleted = []
    for v in committed:
        if v not in keep:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{dim_path}/v={v}"), True)
            deleted.append(v)
    for v in torn:
        # an uncommitted dir older than the newest committed version is
        # unreachable debris (its writer's replay would target a NEW
        # batch id); one at/above the newest may be an in-flight write
        if newest is not None and v < newest:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{dim_path}/v={v}"), True)
            deleted.append(v)
    return sorted(deleted)


def _latest_dimension_version(
    spark: SparkSession, dim_path: str, below: int | None = None
) -> int | None:
    """Highest committed version id under ``dim_path`` (optionally only
    versions strictly below ``below``), via the Hadoop FileSystem API so
    any supported filesystem (local, HDFS, s3a) works.

    Committed means the v=N directory carries the committer's _SUCCESS
    marker: a crashed foreachBatch write (or an overwrite still in
    flight) leaves a v=N directory without one, and readers must skip
    it rather than serve a torn version."""
    committed, _torn = _list_versions(spark, dim_path)
    eligible = [v for v in committed if below is None or v < below]
    return max(eligible) if eligible else None


def _list_versions(spark: SparkSession, dim_path: str):
    """(sorted committed version ids, sorted torn ids) under
    ``dim_path`` — THE definition of 'committed' (a v=N directory with
    the self-written _SUCCESS), shared by the reader resolution and
    the vacuum so they can never disagree about it."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(dim_path)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return [], []
    committed, torn = [], []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not name.startswith("v="):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        ok = fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS"))
        (committed if ok else torn).append(v)
    return sorted(committed), sorted(torn)


def read_dimension(
    spark: SparkSession, dim_path: str, version: int | None = None
) -> DataFrame:
    """Read an incrementally-maintained dimension (see
    `merge_stream_into_dimension`): the latest committed version by
    default, or — time travel — the newest committed version with id
    <= ``version`` (each version is the full immutable snapshot after
    that batch, so reproducing the dimension as of an earlier batch is
    one directory read, no log replay)."""
    v = _latest_dimension_version(
        spark, dim_path, below=None if version is None else version + 1
    )
    if v is None:
        raise FileNotFoundError(
            f"no committed dimension version under {dim_path}"
            + (f" at or below v={version}" if version is not None else "")
        )
    return spark.read.parquet(f"{dim_path}/v={v}")


def stream_anomaly_monitor(
    spark: SparkSession,
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key_cols,
    bucket_col: str,
    out_path: str | None = None,
    lookback: int = 24,
    min_history: int = 8,
    threshold: float = 3.0,
    retain_buckets: int | None = None,
) -> int:
    """Streaming twin of `operators.quality.rolling_zscore` — the live
    intake monitor: each micro-batch's rows are counted per
    (series key, time bucket), merged ADDITIVELY into a persisted
    per-series history (same versioned ``v=<batch_id>`` writer as the
    dimension/sketch maintainers: crash replays resolve the version
    below their own id, `_SUCCESS` commit), and the batch's touched
    buckets are scored against the trailing window of the merged
    history — so a volume spike is flagged the batch it arrives, with
    verdicts at ``{out_path}/batch=<id>`` as
    (keys..., bucket, n, trail_n, trail_mean, z, verdict).

    ``bucket_col`` is a caller-computed integral period (e.g. hour-
    epoch micros via the NTZ-safe ``timestampdiff`` idiom) — the
    operator stays timezone- and granularity-agnostic.

    State is BOUNDED: each version keeps only the newest
    ``retain_buckets`` (default ``4 * lookback``) buckets per series,
    so state rows are series x retention forever, not series x
    lifetime. The horizon contract matches watermarked aggregation:
    rows must not arrive for buckets older than the retention horizon
    (their partial history was pruned; they would rejoin with a
    truncated count). Scoring runs on the PRE-prune merge, so a
    touched bucket's trailing window may reach into history the new
    version ages out of storage; verdicts equal the batch
    `rolling_zscore` over the concatenated history as long as every
    touched bucket's ``lookback`` lay within the previous version's
    retention (3x ``lookback`` of slack at the default) — pinned by
    the batch-twin test.

    Returns batches processed this run.
    """
    from pyspark.sql import Window

    from udacity_data_engineering_capstone_project_spark.operators.quality import (
        rolling_zscore,
    )

    gcols = list(key_cols)
    retain = retain_buckets if retain_buckets is not None else 4 * lookback
    if retain < lookback + 1:
        raise ValueError(
            f"retain_buckets must be >= lookback + 1 ({lookback + 1}), "
            f"got {retain} — a touched bucket needs its full trailing "
            "window retained for the z-score to be history-complete"
        )
    counter = {"batches": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        binc = batch_df.groupBy(
            *[F.col(c) for c in gcols], F.col(bucket_col)
        ).agg(F.count(F.lit(1)).alias("n"))
        prev_v = _latest_dimension_version(spark, state_path, below=batch_id)
        if prev_v is None:
            merged = binc
        else:
            prev = spark.read.parquet(f"{state_path}/v={prev_v}")
            merged = (
                prev.select(binc.columns)
                .unionByName(binc)
                .groupBy(*gcols, bucket_col)
                .agg(F.sum("n").alias("n"))
            )
        # score BEFORE pruning: a touched bucket's trailing window may
        # reach into history that this version is about to age out of
        # storage (scoring is still replay-deterministic — merged is a
        # pure function of the committed previous version + the batch)
        merged = merged.localCheckpoint(eager=True)
        rank = F.row_number().over(
            Window.partitionBy(*[F.col(c) for c in gcols]).orderBy(
                F.col(bucket_col).desc()
            )
        )
        pruned = (
            merged.withColumn("__r", rank)
            .filter(F.col("__r") <= retain)
            .drop("__r")
        )
        vdir = f"{state_path}/v={batch_id}"
        pruned.write.mode("overwrite").parquet(vdir)
        _commit_version(spark, vdir)
        if out_path is not None:
            scored = rolling_zscore(
                merged,
                gcols,
                bucket_col,
                "n",
                lookback=lookback,
                min_history=min_history,
                threshold=threshold,
            )
            touched = binc.select(*gcols, bucket_col)
            verdicts = scored.join(touched, on=gcols + [bucket_col]).select(
                *gcols,
                bucket_col,
                "n",
                "trail_n",
                "trail_mean",
                "z",
                F.when(F.col("z").isNull(), F.lit("insufficient"))
                .when(F.col("is_anomaly"), F.lit("anomaly"))
                .otherwise(F.lit("normal"))
                .alias("verdict"),
            )
            verdicts.write.mode("overwrite").parquet(
                f"{out_path}/batch={batch_id}"
            )
        counter["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counter["batches"]
