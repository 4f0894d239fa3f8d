"""Sinks (reference: S4, SURVEY.md §2.1).

The reference writes unpartitioned parquet (`etl.py:30-39` — no
`partitionBy` anywhere, flagged in its own write-up as the thing to fix
for 100x scale). Here partitioned + bucketed writes are first-class:
at 100 TB, partition pruning on a date/month column is the difference
between scanning a day and scanning the lake.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


#: Plan-graph node of a file-source write; its description starts with
#: the qualified output path.
_INSERT_NODE = "Execute InsertIntoHadoopFsRelationCommand"
#: How many of the newest SQL executions to search for the write.
_RECENT_EXECUTIONS = 32


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    compression: str = "snappy",
) -> dict[str, int] | None:
    """Write parquet with optional hive-style partitioning.

    Returns the write's own committed figures, ``{"rows": n, "files":
    n}``, and records the same dict on the frame as ``df._sg_written``
    (so `expect_row_count` can gate on what was written without
    recomputing the lineage). With ``mode="append"`` they cover this
    write only. ``None`` (recorded too, so no stale figures survive)
    when the write's SQL execution cannot be found; see
    `_written_metrics`."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    df._sg_written = _written_metrics(df.sparkSession, path)
    return df._sg_written


def _written_metrics(spark, path: str) -> dict[str, int] | None:
    """``{"rows", "files"}`` of the newest file write to ``path``, read
    from the SQL status store (the metrics the SQL tab shows; available
    with ``spark.ui.enabled=false``) — no data is scanned.

    The write is found by its plan node's output path among the newest
    executions, not by list position: another thread's queries or the
    store's retention limit can shift the list. Values arrive formatted
    (``"1,000"``); ``written output`` is rounded (``"9.7 KiB"``), so
    bytes are left out. ``None`` when no matching execution is found."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    qualified = hpath.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(hpath)
    prefix = f"{_INSERT_NODE} {qualified.toString()},"
    # the write's commit-time metric updates reach the store through the
    # listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - _RECENT_EXECUTIONS), _RECENT_EXECUTIONS)
    ids = sorted((recent.apply(i).executionId() for i in range(recent.size())), reverse=True)
    for eid in ids:
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != _INSERT_NODE or not node.desc().startswith(prefix):
                continue
            values = store.executionMetrics(eid)
            metrics = node.metrics()
            acc = {metrics.apply(j).name(): metrics.apply(j).accumulatorId()
                   for j in range(metrics.size())}
            rows = values.get(acc["number of output rows"])
            files = values.get(acc["number of written files"])
            if not (rows.isDefined() and files.isDefined()):
                return None
            return {"rows": int(rows.get().replace(",", "")),
                    "files": int(files.get().replace(",", ""))}
    return None


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    compression: str | None = "gzip",
    records_per_file: int | None = None,
) -> None:
    """Write JSON-lines — the lingua-franca interchange for LLM corpus
    tooling (one JSON object per line; `read_json` is the round-trip).
    ``compression=None`` for plain text, gzip by default (jsonl is
    verbose — 3-10x parquet). ``records_per_file`` bounds shard size
    via maxRecordsPerFile, the knob for fixed-size training shards."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if records_per_file:
        writer = writer.option("maxRecordsPerFile", records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    compression: str = "zlib",
) -> None:
    """Write ORC with optional hive-style partitioning (interchange
    format for Hive/Trino-side consumers; same sink contract as
    `write_parquet`)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def materialize(df: DataFrame, path: str, format: str = "parquet") -> DataFrame:
    """Checkpoint a DataFrame: write + read back, truncating lineage.

    The reference recomputes lineage on every action (counts during
    read, write, and quality checks each re-trigger the DAG,
    SURVEY.md §3); materializing before multi-action use pays the scan
    once. Prefer this over .persist() when the result must survive the
    session or exceed cluster memory."""
    df.write.mode("overwrite").format(format).save(path)
    return df.sparkSession.read.format(format).load(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    num_files: int | None = None,
) -> None:
    """Cluster data files by ``cluster_cols`` before writing (a
    Z-order-style layout without an engine extension): range-partition
    on the cluster keys, sort within each partition, write one tight
    file per range. Each parquet file then covers a narrow min/max
    band of the cluster columns, so predicate pushdown on them skips
    whole files/row-groups instead of scanning the lake — the
    read-side complement to hive partitioning (use partitioning for
    the coarse column, clustering for the fine ones).

    ``num_files`` pins the range-partition count (otherwise
    shuffle.partitions/AQE decide — size so each file lands near the
    row-group sweet spot, ~128 MB).
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_cols]
    parted = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    out = parted.sortWithinPartitions(*cluster_cols)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    key_col: str = "__zorder",
) -> DataFrame:
    """Attach a Morton (Z-order) key interleaving the bits of the given
    numeric columns — the multi-dimensional complement to
    `write_clustered`'s lexicographic layout. Sorting by the key keeps
    rows close in EVERY listed dimension close in the file order, so
    per-file parquet min/max stats stay narrow on all of them and a
    filter on any single column skips files (lexicographic clustering
    only skips on the leading column).

    Each column is min/max-scaled to ``bits`` bits with one aggregate
    pass (two scalars per column reach the driver), then the scaled
    values are bit-interleaved JVM-side via a single generated SQL
    expression (one py4j round trip regardless of bits — see
    minhash_signatures for the Column-construction trap). Heavily
    skewed columns should be pre-transformed (log/bucket) since linear
    scaling concentrates them in few codes.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs >= 2 columns (use a plain sort for 1)")
    if bits * n > 62:
        bits = 62 // n
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn{j}") for j, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx{j}") for j, c in enumerate(cols)],
    ).collect()[0]
    levels = (1 << bits) - 1
    scaled = []
    for j, c in enumerate(cols):
        mn, mx = stats[f"mn{j}"], stats[f"mx{j}"]
        span = (mx - mn) if mx is not None and mn is not None and mx > mn else 1.0
        scaled.append(
            f"least({levels}L, bigint(floor((coalesce(double(`{c}`), "
            f"{mn if mn is not None else 0.0}) - {mn if mn is not None else 0.0})"
            f" * {levels + 1} / {span})))"
        )
    exprs = [f"({s}) AS __zs{j}" for j, s in enumerate(scaled)]
    terms = [
        f"shiftleft(shiftright(__zs{j}, {i}) & 1, {i * n + j})"
        for i in range(bits)
        for j in range(n)
    ]
    with_scaled = df.selectExpr("*", *exprs)
    return with_scaled.selectExpr(
        *[c for c in df.columns], f"({' | '.join(terms)}) AS {key_col}"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    mode: str = "overwrite",
    num_files: int | None = None,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet write: attach the Morton key,
    range-partition + sort on it, drop it, write. Each output file then
    covers a narrow min/max band of EVERY cluster column, so data
    skipping works for filters on any of them — the layout Delta/Iceberg
    call OPTIMIZE ZORDER BY, built from plain DataFrame ops."""
    from pyspark.sql import functions as F

    keyed = zorder_key(df, cluster_cols, bits=bits)
    parted = (
        keyed.repartitionByRange(num_files, F.col("__zorder"))
        if num_files
        else keyed.repartitionByRange(F.col("__zorder"))
    )
    parted.sortWithinPartitions("__zorder").drop("__zorder").write.mode(
        mode
    ).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed managed table: co-locates join keys so repeated
    large-large joins on ``bucket_cols`` skip the shuffle entirely."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def compact_parquet(
    spark,
    path: str,
    out_path: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: Sequence[str] | None = None,
) -> int:
    """Small-file compaction — the maintenance pass every long-lived
    ingestion path needs: streaming/incremental writers leave thousands
    of KB-scale files whose per-file open/footer overhead dominates
    scans at 100 TB. Rewrites ``path`` into ceil(bytes/target) files of
    ~``target_file_bytes`` each (sized from the files' actual on-disk
    bytes via the Hadoop FS, not a row-count guess), optionally sorted
    within files to restore clustering for data skipping.

    Writes to ``out_path`` (default ``<path>__compacted``) rather than
    in place: an in-place rewrite that fails mid-way destroys the
    table; callers swap directories after the write commits. Returns
    the number of output files requested.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-int(total) // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    if sort_within_by:
        out = df.repartitionByRange(n_files, *sort_within_by).sortWithinPartitions(
            *sort_within_by
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_path or f"{path}__compacted")
    return n_files


def shard_assignment_hashes(
    key_col: str, seed: int, portable: bool = False
):
    """The (shard_hash, order_hash) pair behind `write_training_shards`:
    two independent pure hashes of (key, seed) — shard choice and
    within-shard order decorrelate via a golden-ratio seed offset.

    Default family is xxhash64 (one fused JVM codegen call).
    ``portable=True`` swaps in the 60-bit md5-prefix family —
    `conv(substr(md5(coalesce(key, '\\x00null') || ':' || seed), 1,
    15), 16, 10)` — that any engine with md5() reproduces bit-for-bit:
    the seam `shards_q` uses to hash-grade the full (shard,
    within-shard rank) assignment against DuckDB (the simhash/
    pack_sequences portability pattern). Note the coalesce is PART of
    the portable recipe; an external re-derivation must include it.

    NULL keys (ADVICE r9; behavior change in r10): both families hash
    ``coalesce(key, '\\x00null')`` so a NULL-keyed row lands in the
    SAME shard under either family — previously md5(concat(NULL,..))
    propagated NULL (row dropped from any portable re-derivation)
    while xxhash64 hashed NULL to a seed-derived value, so the two
    families disagreed exactly on NULL-keyed rows. The sentinel starts
    with a NUL byte no real cast-to-string key produces. This is a
    ONE-TIME contract change for NULL-keyed rows only: an export
    written before r10 that contained NULL keys re-shards those rows
    under the new recipe (non-null keys are byte-identical); the old
    placement was unreproducible outside Spark anyway, which is why
    the fix landed.
    """
    from pyspark.sql import functions as F

    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    if portable:
        def h(s: int):
            return F.conv(
                F.substring(
                    F.md5(F.concat(key, F.lit(f":{s}"))), 1, 15
                ), 16, 10,
            ).cast("long")
        return h(seed), h(seed + 0x9E3779B9)
    # golden-ratio offset keeps seeds distinct for every caller seed
    # without int64 overflow for any sane input
    return (
        F.xxhash64(key, F.lit(seed)),
        F.xxhash64(key, F.lit(seed + 0x9E3779B9)),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    num_shards: int,
    seed: int = 0,
    files_per_shard: int = 1,
) -> list[dict]:
    """Sharded, globally-shuffled training-data export — the last mile
    of a corpus pipeline: trainers consume N equal-ish shards whose row
    order is decorrelated from ingestion order, and every epoch wants a
    DIFFERENT but reproducible permutation.

    Shard assignment is ``pmod(xxhash64(key, seed), num_shards)`` and
    within-shard order is an independent second hash of the same key —
    both pure functions of (key, seed), so the export is byte-stable
    across cluster layouts and retries, and a new ``seed`` is a fresh
    epoch-level reshuffle with no extra state. NULL keys hash as the
    empty-input digest and land together in one shard (document ids
    should never be NULL; upstream gates enforce that).

    Physical shape: one hash repartition into
    ``num_shards * files_per_shard`` tasks (rows pre-clustered by
    shard, so the partitioned writer emits contiguous files — no
    small-file spray), sortWithinPartitions for the decorrelated
    order, then ``partitionBy(shard)`` directories. ``files_per_shard``
    bounds file sizes at scale: a 100 TB corpus in 1024 shards needs
    ~100 GB per shard split across many readable files, not one.

    Returns the manifest — ``[{shard, rows, files, bytes}, ...]`` —
    and writes it as ``_MANIFEST.json`` beside the shard directories.
    Rows are recounted from the committed files (metadata-weight scan:
    zero columns projected), bytes/files from the filesystem, so the
    manifest describes what is actually on disk, not what was planned.
    """
    import json

    from pyspark.sql import functions as F

    if num_shards < 1 or files_per_shard < 1:
        raise ValueError("num_shards and files_per_shard must be >= 1")
    h_shard, h_order = shard_assignment_hashes(key_col, seed)
    staged = (
        df.withColumn("shard", F.pmod(h_shard, F.lit(num_shards)).cast("int"))
        .withColumn("__grp", F.pmod(h_order, F.lit(files_per_shard)).cast("int"))
        .withColumn("__ord", h_order)
        .repartition(num_shards * files_per_shard, F.col("shard"), F.col("__grp"))
        .sortWithinPartitions("shard", "__ord")
        .drop("__grp", "__ord")
    )
    staged.write.mode("overwrite").partitionBy("shard").parquet(path)

    spark = df.sparkSession
    rows = {
        r["shard"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    manifest = []
    for shard in range(num_shards):
        d = jvm.org.apache.hadoop.fs.Path(path, f"shard={shard}")
        files = n_bytes = 0
        if fs.exists(d):
            it = fs.listStatus(d)
            for st in it:
                if st.isFile() and not st.getPath().getName().startswith(("_", ".")):
                    files += 1
                    n_bytes += int(st.getLen())
        manifest.append(
            {
                "shard": shard,
                "rows": int(rows.get(shard, 0)),
                "files": files,
                "bytes": n_bytes,
            }
        )
    out = fs.create(jvm.org.apache.hadoop.fs.Path(root, "_MANIFEST.json"), True)
    out.write(bytearray(json.dumps(manifest, indent=1).encode()))
    out.close()
    return manifest
