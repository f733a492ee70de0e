"""Parquet source/sink + medallion zone layout (SURVEY.md S3-S8).

The reference reads/writes snappy parquet across five zones
(scripts/cdc_metrics_job.py:53-55,144,190,239), partitions the CDC log by
``cdc_action`` (:89,111) and silver facts by ``CREATION_DATE`` (:143,168),
and repartitions by the partition column before writing (:141,165,187,208)
so each Hive partition gets one task's worth of files. The pipeline keeps
the CDC layout but partitions silver's dated tables by month
(``CREATION_MONTH``, see pipeline.py).

Scale notes (100 TB):
- Partitioned writes without a repartition produce #tasks x #values small
  files; ``repartition(partition_cols)`` (the reference's trick, kept here)
  gives one shuffle partition per value.
- Reads rely on Catalyst's native pushdown: filters on partition columns
  prune directories; filters on data columns reach parquet row-group stats.
  Nothing custom is needed -- callers just ``filter`` after ``read``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """``schema``, when the caller knows it, spares the inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


# Fact tables whose downstream operators do real per-row compute (hash
# replicates, per-char text kernels, ANN arithmetic). Dimension tables are
# excluded: they broadcast anyway and an extra exchange would only add
# latency to every join.
_SPREAD_TABLES = {"events", "documents", "lineitem", "orders", "embeddings"}


def _parse_byte_size(value: str, default: int = 134217728) -> int:
    """Spark size confs accept Hadoop-style suffixes ('64MB', '128m',
    '1g', bare '134217728', trailing 'b'); mirror JavaUtils.byteStringAsBytes
    for the subset users actually write. Unparseable input falls back to
    the 128 MB Spark default rather than crashing the read path."""
    try:
        s = str(value).strip().lower()
        if s.endswith("b") and not s[:-1][-1:].isdigit():
            s = s[:-1]  # kb/mb/gb/tb -> k/m/g/t
        elif s.endswith("b"):
            s = s[:-1]  # plain-bytes '...b'
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}.get(s[-1:])
        if mult is not None:
            s = s[:-1]
        return int(float(s) * (mult or 1))
    except (ValueError, IndexError):
        return default


def _spread_if_single_split(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Parallelism floor for degenerate small-file scans: a parquet file
    with ONE row group is always ONE Spark task no matter what
    maxPartitionBytes says (row groups are the split unit), so every
    per-row-expensive projection above it runs on a single core. When the
    input is a single file too small to split, repartition to the session's
    core count so the expensive projection -- not the trivial scan --
    defines the stage parallelism. Self-disabling at scale: a production
    table is a directory of many files/row groups, the condition never
    fires, and no 100 TB scan is ever blind-shuffled. The shuffle this adds
    locally is bounded by the file's own (column-pruned: pushdown passes
    through a deterministic Repartition) bytes."""
    import os

    local = path[7:] if path.startswith("file://") else path
    try:
        if not os.path.isfile(local):
            return df
        size = os.path.getsize(local)
    except OSError:
        return df
    max_split = _parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    cpus = spark.sparkContext.defaultParallelism
    if size < max_split and cpus > 1:
        return df.repartition(cpus)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    ``events.ts`` is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as long nanoseconds
    and is converted to a microsecond timestamp here (floor division --
    lossless for this data, whose timestamps are whole microseconds, and
    consistent with DuckDB's ns->us truncation).

    The conf is set at read time (it is a runtime-settable SQL conf) so the
    read works under ANY session, not just the engine's own ``get_spark``
    (which also sets it at build time). Without it a vanilla session throws
    ``PARQUET_TYPE_ILLEGAL`` on the NANOS column."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # parquet TIMESTAMP(NANOS) via nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # micros-precision rewrites (scale_up)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if name in _SPREAD_TABLES:
        df = _spread_if_single_split(df, spark, path)
    return df


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API -- works for
    any scheme the cluster's Hadoop conf knows (file://, hdfs://, s3a://)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Cold-start probe: does the path exist? Used instead of catching broad
    read exceptions, so transient IO failures surface instead of being
    mistaken for a first run."""
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def child_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the entries directly under ``path``; empty when it does not
    exist."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [status.getPath().getName() for status in fs.listStatus(jpath)]


def swap_directory(spark: SparkSession, src: str, dst: str) -> None:
    """Replace directory ``dst`` with ``src`` (delete + rename). Rename is
    atomic on HDFS/posix; object stores should use a table format instead.
    The read-merge-overwrite cycle writes to a temp dir then calls this, so
    a failure before the swap leaves the previous snapshot intact."""
    fs, jdst = _hadoop_fs(spark, dst)
    _, jsrc = _hadoop_fs(spark, src)
    if fs.exists(jdst):
        fs.delete(jdst, True)
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename {src} -> {dst} failed")


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Snappy parquet sink with the reference's layout conventions.

    mode 'append' for incremental zones (cdc log, silver facts:
    scripts/cdc_metrics_job.py:89,141), 'overwrite' for snapshots and
    recomputed marts (:84,111-112,187)."""
    if partition_by:
        df = df.repartition(*partition_by)
    writer = df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    compression: str = "snappy",
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files and
    atomically swap it in; returns the new file count. The small-files
    problem is the chronic failure mode of incremental zones (every CDC
    micro-batch appends a file group; a year of runs = thousands of tiny
    files whose open/footer costs dominate reads). Compaction uses
    ``coalesce`` -- a scan + rewrite with NO shuffle -- sized from the
    directory's actual on-disk bytes. Readers see old-or-new atomically via
    the rename swap (``swap_directory``); concurrent WRITERS must be
    quiesced, same contract as the reference's overwrite-mode snapshots."""
    fs, jpath = _hadoop_fs(spark, path)
    summary = fs.getContentSummary(jpath)
    n = max(1, int((summary.getLength() + target_file_bytes - 1) // target_file_bytes))
    tmp = path.rstrip("/") + ".__compact_tmp"
    (
        spark.read.parquet(path)
        .coalesce(n)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    )
    swap_directory(spark, tmp, path)
    return n


def write_sorted(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Range-partitioned, within-file-sorted parquet export: file i holds a
    contiguous key range and is internally sorted, so the directory is
    globally ordered across files WITHOUT a single-reducer global sort --
    ``repartitionByRange`` samples range bounds (one lightweight job), then
    each task sorts only its own slice. The layout downstream consumers
    want for merge reads, binary-search point lookups, and min/max
    row-group skipping on the sort key (parquet stats become selective
    because each file covers a narrow range).

    ``num_files`` defaults to the session's shuffle parallelism. Skewed
    keys are handled by the range sampler: bounds equalize ROW counts per
    file, not key counts."""
    parts = df.repartitionByRange(
        *([num_files] if num_files else []), *[F.col(c) for c in order_cols]
    )
    parts.sortWithinPartitions(*order_cols).write.mode(mode).option(
        "compression", compression
    ).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Hash-bucketed parquet table (``bucketBy`` + ``saveAsTable``) -- the
    co-located-join layout. Two tables bucketed on their join key with the
    SAME bucket count join with ZERO exchanges: each task reads matching
    bucket files from both sides (pinned in tests/test_sources.py). For the
    100 TB star schema, bucketing lineitem and orders on the order key
    converts every orders-lineitem join/agg from a full shuffle into a
    bucket-local merge -- the single biggest shuffle eliminable in the
    reference workload. ``sort_cols`` additionally sorts within buckets so
    sort-merge joins skip their sort stage.

    Bucketed layout requires the table catalog (bucket metadata lives
    there, not in the files); ``path`` makes it an external table so the
    parquet remains a plain directory for non-catalog readers."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("compression", compression)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def build_file_stats(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Per-FILE min/max/count statistics for ``cols`` -- the data-skipping
    index lakehouse formats (Delta/Iceberg) keep in their manifests, built
    here as a plain DataFrame over ``input_file_name()``. One scan of the
    directory (column-pruned to ``cols``), aggregated map-side per file;
    persist it next to the data and a range query never opens
    non-overlapping files again (:func:`read_pruned`). Rebuild cost is one
    column-pruned pass; per-partition appends can rebuild just their new
    files and union.

    Returns (FILE, N_ROWS, <c>_MIN, <c>_MAX per col)."""
    df = spark.read.parquet(path).select(*cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("N_ROWS")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_MIN"), F.max(c).alias(f"{c}_MAX")]
    return df.groupBy(F.input_file_name().alias("FILE")).agg(*aggs)


def read_pruned(
    spark: SparkSession,
    path: str,
    stats: DataFrame,
    ranges: dict[str, tuple],
) -> DataFrame:
    """Range scan with file-level skipping: keep only files whose stored
    [min, max] envelope intersects every requested ``col: (lo, hi)`` range
    (either bound may be None for open-ended), scan just those, and apply
    the exact row-level filter as the residual (file stats are a coarser
    grain). The stats table is #files rows by contract, so collecting the
    surviving file list on the driver is negligible; at 100 TB this is the
    difference between opening every file's footer and opening only the
    slice a time/key-range query touches -- with :func:`write_sorted`
    layout on the range column the surviving set is contiguous and small."""
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if hi is not None:
            cond = cond & (F.col(f"{c}_MIN") <= F.lit(hi))
        if lo is not None:
            cond = cond & (F.col(f"{c}_MAX") >= F.lit(lo))
    files = [r["FILE"] for r in stats.filter(cond).select("FILE").collect()]
    base = spark.read.parquet(*files) if files else spark.read.parquet(path).limit(0)
    out = base
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            out = out.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(c) <= F.lit(hi))
    return out


# --- manifest-versioned tables: snapshot isolation + time travel -----------
#
# The lakehouse commit-log pattern (Delta/Iceberg) reduced to its core:
# data files are immutable, a numbered JSON manifest lists the data
# directories visible at each version, and a commit is ONE atomic manifest
# rename -- readers never see a partial write, and any historical version
# stays readable until vacuumed. For a training-data pipeline this is
# dataset version pinning: a run records the version it read, and the
# exact bytes are reproducible forever after, independent of later appends
# or rewrites. Single-writer contract: version numbers are assigned by
# listing, so concurrent writers need an external lock or a
# conditional-put commit (exactly the part Delta's log protocol adds);
# local-filesystem os.* calls stand in for the object-store FileSystem
# API here.


def _manifest_dir(path: str) -> str:
    import os

    return os.path.join(path, "_manifests")


def table_versions(path: str) -> list[int]:
    """Committed versions of a manifest-versioned table, ascending."""
    import os

    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(fn[1:-5])
        for fn in os.listdir(d)
        if fn.startswith("v") and fn.endswith(".json")
    )


def _latest_dirs(path: str) -> tuple[int, list[str]]:
    """(latest committed version, its manifest's data directories) -- the
    shared preamble of every table mutation/read."""
    import json
    import os

    versions = table_versions(path)
    if not versions:
        raise ValueError(f"no committed versions at {path}")
    with open(os.path.join(_manifest_dir(path), f"v{versions[-1]:05d}.json")) as fh:
        return versions[-1], json.load(fh)["dirs"]


def _data_dir_col() -> F.Column:
    """The committed data directory of each row, recovered from the
    parquet ``_metadata.file_path`` column (directories are always
    ``data/vNNNNN``) -- the match locator for directory-pruned
    copy-on-write."""
    return F.regexp_extract(F.col("_metadata.file_path"), r"(data/[^/]+)/[^/]*$", 1)


def _batches_path(path: str) -> str:
    import os

    return os.path.join(_manifest_dir(path), "_batches.json")


def _load_batches(path: str) -> dict:
    """The committed-batches sidecar: {"horizon": highest manifest version
    already examined, "batches": {str(batch_id): version}}."""
    import json
    import os

    p = _batches_path(path)
    if not os.path.exists(p):
        return {"horizon": 0, "batches": {}}
    with open(p) as fh:
        return json.load(fh)


def _store_batches(path: str, sidecar: dict) -> None:
    import json
    import os
    import uuid

    tmp = os.path.join(_manifest_dir(path), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(sidecar, fh)
    os.rename(tmp, _batches_path(path))


def _commit_manifest(
    path: str, v: int, dirs: list[str], batch_id: int | None = None
) -> None:
    """Atomic commit point shared by every table mutation: write the
    version-``v`` manifest to a temp file and rename it into place."""
    import json
    import os
    import uuid

    manifest: dict = {"version": v, "dirs": dirs}
    if batch_id is not None:
        manifest["batch_id"] = batch_id
    tmp = os.path.join(_manifest_dir(path), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(_manifest_dir(path), f"v{v:05d}.json"))


def versioned_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    compression: str = "snappy",
    batch_id: int | None = None,
) -> int:
    """Commit ``df`` as the next version of the table at ``path``.

    ``mode='append'``: the new version sees every directory the previous
    version saw plus the new one. ``mode='overwrite'``: the new version
    sees ONLY the new directory -- a logical replace; the old data files
    stay on disk so earlier versions remain readable (:func:`read_version`)
    until :func:`vacuum_versions`. The data write is idempotent (a retry
    overwrites its own uncommitted directory); the commit point is the
    atomic manifest rename. Returns the committed version number.

    ``batch_id`` makes the commit IDEMPOTENT per source batch (the
    exactly-once handshake Structured Streaming's foreachBatch needs).
    Committed batch_ids live in a compact sidecar
    (``_manifests/_batches.json``) that :func:`vacuum_versions` NEVER
    drops (a per-manifest scan would both cost O(versions)
    file opens per commit and silently re-append a batch replayed
    after its manifest was vacuumed). Dedup is one sidecar read; the
    crash window between a manifest rename and the sidecar update is
    covered by scanning only the manifests NEWER than the sidecar's
    horizon (0 or 1 files in steady state; all of them exactly once
    when adopting a pre-sidecar table)."""
    import json
    import os

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_manifest_dir(path), exist_ok=True)
    versions = table_versions(path)
    sidecar = _load_batches(path) if batch_id is not None else {}
    if batch_id is not None:
        batches = sidecar["batches"]
        if str(batch_id) in batches:
            return batches[str(batch_id)]
        # crash-window / adoption sweep: only manifests NEWER than the
        # sidecar horizon (0-1 files in steady state; all once on adoption)
        unseen = [v for v in versions if v > sidecar["horizon"]]
        for v in unseen:
            with open(os.path.join(_manifest_dir(path), f"v{v:05d}.json")) as fh:
                bid = json.load(fh).get("batch_id")
            if bid is not None:
                # first-wins: the ORIGINAL committed version answers a
                # replay, matching the old per-manifest scan order
                batches.setdefault(str(bid), v)
        if unseen:
            sidecar["horizon"] = max(versions)
            _store_batches(path, sidecar)
        if str(batch_id) in batches:
            return batches[str(batch_id)]
    v = (versions[-1] if versions else 0) + 1
    data_rel = f"data/v{v:05d}"
    df.write.mode("overwrite").option("compression", compression).parquet(
        os.path.join(path, data_rel)
    )
    dirs: list[str] = []
    if mode == "append" and versions:
        with open(os.path.join(_manifest_dir(path), f"v{versions[-1]:05d}.json")) as fh:
            dirs = json.load(fh)["dirs"]
    dirs = dirs + [data_rel]
    _commit_manifest(path, v, dirs, batch_id=batch_id)
    if batch_id is not None:
        batches[str(batch_id)] = v
        sidecar["horizon"] = max(sidecar["horizon"], v)
        _store_batches(path, sidecar)
    return v


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a manifest-versioned table AS OF ``version`` (default: latest).
    One multi-directory parquet read of exactly the files that version
    committed -- time travel with no copy and no merge-on-read.

    ``merge_schema=True`` unions the column sets of every referenced
    directory (additive schema evolution: a delivery that introduced a
    new column surfaces it, with NULLs for rows from older deliveries --
    Spark's parquet ``mergeSchema``). Off by default: schema merging
    reads every directory's footer up front, and a version whose
    deliveries all share one schema should not pay that."""
    import json
    import os

    versions = table_versions(path)
    if not versions:
        raise ValueError(f"no committed versions at {path}")
    v = versions[-1] if version is None else int(version)
    if v not in versions:
        raise ValueError(f"version {v} not in committed versions {versions}")
    with open(os.path.join(_manifest_dir(path), f"v{v:05d}.json")) as fh:
        dirs = json.load(fh)["dirs"]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[os.path.join(path, d) for d in dirs])


def compact_table(spark: SparkSession, path: str, compression: str = "snappy") -> int:
    """OPTIMIZE for manifest-versioned tables: rewrite the LATEST
    version's visible rows into ONE fresh data directory and commit it as
    a new version -- a logical no-op (same rows) that collapses read
    amplification. An append-heavy table accumulates one directory per
    delivery, so every read of the latest version opens O(deliveries)
    directory listings/footers; after compaction it opens ONE. Earlier
    versions keep reading their original immutable directories
    (time travel intact) until :func:`vacuum_versions` reclaims the
    now-unreferenced ones; the commit is the same atomic manifest rename
    as any other write. Returns the committed version number."""
    return versioned_write(
        read_version(spark, path), path, mode="overwrite", compression=compression
    )


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    compression: str = "snappy",
) -> int:
    """Row-level DELETE on a manifest-versioned table -- copy-on-write
    with DIRECTORY PRUNING, the lakehouse `DELETE WHERE` shape. Rows
    where ``condition`` is TRUE are removed from the next version; NULL
    predicate rows are kept (SQL DELETE semantics).

    Scale shape, why this is not a full rewrite: pass 1 scans the
    current version with the parquet ``_metadata.file_path`` column and
    aggregates matching rows per committed DIRECTORY (a map-combined
    groupBy over <= #directories groups -- bounded collect); pass 2
    rewrites ONLY the directories that actually contain matches,
    filtered to the surviving rows, into one fresh directory. The new
    manifest references every untouched directory AS-IS plus the
    rewritten one -- on a 100 TB table where a delete hits one
    delivery's files, the untouched bulk is never read again, never
    rewritten, and stays shared with every older version (time travel
    intact until :func:`vacuum_versions`).

    A predicate matching nothing commits NOTHING and returns the current
    version (no empty rewrite). Returns the committed (or current)
    version number."""
    import os

    cond = F.expr(condition) if isinstance(condition, str) else condition
    latest, dirs = _latest_dirs(path)
    match = F.coalesce(cond, F.lit(False))
    hits = (
        spark.read.parquet(*[os.path.join(path, d) for d in dirs])
        .where(match)
        .select(_data_dir_col().alias("__dir"))
        .distinct()
        .collect()
    )  # bounded: one row per committed directory containing matches
    touched = sorted({r["__dir"] for r in hits})
    if not touched:
        return latest
    v = latest + 1
    data_rel = f"data/v{v:05d}"
    survivors = spark.read.parquet(
        *[os.path.join(path, d) for d in touched]
    ).where(~match)
    survivors.write.mode("overwrite").option("compression", compression).parquet(
        os.path.join(path, data_rel)
    )
    kept_dirs = [d for d in dirs if d not in set(touched)] + [data_rel]
    _commit_manifest(path, v, kept_dirs)
    return v


def merge_into(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    on: list[str],
    compression: str = "snappy",
) -> int:
    """MERGE INTO (upsert) on a manifest-versioned table -- copy-on-write
    with the same DIRECTORY PRUNING as :func:`delete_where`. Target rows
    whose key matches a source row are REPLACED by the source image
    (when-matched update-all); source rows with no target match are
    INSERTED; unmatched target rows are untouched. ``source`` must carry
    the target's exact schema and AT MOST ONE ROW PER KEY (a multi-row
    key would make "the" update image partitioning-dependent; enforce
    upstream with dedup_keep_latest).

    Scale shape: pass 1 left-semi-joins the current version (with the
    parquet ``_metadata.file_path`` column) against the bounded key
    projection of the source and groups matches per committed directory
    (bounded collect, one row per directory). Pass 2 rewrites ONLY the
    matched directories minus their matched rows (left-anti join on the
    key), unions the FULL source (updates + inserts together -- one
    write), and commits untouched dirs + the one new dir. A delivery
    whose keys the merge never touches is never read twice, never
    rewritten, and stays shared with every older version.

    Returns the committed version number. An EMPTY source commits
    nothing and returns the current version."""
    import os

    latest, dirs = _latest_dirs(path)
    if source.isEmpty():
        return latest
    keys = source.select(*on)
    current = spark.read.parquet(*[os.path.join(path, d) for d in dirs])
    hits = (
        current.select(*on, _data_dir_col().alias("__dir"))
        .join(keys, on, "left_semi")
        .select("__dir")
        .distinct()
        .collect()
    )  # bounded: one row per committed directory containing matched keys
    touched = sorted({r["__dir"] for r in hits})
    v = latest + 1
    data_rel = f"data/v{v:05d}"
    target_cols = current.columns
    if touched:
        survivors = (
            spark.read.parquet(*[os.path.join(path, d) for d in touched])
            .join(keys, on, "left_anti")
        )
        out = survivors.select(*target_cols).unionByName(source.select(*target_cols))
    else:
        out = source.select(*target_cols)
    out.write.mode("overwrite").option("compression", compression).parquet(
        os.path.join(path, data_rel)
    )
    kept_dirs = [d for d in dirs if d not in set(touched)] + [data_rel]
    _commit_manifest(path, v, kept_dirs)
    return v


def vacuum_versions(path: str, keep_last: int = 1) -> list[str]:
    """Drop manifests older than the last ``keep_last`` versions and
    delete every data directory no kept version references. Returns the
    deleted data directories (relative). The retention/time-travel
    trade, made explicit."""
    import json
    import os
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = table_versions(path)
    kept, dropped = versions[-keep_last:], versions[:-keep_last]
    keep_dirs: set[str] = set()
    for v in kept:
        with open(os.path.join(_manifest_dir(path), f"v{v:05d}.json")) as fh:
            keep_dirs.update(json.load(fh)["dirs"])
    # Fold every to-be-dropped manifest's batch_id into the sidecar BEFORE
    # deleting it: a batch committed but not yet absorbed (crash between
    # the manifest rename and the sidecar update, or a pre-sidecar table)
    # would otherwise lose its dedup record to the vacuum and a delayed
    # replay would double-append -- the exact hazard the sidecar closes.
    sidecar = _load_batches(path)
    folded = False
    for v in dropped:
        with open(os.path.join(_manifest_dir(path), f"v{v:05d}.json")) as fh:
            bid = json.load(fh).get("batch_id")
        if bid is not None and str(bid) not in sidecar["batches"]:
            sidecar["batches"][str(bid)] = v
            folded = True
    if folded or (dropped and sidecar["horizon"] < dropped[-1]):
        sidecar["horizon"] = max(sidecar["horizon"], dropped[-1])
        _store_batches(path, sidecar)
    removed: list[str] = []
    for v in dropped:
        mpath = os.path.join(_manifest_dir(path), f"v{v:05d}.json")
        with open(mpath) as fh:
            for d in json.load(fh)["dirs"]:
                if d not in keep_dirs and d not in removed:
                    shutil.rmtree(os.path.join(path, d), ignore_errors=True)
                    removed.append(d)
        os.remove(mpath)
    return removed


@dataclass(frozen=True)
class MedallionLayout:
    """Zone path scheme mirroring the reference's
    ``data/{bronze,cdc,snapshots,silver,gold}/...``
    (scripts/cdc_metrics_job.py:53-55,144,190,239)."""

    root: str

    def bronze(self, table: str, run_date: str) -> str:
        return f"{self.root}/bronze/{table}/{run_date}"

    def cdc(self, table: str, run_date: str) -> str:
        return f"{self.root}/cdc/{table}/date={run_date}"

    def snapshot(self, table: str) -> str:
        return f"{self.root}/snapshots/{table}/latest"

    def silver(self, table: str) -> str:
        return f"{self.root}/silver/{table}"

    def gold(self, mart: str) -> str:
        return f"{self.root}/gold/{mart}"


def write_jsonl_sharded(
    df: DataFrame,
    path: str,
    approx_shard_bytes: int | None = None,
    max_records_per_shard: int | None = None,
    compression: str = "gzip",
    mode: str = "overwrite",
) -> int:
    """Training-data export: size-bounded JSONL shards (the interchange
    format every LLM data pipeline ends in).

    Each row serializes JVM-side via ``to_json(struct(*))`` -- no Python
    in the hot path. Shard bounding, two composable mechanisms:

    * ``approx_shard_bytes``: ONE map-combined scalar aggregation sums the
      uncompressed serialized length, then a round-robin repartition to
      ceil(total/target) balances shards -- one bounded shuffle, even
      shard sizes regardless of input skew (the property downstream
      loaders want for equal-work file assignment).
    * ``max_records_per_shard``: Spark's ``maxRecordsPerFile`` -- no
      shuffle at all; shard sizes then follow the input's partitioning.

    Returns the number of planned shards (0 = left to the input layout).
    Compression is per-file (gzip default), so shards stay independently
    streamable; at 100 TB the scalar sizing pass is one scan with a
    1-row result and the export write is embarrassingly parallel."""
    lines = df.select(F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"))
    n_shards = 0
    if approx_shard_bytes:
        total = lines.agg(
            F.sum(F.octet_length("value") + F.lit(1)).alias("B")
        ).collect()[0]["B"]  # bounded driver scalar: one long
        n_shards = max(1, -(-int(total or 0) // int(approx_shard_bytes)))
        lines = lines.repartition(n_shards)
    writer = lines.write.mode(mode).option("compression", compression)
    if max_records_per_shard:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_shard))
    writer.text(path)
    return n_shards
