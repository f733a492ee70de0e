"""Source-layer regression tests (SURVEY.md S3).

The round-1 correctness gate failed all 15 events-based queries because
read_table only worked when the session had been built by the engine's own
get_spark (which pre-sets spark.sql.legacy.parquet.nanosAsLong). The driver
harness uses a vanilla SparkSession, so the NANOS column threw
PARQUET_TYPE_ILLEGAL. read_table now sets the conf at read time; these tests
pin that.

Note: inside the engine's own session, `spark.conf.unset` falls back to the
SparkConf value baked in at build time (still "true"), so the vanilla state
cannot be reproduced in-process. The vanilla regression therefore runs in a
subprocess with a genuinely bare SparkSession — the same shape as the
driver's harness.
"""

import os
import subprocess
import sys

from aws_glue_cdc_metrics_job_spark.sources.parquet_io import read_table

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_VANILLA_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").appName("vanilla-regression").getOrCreate()
assert spark.conf.get({key!r}, "false") != "true", "session not vanilla; test is vacuous"

from aws_glue_cdc_metrics_job_spark.sources.parquet_io import read_table

df = read_table(spark, {sf_dir!r}, "events")
assert dict(df.dtypes)["ts"] == "timestamp", dict(df.dtypes)
n = df.count()
assert n > 0, n
print("VANILLA_OK", n)
"""


def test_read_events_under_vanilla_session(sf_dir):
    """True driver-harness shape: bare builder session in a fresh JVM."""
    proc = subprocess.run(
        [sys.executable, "-c", _VANILLA_SCRIPT.format(repo=REPO, key=NANOS_KEY, sf_dir=sf_dir)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "VANILLA_OK" in proc.stdout


def test_read_events_sets_conf_at_read_time(spark, sf_dir):
    spark.conf.unset(NANOS_KEY)
    df = read_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0
    # read_table must have (re)set the conf itself, not relied on the session
    assert spark.conf.get(NANOS_KEY) == "true"


def test_read_events_ts_is_microsecond_truncated(spark, sf_dir):
    # ns -> us floor division must agree with DuckDB's truncation
    import duckdb

    df = read_table(spark, sf_dir, "events").select("event_id", "ts").orderBy("event_id").limit(5)
    got = [(r.event_id, r.ts.isoformat()) for r in df.collect()]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM '{sf_dir}/events.parquet' ORDER BY event_id LIMIT 5"
    ).fetchall()
    want = [(i, t.isoformat()) for i, t in want]
    assert got == want


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-bucketed tables join with zero Exchange operators: the layout
    carries the partitioning, so the join is bucket-local (the 100 TB
    co-located-join story write_bucketed exists for)."""
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import write_bucketed

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") + 7).alias("b")
    )
    write_bucketed(left, "bkt_left", ["k"], 4, sort_cols=["k"], path=str(tmp_path / "l"))
    write_bucketed(right, "bkt_right", ["k"], 4, sort_cols=["k"], path=str(tmp_path / "r"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 500
            # same result as the shuffled join over the raw frames
            assert joined.agg(F.sum("a"), F.sum("b")).collect() == left.join(
                right, "k"
            ).agg(F.sum("a"), F.sum("b")).collect()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_bucketed_agg_no_shuffle(spark, tmp_path):
    """groupBy on the bucket key also skips its Exchange."""
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import write_bucketed

    df = spark.range(0, 1000).select((F.col("id") % 50).alias("k"), F.col("id").alias("v"))
    write_bucketed(df, "bkt_agg", ["k"], 4, path=str(tmp_path / "a"))
    try:
        agg = spark.table("bkt_agg").groupBy("k").agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_agg")


def test_write_sorted_global_order(spark, tmp_path):
    """write_sorted: files hold disjoint contiguous ranges, each internally
    sorted -> concatenating files in range order is a global sort, with no
    single-reducer stage."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import write_sorted

    df = spark.range(0, 10000).select(
        (F.xxhash64("id") % 10000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "sorted")
    write_sorted(df, out, ["k"], num_files=8)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) > 1
    ranges = []
    for f in files:
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        if not ks:
            continue
        assert ks == sorted(ks), f  # within-file sorted
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint contiguous ranges across files


def test_file_stats_pruned_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        build_file_stats,
        read_pruned,
        write_sorted,
    )

    path = str(tmp_path / "sorted")
    df = spark.range(1000).select(F.col("id").alias("v"), (F.col("id") % 7).alias("tag"))
    write_sorted(df, path, ["v"], num_files=8)
    stats = build_file_stats(spark, path, ["v"])
    assert stats.count() == 8
    got = read_pruned(spark, path, stats, {"v": (100, 150)})
    rows = sorted(r["v"] for r in got.collect())
    assert rows == list(range(100, 151))
    # the scan touched a strict subset of the files (range-sorted layout)
    scanned = {r[0] for r in got.select(F.input_file_name()).distinct().collect()}
    assert 0 < len(scanned) < 8
    # open-ended range and schema-preserving empty result
    assert read_pruned(spark, path, stats, {"v": (990, None)}).count() == 10
    empty = read_pruned(spark, path, stats, {"v": (5000, 6000)})
    assert empty.count() == 0 and empty.columns == ["v", "tag"]


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.functions.zorder import write_zordered
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        build_file_stats,
        read_pruned,
        write_sorted,
    )

    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    write_zordered(grid, zpath, ["x", "y"], bits=6, num_files=16)
    write_sorted(grid, lpath, ["x"], num_files=16)
    zstats = build_file_stats(spark, zpath, ["x", "y"])
    lstats = build_file_stats(spark, lpath, ["x", "y"])
    box = {"x": (0, 63), "y": (0, 7)}  # wide in x, narrow in y

    def n_files(path, stats):
        out = read_pruned(spark, path, stats, box)
        assert out.count() == 64 * 8  # exact box rows either way
        return out.select(F.input_file_name()).distinct().count()

    z_files, l_files = n_files(zpath, zstats), n_files(lpath, lstats)
    # x-sorted layout: every file spans the full y range -> nothing pruned
    assert l_files == 16
    # z-order: files are tight in BOTH dims -> the y-narrow box skips most
    assert z_files <= 4, (z_files, l_files)


def test_bucketed_lineitem_orders_recipe(spark, sf_dir, tmp_path):
    """The demonstrated 100 TB bucketing recipe on the REAL workload join
    (r3 VERDICT item 8): lineitem and orders co-bucketed on the order key
    make the revenue join + per-order aggregation fully exchange-free,
    with values identical to the shuffled plan over the raw parquet."""
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.sources import read_table
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import write_bucketed

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    write_bucketed(
        li, "bkt_lineitem", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=str(tmp_path / "li"),
    )
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "bkt_orders", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=str(tmp_path / "ord"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # exact decimal lattice (house dsum convention): double summation
        # is addition-order-dependent, and the two plans aggregate in
        # different orders by design
        net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
        bucketed = (
            spark.table("bkt_lineitem")
            .join(spark.table("bkt_orders"), "l_orderkey")
            .groupBy("l_orderkey", "o_orderstatus")
            .agg(F.sum(net).alias("REV"))
        )
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        # join AND the per-order-key aggregation are bucket-local
        assert "Exchange" not in plan, plan
        shuffled = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_orderkey", "o_orderstatus")
            .agg(F.sum(net).alias("REV"))
        )
        got = {(r["l_orderkey"], r["o_orderstatus"]): r["REV"] for r in bucketed.collect()}
        exp = {(r["l_orderkey"], r["o_orderstatus"]): r["REV"] for r in shuffled.collect()}
        assert got == exp and len(got) > 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_write_jsonl_sharded_roundtrip(spark, sf_dir, tmp_path):
    """Training-data JSONL export: JVM-side serialization, byte-balanced
    shards, per-file gzip, lossless read-back through spark.read.json."""
    import glob

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import write_jsonl_sharded

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "export")
    n = write_jsonl_sharded(docs, out, approx_shard_bytes=16 * 1024)
    assert n >= 2  # sf0.001 docs serialize past 32 KiB -> multiple shards
    files = glob.glob(f"{out}/part-*.gz")
    assert len(files) == n  # one gzip file per planned shard
    back = spark.read.json(out)
    assert back.count() == docs.count()
    want = {(r["doc_id"], r["lang"], r["n_chars"]) for r in docs.collect()}
    got = {(r["doc_id"], r["lang"], r["n_chars"]) for r in back.collect()}
    assert got == want


def test_write_jsonl_sharded_record_cap(spark, sf_dir, tmp_path):
    """maxRecordsPerFile path: no shuffle, every shard under the cap."""
    import glob
    import gzip

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import write_jsonl_sharded

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang").coalesce(1)
    out = str(tmp_path / "export_cap")
    n = write_jsonl_sharded(docs, out, max_records_per_shard=100)
    assert n == 0  # no repartition planned
    for f in glob.glob(f"{out}/part-*.gz"):
        with gzip.open(f, "rt") as fh:
            assert sum(1 for _ in fh) <= 100


def test_parse_byte_size_suffixes():
    """Size confs arrive as raw user strings ('64MB', '128m'); the spread
    floor must parse them instead of crashing every read (round-6 ADVICE)."""
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import _parse_byte_size

    assert _parse_byte_size("134217728") == 134217728
    assert _parse_byte_size("134217728b") == 134217728
    assert _parse_byte_size("64MB") == 64 << 20
    assert _parse_byte_size("128m") == 128 << 20
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("512k") == 512 << 10
    # unparseable input falls back to Spark's 128 MB default, never raises
    assert _parse_byte_size("garbage") == 134217728
    assert _parse_byte_size("") == 134217728


def test_spread_survives_suffixed_conf(spark, sf_dir):
    """read_table must work when the user set maxPartitionBytes with a
    size suffix -- the exact repro from the round-5 advice."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64MB")
        df = read_table(spark, sf_dir, "events")
        assert df.limit(1).count() == 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# --- round-6b: Z-order clustering layout ------------------------------------


def test_zorder_key_corners(spark):
    from aws_glue_cdc_metrics_job_spark.functions.zorder import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (255, 255), (0, 255), (255, 0), (1, 0), (0, 1)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_key(["a", "b"], [(0, 255), (0, 255)], bits=8).alias("z")
        ).collect()
    }
    # interleaved bits: a owns the odd (higher) positions, b the even
    assert got[(0, 0)] == 0
    assert got[(255, 255)] == 65535
    assert got[(255, 0)] == 43690  # 0b1010...10
    assert got[(0, 255)] == 21845  # 0b0101...01
    assert got[(1, 0)] == 2 and got[(0, 1)] == 1


def test_zorder_out_of_range_clamps_and_replays(spark):
    """Out-of-bounds values clamp to the lattice ends (ADVICE r6): above-hi
    must sort to the TOP (not alias modulo 2^bits back to 0) and below-lo to
    the bottom, and the key must replay bit-identically in DuckDB even for
    negative normalized values (where unclamped DIV/truncate vs //-floor
    would diverge)."""
    import duckdb

    from aws_glue_cdc_metrics_job_spark.functions.zorder import zorder_key, zorder_sql

    rows = [(-50, 10), (0, 10), (255, 10), (400, 10), (999, 10), (-1, 10)]
    df = spark.createDataFrame(rows, "a long, b long")
    key = zorder_key(["a", "b"], [(0, 255), (0, 255)], bits=8)
    got = {r["a"]: r["z"] for r in df.select("a", key.alias("z")).collect()}
    # below-lo clamps to a=0's key; above-hi clamps to a=255's key
    assert got[-50] == got[0] == got[-1]
    assert got[400] == got[255] == got[999]
    sql = zorder_sql(["a", "b"], [(0, 255), (0, 255)], bits=8, div="//")
    con = duckdb.connect()
    want = {
        a: z
        for a, z in con.execute(
            f"SELECT a, {sql} FROM (VALUES {', '.join(map(str, rows))}) t(a, b)"
        ).fetchall()
    }
    assert got == want


def test_zorder_constant_dimension_and_validation(spark):
    from aws_glue_cdc_metrics_job_spark.functions.zorder import add_zorder_key

    # a constant dimension normalizes to 0 everywhere instead of dividing
    # by zero
    df = spark.createDataFrame([(5, i) for i in range(4)], "a long, b long")
    rows = add_zorder_key(df, ["a", "b"], bits=4).collect()
    # constant a contributes 0 at every odd bit position; b in 0..3
    # normalizes onto {0, 5, 10, 15}, spread across the even positions
    assert {r["ZKEY"] for r in rows} == {0, 17, 68, 85}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        add_zorder_key(df, [], bits=8)
    with _pytest.raises(ValueError):
        add_zorder_key(df, ["a", "b"], bits=32)  # 64 bits > signed ceiling


# --- round 7: manifest-versioned tables (snapshot isolation + time travel) --


def test_versioned_table_time_travel_and_vacuum(spark, tmp_path):
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        read_version,
        table_versions,
        vacuum_versions,
        versioned_write,
    )

    path = str(tmp_path / "vt")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    df3 = spark.createDataFrame([(9, "z")], "k long, v string")

    assert versioned_write(df1, path) == 1
    assert versioned_write(df2, path) == 2          # append
    assert versioned_write(df3, path, mode="overwrite") == 3  # logical replace
    assert table_versions(path) == [1, 2, 3]

    # time travel: every version returns exactly its commit-time rows
    assert sorted(r["k"] for r in read_version(spark, path, 1).collect()) == [1, 2]
    assert sorted(r["k"] for r in read_version(spark, path, 2).collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in read_version(spark, path).collect()) == [9]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_version(spark, path, 7)
    with _pytest.raises(ValueError):
        versioned_write(df1, path, mode="upsert")

    # vacuum keeps the last version readable and drops unreferenced dirs
    removed = vacuum_versions(path, keep_last=1)
    assert sorted(removed) == ["data/v00001", "data/v00002"]
    assert table_versions(path) == [3]
    assert sorted(r["k"] for r in read_version(spark, path).collect()) == [9]
    with _pytest.raises(ValueError):
        read_version(spark, path, 1)
    with _pytest.raises(ValueError):
        vacuum_versions(path, keep_last=0)


def test_versioned_table_append_shares_files(spark, tmp_path):
    """Appends never rewrite earlier data: v2's manifest references v1's
    directory, and the commit is the manifest file alone."""
    import json
    import os

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import versioned_write

    path = str(tmp_path / "vt2")
    versioned_write(spark.range(5), path)
    v1_files = {
        (d, fn)
        for d, _, fns in os.walk(os.path.join(path, "data", "v00001"))
        for fn in fns
    }
    versioned_write(spark.range(5, 8), path)
    v1_after = {
        (d, fn)
        for d, _, fns in os.walk(os.path.join(path, "data", "v00001"))
        for fn in fns
    }
    assert v1_files == v1_after
    with open(os.path.join(path, "_manifests", "v00002.json")) as fh:
        assert json.load(fh)["dirs"] == ["data/v00001", "data/v00002"]


def test_write_zordered_bounds_every_dimension(spark, tmp_path):
    """The layout claim, measured: on a 64x64 grid cut into 16 files, a
    Z-ordered write bounds BOTH dimensions per file (quadrant-ish
    rectangles), while a linear sort on x leaves each file spanning the
    full y range -- so min/max pruning on y skips nothing."""
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.functions.zorder import write_zordered

    grid = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    )
    zdir = str(tmp_path / "zorder")
    write_zordered(grid, zdir, ["x", "y"], bits=6, num_files=16)
    spans = (
        spark.read.parquet(zdir)
        .groupBy(F.input_file_name().alias("f"))
        .agg((F.max("y") - F.min("y")).alias("ys"), (F.max("x") - F.min("x")).alias("xs"))
        .collect()
    )
    assert len(spans) == 16
    # ideal quadrant span is 15; range-partition boundary sampling can
    # smear one quadrant into a neighbor, never past half the domain
    assert max(r["ys"] for r in spans) <= 32
    assert max(r["xs"] for r in spans) <= 32

    ldir = str(tmp_path / "linear")
    (
        grid.repartitionByRange(16, "x")
        .sortWithinPartitions("x", "y")
        .write.mode("overwrite")
        .parquet(ldir)
    )
    lin = (
        spark.read.parquet(ldir)
        .groupBy(F.input_file_name().alias("f"))
        .agg((F.max("y") - F.min("y")).alias("ys"))
        .collect()
    )
    assert max(r["ys"] for r in lin) == 63  # linear layout: y unbounded per file


def test_versioned_batch_replay_survives_vacuum(spark, tmp_path):
    """ADVICE r7: committed batch_ids live in a sidecar that vacuum never
    drops -- a delayed foreachBatch replay of a batch whose MANIFEST was
    vacuumed must still be a no-op (the old per-manifest dedup scan
    re-appended it, silently double-counting)."""
    import json
    import os

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        read_version,
        vacuum_versions,
        versioned_write,
    )

    path = str(tmp_path / "vt3")
    assert versioned_write(spark.range(5), path, batch_id=0) == 1
    assert versioned_write(spark.range(5, 8), path, batch_id=1) == 2
    # vacuum away batch 0's manifest; only v2 remains readable
    vacuum_versions(path, keep_last=1)
    assert not os.path.exists(os.path.join(path, "_manifests", "v00001.json"))
    # delayed replay of the vacuumed batch: MUST be a no-op returning v1
    assert versioned_write(spark.range(5), path, batch_id=0) == 1
    assert read_version(spark, path).count() == 8  # not 13
    # replay of the surviving batch is a no-op too
    assert versioned_write(spark.range(5, 8), path, batch_id=1) == 2
    # the sidecar is compact and carries both batches past the vacuum
    with open(os.path.join(path, "_manifests", "_batches.json")) as fh:
        side = json.load(fh)
    assert side["batches"] == {"0": 1, "1": 2}


def test_versioned_batch_sidecar_adopts_presidecar_tables(spark, tmp_path):
    """Crash-window/adoption sweep: a table whose manifests carry
    batch_ids but whose sidecar is missing (pre-sidecar layout, or a crash
    between the manifest rename and the sidecar update) is folded into the
    sidecar on the next commit, and dedup still holds."""
    import os

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        _load_batches,
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "vt4")
    versioned_write(spark.range(3), path, batch_id=7)
    os.remove(os.path.join(path, "_manifests", "_batches.json"))  # simulate crash
    # replay of batch 7 with no sidecar: the unseen-manifest sweep finds it
    assert versioned_write(spark.range(3), path, batch_id=7) == 1
    assert read_version(spark, path).count() == 3
    side = _load_batches(path)
    assert side["batches"] == {"7": 1} and side["horizon"] == 1


def test_versioned_vacuum_folds_unabsorbed_batches(spark, tmp_path):
    """Crash between a manifest rename and the sidecar update, THEN a
    batchless commit (which never sweeps), THEN vacuum: the dropped
    manifest's batch_id must be folded into the sidecar by vacuum itself,
    or the delayed replay double-appends (code-review r8 finding)."""
    import os

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        _load_batches,
        read_version,
        vacuum_versions,
        versioned_write,
    )

    path = str(tmp_path / "vt5")
    versioned_write(spark.range(4), path, batch_id=9)
    os.remove(os.path.join(path, "_manifests", "_batches.json"))  # crash window
    versioned_write(spark.range(4, 6), path)  # batch_id=None: no sweep
    vacuum_versions(path, keep_last=1)  # drops v1 (the batch-9 manifest)
    side = _load_batches(path)
    assert side["batches"] == {"9": 1}
    # delayed replay of batch 9: no-op, no double count
    assert versioned_write(spark.range(4), path, batch_id=9) == 1
    assert read_version(spark, path).count() == 6


def test_compact_table_lifecycle(spark, tmp_path):
    """compact_table (lakehouse OPTIMIZE): the compacted version reads the
    same rows from ONE directory, earlier versions stay time-travelable
    over their original files, and vacuum then reclaims every directory
    only superseded versions referenced."""
    import json
    import os

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        compact_table,
        read_version,
        vacuum_versions,
        versioned_write,
    )

    path = str(tmp_path / "vt6")
    versioned_write(spark.range(5), path)
    versioned_write(spark.range(5, 9), path)
    assert compact_table(spark, path) == 3
    with open(os.path.join(path, "_manifests", "v00003.json")) as fh:
        assert json.load(fh)["dirs"] == ["data/v00003"]  # one directory
    assert sorted(r["id"] for r in read_version(spark, path).collect()) == list(range(9))
    # earlier versions still travel
    assert read_version(spark, path, 1).count() == 5
    assert read_version(spark, path, 2).count() == 9
    # vacuum reclaims the superseded delivery dirs, keeps the compacted one
    removed = vacuum_versions(path, keep_last=1)
    assert sorted(removed) == ["data/v00001", "data/v00002"]
    assert sorted(r["id"] for r in read_version(spark, path).collect()) == list(range(9))


def test_delete_where_prunes_untouched_directories(spark, tmp_path):
    """DELETE rewrites only directories containing matches: the first
    delivery's directory stays referenced as-is in the new manifest, and
    every earlier version time-travels over its original files."""
    import json

    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        _manifest_dir,
        delete_where,
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "t")
    versioned_write(spark.range(0, 5), path)  # v1: ids 0-4
    versioned_write(spark.range(100, 105), path)  # v2 append: ids 100-104
    v = delete_where(spark, path, F.col("id") >= 103)
    assert v == 3
    with open(os.path.join(_manifest_dir(path), "v00003.json")) as fh:
        dirs = json.load(fh)["dirs"]
    assert "data/v00001" in dirs  # untouched delivery shared, not rewritten
    assert "data/v00002" not in dirs  # matched delivery replaced
    assert "data/v00003" in dirs and len(dirs) == 2
    assert sorted(r["id"] for r in read_version(spark, path, 3).collect()) == [
        0, 1, 2, 3, 4, 100, 101, 102,
    ]
    # time travel intact
    assert read_version(spark, path, 2).count() == 10
    assert read_version(spark, path, 1).count() == 5


def test_delete_where_no_match_and_null_semantics(spark, tmp_path):
    """A predicate matching nothing commits no version; NULL-predicate
    rows are KEPT (SQL DELETE deletes only where the condition is TRUE)."""
    from pyspark.sql import functions as F

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        delete_where,
        read_version,
        table_versions,
        versioned_write,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 99.0)], "id long, score double"
    )
    versioned_write(df, path)
    assert delete_where(spark, path, F.col("score") > 1000) == 1  # no-op
    assert table_versions(path) == [1]
    assert delete_where(spark, path, F.col("score") > 50) == 2
    kept = sorted(
        (r["id"], r["score"]) for r in read_version(spark, path, 2).collect()
    )
    assert kept == [(1, 10.0), (2, None)]  # NULL row survives


def test_delete_where_accepts_sql_string(spark, tmp_path):
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        delete_where,
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "t")
    versioned_write(spark.range(10), path)
    assert delete_where(spark, path, "id % 2 = 0") == 2
    assert sorted(r["id"] for r in read_version(spark, path).collect()) == [1, 3, 5, 7, 9]


def test_merge_into_updates_inserts_and_prunes(spark, tmp_path):
    """MERGE replaces matched rows, appends unmatched source rows, and
    rewrites only directories containing matched keys."""
    import json

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        _manifest_dir,
        merge_into,
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "t")
    versioned_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), path
    )
    versioned_write(
        spark.createDataFrame([(10, "x"), (11, "y")], "id long, v string"), path
    )
    src = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    assert merge_into(spark, src, path, on=["id"]) == 3
    with open(os.path.join(_manifest_dir(path), "v00003.json")) as fh:
        dirs = json.load(fh)["dirs"]
    assert "data/v00002" in dirs and "data/v00001" not in dirs  # pruning
    got = sorted((r["id"], r["v"]) for r in read_version(spark, path, 3).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c"), (10, "x"), (11, "y")]
    assert read_version(spark, path, 1).count() == 2  # time travel intact


def test_merge_into_insert_only_keeps_every_directory(spark, tmp_path):
    """A source with no matching keys rewrites nothing: every existing
    directory stays referenced, the source lands in one new directory."""
    import json

    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        _manifest_dir,
        merge_into,
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "t")
    versioned_write(spark.range(3), path)
    src = spark.createDataFrame([(7,), (8,)], "id long")
    assert merge_into(spark, src, path, on=["id"]) == 2
    with open(os.path.join(_manifest_dir(path), "v00002.json")) as fh:
        dirs = json.load(fh)["dirs"]
    assert "data/v00001" in dirs and len(dirs) == 2
    assert sorted(r["id"] for r in read_version(spark, path).collect()) == [0, 1, 2, 7, 8]


def test_merge_into_empty_source_is_noop(spark, tmp_path):
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        merge_into,
        table_versions,
        versioned_write,
    )

    path = str(tmp_path / "t")
    versioned_write(spark.range(3), path)
    empty = spark.range(1).filter("id < 0")
    assert merge_into(spark, empty, path, on=["id"]) == 1
    assert table_versions(path) == [1]


def test_read_version_merge_schema_evolution(spark, tmp_path):
    """An appended delivery with a NEW column: merge_schema surfaces it
    (NULL for old rows); the default read and old versions keep the
    narrow schema."""
    from aws_glue_cdc_metrics_job_spark.sources.parquet_io import (
        read_version,
        versioned_write,
    )

    path = str(tmp_path / "t")
    versioned_write(
        spark.createDataFrame([(1, "a")], "id long, v string"), path
    )
    versioned_write(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, w double"), path
    )
    v1 = read_version(spark, path, 1)
    assert "w" not in v1.columns
    merged = read_version(spark, path, 2, merge_schema=True)
    assert "w" in merged.columns
    got = {r["id"]: r["w"] for r in merged.collect()}
    assert got == {1: None, 2: 9.5}
