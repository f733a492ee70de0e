"""Structured Streaming forms of the engine's incremental operators.

The reference is strictly micro-batch -- it re-implements watermarking,
late/duplicate handling and tumbling windows by hand over Glue jobs
(SURVEY.md §2.9). These are the true streaming equivalents, so the same
pipeline semantics can run continuously:

- C1 high-watermark ingest  -> ``readStream`` + ``withWatermark``
- C4 late/duplicate dropping -> ``dropDuplicatesWithinWatermark``
- C5 tumbling rollups        -> windowed groupBy with event-time watermark
- C2/MERGE                   -> ``foreachBatch`` applying the batch
                               ``cdc.apply_changes`` upsert per micro-batch
- sessionization             -> native ``session_window`` or an
                               ``applyInPandasWithState`` custom operator

Scale notes: state stores back all of these; watermarks bound state size
(without one, a streaming aggregation keeps every window forever). The
foreachBatch upsert rewrites the snapshot per batch -- at real scale swap
the overwrite for a partition-pruned MERGE on a table format, keeping the
same ``apply_changes`` plan. Tests drive each with file sources and
``trigger(availableNow=True)`` and assert parity with the batch operators.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def read_event_stream(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """File-source event stream (one parquet dir fed incrementally).
    Streaming file sources require an explicit schema -- no inference race."""
    return spark.readStream.schema(schema).parquet(path)


def tumbling_aggregate(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
    aggs: list | None = None,
    slide: str | None = None,
) -> DataFrame:
    """C5 as a real streaming window: event-time windowed aggregation with a
    lateness watermark bounding state. Output columns mirror the batch
    events_tumbling_* queries (WINDOW_START + aggregates).

    ``slide`` turns the tumbling window into a HOPPING one (window length
    ``window``, advancing every ``slide``): each event lands in
    window/slide overlapping windows -- the streaming trailing-metrics
    primitive ("6h totals refreshed every 3h"). State grows by the same
    factor; the watermark still expires every window whose end passes."""
    aggs = aggs or [F.count(F.lit(1)).alias("N_EVENTS"), F.sum("value").alias("TOTAL_VALUE")]
    group_cols = group_cols or []
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    keys = [win.alias("w")] + [F.col(c) for c in group_cols]
    out = stream.withWatermark(ts_col, watermark).groupBy(*keys).agg(*aggs)
    agg_names = [c for c in out.columns if c != "w" and c not in group_cols]
    return out.select(F.col("w.start").alias("WINDOW_START"), *group_cols, *agg_names)


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """C4 as built-in streaming dedup: drops key-duplicates arriving within
    the watermark horizon; state for a key expires once the watermark passes
    it (bounded memory, unlike an unbounded dropDuplicates)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def session_windows(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows (gap-based), the streaming form of the batch
    events_sessionize query."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("N_EVENTS"),
            F.min(ts_col).alias("SESSION_START"),
            F.max(ts_col).alias("SESSION_END"),
        )
        .select(key_col, "SESSION_START", "SESSION_END", "N_EVENTS")
    )


def cdc_upsert_sink(
    changes: DataFrame,
    spark: SparkSession,
    snapshot_path: str,
    pks: list[str],
    checkpoint: str,
):
    """Continuous C2 consumption: apply each micro-batch of tagged changes
    to the snapshot with the batch ``apply_changes`` merge (upsert+delete).
    Returns the started StreamingQuery."""
    from ..operators.cdc import apply_changes
    from ..sources.parquet_io import path_exists, swap_directory

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # Cold start is detected by probing the path, not by swallowing
        # exceptions: a transient read/merge failure must fail the batch (and
        # be retried from the checkpoint) rather than silently overwrite the
        # snapshot with only this batch's rows.
        if path_exists(spark, snapshot_path):
            snap = spark.read.parquet(snapshot_path)
            merged = apply_changes(snap, batch, pks)
        else:
            merged = batch.filter(F.col("cdc_action") != "delete").drop("cdc_action", "cdc_timestamp")
        # The merge reads the same path it overwrites, so materialize to a
        # sibling temp dir first, then swap directories -- never a driver
        # collect. On HDFS the rename is atomic; on object stores swap this
        # sink for a MERGE INTO on a table format, keeping the identical
        # apply_changes plan.
        tmp = f"{snapshot_path.rstrip('/')}.__tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        swap_directory(spark, tmp, snapshot_path)

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_mart_sink(
    changes: DataFrame,
    spark: SparkSession,
    mart_path: str,
    group_keys: list[str],
    sum_cols: list[str],
    checkpoint: str,
    count_col: str = "N_ROWS",
    decimal_scale: int | None = None,
):
    """Continuous incremental view maintenance: each micro-batch of tagged
    changes (``cdc_diff(..., with_old_image=True)`` shape, carrying the
    ``cdc_old`` retraction image) refreshes the persisted SUM/COUNT mart
    via ``incremental_agg_update`` -- the streaming end of the
    maintenance path graded by ``orders_incremental_agg``. The mart is
    touched per batch in O(|batch| + |affected keys|); the fact table is
    never rescanned. Cold start: if the mart path doesn't exist the batch
    must be pure inserts (what cdc_diff against an empty snapshot
    produces); a cold start with updates/deletes means the mart was
    deleted out from under a running pipeline and raises rather than
    seeding a silently-wrong aggregate -- reseed with aggregate_snapshot.
    Same temp-dir + atomic swap discipline as cdc_upsert_sink. Returns
    the started StreamingQuery."""
    from ..operators.cdc import CDC_ACTION
    from ..operators.maintenance import aggregate_snapshot, incremental_agg_update
    from ..sources.parquet_io import path_exists, swap_directory

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if path_exists(spark, mart_path):
            prev_agg = spark.read.parquet(mart_path)
            refreshed = incremental_agg_update(
                prev_agg, batch, group_keys, sum_cols,
                count_col=count_col, decimal_scale=decimal_scale,
            )
        else:
            if not batch.filter(F.col(CDC_ACTION) != "insert").isEmpty():
                raise ValueError(
                    f"cold start at {mart_path} with non-insert changes: "
                    "the mart is missing mid-stream; reseed it with "
                    "aggregate_snapshot before resuming"
                )
            refreshed = aggregate_snapshot(
                batch.drop(CDC_ACTION, "cdc_old"), group_keys, sum_cols,
                count_col=count_col, decimal_scale=decimal_scale,
            )
        tmp = f"{mart_path.rstrip('/')}.__tmp-{batch_id}"
        refreshed.write.mode("overwrite").parquet(tmp)
        swap_directory(spark, tmp, mart_path)

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


RUNNING_TOTAL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("TOTAL", T.DoubleType()),
        T.StructField("N", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("total", T.DoubleType()), T.StructField("n", T.LongType())]
)


def stateful_running_total(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running sum/count surviving across micro-batches -- the pattern for
    operators Spark's built-in aggregations can't express (the engine's
    escape hatch per the build rules: Pandas-UDF-backed state, Arrow
    transfer, explicit state schema)."""

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf[value_col].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame({"user_id": [key[0]], "TOTAL": [total], "N": [n]})

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTAL_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def decontaminate_sink(
    doc_stream: DataFrame,
    benchmark: DataFrame,
    clean_path: str,
    checkpoint: str,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Ingestion-time contamination firewall: per micro-batch, run the SAME
    batch decontamination operator (operators/decontam.decontaminate)
    against the static benchmark set and append only clean documents to the
    corpus zone -- contaminated docs never land, rather than being scrubbed
    later.

    foreachBatch is the right streaming shape here: the operator needs a
    per-document distinct-gram aggregation, which as a direct streaming
    transform would either hold unbounded dedup state or force a stateful
    aggregation mode. Inside foreachBatch each micro-batch is a plain
    bounded DataFrame, the benchmark gram set broadcasts, and -- because
    the exact batch operator is reused -- a batch backfill and the
    streaming firewall can never disagree on what counts as contaminated."""
    from ..operators.decontam import decontaminate

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        flags = decontaminate(batch, benchmark, n=n, id_col=id_col, text_col=text_col)
        clean = batch.join(
            flags.filter(~F.col("CONTAMINATED")).select(id_col), id_col
        )
        clean.write.mode("append").parquet(clean_path)

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def scd2_dimension_sink(
    log_stream: DataFrame,
    spark: SparkSession,
    dim_path: str,
    pks: list[str],
    ts_col: str,
    attr_cols: list[str],
    checkpoint: str,
    order_cols: list[str] | None = None,
):
    """Continuously-maintained Type-2 dimension: each micro-batch of
    change-log rows merges into the persisted history via
    ``scd2_apply_increment`` -- per batch, only the affected keys' open
    versions and the batch rows are touched (operators/scd.py), the
    dimension is never rebuilt. Cold start builds the history from the
    first batch with ``scd2_from_log``. Late rows (at or before a key's
    open VALID_FROM) are dropped by the increment operator, which is the
    same at-least-once replay discipline the rest of the streaming layer
    uses: re-delivered rows cannot rewrite closed history, so batch
    re-processing after a failure is idempotent. Same temp-dir + atomic
    swap as the other sinks. Returns the started StreamingQuery."""
    from ..operators.scd import scd2_apply_increment, scd2_from_log
    from ..sources.parquet_io import path_exists, swap_directory

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        kw = dict(pks=pks, ts_col=ts_col, attr_cols=attr_cols, order_cols=order_cols)
        if path_exists(spark, dim_path):
            dim = spark.read.parquet(dim_path)
            refreshed = scd2_apply_increment(dim, batch, **kw)
        else:
            refreshed = scd2_from_log(batch, **kw)
        tmp = f"{dim_path.rstrip('/')}.__tmp-{batch_id}"
        refreshed.write.mode("overwrite").parquet(tmp)
        swap_directory(spark, tmp, dim_path)

    return (
        log_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def quantile_sketch_sink(
    stream: DataFrame,
    spark: SparkSession,
    zone_path: str,
    group_cols: list[str],
    value_col: str,
    checkpoint: str,
    alpha: float = 0.01,
):
    """Continuous sketch-zone maintenance: each micro-batch is collapsed to
    its per-group DDSketch bin counts (operators/sketches.quantile_sketch)
    and integer-merged into the persisted zone -- the streaming end of the
    events_quantile_sketch_rollup path. Because the merge is exact
    (bin-count sums), the accumulated zone is IDENTICAL to sketching all
    data from raw in one batch, regardless of micro-batch boundaries
    (pinned in tests/test_streaming.py); any date-range percentile is then
    a read of this tiny table. Raw rows are reduced to sketch rows inside
    the batch -- the zone rewrite cost is O(distinct (group, bin)), not
    O(rows). Same temp-dir + atomic swap discipline as the mart sinks.
    Returns the started StreamingQuery."""
    from ..operators.sketches import merge_quantile_sketches, quantile_sketch
    from ..sources.parquet_io import path_exists, swap_directory

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        delta = quantile_sketch(batch, group_cols, value_col, alpha=alpha)
        if path_exists(spark, zone_path):
            prev = spark.read.parquet(zone_path)
            merged = merge_quantile_sketches(prev.unionByName(delta), group_cols)
        else:
            merged = delta
        tmp = f"{zone_path.rstrip('/')}.__tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        swap_directory(spark, tmp, zone_path)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def chunk_encode_sink(
    doc_stream: DataFrame,
    vocab: DataFrame,
    chunks_path: str,
    checkpoint: str,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming retrieval-corpus maintenance: per micro-batch, window new
    documents into overlapping token chunks (text.chunk_documents) and
    encode each chunk against the FROZEN vocabulary
    (text.encode_token_ids), appending to the chunk zone -- the RAG
    ingest path, kept bit-identical to a batch backfill because both
    reuse the same batch operators on a bounded frame.

    foreachBatch, not a streaming transform: chunking explodes rows
    (stateless, fine) but encoding joins the vocab per token -- inside
    foreachBatch that join broadcasts per micro-batch with no streaming
    state at all. The vocabulary must be frozen for the ids to be stable;
    re-training it belongs to a batch job that rewrites the zone."""
    from ..operators.text import chunk_documents, encode_token_ids

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        chunks = chunk_documents(
            batch, chunk_tokens=chunk_tokens, stride=stride, id_col=id_col, text_col=text_col
        ).select(
            F.col(id_col),
            "CHUNK_IDX",
            # composite string key for the encoder's single-column group:
            # collision-free for any id type and any chunk count (an
            # arithmetic doc_id*2^20+idx key would collide past 2^20
            # chunks and NULL out non-numeric ids)
            F.concat_ws("#", F.col(id_col).cast("string"), F.col("CHUNK_IDX")).alias(
                "CHUNK_ID"
            ),
            F.col("CHUNK_TEXT").alias(text_col),
        )
        enc = encode_token_ids(chunks, vocab, id_col="CHUNK_ID", text_col=text_col)
        out = chunks.join(enc, "CHUNK_ID").select(
            id_col, "CHUNK_IDX", F.col(text_col).alias("CHUNK_TEXT"), "TOKEN_IDS", "N_TOKENS"
        )
        out.write.mode("append").parquet(chunks_path)

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def anomaly_alert_sink(
    metric_stream: DataFrame,
    spark: SparkSession,
    series_path: str,
    alerts_path: str,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    n: int = 7,
    z_threshold: float = 2.0,
    checkpoint: str | None = None,
):
    """Streaming control-chart alerting: per micro-batch, append the new
    metric points to the persisted series zone, score ONLY the new points
    against their trailing-n baseline with the SAME batch operator
    (monitoring.rolling_zscore), and append flagged points to the alerts
    zone -- a batch backfill over the final series and the streamed run
    flag identical anomalies.

    Efficiency shape: the series zone is PARTITIONED by batch_id and the
    key columns and the read is filtered with the batch's literal key
    list (metric keys per batch are bounded -- one collect of a tiny
    distinct set), so partition pruning opens only the touched keys'
    files; without the literal filter a semi-join would prune rows but
    still read the whole ever-growing zone every trigger. The alerts
    table stores flagged points only.

    Retry semantics: each micro-batch writes its series delta and its
    alerts delta to a ``batch_id=N`` partition directory with OVERWRITE,
    so a replayed batch rewrites the same directories in place instead of
    appending duplicate metric points (which would permanently skew every
    future trailing-n baseline) or duplicate alerts. Partition-column
    type inference is disabled for the series read-back and key columns
    are filtered on their raw directory strings then cast to the batch
    schema, so keys that look numeric ('01') round-trip exactly."""
    _apply = _anomaly_alert_apply(
        spark, series_path, alerts_path, key_cols, ts_col, value_col, n, z_threshold
    )
    return (
        metric_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint or series_path + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )


def _anomaly_alert_apply(
    spark: SparkSession,
    series_path: str,
    alerts_path: str,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    n: int,
    z_threshold: float,
    max_keys: int = 100_000,
):
    """anomaly_alert_sink's per-batch body, factored out so tests can
    replay a micro-batch with the same batch_id and assert idempotence.

    ``max_keys`` bounds the one driver collect (the batch's distinct
    alert keys, used as a literal partition-pruning filter): metric-key
    cardinality is small by the control-chart contract, so blowing the
    cap means the stream is keyed on something row-like -- raise rather
    than grow the driver without bound. High-cardinality
    keying needs pruning by JOIN against the batch keys instead of a
    literal IN filter.

    The MULTI-column key shape carries its own structural bound: its
    predicate is an OR over per-tuple ANDs -- built as a BALANCED tree
    (depth log N; a left-deep reduce() chain overflows Catalyst's
    recursive transforms in the tens of thousands) and capped at
    min(max_keys, 1000) tuples, because even a balanced literal tree of
    ~100k nodes costs minutes of analysis. Single-column keys compile to
    one InSet and take the full cap."""
    from ..operators.monitoring import rolling_zscore

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # validate the key cardinality BEFORE writing the series delta so
        # an over-cap batch leaves no partial state behind
        cap = max_keys if len(key_cols) == 1 else min(max_keys, 1000)
        keys = [
            tuple(r)
            for r in batch.select(*key_cols).distinct().limit(cap + 1).collect()
        ]
        if len(keys) > cap:
            raise ValueError(
                f"anomaly_alert_sink: batch {batch_id} has more than "
                f"{cap} distinct alert keys {key_cols} -- the literal "
                "partition-pruning filter would collect unboundedly; use a "
                "coarser metric key, or prune the series read by a "
                "broadcast semi-join against the batch keys"
            )
        batch.write.mode("overwrite").partitionBy(*key_cols).parquet(
            f"{series_path}/batch_id={batch_id}"
        )
        # read partition columns as their raw directory strings (no type
        # inference), prune on those strings, then cast back to the batch
        # schema -- inference would corrupt keys like '01' -> 1.
        inf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(inf_key, "true")
        spark.conf.set(inf_key, "false")
        try:
            series = spark.read.parquet(series_path)
        finally:
            spark.conf.set(inf_key, prev)
        if len(key_cols) == 1:
            pred = F.col(key_cols[0]).isin([str(k[0]) for k in keys])
        else:
            from functools import reduce

            def _balanced_or(terms):
                # pairwise fold -> depth log N (a left-deep chain is a
                # recursion-depth bomb for Catalyst at large N)
                while len(terms) > 1:
                    terms = [
                        terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
                        for i in range(0, len(terms), 2)
                    ]
                return terms[0]

            pred = _balanced_or(
                [
                    reduce(
                        lambda x, y: x & y,
                        [F.col(c) == F.lit(str(v)) for c, v in zip(key_cols, k)],
                    )
                    for k in keys
                ]
            )
        btypes = {f.name: f.dataType for f in batch.schema.fields}
        affected = series.filter(pred).select(
            *[
                F.col(c).cast(btypes[c]).alias(c) if c in key_cols else F.col(c)
                for c in batch.columns
            ]
        )
        scored = rolling_zscore(
            affected, key_cols, ts_col, value_col, n=n, z_threshold=z_threshold,
            min_periods=2,
        )
        new_keys = batch.select(*key_cols, ts_col).distinct()
        alerts = scored.filter(F.col("IS_ANOMALY") == 1).join(
            F.broadcast(new_keys), [*key_cols, ts_col], "left_semi"
        )
        alerts.write.mode("overwrite").parquet(f"{alerts_path}/batch_id={batch_id}")

    return _apply


def dedup_ingest_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming exact-dedup ingestion: per micro-batch, admit only
    documents whose content fingerprint is new BOTH within the batch and
    against the persisted index zone (the SAME batch operator,
    dedup.exact_dedup_incremental), append admitted docs to the corpus
    zone and their fingerprints to the index zone -- duplicates never
    land, and a batch backfill replaying the same deliveries admits the
    identical document set (stepwise == combined, the operator's tested
    invariant).

    State is the on-disk index zone, not streaming state: per-batch cost
    is O(|batch| + index probe), the probe reads only the 32-char digest
    column, and at scale the index is a FINGERPRINT-bucketed table so the
    anti-join is co-located. Completes the dedup ladder's streaming end:
    dropDuplicatesWithinWatermark handles event-key dups in the horizon,
    this handles content dups across the corpus lifetime.

    Retry semantics: each micro-batch writes its corpus delta and index
    delta to ``batch_id=N`` partition directories with OVERWRITE. A
    replay after a failure between the two writes recomputes the same
    admitted set (the index zone was not yet extended, so the
    incremental dedup sees identical state) and rewrites both deltas in
    place -- duplicates never land, even across retries. The admitted
    plan is evaluated ONCE: the corpus delta (which keeps the
    FINGERPRINT column as content lineage) is written first, then the
    index delta is projected from the just-written files instead of
    re-running the dedup."""
    _apply = _dedup_ingest_apply(spark, corpus_path, index_path, id_col, text_col)
    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _dedup_ingest_apply(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """dedup_ingest_sink's per-batch body, factored out so tests can
    replay a micro-batch with the same batch_id and assert idempotence."""
    from ..operators.dedup import exact_dedup_incremental
    from ..sources.parquet_io import path_exists

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if path_exists(spark, index_path):
            # exclude THIS batch's own index delta: on a replay after a
            # fully-successful first attempt the zone already holds this
            # batch's fingerprints, and probing them would compute an
            # empty admitted set and overwrite the corpus delta with
            # nothing (partition pruning makes the exclusion free).
            index = (
                spark.read.parquet(index_path)
                .filter(F.col("batch_id") != batch_id)
                .select("FINGERPRINT")
            )
        else:
            index = spark.createDataFrame([], "FINGERPRINT string")
        admitted = exact_dedup_incremental(batch, index, id_col=id_col, text_col=text_col)
        corpus_delta = f"{corpus_path}/batch_id={batch_id}"
        admitted.write.mode("overwrite").parquet(corpus_delta)
        spark.read.parquet(corpus_delta).select("FINGERPRINT").write.mode(
            "overwrite"
        ).parquet(f"{index_path}/batch_id={batch_id}")

    return _apply


def dsir_selection_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    model_path: str,
    selected_path: str,
    checkpoint: str,
    min_log_weight: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
    seed: str = "dsir0",
    portable: bool = True,
):
    """Ingestion-time DSIR selection: score each micro-batch against the
    OFFLINE-trained importance model (text.dsir_model written to
    ``model_path``) and append only target-like documents (LOG_WEIGHT >=
    ``min_log_weight``) with their scores. The production split: the
    model is buckets-row and broadcast per batch, the corpus never
    re-trains online, and -- because text.dsir_score IS the batch
    operator -- a batch backfill and the streaming path cannot disagree.

    Replay discipline: appends carry the batch's ids deterministically,
    so at-least-once replay can duplicate only whole batches; downstream
    exact dedup on (id_col) is the documented consumer contract (the
    same contract as the corpus zone, which is dedup-keyed anyway)."""
    from ..operators.text import dsir_score

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        model = spark.read.parquet(model_path)
        scores = dsir_score(
            batch, model, id_col=id_col, text_col=text_col,
            buckets=buckets, seed=seed, portable=portable,
        )
        keep = scores.filter(F.col("LOG_WEIGHT") >= min_log_weight)
        batch.join(keep, id_col).write.mode("append").parquet(selected_path)

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def k_anonymity_release_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    intake_path: str,
    released_path: str,
    checkpoint: str,
    quasi_cols: list[str],
    id_col: str = "doc_id",
    k: int = 5,
):
    """Streaming k-anonymity release gate: rows are published only once
    their quasi-identifier combination has at least ``k`` members across
    everything published so far plus the rows waiting with them. The
    streaming enforcement half of the batch audit
    (operators/quality.k_anonymity_report): an under-k group is never
    visible in the released zone at any point in time; a row whose group
    is already public releases immediately (k-anonymity is a group-level
    property); waiting rows release later when arrivals heal their group.

    Two append-only zones, NO mutable snapshot: the intake zone is the
    canonical store (every batch lands in ``intake/batch_id=N`` with
    OVERWRITE), the released zone (``released/batch_id=N``, rows released
    AT batch N, possibly quarantined since an earlier batch) is the
    published view, and the quarantine is DERIVED -- intake minus
    released by ``id_col`` (k_anonymity_quarantine exposes it). Because
    every piece of state is an idempotent per-batch directory, a replayed
    micro-batch recomputes bit-identical outputs from bit-identical
    inputs: the probe EXCLUDES the batch's own released delta, the intake
    rewrite is a same-content overwrite, and there is no snapshot whose
    post-swap state could leak into the replay (the flaw a mutable
    quarantine zone has, caught by the replay test).

    Per-batch cost: the released probe reads only (id, quasi) columns and
    the intake probe only its column-pruned projection -- the same
    probe-shape economics as dedup_ingest_sink's index read. ``id_col``
    must be unique across the stream's lifetime (it is the anti-join
    identity). Long-run cost is bounded by :func:`k_anonymity_compact`
    run between stream stops: it drops intake rows already released
    (replay-safe up to last committed batch - 1), so the intake probe
    reads |quarantine| + recent releases, never O(total history) --
    release decisions and quarantine pinned bit-identical across an
    interleaved run/compact/run lifecycle in test_streaming. Returns the
    started StreamingQuery."""
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 releases everything)")
    _apply = _k_anonymity_apply(
        spark, intake_path, released_path, quasi_cols, id_col, k
    )
    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def k_anonymity_quarantine(
    spark: SparkSession, intake_path: str, released_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """The gate's derived quarantine view: intake rows not yet released
    (anti-join on ``id_col``). Inspection/monitoring surface -- the gate
    itself never stores this as a snapshot."""
    from ..sources.parquet_io import path_exists

    intake = spark.read.parquet(intake_path)
    if not path_exists(spark, released_path):
        return intake
    rel = spark.read.parquet(released_path).select(id_col)
    return intake.join(rel, id_col, "left_anti")


def k_anonymity_compact(
    spark: SparkSession,
    intake_path: str,
    released_path: str,
    id_col: str = "doc_id",
    up_to_batch_id: int | None = None,
) -> int:
    """Maintenance compaction for the k-anonymity gate's intake zone: drop
    intake rows already RELEASED at batch ids ≤ ``up_to_batch_id`` (all
    batches when None), rewriting the zone partitioned by ``batch_id`` so
    fully-released batch dirs disappear. This bounds the gate's per-batch
    probe to |quarantine| + the released zone instead of O(total history)
    -- the maintenance job k_anonymity_release_sink's docstring promises.

    Correctness: pending = intake ∖ released is unchanged by removing
    intake rows that ARE in released, and the released-side group counts
    never read intake, so post-compaction release decisions are
    bit-identical (pinned in test_streaming). Replay safety is the ONE
    constraint: a replayed batch B excludes released/batch_id=B from its
    probe and expects B's released rows to still be pending, so only
    compact against batches that can no longer replay -- pass
    ``up_to_batch_id`` = last committed batch - 1 (checkpoints replay at
    most the final uncommitted batch). Run with the stream STOPPED: the
    rewrite is a whole-zone overwrite, not transactional against a
    concurrent micro-batch.

    Returns the number of intake rows dropped."""
    from ..sources.parquet_io import path_exists, swap_directory

    if not path_exists(spark, released_path) or not path_exists(spark, intake_path):
        return 0
    intake = spark.read.option("basePath", intake_path).parquet(intake_path)
    rel = spark.read.parquet(released_path)
    if up_to_batch_id is not None:
        rel = rel.filter(F.col("batch_id") <= up_to_batch_id)
    kept = intake.join(rel.select(id_col), id_col, "left_anti")
    before, after = intake.count(), kept.count()
    if after == before:
        return 0
    # stage the compacted zone, verify, then atomically swap: a crash
    # before the swap leaves the live intake untouched
    staged = intake_path.rstrip("/") + "__compacted"
    kept.write.mode("overwrite").partitionBy("batch_id").parquet(staged)
    if spark.read.option("basePath", staged).parquet(staged).count() != after:
        raise RuntimeError("compaction staging verification failed; intake untouched")
    swap_directory(spark, staged, intake_path)
    return before - after


def _k_anonymity_apply(
    spark: SparkSession,
    intake_path: str,
    released_path: str,
    quasi_cols: list[str],
    id_col: str,
    k: int,
):
    """k_anonymity_release_sink's per-batch body, factored out so tests
    can replay a micro-batch with the same batch_id and assert
    idempotence."""
    from ..sources.parquet_io import path_exists

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch.write.mode("overwrite").parquet(f"{intake_path}/batch_id={batch_id}")
        # read back the just-written delta alongside prior intakes so the
        # pending set is a pure function of durable per-batch dirs
        intake = spark.read.parquet(intake_path).drop("batch_id")
        if path_exists(spark, released_path):
            # exclude THIS batch's own released delta: on a replay after a
            # successful first attempt, counting it would shift decisions
            # and anti-joining on it would erase the pending set
            rel = spark.read.parquet(released_path).filter(
                F.col("batch_id") != batch_id
            )
            pending = intake.join(rel.select(id_col), id_col, "left_anti")
            totals = (
                pending.groupBy(*quasi_cols)
                .agg(F.count(F.lit(1)).alias("__npen"))
                .join(
                    rel.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__nrel")),
                    quasi_cols,
                    "left",
                )
                .select(
                    *quasi_cols,
                    (
                        F.col("__npen") + F.coalesce(F.col("__nrel"), F.lit(0))
                    ).alias("__tot"),
                )
            )
        else:
            pending = intake
            totals = pending.groupBy(*quasi_cols).agg(
                F.count(F.lit(1)).alias("__tot")
            )
        ok = totals.filter(F.col("__tot") >= k).select(*quasi_cols)
        release = pending.join(ok, quasi_cols, "left_semi")
        release.write.mode("overwrite").parquet(
            f"{released_path}/batch_id={batch_id}"
        )

    return _apply


def bloom_prune_sink(
    fact_stream: DataFrame,
    dim: DataFrame,
    out_path: str,
    checkpoint: str,
    fact_key: str,
    dim_key: str,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    seed: str = "bf0",
    portable: bool = False,
):
    """Ingestion-time key-membership gate: append only fact rows whose key
    belongs to the static dim's key set, using the SAME batch Bloom
    operator (operators/bloom.py) per micro-batch -- so a batch backfill
    and the stream can never disagree on membership.

    The filter words and the exact key set are built ONCE from the static
    dim at sink construction and persisted in memory: each micro-batch
    pays k codegen hash probes in its scan stage plus an exact semi-join
    against the cached keys; the (possibly huge) dim is never re-read.
    For cross-job reuse, build with bloom_words + bloom_save and load the
    artifact instead of the dim. False positives are removed by the exact
    join; false negatives cannot happen, so the gate is exact.

    Lifecycle: both cached frames are unpersisted automatically when the
    returned query terminates (a StreamingQueryListener keyed to this
    query's id fires on termination and removes itself), so a finished
    availableNow run leaves no frames pinned in executor memory."""
    from ..operators import bloom as B

    nb = num_bits or B.BLOOM_BITS
    nh = num_hashes or B.BLOOM_HASHES
    words = B.bloom_words(dim, dim_key, nb, nh, seed, portable).persist()
    keys = (
        dim.select(F.col(dim_key).alias(fact_key))
        .where(F.col(fact_key).isNotNull())
        .distinct()
        .persist()
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        pruned = (
            batch.crossJoin(F.broadcast(words))
            .where(B.might_contain(F.col(fact_key), F.col("BF"), nb, nh, seed, portable))
            .drop("BF")
        )
        pruned.join(keys, fact_key, "left_semi").write.mode("append").parquet(out_path)

    query = (
        fact_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

    from pyspark.sql.streaming import StreamingQueryListener

    spark = dim.sparkSession
    query_id = str(query.id)

    class _ReleaseOnTerminate(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if str(event.id) != query_id:
                return
            try:
                words.unpersist()
                keys.unpersist()
            finally:
                spark.streams.removeListener(self)

    spark.streams.addListener(_ReleaseOnTerminate())
    return query


def stream_stream_attribution(
    views: DataFrame,
    conversions: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    within_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """True watermarked STREAM-STREAM inner join (not a foreachBatch
    rewrite): pair each conversion with EVERY prior view by the same key
    within ``within_seconds`` -- all-touch attribution (last-touch is a
    downstream ``max(VIEW_TS) per conversion`` over this output; streaming
    inner joins cannot dedup in-flight without another stateful stage).
    Both sides carry watermarks and the join condition carries the time
    RANGE, which is exactly what lets Structured Streaming bound the join
    state: a buffered view can be dropped once the conversion-side
    watermark passes view.ts + within_seconds, so state is
    O(key-rate x window), never the stream's history. Inner join => no
    emit-on-timeout semantics to reason about; results equal the batch
    interval join over the same data (pinned in test_streaming).

    Returns the joined streaming frame with exactly (KEY, VIEW_TS,
    CONV_TS, LAG_MICROS) -- one row per qualifying (view, conversion)
    pair, other input columns dropped; compose with any sink."""
    v = views.withWatermark(ts_col, watermark).alias("v")
    c = conversions.withWatermark(ts_col, watermark).alias("c")
    cond = (
        (F.col(f"v.{key_col}") == F.col(f"c.{key_col}"))
        & (F.col(f"c.{ts_col}") >= F.col(f"v.{ts_col}"))
        & (
            F.col(f"c.{ts_col}")
            <= F.col(f"v.{ts_col}") + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
        )
    )
    out = v.join(c, cond, "inner").select(
        F.col(f"v.{key_col}").alias("KEY"),
        F.col(f"v.{ts_col}").alias("VIEW_TS"),
        F.col(f"c.{ts_col}").alias("CONV_TS"),
        (
            F.unix_micros(F.col(f"c.{ts_col}")) - F.unix_micros(F.col(f"v.{ts_col}"))
        ).alias("LAG_MICROS"),
    )
    return out


def span_scrub_sink(
    doc_stream: DataFrame,
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
):
    """Streaming substring-scrub ingestion (the Lee-et-al dedup run
    continuously): per micro-batch, detect every span duplicating the
    persisted window-hash index or the batch itself (the SAME batch
    operator, dedup.duplicated_spans_incremental), write the SCRUBBED
    batch (dedup.remove_spans) to the corpus zone, and append the
    ORIGINAL batch's window hashes to the index zone -- original, not
    scrubbed, so boilerplate keeps matching after its first occurrence
    was (by design) admitted verbatim. Completes the dedup ladder's
    streaming end at sub-document granularity: exact doc dedup
    (dedup_ingest_sink) drops whole duplicates, this cuts duplicated
    REGIONS while keeping the novel remainder.

    State is the on-disk index zone (distinct window md5s partitioned by
    batch_id), not streaming state: per-batch cost is tokenize(batch) +
    one hash-keyed probe, the corpus is never re-read. Retry semantics:
    both deltas are pure functions of (batch, index zone minus this
    batch's own delta), so a replay after a failure between the two
    writes recomputes byte-identical deltas and overwrites them in place
    (pinned in tests/test_streaming.py)."""
    _apply = _span_scrub_apply(spark, corpus_path, index_path, id_col, text_col, k)
    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _span_scrub_apply(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
):
    """span_scrub_sink's per-batch body, factored out so tests can replay
    a micro-batch with the same batch_id and assert idempotence."""
    from ..operators.dedup import (
        duplicated_spans_incremental,
        remove_spans,
        substring_hash_index,
    )
    from ..sources.parquet_io import path_exists

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if path_exists(spark, index_path):
            # exclude THIS batch's own index delta: a retry after a
            # fully-successful first attempt would otherwise see its own
            # hashes as "corpus" and scrub every batch document to
            # nothing (partition pruning makes the exclusion free).
            index = (
                spark.read.parquet(index_path)
                .filter(F.col("batch_id") != batch_id)
                .select("WHASH")
            )
        else:
            index = spark.createDataFrame([], "WHASH string")
        spans = duplicated_spans_incremental(
            batch, index, k=k, id_col=id_col, text_col=text_col
        )
        clean = remove_spans(batch, spans, id_col=id_col, text_col=text_col)
        clean.write.mode("overwrite").parquet(f"{corpus_path}/batch_id={batch_id}")
        substring_hash_index(batch, k=k, id_col=id_col, text_col=text_col).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/batch_id={batch_id}")

    return _apply


def versioned_commit_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
):
    """Streaming appends into a manifest-versioned table
    (sources/parquet_io.versioned_write): each micro-batch commits as one
    new table version -- an atomic manifest rename over immutable data
    files -- so downstream readers get SNAPSHOT ISOLATION (a reader never
    sees a half-written batch) and TIME TRAVEL (any historical version
    stays readable until vacuumed; a training run pins the version it
    consumed and is reproducible forever after).

    Exactly-once: the micro-batch's ``batch_id`` rides the manifest, and
    ``versioned_write`` is a no-op for an already-committed batch_id --
    so a foreachBatch replay after a failure anywhere (before, between,
    or after the data write and the manifest rename) lands the batch
    exactly once (pinned in tests/test_streaming.py via direct _apply
    replay). State is the manifest directory (#versions tiny JSONs), not
    streaming state."""
    _apply = _versioned_commit_apply(path)
    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _versioned_commit_apply(path: str):
    """versioned_commit_sink's per-batch body, factored out so tests can
    replay a micro-batch with the same batch_id and assert idempotence."""
    from ..sources.parquet_io import versioned_write

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        versioned_write(batch, path, mode="append", batch_id=int(batch_id))

    return _apply
