"""Structured-Streaming validation: continuous contract checks on a stream.

The reference drains Kafka as a batch (SURVEY.md §1.2) — this module is the
Spark-native upgrade: the same contract predicates compiled by the batch
engine run as a streaming aggregation with watermarked event-time windows,
so violation counts and freshness are monitored continuously instead of at
test time.

- ``streaming_check_counts``: per tumbling window, row count + one violation
  count per agg-able CheckSpec (missing/invalid) — the row predicates of
  the metric plan (``engine/metric_plan.py``), so a window counts exactly
  what ``test()`` counts. Late data handled by the watermark; output mode
  "update"/"append" both work.
- ``streaming_freshness``: max event-time per window → age at processing.
- ``run_batch_smoke``: drives a bounded file stream to completion through a
  memory sink (how the tests exercise the streaming plan end-to-end).
- ``sessionize_stateful``: session windows via the built-in
  ``session_window`` (gap-based), the stateful-operator path.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec
from datacontract_cli_spark.engine.metric_plan import (
    ROW_LEVEL,
    count_columns,
    plan_metrics,
)


def streaming_check_counts(
    stream: DataFrame,
    specs: List[CheckSpec],
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed violation counts for the agg-able specs of one model.

    One streaming aggregation carries ALL checks (the streaming analogue of
    the batch engine's single ``df.agg``); state is one row per window."""
    metrics = plan_metrics(stream, specs, alias="{key}", metrics=ROW_LEVEL)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count(F.lit(1)).alias("row_count"), *count_columns(metrics))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "*")
        .drop("w")
    )


def streaming_psi(stream: DataFrame, column: str, baseline: dict,
                  ts_col: str = "ts", window: str = "5 minutes",
                  watermark: str = "10 minutes",
                  digits: int = 6) -> DataFrame:
    """Per-window PSI of a categorical column against a fixed baseline —
    continuous distribution-drift monitoring (the streaming analogue of
    ``drift.psi_df``).

    Streaming allows ONE aggregation per query, so the per-category
    frequencies come from count-ifs over the (known, finite) baseline keys
    inside a single windowed agg, and the PSI fold is post-agg Column math:
    state stays one row per window regardless of stream volume. Mass
    observed outside the baseline keys contributes its own term (an
    epsilon-floored "other" category — new categories RAISE the score, the
    property a drift alarm needs)."""
    from datacontract_cli_spark.operators.drift import _EPS

    keys = list(baseline)
    exprs = [F.count(F.lit(1)).alias("__n__")]
    for i, k in enumerate(keys):
        exprs.append(F.sum(F.when(F.col(column) == F.lit(k), 1).otherwise(0))
                     .alias(f"__c_{i}__"))
    agg = (stream.withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*exprs))

    n = F.col("__n__")
    eps = F.lit(_EPS)
    terms = []
    known = F.lit(0)
    for i, k in enumerate(keys):
        a = F.greatest(F.col(f"__c_{i}__") / n, eps)
        b = F.greatest(F.lit(float(baseline[k])), eps)
        terms.append((a - b) * F.log(a / b))
        known = known + F.col(f"__c_{i}__")
    other = F.greatest((n - known) / n, eps)
    terms.append((other - eps) * F.log(other / eps))
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        n.alias("row_count"),
        F.round(psi, digits).alias("psi"))


def streaming_jsd(stream: DataFrame, column: str, baseline: dict,
                  ts_col: str = "ts", window: str = "5 minutes",
                  watermark: str = "10 minutes",
                  digits: int = 6) -> DataFrame:
    """Per-window Jensen-Shannon divergence (base-2, [0,1]) against a fixed
    baseline — the bounded, symmetric companion of :func:`streaming_psi`
    for alerting thresholds that must not depend on an epsilon floor. Same
    single-aggregation shape: count-ifs over the known baseline keys, the
    JSD fold as post-agg Column math (0·log0 ≡ 0 via when-guards; mass
    outside the baseline keys forms an "other" category whose q=0 side
    contributes p·log2(2) — new categories raise the score, capped at 1)."""
    keys = list(baseline)
    exprs = [F.count(F.lit(1)).alias("__n__")]
    for i, k in enumerate(keys):
        exprs.append(F.sum(F.when(F.col(column) == F.lit(k), 1).otherwise(0))
                     .alias(f"__c_{i}__"))
    agg = (stream.withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*exprs))

    n = F.col("__n__")
    terms = []
    known = F.lit(0)
    for i, k in enumerate(keys):
        p = F.col(f"__c_{i}__") / n
        q = F.lit(float(baseline[k]))
        m = (p + q) / 2
        terms.append(F.when(p > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
                     + F.when(q > 0, q * F.log2(q / m)).otherwise(F.lit(0.0)))
        known = known + F.col(f"__c_{i}__")
    other_p = (n - known) / n
    terms.append(F.when(other_p > 0, other_p * F.log2(F.lit(2.0)))
                 .otherwise(F.lit(0.0)))
    jsd = terms[0]
    for t in terms[1:]:
        jsd = jsd + t
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        n.alias("row_count"),
        F.round(jsd / 2, digits).alias("jsd"))


def streaming_freshness(stream: DataFrame, ts_col: str = "ts",
                        window: str = "1 minute",
                        watermark: str = "5 minutes") -> DataFrame:
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.max(ts_col).alias("max_ts"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("window_end"), "max_ts", "n")
    )


def sessionize_stateful(stream: DataFrame, key_col: str = "user_id",
                        ts_col: str = "ts", gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows (built-in stateful operator)."""
    return (
        stream.withWatermark(ts_col, gap)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(key_col, F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"), "n_events")
    )


def run_batch_smoke(spark, source_parquet: str, build_query, name: str = "stream_out",
                    schema=None) -> DataFrame:
    """Drive a bounded parquet-backed stream through ``build_query`` to
    completion via a memory sink; returns the collected result table."""
    import os

    if schema is None:
        schema = spark.read.parquet(source_parquet).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "8")
    if os.path.isfile(source_parquet):
        # the file stream source requires a DIRECTORY; a single-file input
        # streams via its parent dir + a glob filter on the file name
        reader = reader.option("pathGlobFilter", os.path.basename(source_parquet))
        source_parquet = os.path.dirname(source_parquet)
    stream = reader.parquet(source_parquet)
    out = build_query(stream)
    q = out.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_dedup(
    stream: DataFrame,
    key_cols: List[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-by-key streaming deduplication: keep the first arrival
    of each key within the watermark horizon
    (``dropDuplicatesWithinWatermark``: state for a key is dropped once the
    watermark passes it, so state size is bounded by the late-data horizon —
    the production shape for at-least-once sources like Kafka, where
    re-delivered records must not double-count downstream).

    Spark-native upgrade lane: the reference's batch engine can only dedup
    what it re-reads; this keeps the duplicate_count-checked invariant true
    CONTINUOUSLY on the write path."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def streaming_dedup_counts(
    stream: DataFrame,
    key_cols: List[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Per-window surviving-row counts after streaming dedup — the
    monitoring companion: comparing this against the raw input count per
    window gives the duplicate rate of the stream."""
    deduped = streaming_dedup(stream, key_cols, ts_col, watermark)
    return (
        deduped.groupBy(F.window(ts_col, window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .select(F.col("w.start").alias("window_start"), "n_unique")
    )
