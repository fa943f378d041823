"""Per-partition verdicts with lineage + checkpoint/resume (north rule).

The table is split into ``n_buckets`` deterministic work units by hashing a
partition key (conv_id by default — a unit is a stable set of conversations
regardless of file layout). ALL buckets are validated in ONE grouped
aggregation job (``groupBy(bucket).agg(*metric exprs)``) — not a job per
bucket — so the table is still scanned once; the shuffle carries one partial
row per (input partition × bucket).

Every bucket gets a pass/fail verdict per check plus lineage (input path,
row count, timestamp). Verdicts append to a JSON-lines manifest; a re-run
loads the manifest and re-validates ONLY the buckets that are missing
(crash-resume) — the scan is filtered to those buckets before any work
happens. Global metrics fold over bucket metrics by the fold rule of
:mod:`.metric_plan` (counts sum; a duplicate count on keys containing the
partition key is bucket-local, so the sum is exact); the bucket aggregate
and every verdict come from the same plan and evaluator as ``test()``.

Skew: a hot conv_id concentrates in one bucket, but bucket metrics are
plain aggregations (no per-key state), so the only skew surface is the
shuffle partition holding the hot bucket — AQE's skew handling plus the
fact that partial aggregation happens map-side keeps that bounded. Per-
conversation analyses use the salted two-phase pattern in
operators/convchecks.py instead.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
from datacontract_cli_spark.engine.metric_plan import (
    ROW_COUNT_ALIAS,
    ROW_LEVEL,
    aggregates,
    count_columns,
    evaluate,
    fold_sums,
    key_columns,
    plan_metrics,
)
from datacontract_cli_spark.engine.predicates import _q as _qc, resolve_column

_BUCKET = "__dc_bucket__"


@dataclass
class BucketVerdict:
    bucket: int
    row_count: int
    results: Dict[str, str]  # check key -> passed|failed
    metrics: Dict[str, Any]
    lineage: Dict[str, Any]

    def to_json(self) -> str:
        return json.dumps({
            "bucket": self.bucket,
            "row_count": self.row_count,
            "results": self.results,
            "metrics": self.metrics,
            "lineage": self.lineage,
        }, default=str)


class PartitionedValidator:
    """Executes agg-style CheckSpecs per hash bucket of a partition key."""

    def __init__(self, spark, checkpoint_dir: Optional[str] = None,
                 partition_key: str = "conv_id", n_buckets: int = 64):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.partition_key = partition_key
        self.n_buckets = n_buckets

    # -- manifest ------------------------------------------------------------
    def _manifest_path(self, model: str) -> Optional[str]:
        if not self.checkpoint_dir:
            return None
        return os.path.join(self.checkpoint_dir, f"{model}.manifest.jsonl")

    def completed_buckets(self, model: str) -> Dict[int, BucketVerdict]:
        path = self._manifest_path(model)
        out: Dict[int, BucketVerdict] = {}
        if path and os.path.exists(path):
            with open(path, "r", encoding="utf-8") as f:
                for line in f:
                    if not line.strip():
                        continue
                    d = json.loads(line)
                    out[d["bucket"]] = BucketVerdict(
                        d["bucket"], d["row_count"], d["results"], d["metrics"],
                        d.get("lineage", {}),
                    )
        return out

    def _append_manifest(self, model: str, verdicts: List[BucketVerdict]) -> None:
        path = self._manifest_path(model)
        if not path:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a", encoding="utf-8") as f:
            for v in verdicts:
                f.write(v.to_json() + "\n")

    # -- execution -----------------------------------------------------------
    def spec_errors(self, df: DataFrame, specs: List[CheckSpec],
                    model: str) -> Dict[str, str]:
        """Specs that cannot be folded per bucket, with the reason. A
        per-bucket duplicate-group count only sums exactly when rows
        sharing the duplicate key land in one bucket — i.e. the partition
        key is part of the duplicate key. Anything else would silently
        under-count (two equal emails in different conv_id buckets each
        count zero), so it is an error, never a pass."""
        errors: Dict[str, str] = {}
        for spec in specs:
            if spec.metric is not MetricType.DUPLICATE_COUNT:
                continue
            cols = key_columns(spec)
            missing = [c for c in cols if resolve_column(df, c) is None]
            if not cols:
                errors[spec.key] = "duplicate check has no columns"
            elif self.partition_key not in cols:
                errors[spec.key] = (
                    f"uniqueness on {cols} cannot be folded per-bucket "
                    f"when the partition key {self.partition_key!r} is "
                    "not part of the duplicate key — two equal keys in "
                    "different buckets would each count zero; run it "
                    "through test() (the batched lane is exact)")
            elif missing:
                errors[spec.key] = (
                    f"column(s) {missing} not found in model {model}")
        return errors

    def run(self, df: DataFrame, specs: List[CheckSpec], model: str,
            source_path: Optional[str] = None,
            distinct_cols: Optional[List[str]] = None) -> Dict[int, BucketVerdict]:
        """Validate every (remaining) bucket; returns ALL bucket verdicts
        (cached + newly computed).

        ``distinct_cols``: per-bucket MERGEABLE HLL sketches
        (hll_sketch_agg, Apache DataSketches) for these columns are stored
        base64 in the manifest; fold() unions them for a global
        approx-distinct WITHOUT rescanning — the resume-safe way to keep
        table-wide distinct counts while validating incrementally."""
        done = self.completed_buckets(model)
        # a checkpoint built under a DIFFERENT bucketing cannot be merged:
        # changing n_buckets re-hashes rows into other buckets (double
        # counting on grow, stale verdicts on shrink) and a different
        # partition key changes what a bucket even means
        for v in done.values():
            lin = v.lineage or {}
            if (lin.get("n_buckets") not in (None, self.n_buckets)
                    or lin.get("partition_key")
                    not in (None, self.partition_key)):
                raise ValueError(
                    f"checkpoint at {self.checkpoint_dir!r} was built with "
                    f"partition_key={lin.get('partition_key')!r} / "
                    f"n_buckets={lin.get('n_buckets')}, current run uses "
                    f"{self.partition_key!r}/{self.n_buckets} — use a new "
                    "checkpoint dir (mixing bucketings double-counts)")
        key_col = resolve_column(df, self.partition_key)
        if key_col is None:
            raise ValueError(f"partition key '{self.partition_key}' not in {df.columns}")

        bucket_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(self.n_buckets)).cast("int")
        work = df.withColumn(_BUCKET, bucket_expr)
        if done:
            remaining = [b for b in range(self.n_buckets) if b not in done]
            if not remaining:
                return done
            # resume: prune completed buckets before any metric work
            work = work.filter(F.col(_BUCKET).isin(remaining))

        # the fold rule: only metrics whose bucket values sum run here
        metrics = [m for m in plan_metrics(df, specs) if m.sums]
        exprs = aggregates(metrics)
        for c in distinct_cols or []:
            rc = resolve_column(df, c)
            if rc is not None:
                exprs.append(F.hll_sketch_agg(F.col(rc)).alias(f"__hll_{c}__"))

        gdf = work.groupBy(_BUCKET).agg(*exprs)
        rows = gdf.collect()

        # buckets with NO rows produce no group — they are still VALIDATED
        # (zero rows, all counts 0): record them so resume never rescans an
        # empty bucket and n_buckets_validated always reaches n_buckets
        seen_buckets = {r[_BUCKET] for r in rows}
        todo = (set(range(self.n_buckets)) - set(done)) - seen_buckets
        if todo:
            from pyspark.sql import Row as _Row
            field_names = [f.name for f in gdf.schema.fields]
            rows = list(rows) + [
                _Row(**{n: (b if n == _BUCKET
                            else 0 if n == ROW_COUNT_ALIAS else None)
                        for n in field_names})
                for b in sorted(todo)
            ]

        # bucket-local duplicate counts (one job per distinct key tuple)
        dup_specs = [s for s in specs if s.metric is MetricType.DUPLICATE_COUNT]
        dup_errors = self.spec_errors(df, specs, model)
        dup_values: Dict[str, Dict[int, int]] = {}
        for spec in dup_specs:
            if spec.key in dup_errors:
                continue
            resolved = [resolve_column(df, c) for c in key_columns(spec)]
            grouped = (
                work.groupBy(_BUCKET, *[F.col(_qc(c)) for c in resolved])
                .count().filter(F.col("count") > 1)
                .groupBy(_BUCKET).agg(F.count(F.lit(1)).alias("dups"))
            )
            dup_values[spec.key] = {r[_BUCKET]: r["dups"] for r in grouped.collect()}

        now = datetime.now(timezone.utc).isoformat()
        new_verdicts: List[BucketVerdict] = []
        for row in rows:
            d = row.asDict()
            bucket = d[_BUCKET]
            row_count = int(d[ROW_COUNT_ALIAS])
            results: Dict[str, str] = {}
            metrics_out: Dict[str, Any] = {"row_count": row_count}
            for c in distinct_cols or []:
                sk = d.get(f"__hll_{c}__")
                if sk is not None:
                    import base64
                    metrics_out[f"hll_sketch::{c}"] = base64.b64encode(bytes(sk)).decode()
            for m in metrics:
                if not m.resolved:
                    continue
                value = int(m.value(d) or 0)
                metrics_out[m.spec.key] = value
                # percent thresholds evaluate against the BUCKET's own rate
                results[m.spec.key] = evaluate(m.spec, value, row_count).result.value
            for spec in dup_specs:
                if spec.key in dup_errors:
                    results[spec.key] = "error"
                    continue
                value = dup_values.get(spec.key, {}).get(bucket, 0)
                metrics_out[spec.key] = value
                results[spec.key] = evaluate(spec, value).result.value
            new_verdicts.append(BucketVerdict(
                bucket, row_count, results, metrics_out,
                {"source": source_path, "validated_at": now,
                 "partition_key": self.partition_key, "n_buckets": self.n_buckets},
            ))

        self._append_manifest(model, new_verdicts)
        done.update({v.bucket: v for v in new_verdicts})
        return done

    # -- folding ---------------------------------------------------------------
    @staticmethod
    def fold(verdicts: Dict[int, BucketVerdict],
             specs: Optional[List[CheckSpec]] = None) -> Dict[str, Any]:
        """Global metrics across buckets, plus global results.

        With ``specs``, global results are RE-EVALUATED: each threshold
        against its FOLDED metric (percent over the folded row_count).
        That is the correct global verdict — the worst-case-of-buckets
        fallback (no specs) compares bucket-LOCAL counts against GLOBAL
        thresholds, which false-passes absolute budgets split across
        buckets ('missing_count <= 10' with 1 per bucket × 64) and
        false-fails lower bounds ('row_count >= 1000' in 64 slices).
        Error verdicts always carry through either way."""
        totals = fold_sums(v.metrics for v in verdicts.values())
        results: Dict[str, str] = {}
        severity = {"failed": 0, "error": 1, "warning": 2, "passed": 3}
        for v in verdicts.values():
            for k, res in v.results.items():
                cur = results.get(k)
                if cur is None or severity.get(res, 3) < severity.get(cur, 3):
                    results[k] = res
        if specs is not None:
            for spec in specs:
                if results.get(spec.key) == "error" or spec.key not in totals:
                    continue  # never upgrade an error
                results[spec.key] = evaluate(
                    spec, totals[spec.key], totals.get("row_count")).result.value
        return {"metrics": totals, "results": results,
                "n_buckets_validated": len(verdicts)}

    @staticmethod
    def fold_distinct(spark, verdicts: Dict[int, BucketVerdict]) -> Dict[str, int]:
        """Global approx-distinct per sketched column by UNIONING the
        per-bucket HLL sketches from the manifest — no table rescan. The
        sketches are mergeable (DataSketches HLL), so resumed runs and
        incremental buckets compose exactly like a fresh full pass."""
        import base64

        by_col: Dict[str, List[bytes]] = {}
        for v in verdicts.values():
            for k, val in v.metrics.items():
                if k.startswith("hll_sketch::") and val:
                    by_col.setdefault(k.split("::", 1)[1], []).append(
                        base64.b64decode(val))
        out: Dict[str, int] = {}
        for col, sketches in by_col.items():
            df = spark.createDataFrame([(s,) for s in sketches], "sk binary")
            est = df.agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("d")).collect()[0]["d"]
            out[col] = int(est)
        return out


def per_file_verdicts(df: DataFrame, specs: List[CheckSpec]) -> DataFrame:
    """Per-INPUT-FILE verdicts: the same agg-able check batch grouped by the
    hidden ``_metadata.file_path`` column of file sources — pinpoints WHICH
    files carry violations without a second scan (at warehouse scale this is
    the 'quarantine the bad file' primitive). One grouped aggregation,
    map-side combinable; output one row per file with per-check violation
    counts (a NULL column for a check whose column the files lack)."""
    metrics = plan_metrics(df, specs, alias="{key}", metrics=ROW_LEVEL)
    return (
        df.groupBy(F.col("_metadata.file_path").alias("file"))
        .agg(F.count(F.lit(1)).alias("row_count"), *count_columns(metrics))
        .orderBy("file")
    )
