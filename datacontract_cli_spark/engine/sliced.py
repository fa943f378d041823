"""Sliced validation: every agg-able contract check evaluated PER SEGMENT
in one shuffle.

A whole-table pass/fail hides which slice of the data broke — at web
scale, a contract usually fails because one source, one day, or one
language went bad while the rest stayed green. ``sliced_validation``
groups by the slice columns and evaluates the aggregates of the metric
plan (:mod:`.metric_plan` — the missing/invalid count-ifs, row counts,
quantile sketches and KS count-ifs ``test()`` runs), then folds each
spec's threshold into a Column-level verdict — the per-slice analogue of
the north rule's per-partition pass/fail verdicts, with semantic segments
instead of physical buckets.

Scale shape: ONE groupBy(slice) over one scan, map-side combine, rows =
slices × 1; the verdict math is a per-row projection on the tiny grouped
frame; the long (slice, check, value, passed) form explodes a literal
array of structs — no second pass, no driver loop, works on a thousand
slices as on three. ``_threshold_condition`` is the Column twin of the
plan's evaluator for numeric thresholds (percent rates, ``passes(None)``
= False). Drift checks ride the same shuffle: freqDriftPsi baselines
expand to per-category count-ifs (novel mass folded into one bucket —
see ``_psi_value``), and quantileDriftKs takes the plan's exact count-ifs
at its baseline's points (``cdf`` or ``quantiles``), so per-slice drift
verdicts cost zero extra passes and each slice's KS is the one ``test()``
reports on that slice's rows. A KS baseline the plan rejects as
malformed reads as a failing verdict with a NULL metric in every slice.
Checks whose thresholds aren't expressible as Column math (timestamp
SLAs, custom SQL) are skipped — run the engine for those.
"""

from __future__ import annotations

import operator
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op
from datacontract_cli_spark.engine.metric_plan import (
    ROW_COUNT_ALIAS,
    ROW_LEVEL,
    aggregates,
    plan_metrics,
)
from datacontract_cli_spark.engine.predicates import _q, resolve_column
from datacontract_cli_spark.model.contract import DataContract
from datacontract_cli_spark.operators.drift import ks_column

_SLICEABLE = (MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
              MetricType.INVALID_COUNT, MetricType.QUANTILE,
              MetricType.FREQ_DRIFT_PSI, MetricType.QUANTILE_DRIFT_KS)

_DRIFT_EPS = 1e-6  # matches operators.drift._EPS

_COMPARE = {Op.EQ: operator.eq, Op.NE: operator.ne, Op.GT: operator.gt,
            Op.GE: operator.ge, Op.LT: operator.lt, Op.LE: operator.le}


def _psi_value(prefix: str, baseline: dict, n: Column) -> Column:
    """Per-slice PSI as Column math over the count-if aggregate columns
    ``{prefix}k{j}``. Baseline categories contribute exactly the scalar
    ``drift.psi`` terms; OBSERVED-but-not-in-baseline mass is folded into
    ONE novel bucket (the scalar lane scores each novel category
    separately — per slice that would need per-category aggregates of
    unknown cardinality, so the sliced lane uses the same fold
    ``frequency_fractions`` applies past its category cap). For
    enum-constrained drift columns the novel mass is ~0 and the two lanes
    agree to float precision."""
    eps = F.lit(_DRIFT_EPS)
    total_known = None
    out = None
    for j, (k, b) in enumerate(baseline.items()):
        cnt = F.col(f"{prefix}k{j}")
        a = F.greatest(F.try_divide(cnt, n), eps)
        bf = F.greatest(F.lit(float(b)), eps)
        term = (a - bf) * F.log(a / bf)
        out = term if out is None else out + term
        total_known = cnt if total_known is None else total_known + cnt
    novel = F.greatest(F.try_divide(n - total_known, n), eps)
    out = out + (novel - eps) * F.log(novel / eps)
    return out


def _threshold_condition(spec: CheckSpec, value: Column,
                         n: Column) -> Optional[Column]:
    """The metric plan's evaluator as a Column over a DOUBLE value column
    and the slice's row count ``n``; None when the threshold isn't
    numeric-expressible. Percent thresholds gate the slice's RATE
    (value/rows*100, 6 dp). NULL values (e.g. a quantile of an all-null
    slice) evaluate to passed=false, matching passes(None) = False."""
    def _num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None

    t = spec.threshold
    if spec.threshold_is_percent and spec.metric in ROW_LEVEL:
        value = F.when(n > 0, F.round(value / n * 100, 6)).otherwise(0.0)
    v = _num(t.value)
    v2 = _num(t.value2)
    if v is None:
        return None
    if t.op in _COMPARE:
        cond = _COMPARE[t.op](value, F.lit(v))
    elif t.op is Op.BETWEEN and v2 is not None:
        cond = (value >= F.lit(v)) & (value <= F.lit(v2))
    elif t.op is Op.NOT_BETWEEN and v2 is not None:
        cond = (value < F.lit(v)) | (value > F.lit(v2))
    else:
        return None
    return F.coalesce(cond, F.lit(False))


def sliced_validation(df: DataFrame, contract: DataContract, model: str,
                      slice_cols: Sequence[str],
                      min_slice_rows: int = 0) -> DataFrame:
    """(slice…, check_key, metric_value, passed) — one row per
    (slice, agg-able check). ``min_slice_rows`` drops slices too small to
    judge (their verdicts would be noise at web scale)."""
    specs: List[CheckSpec] = [
        s for s in compile_checks(contract, None)
        if s.model == model and s.metric in _SLICEABLE
        and s.threshold is not None
    ]
    planned = {m.alias: m for m in plan_metrics(df, specs, alias="__m{i}__")}
    n = F.col(ROW_COUNT_ALIAS)
    exprs = aggregates([])
    verdicts = []  # (spec, value Column or None)
    for i, spec in enumerate(specs):
        alias = f"__m{i}__"
        column = resolve_column(df, spec.field) if spec.field else None
        if spec.field and column is None:
            # column lost to schema drift: surface the check as FAILING
            # in every slice (null metric), never silently drop it — the
            # batch engine fails the same check with "Column not found"
            verdicts.append((spec, None))
            continue
        if spec.metric is MetricType.FREQ_DRIFT_PSI:
            baseline = spec.baseline or {}
            if not baseline:
                continue
            for j, k in enumerate(baseline):
                # native-typed comparison (no string rendering — the
                # bool 'True' vs 'true' hazard); None is its own category
                qcol = F.col(_q(column))
                cond = (qcol.isNull() if k is None
                        else qcol.eqNullSafe(F.lit(k)))
                exprs.append(F.sum(F.when(cond, 1).otherwise(0))
                             .alias(f"{alias}k{j}"))
            verdicts.append((spec, F.round(_psi_value(alias, baseline, n), 6)))
            continue
        m = planned[alias]
        if m.error is not None:  # malformed KS baseline: fail closed
            verdicts.append((spec, None))
        elif m.agg is not None:
            exprs.append(m.agg)
            verdicts.append((spec, F.col(alias) if m.points is None else
                             F.round(ks_column(F.col(alias), m.points), 6)))
        else:  # the slice's row count, or an invalid check without constraints
            verdicts.append((spec, n
                             if spec.metric is MetricType.ROW_COUNT
                             else F.lit(0)))

    grouped = df.groupBy(*[F.col(c) for c in slice_cols]).agg(*exprs)
    if min_slice_rows > 0:
        grouped = grouped.filter(n >= min_slice_rows)

    rows = []
    for spec, value in verdicts:
        if value is None:  # missing column: failed verdict, null metric
            rows.append(F.struct(
                F.lit(spec.key).alias("check_key"),
                F.lit(None).cast("double").alias("metric_value"),
                F.lit(False).alias("passed"),
            ))
            continue
        value = value.cast("double")
        cond = _threshold_condition(spec, value, n)
        if cond is None:
            continue
        rows.append(F.struct(
            F.lit(spec.key).alias("check_key"),
            value.alias("metric_value"),
            cond.alias("passed"),
        ))
    if not rows:
        return (grouped.select(*slice_cols)
                .withColumn("check_key", F.lit(None).cast("string"))
                .withColumn("metric_value", F.lit(None).cast("double"))
                .withColumn("passed", F.lit(None).cast("boolean"))
                .limit(0))
    return (grouped.select(*slice_cols,
                           F.explode(F.array(*rows)).alias("__v__"))
            .select(*slice_cols, "__v__.check_key", "__v__.metric_value",
                    "__v__.passed"))
