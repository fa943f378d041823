"""The metric plan: one CheckSpec → aggregate map, one fold rule and one
evaluator under every validation lane.

Every lane (the batch ``test()``, hash buckets in :mod:`.partitioned`,
files and snapshots in :mod:`.incremental`, segments in :mod:`.sliced`,
row sinks in :mod:`.violations` and ``operators/quarantine``, windows in
``streaming/checks``) is a thin layer over three things declared here:

- :func:`plan_metrics` — per aggregable spec (row count, missing,
  invalid, freshness, retention, quantile, KS drift): its resolved column,
  its row predicate (missing/invalid), its aggregate Column under a stable
  alias, and whether its per-unit values fold by sum
  (:attr:`Metric.sums`). A KS drift check is a struct of exact count-ifs
  at its baseline's points (``operators/drift.py`` ``ks_aggregate``), so
  it costs no job of its own; a malformed baseline leaves the metric
  unplanned with :attr:`Metric.error` set.
- :func:`fold_sums` — the fold rule across units (buckets, files,
  snapshots): count metrics sum; nothing else folds by addition.
- :func:`evaluate` — the percent rule, the threshold and the
  failed-or-warning severity, returning result, reason, compare value and
  diagnostics.

Uniqueness keeps the reference's ``GROUP BY`` semantics: NULL is a key
value like any other, so a repeated NULL key is a duplicate group
(:func:`duplicate_occurrence`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, Iterable, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
from datacontract_cli_spark.engine.predicates import (
    _q,
    count_if,
    invalid_condition,
    missing_condition,
    resolve_column,
)
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.operators.drift import (
    ks_aggregate,
    ks_from_counts,
    ks_points,
)

AGGREGABLE = (
    MetricType.ROW_COUNT,
    MetricType.MISSING_COUNT,
    MetricType.INVALID_COUNT,
    MetricType.FRESHNESS,
    MetricType.RETENTION,
    MetricType.QUANTILE,
    MetricType.QUANTILE_DRIFT_KS,
)
ROW_LEVEL = (MetricType.MISSING_COUNT, MetricType.INVALID_COUNT)
# the fold rule: per-unit values of these metrics sum to the global value;
# a max/min timestamp or a quantile does not, so those lanes refuse them
SUMMED = (MetricType.ROW_COUNT,) + ROW_LEVEL

ROW_COUNT_ALIAS = "__dc_row_count__"

_WARNING_SEVERITIES = {"info", "warning", "warn", "low", "minor", "trivial"}


@dataclass
class Metric:
    """One aggregable spec, planned against one frame."""

    spec: CheckSpec
    alias: str
    column: Optional[str] = None      # resolved column name
    predicate: Optional[Column] = None  # missing/invalid row predicate
    agg: Optional[Column] = None      # None: the shared row count, or 0
    points: Optional[List[Tuple[float, float]]] = None  # KS (x, p) points
    error: Optional[str] = None       # why a resolved spec is unplanned

    @property
    def resolved(self) -> bool:
        return self.spec.metric is MetricType.ROW_COUNT or self.column is not None

    @property
    def sums(self) -> bool:
        return self.spec.metric in SUMMED

    def value(self, row: Dict[str, Any]) -> Any:
        """This metric's value in one collected aggregate row: None when its
        column did not resolve or it is unplanned, 0 for an invalid check
        without constraints (nothing can be invalid), the KS statistic
        (NaN for no non-null value) for a KS drift check."""
        if self.spec.metric is MetricType.ROW_COUNT:
            return row[ROW_COUNT_ALIAS]
        if not self.resolved or self.error is not None:
            return None
        if self.points is not None:
            counts = row[self.alias]
            return ks_from_counts(counts["n"], counts["le"], self.points)
        return row[self.alias] if self.agg is not None else 0


def plan_metrics(df: DataFrame, specs: Sequence[CheckSpec],
                 alias: str = "__dc_m{i}__",
                 metrics: Sequence[MetricType] = AGGREGABLE) -> List[Metric]:
    """One :class:`Metric` per spec whose metric is in ``metrics``, in spec
    order. ``alias`` formats with the spec's index in ``specs`` (``i``) and
    its ``key``."""
    out = []
    for i, spec in enumerate(specs):
        if spec.metric not in metrics:
            continue
        name = alias.format(i=i, key=spec.key)
        m = Metric(spec, name, resolve_column(df, spec.field)
                   if spec.field else None)
        out.append(m)
        if spec.metric is MetricType.ROW_COUNT or not m.resolved:
            continue
        col = F.col(_q(m.column))
        if spec.metric is MetricType.MISSING_COUNT:
            m.predicate = missing_condition(df, m.column, spec)
        elif spec.metric is MetricType.INVALID_COUNT:
            m.predicate = invalid_condition(df, m.column, spec)
        elif spec.metric is MetricType.FRESHNESS:
            m.agg = F.max(col).alias(name)
        elif spec.metric is MetricType.RETENTION:
            m.agg = F.min(col).alias(name)
        elif spec.metric is MetricType.QUANTILE:
            q = float(spec.quantile if spec.quantile is not None else 0.5)
            # approx (t-digest-style sketch, fixed memory) is the 100 TB
            # default; arguments.exact=true opts into the exact
            # interpolated percentile (buffers the column per group)
            m.agg = (F.percentile(col, F.lit(q)) if spec.quantile_exact
                     else F.percentile_approx(col, q, 10000)).alias(name)
        elif spec.metric is MetricType.QUANTILE_DRIFT_KS:
            try:
                m.points = ks_points(spec.baseline)
            except ValueError as e:
                m.error = f"Drift check failed: {e}"
                continue
            m.agg = ks_aggregate(col, m.points).alias(name)
        if m.predicate is not None:
            m.agg = count_if(m.predicate, name)
    return out


def aggregates(metrics: Iterable[Metric]) -> List[Column]:
    """The row count followed by every planned aggregate, for one
    ``agg``."""
    return [F.count(F.lit(1)).alias(ROW_COUNT_ALIAS)] + [
        m.agg for m in metrics if m.agg is not None]


def count_columns(metrics: Iterable[Metric]) -> List[Column]:
    """Violation-count aggregates of the row-level metrics, one per alias.
    A metric whose column did not resolve is a NULL column, never a
    silently absent one: a consumer acting on the counts must see that
    the check never evaluated."""
    return [m.agg if m.resolved
            else F.max(F.lit(None).cast("long")).alias(m.alias)
            for m in metrics
            if m.spec.metric in ROW_LEVEL
            and (m.predicate is not None or not m.resolved)]


def fold_sums(units: Iterable[Dict[str, Any]]) -> Dict[str, Any]:
    """Fold per-unit metric dicts into global values by summation. Units
    hold counts (:data:`SUMMED` metrics, and duplicate-group counts that
    are local to a unit); non-numeric entries (mergeable sketches) fold
    through their own union and are skipped."""
    totals: Dict[str, Any] = {}
    for unit in units:
        for k, v in unit.items():
            if isinstance(v, (int, float)):
                totals[k] = totals.get(k, 0) + v
    return totals


def fold_delta(folded: Dict[str, Any], prev: Dict[str, Any]) -> Dict[str, Any]:
    """The inverse of :func:`fold_sums`: what one unit (a snapshot, a
    commit, a poll batch) added to the fold ``prev``."""
    return {k: v - prev.get(k, 0) for k, v in folded.items()
            if isinstance(v, (int, float))}


def key_columns(spec: CheckSpec) -> List[str]:
    """The declared key columns of a uniqueness spec."""
    return spec.columns or ([spec.field] if spec.field else [])


def duplicate_occurrence(keys: Sequence[str], order: Sequence[str]) -> Column:
    """True on every row whose key tuple already occurred earlier in
    ``order``. Window partitioning groups NULLs like ``GROUP BY`` does, so
    a repeated NULL key is flagged exactly as the engine's duplicate count
    counts it."""
    w = Window.partitionBy(*[F.col(_q(k)) for k in keys]).orderBy(*order)
    return F.row_number().over(w) > 1


# ---------------------------------------------------------------------------
# the evaluator (reference ibis_check_execute.py:943-989)
# ---------------------------------------------------------------------------

def fail_result(spec: CheckSpec) -> ResultEnum:
    severity = (spec.severity or "").strip().lower()
    return ResultEnum.warning if severity in _WARNING_SEVERITIES else ResultEnum.failed


@dataclass
class Verdict:
    result: ResultEnum
    reason: Optional[str]
    compare: Any
    diagnostics: Dict[str, Any]


def evaluate(spec: CheckSpec, value: Any, row_count: Optional[int] = None,
             label: Optional[str] = None) -> Verdict:
    """Judge one metric value. A percent threshold on a missing/invalid
    count compares ``value / row_count * 100`` (6 dp); ``passes(None)`` is
    False; a failure is a warning when the spec's severity says so."""
    is_bad_row = spec.metric in ROW_LEVEL
    is_percent = bool(spec.threshold_is_percent) and is_bad_row
    percent = None
    if is_percent and value is not None:
        percent = round(value / row_count * 100, 6) if row_count else 0.0
    compare = percent if is_percent else value
    label = label or spec.metric.value

    diag: Dict[str, Any] = {"metric": label}
    if spec.field is not None:
        diag["field"] = spec.field
    diag["value"] = value
    if is_percent:
        diag["unit"] = "percent"
    if spec.severity is not None:
        diag["severity"] = spec.severity
    if spec.threshold is not None:
        diag["threshold"] = spec.threshold.describe()
    if row_count is not None and is_bad_row and value is not None:
        diag["row_count"] = row_count
        diag["failed_fraction"] = round(value / row_count, 6) if row_count else 0.0
    if percent is not None:
        diag["percent"] = percent
    if spec.metric is MetricType.INVALID_COUNT:
        constraint = _constraint_info(spec)
        if constraint:
            diag["constraint"] = constraint
    elif spec.metric is MetricType.MISSING_COUNT and spec.missing_values:
        diag["missing_values"] = spec.missing_values

    if spec.threshold is None or spec.threshold.passes(compare):
        return Verdict(ResultEnum.passed, None, compare, diag)
    target = spec.field or spec.model
    if is_percent:
        reason = (f"Actual {label}({target}) was {percent}% ({value} of {row_count} rows), "
                  f"expected {spec.threshold.describe()}%")
    else:
        reason = f"Actual {label}({target}) was {value}, expected {spec.threshold.describe()}"
    return Verdict(fail_result(spec), reason, compare, diag)


def _constraint_info(spec: CheckSpec) -> Dict[str, Any]:
    out: Dict[str, Any] = {}
    for attr, name in (("valid_values", "valid_values"),
                       ("valid_regex", "pattern"),
                       ("valid_min", "minimum"), ("valid_max", "maximum"),
                       ("valid_min_length", "min_length"),
                       ("valid_max_length", "max_length"),
                       ("invalid_values", "invalid_values")):
        if getattr(spec, attr) is not None:
            out[name] = getattr(spec, attr)
    return out
