"""Drift baselines: compute → persist → compare.

The drift checks (operators/drift.py) compare live data against a stored
snapshot of the expected distribution. This module computes those snapshots
from a reference dataset (one job per kind), serializes them to JSON, and
plugs them back into contract quality rules as ``arguments.baseline``.

Baseline kinds:
- categorical frequency vector (for freqDriftPsi)
- numeric CDF points at fixed probes (for quantileDriftKs "cdf")
- t-digest quantile map (for quantileDriftKs "quantiles": the sketch
  drafts the points; the check counts exactly at them)
"""

from __future__ import annotations

import json
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import drift
from datacontract_cli_spark.operators.tdigest import sketch_column

DEFAULT_QUANTILES = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)


def categorical_baseline(df: DataFrame, column: str) -> Dict[str, float]:
    return {str(k): v for k, v in drift.frequency_fractions(df, column).items()}


def cdf_baseline(df: DataFrame, column: str,
                 probs: Sequence[float] = DEFAULT_QUANTILES,
                 round_to: Optional[int] = None) -> Dict[str, Any]:
    """CDF probe points from the reference data's own quantiles (so the
    live-data KS evaluates exactly at meaningful locations).

    The recorded probability is the EMPIRICAL CDF at each probe point,
    not the nominal quantile prob: percentile_approx returns actual data
    elements, so on tie-heavy columns F̂(q(p)) can exceed p by the whole
    point mass (a 30%-zeros column has q(0.01)=0 but F̂(0)=0.30), and any
    caller-side rounding of the probe shifts it below the value whose
    rank defined p. Recording F̂ makes KS(reference, reference) exactly 0
    — drafted drift rules can never fail on the data they were drafted
    from. ``round_to`` rounds probes BEFORE the empirical pass (probes
    dedupe after rounding)."""
    xs = df.agg(F.percentile_approx(column, list(probs), 10_000)
                .alias("q")).first()["q"]
    if xs is None:
        return {"cdf": []}
    pts = sorted({round(float(x), round_to) if round_to is not None
                  else float(x) for x in xs})
    col = F.col(column)
    row = df.agg(
        F.count(col).alias("n"),
        *[F.sum((col <= F.lit(x)).cast("long")).alias(f"c{i}")
          for i, x in enumerate(pts)]).first()
    n = row["n"] or 1
    return {"cdf": [[x, float(row[f"c{i}"]) / n] for i, x in enumerate(pts)]}


def tdigest_baseline(df: DataFrame, column: str,
                     probs: Sequence[float] = DEFAULT_QUANTILES) -> Dict[str, Any]:
    d = sketch_column(df, column)
    return {"quantiles": {str(p): d.quantile(p) for p in probs}}


def compute_baselines(df: DataFrame, categorical: Sequence[str] = (),
                      numeric: Sequence[str] = (),
                      use_tdigest: bool = False) -> Dict[str, Dict[str, Any]]:
    out: Dict[str, Dict[str, Any]] = {}
    for c in categorical:
        out[c] = {"kind": "categorical", "baseline": categorical_baseline(df, c)}
    for c in numeric:
        b = tdigest_baseline(df, c) if use_tdigest else cdf_baseline(df, c)
        out[c] = {"kind": "numeric", "baseline": b}
    return out


def save_baselines(baselines: Dict[str, Any], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(baselines, f, indent=2)


def load_baselines(path: str) -> Dict[str, Any]:
    with open(path, "r", encoding="utf-8") as f:
        return json.load(f)


def drift_against_baselines(df: DataFrame, baselines: Dict[str, Any]) -> Dict[str, float]:
    """Evaluate every stored baseline against live data; column → statistic
    (PSI for categorical, KS for numeric)."""
    out: Dict[str, float] = {}
    for column, entry in baselines.items():
        if entry["kind"] == "categorical":
            out[column] = drift.psi(df, column, entry["baseline"])
        else:
            out[column] = drift.ks_statistic(df, column, entry["baseline"])
    return out


# ---------------------------------------------------------------------------
# Metric history → anomaly detection (control charts over run metrics)
# ---------------------------------------------------------------------------

def append_metric_history(path: str, metrics: Dict[str, float],
                          run_id: Optional[str] = None,
                          timestamp: Optional[str] = None) -> None:
    """Append one run's scalar metrics to a JSONL history file — the
    driver-side record a scheduled validation job keeps between runs
    (row counts, violation counts, psi values...). Tiny by construction:
    one line per run."""
    rec = {"metrics": dict(metrics)}
    if run_id:
        rec["run_id"] = run_id
    if timestamp:
        rec["timestamp"] = timestamp
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps(rec, default=str) + "\n")


def load_metric_history(path: str) -> List[Dict[str, Any]]:
    out: List[Dict[str, Any]] = []
    try:
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    out.append(json.loads(line))
    except FileNotFoundError:
        pass
    return out


def detect_metric_anomalies(history: List[Dict[str, Any]],
                            current: Dict[str, float],
                            sigma: float = 3.0,
                            min_history: int = 5) -> Dict[str, Dict[str, Any]]:
    """Shewhart control chart over each metric's run history: the current
    value is anomalous when it falls outside mean ± sigma·stddev of the
    prior runs. Metrics with fewer than ``min_history`` observations or
    zero variance use a degenerate band (exact-match for zero variance —
    a previously-always-42 metric flags on 43).

    Returns {metric: {value, mean, stddev, lo, hi, anomalous}} for every
    metric present in ``current``. Pure driver-side arithmetic over the
    tiny history — the heavy lifting (producing the metrics) already
    happened in the validation job."""
    import statistics

    series: Dict[str, List[float]] = {}
    for rec in history:
        for k, v in (rec.get("metrics") or {}).items():
            if isinstance(v, (int, float)):
                series.setdefault(k, []).append(float(v))

    out: Dict[str, Dict[str, Any]] = {}
    for k, value in current.items():
        prior = series.get(k, [])
        if len(prior) < min_history:
            out[k] = {"value": value, "mean": None, "stddev": None,
                      "lo": None, "hi": None, "anomalous": False,
                      "n_history": len(prior)}
            continue
        mean = statistics.fmean(prior)
        stddev = statistics.pstdev(prior)
        lo, hi = mean - sigma * stddev, mean + sigma * stddev
        out[k] = {"value": value, "mean": mean, "stddev": stddev,
                  "lo": lo, "hi": hi,
                  "anomalous": not (lo <= value <= hi),
                  "n_history": len(prior)}
    return out
