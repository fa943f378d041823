"""A compact merging t-digest (Dunning & Ertl, "Computing Extremely Accurate
Quantiles Using t-Digests", arXiv:1902.04023) in pure numpy.

Used to draft ``quantiles`` drift baselines (``baselines.tdigest_baseline``)
and for two-sample KS (``drift.ks_two_sample``), where no evaluation points
are known in advance; the contract's quantileDriftKs check counts exactly
at its baseline's points instead and never sketches. Each Spark partition
builds one digest inside an ``applyInPandas``/``mapInPandas`` batch
(vectorized, no per-row Python), the per-partition digests are merged on the
driver (associative + commutative, so merge order doesn't matter for
correctness; determinism is kept by sorting centroids before compression),
and quantiles/CDF come from the merged digest. At 100 TB this moves only
O(partitions × compression) floats to the driver.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Tuple

import numpy as np

DEFAULT_COMPRESSION = 200.0


class TDigest:
    __slots__ = ("compression", "means", "weights", "_min", "_max")

    def __init__(self, compression: float = DEFAULT_COMPRESSION,
                 means: Optional[np.ndarray] = None,
                 weights: Optional[np.ndarray] = None,
                 vmin: float = np.inf, vmax: float = -np.inf):
        self.compression = float(compression)
        self.means = means if means is not None else np.empty(0)
        self.weights = weights if weights is not None else np.empty(0)
        self._min = vmin
        self._max = vmax

    # -- construction -------------------------------------------------------
    @staticmethod
    def of(values: np.ndarray, compression: float = DEFAULT_COMPRESSION) -> "TDigest":
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return TDigest(compression)
        values = np.sort(values)
        d = TDigest(compression, values, np.ones_like(values),
                    float(values[0]), float(values[-1]))
        return d._compress()

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum()) if self.weights.size else 0.0

    def _compress(self) -> "TDigest":
        if self.means.size == 0:
            return self
        order = np.argsort(self.means, kind="stable")
        means = self.means[order]
        weights = self.weights[order]
        total = weights.sum()
        delta = self.compression

        out_means: List[float] = []
        out_weights: List[float] = []
        # greedy merge: accumulate while the merged centroid stays within the
        # k1 size bound 4·total·q(1−q)/δ
        acc_mean = means[0]
        acc_w = weights[0]
        w_so_far = 0.0
        for m, w in zip(means[1:], weights[1:]):
            q = (w_so_far + acc_w + w / 2.0) / total
            limit = 4.0 * total * max(q * (1.0 - q), 1e-12) / delta
            if acc_w + w <= limit:
                acc_mean = (acc_mean * acc_w + m * w) / (acc_w + w)
                acc_w += w
            else:
                out_means.append(acc_mean)
                out_weights.append(acc_w)
                w_so_far += acc_w
                acc_mean, acc_w = m, w
        out_means.append(acc_mean)
        out_weights.append(acc_w)
        self.means = np.asarray(out_means)
        self.weights = np.asarray(out_weights)
        return self

    # -- merge --------------------------------------------------------------
    def merge(self, other: "TDigest") -> "TDigest":
        if other.means.size == 0:
            return self
        if self.means.size == 0:
            self.means = other.means.copy()
            self.weights = other.weights.copy()
            self._min, self._max = other._min, other._max
            return self
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        return self._compress()

    @staticmethod
    def merge_all(digests: Iterable["TDigest"],
                  compression: float = DEFAULT_COMPRESSION) -> "TDigest":
        out = TDigest(compression)
        for d in digests:
            out.merge(d)
        return out

    # -- queries ------------------------------------------------------------
    def quantile(self, q: float) -> float:
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        q = min(max(q, 0.0), 1.0)
        total = self.total_weight
        target = q * total
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            return float(self._min + (self.means[0] - self._min) * max(target, 0) / max(cum[0], 1e-12))
        if target >= cum[-1]:
            span = total - cum[-1]
            frac = (target - cum[-1]) / span if span > 0 else 0.0
            return float(self.means[-1] + (self._max - self.means[-1]) * min(frac, 1.0))
        idx = np.searchsorted(cum, target)
        x0, x1 = cum[idx - 1], cum[idx]
        m0, m1 = self.means[idx - 1], self.means[idx]
        frac = (target - x0) / max(x1 - x0, 1e-12)
        return float(m0 + (m1 - m0) * frac)

    def cdf(self, x: float) -> float:
        if self.means.size == 0:
            return float("nan")
        # x >= max FIRST: for a degenerate single-value digest
        # (_min == _max == v), F(v) is 1 (all mass is <= v) — checking
        # x <= _min first returned 0 and flagged full drift against an
        # identical constant baseline
        if x >= self._max:
            return 1.0
        if x <= self._min:
            return 0.0
        total = self.total_weight
        cum = np.cumsum(self.weights) - self.weights / 2.0
        idx = np.searchsorted(self.means, x)
        if idx == 0:
            frac = (x - self._min) / max(self.means[0] - self._min, 1e-12)
            return float(cum[0] * frac / total)
        if idx == self.means.size:
            frac = (x - self.means[-1]) / max(self._max - self.means[-1], 1e-12)
            return float((cum[-1] + (total - cum[-1]) * frac) / total)
        m0, m1 = self.means[idx - 1], self.means[idx]
        frac = (x - m0) / max(m1 - m0, 1e-12)
        return float((cum[idx - 1] + (cum[idx] - cum[idx - 1]) * frac) / total)

    # -- (de)serialization for crossing the Arrow boundary -------------------
    def to_arrays(self) -> Tuple[np.ndarray, np.ndarray, float, float]:
        return self.means, self.weights, self._min, self._max

    @staticmethod
    def from_arrays(means, weights, vmin, vmax,
                    compression: float = DEFAULT_COMPRESSION) -> "TDigest":
        return TDigest(compression, np.asarray(means, dtype=np.float64),
                       np.asarray(weights, dtype=np.float64), float(vmin), float(vmax))


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

def sketch_column(df, column: str, compression: float = DEFAULT_COMPRESSION) -> TDigest:
    """Build a t-digest of a numeric column: one digest per Arrow batch on
    the executors (vectorized), merged on the driver."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType([
        T.StructField("means", T.ArrayType(T.DoubleType())),
        T.StructField("weights", T.ArrayType(T.DoubleType())),
        T.StructField("vmin", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ])

    def per_batch(iterator):
        import pandas as pd

        for pdf in iterator:
            d = TDigest.of(pdf[column].to_numpy(dtype=np.float64, na_value=np.nan),
                           compression)
            if d.means.size == 0:
                continue
            means, weights, vmin, vmax = d.to_arrays()
            yield pd.DataFrame({
                "means": [list(means)], "weights": [list(weights)],
                "vmin": [vmin], "vmax": [vmax],
            })

    parts = df.select(F.col(column).cast("double").alias(column)).mapInPandas(per_batch, schema)
    merged = TDigest(compression)
    for row in parts.collect():
        merged.merge(TDigest.from_arrays(row["means"], row["weights"],
                                         row["vmin"], row["vmax"], compression))
    return merged
