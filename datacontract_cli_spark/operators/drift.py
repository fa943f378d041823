"""Distribution-drift checks: PSI over categorical frequencies and KS over
numeric distributions.

Beyond-reference operators mandated by the north rule (SURVEY.md §2.9):

- **PSI** (population stability index) compares the observed category
  frequency vector of a column (one ``groupBy(col).count()`` — a two-phase
  hash aggregate whose shuffle payload is one row per category) against a
  baseline {category: expected_fraction}.

- **KS statistic** compares the observed distribution against a baseline
  at the baseline's own points: ``{"cdf": [[x, p], ...]}`` or
  ``{"quantiles": {q: x, ...}}`` (:func:`ks_points` turns both into one
  (x, p) list). Counting the rows at or below each x gives F̂(x) exactly,
  so KS = max_i |F̂(x_i) − p_i| is one aggregate of count-ifs
  (:func:`ks_aggregate`) folded on the driver (:func:`ks_from_counts`) or
  as Column math (:func:`ks_column`). The engine's ``quantileDriftKs``
  check runs the same aggregate inside its batched metric job
  (``engine/metric_plan.py``). t-digest sketches (operators/tdigest.py)
  remain for :func:`ks_two_sample`, where no evaluation points are known
  in advance.
"""

from __future__ import annotations

import math
from typing import Any, Dict, List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPS = 1e-6


OTHER_BUCKET = "__other__"


def frequency_fractions(df: DataFrame, column: str,
                        max_categories: int = 10_000) -> Dict[Any, float]:
    """Observed category → fraction, computed in one grouped aggregate.

    The driver-side collect is bounded: at most ``max_categories`` rows come
    back (top categories by count); any remaining mass folds into
    ``OTHER_BUCKET``. For categorical drift columns (role/tool/event_type)
    the cap never triggers; it exists so a mis-pointed high-cardinality
    column (e.g. an id) cannot OOM the driver — the grouped counts stay
    distributed and only the top-K survive the ordered limit."""
    counts = df.groupBy(F.col(column).alias("k")).agg(F.count(F.lit(1)).alias("n"))
    # sort-free probe: a plain limit(K+1) detects truncation without paying a
    # sort in the (overwhelmingly common) small-cardinality path
    rows = counts.limit(max_categories + 1).collect()
    if len(rows) > max_categories:
        # rare lane only: keep the true top-K by count and fold the exact
        # remaining mass into one bucket
        rows = counts.orderBy(F.desc("n"), F.col("k")).limit(max_categories).collect()
        total = counts.agg(F.sum("n").alias("t")).collect()[0]["t"]
        out = {r["k"]: r["n"] / total for r in rows}
        out[OTHER_BUCKET] = 1.0 - sum(out.values())
        return out
    total = sum(r["n"] for r in rows)
    if total == 0:
        return {}
    return {r["k"]: r["n"] / total for r in rows}


def psi_from_fractions(actual: Dict[Any, float], baseline: Dict[Any, float]) -> float:
    keys = set(actual) | set(baseline)
    out = 0.0
    for k in keys:
        a = max(actual.get(k, 0.0), _EPS)
        b = max(float(baseline.get(k, 0.0)), _EPS)
        out += (a - b) * math.log(a / b)
    return out


def psi(df: DataFrame, column: str, baseline: Dict[Any, float],
        max_categories: int = 10_000) -> float:
    return psi_from_fractions(
        frequency_fractions(df, column, max_categories), baseline)


def _baseline_literal(df: DataFrame, baseline: Dict[Any, float]) -> DataFrame:
    """The baseline as a tiny frame (k string nullable, q double) exploded
    from a literal array of structs — no driver data shipping, and unlike
    ``create_map`` it tolerates a None key and mixed-type keys (stringified
    the same way the observed side is cast)."""
    if not baseline:
        # F.explode(F.array()) of zero structs is a NullType that cannot
        # star-expand — surface a clear error instead of Spark's obscure
        # 'Can only star expand struct data types' (the scalar psi() lane
        # tolerates {}; the declarative lanes need at least one category)
        raise ValueError("baseline must contain at least one category")
    def _key_lit(k):
        if k is None:
            return F.lit(None).cast("string")
        try:
            # Spark's OWN string rendering (booleans "true"/"false", float
            # formatting) so keys match the observed side's cast-to-string;
            # Python str() renders "True" and some floats differently and
            # would silently score every category as novel.
            return F.lit(k).cast("string")
        except Exception:
            return F.lit(str(k))  # exotic key types keep the old behavior

    entries = [
        F.struct(_key_lit(k).alias("k"), F.lit(float(v)).alias("q"))
        for k, v in baseline.items()
    ]
    return df.sparkSession.range(1).select(
        F.explode(F.array(*entries)).alias("e")).select("e.*")


def _baseline_join(df: DataFrame, column: str,
                   baseline: Dict[Any, float]) -> DataFrame:
    """Shared scaffold of the declarative drift lanes: observed category
    fractions full-outer-joined with the baseline literal. Returns a frame
    with columns (p: observed fraction, nullable; q: baseline fraction,
    nullable).

    The observed side stays fully distributed (two-phase hash aggregate);
    only the per-category frequency table — one row per category — reaches
    the join, and the baseline ships as a literal array of structs exploded
    from ``spark.range(1)`` (no driver data shipping). Join keys are cast
    to string on BOTH sides and matched null-safely, so baselines with a
    None key or mixed-type keys (which ``frequency_fractions`` on a
    nullable column legitimately produces, incl. the ``__other__`` cap
    bucket) behave exactly like the scalar ``psi()`` dict lane instead of
    crashing ``create_map`` on a null key."""
    base = _baseline_literal(df, baseline)
    freq = (df.groupBy(F.col(column).cast("string").alias("k"))
              .agg(F.count(F.lit(1)).alias("n")))
    total = freq.agg(F.sum("n").alias("t"))
    obs = (freq.crossJoin(F.broadcast(total))
               .select("k", (F.col("n") / F.col("t")).alias("p")))
    return obs.join(base, obs["k"].eqNullSafe(base["k"]), "full_outer") \
              .select("p", "q")


def psi_df(df: DataFrame, column: str, baseline: Dict[Any, float],
           digits: int = 6) -> DataFrame:
    """PSI as a one-row DataFrame with ZERO driver round-trips: the whole
    computation is one declarative plan (grouped count → tiny full-outer
    join with the baseline keys → single-row sum), so nothing is collected
    and no local relation ships to the JVM. Preferred over ``psi()`` when
    the caller wants a DataFrame (queries, pipelines) — the scalar ``psi()``
    lane pays a driver collect plus a createDataFrame round-trip (~0.5 s of
    py4j/job floor per call) that this lane avoids entirely.

    Categories observed but absent from the baseline (and vice versa) get
    the standard ``_EPS`` floor, matching ``psi_from_fractions``."""
    joined = _baseline_join(df, column, baseline)
    a = F.greatest(F.coalesce(F.col("p"), F.lit(0.0)), F.lit(_EPS))
    b = F.greatest(F.coalesce(F.col("q"), F.lit(0.0)), F.lit(_EPS))
    return joined.agg(
        F.round(F.sum((a - b) * F.log(a / b)), digits).alias("psi"))


def jsd_df(df: DataFrame, column: str, baseline: Dict[Any, float],
           digits: int = 6) -> DataFrame:
    """Jensen-Shannon divergence (base-2, in [0,1]) between the observed
    category distribution and a baseline, as one declarative plan — same
    shape as :func:`psi_df` (grouped count → tiny full-outer join with the
    exploded baseline literal → single-row sum). JSD is the symmetric,
    bounded alternative to PSI: robust to zero-probability categories
    (0·log0 ≡ 0 — no epsilon floor needed), which makes it the better
    alarm metric when new categories appear at 100 TB."""
    joined = _baseline_join(df, column, baseline)
    p = F.coalesce(F.col("p"), F.lit(0.0))
    q = F.coalesce(F.col("q"), F.lit(0.0))
    m = (p + q) / 2
    # 0*log(0) -> 0 via the when-guards; log2 for the [0,1] range
    term = (F.when(p > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
            + F.when(q > 0, q * F.log2(q / m)).otherwise(F.lit(0.0)))
    return joined.agg(F.round(F.sum(term) / 2, digits).alias("jsd"))


def chi2_df(df: DataFrame, column: str, baseline: Dict[Any, float],
            digits: int = 4) -> DataFrame:
    """Pearson chi-square goodness-of-fit statistic of the observed
    category counts against baseline expected fractions, one declarative
    plan. Returns (chi2, df_degrees): the caller compares against the
    critical value for its alpha. Expected counts are n·q_k over the
    baseline's categories (observed-only categories contribute their full
    count against an expected of 0 via the standard convention of folding
    them in with expected≈0 excluded — here they're included with q from
    the baseline only, so the statistic is over the baseline's support)."""
    base = _baseline_literal(df, baseline)
    freq = (df.groupBy(F.col(column).cast("string").alias("k"))
              .agg(F.count(F.lit(1)).alias("n")))
    total = freq.agg(F.sum("n").alias("t"))
    joined = (base.join(freq, base["k"].eqNullSafe(freq["k"]), "left")
                  .crossJoin(F.broadcast(total)))
    observed = F.coalesce(F.col("n"), F.lit(0)).cast("double")
    # eps floor: a baseline category with q=0.0 ('must not appear') would
    # otherwise divide by zero (ANSI crash / silently dropped term) — the
    # floor makes observed occurrences of a forbidden category contribute
    # a huge chi2 term, which is exactly the intended signal
    expected = F.greatest(F.col("q"), F.lit(1e-12)) * F.col("t")
    term = (observed - expected) ** 2 / expected
    return joined.agg(
        F.round(F.sum(term), digits).alias("chi2"),
        (F.count(F.lit(1)) - 1).alias("df_degrees"))


def ks_points(baseline: Any) -> List[Tuple[float, float]]:
    """The (x, p) evaluation points of a KS baseline: ``cdf`` pairs as
    given, ``quantiles`` {q: x} as (x, q). A malformed baseline (no
    ``cdf``/``quantiles``, an empty one, a non-numeric x, p or q) raises
    ValueError."""
    if isinstance(baseline, dict) and "cdf" in baseline:
        raw, kind = baseline["cdf"], "cdf"
    elif isinstance(baseline, dict) and "quantiles" in baseline:
        raw, kind = baseline["quantiles"], "quantiles"
    else:
        raise ValueError(
            "KS baseline needs 'cdf': [[x, p], ...] or 'quantiles': {q: x}")
    try:
        pairs = ([(x, q) for q, x in raw.items()] if kind == "quantiles"
                 else [(x, p) for x, p in raw])
        points = [(float(x), float(p)) for x, p in pairs]
    except (AttributeError, TypeError, ValueError) as e:
        raise ValueError(f"malformed KS baseline '{kind}': {e}") from None
    if not points:
        raise ValueError(f"KS baseline '{kind}' is empty")
    return points


def ks_aggregate(col: Column, points: Sequence[Tuple[float, float]]) -> Column:
    """One aggregate for KS at ``points``: struct(n = non-null count,
    le = [count of values <= x_i]). It folds map-side like any count, so
    it rides whatever aggregate it is placed in without a job of its
    own."""
    return F.struct(
        F.count(col).alias("n"),
        F.array(*[F.count_if(col <= F.lit(x)) for x, _p in points]).alias("le"))


def ks_from_counts(n: int, le: Sequence[int],
                   points: Sequence[Tuple[float, float]]) -> float:
    """max_i |le_i / n − p_i|; NaN when no value was counted (an empty or
    all-null column is unknown drift, never zero drift)."""
    if not n:
        return float("nan")
    return max(abs(c / n - p) for c, (_x, p) in zip(le, points))


def ks_column(counts: Column, points: Sequence[Tuple[float, float]]) -> Column:
    """:func:`ks_from_counts` as Column math over a :func:`ks_aggregate`
    struct; NULL when no value was counted (try_divide, never an ANSI
    divide-by-zero)."""
    terms = [F.abs(F.try_divide(counts["le"][i], counts["n"]) - F.lit(p))
             for i, (_x, p) in enumerate(points)]
    return terms[0] if len(terms) == 1 else F.greatest(*terms)


def ks_df(df: DataFrame, column: str, points: List[List[float]],
          digits: int = 6) -> DataFrame:
    """Exact KS-at-points as a one-row DataFrame with zero driver
    round-trips (same declarative rationale as :func:`psi_df`): all the
    count-ifs fuse into ONE scan's aggregate, and the max-deviation fold
    happens in the same plan — nothing is collected and no local relation
    ships to the JVM."""
    pts = ks_points({"cdf": points})
    return (df.agg(ks_aggregate(F.col(column), pts).alias("__ks__"))
              .select(F.round(ks_column(F.col("__ks__"), pts), digits)
                      .alias("ks")))


def ks_by_group(df: DataFrame, group_col: str, column: str,
                points: List[List[float]], digits: int = 6) -> DataFrame:
    """Per-slice exact KS-at-points: one row per ``group_col`` value with
    (group, n, ks) — the north rule's text-length-quantile drift check
    evaluated PER ROLE (or per tool/source/language) instead of globally.
    A global KS hides a single role's length regression inside the
    aggregate; this surfaces which slice drifted.

    Same declarative shape as :func:`ks_df` lifted onto a groupBy: the
    count-ifs become partial aggregates that combine map-side, the
    exchange carries |groups| rows, and the max-deviation fold is a
    projection on the tiny grouped frame. NULL group keys form their own
    row (they usually ARE the defect); groups with zero non-null values
    yield ks NULL rather than a spurious 0."""
    pts = ks_points({"cdf": points})
    g = df.groupBy(group_col).agg(ks_aggregate(F.col(column), pts).alias("__ks__"))
    return g.select(group_col, F.col("__ks__.n").alias("n"),
                    F.round(ks_column(F.col("__ks__"), pts), digits).alias("ks"))


def ks_statistic(df: DataFrame, column: str, baseline: Dict[str, Any]) -> float:
    """KS of ``column`` against a ``cdf`` or ``quantiles`` baseline, exact
    at the baseline's points (:func:`ks_points`)."""
    return _ks_exact_at_points(df, column, ks_points(baseline))


def _ks_exact_at_points(df: DataFrame, column: str,
                        points: Sequence[Sequence[float]]) -> float:
    """max_i |F̂(x_i) − p_i| with F̂ evaluated for every x_i in ONE aggregation
    pass (all the count-ifs fuse into a single scan)."""
    row = df.agg(ks_aggregate(F.col(column), points).alias("k")).collect()[0]["k"]
    return ks_from_counts(row["n"], row["le"], points)


def ks_two_sample(df1: DataFrame, col1: str, df2: DataFrame, col2: str,
                  compression: float = 200.0) -> float:
    """Two-sample KS via t-digest sketches of both sides (each side one
    distributed sketch pass; comparison on the driver over the union of
    centroid locations)."""
    from datacontract_cli_spark.operators.tdigest import sketch_column

    d1 = sketch_column(df1, col1, compression)
    d2 = sketch_column(df2, col2, compression)
    if d1.means.size == 0 or d2.means.size == 0:
        return float("nan")  # an empty side is not 'identical'
    xs = sorted(set(d1.means.tolist()) | set(d2.means.tolist()))
    worst = 0.0
    for x in xs:
        worst = max(worst, abs(d1.cdf(x) - d2.cdf(x)))
    return worst


def chi2_pvalue(chi2: float, df_degrees: int) -> float:
    """Upper-tail p-value of the chi-square statistic (scipy-free): the
    regularized upper incomplete gamma Q(df/2, chi2/2) via the standard
    series / continued-fraction split (Numerical Recipes 6.2) — makes
    :func:`chi2_df`'s output directly thresholdable by alpha."""
    if chi2 <= 0:
        return 1.0
    if df_degrees <= 0:
        # a single-category baseline gives df=0: the statistic carries no
        # information — NaN, not a lgamma(0) domain error
        return float("nan")
    a, x = df_degrees / 2.0, chi2 / 2.0
    gln = math.lgamma(a)
    if x < a + 1:
        # series for P(a,x); Q = 1 - P
        ap, total, delta = a, 1.0 / a, 1.0 / a
        for _ in range(500):
            ap += 1
            delta *= x / ap
            total += delta
            if abs(delta) < abs(total) * 1e-14:
                break
        p = total * math.exp(-x + a * math.log(x) - gln)
        return max(0.0, min(1.0, 1.0 - p))
    # continued fraction for Q(a,x) (modified Lentz)
    tiny = 1e-300
    b = x + 1 - a
    c = 1 / tiny
    d = 1 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    q = math.exp(-x + a * math.log(x) - gln) * h
    return max(0.0, min(1.0, q))
