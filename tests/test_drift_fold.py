"""quantileDriftKs inside the batched metric aggregate: exact count-ifs at
the baseline's points, no t-digest job, one value across every lane."""

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark import SparkContractEngine, load_contract_str
from datacontract_cli_spark.model.run import ResultEnum
from datacontract_cli_spark.operators import baselines, drift, tdigest

_QUANTILES = {"0.5": 499, "0.9": 849}

_CONTRACT = """
id: ks-fold
version: 1.0.0
schema:
  - name: t
    properties:
      - name: id
        logicalType: integer
        required: true
        unique: true
      - name: v
        logicalType: number
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.1
            arguments:
              baseline:
                quantiles: {"0.5": 499, "0.9": 849}
      - name: nothing
        logicalType: number
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.1
            arguments:
              baseline:
                quantiles: {"0.5": 499}
      - name: v2
        logicalType: number
        expression: v * 2
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.1
            arguments:
              baseline:
                cdf: [[998, 0.5], [1698, 0.9]]
"""


def _frame(spark):
    return spark.range(0, 1000).select(
        F.col("id"),
        F.col("id").cast("double").alias("v"),
        F.lit(None).cast("double").alias("nothing"))


def _no_sketch(*_a, **_k):
    raise AssertionError("t-digest sketch_column must not run here")


def _executions(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsList().size()


def test_ks_rides_the_metric_agg(spark, monkeypatch):
    monkeypatch.setattr(tdigest, "sketch_column", _no_sketch)
    run = SparkContractEngine(spark).test(
        load_contract_str(_CONTRACT), tables={"t": _frame(spark)})

    ks = run.check("t__v__quantile_drift_ks")
    # F̂(499) = 500/1000 = 0.5 and F̂(849) = 850/1000 against 0.9
    assert ks.result is ResultEnum.passed
    assert ks.diagnostics["value"] == 0.05
    # an all-NULL column is unknown drift: it fails, it never passes
    assert run.check("t__nothing__quantile_drift_ks").result is ResultEnum.failed
    # a derived column: v * 2 at 998 and 1698 is v at 499 and 849
    derived = run.check("t__v2__quantile_drift_ks")
    assert derived.result is ResultEnum.passed
    assert derived.diagnostics["value"] == 0.05
    assert run.check("t__id__field_required").result is ResultEnum.passed
    assert run.check("t__id__field_unique").result is ResultEnum.passed


def test_ks_adds_no_spark_job(spark):
    contract = load_contract_str(_CONTRACT)
    plain = load_contract_str(_CONTRACT)
    for prop in plain.schema_object("t").properties:
        prop.quality = []
    df = _frame(spark)
    engine = SparkContractEngine(spark)
    engine.test(plain, tables={"t": df})  # warm

    def executions_of(c):
        before = _executions(spark)
        engine.test(c, tables={"t": df})
        return _executions(spark) - before

    assert executions_of(contract) == executions_of(plain)


def test_ks_lanes_agree_on_quantiles_baseline(spark, monkeypatch):
    monkeypatch.setattr(tdigest, "sketch_column", _no_sketch)
    df = _frame(spark)
    base = {"quantiles": dict(_QUANTILES)}
    assert drift.ks_statistic(df, "v", base) == pytest.approx(0.05, abs=1e-12)
    stored = {"v": {"kind": "numeric", "baseline": base}}
    assert baselines.drift_against_baselines(df, stored)["v"] == \
        drift.ks_statistic(df, "v", base)
    # the cdf spelling of the same points is the same statistic
    assert drift.ks_statistic(df, "v", {"cdf": [[499, 0.5], [849, 0.9]]}) == \
        drift.ks_statistic(df, "v", base)


@pytest.mark.parametrize("baseline", [
    {"quantiles": {"0.5": "abc"}},
    {"quantiles": {"median": 499}},
    {"cdf": [["abc", 0.5]]},
    {"cdf": [[499, "half"]]},
    {"quantiles": {}},
    {"cdf": []},
    {"histogram": [1, 2]},
])
def test_malformed_ks_baseline_fails_closed(spark, baseline):
    contract = load_contract_str(_CONTRACT)
    for prop in contract.schema_object("t").properties:
        if prop.name == "v":
            prop.quality[0].arguments["baseline"] = baseline
    run = SparkContractEngine(spark).test(contract, tables={"t": _frame(spark)})

    bad = run.check("t__v__quantile_drift_ks")
    assert bad.result is ResultEnum.error
    assert bad.reason.startswith("Drift check failed:")
    # the rest of the batch still evaluates
    assert run.check("t__id__field_required").result is ResultEnum.passed
    assert run.check("t__id__field_unique").result is ResultEnum.passed
    assert run.check("t__v2__quantile_drift_ks").result is ResultEnum.passed
    with pytest.raises(ValueError):
        drift.ks_points(baseline)
