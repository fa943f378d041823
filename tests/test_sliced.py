"""Per-slice validation: every agg-able check evaluated per segment in
one shuffle."""

import pytest
from pyspark.sql import Row

from datacontract_cli_spark.engine.sliced import sliced_validation
from datacontract_cli_spark.model.contract import load_contract_str

_CONTRACT = """
id: docs
version: 1.0.0
schema:
  - name: documents
    properties:
      - name: doc_id
        logicalType: integer
        required: true
      - name: n_chars
        logicalType: integer
        logicalTypeOptions:
          minimum: 0
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 1
"""


def _df(spark):
    rows = (
        [Row(src="a", doc_id=i, n_chars=10) for i in range(5)]
        + [Row(src="b", doc_id=10 + i, n_chars=10) for i in range(3)]
        + [Row(src="b", doc_id=None, n_chars=-4)]   # b: missing id + bad range
        + [Row(src="c", doc_id=20, n_chars=5)]      # c: too few rows
    )
    return spark.createDataFrame(rows)


def test_sliced_validation_per_segment_verdicts(spark):
    out = sliced_validation(_df(spark), load_contract_str(_CONTRACT),
                            "documents", ["src"])
    got = {(r["src"], r["check_key"]): (r["metric_value"], r["passed"])
           for r in out.collect()}
    assert got[("a", "documents__doc_id__field_required")] == (0.0, True)
    assert got[("b", "documents__doc_id__field_required")] == (1.0, False)
    assert got[("b", "documents__n_chars__field_minimum")] == (1.0, False)
    assert got[("a", "documents__row_count")] == (5.0, True)
    assert got[("c", "documents__row_count")] == (1.0, False)  # not > 1


def test_sliced_validation_min_slice_rows(spark):
    out = sliced_validation(_df(spark), load_contract_str(_CONTRACT),
                            "documents", ["src"], min_slice_rows=2)
    assert {r["src"] for r in out.collect()} == {"a", "b"}


def test_sliced_validation_one_shuffle(spark):
    df = _df(spark)
    out = sliced_validation(df, load_contract_str(_CONTRACT),
                            "documents", ["src"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") <= 2  # one shuffle (+ AQE read node)


def test_sliced_validation_no_agg_specs_returns_empty(spark):
    c = load_contract_str("""
id: x
version: 1.0.0
schema:
  - name: documents
    properties:
      - name: doc_id
        logicalType: integer
""")
    out = sliced_validation(_df(spark), c, "documents", ["src"])
    assert out.count() == 0
    assert out.columns == ["src", "check_key", "metric_value", "passed"]


_DRIFT_CONTRACT = """
id: conv
version: 1.0.0
schema:
  - name: transcripts
    properties:
      - name: role
        logicalType: string
        quality:
          - type: library
            metric: freqDriftPsi
            mustBeLessThan: 0.25
            arguments:
              baseline: {user: 0.5, assistant: 0.5}
      - name: n_chars
        logicalType: number
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.2
            arguments:
              baseline:
                cdf: [[10.0, 0.5], [30.0, 0.9]]
"""


def test_sliced_drift_checks_match_scalar_lane(spark):
    from pyspark.sql import functions as F

    from datacontract_cli_spark.operators import drift

    rows = []
    # slice a: balanced roles, lengths 0..19 -> on-baseline
    for i in range(20):
        rows.append(("a", "user" if i % 2 == 0 else "assistant", float(i)))
    # slice b: all assistant (psi drifts), lengths 40..59 (ks drifts)
    for i in range(20):
        rows.append(("b", "assistant", float(40 + i)))
    df = spark.createDataFrame(rows, ["src", "role", "n_chars"])

    out = sliced_validation(df, load_contract_str(_DRIFT_CONTRACT),
                            "transcripts", ["src"])
    got = {(r["src"], r["check_key"]): (r["metric_value"], r["passed"])
           for r in out.collect()}

    for s in ("a", "b"):
        sl = df.filter(F.col("src") == s)
        psi = round(drift.psi(sl, "role",
                              {"user": 0.5, "assistant": 0.5}), 6)
        ks = round(drift.ks_statistic(
            sl, "n_chars", {"cdf": [[10.0, 0.5], [30.0, 0.9]]}), 6)
        v_psi, p_psi = got[(s, "transcripts__role__freq_drift_psi")]
        v_ks, p_ks = got[(s, "transcripts__n_chars__quantile_drift_ks")]
        assert v_psi == pytest.approx(psi, abs=1e-6), s
        assert v_ks == pytest.approx(ks, abs=1e-6), s
        assert p_psi is (psi < 0.25) and p_ks is (ks < 0.2)
    # sanity on direction: a passes both, b fails both
    assert got[("a", "transcripts__role__freq_drift_psi")][1] is True
    assert got[("b", "transcripts__role__freq_drift_psi")][1] is False
    assert got[("b", "transcripts__n_chars__quantile_drift_ks")][1] is False


_KS_QUANTILES_CONTRACT = """
id: conv
version: 1.0.0
schema:
  - name: transcripts
    properties:
      - name: n_chars
        logicalType: number
        quality:
          - type: library
            metric: quantileDriftKs
            mustBeLessThan: 0.2
            arguments:
              baseline:
                quantiles: {"0.5": 20, "0.9": 45}
"""


def test_sliced_quantiles_ks_matches_test_per_slice(spark):
    from pyspark.sql import functions as F

    from datacontract_cli_spark import SparkContractEngine

    rows = ([("a", float(i)) for i in range(50)]          # near the baseline
            + [("b", float(30 + i)) for i in range(40)]   # shifted up
            + [("c", None)] * 3)                          # no values at all
    df = spark.createDataFrame(rows, "src string, n_chars double")
    contract = load_contract_str(_KS_QUANTILES_CONTRACT)
    key = "transcripts__n_chars__quantile_drift_ks"

    out = sliced_validation(df, contract, "transcripts", ["src"])
    got = {r["src"]: (r["metric_value"], r["passed"]) for r in out.collect()
           if r["check_key"] == key}
    assert set(got) == {"a", "b", "c"}
    engine = SparkContractEngine(spark)
    for s, (value, passed) in got.items():
        check = engine.test(contract, tables={
            "transcripts": df.filter(F.col("src") == s)}).check(key)
        assert value == check.diagnostics["value"], s
        assert passed is (check.result.value == "passed"), s
    assert got["a"][1] is True and got["b"][1] is False
    assert got["c"] == (None, False)
