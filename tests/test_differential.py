"""Differential testing: the engine vs DuckDB on randomized contracts.

Seeded (deterministic) random tables + random constraint sets; the engine's
missing/invalid/duplicate/row-count diagnostics must equal counts computed
independently by DuckDB SQL implementing the same soda semantics. This is
the generalized version of the per-query oracle gate."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from datacontract_cli_spark.engine.executor import SparkContractEngine
from datacontract_cli_spark.model.contract import load_contract_str


def _random_frame(rng: np.random.Generator, n: int = 500) -> pd.DataFrame:
    words = ["aa", "bb", "cc", "dd", "ee", None, ""]
    return pd.DataFrame({
        "id": rng.integers(0, n // 2, size=n),           # guaranteed duplicates
        "cat": rng.choice(np.array(words, dtype=object), size=n),
        "num": np.where(rng.random(n) < 0.1, np.nan,
                        rng.normal(50, 30, size=n).round(3)),
        "txt": [None if rng.random() < 0.05 else
                "".join(rng.choice(list("abcxyz@. "), size=rng.integers(1, 25)))
                for _ in range(n)],
    })


CONTRACT = """
id: fuzz
version: 0.1.0
schema:
  - name: fuzz
    properties:
      - name: id
        logicalType: integer
        required: true
        unique: true
      - name: cat
        logicalType: string
        required: true
        logicalTypeOptions:
          enum: [aa, bb, cc]
      - name: num
        logicalType: number
        logicalTypeOptions:
          minimum: 10
          maximum: 90
      - name: txt
        logicalType: string
        logicalTypeOptions:
          minLength: 3
          maxLength: 15
          pattern: "^[a-z@. ]+$"
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 0
"""

ORACLE = {
    "fuzz__id__field_required": "SELECT count(*) FROM t WHERE id IS NULL",
    "fuzz__id__field_unique":
        "SELECT count(*) FROM (SELECT id FROM t GROUP BY id HAVING count(*) > 1)",
    "fuzz__cat__field_required": "SELECT count(*) FROM t WHERE cat IS NULL",
    "fuzz__cat__field_enum":
        "SELECT count(*) FROM t WHERE cat IS NOT NULL AND cat NOT IN ('aa','bb','cc')",
    "fuzz__num__field_minimum":
        "SELECT count(*) FROM t WHERE num IS NOT NULL AND isfinite(num) AND NOT (num >= 10)",
    "fuzz__num__field_maximum":
        "SELECT count(*) FROM t WHERE num IS NOT NULL AND isfinite(num) AND NOT (num <= 90)",
    "fuzz__txt__field_min_length":
        "SELECT count(*) FROM t WHERE txt IS NOT NULL AND length(txt) < 3",
    "fuzz__txt__field_max_length":
        "SELECT count(*) FROM t WHERE txt IS NOT NULL AND length(txt) > 15",
    "fuzz__txt__field_regex":
        "SELECT count(*) FROM t WHERE txt IS NOT NULL AND NOT regexp_matches(txt, '^[a-z@. ]+$')",
    "fuzz__row_count": "SELECT count(*) FROM t",
}


@pytest.mark.parametrize("seed", [1, 7, 42, 1234])
def test_engine_matches_duckdb_on_random_data(spark, seed):
    rng = np.random.default_rng(seed)
    pdf = _random_frame(rng)
    # NaN in pandas floats → NULL in both engines for comparability
    df = spark.createDataFrame(pdf.where(pd.notnull(pdf), None))

    contract = load_contract_str(CONTRACT)
    run = SparkContractEngine(spark).test(contract, tables={"fuzz": df})

    con = duckdb.connect()
    con.register("t", pdf)
    for key, sql in ORACLE.items():
        check = run.check(key)
        assert check is not None, key
        expected = con.execute(sql).fetchone()[0]
        got = check.diagnostics["value"]
        assert got == expected, (seed, key, got, expected)


@pytest.mark.parametrize("seed", [3, 11, 99])
def test_randomized_constraints_match_duckdb(spark, seed):
    """Constraint VALUES drawn from the seed too: thresholds, ranges,
    lengths, enums all randomized; engine counts must equal DuckDB's."""
    rng = np.random.default_rng(seed)
    pdf = _random_frame(rng, n=400)
    df = spark.createDataFrame(pdf.where(pd.notnull(pdf), None))

    lo = round(float(rng.uniform(0, 40)), 2)
    hi = round(float(rng.uniform(60, 120)), 2)
    min_len = int(rng.integers(1, 5))
    max_len = int(rng.integers(8, 20))
    enum = sorted(rng.choice(["aa", "bb", "cc", "dd", "ee"], size=2, replace=False))

    contract = load_contract_str(f"""
id: fuzz2
version: 0.1.0
schema:
  - name: fuzz
    properties:
      - name: cat
        logicalType: string
        logicalTypeOptions:
          enum: [{enum[0]}, {enum[1]}]
      - name: num
        logicalType: number
        logicalTypeOptions:
          minimum: {lo}
          maximum: {hi}
      - name: txt
        logicalType: string
        logicalTypeOptions:
          minLength: {min_len}
          maxLength: {max_len}
""")
    run = SparkContractEngine(spark).test(contract, tables={"fuzz": df})

    con = duckdb.connect()
    con.register("t", pdf)
    cases = {
        "fuzz__cat__field_enum":
            f"SELECT count(*) FROM t WHERE cat IS NOT NULL AND cat NOT IN ('{enum[0]}','{enum[1]}')",
        "fuzz__num__field_minimum":
            f"SELECT count(*) FROM t WHERE num IS NOT NULL AND NOT isnan(num) AND NOT (num >= {lo})",
        "fuzz__num__field_maximum":
            f"SELECT count(*) FROM t WHERE num IS NOT NULL AND NOT isnan(num) AND NOT (num <= {hi})",
        "fuzz__txt__field_min_length":
            f"SELECT count(*) FROM t WHERE txt IS NOT NULL AND length(txt) < {min_len}",
        "fuzz__txt__field_max_length":
            f"SELECT count(*) FROM t WHERE txt IS NOT NULL AND length(txt) > {max_len}",
    }
    for key, sql in cases.items():
        check = run.check(key)
        expected = con.execute(sql).fetchone()[0]
        got = check.diagnostics["value"]
        assert got == expected, (seed, key, got, expected,
                                 {"lo": lo, "hi": hi, "min_len": min_len,
                                  "max_len": max_len, "enum": enum})


# ---------------------------------------------------------------------------
# cross-lane differential: every validation lane against test()
# ---------------------------------------------------------------------------

XLANE_CONTRACT = """
id: xlane
version: 1.0.0
schema:
  - name: turns
    properties:
      - name: conv_id
        logicalType: string
        required: true
      - name: turn
        logicalType: integer
        logicalTypeOptions:
          minimum: 0
          maximum: 9
      - name: role
        logicalType: string
        logicalTypeOptions:
          enum: [user, assistant]
      - name: text
        logicalType: string
        logicalTypeOptions:
          pattern: "^[a-z ]+$"
        quality:
          - metric: missingValues
            arguments:
              missingValues: ["", "n/a"]
            mustBeLessThan: 20
            unit: percent
      - name: ghost
        logicalType: string
        required: true
    quality:
      - metric: rowCount
        mustBeGreaterThan: 0
      - metric: duplicateValues
        arguments:
          properties: [conv_id, turn]
        mustBe: 0
"""


def _xlane_parquet(tmp_path, seed: int = 5, n: int = 400) -> str:
    """One seeded frame — NULLs in the key columns (conv_id, turn) and in
    every value column — written as ONE parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)

    def maybe(v, p):
        return None if rng.random() < p else v

    conv = [maybe(f"c{int(rng.integers(0, 80))}", 0.05) for _ in range(n)]
    turn = [maybe(int(rng.integers(0, 12)), 0.05) for _ in range(n)]
    role = [maybe(str(rng.choice(["user", "assistant", "system"])), 0.1)
            for _ in range(n)]
    text = [maybe(str(rng.choice(["hello there", "ok", "", "n/a", "Bad!",
                                  "fine thanks"])), 0.08)
            for _ in range(n)]
    table = pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "turn": pa.array(turn, pa.int64()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
    })
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    pq.write_table(table, str(data_dir / "part-00000.parquet"))
    return str(data_dir)


def test_every_lane_agrees_with_batch(spark, tmp_path):
    """test() is the reference lane: every spec another lane supports must
    get the same metric value and the same verdict there. Each lane's
    handling of a contract column the data lacks (``ghost``) is pinned."""
    from pyspark.sql import functions as F

    from datacontract_cli_spark.checks.compile import compile_checks
    from datacontract_cli_spark.checks.spec import MetricType
    from datacontract_cli_spark.engine.partitioned import per_file_verdicts
    from datacontract_cli_spark.engine.sliced import sliced_validation
    from datacontract_cli_spark.model.run import ResultEnum

    path = _xlane_parquet(tmp_path)
    df = spark.read.parquet(path)
    contract = load_contract_str(XLANE_CONTRACT)
    engine = SparkContractEngine(spark)
    specs = [s for s in compile_checks(contract, None) if s.model == "turns"]
    by_metric = {}
    for s in specs:
        by_metric.setdefault(s.metric, []).append(s)
    counts = {MetricType.ROW_COUNT, MetricType.MISSING_COUNT,
              MetricType.INVALID_COUNT}
    ghost = "turns__ghost__field_required"

    batch = engine.test(contract, tables={"turns": df})
    expected = {}
    for s in specs:
        c = batch.check(s.key)
        if s.key == ghost:
            assert c.result in (ResultEnum.failed, ResultEnum.warning)
            assert "Column 'ghost' not found" in c.reason
            continue
        if s.metric in counts or s.metric is MetricType.DUPLICATE_COUNT:
            expected[s.key] = (c.diagnostics["value"], c.result)
    # the contract exercises what it should: a NULL-key duplicate group, a
    # percent rule, and at least one passing and one failing count check
    assert expected["turns__model_duplicate_values"][0] > 0
    assert batch.check("turns__text__field_missing_values") \
        .diagnostics["unit"] == "percent"
    assert {r for _, r in expected.values()} \
        >= {ResultEnum.passed, ResultEnum.failed}
    row_count = expected["turns__row_count"][0]

    # partitioned lane: counts + the composite duplicate key (contains the
    # partition key, so it folds per bucket)
    prun, _ = engine.test_partitioned(
        contract, df, "turns", checkpoint_dir=str(tmp_path / "pck"),
        partition_key="conv_id", n_buckets=4)
    for s in specs:
        if s.metric not in counts and s.metric is not MetricType.DUPLICATE_COUNT:
            continue
        c = prun.check(s.key)
        if s.key == ghost:
            assert c.result is ResultEnum.error
            continue
        assert (c.diagnostics["value"], c.result) == expected[s.key], s.key

    # incremental and tail lanes: count checks only
    irun, _ = engine.test_incremental(
        contract, path, "turns", checkpoint_dir=str(tmp_path / "ick"))
    polled = engine.tail(contract, path, "turns",
                         checkpoint_dir=str(tmp_path / "tck"),
                         table_format="parquet")
    assert len(polled) == 1
    trun = polled[0][1]
    for run in (irun, trun):
        for s in specs:
            if s.metric not in counts:
                continue
            c = run.check(s.key)
            if s.key == ghost:
                assert c.result is ResultEnum.error
                assert "not present" in c.reason
                continue
            assert (c.diagnostics["value"], c.result) == expected[s.key], \
                s.key

    # sliced lane over a constant slice column: one slice = the table
    sliced = {r["check_key"]: (r["metric_value"], r["passed"])
              for r in sliced_validation(
                  df.withColumn("slice_all", F.lit("all")), contract,
                  "turns", ["slice_all"]).collect()}
    assert sliced[ghost] == (None, False)
    sliceable = [s for s in specs if s.metric in counts
                 and s.threshold is not None and s.key != ghost]
    assert sliceable
    for s in sliceable:
        value, result = expected[s.key]
        assert sliced[s.key] == (float(value),
                                 result is ResultEnum.passed), s.key

    # per-file lane: a single file carries the whole table's counts
    [frow] = per_file_verdicts(df, specs).collect()
    frow = frow.asDict()
    assert frow["row_count"] == row_count
    assert frow[ghost] is None
    for s in specs:
        if s.metric in (MetricType.MISSING_COUNT, MetricType.INVALID_COUNT) \
                and s.key != ghost:
            assert frow[s.key] == expected[s.key][0], s.key
