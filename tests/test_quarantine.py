"""Contract-driven quarantine over Iceberg: violating rows are exported
to a quarantine parquet and removed from the live table by ONE
positional-delete snapshot (merge-on-read, no data-file rewrite)."""

import os

import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.model.contract import load_contract_str
from datacontract_cli_spark.operators.quarantine import (
    quarantine_violations,
    violation_reasons,
)
from datacontract_cli_spark.sources.iceberg_table import (
    load_table_metadata,
    read_iceberg,
    snapshots,
)
from datacontract_cli_spark.sources.iceberg_write import write_iceberg_table

CONTRACT = """
apiVersion: v3.0.2
kind: DataContract
id: docs-quality
version: 1.0.0
name: docs
schema:
  - name: docs
    logicalType: table
    properties:
      - name: doc_id
        logicalType: integer
        required: true
        primaryKey: true
        primaryKeyPosition: 1
      - name: lang
        logicalType: string
        required: true
        logicalTypeOptions:
          enum: [en, de, fr]
      - name: score
        logicalType: number
        logicalTypeOptions:
          minimum: 0.0
          maximum: 1.0
"""


def _table(spark, tmp_path):
    """40 clean rows + 1 null lang + 1 bad enum + 1 out-of-range score
    + 1 duplicated doc_id."""
    rows = [(i, ["en", "de", "fr"][i % 3], 0.5) for i in range(40)]
    rows += [(100, None, 0.5),       # lang required violated
             (101, "xx", 0.5),       # lang enum violated
             (102, "en", 1.5),       # score range violated
             (39, "en", 0.5)]        # duplicate primary key
    df = spark.createDataFrame(rows, "doc_id int, lang string, score double")
    root = str(tmp_path / "t")
    write_iceberg_table(df.orderBy("doc_id"), root, files_per_group=3)
    return root


def test_quarantine_removes_violations(spark, tmp_path):
    root = _table(spark, tmp_path)
    contract = load_contract_str(CONTRACT)
    rep = quarantine_violations(spark, root, contract, "docs")

    # 4 bad rows gone from the live table, in one snapshot
    got = read_iceberg(spark, root)
    assert got.count() == 40
    assert got.filter("doc_id IN (100, 101, 102)").count() == 0
    assert got.filter("doc_id = 39").count() == 1   # first occurrence kept
    snaps = snapshots(root)
    assert len(snaps) == 2 and snaps[-1]["operation"] == "delete"
    assert rep.snapshot_id == snaps[-1]["snapshot_id"]

    assert rep.quarantined_rows == 4
    assert rep.counts_by_check == {
        "docs__lang__field_required": 1,
        "docs__lang__field_enum": 1,
        "docs__score__field_maximum": 1,
        "docs__doc_id__field_primary_key_unique": 1,
    }

    # quarantine parquet carries the rows + reasons for triage
    q = spark.read.parquet(rep.quarantine_path)
    assert q.count() == 4
    by_id = {r.doc_id: list(r["__dc_reasons"]) for r in q.collect()}
    assert by_id[100] == ["docs__lang__field_required"]
    assert by_id[101] == ["docs__lang__field_enum"]
    assert by_id[102] == ["docs__score__field_maximum"]
    assert by_id[39] == ["docs__doc_id__field_primary_key_unique"]

    # time travel still shows the pre-quarantine state
    first = snaps[0]["snapshot_id"]
    assert read_iceberg(spark, root, snapshot_id=first).count() == 44


def test_dry_run_commits_nothing(spark, tmp_path):
    root = _table(spark, tmp_path)
    contract = load_contract_str(CONTRACT)
    rep = quarantine_violations(spark, root, contract, "docs",
                                dry_run=True)
    assert rep.quarantined_rows == 4
    assert rep.snapshot_id is None and rep.quarantine_path is None
    assert read_iceberg(spark, root).count() == 44
    assert len(load_table_metadata(root)["snapshots"]) == 1
    assert not os.path.exists(os.path.join(root, "quarantine"))


def test_repeated_runs_are_idempotent_batches(spark, tmp_path):
    root = _table(spark, tmp_path)
    contract = load_contract_str(CONTRACT)
    r1 = quarantine_violations(spark, root, contract, "docs")
    r2 = quarantine_violations(spark, root, contract, "docs")
    assert r1.quarantined_rows == 4
    assert r2.quarantined_rows == 0          # table is clean now
    assert r2.snapshot_id is None            # nothing to commit
    assert read_iceberg(spark, root).count() == 40


def test_multi_violation_row_lists_every_reason(spark, tmp_path):
    df = spark.createDataFrame([(1, "en", 0.5), (2, "xx", 9.9)],
                               "doc_id int, lang string, score double")
    root = str(tmp_path / "t")
    write_iceberg_table(df, root)
    rep = quarantine_violations(
        spark, root, load_contract_str(CONTRACT), "docs")
    assert rep.quarantined_rows == 1
    q = spark.read.parquet(rep.quarantine_path).first()
    assert sorted(q["__dc_reasons"]) == ["docs__lang__field_enum",
                                      "docs__score__field_maximum"]
    assert read_iceberg(spark, root).count() == 1


def test_violation_reasons_on_plain_dataframe(spark):
    """The reasons lane is reusable outside Iceberg — any DataFrame with
    file/pos columns (here synthetic) gets per-row check attribution."""
    from datacontract_cli_spark.checks.compile import compile_checks
    from datacontract_cli_spark.operators.quarantine import _row_level_specs

    contract = load_contract_str(CONTRACT)
    specs = _row_level_specs(contract, "docs")
    assert {s.metric.value for s in specs} == {
        "missing_count", "invalid_count", "duplicate_count"}
    df = (spark.createDataFrame([(1, "en", 0.5), (1, "de", 0.5)],
                                "doc_id int, lang string, score double")
          .withColumn("__icb_file", F.lit("f"))
          .withColumn("__icb_pos", F.monotonically_increasing_id()))
    out = violation_reasons(df, specs)
    flagged = out.filter(F.size("__dc_reasons") > 0)
    assert flagged.count() == 1   # second occurrence of doc_id=1


TRANSCRIPT_CONTRACT = """
apiVersion: v3.0.2
kind: DataContract
id: transcripts-gate
version: 1.0.0
name: transcripts
schema:
  - name: transcripts
    logicalType: table
    properties:
      - name: conv_id
        logicalType: string
        required: true
      - name: turn_idx
        logicalType: integer
        required: true
      - name: role
        logicalType: string
        required: true
        logicalTypeOptions:
          enum: [system, user, assistant, tool]
      - name: text
        logicalType: string
        required: true
"""


def test_group_quarantine_removes_whole_conversations(spark, tmp_path):
    """Transcript semantics: ONE bad turn disqualifies the ENTIRE
    conversation — committed as a single equality-delete file on conv_id."""
    rows = []
    for c in range(6):
        for t in range(4):
            role = ["user", "assistant"][t % 2]
            if c == 2 and t == 3:
                role = "robot"            # enum violation
            text = None if (c == 4 and t == 1) else f"turn {c}/{t}"
            rows.append((f"conv-{c}", t, role, text))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    root = str(tmp_path / "t")
    write_iceberg_table(df, root, files_per_group=3)

    contract = load_contract_str(TRANSCRIPT_CONTRACT)
    rep = quarantine_violations(spark, root, contract, "transcripts",
                                group_col="conv_id")
    assert rep.quarantined_groups == 2
    assert rep.quarantined_rows == 8          # 2 whole conversations
    got = read_iceberg(spark, root)
    assert got.count() == 16
    assert got.filter("conv_id IN ('conv-2', 'conv-4')").count() == 0

    # the commit is ONE equality delete on conv_id, not 8 positions
    from datacontract_cli_spark.sources.iceberg_table import (
        plan_scan_with_deletes,
    )
    _, _, dels = plan_scan_with_deletes(root)
    assert len(dels) == 1
    assert dels[0]["data_file"]["content"] == 2   # equality delete

    # export carries whole conversations; clean turns have empty reasons
    q = spark.read.parquet(rep.quarantine_path)
    assert q.count() == 8
    assert q.filter(F.size("__dc_reasons") > 0).count() == 2
    # rows appended AFTER the quarantine survive the equality delete
    from datacontract_cli_spark.sources.iceberg_write import append_iceberg
    append_iceberg(
        spark.createDataFrame([("conv-2", 99, "user", "fresh")],
                              "conv_id string, turn_idx int, role string, "
                              "text string"), root)
    assert read_iceberg(spark, root).filter("conv_id = 'conv-2'").count() == 1


NULL_KEY_CONTRACT = """
apiVersion: v3.0.2
kind: DataContract
id: users
version: 1.0.0
name: users
schema:
  - name: users
    logicalType: table
    properties:
      - name: id
        logicalType: integer
      - name: email
        logicalType: string
        unique: true
"""


def test_quarantine_flags_null_key_duplicates(spark, tmp_path):
    """A repeated NULL key is a duplicate group (GROUP BY semantics, as in
    test()): quarantining must flag it, so the cleaned table passes every
    uniqueness check of its own contract."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.run import ResultEnum

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "id int, email string")
    root = str(tmp_path / "users")
    write_iceberg_table(df.orderBy("id"), root)
    contract = load_contract_str(NULL_KEY_CONTRACT)
    engine = SparkContractEngine(spark)
    before = engine.test(contract, tables={"users": read_iceberg(spark, root)})
    assert before.check("users__email__field_unique").result \
        is ResultEnum.failed
    assert before.check("users__email__field_unique") \
        .diagnostics["value"] == 1

    rep = quarantine_violations(spark, root, contract, "users")
    assert rep.counts_by_check == {"users__email__field_unique": 1}

    after = engine.test(contract, tables={"users": read_iceberg(spark, root)})
    unique = [c for c in after.checks if "unique" in c.type]
    assert unique and all(c.result is ResultEnum.passed for c in unique)
    assert read_iceberg(spark, root).count() == 3
