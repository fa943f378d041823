"""Contract-driven row quarantine over Iceberg tables.

Composes the validation engine with merge-on-read writes: every row that
violates a row-scoped contract check (required / enum / regex / range /
length / primary-key uniqueness) is

1. written to a quarantine parquet (full row + the list of violated check
   keys — the triage surface), and
2. removed from the table by committing ONE positional-delete snapshot
   (Iceberg v2 content=1) — no data file is rewritten.

Readers see either the pre-quarantine snapshot or the fully-cleaned one
(snapshot atomicity); time travel to the old snapshot still shows the
violating rows. This is the "validate, then gate the bad rows out of the
training set" loop a 10^12-turn transcript pipeline runs per ingest
batch; the reference CLI reports violations (datacontract/engine
run results + failed samples) but leaves acting on them to the caller —
this operator closes that loop natively on the lakehouse.

Scale design (100 TB): the predicate lane is pure Column math inside the
single table scan (whole-stage codegen, zero shuffle). The uniqueness
lane is one hash-partitioned window per key set — the same shuffle a
groupBy-keys would pay — ordered by (file, pos) so the KEPT row is the
deterministic first occurrence in layout order. Both lanes take their
rules from the metric plan (``engine/metric_plan.py``): the row predicates
``test()`` counts and its NULL-key rule (a repeated NULL key is a
duplicate), so a quarantined table passes its own contract's row-level
and uniqueness checks. Quarantined volume is
assumed a small fraction of the table: the delete file is tiny and the
quarantine parquet is violations-sized, never table-sized.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
from datacontract_cli_spark.engine.metric_plan import (
    ROW_LEVEL,
    duplicate_occurrence,
    key_columns,
)
from datacontract_cli_spark.engine.predicates import resolve_column
from datacontract_cli_spark.engine.violations import violation_conditions
from datacontract_cli_spark.model.contract import DataContract

_FILE, _POS = "__icb_file", "__icb_pos"


@dataclass
class QuarantineReport:
    """Outcome of one quarantine pass."""
    quarantined_rows: int
    counts_by_check: Dict[str, int]
    snapshot_id: Optional[int]  # None on dry_run or when nothing matched
    quarantine_path: Optional[str]
    checks_applied: List[str] = dc_field(default_factory=list)
    quarantined_groups: Optional[int] = None  # set when group_col is used


def _row_level_specs(contract: DataContract, model: str) -> List[CheckSpec]:
    return [s for s in compile_checks(contract) if s.model == model and (
        (s.metric in ROW_LEVEL and s.field)
        or (s.metric is MetricType.DUPLICATE_COUNT and key_columns(s)))]


def violation_reasons(df: DataFrame, specs: List[CheckSpec]) -> DataFrame:
    """Append ``__dc_reasons`` — the array of check keys each row violates
    (empty array = clean row). Predicate checks are the metric plan's row
    predicates in the scan; each uniqueness check flags every occurrence
    AFTER the first in (file, pos) order via one window, NULL keys
    included (a repeated NULL is a duplicate, as in ``test()``)."""
    conds = violation_conditions(df, specs)
    flags = []
    for s in specs:
        if s.metric is MetricType.DUPLICATE_COUNT:
            keys = [resolve_column(df, c) or c for c in key_columns(s)]
            flags.append(F.when(duplicate_occurrence(keys, [_FILE, _POS]),
                                F.lit(s.key)))
        elif s.key in conds:
            flags.append(F.when(conds[s.key], F.lit(s.key)))
    if not flags:
        return df.withColumn("__dc_reasons",
                             F.array().cast("array<string>"))
    return df.withColumn("__dc_reasons", F.array_compact(F.array(*flags)))


def quarantine_violations(spark: SparkSession, table_path: str,
                          contract: DataContract, model: str,
                          quarantine_path: Optional[str] = None,
                          dry_run: bool = False,
                          group_col: Optional[str] = None
                          ) -> QuarantineReport:
    """Quarantine every row of the Iceberg table at ``table_path`` that
    violates a row-scoped check of ``contract``'s ``model``. Violating
    rows land in ``quarantine_path`` (parquet; default
    ``<table>/quarantine/``) with a ``__dc_reasons`` column, then one
    positional-delete snapshot removes them from the live table.
    ``dry_run=True`` writes and commits nothing — it only reports what
    WOULD be quarantined.

    ``group_col`` widens the blast radius to whole groups — the
    transcript semantics: ONE bad turn disqualifies the ENTIRE
    conversation from the training set. Every row of a group containing
    any violation is quarantined (clean rows carry an empty
    ``__dc_reasons``), and the table commit becomes a single EQUALITY
    delete file on ``group_col`` (Iceberg v2 content=2) — keys only,
    tiny regardless of conversation length, applied lazily by the
    reader's broadcast anti-join."""
    import os

    from datacontract_cli_spark.sources.iceberg_table import read_iceberg
    from datacontract_cli_spark.sources.iceberg_write import (
        _commit_delete_snapshot,
        load_table_metadata,
    )

    specs = _row_level_specs(contract, model)
    report = QuarantineReport(0, {}, None, None,
                              checks_applied=[s.key for s in specs])
    if not specs:
        return report

    meta = load_table_metadata(table_path)
    scan = read_iceberg(spark, table_path, with_position=True)
    flagged = violation_reasons(scan, specs)
    bad = flagged.filter(F.size("__dc_reasons") > 0)
    if group_col is not None:
        # one bad row taints its whole group: quarantine every row of a
        # group that contains a violation (the group's clean rows ride
        # along with empty reasons, keeping the export self-contained)
        gc = resolve_column(scan, group_col)
        if gc is None:
            raise ValueError(f"group column {group_col!r} not in table")
        bad_keys = bad.select(gc).dropDuplicates()
        bad = flagged.join(F.broadcast(bad_keys), gc, "left_semi")

    batch_dir = None
    if not dry_run:
        if quarantine_path is None:
            from datacontract_cli_spark.sources.iceberg_table import (
                _strip_scheme,
            )
            quarantine_path = os.path.join(_strip_scheme(table_path),
                                           "quarantine")
        # one sub-dir per run, named for the delete snapshot this run
        # will commit — repeated runs never fold into each other's counts
        next_snap = max((s["snapshot-id"]
                         for s in meta.get("snapshots", [])), default=0) + 1
        batch_dir = os.path.join(quarantine_path, f"batch-{next_snap}")
        bad.write.mode("overwrite").parquet(batch_dir)
        bad = spark.read.parquet(batch_dir)

    counts = {r["reason"]: r["n"] for r in
              (bad.select(F.explode("__dc_reasons").alias("reason"))
               .groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
               .collect())}
    total = bad.count()
    report.counts_by_check = counts
    report.quarantined_rows = total
    report.quarantine_path = batch_dir
    if group_col is not None:
        report.quarantined_groups = (
            bad.select(resolve_column(bad, group_col) or group_col)
            .dropDuplicates().count())
    if dry_run or total == 0:
        return report

    if group_col is not None:
        gc = resolve_column(bad, group_col) or group_col
        sch = next((s for s in meta.get("schemas", [])
                    if s.get("schema-id")
                    == meta.get("current-schema-id", 0)),
                   None) or {"fields": []}
        id_by_name = {f["name"]: f["id"] for f in sch["fields"]}
        keys = bad.select(gc).dropDuplicates().orderBy(gc)
        report.snapshot_id = _commit_delete_snapshot(
            table_path, meta, keys, content=2,
            equality_ids=[id_by_name[gc]])
        return report
    matches = (bad.select(F.col(_FILE).alias("file_path"),
                          F.col(_POS).alias("pos"))
               .dropDuplicates()
               .orderBy("file_path", "pos"))
    report.snapshot_id = _commit_delete_snapshot(
        table_path, meta, matches, content=1, equality_ids=None)
    return report
