"""The closed-loop workloads.

Each workload has ``prepare`` (runs in a separate process before the
measured one: makes sure the seed's inputs and oracle are cached and sets
up per-run state), ``start`` (in the measured process, outside timing) and
``op`` (one timed operation; returns the rows it validated and the
mismatches against the oracle).
"""

from __future__ import annotations

import json
import os
from typing import Any, Dict, List, Tuple

import yaml

import contracts
import data
import oracle
from harness import compare_verdicts


def run_checks(run) -> Dict[str, Tuple[str, Any, Any]]:
    return {c.key: (c.result.value, (c.diagnostics or {}).get("value"), c.reason)
            for c in run.checks}


def _save(path: str, obj: Any) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def _load(path: str) -> Any:
    with open(path) as f:
        return json.load(f)


class Workload:
    name = ""
    cycle = 1  # operations per round of distinct inputs
    prepare_with_spark = True

    def __init__(self, root: str, cache: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.dir = os.path.join(cache, self.name, f"seed-{seed}")

    def prepare(self, spark) -> None:
        """Generate the seed's inputs and oracle into the cache."""
        data.build(self.dir, self.seed, lambda d: self.write(spark, d))

    def write(self, spark, d: str) -> None:
        raise NotImplementedError

    def start(self, spark) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Tuple[int, List[str]]:
        raise NotImplementedError


class TranscriptsBatch(Workload):
    """One read_iceberg bind plus SparkContractEngine.test of the
    transcripts contract with two drift checks; failed samples off."""

    name = "transcripts-batch"

    def write(self, spark, d: str) -> None:
        data.write_transcripts_table(spark, d, self.seed)
        files = data.iceberg_data_files(os.path.join(d, "table"))
        _save(os.path.join(d, "expected.json"), oracle.expected_for(
            {"transcripts": oracle.relation(files)},
            contracts.transcripts_contract(self.root, drift=True)))

    def start(self, spark) -> None:
        from datacontract_cli_spark import SparkContractEngine, load_contract_str
        from datacontract_cli_spark.sources import iceberg_table

        self.spark = spark
        self.iceberg = iceberg_table
        self.table = os.path.join(self.dir, "table")
        self.contract = load_contract_str(yaml.safe_dump(
            contracts.transcripts_contract(self.root, drift=True), sort_keys=False))
        self.engine = SparkContractEngine(spark)
        self.expected = _load(os.path.join(self.dir, "expected.json"))["checks"]
        self.rows = data.describe(self.dir)["rows"]

    def op(self, i: int) -> Tuple[int, List[str]]:
        df = self.iceberg.read_iceberg(self.spark, self.table)
        run = self.engine.test(self.contract, tables={"transcripts": df})
        return self.rows, compare_verdicts(run_checks(run), self.expected)


class CatalogCi(Workload):
    """A CI job cycling through small contracts over ten local parquet
    tables: load_contract + test(server=...) with failed samples on +
    write_junit."""

    name = "catalog-ci"
    cycle = len(contracts.CATALOG)
    prepare_with_spark = False

    def write(self, spark, d: str) -> None:
        tables = os.path.join(d, "data")
        os.makedirs(tables)
        data.write_catalog(tables, self.seed)
        os.makedirs(os.path.join(d, "contracts"))
        expected = {}
        for entry in contracts.CATALOG:
            with open(os.path.join(d, "contracts", f"{entry['id']}.yaml"), "w") as f:
                f.write(contracts.render(entry, tables))
            relations = {o["name"]: oracle.relation(
                [os.path.join(tables, f"{o['name']}.parquet")]) for o in entry["schema"]}
            expected[entry["id"]] = oracle.expected_for(
                relations, contracts.catalog_contract(entry, tables))["checks"]
        _save(os.path.join(d, "expected.json"), expected)

    def start(self, spark) -> None:
        import pyarrow.parquet as pq

        from datacontract_cli_spark import SparkContractEngine
        from datacontract_cli_spark.model import contract as contract_mod
        from datacontract_cli_spark.output import writers

        self.spark = spark
        self.engine_cls = SparkContractEngine
        self.contract_mod, self.writers = contract_mod, writers
        self.expected = _load(os.path.join(self.dir, "expected.json"))
        self.junit = os.path.join(self.work, "junit")
        os.makedirs(self.junit, exist_ok=True)
        self.rows = {}
        for entry in contracts.CATALOG:
            self.rows[entry["id"]] = sum(
                pq.read_metadata(os.path.join(self.dir, "data", f"{o['name']}.parquet")).num_rows
                for o in entry["schema"])

    def op(self, i: int) -> Tuple[int, List[str]]:
        cid = contracts.CATALOG[i % len(contracts.CATALOG)]["id"]
        contract = self.contract_mod.load_contract(
            os.path.join(self.dir, "contracts", f"{cid}.yaml"))
        run = self.engine_cls(self.spark, include_failed_samples=True).test(
            contract, server="local")
        self.writers.write_junit(run, os.path.join(self.junit, f"{cid}.xml"))
        return self.rows[cid], [f"{cid}: {p}" for p in
                                compare_verdicts(run_checks(run), self.expected[cid])]


WORKLOADS = {w.name: w for w in (TranscriptsBatch, CatalogCi)}
