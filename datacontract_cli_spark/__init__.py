"""datacontract_cli_spark — a PySpark-native data-contract validation engine.

A from-scratch rebuild of the capabilities of datacontract/datacontract-cli's
`test` command (reference snapshot at /root/reference, v1.1.0), re-expressed
Spark-first: the contract (YAML, ODCS v3 subset) is compiled into an
engine-neutral check IR, the IR is compiled into native PySpark DataFrame
expressions (one batched aggregation per model), thresholds are evaluated on
the driver, and results come back as a Run/Check tree compatible with the
reference's result model (reference: datacontract/model/run.py).

Beyond the reference, the engine adds referential-integrity checks,
distribution-drift checks (PSI, and KS exact at the baseline's points),
per-partition verdicts with checkpoint/resume, and a library of large-scale
training-data operators (dedup, similarity search, text stats) under
``datacontract_cli_spark.operators``.
"""

from datacontract_cli_spark.model.run import Check, ResultEnum, Run
from datacontract_cli_spark.model.contract import DataContract, load_contract, load_contract_str
from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op, Threshold
from datacontract_cli_spark.checks.compile import compile_checks
from datacontract_cli_spark.engine.executor import SparkContractEngine

__version__ = "0.1.0"

__all__ = [
    "Check",
    "CheckSpec",
    "DataContract",
    "MetricType",
    "Op",
    "ResultEnum",
    "Run",
    "SparkContractEngine",
    "Threshold",
    "compile_checks",
    "load_contract",
    "load_contract_str",
]
