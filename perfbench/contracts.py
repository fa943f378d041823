"""The contracts the benchmark tests, as ODCS dicts, and their YAML.

Every contract lives here as one ODCS-shaped dict. ``render`` writes it as
ODCS YAML, or in the legacy Data Contract Specification layout
(``models:``/``fields:``) so that the loader's conversion runs too. The
oracle (``oracle.py``) reads the same dicts, never the engine's compiled
checks.
"""

from __future__ import annotations

import copy
import os
from typing import Any, Dict, List

import yaml

TRANSCRIPTS_FIXTURE = os.path.join("tests", "fixtures", "transcripts_contract.yaml")

# Role mix and text-length quantiles of synthesize_transcripts with
# defect_rate=0.01, hot_conv_fraction=0.05; both drift checks pass with a
# wide margin on every seed.
ROLE_BASELINE = {"system": 0.12, "user": 0.40, "assistant": 0.30, "tool": 0.18}
TEXT_LEN_QUANTILES = {"0.1": 43, "0.5": 133, "0.9": 235}


def transcripts_contract(root: str, drift: bool) -> Dict[str, Any]:
    """The north-star transcripts contract from the test fixtures; with
    ``drift`` it gains a role-frequency PSI check and a text-length KS
    check whose ``quantiles`` baseline runs the t-digest lane."""
    with open(os.path.join(root, TRANSCRIPTS_FIXTURE), encoding="utf-8") as f:
        doc = yaml.safe_load(f)
    if not drift:
        return doc
    obj = doc["schema"][0]
    props = obj["properties"]
    role = next(p for p in props if p["name"] == "role")
    role.setdefault("quality", []).append({
        "type": "library", "metric": "freqDriftPsi", "mustBeLessThan": 0.25,
        "arguments": {"baseline": dict(ROLE_BASELINE)}})
    at = next(i for i, p in enumerate(props) if p["name"] == "text") + 1
    props.insert(at, {
        "name": "text_len", "logicalType": "number", "expression": "length(text)",
        "quality": [{"type": "library", "metric": "quantileDriftKs",
                     "mustBeLessThan": 0.1,
                     "arguments": {"baseline": {
                         "quantiles": dict(TEXT_LEN_QUANTILES)}}}]})
    return doc


def _p(name: str, logical: str, **kw) -> Dict[str, Any]:
    prop: Dict[str, Any] = {"name": name, "logicalType": logical}
    opts = {k: kw.pop(k) for k in ("enum", "pattern", "minimum", "maximum",
                                   "minLength", "maxLength") if k in kw}
    if opts:
        prop["logicalTypeOptions"] = opts
    prop.update(kw)
    return prop


def _ri(ref: str) -> Dict[str, Any]:
    return {"type": "library", "metric": "referentialIntegrity", "mustBe": 0,
            "arguments": {"ref": ref}}


def _sql(query: str, **threshold) -> Dict[str, Any]:
    return {"type": "sql", "query": query, **threshold}


def _row_count(**threshold) -> Dict[str, Any]:
    return {"type": "library", "metric": "rowCount", **threshold}


_CUSTOMER = {"name": "customer", "properties": [
    _p("c_custkey", "integer", required=True, unique=True),
    _p("c_name", "string", required=True, pattern="^Customer#[0-9]{9}$"),
    _p("c_nationkey", "integer", minimum=0, maximum=24),
    _p("c_acctbal", "number", minimum=-999.99, maximum=9999.99),
    _p("c_mktsegment", "string",
       enum=["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
]}

# (name, legacy layout, schema objects). Several rules fail by construction:
# the generator plants orphans, duplicates, out-of-range and out-of-enum
# values in a seed-dependent number of rows.
CATALOG: List[Dict[str, Any]] = [
    {"id": "orders-ci", "legacy": False, "schema": [
        {"name": "orders", "properties": [
            _p("o_orderkey", "integer", required=True, unique=True),
            _p("o_custkey", "integer", required=True,
               quality=[_ri("customer.c_custkey")]),
            _p("o_orderstatus", "string", required=True, enum=["F", "O", "P"]),
            _p("o_totalprice", "number", minimum=0),
            _p("o_orderdate", "timestamp"),
            _p("o_orderpriority", "string", pattern="^[1-5]-[A-Z]+"),
        ], "quality": [
            _row_count(mustBeGreaterThan=0),
            _sql("SELECT COUNT(*) FROM orders WHERE o_totalprice > 400000",
                 mustBeLessThan=50),
        ]},
        copy.deepcopy(_CUSTOMER),
        {"name": "lineitem", "properties": [
            _p("l_orderkey", "integer", required=True,
               quality=[_ri("orders.o_orderkey")]),
            _p("l_linenumber", "integer", minimum=1, maximum=7),
            _p("l_quantity", "number", minimum=1, maximum=50),
            _p("l_discount", "number", minimum=0, maximum=0.1),
            _p("l_returnflag", "string", enum=["A", "N", "R"]),
            _p("l_shipdate", "timestamp", required=True),
        ], "quality": [
            {"type": "library", "metric": "duplicateValues", "mustBe": 0,
             "arguments": {"properties": ["l_orderkey", "l_linenumber"]}},
            _row_count(mustBeGreaterThan=1000),
        ]},
    ]},
    {"id": "parts-legacy", "legacy": True, "schema": [
        {"name": "part", "properties": [
            _p("p_partkey", "integer", required=True, unique=True),
            _p("p_type", "string", required=True),
            _p("p_brand", "string", pattern="^Brand#[1-5][1-5]$"),
            _p("p_size", "integer", minimum=1, maximum=50),
            _p("p_retailprice", "number", minimum=0),
        ], "quality": [
            _row_count(mustBeGreaterThan=0),
            _sql("SELECT COUNT(*) FROM part WHERE p_retailprice > 1900",
                 mustBeLessThan=10),
        ]},
        {"name": "supplier", "properties": [
            _p("s_suppkey", "integer", required=True, unique=True),
            _p("s_name", "string", required=True, minLength=18, maxLength=18),
            _p("s_nationkey", "integer", quality=[_ri("nation.n_nationkey")]),
            _p("s_acctbal", "number"),
        ]},
        {"name": "nation", "properties": [
            _p("n_nationkey", "integer", required=True, unique=True),
            _p("n_name", "string", required=True),
            _p("n_regionkey", "integer", quality=[_ri("region.r_regionkey")]),
        ]},
        {"name": "region", "properties": [
            _p("r_regionkey", "integer", required=True, unique=True),
            _p("r_name", "string",
               enum=["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        ]},
    ]},
    {"id": "events-ci", "legacy": False, "schema": [
        {"name": "events", "properties": [
            _p("event_id", "integer", required=True, unique=True),
            _p("ts", "timestamp", required=True),
            _p("user_id", "integer", quality=[_ri("customer.c_custkey")]),
            _p("event_type", "string", required=True,
               enum=["click", "view", "purchase", "signup"]),
            _p("value", "number", minimum=0),
            _p("props", "string", pattern="^[{]"),
        ], "quality": [
            _row_count(mustBeGreaterThan=1000),
            _sql("SELECT COUNT(*) FROM events WHERE event_type = 'purchase' "
                 "AND value IS NULL", mustBe=0),
        ]},
        copy.deepcopy(_CUSTOMER),
    ]},
    {"id": "corpus-ci", "legacy": False, "schema": [
        {"name": "documents", "properties": [
            _p("doc_id", "integer", required=True, unique=True),
            _p("text", "string", required=True, minLength=10, maxLength=5000),
            _p("lang", "string", enum=["en", "de", "fr", "es"]),
            _p("source", "string", required=True),
            _p("n_chars", "integer", minimum=1),
        ], "quality": [
            _sql("SELECT COUNT(*) FROM documents WHERE n_chars <> LENGTH(text)",
                 mustBe=0),
        ]},
        {"name": "embeddings", "properties": [
            _p("vec_id", "integer", required=True, unique=True),
            _p("label", "integer", required=True, minimum=0, maximum=9),
        ], "quality": [
            _row_count(mustBeGreaterThan=0),
            {"type": "library", "metric": "duplicateValues", "mustBe": 0,
             "arguments": {"properties": ["vec_id", "label"]}},
        ]},
    ]},
]

_DCS_TYPES = {"string": "string", "integer": "long", "number": "double",
              "timestamp": "timestamp"}


def catalog_contract(entry: Dict[str, Any], data_dir: str) -> Dict[str, Any]:
    """The ODCS dict of one catalog contract bound to ``data_dir``."""
    return {
        "apiVersion": "v3.0.2", "kind": "DataContract", "id": entry["id"],
        "version": "1.0.0", "name": entry["id"],
        "servers": [{"server": "local", "type": "local", "format": "parquet",
                     "path": data_dir}],
        "schema": [dict(obj, logicalType="table") for obj in entry["schema"]],
    }


def _legacy(entry: Dict[str, Any], data_dir: str) -> Dict[str, Any]:
    models = {}
    for obj in entry["schema"]:
        fields = {}
        for p in obj["properties"]:
            f: Dict[str, Any] = {"type": _DCS_TYPES[p["logicalType"]]}
            for k in ("required", "unique", "quality"):
                if k in p:
                    f[k] = p[k]
            f.update(p.get("logicalTypeOptions", {}))
            fields[p["name"]] = f
        model: Dict[str, Any] = {"type": "table", "fields": fields}
        if obj.get("quality"):
            model["quality"] = obj["quality"]
        models[obj["name"]] = model
    return {
        "dataContractSpecification": "1.1.0", "id": entry["id"],
        "info": {"title": entry["id"], "version": "1.0.0"},
        "servers": {"local": {"type": "local", "format": "parquet",
                              "path": data_dir}},
        "models": models,
    }


def render(entry: Dict[str, Any], data_dir: str) -> str:
    doc = _legacy(entry, data_dir) if entry["legacy"] else catalog_contract(entry, data_dir)
    return yaml.safe_dump(doc, sort_keys=False)
