"""Expected verdicts and violation counts, computed with DuckDB.

The oracle reads a contract as an ODCS dict (``contracts.py``) and the
parquet files the engine reads, and derives every check the contract
implies, with its key, expected result and, for count checks, the exact
value. It shares no code with the engine: the semantics are the ODCS ones
(missing = NULL; invalid = non-NULL and not valid; a uniqueness check
counts duplicated key groups; an orphan is a non-NULL child key with no
parent), written out as SQL.
"""

from __future__ import annotations

import math
from typing import Any, Dict, List

import duckdb

_INTEGER = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
            "USMALLINT", "UINTEGER", "UBIGINT"}
_FAMILIES = {
    "string": lambda t: t == "VARCHAR",
    "integer": lambda t: t in _INTEGER,
    "number": lambda t: t in _INTEGER or t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"),
    "timestamp": lambda t: t.startswith("TIMESTAMP"),
    "boolean": lambda t: t == "BOOLEAN",
}
_EPS = 1e-6


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def passes(rule: Dict[str, Any], value: Any) -> bool:
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return False
    for key, op in (("mustBe", lambda a, b: a == b),
                    ("mustNotBe", lambda a, b: a != b),
                    ("mustBeGreaterThan", lambda a, b: a > b),
                    ("mustBeGreaterOrEqualTo", lambda a, b: a >= b),
                    ("mustBeLessThan", lambda a, b: a < b),
                    ("mustBeLessOrEqualTo", lambda a, b: a <= b)):
        if key in rule:
            return op(value, rule[key])
    raise ValueError(f"no threshold in {rule}")


class Oracle:
    """One DuckDB connection with a view per model."""

    def __init__(self, relations: Dict[str, str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for model, rel in relations.items():
            self.con.execute(f"CREATE OR REPLACE VIEW {_q(model)} AS SELECT * FROM {rel}")

    def scalar(self, sql: str) -> Any:
        return self.con.execute(sql).fetchone()[0]

    def columns(self, model: str) -> Dict[str, str]:
        rows = self.con.execute(f"DESCRIBE SELECT * FROM {_q(model)}").fetchall()
        return {r[0].lower(): r[1] for r in rows}

    def count(self, model: str, where: str) -> int:
        return int(self.scalar(f"SELECT COUNT(*) FROM {_q(model)} WHERE {where}"))

    def duplicate_groups(self, model: str, cols: List[str]) -> int:
        keys = ", ".join(cols)
        return int(self.scalar(
            f"SELECT COUNT(*) FROM (SELECT {keys} FROM {_q(model)} "
            f"GROUP BY {keys} HAVING COUNT(*) > 1)"))

    # ------------------------------------------------------------------
    def expected(self, contract: Dict[str, Any]) -> Dict[str, Dict[str, Any]]:
        """check key -> {"result", "value", "kind"}; ``kind`` is one of
        schema, missing, invalid, duplicate, row_count, sql, ri, drift."""
        out: Dict[str, Dict[str, Any]] = {}

        def put(key, kind, ok, value=None):
            out[key] = {"result": "passed" if ok else "failed",
                        "value": value, "kind": kind}

        for obj in contract["schema"]:
            m = obj["name"]
            cols = self.columns(m)
            props = obj.get("properties", [])
            for p in props:
                f = p["name"]
                present = f.lower() in cols
                expr = p.get("expression")
                col = _q(f) if present else (f"({expr})" if expr else None)
                put(f"{m}__{f}__field_is_present", "schema", present)
                if p.get("logicalType"):
                    if present:
                        dtype = cols[f.lower()]
                    elif expr:
                        dtype = self.scalar(f"SELECT typeof({expr}) FROM {_q(m)} LIMIT 1")
                    else:
                        dtype = None
                    ok = dtype is not None and _FAMILIES[p["logicalType"]](dtype)
                    put(f"{m}__{f}__field_type", "schema", ok)
                if col is None:
                    continue
                missing = lambda: self.count(m, f"{col} IS NULL")  # noqa: E731
                if p.get("required"):
                    v = missing()
                    put(f"{m}__{f}__field_required", "missing", v == 0, v)
                composite = sum(1 for q in props if q.get("primaryKey")) > 1
                if p.get("unique"):
                    v = self.duplicate_groups(m, [col])
                    put(f"{m}__{f}__field_unique", "duplicate", v == 0, v)
                if p.get("primaryKey"):
                    if not p.get("required"):
                        v = missing()
                        put(f"{m}__{f}__field_primary_key_required", "missing", v == 0, v)
                    if not composite and not p.get("unique"):
                        v = self.duplicate_groups(m, [col])
                        put(f"{m}__{f}__field_primary_key_unique", "duplicate", v == 0, v)
                for name, cond in self._validity(col, p.get("logicalTypeOptions", {})):
                    v = self.count(m, f"{col} IS NOT NULL AND NOT COALESCE({cond}, TRUE)")
                    put(f"{m}__{f}__{name}", "invalid", v == 0, v)
                for idx, rule in enumerate(p.get("quality", [])):
                    self._field_rule(put, m, f, col, idx, rule)
            pk = sorted((q for q in props if q.get("primaryKey")),
                        key=lambda q: q.get("primaryKeyPosition", 0))
            if len(pk) > 1:
                v = self.duplicate_groups(m, [_q(q["name"]) for q in pk])
                put(f"{m}__primary_key_unique", "duplicate", v == 0, v)
            for idx, rule in enumerate(obj.get("quality", [])):
                if rule.get("type") == "sql":
                    v = self.scalar(rule["query"])
                    put(f"{m}__quality_sql_{idx}", "sql", passes(rule, v), v)
                elif rule.get("metric") == "rowCount":
                    v = int(self.scalar(f"SELECT COUNT(*) FROM {_q(m)}"))
                    put(f"{m}__row_count", "row_count", passes(rule, v), v)
                elif rule.get("metric") == "duplicateValues":
                    v = self.duplicate_groups(
                        m, [_q(c) for c in rule["arguments"]["properties"]])
                    put(f"{m}__model_duplicate_values", "duplicate", passes(rule, v), v)
                else:
                    raise ValueError(f"oracle has no rule for {rule}")
        return out

    @staticmethod
    def _validity(col: str, opts: Dict[str, Any]):
        if "minLength" in opts:
            yield "field_min_length", f"length(CAST({col} AS VARCHAR)) >= {opts['minLength']}"
        if "maxLength" in opts:
            yield "field_max_length", f"length(CAST({col} AS VARCHAR)) <= {opts['maxLength']}"
        if "minimum" in opts:
            yield "field_minimum", f"{col} >= {opts['minimum']}"
        if "maximum" in opts:
            yield "field_maximum", f"{col} <= {opts['maximum']}"
        if "pattern" in opts:
            yield "field_regex", f"regexp_matches({col}, {_lit(opts['pattern'])})"
        if opts.get("enum"):
            yield "field_enum", f"{col} IN ({', '.join(_lit(v) for v in opts['enum'])})"

    def _field_rule(self, put, m: str, f: str, col: str, idx: int,
                    rule: Dict[str, Any]) -> None:
        metric = rule.get("metric")
        if rule.get("type") == "sql":
            v = self.scalar(rule["query"])
            put(f"{m}__{f}__quality_sql_{idx}", "sql", passes(rule, v), v)
        elif metric == "referentialIntegrity":
            ref_model, _, ref_field = rule["arguments"]["ref"].partition(".")
            v = int(self.scalar(
                f"SELECT COUNT(*) FROM {_q(m)} AS c WHERE c.{_q(f)} IS NOT NULL AND NOT "
                f"EXISTS (SELECT 1 FROM {_q(ref_model)} AS p WHERE p.{_q(ref_field)} = c.{_q(f)})"))
            put(f"{m}__{f}__referential_integrity", "ri", passes(rule, v), v)
        elif metric == "duplicateValues":
            v = self.duplicate_groups(m, [col])
            put(f"{m}__{f}__field_duplicate_values", "duplicate", passes(rule, v), v)
        elif metric == "freqDriftPsi":
            put(f"{m}__{f}__freq_drift_psi", "drift",
                passes(rule, self.psi(m, col, rule["arguments"]["baseline"])))
        elif metric == "quantileDriftKs":
            put(f"{m}__{f}__quantile_drift_ks", "drift",
                passes(rule, self.ks(m, col, rule["arguments"]["baseline"]["quantiles"])))
        else:
            raise ValueError(f"oracle has no rule for {rule}")

    def psi(self, m: str, col: str, baseline: Dict[str, float]) -> float:
        rows = self.con.execute(
            f"SELECT {col} AS k, COUNT(*) * 1.0 / SUM(COUNT(*)) OVER () "
            f"FROM {_q(m)} GROUP BY {col}").fetchall()
        actual = {k: frac for k, frac in rows}
        total = 0.0
        for k in set(actual) | set(baseline):
            a = max(actual.get(k, 0.0), _EPS)
            b = max(float(baseline.get(k, 0.0)), _EPS)
            total += (a - b) * math.log(a / b)
        return total

    def ks(self, m: str, col: str, quantiles: Dict[str, float]) -> float:
        worst = 0.0
        n = self.count(m, f"{col} IS NOT NULL")
        for q, x in quantiles.items():
            below = self.count(m, f"{col} <= {x}")
            worst = max(worst, abs(below / n - float(q)))
        return worst


def relation(files: List[str]) -> str:
    return "read_parquet([" + ", ".join(_lit(f) for f in files) + "])"


def expected_for(relations: Dict[str, str], contract: Dict[str, Any]) -> Dict[str, Any]:
    o = Oracle(relations)
    out: Dict[str, Any] = {"checks": o.expected(contract)}
    o.con.close()
    return out
