"""Seeded inputs and their on-disk cache.

Each workload's inputs for one seed live in ``<cache>/<workload>/seed-<n>``
with a ``fingerprint.json`` written last. A directory whose fingerprint
is missing, names another seed, generator version or location, or whose
file count or row count differs from what the fingerprint records is
deleted and generated again; it is never reused.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Any, Callable, Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FINGERPRINT = "fingerprint.json"

# transcripts-batch: one Iceberg table of BATCH_TURNS turns
BATCH_TURNS = 400_000
TURNS_PER_CONV = 8


def generator_version() -> str:
    """Hash of the files that decide what is generated and expected, so a
    changed generator or oracle never reuses an old cache."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for name in ("data.py", "contracts.py", "oracle.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def parquet_files(root: str) -> List[str]:
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def _count_files(root: str) -> int:
    return sum(len([f for f in files if f != FINGERPRINT])
               for _, _, files in os.walk(root))


def _rows(root: str) -> int:
    return sum(pq.read_metadata(p).num_rows for p in parquet_files(root))


def _want(directory: str, seed: int) -> Dict[str, Any]:
    return {"seed": seed, "version": generator_version(),
            "location": os.path.abspath(directory)}


def is_cached(directory: str, seed: int) -> bool:
    """True when ``directory`` holds complete inputs for ``seed``."""
    want = _want(directory, seed)
    try:
        with open(os.path.join(directory, FINGERPRINT)) as f:
            have = json.load(f)
        return ({k: have.get(k) for k in want} == want
                and have.get("files") == _count_files(directory)
                and have.get("rows") == _rows(directory))
    except (OSError, ValueError, pa.ArrowException):
        return False


def build(directory: str, seed: int, write: Callable[[str], None]) -> None:
    """Generate the inputs for ``seed`` into an emptied ``directory``; the
    fingerprint is written last, so an interrupted build is never reused."""
    shutil.rmtree(directory, ignore_errors=True)
    os.makedirs(directory)
    write(directory)
    record = dict(_want(directory, seed), files=_count_files(directory),
                  rows=_rows(directory))
    fp = os.path.join(directory, FINGERPRINT)
    with open(fp + ".tmp", "w") as f:
        json.dump(record, f)
    os.replace(fp + ".tmp", fp)


# ---------------------------------------------------------------------------
# catalog tables (TPC-H-like shapes, plus events / documents / embeddings)
# ---------------------------------------------------------------------------

_WORDS = np.array(["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
                   "golf", "hotel", "india", "juliet", "kilo", "lima"])
_BASE_TS = np.datetime64("1995-01-01T00:00:00", "us")


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(_BASE_TS + seconds.astype("timedelta64[s]"),
                    type=pa.timestamp("us", tz="UTC"))


def _plant(rng: np.random.Generator, n: int, lo: int = 1, hi: int = 12) -> np.ndarray:
    """Indices of a seed-dependent handful of rows that get a defect."""
    return rng.choice(n, size=int(rng.integers(lo, hi)), replace=False)


def catalog_tables(seed: int) -> Dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    t: Dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})

    n_region = rng.integers(0, 5, 25)
    n_region[_plant(rng, 25, 1, 3)] = 7  # orphans
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(n_region, pa.int32())})

    s_nation = rng.integers(0, 25, 100)
    s_nation[_plant(rng, 100)] = 30
    s_name = [f"Supplier#{i:09d}" for i in range(1, 101)]
    for i in _plant(rng, 100, 0, 4):
        s_name[i] += "-x"
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, 101), pa.int64()),
        "s_name": s_name,
        "s_nationkey": pa.array(s_nation, pa.int32()),
        "s_acctbal": rng.uniform(-999.99, 9999.99, 100).round(2)})

    n = 2000
    brand = [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n, 2))]
    for i in _plant(rng, n):
        brand[i] = "Brand#60"
    size = rng.integers(1, 51, n)
    size[_plant(rng, n)] = 55
    price = (900 + np.arange(1, n + 1) % 1000 + rng.uniform(0, 10, n)).round(2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "p_name": [" ".join(w) for w in rng.choice(_WORDS, (n, 3))],
        "p_brand": brand,
        "p_type": [f"TYPE {i % 25}" for i in range(n)],
        "p_size": pa.array(size, pa.int32()),
        "p_retailprice": price})

    n = 1500
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    mkt = rng.choice(seg, n).astype(object)
    mkt[_plant(rng, n)] = "UNKNOWN"
    mkt[_plant(rng, n, 0, 5)] = None
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": rng.uniform(-999.99, 9999.99, n).round(2),
        "c_mktsegment": pa.array(mkt, pa.string())})

    n = 15000
    okey = np.arange(1, n + 1) * 4
    dup = _plant(rng, n)
    okey[dup] = okey[(dup + 1) % n]  # duplicate order keys
    cust = rng.integers(1, 1501, n)
    cust[_plant(rng, n)] = 1600 + rng.integers(0, 100)
    status = rng.choice(np.array(["F", "O", "P"]), n).astype(object)
    status[_plant(rng, n)] = "X"
    total = rng.uniform(900, 450000, n).round(2)
    total[_plant(rng, n, 0, 6)] = -1.0
    prio = rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                "5-LOW"]), n).astype(object)
    prio[_plant(rng, n)] = "9-BAD"
    t["orders"] = pa.table({
        "o_orderkey": pa.array(okey, pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": pa.array(status, pa.string()),
        "o_totalprice": total,
        "o_orderdate": _ts(rng.integers(0, 6 * 365 * 86400, n)),
        "o_orderpriority": pa.array(prio, pa.string())})

    n = 60000
    lkey = np.repeat(np.arange(1, 15001) * 4, 4)[:n]
    lnum = np.tile(np.arange(1, 5), 15000)[:n]
    d = _plant(rng, n)
    lkey[d], lnum[d] = lkey[(d + 1) % n], lnum[(d + 1) % n]  # duplicate pairs
    lkey[_plant(rng, n)] = 3  # keys no order has (orders use multiples of 4)
    disc = rng.integers(0, 11, n) / 100.0
    disc[_plant(rng, n)] = 0.2
    qty = rng.integers(1, 51, n).astype(float)
    qty[_plant(rng, n, 0, 5)] = 0.0
    flag = rng.choice(np.array(["A", "N", "R"]), n).astype(object)
    flag[_plant(rng, n, 0, 5)] = None
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": (qty * rng.uniform(900, 2000, n)).round(2),
        "l_discount": disc,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(flag, pa.string()),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _ts(rng.integers(0, 7 * 365 * 86400, n))})

    n = 10000
    eid = np.arange(1, n + 1)
    d = _plant(rng, n)
    eid[d] = eid[(d + 1) % n]
    users = rng.integers(1, 1501, n)
    users[_plant(rng, n)] = 99999
    etype = rng.choice(np.array(["click", "view", "purchase", "signup"]), n).astype(object)
    etype[_plant(rng, n, 0, 5)] = "refund"
    value = rng.exponential(20.0, n).round(3)
    value[_plant(rng, n, 0, 4)] = -5.0
    value_arr = pa.array(value, mask=np.isin(np.arange(n), _plant(rng, n, 0, 6)))
    t["events"] = pa.table({
        "event_id": pa.array(eid, pa.int64()),
        "ts": _ts(rng.integers(0, 365 * 86400, n)),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": value_arr,
        "props": [f'{{"k": {i % 7}}}' for i in range(n)]})

    n = 500
    lens = rng.integers(2, 60, n)
    text = [" ".join(rng.choice(_WORDS, k)) for k in lens]
    for i in _plant(rng, n, 0, 4):
        text[i] = "tiny"
    n_chars = np.array([len(s) for s in text])
    n_chars[_plant(rng, n, 0, 4)] += 1
    lang = rng.choice(np.array(["en", "de", "fr", "es"]), n).astype(object)
    lang[_plant(rng, n, 0, 4)] = "xx"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(1, n + 1), pa.int64()),
        "text": text,
        "lang": pa.array(lang, pa.string()),
        "source": rng.choice(np.array(["web", "books", "code"]), n),
        "n_chars": pa.array(n_chars, pa.int64())})

    label = rng.integers(0, 10, n)
    label[_plant(rng, n, 0, 4)] = 12
    vec_id = np.arange(1, n + 1)
    vec_id[_plant(rng, n, 0, 3)] = 1
    emb = rng.standard_normal((n, 16)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(vec_id, pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def write_catalog(directory: str, seed: int) -> None:
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# transcripts (Spark-generated)
# ---------------------------------------------------------------------------

def transcripts_frame(spark, turns: int, seed: int):
    from datacontract_cli_spark.sources.transcripts import synthesize_transcripts

    return synthesize_transcripts(spark, n_convs=turns // TURNS_PER_CONV,
                                  turns_per_conv=TURNS_PER_CONV, seed=seed,
                                  defect_rate=0.01, hot_conv_fraction=0.05)


def write_transcripts_table(spark, directory: str, seed: int) -> None:
    from datacontract_cli_spark.sources.iceberg_write import write_iceberg_table

    write_iceberg_table(transcripts_frame(spark, BATCH_TURNS, seed),
                        os.path.join(directory, "table"), files_per_group=4)


def iceberg_data_files(table: str) -> List[str]:
    return parquet_files(os.path.join(table, "data"))


def describe(directory: str) -> Dict[str, Any]:
    with open(os.path.join(directory, FINGERPRINT)) as f:
        return json.load(f)
