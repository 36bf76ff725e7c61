"""Seeded inputs for the benchmark: fixture-shaped tables and the etl_load plan.

Everything here is a pure function of the seed. The tables follow the
schemas in FIXTURES.md (the TPC-H-ish star schema, ``events``,
``documents`` and ``embeddings``) with row counts scaled like the
``sf*`` fixture directories, so every registered query and its DuckDB
oracle can run on them. The program under test only ever sees the
files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a the data row column table key value query filter join scan sort "
    "order group agg hash merge window stream batch spark vector part "
    "line customer fast slow big small"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TESTDATA.md ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # ~5% near-duplicates of earlier documents: a copy with one token
    # swapped and a marker token, the shape the dedup operators look for.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        toks = texts[int(rng.integers(0, i))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(toks + ["dup"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)], pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture-shaped tables for ``seed`` at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, nc)], pa.string()),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    })
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
             for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, npart)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(retail, pa.float64()),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no), pa.float64()),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, no) * _DAY_US),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, no)], pa.string()),
    })
    out["lineitem"] = lineitem_table(rng, n["lineitem"], no, npart, ns)
    nev = n["events"]
    users = max(150, int(15_000 * sf))
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, nev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(nev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, nev), pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, nev)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, nev), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)], pa.string()),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def lineitem_table(
    rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int
) -> pa.Table:
    """Lineitem-shaped rows; also the body of every etl_load upload."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _DAY_US),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# etl_load plan
# --------------------------------------------------------------------------

SMALL_ROWS = 20_000
LARGE_ROWS = 300_000
CORRUPT_RATE = 0.01
# One block of the etl_load mix, in order; a round is one block per write
# query. Every round holds the same ops in the same order, and a run
# measures whole rounds, so the mix a run measures does not depend on the
# seed or the host speed. The order is fixed too: a run's first round still
# runs while the JIT warms, and a fixed order puts the large upload and the
# query at the same point of that warm-up in every run.
BLOCK = ("small",) * 3 + ("large",) + ("small",) * 2 + ("reupload",) + ("small",) * 3 + ("query",)


def round_len(queries: tuple[str, ...]) -> int:
    return len(BLOCK) * len(queries)


@dataclass(frozen=True)
class EtlOp:
    index: int
    kind: str  # "upload" | "reupload" | "query"
    rows: int = 0  # upload body size
    file_seed: int = 0  # seeds the upload body and its corrupt rows
    target: int = -1  # reupload: index of the earlier upload whose path it reuses
    query: str = ""  # query: registered write query
    fail_first: bool = False  # first HTTP attempt answered with 503


def etl_plan(seed: int, queries: tuple[str, ...], n_rounds: int) -> list[EtlOp]:
    """The etl_load op sequence for ``seed``. Each round has one block per
    write query: eight small uploads, one large upload, one same-path
    corrected re-upload and the query. The seed sets the upload sizes and
    contents, which earlier upload each re-upload corrects, and which
    upload per round gets a 503 on its first HTTP attempt."""
    rng = np.random.default_rng([seed, 2])
    ops: list[EtlOp] = []
    small_done: list[int] = []
    for _ in range(n_rounds):
        kinds = [f"query:{q}" if k == "query" else k for q in queries for k in BLOCK]
        uploads = [i for i, k in enumerate(kinds) if k in ("small", "large")]
        retry_slot = uploads[int(rng.integers(0, len(uploads)))]
        for slot, kind in enumerate(kinds):
            idx = len(ops)
            if kind.startswith("query:"):
                ops.append(EtlOp(idx, "query", query=kind[len("query:"):]))
            elif kind == "reupload":
                # a recent small upload, each path re-uploaded at most once
                target = small_done.pop(int(rng.integers(max(0, len(small_done) - 8), len(small_done))))
                ops.append(EtlOp(idx, "reupload", rows=ops[target].rows,
                                 file_seed=ops[target].file_seed, target=target))
            else:
                base = SMALL_ROWS if kind == "small" else LARGE_ROWS
                rows = int(base * rng.uniform(0.9, 1.1))
                ops.append(EtlOp(idx, "upload", rows=rows,
                                 file_seed=int(rng.integers(0, 2**31)),
                                 fail_first=slot == retry_slot))
                if kind == "small":
                    small_done.append(idx)
    return ops


@dataclass(frozen=True)
class UploadFile:
    path: str
    rows: int
    corrupt: int  # rows the program must quarantine

    @property
    def good(self) -> int:
        return self.rows - self.corrupt


def write_upload_csv(path: str, rows: int, file_seed: int, corrupt: bool = True) -> UploadFile:
    """Write one lineitem-shaped CSV. About CORRUPT_RATE of its rows carry
    an unparseable ``l_quantity``; ``corrupt=False`` writes the corrected
    file (same rows, every value parseable)."""
    rng = np.random.default_rng([file_seed, 3])
    table = lineitem_table(rng, rows, 150_000, 20_000, 1_000)
    bad = rng.random(rows) < CORRUPT_RATE
    qty = pc.cast(table["l_quantity"], pa.string())
    if corrupt:
        qty = pc.if_else(
            pa.array(bad), pc.binary_join_element_wise(qty, "x", ""), qty
        )
    table = table.set_column(table.schema.get_field_index("l_quantity"), "l_quantity", qty)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(table, path)
    return UploadFile(path, rows, int(bad.sum()) if corrupt else 0)
