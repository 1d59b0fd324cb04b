"""Seeded input generator for the benchmark workloads.

Every input the program receives is written here, from ``--seed`` alone:
the same (workload, seed) pair writes byte-identical files. Nothing reads
the clock, the environment or any file outside the output directory
(the World-Cup raw rows come from the program's literal fixture module,
which is source, not data).

Run on its own to inspect the inputs:

    python3 perfbench/gen.py --workload corpus_prep --seed 1 --out gen-out
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Catalog row counts for ``corpus_prep``: small facts beside 3,000
#: documents and 6,000 embeddings, so a warm pass plus its DuckDB checks
#: fits the run budget.
CATALOG_SIZES = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                     lineitem=60_000, events=10_000, documents=3_000,
                     embeddings=6_000)

#: Share of documents written as a near-duplicate of an earlier document
#: (one word replaced), listed in ``neardup_pairs.parquet``.
NEARDUP_SHARE = 0.05

#: Event micro-batches for ``cdc_ingest``. Each pass merges into a fresh
#: table holding batch 0: five merges, ten in a traced run's pairs.
CDC_BATCHES = 11
CDC_BATCH_EVENTS = 8_000
CDC_USERS = 2_000

#: The shipped testdata's document vocabulary, drawn uniformly as there.
VOCAB = (
    "a the query row stream spark line small fast group customer batch sort "
    "value hash filter big data part column order scan slow agg key "
    "window table merge vector join"
).split()
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("blue", "old", "small", "new", "red", "large", "hot", "cold")
P_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
STATUSES = ("O", "P", "F")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "en", "en", "es", "de", "fr", "zh")
#: 2024-01-01T00:00:00 UTC, in microseconds.
EPOCH_2024_US = 1_704_067_200_000_000


def rng_for(workload: str, seed: int) -> np.random.Generator:
    """One independent stream per (workload, seed)."""
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return os.path.getsize(path)


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start: dt.date, span_days: int) -> pa.Array:
    base = np.datetime64(start, "ms")
    d = base + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[ms]"), pa.timestamp("ms"))


def _documents(rng, n: int) -> tuple[pa.Table, pa.Table]:
    """Word-salad documents of 10-100 words; a NEARDUP_SHARE of them copy
    an earlier document with one word replaced. Returns (documents,
    planted pairs)."""
    texts: list[str] = []
    pairs_a: list[int] = []
    pairs_b: list[int] = []
    for i in range(n):
        if i >= 20 and rng.random() < NEARDUP_SHARE:
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            pos = int(rng.integers(0, len(words)))
            choices = [w for w in VOCAB if w != words[pos]]
            words[pos] = choices[int(rng.integers(0, len(choices)))]
            texts.append(" ".join(words))
            pairs_a.append(src)
            pairs_b.append(i)
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(VOCAB, size=k)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pairs = pa.table({"doc_a": pa.array(pairs_a, pa.int64()),
                      "doc_b": pa.array(pairs_b, pa.int64())})
    return docs, pairs


def _events(rng, n: int, first_id: int, t0_us: int, span_us: int,
            users: int) -> pa.Table:
    """Events with strictly increasing timestamps inside [t0, t0+span)."""
    offs = np.sort(rng.choice(span_us, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(t0_us + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n)]),
        "value": pa.array(_money(rng, n, 0, 560), pa.float64()),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]),
    })


def write_catalog(rng, out: str) -> dict[str, int]:
    """The ten catalog tables (FIXTURES.md Part A columns and types;
    timestamps are microsecond-precision like the shipped testdata)."""
    s = CATALOG_SIZES
    sizes: dict[str, int] = {}
    w = lambda name, t: sizes.__setitem__(name, _write(t, f"{out}/{name}.parquet"))  # noqa: E731
    w("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": list(REGIONS)}))
    w("nation", pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    n = s["customer"]
    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n)],
    }))
    n = s["supplier"]
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    }))
    n = s["part"]
    w("part", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n)],
        "p_type": [P_TYPES[j] for j in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": _money(rng, n, 900, 999.9),
    }))
    n = s["orders"]
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": [STATUSES[j] for j in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n)],
    }))
    n = s["lineitem"]
    w("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), 2500),
    }))
    w("events", _events(rng, s["events"], 0, EPOCH_2024_US, 30 * 86_400 * 10**6,
                        1_500))
    docs, pairs = _documents(rng, s["documents"])
    w("documents", docs)
    sizes["neardup_pairs"] = _write(pairs, f"{out}/neardup_pairs.parquet")
    n, dim = s["embeddings"], 64
    vecs = (rng.standard_normal((n, dim)) * 0.1).astype(np.float32)
    w("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }))
    return sizes


def write_cdc(rng, out: str) -> dict[str, int]:
    """CDC_BATCHES event files; batch i's timestamps all follow batch
    i-1's, so merge-by-arrival equals keep-latest by (ts, event_id)."""
    os.makedirs(f"{out}/batches", exist_ok=True)
    span = 3_600 * 10**6
    sizes = {}
    for i in range(CDC_BATCHES):
        t = _events(rng, CDC_BATCH_EVENTS, i * CDC_BATCH_EVENTS,
                    EPOCH_2024_US + i * span, span, CDC_USERS)
        sizes[f"batches/b{i:04d}"] = _write(t, f"{out}/batches/b{i:04d}.parquet")
    return sizes


def _arrow_type(ddl: str) -> pa.DataType:
    return {"string": pa.string(), "int": pa.int32()}[ddl]


def write_worldcup(rng, out: str) -> dict[str, int]:
    """The 22 raw World-Cup frames of plans/fixtures.py, each with its
    rows in a seed-permuted order."""
    from world_cup_duckdb_spark.plans.fixtures import _T

    os.makedirs(f"{out}/raw", exist_ok=True)
    sizes = {}
    for name, (ddl, rows) in _T.items():
        cols = [c.strip().split(" ") for c in ddl.split(",")]
        order = rng.permutation(len(rows))
        table = pa.table({
            col: pa.array([rows[j][k] for j in order], _arrow_type(typ))
            for k, (col, typ) in enumerate(cols)
        })
        sizes[f"raw/{name}"] = _write(table, f"{out}/raw/{name}.parquet")
    return sizes


def generate(workload: str, seed: int, out: str) -> dict[str, int]:
    """Write ``workload``'s inputs for ``seed`` under ``out``; return the
    byte size of every file written, keyed by its name."""
    os.makedirs(out, exist_ok=True)
    rng = rng_for(workload, seed)
    if workload == "corpus_prep":
        return write_catalog(rng, out)
    if workload == "cdc_ingest":
        return write_cdc(rng, out)
    if workload == "wc_elt":
        return write_worldcup(rng, out)
    raise ValueError(f"unknown workload {workload!r}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sizes = generate(a.workload, a.seed, a.out)
    for name, size in sorted(sizes.items()):
        print(f"{name}\t{size}")
    print(f"total\t{sum(sizes.values())}")


if __name__ == "__main__":
    main()
