"""Seeded input generator for the benchmark.

Writes the ten tables of the engine's test schema (TPC-H-like star
tables plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the same column names, types and value domains as the
engine's read-only test data. Everything is drawn from the seed, so the
same ``(seed, sf)`` always gives byte-identical inputs.

Row counts follow the test data's scale factor (``lineitem`` =
6,000,000 x ``sf``), then every table except ``region`` and ``nation``
keeps a seeded 90 % of its rows. The keep leaves foreign keys dangling
the way a filtered extract does, and makes row counts differ per seed.

Run alone to print the per-table row counts and bytes::

    python3 perfbench/gen.py --seed 1 --sf 0.1 --out perfbench/.work/data
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP = 0.9
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new"]
THINGS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DAY_US = 86_400_000_000
# 1995-01-01 and 2024-01-01 as microseconds since the epoch
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with two decimals, exact in cents."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype="int64")
    names = np.array([f"{c} {w}" for c in COLORS for w in THINGS])
    t["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": (9000 + pkeys % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n_line) * DAY_US),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents of 10-100 words; 5 % carry a ``dup``
    marker word and 0.2 % repeat an earlier document's text exactly,
    so the dedup lanes have planted work."""
    words = np.array(WORDS)
    texts = []
    for _ in range(n):
        doc = " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        if rng.random() < 0.05:
            doc += " dup"
        texts.append(doc)
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


def generate(seed: int, sf: float, out: str) -> dict[str, dict[str, int]]:
    """Write the tables under ``out``; return ``{table: {rows, bytes}}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    report: dict[str, dict[str, int]] = {}
    for name, table in _tables(rng, sf).items():
        if name not in ("region", "nation"):
            table = table.filter(pa.array(rng.random(table.num_rows) < KEEP))
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        report[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return report


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    print(json.dumps(generate(args.seed, args.sf, args.out), indent=1))


if __name__ == "__main__":
    sys.exit(main())
