"""Seeded input generators for the benchmark.

The benchmark may read only inside its own checkout, so it does not use
a pre-built fixture directory. Instead it writes the engine's ten star
schema tables (same names, column types and value domains as the
fixtures described in ``FIXTURES.md``) and a MovieLens-shaped ratings
CSV from a seed. Every value comes from one ``numpy`` generator, so the
same seed and scale always produce byte-identical inputs.

Scale ``sf`` follows TPC-H: lineitem has about ``6_000_000 * sf`` rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten star-schema tables at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pkey = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pkey,
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pkey % 1000) / 10.0, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US),
        }
    )
    out["events"] = events(rng, n_evt, n_users)
    out["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    vecs = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": labels,
        }
    )
    return out


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Click-stream events with ``ts`` ascending over January 2024."""
    gaps = rng.exponential(30 * _DAY_US / n, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
            "user_id": rng.integers(0, n_users, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in twenty repeats an earlier document
    with a trailing ``dup`` token, so near-duplicate detectors have
    real pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def write_ratings_csv(
    path: str, n_users: int, n_items: int, n_ratings: int, seed: int, rank: int = 6
) -> int:
    """MovieLens-shaped ``user,item,rating,timestamp`` CSV with sparse,
    non-contiguous raw ids (so the dense-id encode step has work to do)
    and low-rank-plus-noise ratings on the 1..5 half-star scale, so
    ALS at rank 20 beats the global mean. Returns rows written."""
    rng = np.random.default_rng([seed, 2])
    # Zipf-ish activity: a few heavy users and popular items, like ml-1m.
    u_w = rng.pareto(1.2, n_users) + 1.0
    i_w = rng.pareto(1.0, n_items) + 1.0
    p = np.outer(u_w / u_w.sum(), i_w / i_w.sum()).ravel()
    pair = rng.choice(p.size, size=n_ratings, replace=False, p=p)
    u, i = pair // n_items, pair % n_items
    uf = rng.normal(0.0, 1.0, (n_users, rank))
    itf = rng.normal(0.0, 1.0, (n_items, rank))
    raw = 3.5 + (uf[u] * itf[i]).sum(axis=1) * (1.0 / np.sqrt(rank)) + rng.normal(0.0, 0.5, u.size)
    stars = np.clip(np.round(raw * 2.0) / 2.0, 1.0, 5.0)
    ts = 956_703_932 + rng.integers(0, 86_400 * 1_000, u.size)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for row in zip(u * 7 + 1, i * 3 + 1, stars, ts):
            f.write("%d,%d,%.1f,%d\n" % row)
    return int(u.size)
