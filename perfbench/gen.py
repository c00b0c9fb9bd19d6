"""Deterministic generator for the benchmark's fixture tables.

Writes the ten tables the query registry reads (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) with the same schemas, parquet
encoding and value distributions as the driver fixtures described in
TESTDATA.md and FIXTURES.md §3: independent uniform columns, a 30-word
vocabulary for document text with ~5% " dup" near-copies, unit-norm 64-d
embeddings. Row counts scale with ``sf`` the same way (lineitem = 6M × sf).

Each table is one parquet file with one row group, the driver fixtures'
layout (every scan starts as one task). Only integer-valued draws and
exactly representable decimal arithmetic feed the stored values, so the
bytes are a pure function of (sf, seed).

Usage: python3 perfbench/gen.py OUT_DIR --sf 0.1
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_VOCAB = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_WEIGHTS_PER_MILLE = [412, 140, 149, 148, 151]

_DAY_US = 86_400_000_000


def _days_us(start: str, end: str, n: int, rng) -> np.ndarray:
    """``n`` midnight timestamps (µs since epoch) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _pick(values: list[str], n: int, rng) -> pa.Array:
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, values).cast(pa.string())


def _cents(lo: int, hi: int, n: int, rng, scale: int = 100) -> np.ndarray:
    """Uniform fixed-point values lo/scale .. hi/scale (exact decimals)."""
    return rng.integers(lo, hi + 1, n) / scale


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every fixture table as an Arrow table, deterministic in (sf, seed)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(min(2000, max(500, 20_000 * sf)))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _cents(-100_000, 1_000_000, n_cust, rng),
            "c_mktsegment": _pick(_SEGMENTS, n_cust, rng),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _cents(-100_000, 1_000_000, n_supp, rng),
        }
    )
    adj = rng.integers(0, len(_ADJ), n_part)
    noun = rng.integers(0, len(_NOUN), n_part)
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(_TYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": (9000 + pk % 1000) / 10,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": _cents(100_000, 50_000_000, n_ord, rng),
            "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": _pick(_PRIORITIES, n_ord, rng),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(90_000, 10_500_000, n_line, rng),
            "l_discount": _cents(0, 10, n_line, rng),
            "l_tax": _cents(0, 8, n_line, rng),
            "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
            "l_linestatus": _pick(["F", "O"], n_line, rng),
            "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", n_line, rng)),
        }
    )
    # events: a 30-day stream with uniform integer-µs gaps (mean as in the
    # driver fixtures), so ``ts`` is increasing in ``event_id``
    span_us = 30 * _DAY_US
    gaps = rng.integers(1, 2 * span_us // max(n_ev, 1), n_ev)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_user, n_ev)),
            "event_type": _pick(_EVENT_TYPES, n_ev, rng),
            "value": rng.geometric(1 / 5000, n_ev).astype(np.int64) / 100,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(n_doc, rng)
    # unit-norm embeddings from integer draws; the norm is taken in float64
    # and the stored float32 is rounded to 6 places so no last-ulp
    # difference between libm/SIMD builds can reach the stored bytes
    raw = rng.integers(-1000, 1001, (n_vec, 64)).astype(np.float64)
    raw[np.all(raw == 0, axis=1), 0] = 1.0
    unit = np.round(raw / np.sqrt(np.sum(raw * raw, axis=1, keepdims=True)), 6)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(unit.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
        }
    )
    return t


def _documents(n: int, rng) -> pa.Table:
    """Random 10–100-word texts over the vocabulary; ~5% are another
    document's text plus " dup" (the near-duplicate pairs dedup finds)."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(_VOCAB[w] for w in words[offsets[i] : offsets[i + 1]]) for i in range(n)]
    is_dup = rng.integers(0, 1000, n) < 50
    originals = np.flatnonzero(~is_dup)
    bases = originals[rng.integers(0, len(originals), n)]
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[bases[i]] + " dup"
    lang_idx = np.searchsorted(np.cumsum(_LANG_WEIGHTS_PER_MILLE), rng.integers(0, 1000, n), "right")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": [_LANGS[i] for i in lang_idx],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """Content hash of the generated tables."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path, row_group_size=max(tab.num_rows, 1), compression="snappy")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, required=True)
    args = ap.parse_args()
    tables = build_tables(args.sf)
    write(tables, args.out_dir)
    print(fingerprint(tables))


if __name__ == "__main__":
    main()
