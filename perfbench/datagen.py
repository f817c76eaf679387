"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables `basis_spark.io.TABLES` reads (TPC-H-like star
schema, an `events` stream, a `documents` corpus and an `embeddings`
set), one snappy parquet file each, with the schemas and value domains
the repository's fixtures have (see FIXTURES.md at the repository root).
The tables are a pure function of (scale factor, GENERATOR_SEED): the
benchmark's own `--seed` only reorders rows and cuts blocks, so every
run reads the same data and the pinned result digests hold.

Row counts per table follow the fixtures: at sf 0.1 600,000 lineitem
rows, 100,000 events, 5,000 documents, 2,000 embeddings; at sf 0.01 a
tenth of that, with 500 documents and 500 embeddings.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
# Bump when the generated values change, so cached tables are rebuilt.
GENERATOR_VERSION = "1"

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
PART_NOUN = ["bolt", "cable", "gear", "nut", "plate", "ring", "spring", "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"]
SEGMENTS = ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_USERS = 1500
DUP_SHARE = 0.05  # documents that are another document plus " dup"


def _ts(start: str, n: int, rng: np.random.Generator, end: str, unit: str) -> pa.Array:
    """n midnight timestamps drawn uniformly between two dates."""
    lo = np.datetime64(start, "D")
    days = int((np.datetime64(end, "D") - lo).astype(int))
    d = lo + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype(f"datetime64[{unit}]"), pa.timestamp(unit))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([GENERATOR_SEED, int(round(sf * 1000))])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
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
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", n_ord, rng, "2001-08-01", "ms"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts("1995-01-02", n_line, rng, "2001-11-04", "ms"),
        }
    )
    # events: arrival-ordered, microsecond timestamps stored as parquet
    # TIMESTAMP(NANOS) like the fixtures (io.load handles the type).
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array((start + offs.astype("timedelta64[us]")).astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, N_USERS, n_ev).astype(np.int64)),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: word salad from a 30-word vocabulary (dense token-set
    # overlap, as in the fixtures) plus a share of near-duplicates that
    # copy another document and append " dup".
    lens = rng.integers(10, 101, n_doc)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    dup_ids = rng.choice(n_doc, int(n_doc * DUP_SHARE), replace=False)
    dup_set = set(dup_ids.tolist())
    originals = [i for i in range(n_doc) if i not in dup_set]
    for d, o in zip(dup_ids, rng.choice(originals, len(dup_ids))):
        texts[d] = texts[o] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    # embeddings: ten unit-norm cluster centres plus noise, L2-normalised
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(scale=0.09, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the sf tables, generating it once.

    Tables are written to a private staging directory and published by
    one rename, so concurrent or interrupted runs never see a partial
    set."""
    final = os.path.join(root, f"sf{sf:g}-v{GENERATOR_VERSION}")
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    stage = f"{final}.staging.{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(stage, f"{name}.parquet"), compression="snappy")
    try:
        os.rename(stage, final)
    except OSError:  # another run published the same tables first
        shutil.rmtree(stage, ignore_errors=True)
    return final
