"""Seeded inputs: the star-schema table set and the facade's corpus/tree.

The table set has the schemas of FIXTURES.md and the statistics of the
sf0.01 test data (row counts, key domains, value ranges, the 31-word
document vocabulary with ~5% planted near-duplicates as in
``scripts/gen_sf1.py``).  Every column is drawn from one numpy PCG64
stream seeded by ``--seed``, so the same seed always writes the same
tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 test data
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_EVENT_USERS = 150
N_EVENT_DAYS = 30
N_DOCS = 500
N_VECS = 500
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.44, 0.14, 0.14, 0.13, 0.15]
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.002


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    """``n`` uniform calendar days in [lo, hi] as naive µs timestamps."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, size=n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < EXACT_DUP_FRAC:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            base = texts[rng.integers(0, i)].split()
            base[-1] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=rng.integers(10, 100))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=N_DOCS, p=LANG_W), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, size=N_VECS)
    vecs = centers[labels] + 0.3 * rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten star-schema tables for ``seed`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    keys = np.arange
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(keys(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(keys(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array(keys(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(keys(N_CUSTOMER), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(keys(N_SUPPLIER), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(keys(N_PART), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, size=(N_PART, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, N_PART)),
                "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
                "p_retailprice": np.round(900 + (keys(N_PART) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(keys(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
                "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
                "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
                "l_discount": _money(rng, 0.0, 0.10, N_LINEITEM),
                "l_tax": _money(rng, 0.0, 0.08, N_LINEITEM),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEM)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEM)),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINEITEM),
            }
        ),
    }
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = N_EVENT_DAYS * 86_400 * 1_000_000
    tables["events"] = pa.table(
        {
            "event_id": pa.array(keys(N_EVENTS), pa.int64()),
            "ts": pa.array(
                np.sort(start_us + (rng.random(N_EVENTS) * span_us).astype(np.int64)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, N_EVENT_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
            "value": np.maximum(np.round(-50.0 * np.log(rng.random(N_EVENTS)), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- mapreduce_facade inputs -------------------------------------------

WC_DOCS = 2_000
WC_TOKENS = 50
DF_DOCS = 2_000
SEARCH_DIRS = 16
SEARCH_FILES = 200
SEARCH_QUERY = "ka"
_SYLLABLES = ["ka", "lo", "mi", "nu", "re", "so", "ti", "va", "xe", "zu"]


def zipf_corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """``n_docs`` documents of ``WC_TOKENS`` words drawn from a Zipf law.

    The key count (450–550 words) and the exponent (1.05–1.15) both
    come from the seed: the facade's cost depends on them (one
    ``applyInPandas`` call per key, skewed sort ranges), while the narrow
    ranges keep run-to-run spread across seeds small.
    """
    rng = np.random.default_rng([seed, n_docs])
    n_keys = int(rng.integers(450, 551))
    s = float(rng.uniform(1.05, 1.15))
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=(n_docs, WC_TOKENS), p=p / p.sum())
    words = np.array([f"w{i:05d}" for i in range(n_keys)])
    return [(i, " ".join(words[row])) for i, row in enumerate(ranks)]


def search_tree(root: str, seed: int) -> list[str]:
    """Create ``SEARCH_DIRS`` folders of ``SEARCH_FILES`` empty files with
    seeded three-syllable names; return the folder paths."""
    rng = np.random.default_rng([seed, 7])
    folders = []
    for d in range(SEARCH_DIRS):
        folder = os.path.join(root, f"dir{d:03d}")
        os.makedirs(folder, exist_ok=True)
        names = {
            "".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), 3))
            + f"_{f}"
            for f in range(SEARCH_FILES)
        }
        for name in names:
            open(os.path.join(folder, name), "w").close()
        folders.append(folder)
    return folders
