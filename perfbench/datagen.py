"""Seeded synthetic input tables for the workload benchmark.

The tables follow the schemas of the repository's test tables
(``documents``, ``embeddings``, ``orders``, ``lineitem``): the same
column names and types, and the same value shapes (a 30-word
vocabulary, ~5% near-duplicate documents that repeat an earlier
document plus the token ``dup``, a few exact duplicates, 64-dim
embeddings in ten labelled clusters, TPC-H-like orders with 1-7 lines
each). Everything is generated locally from a seed; nothing is
downloaded.

A scale is a dict of row counts. ``SCALES`` names the ones the
workloads use; ``tiny`` is the smoke-test size (sf0.001 row counts).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)

# Reference figures (SURVEY.md section 6): a corpus of 3,510 parsed
# documents, 278 facilities, LLM batches of at most 100 documents per
# nightly run (`max_docs: 100`). Orders follow TPC-H row counts
# (1.5M x sf), as the repository's test tables do.
REFERENCE_DOCS = 3510
FACILITIES = 278
NIGHT_DOCS = 100
N_NIGHTS = 12

SCALES = {
    # sf0.001 row counts: the smoke-test size
    "tiny": {"documents": 500, "embeddings": 500, "orders": 1500},
    # dashboard: the reference corpus; orders at sf0.01
    "dashboard": {"documents": REFERENCE_DOCS, "embeddings": 500, "orders": 15000},
    # nightly: the reference corpus folded into state, then twelve
    # nightly batches; orders (the curation purchase graph) at sf0.001
    "nightly": {
        "documents": REFERENCE_DOCS + N_NIGHTS * NIGHT_DOCS,
        "embeddings": 500,
        "orders": 1500,
    },
}

DATA_VERSION = "2"


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    n_tok = rng.integers(10, 101, n)
    kind = rng.random(n)
    for i in range(n):
        if i > 20 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and kind[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(VOCAB), int(n_tok[i]))
            texts.append(" ".join(VOCAB[w] for w in words))
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[x] for x in lang], pa.string()),
            "source": pa.array([f"src{i % 5}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0.0, 0.1, (10, 64))
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (n, 64))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    lo = np.datetime64("1995-01-01", "D")
    span = int((np.datetime64("2001-08-01", "D") - lo).astype(np.int64))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def orders_lineitem(n: int, rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    n_cust, n_part, n_supp = max(n // 10, 10), max(n * 2 // 15, 10), max(n // 150, 5)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n).tolist()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n), 2)),
            "o_orderdate": pa.array(_days(rng, n)),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                ).tolist()
            ),
        }
    )
    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    qty = rng.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, m).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, m).astype(np.int64)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, m), 2)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m).tolist()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], m).tolist()),
            "l_shipdate": pa.array(_days(rng, m)),
        }
    )
    return orders, lineitem


def generate(out_dir: str, scale: str, seed: int = 42) -> str:
    """Write the scale's tables under ``out_dir/<scale>`` once; later
    calls reuse them. Returns the table directory."""
    sizes = SCALES[scale]
    final = os.path.join(out_dir, scale)
    marker = os.path.join(final, "_COMPLETE")
    want = f"{DATA_VERSION} {seed} {sorted(sizes.items())}"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == want:
                return final
    stage = final + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    rng = np.random.default_rng(seed)
    orders, lineitem = orders_lineitem(sizes["orders"], rng)
    tables = {
        "documents": documents(sizes["documents"], rng),
        "embeddings": embeddings(sizes["embeddings"], rng),
        "orders": orders,
        "lineitem": lineitem,
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
    with open(os.path.join(stage, "_COMPLETE"), "w") as fh:
        fh.write(want)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(stage, final)
    return final
