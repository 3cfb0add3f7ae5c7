"""Deterministic synthetic inputs for the benchmark.

The tables mirror the TPC-H-like star schema the repository's tests use
(orders / customer / nation / supplier / part / lineitem) at roughly
scale factor 0.1, plus a `documents` text corpus for the operators
layer. They are generated from a fixed seed, so every run and every
checkout sees byte-identical data; the per-run ``--seed`` drives only the
operation stream (workloads.py).

Files are written once into the benchmark's work directory and reused;
the version tag in the directory name forces regeneration when the
generator changes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v2"
DATA_SEED = 20240601

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_NATIONS = 25
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_LINEITEMS = 600_000
N_DOCUMENTS = 5_000

DATE_LO = np.datetime64("1995-01-01", "D")
DATE_DAYS = 2404           # 1995-01-01 .. 2001-08-01

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "red", "small", "tiny", "green", "dark"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw"]
# The documents corpus follows the measured shape of the repository's
# sf0.1 `documents` table (perfbench/README.md, "The documents corpus"):
# uniform words from a 30-word vocabulary, 10 to 99 words a document, and
# 5% of the documents overwritten in turn by another document's text plus
# the marker word DUP_WORD, so copies of copies and lost originals occur
# as they do there.
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DOC_WORDS = (10, 100)      # [lo, hi) words in an original document
DUP_SHARE = 0.05
DUP_WORD = "dup"


def data_dir(work_dir: str) -> str:
    """Directory holding the generated parquet files (created on demand)."""
    d = os.path.join(work_dir, f"data_{VERSION}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        _generate(d)
    return d


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[
        rng.integers(0, len(choices), n)].tolist(), pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, extra_days=0):
    days = DATE_LO + rng.integers(0, DATE_DAYS + extra_days, n)
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng):
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(*DOC_WORDS, N_DOCUMENTS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in rng.choice(N_DOCUMENTS, int(N_DOCUMENTS * DUP_SHARE),
                        replace=False):
        src = (i + rng.integers(1, N_DOCUMENTS)) % N_DOCUMENTS
        texts[i] = f"{texts[src]} {DUP_WORD}"
    langs = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), N_DOCUMENTS, p=LANG_WEIGHTS)]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}"
                            for i in range(N_DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _tables():
    rng = np.random.default_rng(DATA_SEED)
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
        "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
    })
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": _names("Customer", N_CUSTOMERS),
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, N_CUSTOMERS),
                                pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, N_CUSTOMERS),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
    })
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": _names("Supplier", N_SUPPLIERS),
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, N_SUPPLIERS),
                                pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, N_SUPPLIERS),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[
        rng.integers(0, len(PART_ADJ), N_PARTS)]
    noun = np.asarray(PART_NOUN, dtype=object)[
        rng.integers(0, len(PART_NOUN), N_PARTS)]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, N_PARTS)]),
        "p_type": _pick(rng, PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PARTS) % 1000 * 0.1
                                  + rng.uniform(0, 100, N_PARTS), 2),
    })
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS),
                              pa.int64()),
        "o_orderstatus": _pick(rng, STATUSES, N_ORDERS),
        "o_totalprice": _money(rng, 800, 500_000, N_ORDERS),
        "o_orderdate": _dates(rng, N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEMS),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINEITEMS),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEMS),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEMS).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, N_LINEITEMS),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEMS) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEMS) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEMS),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEMS),
        "l_shipdate": _dates(rng, N_LINEITEMS, extra_days=95),
    })
    yield "documents", _documents(rng)


def _generate(d: str) -> None:
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
