"""Seeded input generation for the four workloads.

Everything the engine reads is made here from the workload seed with
numpy's PCG64 and written as plain parquet by pyarrow, so the same seed
gives byte-identical files and the engine only ever sees generated
inputs.  Generation is cached per (workload, seed) under the work
directory and is never part of a timed region or of ``setup_s``.

Value domains follow the TPC-H-shaped fixtures the engine's registry
queries and their DuckDB oracles were written against (nation names
``NATION_<i>``, five market segments, ``p_name`` colour + noun, dates
1995-2001, ...), so every registry query returns rows on generated data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes.  They are fixed per workload (not options) and stated in the
# run's output; see README.md for why they are this small.
TPCH_ORDERS = 10_000          # ~40k lineitem rows, 1k customers
FACT_ROWS = 100_000           # scan_sweep fact table
FACT_SEGMENT_ROWS = 12_500    # rows per FLE segment / parquet row group
DOCS = 300                    # dedup_pipeline corpus
EMBEDDINGS = 200
EMBED_DIM = 64
INGEST_BATCH_ROWS = 5_000     # fle_ingest append batch
INGEST_BATCHES = 64           # pre-generated append batches
EXACT_DUP_SHARE = 0.1         # documents that copy an earlier one exactly
NEAR_DUP_SHARE = 0.2          # ... or with 1-3 token edits

_EPOCH = np.datetime64("1995-01-01", "D")
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLOURS = ["red", "blue", "green", "hot", "new", "small", "big", "old"]
_NOUNS = ["anvil", "bolt", "plate", "ring", "rod", "widget", "gear", "pin"]
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector customer join a"
).split()
_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _write(path: str, table: pa.Table, row_group_size: int | None = None) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def cached(root: str, build) -> str:
    """Run ``build(root)`` once per directory; a ``_READY`` marker makes
    an interrupted generation start over."""
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        os.makedirs(root, exist_ok=True)
        build(root)
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return root


# ---------------------------------------------------------------- TPC-H


def write_tpch(root: str, seed: int, n_orders: int = TPCH_ORDERS) -> None:
    """The seven TPC-H tables.  The seed sets the key offsets and the row
    order of every table, as well as all values."""
    r = rng_for(seed, "tpch")
    key_base = int(r.integers(0, 1_000_000)) * 1000
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 20)
    n_part = max(n_orders * 2 // 15, 100)

    def order(n):
        return r.permutation(n)

    _write(f"{root}/region.parquet", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    }))
    _write(f"{root}/nation.parquet", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))

    custkey = key_base + np.arange(n_cust)
    p = order(n_cust)
    _write(f"{root}/customer.parquet", pa.table({
        "c_custkey": custkey[p],
        "c_name": [f"Customer#{k:09d}" for k in custkey[p]],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _SEGMENTS[r.integers(0, 5, n_cust)],
    }))

    suppkey = key_base + np.arange(n_supp)
    p = order(n_supp)
    _write(f"{root}/supplier.parquet", pa.table({
        "s_suppkey": suppkey[p],
        "s_name": [f"Supplier#{k:09d}" for k in suppkey[p]],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    }))

    partkey = key_base + np.arange(n_part)
    retail = np.round(r.uniform(900.0, 2100.0, n_part), 2)
    p = order(n_part)
    colours = np.array(_COLOURS)[r.integers(0, 8, n_part)]
    nouns = np.array(_NOUNS)[r.integers(0, 8, n_part)]
    _write(f"{root}/part.parquet", pa.table({
        "p_partkey": partkey[p],
        "p_name": np.char.add(np.char.add(colours, " "), nouns)[p],
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": _TYPES[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail[p],
    }))

    orderkey = key_base + np.arange(n_orders)
    odate = r.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    lines = r.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_orders), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = r.integers(1, 51, n_li).astype(np.float64)
    pidx = r.integers(0, n_part, n_li)
    price = np.round(qty * retail[pidx], 2)
    disc = r.integers(0, 11, n_li) / 100.0
    tax = r.integers(0, 9, n_li) / 100.0
    ship = odate[li_order] + r.integers(1, 122, n_li)
    total = np.bincount(li_order, weights=price, minlength=n_orders)
    status = np.where(ship <= 1400, "F", "O")
    o_status = np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)]

    p = order(n_orders)
    _write(f"{root}/orders.parquet", pa.table({
        "o_orderkey": orderkey[p],
        "o_custkey": custkey[r.integers(0, n_cust, n_orders)][p],
        "o_orderstatus": o_status[p],
        "o_totalprice": np.round(total, 2)[p],
        "o_orderdate": _ts(odate[p]),
        "o_orderpriority": _PRIORITIES[r.integers(0, 5, n_orders)][p],
    }))
    p = order(n_li)
    _write(f"{root}/lineitem.parquet", pa.table({
        "l_orderkey": orderkey[li_order][p],
        "l_partkey": partkey[pidx][p],
        "l_suppkey": suppkey[r.integers(0, n_supp, n_li)][p],
        "l_linenumber": pa.array(linenumber[p], pa.int32()),
        "l_quantity": qty[p],
        "l_extendedprice": price[p],
        "l_discount": disc[p],
        "l_tax": tax[p],
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)][p],
        "l_linestatus": status[p],
        "l_shipdate": _ts(ship[p]),
    }))


# ------------------------------------------------------------ fact table


def fact_columns(seed: int, n: int = FACT_ROWS) -> dict[str, np.ndarray]:
    """Lineitem-shaped fact rows for the selectivity sweep.  ``l_quantity``
    is uniform on 1..100, so ``l_quantity <= k`` selects k% of the rows."""
    r = rng_for(seed, "fact")
    base = int(r.integers(0, 1_000_000)) * 1000
    qty = r.integers(1, 101, n)
    return {
        "l_orderkey": base + r.permutation(n).astype(np.int64),
        "l_quantity": qty.astype(np.int64),
        "l_extendedprice": (qty * r.integers(90_000, 210_000, n)).astype(np.int64),
        "l_discount": r.integers(0, 11, n).astype(np.int64),
        "l_shipmode": SHIPMODES[r.integers(0, len(SHIPMODES), n)],
    }


def write_fact(root: str, seed: int) -> None:
    """The fact table in two parquet layouts, one row group per
    FACT_SEGMENT_ROWS rows: as generated, and sorted by quantity (so
    row-group statistics can skip groups, like FLE segment statistics)."""
    t = pa.table(fact_columns(seed))
    _write(f"{root}/fact.parquet", t, row_group_size=FACT_SEGMENT_ROWS)
    by_qty = np.argsort(t["l_quantity"].to_numpy(), kind="stable")
    _write(f"{root}/fact_sorted.parquet", t.take(by_qty),
           row_group_size=FACT_SEGMENT_ROWS)


# ------------------------------------------------------- corpus (dedup)


def _doc_text(r: np.random.Generator, lang: str) -> list[str]:
    n = int(r.integers(24, 90))
    toks = list(np.array(_WORDS)[r.integers(0, len(_WORDS), n)])
    markers = _MARKERS[lang]
    for _ in range(int(r.integers(2, 6))):
        toks.insert(int(r.integers(0, len(toks))), markers[int(r.integers(0, 3))])
    return toks


def write_corpus(root: str, seed: int, n_docs: int = DOCS,
                 n_vec: int = EMBEDDINGS) -> None:
    """Documents and embeddings.  A stated share of documents are copies of
    an earlier one: exact (case and punctuation changed only) or near
    (1-3 seeded token edits), so the dedup operators find real work."""
    r = rng_for(seed, "corpus")
    langs = np.array(["en", "en", "en", "en", "es", "fr", "de"])
    texts: list[str] = []
    lang_col: list[str] = []
    kinds = r.choice(3, size=n_docs, p=[  # fresh / exact copy / near copy
        1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE, EXACT_DUP_SHARE, NEAR_DUP_SHARE])
    for i in range(n_docs):
        if i < 10 or kinds[i] == 0:
            lang = str(langs[r.integers(0, len(langs))])
            toks = _doc_text(r, lang)
            text = " ".join(toks)
        else:
            j = int(r.integers(0, i))
            lang = lang_col[j]
            toks = texts[j].lower().replace(".", " ").split()
            if kinds[i] == 1:
                text = " ".join(toks).capitalize() + "."
            else:
                for _ in range(int(r.integers(1, 4))):
                    toks[int(r.integers(0, len(toks)))] = str(
                        _WORDS[int(r.integers(0, len(_WORDS)))])
                text = " ".join(toks)
        texts.append(text)
        lang_col.append(lang)
    _write(f"{root}/documents.parquet", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang_col,
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    centres = r.normal(0, 1, (10, EMBED_DIM)).astype(np.float32)
    label = r.integers(0, 10, n_vec)
    vec = centres[label] + r.normal(0, 0.6, (n_vec, EMBED_DIM)).astype(np.float32)
    dup = r.random(n_vec) < 0.15
    src = r.integers(0, n_vec, n_vec)
    vec[dup] = vec[src[dup]] + r.normal(0, 0.01, (int(dup.sum()), EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(f"{root}/embeddings.parquet", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }))


# -------------------------------------------------------------- ingest


INGEST_COLUMNS = ("k", "qty", "price", "mode")


def ingest_batch(seed: int, i: int, key_base: int,
                 n: int = INGEST_BATCH_ROWS) -> dict[str, np.ndarray]:
    """Append batch ``i``: fresh keys ``key_base + i*n ..``, shuffled."""
    r = rng_for(seed * 1_000 + i, "ingest")
    keys = key_base + i * n + r.permutation(n)
    return {
        "k": keys.astype(np.int64),
        "qty": r.integers(1, 101, n).astype(np.int64),
        "price": r.integers(100, 1_000_000, n).astype(np.int64),
        "mode": SHIPMODES[r.integers(0, len(SHIPMODES), n)],
    }


def ingest_key_base(seed: int) -> int:
    return int(rng_for(seed, "ingest-base").integers(1, 1_000)) * 1_000_000_000


def write_ingest(root: str, seed: int) -> None:
    key_base = ingest_key_base(seed)
    for i in range(INGEST_BATCHES):
        _write(f"{root}/batch_{i:03d}.parquet",
               pa.table(ingest_batch(seed, i, key_base)))


GENERATORS = {
    "tpch": write_tpch,
    "fact": write_fact,
    "corpus": write_corpus,
    "ingest": write_ingest,
}


def generate(kind: str, seed: int, data_root: str) -> str:
    """Generate (or reuse) the inputs of one kind for one seed."""
    root = os.path.join(data_root, f"{kind}-{seed}")
    return cached(root, lambda d: GENERATORS[kind](d, seed))
