"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``(seed, scale)``: the same seed
writes byte-identical parquet.  ``scale=1.0`` gives the sf0.1 sizes of the
project's star schema (150k orders, 600k lineitems, 100k events, 5k
documents); the smoke test uses ``scale=0.01`` (sf0.001).
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The curation corpus follows the project's sf0.1 ``documents`` table, as
# measured over its 5,000 rows: lengths uniform over 10-100 words (mean
# 54.1), every word drawn uniformly from these 30 (8,829-9,182
# occurrences each); 250 documents (5%) are another document with the
# token "dup" appended and 8 (0.16%) are verbatim copies; ``lang`` is en
# 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%; ``source`` is
# ``src{doc_id % 20}``.
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
NEAR_SHARE, EXACT_SHARE = 0.05, 0.0016
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [2059 / 5000, 753 / 5000, 744 / 5000, 742 / 5000, 702 / 5000]
EPOCH = _dt.datetime(2024, 1, 1)


def _ts(seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1e6).astype("int64")
    base = int(EPOCH.replace(tzinfo=_dt.timezone.utc).timestamp() * 1e6)
    return pa.array(us + base, type=pa.timestamp("us"))


def write_table(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def star_schema(out: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write region … events as one parquet file each; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(15000 * scale), max(10, int(1000 * scale))
    n_part, n_ord = int(20000 * scale), int(150000 * scale)
    n_ev = int(100000 * scale)
    write_table(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write_table(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write_table(f"{out}/customer.parquet", {
        "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write_table(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    write_table(f"{out}/part.parquet", {
        "p_partkey": np.arange(1, n_part + 1, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(WORDS, n_part),
                                               rng.choice(WORDS, n_part))],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)})
    write_table(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(1, n_ord + 1, dtype="int64"),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord, p=[.49, .49, .02]),
        "o_totalprice": np.round(rng.uniform(850, 500000, n_ord), 2),
        "o_orderdate": _ts(rng.uniform(0, 2.2e8, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(1, n_ord + 1, dtype="int64"), per_order)
    start = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    write_table(f"{out}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, n_part + 1, n_li),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": (np.arange(n_li) - start + 1).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng.uniform(0, 2.2e8, n_li))})
    events(f"{out}/events.parquet", rng, n_ev)
    return {"orders": n_ord, "lineitem": n_li, "customer": n_cust,
            "part": n_part, "events": n_ev}


def events(path: str, rng: np.random.Generator, n: int,
           first_id: int = 0) -> np.ndarray:
    """Write an ``events`` table; returns its ``value`` column."""
    value = np.round(rng.gamma(2.0, 50.0, n), 2)
    write_table(path, {
        "event_id": np.arange(first_id, first_id + n, dtype="int64"),
        "ts": _ts(np.sort(rng.uniform(0, 8.64e6, n))),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    return value


def corpus(rng: np.random.Generator, n: int, first_id: int = 0,
           pool: list | None = None) -> tuple[list[int], list[str], dict]:
    """``n`` documents drawn like the sf0.1 table (see :data:`WORDS`).
    Planted duplicates copy an earlier document of this call or of
    ``pool``, a list of ``(id, text)`` that the call extends with its novel
    documents: near-duplicates append "dup", so their 3-shingle Jaccard
    similarity to the source is (w-2)/(w-1) >= 0.89 for w >= 10 words and
    MinHash-LSH (32 bands x 4 rows) misses such a pair with probability
    below 1e-13.  Returns (ids, texts, {dup_id: source_id})."""
    ids, texts, planted = [], [], {}
    sources: list[tuple[int, str]] = pool if pool is not None else []
    for k in range(n):
        doc_id = first_id + k
        roll = rng.random()
        if roll < NEAR_SHARE + EXACT_SHARE and sources:
            src_id, src = sources[int(rng.integers(0, len(sources)))]
            text = src + " dup" if roll < NEAR_SHARE else src
            planted[doc_id] = src_id
        else:
            text = " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
            sources.append((doc_id, text))
        ids.append(doc_id)
        texts.append(text)
    return ids, texts, planted


def write_documents(path: str, rng: np.random.Generator, ids: list[int],
                    texts: list[str]) -> None:
    write_table(path, {
        "doc_id": np.asarray(ids, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, len(ids), p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.asarray([len(t) for t in texts], dtype="int64")})


def zipf_texts(rng: np.random.Generator, n: int, vocab: int,
               first_word: int = 0) -> list[str]:
    """Token streams for the sketch stores: Zipf(1.1) ranks over a
    ``vocab``-word dictionary, so a few heavy hitters sit above a long
    tail of distinct tokens."""
    out = []
    for _ in range(n):
        ranks = rng.zipf(1.1, int(rng.integers(20, 81))) % vocab
        out.append(" ".join(f"t{first_word + r}" for r in ranks))
    return out
