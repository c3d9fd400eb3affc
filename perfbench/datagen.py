"""Seeded generator of the benchmark's input tables.

Writes the star schema the engine's queries read (``region nation
customer supplier part orders lineitem events``) and the text corpus
the curation queries read (``documents``), one parquet file per table,
with the same column names, types and value domains as the engine's
synthetic test data. Row counts scale linearly with ``sf``
(``sf=0.01`` gives 60,000 lineitem rows); the corpus has
``max(500, 50,000 * sf)`` documents, 5% of them near-duplicates (an
earlier document's text plus the token ``dup``).

``copies`` > 1 builds a replica: the fact tables (orders, lineitem,
events, documents) are repeated with their keys shifted by a seeded key
offset per copy, so joins keep their fan-out while the dimensions stay
fixed, each copy ``i > 0`` of a document gets the prefix token ``r<i>``
(similar, not identical, to its original), and every fact table is
written in a seeded row order. The same ``seed``, ``sf`` and ``copies``
always give byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
              "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = np.asarray(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split(), dtype=object)
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]

_DAY_US = 86_400_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2405          # 1995-01-01 .. 2001-08-01
_SHIP_EPOCH = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2499           # 1995-01-02 .. 2001-11-04
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _DAY_US


def _pick(rng, values, n):
    idx = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dims(rng, sf):
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    part = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}, n_cust, n_supp, n_part


def _facts(rng, sf, n_cust, n_supp, n_part):
    """One copy of the fact tables, keys starting at 0."""
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ORDER_EPOCH
        + rng.integers(0, _ORDER_DAYS, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    }
    lineitem = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _SHIP_EPOCH
        + rng.integers(0, _SHIP_DAYS, n_li) * np.timedelta64(1, "D"),
    }
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (_EVENT_SPAN_US - 60_000_000)
    events = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _EVENT_EPOCH + offs.astype(np.int64) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    return {"orders": orders, "lineitem": lineitem, "events": events,
            "documents": _documents(rng, max(500, int(50_000 * sf)))}


def _documents(rng, n_docs):
    """Texts of 10-99 words drawn from a 30-word vocabulary; 5% of the
    documents, chosen at random, repeat another document's text with
    ``dup`` appended, so duplicate chains can form."""
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)])
             for k in rng.integers(10, 100, n_docs)]
    for i in rng.permutation(n_docs)[: n_docs // 20]:
        src = (i + rng.integers(1, n_docs)) % n_docs
        texts[i] = texts[src] + " dup"
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[
            rng.choice(len(_LANGS), n_docs, p=_LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
    }


_SHIFTED = {"orders": ("o_orderkey",), "lineitem": ("l_orderkey",),
            "events": ("event_id", "user_id"), "documents": ("doc_id",)}


def _copy(cols: dict, shifted, i: int, key_offset: int) -> pa.Table:
    out = {name: col + i * key_offset if name in shifted else col
           for name, col in cols.items()}
    if "text" in out:
        if i:
            out["text"] = pa.compute.binary_join_element_wise(
                f"r{i}", out["text"], " ")
        out["n_chars"] = pa.compute.utf8_length(out["text"]).cast(pa.int64())
    return pa.table(out)


def _replicate(rng, table: str, cols: dict, copies: int,
               key_offset: int) -> pa.Table:
    parts = [_copy(cols, _SHIFTED[table], i, key_offset)
             for i in range(copies)]
    out = pa.concat_tables(parts)
    return out.take(pa.array(rng.permutation(out.num_rows)))


def generate(out_dir: str, seed: int, sf: float, copies: int = 1) -> dict:
    """Write every table under ``out_dir`` and return ``{table: rows}``."""
    if sf <= 0 or copies < 1:
        raise ValueError(f"need sf > 0 and copies >= 1, got {sf}, {copies}")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables, n_cust, n_supp, n_part = _dims(rng, sf)
    facts = _facts(rng, sf, n_cust, n_supp, n_part)
    # above every key of one copy, so shifted copies never collide
    key_offset = int(rng.integers(10, 100)) * 10_000_000
    for name, cols in facts.items():
        tables[name] = _replicate(rng, name, cols, copies, key_offset)
    rows = {}
    for name in TABLES:
        table = tables[name]
        # several row groups per file, so scans split across cores
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1000, table.num_rows // 12))
        rows[name] = table.num_rows
    return rows
