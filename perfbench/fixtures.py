"""Seeded inputs for the benchmark.

Two kinds of input live here, and only the second depends on ``--seed``:

* the base fixture tables (TPC-H-shaped star schema plus ``events``,
  ``documents`` and ``embeddings``), generated from ``BASE_SEED`` at a
  given scale factor, with the schemas and value domains of the
  project's test fixtures. They are generated once per checkout, because
  the engine's one-time staging (``prestage``) is keyed on them;
* the per-run inputs: the operation order of every workload and the
  change batches of ``medallion_pipeline``. That workload's table history
  (the batches landed before a run) is built once per checkout from
  ``BASE_SEED``, so it too is the same for every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "red", "small", "old")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400 * 1_000_000
_ORDER_START = pd.Timestamp("1995-01-01")
_ORDER_DAYS = (pd.Timestamp("2001-08-01") - _ORDER_START).days


def _days_to_ts(days: np.ndarray) -> pa.Array:
    us = _ORDER_START.value // 1000 + days.astype(np.int64) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.01: 60k lineitems)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(20_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_events = max(int(1_000_000 * sf), 1000)
    n_docs = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n_part)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days_to_ts(order_days),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    l_order = rng.integers(0, n_ord, n_line).astype(np.int64)
    # line numbers count up within an order, as in TPC-H
    ranks = pd.Series(l_order).groupby(l_order).cumcount().to_numpy() + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(ranks, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days_to_ts(
            np.minimum(order_days[l_order] + rng.integers(1, 122, n_line),
                       _ORDER_DAYS + 95)
        ),
    })
    # events arrive in event_id order with increasing timestamps
    gaps = rng.exponential(30 * 86_400 / n_events, n_events)
    ts_us = (pd.Timestamp("2024-01-01").value // 1000
             + np.cumsum(gaps * 1_000_000).astype(np.int64))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_cust // 10, 15), n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(rng.choice(_VOCAB, rng.integers(10, 90)))
        for _ in range(n_docs)
    ]
    for i in range(0, n_docs, 25):  # a few near-duplicates for the dedup ops
        words = texts[i].split()
        words[len(words) // 2] = "vector"
        texts[i + 1] = " ".join(words)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_base_tables(sf: float, out_dir: str) -> None:
    """Write the fixture tables to ``out_dir`` (one parquet file each);
    the directory is published by rename so a reader never sees half of it."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in base_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


def op_order(ops: list[str], seed: int, passes: int) -> list[str]:
    """``passes`` shuffled copies of ``ops``, back to back: every pass runs
    each op once, so the mix of a whole number of passes is seed-free."""
    rng = np.random.default_rng(seed)
    out: list[str] = []
    for _ in range(passes):
        out.extend(ops[i] for i in rng.permutation(len(ops)))
    return out


# Of a change batch: the share that repeats a key of the same batch with
# later values (the latest ``_seq`` must win), and of the other rows the
# share that re-sends a key already landed.
DUP_FRACTION = 0.1
UPDATE_FRACTION = 0.5


class BatchSource:
    """Orders-shaped change batches for ``medallion_pipeline``.

    ``_seq`` numbers every landed row in arrival order. New keys count up
    from 0, so ``landed`` (the rows landed before, if any) fixes where the
    source resumes: every key below its largest is already landed.
    """

    def __init__(self, orders: pd.DataFrame, seed: int,
                 landed: pd.DataFrame | None = None):
        self._orders = orders.reset_index(drop=True)
        self._rng = np.random.default_rng(seed)
        self._next_new = self._seq = 0
        if landed is not None and len(landed):
            self._next_new = int(landed["o_orderkey"].max()) + 1
            self._seq = int(landed["_seq"].max()) + 1

    def next_batch(self, batch_no: int, rows: int) -> pd.DataFrame:
        rng, n = self._rng, rows
        n_dup = int(n * DUP_FRACTION)
        n_upd = int((n - n_dup) * UPDATE_FRACTION) if self._next_new else 0
        n_new = n - n_dup - n_upd
        keys = list(rng.choice(self._next_new, n_upd, replace=False)) if n_upd else []
        keys += range(self._next_new, self._next_new + n_new)
        self._next_new += n_new
        keys += list(rng.choice(keys, n_dup, replace=True))
        src = self._orders.iloc[[k % len(self._orders) for k in keys]]
        out = pd.DataFrame({
            "o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": src["o_custkey"].to_numpy(),
            "o_orderstatus": rng.choice(("F", "O", "P"), n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": src["o_orderdate"].to_numpy(),
            "o_orderpriority": src["o_orderpriority"].to_numpy(),
            "_batch": np.full(n, batch_no, dtype=np.int64),
            "_seq": np.arange(self._seq, self._seq + n, dtype=np.int64),
        })
        self._seq += n
        return out
