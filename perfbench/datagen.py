"""Seeded TPC-H-shaped inputs for the lake benchmark.

Every table is a pure function of ``(seed, rows)``: numpy's PCG64 stream
drives every column, so the same seed gives byte-identical frames.  The
shapes follow the repository's test fixtures (the simplified TPC-H
``orders``/``lineitem`` schemas and the ``embeddings`` table the registry
programs read), with one deliberate difference: ``(l_orderkey,
l_linenumber)`` is unique, so it can serve as a merge key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: rows per table at scale factor 0.1 (the repository's sf0.1 tier)
SF01_ROWS = {
    "orders": 150_000,
    "lineitem": 600_000,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "embeddings": 2_000,
}

_EPOCH_LO = np.datetime64("1992-01-01", "us").astype(np.int64)
_DAY_US = 86_400_000_000
_SPAN_DAYS = 365 * 10
_STATUSES = np.array(["O", "F", "P"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_RETURNFLAGS = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["O", "F"])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int, span_days: int = _SPAN_DAYS) -> np.ndarray:
    days = rng.integers(0, span_days, n)
    return (_EPOCH_LO + days * _DAY_US).astype("datetime64[us]")


def orders(rng: np.random.Generator, keys: np.ndarray, n_customers: int) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
            "o_orderstatus": _STATUSES[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 900.0, 500_000.0, n),
            "o_orderdate": _dates(rng, n),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n)],
        }
    )


def lineitem(
    rng: np.random.Generator, orderkeys: np.ndarray, n_parts: int, n_suppliers: int
) -> pd.DataFrame:
    """1 to 7 lines per order key (4 on average), linenumbers 1..k."""
    k = rng.integers(1, 8, len(orderkeys))
    n = int(k.sum())
    starts = np.repeat(np.cumsum(k) - k, k)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_orderkey": np.repeat(orderkeys.astype(np.int64), k),
            "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_suppliers, n).astype(np.int64),
            "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _RETURNFLAGS[rng.integers(0, 3, n)],
            "l_linestatus": _LINESTATUS[rng.integers(0, 2, n)],
            "l_shipdate": _dates(rng, n),
        }
    )


def tpch_base(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """``orders`` and ``lineitem`` at ``scale`` x sf0.1."""
    rng = np.random.default_rng(seed)
    n_orders = int(SF01_ROWS["orders"] * scale)
    keys = np.arange(n_orders, dtype=np.int64)
    return {
        "orders": orders(rng, keys, int(SF01_ROWS["customer"] * scale) or 1),
        "lineitem": lineitem(rng, keys, SF01_ROWS["part"], SF01_ROWS["supplier"]),
    }


def embeddings(seed: int, n: int, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    """Clustered unit vectors: each label owns a centroid (the table the
    ``knn_label_vote`` registry program reads)."""
    rng = np.random.default_rng(seed + 1)
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centroids[label] + rng.normal(0.0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": label.astype(np.int32),
        }
    )
