"""Seeded input generators. The program under test only ever sees what
these write: the same seed gives byte-identical tables.

``tpch_like`` writes the star schema the registry queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents;
one parquet file each, naive microsecond timestamps). ``etl_inputs`` writes the
snapshots, increment, changelog and landing files of the nightly batch
and returns the values its outputs must match, computed here from the
generator rather than by the program.
"""

from __future__ import annotations

import os
from typing import Dict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
_WORDS = "a key agg row scan slow fast table value part hash merge batch join sort spill".split()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _write(path: str, cols: Dict[str, object]) -> None:
    pq.write_table(pa.table(cols), path)


def tpch_like(out_dir: str, seed: int, sf: float) -> Dict[str, int]:
    """Write the query tables at scale ``sf`` (sf 0.01 ≈ 60k lineitem
    rows). Returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        },
    }
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US),
    }
    span_us = 30 * _DAY_US
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, span_us, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    n_docs = int(50_000 * sf)
    texts = [" ".join(rng.choice(_WORDS, rng.integers(20, 80))) for _ in range(n_docs)]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "de", "fr"], n_docs),
        "source": _pick(rng, ["web", "books", "code"], n_docs),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }
    for name, cols in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


def etl_inputs(out_dir: str, seed: int, scale: int) -> Dict[str, object]:
    """Write the nightly batch's inputs under ``out_dir`` and return the
    counts its outputs must show. ``scale`` is the customer count; the
    other inputs are sized from it."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "landing"), exist_ok=True)
    n_cust = scale
    n_del, n_chg, n_add = scale // 20, scale // 10, scale // 25
    n_ord, n_upd, n_ins = scale * 5, scale // 4, scale // 4
    n_hist_keys, versions = scale // 2, 3
    n_files, per_file, overlap = 4, scale // 2, scale // 10

    def customers(ids: np.ndarray, balance: np.ndarray) -> Dict[str, object]:
        return {
            "cust_id": pa.array(ids.astype("int64")),
            "name": pa.array([f"Customer#{i:09d}" for i in ids]),
            "segment": pa.array(np.asarray(_SEGMENTS, dtype=object)[ids % 5]),
            "balance": pa.array(balance),
        }

    old_ids = np.arange(n_cust)
    old_bal = _money(rng, -999.99, 9999.99, n_cust)
    gone = rng.choice(n_cust, n_del + n_chg, replace=False)
    deleted, changed = gone[:n_del], gone[n_del:]
    new_bal = old_bal.copy()
    new_bal[changed] = np.round(new_bal[changed] + 1.0, 2)
    keep = np.setdiff1d(old_ids, deleted)
    new_ids = np.concatenate([keep, np.arange(n_cust, n_cust + n_add)])
    new_bal = np.concatenate([new_bal[keep], _money(rng, 0, 9999.99, n_add)])
    _write(os.path.join(out_dir, "customers_old.parquet"), customers(old_ids, old_bal))
    _write(os.path.join(out_dir, "customers_new.parquet"), customers(new_ids, new_bal))

    def orders(ids: np.ndarray) -> Dict[str, object]:
        n = len(ids)
        return {
            "order_id": pa.array(ids.astype("int64")),
            "cust_id": pa.array(new_ids[rng.integers(0, len(new_ids), n)].astype("int64")),
            "order_month": pa.array([f"2024-{m:02d}" for m in rng.integers(1, 13, n)]),
            "amount": pa.array(_money(rng, 1, 5000, n)),
        }

    _write(os.path.join(out_dir, "orders.parquet"), orders(np.arange(n_ord)))
    increment = np.concatenate(
        [rng.choice(n_ord, n_upd, replace=False), np.arange(n_ord, n_ord + n_ins)]
    )
    _write(os.path.join(out_dir, "orders_increment.parquet"), orders(increment))

    hist_ids = np.repeat(rng.choice(n_cust, n_hist_keys, replace=False), versions)
    _write(
        os.path.join(out_dir, "customer_changes.parquet"),
        {
            "cust_id": pa.array(hist_ids.astype("int64")),
            "change_ts_us": pa.array(
                _EPOCH_2024 + np.arange(len(hist_ids), dtype="int64") * 1_000_000
            ),
            "balance": pa.array(_money(rng, 0, 9999.99, len(hist_ids))),
        },
    )

    # landing files overlap on event_id: later files update earlier rows
    event_ids = set()
    for f in range(n_files):
        ids = np.arange(f * (per_file - overlap), f * (per_file - overlap) + per_file)
        event_ids.update(ids.tolist())
        _write(
            os.path.join(out_dir, "landing", f"events-{f:03d}.parquet"),
            {
                "event_id": pa.array(ids.astype("int64")),
                "user_id": pa.array(rng.integers(0, 1000, per_file).astype("int64")),
                "event_type": _pick(rng, _EVENT_TYPES, per_file),
                "value": pa.array(_money(rng, 0.01, 500, per_file)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, per_file)]),
                "ts": pa.array(_EPOCH_2024 + ids * 1_000_000, type=pa.int64()).cast(
                    pa.timestamp("us", tz="UTC")
                ),
            },
        )
    return {
        "customers": len(new_ids),
        "orders": n_ord + n_ins,
        "diff": {
            "added": n_add,
            "deleted": n_del,
            "changed": n_chg,
            "unchanged": n_cust - n_del - n_chg,
        },
        "history": len(hist_ids),
        "history_current": n_hist_keys,
        # what the refresh, merge, diff, scd2 and stream jobs write in
        # one batch: customers; orders, then orders plus inserts after
        # the merge; one diff row per old-or-new key; history; events
        "rows_written": len(new_ids)
        + (2 * n_ord + n_ins)
        + (n_cust + n_add)
        + len(hist_ids)
        + len(event_ids),
        "events": len(event_ids),
        "landing_rows": n_files * per_file,
        "landing_files": n_files,
    }
