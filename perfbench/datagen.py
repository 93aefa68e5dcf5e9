"""Seeded input generators.

``star_schema`` builds the ten tables the query registry reads (the
same schemas and value domains as the TPC-H-style test tables), and
``lake_nights`` builds the per-night increments the lake_refresh batch
consumes. Everything is numpy from one ``SeedSequence``, written as one
parquet file per table, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import os
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
TS = pa.timestamp("us")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values with two decimals, each the double nearest
    to its decimal form (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _names(prefix: str, keys: np.ndarray) -> List[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def star_schema(sf: float, seed: int) -> Dict[str, pa.Table]:
    """The registry's ten tables at scale factor ``sf``."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_vecs = max(500, int(20_000 * sf))
    out: Dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _names("Customer", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _names("Supplier", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": (90_000 + pk % 1000 * 10) / 100.0,
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US, TS
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                _EPOCH_1995_US + _DAY_US + rng.integers(0, 2500, n_line) * _DAY_US, TS
            ),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) + _EPOCH_2024_US
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, TS),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_events) * 100), 1) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in twenty repeats a prefix of an
    earlier document plus a marker word (the near-duplicates the dedup
    queries look for)."""
    texts: List[str] = []
    vocab = np.array(VOCAB)
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            keep = int(rng.integers(min(10, len(src)), len(src) + 1))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": np.char.add("src", (ids % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# -- lake_refresh nightly inputs ------------------------------------------------

NEW_KEY_BASE = 100_000_000  # keys of rows inserted by a night's feed
_NIGHT_KEYS = 1_000_000  # key range reserved per night


def lake_nights(base: Dict[str, pa.Table], nights: int, seed: int) -> List[Dict[str, pa.Table]]:
    """Per night: an orders increment (updates + new keys, unique on
    o_orderkey), an I/U/D orders changelog (two updates on some keys,
    so latest-seq must win), the night's full customer snapshot, and
    the customer change stream feeding the SCD-2 dimension."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
    orders = base["orders"]
    okeys = orders.column("o_orderkey").to_numpy()
    n_ord = len(okeys)
    cust = base["customer"]
    cur_keys = cust.column("c_custkey").to_numpy()
    cur_bal = cust.column("c_acctbal").to_numpy()
    cur_seg = cust.column("c_mktsegment").to_numpy(zero_copy_only=False)
    out = []
    for night in range(1, nights + 1):
        fresh = NEW_KEY_BASE + night * _NIGHT_KEYS
        n_upd, n_new = max(1, n_ord // 100), max(1, n_ord // 200)
        upd = rng.choice(okeys, n_upd, replace=False)
        inc_keys = np.concatenate([upd, fresh + np.arange(n_new)])
        n_inc = len(inc_keys)
        inc = pa.table(
            {
                "o_orderkey": inc_keys.astype(np.int64),
                "o_custkey": rng.integers(0, len(cur_keys), n_inc),
                "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_inc)],
                "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_inc),
                "o_orderdate": pa.array(
                    _EPOCH_1995_US + rng.integers(0, 2400, n_inc) * _DAY_US, TS
                ),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_inc)],
            }
        )

        touched = rng.choice(okeys, max(3, n_ord // 50), replace=False)
        third = len(touched) // 3
        twice, once, dele = touched[:third], touched[third : 2 * third], touched[2 * third :]
        ins = fresh + _NIGHT_KEYS // 2 + np.arange(max(1, n_ord // 300))
        keys = np.concatenate([twice, twice, once, dele, ins])
        seqs = np.concatenate(
            [np.ones(len(twice)), np.full(len(twice), 2), np.ones(len(once)),
             np.ones(len(dele)), np.ones(len(ins))]
        ).astype(np.int64)
        ops = ["U"] * (2 * len(twice) + len(once)) + ["D"] * len(dele) + ["I"] * len(ins)
        cdc = pa.table(
            {
                "o_orderkey": keys.astype(np.int64),
                "seq": seqs,
                "op": ops,
                "o_totalprice": _cents(rng, 1000.0, 500_000.0, len(keys)),
            }
        )

        n_c = len(cur_keys)
        chg = rng.random(n_c) < 0.02
        gone = (rng.random(n_c) < 0.005) & ~chg
        bal = np.where(chg, _cents(rng, -999.99, 9999.99, n_c), cur_bal)
        n_add = max(1, n_c // 200)
        add_keys = fresh + np.arange(n_add)
        add_seg = np.array(SEGMENTS)[rng.integers(0, 5, n_add)]
        add_bal = _cents(rng, -999.99, 9999.99, n_add)
        keep = ~gone
        changed = np.concatenate([cur_keys[chg], add_keys])
        cur_keys = np.concatenate([cur_keys[keep], add_keys]).astype(np.int64)
        cur_bal = np.concatenate([bal[keep], add_bal])
        cur_seg = np.concatenate([cur_seg[keep], add_seg])
        snapshot = pa.table(
            {"c_custkey": cur_keys, "c_acctbal": cur_bal, "c_mktsegment": cur_seg}
        )
        changes = pa.table(
            {
                "c_custkey": changed.astype(np.int64),
                "c_acctbal": np.concatenate([bal[chg], add_bal]),
                "change_us": np.full(len(changed), _EPOCH_2024_US + night * _DAY_US, np.int64),
                "change_seq": np.arange(len(changed), dtype=np.int64),
            }
        )
        out.append({"orders_inc": inc, "orders_cdc": cdc, "customer": snapshot, "customer_changes": changes})
    return out


def write_tables(tables: Dict[str, pa.Table], directory: str) -> Dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(tbl, path)
        paths[name] = path
    return paths


def digest(paths: List[str]) -> str:
    """sha256 over the files' bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
