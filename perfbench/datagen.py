"""Seeded input generators.

Everything a workload reads is made here from ``--seed``, inside the run's
own directory, so the same seed always gives the same inputs and no run
depends on data outside the checkout:

- ``versioned_table``: the fresh-read table. ``entity_id`` plus three
  versioned columns (``ARRAY<STRUCT<ts BIGINT, value DOUBLE>>``, newest
  first): ``value_versions`` (4 versions, never freshened),
  ``score_versions`` and ``pscore_versions`` (2 versions each). For half of
  the entities, chosen by the seed, the newest score is older than the
  shelf life at ``NOW_MS``; the other half is fresh. The generator returns
  the arrays it wrote, which are the expected cells the checks use.
- ``tpch_dataset``: the ten tables the query registry reads (``region`` …
  ``embeddings``), with the column names, types and value domains of the
  engine's test data, at a chosen scale factor.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
#: the fixed "now" of the fresh-read table (2024-01-01T00:00:00Z)
NOW_MS = 1_704_067_200_000
#: the ShelfLife attached to score and pscore
SHELF_LIFE_MS = 5 * DAY_MS


@dataclass
class VersionedTable:
    path: str  # directory holding ``<name>.parquet``
    name: str
    n: int
    value_latest: np.ndarray  # newest value per entity (the producers' input)
    score_newest_ts: np.ndarray
    pscore_newest_ts: np.ndarray
    bytes_on_disk: int


def _versions(ts: np.ndarray, values: np.ndarray) -> pa.Array:
    """(n, k) timestamp/value matrices, newest first → list<struct> column."""
    n, k = ts.shape
    cells = pa.StructArray.from_arrays(
        [pa.array(ts.ravel(), pa.int64()), pa.array(values.ravel(), pa.float64())],
        fields=[pa.field("ts", pa.int64(), nullable=False), pa.field("value", pa.float64())],
    )
    offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, cells)


def _cents(rng: np.random.Generator, lo: float, hi: float, size) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=size) / 100.0


def _score_history(rng, n: int, stale: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two versions per entity; the newest is 6-30 days old for stale
    entities and 0-4 days old for fresh ones."""
    age = np.where(
        stale,
        rng.integers(6 * DAY_MS, 30 * DAY_MS, size=n),
        rng.integers(0, 4 * DAY_MS, size=n),
    )
    newest = NOW_MS - age
    ts = np.stack([newest, newest - rng.integers(DAY_MS, 10 * DAY_MS, size=n)], axis=1)
    return ts, _cents(rng, 0, 20_000, (n, 2))


def versioned_table(root: str, seed: int, n: int, n_files: int, name: str = "versioned") -> VersionedTable:
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n, dtype=np.int64)
    # value: 4 daily-ish versions, newest first
    v_newest = NOW_MS - rng.integers(0, DAY_MS, size=n)
    v_ts = v_newest[:, None] - np.arange(4)[None, :] * DAY_MS
    v_val = _cents(rng, 0, 10_000, (n, 4))
    stale = np.zeros(n, dtype=bool)
    stale[rng.permutation(n)[: n // 2]] = True
    s_ts, s_val = _score_history(rng, n, stale)
    pstale = np.zeros(n, dtype=bool)
    pstale[rng.permutation(n)[: n // 2]] = True
    p_ts, p_val = _score_history(rng, n, pstale)

    out = os.path.join(root, f"{name}.parquet")
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        t = pa.table(
            {
                "entity_id": pa.array(ids[lo:hi]),
                "value_versions": _versions(v_ts[lo:hi], v_val[lo:hi]),
                "score_versions": _versions(s_ts[lo:hi], s_val[lo:hi]),
                "pscore_versions": _versions(p_ts[lo:hi], p_val[lo:hi]),
            }
        )
        pq.write_table(t, os.path.join(out, f"part-{f:03d}.parquet"), row_group_size=8192)
    size = sum(os.path.getsize(os.path.join(out, p)) for p in os.listdir(out))
    return VersionedTable(
        path=root,
        name=name,
        n=n,
        value_latest=v_val[:, 0],
        score_newest_ts=s_ts[:, 0],
        pscore_newest_ts=p_ts[:, 0],
        bytes_on_disk=size,
    )


# -- the query registry's tables -------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small", "green", "fast"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _pick(rng, choices: list[str], size: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), size=size)])


def _days(rng, start: dt.datetime, span_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, size=size).astype("timedelta64[D]")


def tpch_dataset(root: str, seed: int, sf: float) -> str:
    """Write the ten tables under ``root`` and return it."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_events // 66)
    n_docs = 500
    n_vecs = 500
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray(_ADJ, dtype=object)[rng.integers(0, len(_ADJ), n_part)]
    noun = np.asarray(_NOUN, dtype=object)[rng.integers(0, len(_NOUN), n_part)]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
        }
    )
    orderdate = _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
            "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(
                orderdate[l_order] + rng.integers(1, 122, n_line).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
        }
    )
    ev_ts = np.datetime64(dt.datetime(2024, 1, 1), "us") + rng.integers(
        0, 30 * DAY_MS * 1000, n_events
    ).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": _cents(rng, 0.01, 490.02, n_events),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n_docs)]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0, 0.1, (10, 64))
    vecs = (centroids[labels] + rng.normal(0, 0.05, (n_vecs, 64))).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(root, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    return root
