"""Seeded synthetic inputs, written as parquet into the run's work directory.

The benchmark never reads shared test data: every table is generated here
from ``--seed`` with numpy and written with pyarrow, so the program under
test receives only these files.  Distributions are fixed; the seed moves
the values.  The shapes the check catalogs rely on are planted on purpose
and listed next to each table.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at scale 1.  Small enough that a run fits its time budget;
#: the high-cardinality key check (l_orderkey against orders) still sees
#: ORDERS distinct values, which keeps it the slowest single check.
ORDERS = 14_000
EVENTS = 12_000
DOCUMENTS = 400
EMBEDDINGS = 600
EMBEDDING_DIM = 32
#: Number of parquet files the events stream is split into, one per
#: micro-batch.
STREAM_FILES = 4
#: Files of the stream with an error burst (null values), which fail the
#: per-batch null-fraction check.
STREAM_BURST_FILES = (1,)

RETURNFLAGS = ("A", "N", "R")
LINESTATUS = ("O", "F")
SHIPMODES = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
ORDERSTATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_P = (0.35, 0.35, 0.1, 0.1, 0.1)
WORDS = tuple(f"w{i:03d}" for i in range(400))

_DAY_US = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(day: datetime) -> int:
    return int((day - _EPOCH).total_seconds()) * 1_000_000


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _orders(rng, n: int) -> pa.Table:
    # sparse unique keys, like TPC-H; day-granular dates 1993..1998
    keys = np.sort(rng.choice(4 * n, n, replace=False)) + 1
    days = rng.integers(0, 6 * 365, n)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n // 7 + 2, n), pa.int64()),
        "o_orderstatus": _pick(rng, ORDERSTATUS, n),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n), 2),
        "o_orderdate": pa.array(
            _us(datetime(1993, 1, 1)) + days * _DAY_US, pa.timestamp("us")
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
        "o_clerk": pa.array(
            [f"Clerk#{c:09d}" for c in rng.integers(1, 1_000, n)]
        ),
    })


def _lineitem(rng, orders: pa.Table) -> pa.Table:
    # 1 + Poisson(3) lines per order; (l_orderkey, l_linenumber) is unique
    # and l_linestatus is constant within an order (a functional
    # dependency that holds), l_returnflag is not (one that fails)
    lines = 1 + rng.poisson(3.0, orders.num_rows)
    n = int(lines.sum())
    okeys = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    odate = np.repeat(orders["o_orderdate"].cast(pa.int64()).to_numpy(), lines)
    status = np.repeat(rng.integers(0, 2, orders.num_rows), lines)
    discount = np.round(rng.integers(0, 11, n) / 100.0, 2)
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), (n, 3))]
    return pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        # 1% NULL discounts
        "l_discount": pa.array(discount, mask=rng.random(n) < 0.01),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _pick(rng, RETURNFLAGS, n),
        "l_linestatus": pa.array(np.asarray(LINESTATUS)[status]),
        "l_shipdate": pa.array(
            odate + rng.integers(1, 122, n) * _DAY_US, pa.timestamp("us")
        ),
        "l_shipmode": _pick(rng, SHIPMODES, n),
        "l_comment": pa.array([" ".join(w) for w in words]),
    })


def _orders_next(rng, orders: pa.Table) -> pa.Table:
    # the next snapshot of orders: 2% of rows dropped, 3% new keys added,
    # 1% of surviving prices changed, and no 'P' status among new rows
    n = orders.num_rows
    keep = rng.random(n) >= 0.02
    kept = orders.filter(pa.array(keep))
    price = kept["o_totalprice"].to_numpy().copy()
    bump = rng.random(len(price)) < 0.01
    price[bump] = np.round(price[bump] * 1.1, 2)
    kept = kept.set_column(
        kept.schema.get_field_index("o_totalprice"), "o_totalprice",
        pa.array(price),
    )
    n_new = max(1, int(0.03 * n))
    new = _orders(rng, n_new)
    new = new.set_column(0, "o_orderkey", pa.array(
        np.arange(n_new, dtype=np.int64) + 4 * n + 1
    ))
    new = new.set_column(
        new.schema.get_field_index("o_orderstatus"), "o_orderstatus",
        _pick(rng, ORDERSTATUS[:2], n_new),
    )
    return pa.concat_tables([kept, new])


def _events(rng, n: int) -> pa.Table:
    # two weeks of events in time order; 'error' events carry no value
    # (NULL), 'purchase' values come from a wider distribution than the
    # rest; files STREAM_BURST_FILES of the stream are error bursts
    ts = np.sort(rng.integers(_us(datetime(2024, 3, 1)),
                              _us(datetime(2024, 3, 15)), n))
    etype = rng.choice(len(EVENT_TYPES), n, p=EVENT_P)
    per_file = n // STREAM_FILES
    for f in STREAM_BURST_FILES:
        burst = slice(f * per_file, (f + 1) * per_file)
        etype[burst] = np.where(
            rng.random(per_file) < 0.4, EVENT_TYPES.index("error"), etype[burst]
        )
    value = np.round(rng.exponential(20.0, n), 2)
    purchase = etype == EVENT_TYPES.index("purchase")
    value[purchase] = np.round(rng.exponential(60.0, int(purchase.sum())), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, 2_000, n), pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[etype]),
        "value": pa.array(value, mask=etype == EVENT_TYPES.index("error")),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
        ),
    })


def _documents(rng, n: int) -> pa.Table:
    # random texts over a 400-word vocabulary, so unrelated documents share
    # no 3- or 4-word shingle in practice; 15% are verbatim copies of an
    # earlier document (exact near-duplicates, and contamination when a
    # copy straddles the train/eval split)
    vocab = np.asarray(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(20, 60)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "source": pa.array([f"src{s}" for s in rng.integers(0, 8, n)]),
    })


def _embeddings(rng, n: int) -> pa.Table:
    # unit-norm vectors, except 5% scaled to norm 1.5
    vecs = rng.standard_normal((n, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs[rng.random(n) < 0.05] *= 1.5
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
    })


def generate(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """Every input table, as a pure function of ``seed`` and ``scale``
    (a multiplier of the row counts above)."""
    rng = np.random.default_rng(seed)

    def size(n: int) -> int:
        return max(40, int(n * scale))

    orders = _orders(rng, size(ORDERS))
    return {
        "orders": orders,
        "lineitem": _lineitem(rng, orders),
        "orders_next": _orders_next(rng, orders),
        "events": _events(rng, size(EVENTS)),
        "documents": _documents(rng, size(DOCUMENTS)),
        "embeddings": _embeddings(rng, size(EMBEDDINGS)),
    }


def stage(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table to ``<out_dir>/<name>.parquet`` and the events
    stream to ``<out_dir>/stream/part-NNN.parquet``; returns the paths by
    name (the stream directory under ``"stream"``)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    stream_dir = os.path.join(out_dir, "stream")
    os.makedirs(stream_dir)
    events = tables["events"]
    per_file = events.num_rows // STREAM_FILES
    for f in range(STREAM_FILES):
        stop = events.num_rows if f == STREAM_FILES - 1 else (f + 1) * per_file
        part = os.path.join(stream_dir, f"part-{f:03d}.parquet")
        pq.write_table(events.slice(f * per_file, stop - f * per_file), part)
        # the file source orders files by modification time: make it the
        # file order even on filesystems with coarse timestamps
        os.utime(part, ns=(f * 10**9 + 10**18, f * 10**9 + 10**18))
    paths["stream"] = stream_dir
    return paths
