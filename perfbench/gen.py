"""Seeded input generation for the benchmark.

Everything the program reads is produced here from ``--seed`` and
written as parquet files; the workloads then hand the program only those
files. Generation is pure NumPy + pyarrow (no Spark), so it can run once
per process before the session starts, and the same seed yields
byte-identical files (checked in ``test_perfbench.py``).

Two families of inputs:

* sync inputs (``SyncInputs``): a source collection of orders-derived
  JSON documents keyed by ascending zero-padded ids, plus catch-up event
  batches in the CDC feed shape (op_seq, op_type, doc_id, ts, full_doc).
* olap tables: the ten tables of the repository's fixture schemas at a
  small scale, so registered queries and their DuckDB oracles run
  unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_SCHEMA = pa.schema(
    [
        ("op_seq", pa.int64()),
        ("op_type", pa.string()),
        ("doc_id", pa.string()),
        ("ts", pa.timestamp("us")),
        ("full_doc", pa.string()),
    ]
)
SOURCE_SCHEMA = pa.schema([("doc_id", pa.string()), ("full_doc", pa.string())])

_STATUS = ("O", "F", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EPOCH = datetime(2024, 1, 1)
# Share of the key space counted as "recent" when the generator reports
# how much of the update traffic lands on hot keys.
_RECENT_SHARE = 0.1
# The source collection is split into this many files, so the backfill
# scan has more than one task.
_SOURCE_FILES = 4


def doc_key(i: int) -> str:
    return f"o{i:09d}"


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # parquet footers hold no timestamps, so equal tables give equal bytes
    pq.write_table(table, path, compression="snappy")


def _order_docs(rng: np.random.Generator, keys: list[str], versions) -> list[str]:
    """Orders-shaped JSON documents, one per key, drawn in bulk."""
    n = len(keys)
    cust = rng.integers(0, 15_000, n)
    status = rng.integers(0, 3, n)
    price = np.round(rng.uniform(1000, 500_000, n), 2)
    day = (np.datetime64("1995-01-01") + rng.integers(0, 2400, n)).astype(str)
    prio = rng.integers(0, 5, n)
    return [
        f'{{"_id":"{k}","custkey":{c},"status":"{_STATUS[st]}",'
        f'"totalprice":{p!r},"orderdate":"{d}","priority":"{_PRIORITY[pr]}","v":{v}}}'
        for k, c, st, p, d, pr, v in zip(
            keys, cust.tolist(), status.tolist(), price.tolist(), day, prio.tolist(), versions
        )
    ]


@dataclass
class SyncInputs:
    """One sync workload's inputs: the source collection and the ordered
    event batches, in memory (for the oracle) and on disk (for the
    program)."""

    source_dir: str
    source_rows: list[tuple[str, str]]
    batch_paths: list[str]
    batches: list[list[tuple]]  # (op_seq, op_type, doc_id, full_doc)
    stats: dict = field(default_factory=dict)

    @property
    def batch_ids(self) -> list[int]:
        # first op_seq of each batch: stable across resumes, as the
        # engine's event_batches contract requires
        return [b[0][0] for b in self.batches]


def gen_sync(
    seed: int,
    out_dir: str,
    n_docs: int,
    batch_specs: list[tuple[int, dict[str, float]]],
) -> SyncInputs:
    """Source collection of ``n_docs`` documents plus one event batch
    per ``(events, mix)`` in ``batch_specs``.

    ``mix`` gives the share of each op type (insert, update, replace,
    delete). Inserts take fresh ascending keys; updates, replaces and
    deletes pick a live key with a skew toward recent (high) keys —
    the assumed shape of an orders collection whose new orders are the
    ones still changing; the cubic skew and the shares in ``mix`` are
    assumptions, not measured traffic. Targets are always live, as in a
    real change stream, so an update never resurrects a deleted document.
    """
    rng = np.random.default_rng(seed)
    keys = [doc_key(i) for i in range(n_docs)]
    source_rows = list(zip(keys, _order_docs(rng, keys, [0] * n_docs)))
    source_dir = f"{out_dir}/source"
    per_file = -(-n_docs // _SOURCE_FILES)
    for f in range(_SOURCE_FILES):
        part = source_rows[f * per_file : (f + 1) * per_file]
        _write(
            pa.Table.from_arrays(
                [pa.array([r[0] for r in part]), pa.array([r[1] for r in part])],
                schema=SOURCE_SCHEMA,
            ),
            f"{source_dir}/part-{f:03d}.parquet",
        )

    keys_live = list(range(n_docs))  # ascending key indices, lazily pruned
    dead: set[int] = set()
    next_key = n_docs
    seq = 1
    batches: list[list[tuple]] = []
    batch_paths: list[str] = []
    hot_hits = 0
    targeted = 0
    dup_events = 0
    for b, (batch_events, mix) in enumerate(batch_specs):
        ops = list(mix)
        probs = np.array([mix[o] for o in ops], dtype=float)
        kinds = rng.choice(len(ops), size=batch_events, p=probs / probs.sum())
        skew = rng.random(batch_events) ** 3  # mass near 0 -> recent keys
        rows: list[tuple] = []
        seen: set[int] = set()
        for j in range(batch_events):
            op = ops[kinds[j]]
            if len(dead) * 4 > len(keys_live):
                keys_live = [k for k in keys_live if k not in dead]
                dead.clear()
            if op == "insert":
                k = next_key
                next_key += 1
                keys_live.append(k)
                rows.append((seq, "insert", doc_key(k)))
            else:
                # newest live key at or below the skewed position
                p = len(keys_live) - 1 - int(skew[j] * len(keys_live))
                while keys_live[p] in dead:
                    p = p - 1 if p > 0 else len(keys_live) - 1
                k = keys_live[p]
                targeted += 1
                hot_hits += k >= next_key * (1 - _RECENT_SHARE)
                if op == "delete":
                    dead.add(k)
                rows.append((seq, op, doc_key(k)))
            dup_events += k in seen
            seen.add(k)
            seq += 1
        seqs, kinds_out, doc_ids = (list(c) for c in zip(*rows))
        docs = iter(_order_docs(rng, doc_ids, seqs))
        full = [None if o == "delete" else d for o, d in zip(kinds_out, docs)]
        rows = list(zip(seqs, kinds_out, doc_ids, full))
        ts = np.datetime64(_EPOCH, "us") + np.array(seqs) * 1_000_000
        path = f"{out_dir}/batches/batch-{b:04d}.parquet"
        _write(
            pa.Table.from_arrays(
                [pa.array(seqs, pa.int64()), pa.array(kinds_out), pa.array(doc_ids),
                 pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")), pa.array(full)],
                schema=EVENT_SCHEMA,
            ),
            path,
        )
        batches.append(rows)
        batch_paths.append(path)
    total = sum(n for n, _ in batch_specs)
    return SyncInputs(
        source_dir=source_dir,
        source_rows=source_rows,
        batch_paths=batch_paths,
        batches=batches,
        stats={
            "source_docs": n_docs,
            "events": total,
            "hot_key_share": round(hot_hits / targeted, 4) if targeted else 0.0,
            "within_batch_dup_share": round(dup_events / total, 4) if total else 0.0,
        },
    )


# -- olap tables (fixture schemas, small scale) ---------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("small", "red", "blue", "large", "green", "shiny", "steel", "brass")
_PART_NOUN = ("ring", "widget", "bolt", "nut", "gear", "spring", "valve", "pipe")
_PART_TYPE = ("ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.44, 0.13, 0.14, 0.15, 0.14)
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big filter group stream vector"
).split()


def _ts_ms(days: np.ndarray, base: datetime) -> pa.Array:
    ms = (np.datetime64(base, "ms") + days.astype("timedelta64[D]")).astype("datetime64[ms]")
    return pa.array(ms, type=pa.timestamp("ms"))


def gen_olap(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir`` as
    ``<name>.parquet`` at TPC-H-style scale factor ``sf`` (sf 0.01 gives
    lineitem ≈ 60k rows; the two LLM tables stay at 500 rows, as in the
    repository's test data). Returns row counts."""
    rng = np.random.default_rng(seed + 1_000_003)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events, n_docs = int(1_500_000 * sf), int(1_000_000 * sf), 500
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
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
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPE[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [_STATUS[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _ts_ms(order_days, datetime(1995, 1, 1)),
            "o_orderpriority": [_PRIORITY[i] for i in rng.integers(0, 5, n_orders)],
        }
    )
    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per_order)
    n_li = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_ms(order_days[l_order] + rng.integers(1, 122, n_li),
                                 datetime(1995, 1, 1)),
        }
    )
    gaps_us = rng.integers(1, 400_000_000, n_events)
    ts_ns = (np.datetime64(_EPOCH, "ns") + np.cumsum(gaps_us) * 1000).astype("datetime64[ns]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:  # exact copies for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(8, 80))
            texts.append(" ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), n_words)))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    emb = (rng.standard_normal((n_docs, 64)) * 0.12).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
        }
    )
    for name, table in tables.items():
        _write(table, f"{out_dir}/{name}.parquet")
    return {name: table.num_rows for name, table in tables.items()}
