"""Seeded input generator for the benchmark.

Everything the workloads read is made here from ``--seed`` alone; the
system under test sees only the parquet files written below.  Shapes
follow the engine's fixture contract (FIXTURES.md): the TPC-H-ish star
schema, ``events`` and a ``documents`` corpus, with the same column names,
physical types and value domains.

Two schemes carry over from ``scripts/gen_scale_fixture.py``:

- replicate-with-key-offset: a base block of each keyed table is drawn
  once and repeated ``replicas`` times with every primary and foreign key
  shifted by the base block's key span, so per-key densities (lines per
  order, events per user) stay fixed while row counts scale.  Primary keys
  are unique by construction, which ``check()`` reconciliation and
  keep-one-per-PK repair both rely on.
- Zipf corpus: documents drawn from a 20 k-type Zipf(1.07) vocabulary,
  with 3 % planted near-duplicates (a copy of an earlier document from the
  same source with ~10 % of its tokens replaced).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]

VOCAB_N = 20_000
ZIPF_S = 1.07
DUP_FRAC = 0.03

#: rows per base block at ``unit=1`` (sf0.01 of the engine's fixtures)
BASE = {
    "supplier": 100,
    "customer": 1_500,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
}

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"))


def _write(out: Path, name: str, cols: dict) -> int:
    t = pa.table(cols)
    # bounded row groups keep parquet scans parallel across cores
    pq.write_table(t, out / f"{name}.parquet", row_group_size=max(4096, t.num_rows // 16))
    return t.num_rows


def _fixed(out: Path) -> None:
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _star(out: Path, rng: np.random.Generator, replicas: int) -> dict[str, int]:
    """supplier/customer/part/orders/lineitem: one base block, replicated
    with key offsets."""
    ns, nc, np_, no = (BASE[t] for t in ("supplier", "customer", "part", "orders"))
    n = {"supplier": ns * replicas, "customer": nc * replicas,
         "part": np_ * replicas, "orders": no * replicas}
    rep = np.arange(replicas, dtype=np.int64)

    def tile(block: np.ndarray) -> np.ndarray:
        return np.tile(block, replicas)

    def keyed(block: np.ndarray, span: int) -> np.ndarray:
        return (block[None, :] + rep[:, None] * span).ravel()

    s_key = keyed(np.arange(ns, dtype=np.int64), ns)
    _write(out, "supplier", {
        "s_suppkey": pa.array(s_key, pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in s_key], pa.string()),
        "s_nationkey": pa.array(tile(rng.integers(0, 25, ns, dtype=np.int32))),
        "s_acctbal": pa.array(tile(_money(rng, -999.99, 9999.99, ns))),
    })
    c_key = keyed(np.arange(nc, dtype=np.int64), nc)
    _write(out, "customer", {
        "c_custkey": pa.array(c_key, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in c_key], pa.string()),
        "c_nationkey": pa.array(tile(rng.integers(0, 25, nc, dtype=np.int32))),
        "c_acctbal": pa.array(tile(_money(rng, -999.99, 9999.99, nc))),
        "c_mktsegment": pa.array(tile(rng.choice(SEGMENTS, nc))),
    })
    p_key = keyed(np.arange(np_, dtype=np.int64), np_)
    names = np.char.add(np.char.add(rng.choice(PART_ADJ, np_), " "), rng.choice(PART_NOUN, np_))
    _write(out, "part", {
        "p_partkey": pa.array(p_key, pa.int64()),
        "p_name": pa.array(tile(names).astype(object), pa.string()),
        "p_brand": pa.array(tile(np.char.add("Brand#", rng.integers(1, 26, np_).astype(str))).astype(object)),
        "p_type": pa.array(tile(rng.choice(PART_TYPES, np_)).astype(object)),
        "p_size": pa.array(tile(rng.integers(1, 51, np_, dtype=np.int32))),
        "p_retailprice": pa.array(tile(np.round(900 + (np.arange(np_) % 1000) * 0.1, 2))),
    })
    o_date = _EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(keyed(np.arange(no, dtype=np.int64), no), pa.int64()),
        "o_custkey": pa.array(keyed(rng.integers(0, nc, no), nc), pa.int64()),
        "o_orderstatus": pa.array(tile(rng.choice(["F", "O", "P"], no))),
        "o_totalprice": pa.array(tile(_money(rng, 1000.0, 500000.0, no))),
        "o_orderdate": _ts(tile(o_date)),
        "o_orderpriority": pa.array(tile(rng.choice(PRIORITIES, no))),
    })
    # 1..7 lines per order, ~4 on average (the fixture's lines/order)
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    l_no = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, nl) * _DAY_US
    _write(out, "lineitem", {
        "l_orderkey": pa.array(keyed(l_order, no), pa.int64()),
        "l_partkey": pa.array(keyed(rng.integers(0, np_, nl), np_), pa.int64()),
        "l_suppkey": pa.array(keyed(rng.integers(0, ns, nl), ns), pa.int64()),
        "l_linenumber": pa.array(tile(l_no)),
        "l_quantity": pa.array(tile(qty)),
        "l_extendedprice": pa.array(tile(np.round(qty * rng.uniform(900, 2100, nl), 2))),
        "l_discount": pa.array(tile(rng.integers(0, 11, nl) / 100.0)),
        "l_tax": pa.array(tile(rng.integers(0, 9, nl) / 100.0)),
        "l_returnflag": pa.array(tile(rng.choice(["A", "N", "R"], nl))),
        "l_linestatus": pa.array(tile(rng.choice(["F", "O"], nl))),
        "l_shipdate": _ts(tile(ship)),
    })
    n["lineitem"] = nl * replicas
    return n


def events_block(rng: np.random.Generator, first_id: int, n: int, n_users: int,
                 t0_us: int = _EPOCH_2024) -> dict:
    """``n`` events with dense ids from ``first_id``; ``ts`` ascending from
    ``t0_us`` over ~30 days."""
    ts = t0_us + np.sort(rng.integers(0, 30 * _DAY_US, n))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).astype(object), pa.string()),
        "value": pa.array(_money(rng, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def _events(out: Path, rng: np.random.Generator, replicas: int) -> int:
    ne = BASE["events"]
    n_users = ne // 67  # ≈67 events per user, as in the fixtures
    block = events_block(rng, 0, ne, n_users)
    cols = {}
    for name, arr in block.items():
        if name in ("event_id", "user_id"):
            span = ne if name == "event_id" else n_users
            base = arr.to_numpy()
            ids = np.concatenate([base + i * span for i in range(replicas)])
            cols[name] = pa.array(ids)
        else:
            cols[name] = pa.concat_arrays([arr] * replicas)
    return _write(out, "events", cols)


def _documents(out: Path, rng: np.random.Generator, n: int) -> int:
    """Zipf corpus with planted near-duplicates."""
    sources = np.array([f"src{i}" for i in range(20)])
    vocab = np.array([f"w{i}" for i in range(VOCAB_N)])
    probs = 1.0 / np.arange(1, VOCAB_N + 1, dtype=np.float64) ** ZIPF_S
    probs /= probs.sum()
    lens = rng.integers(10, 101, n)
    flat = vocab[rng.choice(VOCAB_N, int(lens.sum()), p=probs)]
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - ln:e]) for e, ln in zip(ends, lens)]
    src = rng.choice(sources, n)
    n_dup = int(n * DUP_FRAC)
    for j in rng.choice(np.arange(1, n), n_dup, replace=False):
        i = int(rng.integers(0, j))
        toks = texts[i].split(" ")
        for k in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
            toks[int(k)] = vocab[rng.choice(VOCAB_N, p=probs)]
        texts[j] = " ".join(toks)
        src[j] = src[i]
    return _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n).astype(object), pa.string()),
        "source": pa.array(src.astype(object), pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(out: Path, rng: np.random.Generator, n: int) -> int:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def generate(out: Path, seed: int, replicas: int, n_docs: int | None = None) -> dict[str, int]:
    """Write all ten tables under ``out``; returns row counts.  The primary
    keys of ``orders``, ``events``, ``customer`` and ``part`` are exactly
    ``0 .. n - 1``."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    _fixed(out)
    counts = _star(out, rng, replicas)
    counts["events"] = _events(out, rng, replicas)
    counts["documents"] = _documents(out, rng, n_docs or BASE["documents"] * replicas)
    counts["embeddings"] = _embeddings(out, rng, 500)
    return counts


# ------------------------------------------------- migration-source inputs

def jdbc_events(seed: int, stream: int, first: int, n: int) -> pa.Table:
    """``n`` source-database events with ids ``first, first + 1, ...``.
    The JDBC table's base load is ``stream`` 0 and trickle-sync delta k is
    ``stream`` k, each its own stream of ``seed``."""
    return pa.table(events_block(np.random.default_rng([seed, stream]), first, n, n_users=150))


def delta_size(seed: int, k: int, lo: int, hi: int) -> int:
    """Seeded row count in [lo, hi] of trickle-sync delta ``k``."""
    return int(np.random.default_rng([seed, k, 7]).integers(lo, hi + 1))


def dup_window(seed: int, table: str, n_rows: int, frac: float) -> tuple[int, int]:
    """Seeded ``(start, size)`` row window of ``table``, in primary-key
    order, that is loaded twice (migbq's retry double-load) before repair."""
    rng = np.random.default_rng([seed, sum(map(ord, table))])
    size = max(1, int(n_rows * frac))
    return int(rng.integers(0, n_rows - size + 1)), size
