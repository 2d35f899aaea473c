"""Generate scaled fixture sets (sf1 = 10x sf0.1, sf10 = 10x sf1) for
scale-ratio measurement.

The driver ships sf{0.001,0.01,0.1} only (TESTDATA.md, read-only); every
100 TB claim in SCALE.md is therefore a design argument until measured
scale-up datapoints exist.  This script
builds `.stage/sf{N}/` from PUBLIC knowledge of the fixture shapes
(FIXTURES.md):

- `documents` are generated fresh at FACTOR x the source row counts
  from a REALISTIC text model: a 20k-type Zipf(s≈1.07) vocabulary
  (uniform 10-100 words/doc, 20 sources, 5 langs) plus a 3% planted
  near-dup fraction (~10%-token-mutated copies within the same
  source).  The shipped fixture's 31-word vocab made LSH buckets grow
  with the corpus (738-doc buckets at 500k docs -> 264 M candidate
  pairs, too many to list); Zipf text keeps buckets
  near-singleton like real crawl data while the planted fraction keeps
  the verify paths exercised with a linear number of true pairs.
- `embeddings` are generated fresh with the OBSERVED sf0.1 statistics
  (64-dim L2-normalized float32 vectors, labels 0-9).
- The star-schema + `events` tables are replicated FACTOR x with
  key-offset remaps (PKs and FKs shifted per replica by max(key)+1 of
  the SOURCE, so chaining sf0.1 -> sf1 -> sf10 stays consistent),
  preserving per-key densities (events/user, lines/order) so
  window/session/stream costs scale in ROWS, not in per-key skew.
- region/nation are FIXED at every sf (copied verbatim; replicating
  them would duplicate their PKs and fan out every join).

Deterministic (seed 42 + factor).  Output is git-ignored scratch.

Usage:
    python scripts/gen_scale_fixture.py                 # sf0.1 -> .stage/sf1
    python scripts/gen_scale_fixture.py .stage/sf10 .stage/sf1 10
    #                                   ^out          ^src      ^factor
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
OUT = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / ".stage" / "sf1"
SRC = Path(sys.argv[2]) if len(sys.argv) > 2 else Path("/root/testdata/sf0.1")
FACTOR = int(sys.argv[3]) if len(sys.argv) > 3 else 10

#: key columns shifted per replica; offset = max(key)+1 of the source,
#: applied to the PK table and every FK referencing it
SHIFT_KEYS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}

#: which table's key defines each offset (FKs reuse the PK's offset)
KEY_OF = {
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "c_custkey": ("customer", "c_custkey"),
    "l_partkey": ("part", "p_partkey"),
    "p_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
}


def _offsets() -> dict[str, int]:
    offs = {}
    for col, (tbl, key) in KEY_OF.items():
        if col not in offs:
            t = pq.read_table(SRC / f"{tbl}.parquet", columns=[key])
            offs[col] = int(pa.compute.max(t.column(key)).as_py()) + 1
    return offs


def replicate(name: str, offs: dict[str, int]) -> None:
    t = pq.read_table(SRC / f"{name}.parquet")
    keys = SHIFT_KEYS.get(name, [])
    # stream replicas through one writer: FACTOR x a multi-million-row
    # table must not be concatenated in memory
    rg = max(4096, (t.num_rows * FACTOR) // 64)
    with pq.ParquetWriter(OUT / f"{name}.parquet", t.schema) as w:
        for i in range(FACTOR):
            cols = []
            for f in t.schema:
                c = t.column(f.name)
                if f.name in keys and i > 0:
                    c = pa.compute.add(c, offs[f.name] * i).cast(f.type)
                cols.append(c)
            # bounded row groups: pyarrow's 1M-row default gives a <=1M-row
            # replica ONE row group, so Spark scans of the staged fixture
            # serialize to 1-2 tasks regardless of core count and every
            # core-ratio measurement saturates at ~1; ~64
            # groups per table restores scan parallelism like a real
            # multi-file table
            w.write_table(
                pa.Table.from_arrays(cols, schema=t.schema), row_group_size=rg
            )
    n = pq.ParquetFile(OUT / f"{name}.parquet").metadata.num_rows
    print(f"{name}: {t.num_rows} -> {n}")


#: Zipf vocabulary for generated documents: the shipped sf0.1 fixture's 31-word vocab packs half-million-doc
#: corpora into 738-doc LSH buckets (token SETS collide constantly), so
#: the pair-listing dedup ops measured the FIXTURE's pathology, not
#: their design.  Real text is Zipfian over >=10k types with
#: near-singleton buckets; 20k types at the canonical s≈1.07 rank
#: exponent reproduces that regime, and an explicit planted near-dup
#: fraction (3% of docs are ~10%-token-mutated copies of an earlier doc
#: in the SAME source) keeps the candidate-verify paths exercised with
#: a LINEAR number of true pairs.
_VOCAB_N = 20_000
_ZIPF_S = 1.07
_DUP_FRAC = 0.03


def gen_documents(rng: np.random.Generator) -> None:
    src_docs = pq.read_table(SRC / "documents.parquet")
    n = src_docs.num_rows * FACTOR
    langs = np.array(["en", "es", "de", "fr", "zh"])
    sources = np.array([f"src{i}" for i in range(20)])
    varr = np.array([f"w{i}" for i in range(_VOCAB_N)])
    probs = 1.0 / np.arange(1, _VOCAB_N + 1, dtype=np.float64) ** _ZIPF_S
    probs /= probs.sum()
    lens = rng.integers(10, 101, size=n)
    # one big draw, then slice per doc: ~20x faster than per-doc choice
    flat = varr[rng.choice(_VOCAB_N, size=int(lens.sum()), p=probs)]
    texts = []
    pos = 0
    for ln in lens:
        texts.append(" ".join(flat[pos:pos + ln]))
        pos += ln
    src_col = rng.choice(sources, size=n)
    # plant near-duplicates: doc j becomes a light mutation of an earlier
    # doc i (same source, ~10% tokens replaced) — high-Jaccard pairs the
    # LSH bands MUST catch, at a density that keeps true pairs linear
    n_dup = int(n * _DUP_FRAC)
    dup_j = rng.choice(np.arange(1, n), size=n_dup, replace=False)
    repl_pool = varr[rng.choice(_VOCAB_N, size=n_dup * 12, p=probs)]
    rpos = 0
    for j in dup_j:
        i = int(rng.integers(0, j))
        toks = texts[i].split(" ")
        m = max(1, len(toks) // 10)
        for k in rng.choice(len(toks), size=m, replace=False):
            toks[int(k)] = repl_pool[rpos]
            rpos += 1
        texts[j] = " ".join(toks)
        src_col[j] = src_col[i]
    t = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(langs, size=n), pa.string()),
            "source": pa.array(src_col, pa.string()),
            "n_chars": pa.array(
                np.array([len(s) for s in texts]), pa.int64()
            ),
        }
    )
    pq.write_table(t, OUT / "documents.parquet",
                   row_group_size=max(4096, n // 64))
    print(f"documents: {src_docs.num_rows} -> {n} "
          f"(zipf vocab {_VOCAB_N}, {n_dup} planted near-dups)")


def gen_embeddings(rng: np.random.Generator) -> None:
    src_n = pq.ParquetFile(SRC / "embeddings.parquet").metadata.num_rows
    n, dim = src_n * 4, 64  # embeddings scale x4 per step (FIXTURES.md)
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                list(v), pa.list_(pa.float32())
            ),
            "label": pa.array(
                rng.integers(0, 10, size=n, dtype=np.int32), pa.int32()
            ),
        }
    )
    pq.write_table(t, OUT / "embeddings.parquet",
                   row_group_size=max(4096, n // 64))
    print(f"embeddings: {src_n} -> {n}")


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(42 + FACTOR)
    for name in ["region", "nation"]:
        pq.write_table(pq.read_table(SRC / f"{name}.parquet"),
                       OUT / f"{name}.parquet")
        print(f"{name}: copied (fixed)")
    offs = _offsets()
    for name in ["supplier", "customer", "part", "orders", "lineitem",
                 "events"]:
        replicate(name, offs)
    gen_documents(rng)
    gen_embeddings(rng)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
