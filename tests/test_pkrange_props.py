"""Property-based pins for the pure-Python components: the PK-range
stride planner/pushdown and the JPEG marker walker — fast hypothesis
targets with no Spark session."""

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from migbq_spark.pkrange_source import plan_strides


def _strides(lo, hi, batch_size, pushed_lo=None, pushed_hi=None):
    """partitions()' stride plan for keys lo..hi under pushed bounds."""
    return plan_strides(lo, hi, pushed_lo, pushed_hi, batch_size)


@given(
    lo=st.integers(-1000, 1000),
    span=st.integers(0, 5000),
    bs=st.integers(1, 700),
)
@settings(max_examples=200, deadline=None)
def test_strides_tile_key_space_exactly(lo, span, bs):
    hi = lo + span
    parts = _strides(lo, hi, bs)
    assert parts, "non-empty key space must plan at least one stride"
    # tiles [lo, hi+1) with no gaps/overlaps, all widths ≤ batch_size
    assert parts[0][0] == lo and parts[-1][1] == hi + 1
    for (a_lo, a_hi), (b_lo, _) in zip(parts, parts[1:]):
        assert a_hi == b_lo
    assert all(0 < h - l <= bs for l, h in parts)


@given(
    lo=st.integers(0, 100),
    span=st.integers(0, 2000),
    bs=st.integers(1, 300),
    f_lo=st.integers(-50, 2300),
    f_hi=st.integers(-50, 2300),
)
@settings(max_examples=200, deadline=None)
def test_pushdown_bounds_never_lose_keys(lo, span, bs, f_lo, f_hi):
    """Pruned strides ∪ pushed predicate must cover exactly the keys the
    unpruned strides ∩ predicate cover."""
    hi = lo + span
    keys = set(range(lo, hi + 1))
    want = {k for k in keys if f_lo <= k < f_hi}
    parts = _strides(lo, hi, bs, pushed_lo=f_lo, pushed_hi=f_hi)
    got = set()
    for p_lo, p_hi in parts:
        got |= {k for k in keys if p_lo <= k < p_hi}
    assert got == want


@given(
    w=st.integers(1, 0xFFFF),
    h=st.integers(1, 0xFFFF),
    junk=st.lists(
        st.sampled_from(["app", "dqt", "rst", "tem", "fill"]),
        max_size=6,
    ),
)
@settings(max_examples=200, deadline=None)
def test_jpeg_walk_recovers_dims_through_any_marker_prefix(w, h, junk):
    from migbq_spark.operators.multimodal import _jpeg_dims

    parts = [b"\xff\xd8"]
    for j in junk:
        if j == "app":
            parts.append(b"\xff\xe1" + struct.pack(">H", 6) + b"abcd")
        elif j == "dqt":
            parts.append(b"\xff\xdb" + struct.pack(">H", 4) + b"xy")
        elif j == "rst":
            parts.append(b"\xff\xd3")
        elif j == "tem":
            parts.append(b"\xff\x01")
        else:  # fill
            parts.append(b"\xff")
    # fill bytes must be immediately followed by a marker: append SOF0
    sof = struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
    parts.append(b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof)
    assert _jpeg_dims(b"".join(parts)) == (w, h)


def test_jpeg_truncated_sof_raises_contract_error():
    """A stream that ends INSIDE the SOF dimension payload must raise the
    walker's corrupt-stream contract error, not a bare struct.error."""
    import pytest

    from migbq_spark.operators.multimodal import _jpeg_dims

    sof = struct.pack(">BHHB", 8, 7, 9, 1) + b"\x01\x11\x00"
    good = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    assert _jpeg_dims(good) == (9, 7)
    # cut inside the height/width words (after marker + seglen + precision)
    for cut in range(5, 9):
        with pytest.raises(NotImplementedError):
            _jpeg_dims(good[:cut])


def _stream_reader(path, batch_size):
    from migbq_spark.pkrange_source import PkRangeStreamReader

    return PkRangeStreamReader(
        {"path": str(path), "pk": "pk", "batch_size": str(batch_size)}
    )


def _drain_stream(reader):
    """Drive the stream reader's offset loop directly (no Spark session):
    returns (all rows in drain order, per-batch row counts)."""
    off = reader.initialOffset()
    rows, batches = [], []
    while True:
        it, off2 = reader.read(off)
        batch = list(it)
        if not batch:
            assert off2 == off, "empty batch must not advance the offset"
            return rows, batches
        rows += batch
        batches.append(len(batch))
        off = off2


def test_stream_read_is_bounded_and_cuts_at_pk_value_boundary(tmp_path):
    """(a) Each micro-batch must read a stats-bounded range,
    not every row past the offset; (b) duplicate pk values straddling
    the batch_size cut must never be skipped by the next `pk > last`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # duplicate run exactly straddling the first batch_size=4 cut:
    # pks 1,2,3,5,5,5,8,9 — row 4 (0-based 3) and rows 4-5 share pk 5
    pks = [1, 2, 3, 5, 5, 5, 8, 9]
    t = pa.table({"pk": pa.array(pks, pa.int64()),
                  "v": pa.array(range(len(pks)), pa.int64())})
    p = tmp_path / "dup.parquet"
    pq.write_table(t, p, row_group_size=3)

    rows, batches = _drain_stream(_stream_reader(p, 4))
    # every row forwarded exactly once, in pk order
    assert sorted(r[1] for r in rows) == list(range(len(pks)))
    assert [r[0] for r in rows] == sorted(pks)
    # first batch extended past batch_size to the pk-value boundary
    assert batches[0] == 6 and sum(batches) == len(pks)


def test_stream_hi_bound_prunes_row_groups(tmp_path):
    """The stats-derived hi bound must cap a micro-batch read well below
    the file's max pk when later row groups can't be needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from migbq_spark.pkrange_source import _hi_bound, _row_groups

    n = 10_000
    t = pa.table({"pk": pa.array(range(n), pa.int64()),
                  "v": pa.array(range(n), pa.int64())})
    p = tmp_path / "big.parquet"
    pq.write_table(t, p, row_group_size=500)

    groups = _row_groups(str(p), "pk")
    hi = _hi_bound(groups, None, 100)
    # one 500-row group already guarantees 100 rows
    assert hi is not None and hi <= 499
    hi2 = _hi_bound(groups, 4_321, 100)
    assert hi2 is not None and 4_321 < hi2 <= 5_499
    # bounded read serves exactly one stride and advances correctly
    rows, batches = _drain_stream(_stream_reader(p, 1_000))
    assert len(rows) == n and batches[0] == 1_000
    # tail fallback: remaining rows < batch_size → None
    assert _hi_bound(groups, n - 50, 100) is None


def test_stream_stats_lied_retry_widens_bounded(tmp_path, monkeypatch):
    """When row-group stats over-promise (bounded read returns
    0 rows while rows remain further out), the retry must widen through
    successive row-group maxima — NEVER one unbounded read that
    materializes the whole remaining backlog into a single Arrow table."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = 10_000
    t = pa.table({"pk": pa.array(range(n), pa.int64()),
                  "v": pa.array(range(n), pa.int64())})
    p = tmp_path / "lied.parquet"
    pq.write_table(t, p, row_group_size=500)

    r = _stream_reader(p, 100)
    calls = []
    orig = r._read_range

    def spy(lo, hi):
        calls.append((lo, hi))
        tbl = orig(lo, hi)
        # simulate stats lying about rows below pk 5000: the groups
        # claim them, the read comes back empty
        return tbl.filter(pc.greater(tbl.column("pk"), 4_999))

    monkeypatch.setattr(r, "_read_range", spy)
    it, off = r.read(r.initialOffset())
    rows = list(it)
    # retry found the real rows (first live pk is 5000)...
    assert len(rows) == 100 and rows[0][0] == 5_000
    assert off == {"last_pk": 5_099}
    # ...and every read along the way was hi-bounded; the widening
    # ladder grew geometrically (strictly increasing hi per attempt)
    assert all(hi is not None for _, hi in calls)
    his = [hi for _, hi in calls]
    assert len(his) > 1 and his == sorted(his)
