"""Pins the same-timestamp semantics of the as-of joins.

The oracles use value predicates (``s.ts <= p.ts`` backward,
``s.ts >= p.ts`` forward), so a signup/error sharing the anchor's EXACT
timestamp must match regardless of event_id ordering.  A ROWS frame
ordered by (ts, event_id) silently drops the same-ts peer whose event_id
sorts on the wrong side of the anchor; the RANGE-frame formulation keeps
all ts-peers in-frame.  Duplicate (user_id, ts) pairs demonstrably exist
in the driver fixtures (see test_session_window_exact_gap_boundary), so
this is one fixture drift away from a driver FAIL without the fix.
"""

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from migbq_spark import registry


T0 = dt.datetime(2026, 3, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def asof_sf_dir(tmp_path_factory):
    """A minimal events-only fixture dir with adversarial same-ts rows."""
    d = tmp_path_factory.mktemp("asof_events")
    rows = [
        # user 1 (backward): purchase event_id=5 at t0, signup event_id=10
        # ALSO at t0 — signup sorts AFTER the purchase on (ts, event_id),
        # so a ROWS frame misses it; oracle (ts <= ts) includes it.
        (5, T0, 1, "purchase", 1.0, "{}"),
        (10, T0, 1, "signup", 0.0, "{}"),
        # user 2 (forward): purchase event_id=20 at t0, error event_id=15
        # also at t0 — error sorts BEFORE the purchase, so the forward
        # ROWS frame misses it; oracle (ts >= ts) includes it.
        (15, T0, 2, "error", 0.0, "{}"),
        (20, T0, 2, "purchase", 2.0, "{}"),
        # user 3: control — ordinary strictly-earlier signup / later error.
        (30, T0 - dt.timedelta(hours=1), 3, "signup", 0.0, "{}"),
        (31, T0, 3, "purchase", 3.0, "{}"),
        (32, T0 + dt.timedelta(hours=1), 3, "error", 0.0, "{}"),
        # user 4: no signup/error at all → NULL columns.
        (40, T0, 4, "purchase", 4.0, "{}"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, d / "events.parquet")
    return str(d)


def _events_duck(asof_sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{asof_sf_dir}/events.parquet')"
    )
    return con


def test_join_asof_same_ts_signup_included(spark, asof_sf_dir):
    out = {
        r.event_id: r.signup_ts
        for r in registry.queries()["join_asof"](spark, asof_sf_dir).collect()
    }
    assert out[5] == T0  # same-ts signup with LARGER event_id is in-frame
    assert out[31] == T0 - dt.timedelta(hours=1)
    assert out[40] is None


def test_join_asof_forward_same_ts_error_included(spark, asof_sf_dir):
    out = {
        r.event_id: r.next_error_ts
        for r in registry.queries()["join_asof_forward"](
            spark, asof_sf_dir
        ).collect()
    }
    assert out[20] == T0  # same-ts error with SMALLER event_id is in-frame
    assert out[31] == T0 + dt.timedelta(hours=1)
    assert out[40] is None


@pytest.mark.parametrize("qid", ["join_asof", "join_asof_forward"])
def test_asof_driver_parity_on_adversarial_fixture(spark, asof_sf_dir, qid):
    from migbq_spark.testing import compare_driver

    con = _events_duck(asof_sf_dir)
    try:
        df = registry.queries()[qid](spark, asof_sf_dir)
        res = compare_driver(df, con, registry.oracle_sql()[qid])
        assert res["ok"], res
    finally:
        con.close()
