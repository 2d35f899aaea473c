"""End-to-end tests for the migbq application-parity layer
(run / sync / check lifecycle, SURVEY.md §3.1 EP1-EP3)."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def cfg_path(tmp_path, sf_dir):
    import yaml

    cfg = {
        "in": {
            "type": "parquet",
            "path": sf_dir,
            "tables": {"events": {"pk": "event_id"}, "nation": {"pk": "n_nationkey"}},
            "batch_size": 1000,
        },
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }
    p = tmp_path / "config.yml"
    p.write_text(yaml.safe_dump(cfg))
    return str(p)


def _forwarder(spark, cfg_path):
    from migbq_spark.app import Forwarder, PipelineConfig

    return Forwarder(spark, PipelineConfig.load(cfg_path))


def test_run_full_load(spark, cfg_path, sf_dir):
    fwd = _forwarder(spark, cfg_path)
    counts = fwd.run()
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert counts["events"] == n_src
    # destination holds exactly the source rows
    dest = fwd.read_dest(fwd.cfg.tables[0])
    assert dest.count() == n_src
    # progress recorded: last_pk == max(event_id)
    max_pk = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .agg(F.max("event_id"))
        .collect()[0][0]
    )
    assert fwd.meta.last_pk("events") == max_pk
    # job log covers every range, all done
    log = fwd.meta.job_log().filter("table_name = 'events'")
    assert log.filter("state != 'done'").count() == 0
    assert log.agg(F.sum("n_rows")).collect()[0][0] == n_src


def test_sync_is_incremental(spark, cfg_path):
    fwd = _forwarder(spark, cfg_path)
    fwd.run()
    # nothing new → sync forwards zero rows, destination unchanged
    before = fwd.read_dest(fwd.cfg.tables[0]).count()
    counts = fwd.sync()
    assert counts == {"events": 0, "nation": 0}
    assert fwd.read_dest(fwd.cfg.tables[0]).count() == before


def test_check_clean_and_repair(spark, cfg_path, tmp_path):
    fwd = _forwarder(spark, cfg_path)
    fwd.run()
    reports = fwd.check()
    for _table, rep in reports.items():
        assert rep.filter("mismatch").count() == 0

    # simulate migbq's retry double-load: append a duplicate slice
    events = fwd.cfg.tables[0]
    dup = fwd.read_source(events).filter("event_id <= 500")
    dup.write.mode("append").parquet(fwd._dest_path(events))
    n_dup = dup.count()
    rep = fwd.check()["events"]
    # every key is present, but the duplicated ranges are mismatches
    assert rep.filter("n_src != n_dst").count() == 0
    assert rep.filter("mismatch").count() == rep.filter("n_dup > 0").count() > 0
    assert rep.agg(F.sum("n_dup")).collect()[0][0] == n_dup
    found = fwd.check(repair=True)["events"]
    assert found.agg(F.sum("n_dup")).collect()[0][0] == n_dup  # what repair found
    n_src = fwd.read_source(events).count()
    dest = fwd.read_dest(events)
    assert dest.count() == n_src
    assert dest.select("event_id").distinct().count() == n_src
    assert fwd.meta.progress().filter("table_name = 'events'").first().n_rows == n_src
    assert fwd.check()["events"].filter("mismatch").count() == 0


def test_warm_check_is_one_exchange(spark, cfg_path):
    """A repeat check of unchanged tables infers no schema and reconciles
    each table in one range-partitioned exchange: its map job and the
    collect, two jobs per table."""
    fwd = _forwarder(spark, cfg_path)
    fwd.run()
    fwd.check()
    sc = spark.sparkContext
    group = "warm-check"
    sc.setJobGroup(group, group)
    try:
        reports = fwd.check()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2 * len(reports), f"{len(jobs)} jobs"
    for rep in reports.values():
        assert rep.filter("mismatch").count() == 0


def test_check_ranges_cover_keys_at_and_below_zero(spark, tmp_path):
    """Each key is reported in the range ``(range_lo, range_lo + batch_size]``
    that holds it, also for keys <= 0."""
    from migbq_spark.app import Forwarder, PipelineConfig

    src = tmp_path / "src"
    _keys(spark, -25, 26).write.parquet(str(src / "t.parquet"))
    fwd = Forwarder(spark, PipelineConfig.from_dict({
        "in": {"type": "parquet", "path": str(src), "tables": {"t": {"pk": "id"}},
               "batch_size": 10},
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }))
    rows = fwd.check()["t"].collect()
    assert {r.range_lo for r in rows} == {-30, -20, -10, 0, 10, 20}
    for r in rows:
        assert r.n_src == sum(r.range_lo < k <= r.range_lo + 10 for k in range(-25, 26))


def test_full_refresh_resets_progress(spark, cfg_path, sf_dir):
    fwd = _forwarder(spark, cfg_path)
    n_src = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    fwd.cfg.tables = [t for t in fwd.cfg.tables if t.name == "nation"]
    for _ in range(3):
        assert fwd.run(full_refresh=True) == {"nation": n_src}
        assert fwd.meta.progress().first().n_rows == n_src
        assert fwd.read_dest(fwd.cfg.tables[0]).count() == n_src


def test_run_staged_by_older_version_is_refused(spark, cfg_path):
    """A run an older version left ``staged`` has no manifest this
    version could publish; forwarding past it could write its rows twice."""
    fwd = _forwarder(spark, cfg_path)
    fwd.meta.append_jobs([("events", None, 1000, 1000, "staged", "oldrun")])
    with pytest.raises(RuntimeError, match="older migbq_spark"):
        fwd.sync()


def test_missing_range_requeue(spark, cfg_path):
    fwd = _forwarder(spark, cfg_path)
    fwd.run()
    # record an attempted-but-unfinished range → must be re-queued
    fwd.meta.append_jobs([("events", 99000, 100000, 0, "pending", "testrun")])
    missing = fwd.meta.missing_ranges("events")
    rows = missing.collect()
    assert [(r.range_lo, r.range_hi) for r in rows] == [(99000, 100000)]


def test_cli_jdbc_roundtrip(spark, tmp_path, sf_dir, capsys):
    """The FULL migbq ops surface —
    `run` → `sync` → `check` — driven through cli.py main() against a
    REAL JDBC source (embedded Derby), the stride-parallel read path
    migbq looped serially, into a parquet dest with the metadata store.

    Lifecycle asserted: bulk run loads everything; an out-of-band INSERT
    beyond the high-water mark is picked up by `sync` (and ONLY those
    rows); `check` reconciles clean afterwards."""
    import json as _json

    import yaml

    from migbq_spark.app.cli import main

    url = f"jdbc:derby:memory:cli_{tmp_path.name};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )

    cfg = {
        "in": {
            "type": "jdbc",
            "url": url,
            "driver": driver,
            "tables": {"nation": {"pk": "n_nationkey"}},
            "batch_size": 10,
        },
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }
    p = tmp_path / "jdbc_config.yml"
    p.write_text(yaml.safe_dump(cfg))

    assert main(["run", str(p)]) == 0
    run_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_src = nation.count()
    assert run_out["run"]["nation"] == n_src

    # out-of-band insert past the high-water mark (migbq EP2's reason to
    # exist); a second batch of rows appears in the source RDBMS
    new_rows = nation.filter("n_nationkey >= 20").select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.concat(F.lit("new_"), "n_name").alias("n_name"),
        "n_regionkey",
    )
    n_new = new_rows.count()
    assert n_new > 0
    (
        new_rows.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", driver)
        .mode("append")
        .save()
    )

    assert main(["sync", str(p)]) == 0
    sync_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sync_out["sync"] == {"nation": n_new}

    assert main(["check", str(p)]) == 0
    check_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert check_out["check"]["nation"]["mismatched"] == 0

    # destination holds exactly source ∪ inserted rows, no duplicates
    dest = spark.read.parquet(str(tmp_path / "dest" / "nation"))
    assert dest.count() == n_src + n_new
    assert dest.select("n_nationkey").distinct().count() == n_src + n_new


def test_cli_surface(spark, cfg_path, capsys):
    from migbq_spark.app.cli import main

    assert main(["run", cfg_path]) == 0
    run_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run_out["run"]["events"] > 0

    assert main(["sync", cfg_path]) == 0
    sync_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sync_out["sync"] == {"events": 0, "nation": 0}

    assert main(["check", cfg_path]) == 0
    check_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert check_out["check"]["events"]["mismatched"] == 0

    # `check --repair` prints what repair found, not the repaired state
    fwd = _forwarder(spark, cfg_path)
    events = fwd.cfg.tables[0]
    dup = fwd.read_source(events).filter("event_id <= 500")
    n_dup = dup.count()
    dup.write.mode("append").parquet(fwd._dest_path(events))
    assert main(["check", cfg_path, "--repair"]) == 0
    found = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["check"]["events"]
    assert found["mismatched"] > 0 and found["duplicates"] == n_dup
    assert main(["check", cfg_path]) == 0
    after = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["check"]["events"]
    assert after == {"ranges": found["ranges"], "mismatched": 0, "duplicates": 0}


def _keys(spark, n_from: int, n_to: int):
    """Rows with keys ``n_from .. n_to - 1``."""
    return spark.range(n_from, n_to).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    )


def _assert_exactly_once(fwd, n: int) -> None:
    """The destination holds keys 0 .. n - 1 once each, progress agrees
    with it, and check() reconciles."""
    table = fwd.cfg.tables[0]
    got = fwd.read_dest(table).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("id").alias("keys"),
        F.max("id").alias("hi"),
    ).first()
    assert (got.rows, got.keys, got.hi) == (n, n, n - 1)
    prog = fwd.meta.progress().first()
    assert (prog.n_rows, prog.last_pk) == (n, n - 1)
    assert fwd.check()[table.name].filter("mismatch").count() == 0


def test_sync_bounded_by_probe(spark, tmp_path):
    """Rows a JDBC source gains between the bounds probe and the write are
    left to the next sync, which forwards them once."""
    from migbq_spark.app import Forwarder, PipelineConfig

    url = f"jdbc:derby:memory:race_{tmp_path.name};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    def insert(lo, hi, mode):
        (_keys(spark, lo, hi).write.format("jdbc").option("url", url)
         .option("dbtable", "t").option("driver", driver).mode(mode).save())

    insert(0, 100, "overwrite")
    fwd = Forwarder(spark, PipelineConfig.from_dict({
        "in": {"type": "jdbc", "url": url, "driver": driver,
               "tables": {"t": {"pk": "id"}}, "batch_size": 50},
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }))
    read_source = fwd.read_source

    def racing(table, lo=None):
        df = read_source(table, lo=lo)  # the probe has run
        insert(100, 120, "append")
        return df

    fwd.read_source = racing
    assert fwd.sync() == {"t": 100}
    fwd.read_source = read_source
    assert fwd.sync() == {"t": 20}
    _assert_exactly_once(fwd, 120)


@pytest.mark.parametrize(
    "step,after",
    [("write_json", False), ("write_json", True), ("commit_run", False), ("commit_run", True)],
    ids=["before-manifest", "after-manifest", "after-publish", "in-progress-commit"],
)
def test_sync_crash_recovers_exactly_once(spark, tmp_path, monkeypatch, step, after):
    """A sync that dies at any step of the commit leaves state the next
    plain sync completes: every key once, progress equal to the
    destination.  The steps: writing the manifest (``commit.write_json``);
    recording the published run (``commit_run``), which a crash after it
    leaves with its staging directory still in place."""
    from migbq_spark import commit
    from migbq_spark.app import Forwarder, PipelineConfig

    src = tmp_path / "src"
    _keys(spark, 0, 1000).write.parquet(str(src / "t.parquet"))
    fwd = Forwarder(spark, PipelineConfig.from_dict({
        "in": {"type": "parquet", "path": str(src), "tables": {"t": {"pk": "id"}},
               "batch_size": 250},
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }))
    assert fwd.run() == {"t": 1000}
    _keys(spark, 1000, 1200).write.mode("append").parquet(str(src / "t.parquet"))

    owner = commit if step == "write_json" else fwd.meta
    real = getattr(owner, step)

    def crash(*a, **kw):
        if after:
            real(*a, **kw)
        raise RuntimeError(f"killed at {step}")

    monkeypatch.setattr(owner, step, crash)
    with pytest.raises(RuntimeError, match="killed"):
        fwd.sync()
    monkeypatch.undo()
    fwd.sync()
    _assert_exactly_once(fwd, 1200)
    assert fwd.sync() == {"t": 0}
    assert not any((tmp_path / "dest" / "t").glob("_staging/*"))  # nothing left staged


def test_bench_final_line_parses_small(tmp_path):
    """bench.py's last stdout line is the driver's whole benchmark signal:
    run it at the smallest SF and assert the last line is valid JSON
    < 4 kB with the required keys, and that the run writes no file into
    the repo root."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    import bench

    repo = Path(__file__).resolve().parents[1]
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
    )
    before = sorted(p.name for p in repo.iterdir())
    proc = subprocess.run(
        [sys.executable, str(repo / "bench.py")],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=tmp_path,  # Spark's cwd-relative files (derby.log, ...) land here
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert sorted(p.name for p in repo.iterdir()) == before
    last = proc.stdout.strip().splitlines()[-1]
    assert len(last) < 4096, f"final line {len(last)} bytes"
    parsed = json.loads(last)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, f"missing {key}"
    assert parsed["unit"] == "sec" and parsed["value"] > 0
    assert set(parsed["queries"]) == set(bench.HEADLINE)
