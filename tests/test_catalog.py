"""`catalog.read_parquet` infers a parquet schema once per file set: a
repeat read of unchanged files under unchanged confs runs no Spark job,
and every change to the files or to a schema-mapping conf reads as
``spark.read.parquet`` would."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from migbq_spark import catalog
from migbq_spark.catalog import read_parquet


def _jobs(spark, fn):
    """(fn's result, ids of the Spark jobs that ran while it ran)."""
    sc = spark.sparkContext
    group = f"catalog-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_repeat_read_runs_no_job(spark, tmp_path):
    f = tmp_path / "t.parquet"
    _write(f, k=pa.array([1, 2, 3], pa.int64()), s=pa.array(["a", "b", None]))
    first, jobs = _jobs(spark, lambda: read_parquet(spark, str(f)))
    assert jobs, "the first read infers the schema"
    again, jobs = _jobs(spark, lambda: read_parquet(spark, str(f)))
    assert jobs == []
    assert again.schema == first.schema == spark.read.parquet(str(f)).schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    f = tmp_path / "t.parquet"
    _write(f, k=pa.array([1, 2], pa.int64()))
    assert read_parquet(spark, str(f)).dtypes == [("k", "bigint")]
    _write(f, k=pa.array(["x", "y"]), v=pa.array([1.5, 2.5]))
    df = read_parquet(spark, str(f))
    assert df.dtypes == [("k", "string"), ("v", "double")]
    assert sorted(df.collect()) == [("x", 1.5), ("y", 2.5)]


def test_file_added_to_directory_is_inferred_again(spark, tmp_path):
    _write(tmp_path / "a.parquet", k=pa.array([1, 2], pa.int64()))
    assert read_parquet(spark, str(tmp_path)).count() == 2
    _, jobs = _jobs(spark, lambda: read_parquet(spark, str(tmp_path)))
    assert jobs == []
    _write(tmp_path / "b.parquet", k=pa.array([3], pa.int64()))
    df, jobs = _jobs(spark, lambda: read_parquet(spark, str(tmp_path)))
    assert jobs, "a new file makes a new key"
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]


def test_binary_as_string_is_part_of_the_key(spark, tmp_path):
    f = tmp_path / "b.parquet"
    _write(f, b=pa.array([b"ab", b"cd"], pa.binary()))
    conf = "spark.sql.parquet.binaryAsString"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert read_parquet(spark, str(f)).dtypes == [("b", "binary")]
        spark.conf.set(conf, "true")
        df = read_parquet(spark, str(f))
        assert df.dtypes == [("b", "string")]
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
        spark.conf.set(conf, "false")
        assert read_parquet(spark, str(f)).dtypes == [("b", "binary")]
    finally:
        spark.conf.set(conf, saved)


def _outcome(read):
    """(schema, sorted rows) of a read, or the error class and message."""
    try:
        df = read()
        return df.schema, sorted(df.collect())
    except Exception as e:  # noqa: BLE001 - compared, not handled
        return type(e).__name__, str(e).replace("\n", " ")


@pytest.mark.parametrize("pattern", ["p*.parquet", "p[12].parquet", "nothing*.parquet"])
def test_glob_path_reads_like_spark(spark, tmp_path, pattern):
    _write(tmp_path / "p1.parquet", k=pa.array([1], pa.int64()))
    _write(tmp_path / "p2.parquet", k=pa.array([2], pa.int64()))
    path = str(tmp_path / pattern)
    assert catalog._file_set(path) is None
    assert _outcome(lambda: read_parquet(spark, path)) == _outcome(
        lambda: spark.read.parquet(path)
    )


def test_missing_path_fails_like_spark(spark, tmp_path):
    path = str(tmp_path / "absent.parquet")
    got = _outcome(lambda: read_parquet(spark, path))
    assert isinstance(got[0], str)
    assert got == _outcome(lambda: spark.read.parquet(path))


def test_other_schemes_go_straight_to_spark(tmp_path):
    assert catalog._file_set("hdfs://nn/warehouse/t") is None
    _write(tmp_path / "t.parquet", k=pa.array([1], pa.int64()))
    local = catalog._file_set(f"file://{tmp_path}/t.parquet")
    assert local == catalog._file_set(str(tmp_path / "t.parquet"))
    assert local is not None and len(local) == 1


def test_events_ts_normalized_on_every_read(spark, sf_dir):
    first = catalog.load(spark, sf_dir, "events")
    again, jobs = _jobs(spark, lambda: catalog.load(spark, sf_dir, "events"))
    assert jobs == []
    assert dict(first.dtypes)["ts"] == dict(again.dtypes)["ts"] == "timestamp"
    assert first.schema == again.schema
    assert sorted(first.limit(50).collect()) == sorted(again.limit(50).collect())


def test_cache_keeps_the_newest_file_sets(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS_MAX", 2)
    monkeypatch.setattr(catalog, "_SCHEMAS", type(catalog._SCHEMAS)())
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        _write(paths[-1], k=pa.array([i], pa.int64()))
        read_parquet(spark, paths[-1])
    assert len(catalog._SCHEMAS) == 2
    _, jobs = _jobs(spark, lambda: read_parquet(spark, paths[0]))
    assert jobs, "the oldest file set was dropped"
    _, jobs = _jobs(spark, lambda: read_parquet(spark, paths[2]))
    assert jobs == []
