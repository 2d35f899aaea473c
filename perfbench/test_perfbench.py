"""Self-tests of the benchmark at the smallest scale:

    python3 -m pytest perfbench -q

from the repository root.  They check that the correctness checks catch a
damaged destination, that the metric names the benchmark prints are the
ones ``BENCHMARK.json`` declares, and that the seed drives the inputs.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import pytest

import gen
from checks import digest, holds_keys_once, no_mismatched_ranges
from layers import names_and_units, per_layer
from workload import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent


def _declared(kind: str) -> list[str]:
    with open(ROOT / "BENCHMARK.json") as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def _file_hashes(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.glob("*.parquet"))}


def test_seed_drives_inputs(tmp_path):
    a, a2, b = (_file_hashes(_gen(tmp_path / n, seed)) for n, seed in (("a", 1), ("a2", 1), ("b", 2)))
    assert a == a2
    seeded = set(a) - {"region.parquet", "nation.parquet"}
    assert {t for t in seeded if a[t] != b[t]} == seeded
    assert gen.jdbc_events(1, 3, 0, 50) != gen.jdbc_events(2, 3, 0, 50)
    assert gen.dup_window(1, "orders", 10_000, 0.02) != gen.dup_window(2, "orders", 10_000, 0.02)


def _gen(out: Path, seed: int) -> Path:
    gen.generate(out, seed, replicas=1, n_docs=50)
    return out


def test_workload_names_match_benchmark_json():
    with open(ROOT / "BENCHMARK.json") as fh:
        assert [w["name"] for w in json.load(fh)["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_metric_names_match_benchmark_json(tmp_path, name):
    bench = WORKLOADS[name](tmp_path, 1, 1, trace=True)
    bench.setup_s = [1.0, 0.5, 0.6]
    bench.setup_cpu_s = [2.0, 1.0, 1.2]
    bench.warmup = [(k, 1.0, 2.0) for k in bench.pass_kinds]
    bench.passes = [[(k, 0.5, 1.0) for k in bench.pass_kinds]]
    assert list(bench.end_to_end()) == _declared("end_to_end")

    with bench.tracer.span("pass"):
        pass
    (tmp_path / "eventlog").mkdir()
    values = per_layer(bench, tmp_path / "eventlog", 0, 2**30)
    assert [n for n, _ in names_and_units()] == _declared("per_layer")
    assert set(values) == set(_declared("per_layer"))


def test_digest_ignores_row_order():
    import pandas as pd

    df = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    assert digest(df) == digest(df.iloc[::-1][["v", "k"]])
    assert digest(df) != digest(df.assign(v=["a", "b", "d"]))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    yield s
    s.stop()


def test_checks_catch_damaged_destination(spark, tmp_path):
    """A clean migration passes both checks; a destination with a dropped
    PK range fails both; one with a duplicated slice fails the
    keep-one-per-PK check (range reconciliation counts distinct PKs)."""
    from migbq_spark.app import Forwarder, PipelineConfig

    n = 3_000
    spark.range(n).withColumnRenamed("id", "k").selectExpr("k", "k * 2 AS v") \
        .write.parquet(str(tmp_path / "src" / "t.parquet"))
    f = Forwarder(spark, PipelineConfig.from_dict({
        "in": {"type": "parquet", "path": str(tmp_path / "src"), "tables": {"t": {"pk": "k"}},
               "batch_size": 1_000},
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }))
    assert f.run(full_refresh=True) == {"t": n}
    spec, dest_path = f.cfg.tables[0], str(tmp_path / "dest" / "t")

    def problems(dest):
        shutil.rmtree(dest_path)
        dest.write.parquet(dest_path)
        reports = {t: r.collect() for t, r in f.check().items()}
        return no_mismatched_ranges(reports), holds_keys_once(f.read_dest(spec), "k", n, "t")

    clean = spark.read.parquet(dest_path).localCheckpoint()
    assert problems(clean) == ([], [])
    ranges, keys = problems(clean.filter("k < 1000 OR k >= 2000"))
    assert ranges and keys
    ranges, keys = problems(clean.unionByName(clean.filter("k >= 500 AND k < 560")))
    assert not ranges and keys
