"""Per-operator profiler: warm e2e wall (min-of-N), executor CPU and job
count for a list of registered queries, on a UI-enabled engine session.

Wall seconds on this box swing with host weather; executor CPU from the
REST API is the throttle-immune number (r15 method note).  Use for
target selection and same-session before/after probes — adoption
decisions still require an interleaved A/B (alternating arms).

Usage: python scripts/profile_ops.py <query> [<query> ...] [--rounds=N]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from migbq_spark import registry  # noqa: E402
from migbq_spark.session import RUNTIME_CONFS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ui_spark():
    """get_spark() twin with the UI enabled (REST CPU metrics)."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-ops")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("MIGBQ_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _cpu_since(ui: str, app: str, first_job: int) -> float:
    """Executor CPU (s) summed over stages of jobs >= first_job."""
    try:
        jobs = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs")
        )
        stage_ids = set()
        for j in jobs:
            if j["jobId"] >= first_job:
                stage_ids.update(j["stageIds"])
        stages = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
        )
        return (
            sum(
                s.get("executorCpuTime", 0)
                for s in stages
                if s["stageId"] in stage_ids
            )
            / 1e9
        )
    except Exception:
        return float("nan")


def main() -> None:
    qids = [a for a in sys.argv[1:] if not a.startswith("--")]
    rounds = 3
    for a in sys.argv[1:]:
        if a.startswith("--rounds"):
            rounds = int(a.split("=")[1])
    queries = registry.queries()
    spark = _ui_spark()
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app = sc.applicationId
    # session warm-up (JVM/codegen/parquet footers), same as bench.py
    queries["agg_pk_bounds"](spark, SF_DIR).collect()
    summary = {}
    for qid in qids:
        fn = queries[qid]
        runs = []
        for r in range(rounds):
            sc.setJobDescription(f"profile:{qid}:r{r}")
            jobs0 = len(
                json.load(
                    urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs")
                )
            )
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            wall = time.monotonic() - t0
            jobs1 = json.load(
                urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs")
            )
            njobs = len(jobs1) - jobs0
            first = sorted(j["jobId"] for j in jobs1)[jobs0] if njobs else 0
            cpu = _cpu_since(ui, app, first)
            runs.append((wall, njobs, cpu))
            print(
                f"{qid:36s} r{r} wall={wall:7.3f}s jobs={njobs:3d} "
                f"cpu={cpu:7.2f}s",
                flush=True,
            )
        walls = sorted(w for w, _, _ in runs)
        jobs = sorted(n for _, n, _ in runs)[len(runs) // 2]
        cpus = sorted(c for _, _, c in runs)
        summary[qid] = (walls[0], jobs, cpus[0])
    print("\n== summary (warm wall_min / median jobs / cpu_min) ==")
    for qid, (w, j, c) in summary.items():
        print(f"{qid:36s} wall_min={w:7.3f} jobs={j:3d} cpu_min={c:7.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
