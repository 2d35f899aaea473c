"""Per-operator profiler: warm e2e wall (min-of-N), executor CPU and job
count for a list of registered queries, on a UI-enabled engine session.
For each run it also prints the compile cost outside executor tasks: the
classes Janino compiled (``compiles``) and the CPU of the JVM's C1/C2 JIT
compiler threads (``jit``).

Wall seconds on this box swing with host weather; executor CPU from the
REST API is the throttle-immune number.  Use for
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
from migbq_spark.session import session_builder  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ui_spark():
    """The engine's local session (``session_builder``) with the UI on, for
    the REST CPU metrics."""
    return (
        session_builder("profile-ops")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )


def _janino_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (``CodegenMetrics``;
    a hit in Spark's generated-class cache does not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _jit_ticks(pid: int) -> dict[int, int]:
    """CPU ticks (utime + stime) of each live ``C1/C2 CompilerThread*``
    thread of the JVM, by thread id, from ``/proc/<pid>/task/*/stat``."""
    ticks = {}
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            # comm is cut at 15 characters: "C2 CompilerThre"
            if (task / "comm").read_text().startswith(
                ("C1 CompilerThre", "C2 CompilerThre")
            ):
                stat = (task / "stat").read_text().rsplit(")", 1)[1].split()
                ticks[int(task.name)] = int(stat[11]) + int(stat[12])
        except (OSError, IndexError):
            pass  # the thread ended meanwhile
    return ticks


def _jit_cpu_s(before: dict[int, int], after: dict[int, int]) -> float:
    """JIT compiler CPU (s) between two ``_jit_ticks`` reads.  HotSpot
    starts and retires compiler threads on demand; one retired in between
    is not counted, so this can undercount, never overcount."""
    ticks = sum(t - before.get(tid, 0) for tid, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


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
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
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
            compiles0, jit0 = _janino_compiles(spark), _jit_ticks(jvm_pid)
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            wall = time.monotonic() - t0
            compiles = _janino_compiles(spark) - compiles0
            jit = _jit_cpu_s(jit0, _jit_ticks(jvm_pid))
            jobs1 = json.load(
                urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs")
            )
            njobs = len(jobs1) - jobs0
            first = sorted(j["jobId"] for j in jobs1)[jobs0] if njobs else 0
            cpu = _cpu_since(ui, app, first)
            runs.append((wall, njobs, cpu, compiles, jit))
            print(
                f"{qid:36s} r{r} wall={wall:7.3f}s jobs={njobs:3d} "
                f"cpu={cpu:7.2f}s compiles={compiles:4d} jit={jit:6.2f}s",
                flush=True,
            )
        walls, jobs, cpus, compiles, jits = (sorted(col) for col in zip(*runs))
        mid = len(runs) // 2
        summary[qid] = (walls[0], jobs[mid], cpus[0], compiles[mid], jits[mid])
    print(
        "\n== summary (warm wall_min / median jobs / cpu_min / "
        "median compiles / median jit) =="
    )
    for qid, (w, j, c, n, t) in summary.items():
        print(
            f"{qid:36s} wall_min={w:7.3f} jobs={j:3d} cpu_min={c:7.2f} "
            f"compiles={n:4d} jit={t:6.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
