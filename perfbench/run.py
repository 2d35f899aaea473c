"""Benchmark of migbq_spark: one closed-loop client driving the migration
lifecycle, or the curation chain and an analytic query mix, through the
package's public entry points, on inputs generated from a seed.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 5 --trace 0

Run it from the repository root.  Everything it writes goes under
``.perfbench_work/`` there; the run's own directory is removed when it
exits, and a traced run leaves its spans in
``.perfbench_work/spans-<workload>.jsonl``.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``; every per-layer
metric with ``--trace 1``, which also turns on Spark's event log for the
run).  Metric names, units and the workloads are listed in
``BENCHMARK.json``; NOTES.md beside this file says what each measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

from procfs import descendants, tree_rss_bytes

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def _isolate(work: Path, trace: bool) -> None:
    """Point every scratch path of Python, the JVM, Derby and Spark into
    ``work``; in a traced run turn on Spark's event log.  Must run before
    the JVM starts (the package's session factory launches it)."""
    for d in ("tmp", "local", "eventlog", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["MIGBQ_DRIVER_MEM"] = "2g"
    # read by every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.system.home={work / 'derby'}",
        f"-Dderby.stream.error.file={work / 'derby' / 'derby.log'}",
    ])
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = str(work / "eventlog")
        # one plain JSON-lines file per application
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_for_children(timeout_s: float = 60.0) -> None:
    """Wait until every process this run started has ended."""
    t_end = time.monotonic() + timeout_s
    while descendants():
        if time.monotonic() > t_end:
            raise RuntimeError(f"processes still running: {sorted(descendants())}")
        time.sleep(0.1)


def declared_names(kind: str) -> list[str]:
    """Metric names ``BENCHMARK.json`` declares under ``kind``."""
    with open(ROOT / "BENCHMARK.json") as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "migbq_spark" / "__init__.py").is_file():
        print(f"no migbq_spark package under {ROOT}", file=sys.stderr)
        return 2

    from workload import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, bool(args.trace))
    sys.path.insert(0, str(ROOT))

    sampler = RssSampler()
    sampler.start()
    bench = WORKLOADS[args.workload](work, args.seed, len(os.sched_getaffinity(0)), bool(args.trace))
    try:
        bench.setup()
        job_log = work / "sync_meta" / "job_log"
        files_before = sum(1 for _ in job_log.glob("*.parquet"))
        bench.measure(args.seconds)
        print(f"setups {[round(t, 3) for t in bench.setup_s]} s, CPU {[round(t, 3) for t in bench.setup_cpu_s]} s, "
              f"{len(bench.passes)} passes, "
              f"median wall s per call {({k: round(v, 3) for k, v in bench.kind_medians().items()})}, "
              f"median CPU s per call {({k: round(v, 3) for k, v in bench.kind_medians(cpu=True).items()})}",
              file=sys.stderr)
        files_grown = sum(1 for _ in job_log.glob("*.parquet")) - files_before
        bench.stop()  # flushes the event log
        _stop_jvm()
        peak = sampler.stop()
        if args.trace:
            from layers import names_and_units, per_layer

            bench.tracer.write(work.parent / f"spans-{args.workload}.jsonl")
            values = per_layer(bench, work / "eventlog", files_grown, peak)
            metrics = {n: {"value": values[n], "unit": u} for n, u in names_and_units()}
        else:
            metrics = {n: {"value": v, "unit": u} for n, (v, u) in bench.end_to_end().items()}
    finally:
        bench.stop()
        _stop_jvm()
        if sampler.is_alive():
            sampler.stop()
        _wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
    declared = declared_names("per_layer" if args.trace else "end_to_end")
    if list(metrics) != declared:
        print(f"metrics {list(metrics)} differ from BENCHMARK.json {declared}", file=sys.stderr)
        return 3
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
