"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Only calls inside measured passes count; set-up is reported by
``session.start_s`` alone.  A span's counters are those of its own Spark
job group plus its descendants'.  A layer's wall time is its span's
duration, as a median over calls.  Ratios are taken over sums, so each has
its base in the same spans.  A layer the workload does not call reads 0.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from tracing import read_event_logs, subtree_totals
from workload import CORPUS_OPS, QUERY_OPS


def names_and_units() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run prints, with its unit."""
    out = [
        ("setup.wall_s", "s"),
        ("session.start_s", "s"),
        ("forwarder.run.wall_s", "s"),
        ("forwarder.run.rows_per_s", "rows/s"),
        ("forwarder.run.jobs", "count"),
        ("forwarder.run.shuffle_bytes", "bytes"),
        ("forwarder.run.source_read_amp", "ratio"),
        ("forwarder.run.output_bytes_per_input_byte", "ratio"),
        ("forwarder.check.wall_s", "s"),
        ("forwarder.check.input_records", "count"),
        ("forwarder.check.shuffle_bytes", "bytes"),
        ("forwarder.repair.wall_s", "s"),
        ("forwarder.repair.bytes_rewritten", "bytes"),
        ("forwarder.read_source.wall_s", "s"),
        ("forwarder.sync.wall_s", "s"),
        ("forwarder.sync.jobs", "count"),
        ("forwarder.sync.tasks", "count"),
        ("forwarder.sync.jdbc_partitions", "count"),
        ("forwarder.sync.useful_task_ratio", "ratio"),
        ("metadata.calls_per_sync", "count"),
        ("metadata.wall_s_per_sync", "s"),
        ("metadata.share_of_sync", "ratio"),
        ("metadata.jobs_per_sync", "count"),
        ("metadata.job_log_files", "count"),
    ]
    for module, qid in CORPUS_OPS + QUERY_OPS:
        out += [(f"operators.{module}.{qid}.wall_s", "s"),
                (f"operators.{module}.{qid}.shuffle_bytes", "bytes")]
        if (module, qid) in CORPUS_OPS:
            out += [(f"operators.{module}.{qid}.spill_bytes", "bytes"),
                    (f"operators.{module}.{qid}.jvm_cpu_share", "ratio")]
    out += [
        ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"),
        ("spark.gc_share", "ratio"),
        ("spark.spill_bytes", "bytes"),
        ("spark.task_count", "count"),
        ("spark.failed_tasks", "count"),
        ("memory.peak_rss_mb", "MB"),
        ("trace.pass_s", "s"),
        ("trace.pass_cpu_s", "s"),
    ]
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(bench, log_dir: Path, job_log_files: int, peak_rss_bytes: int) -> dict[str, float]:
    spans = bench.tracer.spans
    tot = subtree_totals(spans, read_event_logs(log_dir))
    children: dict[str, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    pass_ids = {s["id"] for s in spans if s["name"] == "pass"}
    calls = [s for s in spans if s["parent"] in pass_ids]  # the timed calls

    def named(name: str) -> list[dict]:
        return [s for s in calls if s["name"] == name]

    def total(ss: list[dict], key: str) -> float:
        return sum(tot[s["id"]][key] for s in ss)

    def mean(ss: list[dict], key: str) -> float:
        return _ratio(total(ss, key), len(ss))

    def outermost(s: dict, prefix: str) -> list[dict]:
        """Descendants named ``prefix*``, not counting those inside another
        (a store method calling another counts once)."""
        out = []
        for c in children.get(s["id"], []):
            out += [c] if c["name"].startswith(prefix) else outermost(c, prefix)
        return out

    m: dict[str, float] = {"setup.wall_s": statistics.median(bench.setup_s)}
    m["session.start_s"] = _median(dur(s) for s in spans if s["name"] == "session.start")

    run = named("forwarder.run")
    m["forwarder.run.wall_s"] = _median(map(dur, run))
    m["forwarder.run.rows_per_s"] = _ratio(getattr(bench, "bulk_rows", 0), m["forwarder.run.wall_s"])
    m["forwarder.run.jobs"] = mean(run, "jobs")
    m["forwarder.run.shuffle_bytes"] = mean(run, "shuffle_bytes")
    m["forwarder.run.source_read_amp"] = _ratio(total(run, "input_records"),
                                                len(run) * getattr(bench, "bulk_rows", 0))
    m["forwarder.run.output_bytes_per_input_byte"] = _ratio(total(run, "output_bytes"),
                                                            total(run, "input_bytes"))
    check = named("forwarder.check")
    m["forwarder.check.wall_s"] = _median(map(dur, check))
    m["forwarder.check.input_records"] = mean(check, "input_records")
    m["forwarder.check.shuffle_bytes"] = mean(check, "shuffle_bytes")
    repair = named("forwarder.repair")
    m["forwarder.repair.wall_s"] = _median(map(dur, repair))
    m["forwarder.repair.bytes_rewritten"] = mean(repair, "output_bytes")

    sync = named("forwarder.sync")
    m["forwarder.read_source.wall_s"] = _median(
        sum(map(dur, outermost(s, "forwarder.read_source"))) for s in sync)
    m["forwarder.sync.wall_s"] = _median(map(dur, sync))
    m["forwarder.sync.jobs"] = mean(sync, "jobs")
    m["forwarder.sync.tasks"] = mean(sync, "tasks")
    m["forwarder.sync.jdbc_partitions"] = _ratio(total(sync, "jdbc_tasks"), total(sync, "jdbc_stages"))
    m["forwarder.sync.useful_task_ratio"] = _ratio(total(sync, "jdbc_useful_tasks"),
                                                   total(sync, "jdbc_tasks"))
    meta = [outermost(s, "metadata.") for s in sync]
    meta_wall = sum(dur(c) for cs in meta for c in cs)
    m["metadata.calls_per_sync"] = _ratio(sum(map(len, meta)), len(sync))
    m["metadata.wall_s_per_sync"] = _ratio(meta_wall, len(sync))
    m["metadata.share_of_sync"] = _ratio(meta_wall, sum(map(dur, sync)))
    m["metadata.jobs_per_sync"] = _ratio(sum(total(cs, "jobs") for cs in meta), len(sync))
    m["metadata.job_log_files"] = job_log_files

    for module, qid in CORPUS_OPS + QUERY_OPS:
        key = f"operators.{module}.{qid}"
        ss = named(key)
        m[f"{key}.wall_s"] = _median(map(dur, ss))
        m[f"{key}.shuffle_bytes"] = mean(ss, "shuffle_bytes")
        if (module, qid) in CORPUS_OPS:
            m[f"{key}.spill_bytes"] = mean(ss, "spill_bytes")
            m[f"{key}.jvm_cpu_share"] = _ratio(total(ss, "cpu_ns") / 1e9, total(ss, "run_ms") / 1e3)

    n_passes = len(pass_ids)
    m["spark.executor_run_s"] = total(calls, "run_ms") / 1e3 / n_passes
    m["spark.executor_cpu_s"] = total(calls, "cpu_ns") / 1e9 / n_passes
    m["spark.gc_share"] = _ratio(total(calls, "gc_ms"), total(calls, "run_ms"))
    m["spark.spill_bytes"] = total(calls, "spill_bytes") / n_passes
    m["spark.task_count"] = total(calls, "tasks") / n_passes
    m["spark.failed_tasks"] = total(calls, "failed_tasks") / n_passes
    m["memory.peak_rss_mb"] = peak_rss_bytes / 2**20
    m["trace.pass_s"] = bench.pass_seconds()
    m["trace.pass_cpu_s"] = bench.pass_seconds(cpu=True)
    return m
