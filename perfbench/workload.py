"""The benchmark's workloads: one client calling migbq_spark's public entry
points in a closed loop, each call waiting for the previous one, each
timed from entry through its result, every output checked outside the
timed region.

A run sets up ``SETUP_REPS`` times, runs one warm-up pass (whose outputs
are checked in full), then runs passes until ``--seconds`` have gone by
and at least ``MIN_PASSES`` are done.  Every call records its wall time
and the CPU time the whole process tree spent during it.

- ``migrate`` (``app.forwarder``, ``app.metadata``): migbq's lifecycle.
  A pass is ``run(full_refresh=True)`` of a unique-PK parquet table,
  ``check()``, a seeded double-loaded slice, ``check(repair=True)``, then
  trickle ``sync()`` calls, each after a seeded delta lands in an
  embedded-Derby JDBC source.  One ``check()`` of the synced table closes
  the run.
- ``curate_query`` (``operators.*``, ``pkrange_source``): near-duplicate
  dedup of a Zipf corpus with planted near-duplicates, then the analytic
  query mix, each result collected to the driver.

NOTES.md beside this file says why the workloads are sized as they are.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import gen
from checks import counts_match, digest, holds_keys_once, matches_oracle, no_mismatched_ranges
from procfs import tree_cpu_seconds
from sourcedb import DRIVER, DerbyEvents
from tracing import Tracer

SETUP_REPS = 5
MIN_PASSES = 2
REPLICAS = 1  # base blocks per keyed table (1 = the engine's sf0.01 shape)
N_DOCS = 1_000

BULK_TABLES = {"orders": "o_orderkey"}
BULK_BATCH = 1_000
DUP_FRAC = 0.02  # share of a table's rows loaded twice before repair
JDBC_BASE_ROWS = 2_000
SYNC_BATCH = 500
SYNCS_PER_PASS = 2
DELTA_ROWS = (40, 60)

#: (module, query id) of the corpus dedup, then of the query mix
CORPUS_OPS = (("pipeline", "dedup_keep_cluster_canonical"),)
QUERY_OPS = (
    ("aggregates", "agg_groupby_sum"),
    ("joins", "join_star_5way"),
    ("training", "features_order_wide"),
    ("windows", "win_rownum_dedup"),
    ("timeseries", "sessionize_gaps"),
    ("control", "merge_upsert_latest"),
    ("analytics", "active_users_7d"),
    ("sources", "pk_range_python_datasource"),
)


class OpFailed(Exception):
    """A timed call raised; its traceback is already on stderr."""


class Bench:
    """One run of a workload: the Spark session, the generated inputs under
    ``work`` and every timing taken.  Subclasses define ``name``,
    ``pass_kinds`` (the timed calls of one pass, in order), ``_prepare``
    and ``_pass``."""

    name = ""
    pass_kinds: tuple[str, ...] = ()

    def __init__(self, work: Path, seed: int, cpus: int, trace: bool):
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.tracer = Tracer(self.name, trace)
        self.src = work / "src"
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []  # wall seconds of each set-up
        self.setup_cpu_s: list[float] = []  # CPU seconds of each set-up
        # (kind, wall seconds, CPU seconds) of each call of the warm-up pass
        self.warmup: list[tuple[str, float, float]] = []
        self.passes: list[list[tuple[str, float, float]]] = []  # the same, per measured pass
        self._calls = self.warmup  # the pass being run

    # ------------------------------------------------------------ plumbing

    def _problems(self, what: str, problems: list[str]) -> None:
        """Count an operation whose output failed its check."""
        if problems:
            self.failed += 1
            print(f"CHECK FAILED {what}: {problems}", file=sys.stderr)

    def _call(self, kind: str, span: str, fn):
        """Time one public call, entry through result, under a span: its
        wall time and the CPU time the whole process tree spent meanwhile."""
        self.attempted += 1
        cpu0 = tree_cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                return fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            raise OpFailed(span) from None
        finally:
            wall = time.perf_counter() - t0
            self._calls.append((kind, wall, tree_cpu_seconds() - cpu0))

    # --------------------------------------------------------------- setup

    def setup(self) -> None:
        """Set up ``SETUP_REPS`` times, each from a fresh Spark session; the
        last one's state is measured."""
        for rep in range(SETUP_REPS):
            cpu0 = tree_cpu_seconds()
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                self._start_session()
                self.counts = gen.generate(self.src, self.seed, REPLICAS, N_DOCS)
                self._prepare(rep)
            self.setup_s.append(time.perf_counter() - t0)
            self.setup_cpu_s.append(tree_cpu_seconds() - cpu0)

    def _start_session(self) -> None:
        from migbq_spark.session import get_spark

        if self.spark is not None:
            self.tracer.sc = None
            self.spark.stop()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.name}", cpus=self.cpus,
                                   shuffle_partitions=2 * self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext

    def _prepare(self, rep: int) -> None:
        """Workload-specific set-up after the inputs are generated."""

    # ---------------------------------------------------------------- loop

    def measure(self, seconds: float) -> None:
        """One untimed warm-up pass, then timed passes until ``seconds``
        have gone by and ``MIN_PASSES`` are done; then ``_finish``."""
        with self.tracer.span("warmup"):
            self._guarded_pass()
        t_end = time.perf_counter() + seconds
        while len(self.passes) < MIN_PASSES or time.perf_counter() < t_end:
            self._calls = []
            self.passes.append(self._calls)
            with self.tracer.span("pass"):
                self._guarded_pass()
        self._finish()

    def _guarded_pass(self) -> None:
        try:
            self._pass()
        except OpFailed:
            pass  # counted by _call; the next pass starts over

    def _pass(self) -> None:
        raise NotImplementedError

    def _finish(self) -> None:
        """Checks that close the run."""

    # ------------------------------------------------------------- results

    def kind_medians(self, cpu: bool = False) -> dict[str, float]:
        """Median wall (or CPU) seconds of each kind of timed call over the
        measured passes."""
        by_kind: dict[str, list[float]] = {}
        for p in self.passes:
            for kind, wall, cpu_s in p:
                by_kind.setdefault(kind, []).append(cpu_s if cpu else wall)
        return {k: statistics.median(v) for k, v in by_kind.items()}

    def pass_seconds(self, cpu: bool = False) -> float:
        """Wall (or CPU) seconds of one pass, each of its calls at that
        call's median."""
        med = self.kind_medians(cpu)
        return sum(med.get(k, 0.0) for k in self.pass_kinds)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (statistics.median(self.setup_cpu_s), "s"),
            "pass_cpu_s": (self.pass_seconds(cpu=True), "s"),
            "cold_pass_cpu_s": (sum(cpu for _, _, cpu in self.warmup), "s"),
        }

    def stop(self) -> None:
        if self.spark is not None:
            self.tracer.sc = None
            self.spark.stop()
            self.spark = None


class Migrate(Bench):
    name = "migrate"
    pass_kinds = ("run", "check", "repair") + ("sync",) * SYNCS_PER_PASS

    def _forwarder(self, cfg: dict):
        from migbq_spark.app import Forwarder, PipelineConfig

        f = Forwarder(self.spark, PipelineConfig.from_dict(cfg))
        # layer spans around the public methods the forwarder calls on
        # itself and on its metadata store
        f.read_source = self.tracer.wrap("forwarder.read_source", f.read_source)
        for name in ("progress", "last_pk", "set_progress", "job_log",
                     "append_jobs", "append_jobs_df", "missing_ranges"):
            setattr(f.meta, name, self.tracer.wrap(f"metadata.{name}", getattr(f.meta, name)))
        return f

    def _prepare(self, rep: int) -> None:
        if hasattr(self, "db"):
            self.db.close()
        self.db = DerbyEvents(self.spark._jvm, f"perfbench{rep}")
        self.db.insert(gen.jdbc_events(self.seed, 0, 0, JDBC_BASE_ROWS))
        for d in ("sync_dest", "sync_meta"):
            shutil.rmtree(self.work / d, ignore_errors=True)
        self.syncer = self._forwarder({
            "in": {"type": "jdbc", "url": self.db.url, "driver": DRIVER,
                   "tables": {"events": {"pk": "event_id"}}, "batch_size": SYNC_BATCH},
            "out": {"type": "parquet", "path": str(self.work / "sync_dest")},
            "meta": {"path": str(self.work / "sync_meta")},
        })
        self.next_delta, self.next_id = 1, JDBC_BASE_ROWS
        self.bulk = self._forwarder({
            "in": {"type": "parquet", "path": str(self.src),
                   "tables": {t: {"pk": pk} for t, pk in BULK_TABLES.items()},
                   "batch_size": BULK_BATCH},
            "out": {"type": "parquet", "path": str(self.work / "dest")},
            "meta": {"path": str(self.work / "meta")},
        })
        self.bulk_rows = sum(self.counts[t] for t in BULK_TABLES)

    def _pass(self) -> None:
        f = self.bulk
        shutil.rmtree(self.work / "meta", ignore_errors=True)  # every pass migrates afresh
        done = self._call("run", "forwarder.run", lambda: f.run(full_refresh=True))
        self._problems("run", counts_match(done, {t: self.counts[t] for t in BULK_TABLES}))
        reports = self._call("check", "forwarder.check",
                             lambda: {t: r.collect() for t, r in f.check().items()})
        self._problems("check", no_mismatched_ranges(reports))
        for t, pk in BULK_TABLES.items():  # migbq's retry double-load of one slice
            start, size = gen.dup_window(self.seed, t, self.counts[t], DUP_FRAC)
            (self.spark.read.parquet(f"{self.src}/{t}.parquet")
             .filter(f"{pk} >= {start} AND {pk} < {start + size}")
             .write.mode("append").parquet(str(self.work / "dest" / t)))
        self._call("repair", "forwarder.repair", lambda: f.check(repair=True))
        problems = []
        for spec in f.cfg.tables:
            problems += holds_keys_once(f.read_dest(spec), spec.pk, self.counts[spec.name], spec.name)
        self._problems("repair", problems)
        for _ in range(SYNCS_PER_PASS):
            self._sync()

    def _sync(self) -> None:
        n = gen.delta_size(self.seed, self.next_delta, *DELTA_ROWS)
        self.db.insert(gen.jdbc_events(self.seed, self.next_delta, self.next_id, n))
        # the first sync into an empty target forwards the base load too
        expected = n + (JDBC_BASE_ROWS if self.next_delta == 1 else 0)
        self.next_delta += 1
        self.next_id += n
        got = self._call("sync", "forwarder.sync", self.syncer.sync)
        self._problems("sync", counts_match(got, {"events": expected}))

    def _finish(self) -> None:
        # nothing the trickle run forwarded was missed or doubled
        self.attempted += 1
        reports = {t: r.collect() for t, r in self.syncer.check().items()}
        self._problems("sync check", no_mismatched_ranges(reports))

    def stop(self) -> None:
        if self.spark is not None and hasattr(self, "db"):
            self.db.close()
        super().stop()


class CurateQuery(Bench):
    name = "curate_query"
    ops = CORPUS_OPS + QUERY_OPS
    pass_kinds = tuple(qid for _, qid in ops)

    def _prepare(self, rep: int) -> None:
        from migbq_spark import registry

        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.checked: dict[str, str] = {}  # qid -> digest of an output that passed its oracle

    def _pass(self) -> None:
        for module, qid in self.ops:
            fn = self.queries[qid]
            try:
                pdf = self._call(qid, f"operators.{module}.{qid}",
                                 lambda fn=fn: fn(self.spark, str(self.src)).toPandas())
            except OpFailed:
                continue
            d = digest(pdf)
            if self.checked.get(qid) == d:
                continue  # same output as one the oracle accepted
            problems = self._oracle_check(qid, pdf)
            if not problems:
                self.checked[qid] = d
            self._problems(qid, problems)

    def _oracle_check(self, qid: str, pdf) -> list[str]:
        from migbq_spark.testing import duckdb_conn

        if qid not in self.oracles:
            return ["empty result"] if pdf.empty else []
        con = duckdb_conn(str(self.src))
        try:
            return matches_oracle(pdf, con, self.oracles[qid])
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (Migrate, CurateQuery)}
