"""The migration pipeline — migbq's run / sync / check lifecycle
(SURVEY.md §3.1 EP1-EP3) executed as Spark jobs.

The reference's hand-rolled serial loop

    for lo in range(min_pk, max_pk, batch_size):
        SELECT * WHERE pk > lo AND pk <= lo+batch_size  → gzip → BQ load job

collapses into ONE bounded pass per table (SURVEY §3.2): a partitioned
read whose partitions ARE the PK ranges (JDBC stride or parquet row
groups), one distributed write into a staging directory, and one commit
that publishes the files and records progress (`metadata.py`) — Spark's
scheduler supplies the parallelism, retry, and speculative re-execution
migbq implemented by hand around its loop.

Commands (mirroring `migbq run|sync|check config.yml`):
- run    — full load per table; with full_refresh the table starts over.
- sync   — incremental: forward only pk > last-migrated (EP2; §2
           `incremental_delta`).
- check  — count reconciliation source vs destination, per PK range
           (EP3; §2 `check_count_reconcile`), duplicate keys included;
           with repair=True, re-forwards ranges the destination is short
           of and rewrites it with one row per PK (§2 `win_rownum_dedup`
           — migbq's BQ dedup DML).

Scale notes (100 TB): per-table work is one scan + one write — no driver
funnel; the row count and last PK come from the same pass
(`DataFrame.observe`).  JDBC ingestion parallelism = ceil(pk_span /
batch_size) stride partitions (capped) over the keys past the last
migrated one, exactly migbq's batch size semantics run N-wide.  Every
read of a JDBC call is bounded by its MIN/MAX probe, so rows inserted
while the call runs are left to the next one.  The job log holds one row
per table per call: a call commits all or nothing.
"""

from __future__ import annotations

import functools
import shutil
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migbq_spark import commit
from migbq_spark.app.config import PipelineConfig, TableSpec
from migbq_spark.app.metadata import MetadataStore
from migbq_spark.catalog import read_parquet
from migbq_spark.common import local_frame
from migbq_spark.session import ensure_runtime_confs

_MAX_JDBC_PARTITIONS = 256

_RANGES_SCHEMA = T.StructType([T.StructField("range_lo", T.LongType())])
_REPORT_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType()) for c in ("range_lo", "n_src", "n_dst", "n_dup")]
    + [T.StructField("mismatch", T.BooleanType())]
)

#: message fragments that plausibly mean "this identifier-quoting combo
#: is wrong for this store" (SQLState 42xxx family: syntax error,
#: object/column not found, case-folding mismatches).  Anything else —
#: connectivity, auth, missing driver class — fails every combo the
#: same way and should not be retried as a quoting problem.
_IDENTIFIER_ERR_HINTS = (
    "syntax",
    "column",
    "identifier",
    "not found",
    "does not exist",
    "doesn't exist",
    "invalid object name",
    "unknown table",
    "sqlstate: '42",
    "sqlstate: 42",
)


def _is_identifier_error(e: Exception) -> bool:
    msg = str(e).lower()
    return any(h in msg for h in _IDENTIFIER_ERR_HINTS)


class Forwarder:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = ensure_runtime_confs(spark)
        self.cfg = cfg
        self.meta = MetadataStore(spark, cfg.meta_path)

    # ------------------------------------------------------------- sources

    def read_source(self, table: TableSpec, lo: int | None = None) -> DataFrame | None:
        """Source read with optional exclusive lower PK bound (sync).  A
        JDBC read is also bounded above by its bounds probe, and is None
        when the probe finds no rows past ``lo``."""
        if self.cfg.in_type == "parquet":
            df = read_parquet(self.spark, f"{self.cfg.in_path}/{table.name}.parquet")
            if lo is not None:
                df = df.filter(F.col(table.pk) > lo)  # pushed to the scan
            return df
        if self.cfg.in_type == "jdbc":
            return self._read_jdbc(table, lo)
        raise ValueError(f"unknown in.type {self.cfg.in_type!r}")

    def _read_jdbc(self, table: TableSpec, lo: int | None) -> DataFrame | None:
        """Partitioned JDBC read: Spark emits one stride query per
        partition — migbq's PK-range sweep, parallelized.  Bounds come
        from a one-row min/max probe of the keys past ``lo`` (migbq's
        first query, §2 `agg_pk_bounds`), and every stride query is
        filtered to ``(lo, hi]``."""
        def reader():
            # fresh reader per use: DataFrameReader options accumulate,
            # and 'query' (probe) conflicts with 'dbtable' (range read)
            r = (
                self.spark.read.format("jdbc")
                .option("url", self.cfg.jdbc_url)
                .option("driver", self.cfg.jdbc_driver or "")
            )
            if self.cfg.jdbc_user:
                r = r.option("user", self.cfg.jdbc_user).option(
                    "password", self.cfg.jdbc_password or ""
                )
            return r
        # Identifier quoting is store-dependent: tables created by
        # Spark's own JDBC writer have QUOTED (case-sensitive) column
        # names, while DBA-created MSSQL/MySQL tables are usually
        # unquoted.  Try the plain probe first, then the ANSI-quoted
        # form (Derby/Postgres always; MSSQL with QUOTED_IDENTIFIER ON).
        bounds = None
        probe_err: Exception | None = None
        # (Spark's own JDBC writer quotes COLUMN names at CREATE but
        # passes the table name through unquoted, so the mixed combo is
        # a real case, not an oddity.)
        for pk_q, tbl_q in (
            (table.pk, table.name),
            (f'"{table.pk}"', table.name),
            (f'"{table.pk}"', f'"{table.name}"'),
            (table.pk, f'"{table.name}"'),
        ):
            past = "" if lo is None else f" WHERE {pk_q} > {int(lo)}"
            try:
                bounds = (
                    reader().option(
                        "query",
                        f"SELECT MIN({pk_q}) AS lo, MAX({pk_q}) AS hi "
                        f"FROM {tbl_q}{past}",
                    )
                    .load()
                    .collect()[0]
                )
                break
            except Exception as e:  # noqa: BLE001 - dialect probe
                # Only quoting-plausible failures continue the probe; a
                # connectivity/auth/driver failure would fail all four
                # combos identically and must surface AS ITSELF, not as
                # a misleading last-combo quoted-identifier error.
                if not _is_identifier_error(e):
                    raise
                # keep the FIRST identifier error: the unquoted combo's
                # message names the store's actual complaint
                probe_err = probe_err or e
        if bounds is None:
            raise probe_err
        # positional access: stores with case-insensitive identifiers
        # (Derby, MSSQL default) fold the unquoted `AS lo` alias, so the
        # Row field name is not reliably lowercase
        lo_b, hi_b = bounds[0], bounds[1]
        if lo_b is None:
            return None
        span = max(int(hi_b) - int(lo_b) + 1, 1)
        n_part = min(
            max(span // max(self.cfg.batch_size, 1), 1), _MAX_JDBC_PARTITIONS
        )
        df = (
            reader().option("dbtable", table.name)
            .option("partitionColumn", table.pk)
            .option("lowerBound", str(lo_b))
            .option("upperBound", str(int(hi_b) + 1))
            .option("numPartitions", str(n_part))
            .load()
        )
        bounded = F.col(table.pk) <= int(hi_b)
        if lo is not None:
            bounded &= F.col(table.pk) > lo
        return df.filter(bounded)

    # --------------------------------------------------------------- sinks

    def _dest_path(self, table: TableSpec) -> str:
        if self.cfg.out_type == "parquet":
            return str(Path(self.cfg.out_path) / table.name)
        raise ValueError(
            f"out.type {self.cfg.out_type!r} needs external connectivity "
            "(bigquery: spark-bigquery-connector, offline-stubbed in "
            "operators/sources.py::bq_sink_adapter)"
        )

    def read_dest(self, table: TableSpec) -> DataFrame | None:
        p = Path(self._dest_path(table))
        if not any(p.glob("*.parquet")):
            return None
        return read_parquet(self.spark, str(p))

    def _commit(
        self,
        table: TableSpec,
        df: DataFrame,
        run_id: str,
        command: str,
        range_lo: int | None = None,
        replaces: list[str] | None = None,
    ) -> int:
        """Write ``df`` once into the run's staging directory, then publish
        it with its progress (`migbq_spark/commit.py`, ``commit_run``).
        With ``replaces`` the rows replace those files of the destination;
        otherwise they are appended, and a pass that found no rows is
        discarded."""
        dest = self._dest_path(table)
        staging = Path(dest) / "_staging" / run_id
        pk = F.col(table.pk)
        seen = Observation()
        df.observe(
            seen, F.count(F.lit(1)).alias("n_rows"), F.max(pk).alias("last_pk")
        ).write.parquet(str(staging))
        n_rows, last_pk = seen.get["n_rows"], seen.get["last_pk"]
        if not n_rows and replaces is None:
            commit.abort(dest, run_id)
            self.meta.append_jobs([(table.name, range_lo, range_lo, 0, "done", run_id)])
            return 0
        run = {
            "run_id": run_id, "table": table.name, "command": command,
            "mode": "append" if replaces is None else "replace",
            "range_lo": range_lo, "range_hi": last_pk, "n_rows": n_rows,
        }
        moves = [(p.name, p.name) for p in staging.glob("part-*")]
        commit.commit(dest, run_id, moves, replaces or [], run, self.meta.commit_run)
        return n_rows

    def _recover(self) -> None:
        """Finish what an interrupted call left behind: publish committed
        runs, delete staging that never committed and dropped tables."""
        if self.meta._query("SELECT 1 FROM runs WHERE state = 'staged' LIMIT 1"):
            raise RuntimeError(
                f"{self.cfg.meta_path} holds runs an older migbq_spark left "
                "'staged': finish them with that version before upgrading"
            )
        for table in self.cfg.tables:
            dest = Path(self._dest_path(table))
            commit.recover(str(dest), self.meta.commit_run)
            shutil.rmtree(dest / "_staging", ignore_errors=True)
            for old in dest.parent.glob(f".{dest.name}.*.dropped"):
                shutil.rmtree(old)

    # ------------------------------------------------------------ commands

    def run(self, full_refresh: bool = False) -> dict[str, int]:
        """EP1: bulk migration of every configured table."""
        self._recover()
        out: dict[str, int] = {}
        run_id = uuid.uuid4().hex[:12]
        for table in self.cfg.tables:
            if full_refresh:
                # progress first: a crash after it leaves a destination
                # check(repair=True) can dedup, never one that sync would
                # extend from a stale high-water mark
                self.meta.clear_progress(table.name)
                dest = Path(self._dest_path(table))
                if dest.exists():
                    old = dest.with_name(f".{dest.name}.{run_id}.dropped")
                    dest.rename(old)
                    shutil.rmtree(old)
            out[table.name] = self._forward(table, lo=None, run_id=run_id, command="run")
        return out

    def sync(self) -> dict[str, int]:
        """EP2: forward only rows beyond the last migrated PK."""
        self._recover()
        out: dict[str, int] = {}
        run_id = uuid.uuid4().hex[:12]
        for table in self.cfg.tables:
            out[table.name] = self._forward(
                table, lo=self.meta.last_pk(table.name), run_id=run_id, command="sync"
            )
        return out

    def _forward(self, table: TableSpec, lo: int | None, run_id: str, command: str) -> int:
        src = self.read_source(table, lo=lo)
        if src is None:  # the bounds probe found nothing past lo
            self.meta.append_jobs([(table.name, lo, lo, 0, "done", run_id)])
            return 0
        return self._commit(table, src, run_id, command, range_lo=lo)

    def _range_lo(self, table: TableSpec) -> Column:
        """The batch-size PK range a key falls in, by its exclusive lower
        bound: migbq's loop step ``pk > lo AND pk <= lo + batch_size``.
        ``pmod`` keeps the step right for keys <= 0, where ``%`` takes
        the dividend's sign."""
        pk, bs = F.col(table.pk), self.cfg.batch_size
        return pk - 1 - F.pmod(pk - 1, F.lit(bs))

    def check(self, repair: bool = False) -> dict[str, DataFrame]:
        """EP3: per-range reconciliation of source vs destination.

        Each table's report (range_lo, n_src, n_dst = distinct keys,
        n_dup = rows beyond one per key, mismatch) is collected once, and
        returned as that snapshot; with ``repair`` it is what the repair
        acted on.  Both sides' keys, tagged by side, go through one
        exchange on ``range_lo``; the per-key and per-range aggregations
        that follow reuse its partitioning."""
        self._recover()
        run_id = uuid.uuid4().hex[:12]
        reports: dict[str, DataFrame] = {}
        for table in self.cfg.tables:
            keys = [
                df.select(
                    self._range_lo(table).alias("range_lo"),
                    F.col(table.pk).alias("pk"),
                    F.lit(is_src).alias("is_src"),
                )
                for df, is_src in ((self.read_source(table), True), (self.read_dest(table), False))
                if df is not None
            ]
            rows = []
            if keys:
                per_key = (
                    functools.reduce(DataFrame.union, keys)
                    .repartition("range_lo")
                    .groupBy("range_lo", "pk")
                    .agg(
                        F.count_if("is_src").alias("s"),
                        F.count_if(~F.col("is_src")).alias("d"),
                    )
                )
                rows = sorted(
                    per_key.groupBy("range_lo").agg(
                        F.sum("s").alias("n_src"),
                        F.count_if(F.col("d") > 0).alias("n_dst"),
                        F.sum(F.greatest(F.col("d") - 1, F.lit(0))).alias("n_dup"),
                    ).collect()
                )
            reports[table.name] = local_frame(
                self.spark,
                [(*r, r.n_src != r.n_dst or r.n_dup > 0) for r in rows],
                _REPORT_SCHEMA,
            )
            if repair:
                self._repair(table, rows, run_id)
        return reports

    def _repair(self, table: TableSpec, report: list, run_id: str) -> None:
        """Re-forward the ranges whose distinct keys fall short of the
        source, and rewrite the destination with one row per PK (migbq's
        ROW_NUMBER()=1 dedup — retried loads double-insert, the dedup
        repairs).  ``dropDuplicates`` keeps one arbitrary row of each
        key, not the latest: the copies are of the same source row.  The
        rewrite goes through `migbq_spark/commit.py`, replacing exactly the
        files it read, and resets progress to what it wrote."""
        short = [(r.range_lo,) for r in report if r.n_dst < r.n_src]
        if not short and not any(r.n_dup for r in report):
            return
        dest = self.read_dest(table)
        keep = dest
        if short:
            fix = self.read_source(table).join(
                F.broadcast(local_frame(self.spark, short, _RANGES_SCHEMA)),
                self._range_lo(table) == F.col("range_lo"),
                "left_semi",
            )
            keep = fix if dest is None else dest.unionByName(fix)
        replaces = [] if dest is None else [f.rsplit("/", 1)[-1] for f in dest.inputFiles()]
        self._commit(table, keep.dropDuplicates([table.pk]), run_id, "repair", replaces=replaces)
