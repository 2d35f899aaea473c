"""Migration metadata store — migbq's MigrationMetadataManager re-homed.

The reference keeps per-table progress (last migrated PK, row counts) and
a job log in sqlite via peewee (`[pub:H migbq/MigrationMetadataManager.py]`,
SURVEY.md §1.1/§3.1).  Here the same state lives in stdlib ``sqlite3``, in
``<meta.path>/migbq.sqlite``:

    progress(table_name, last_pk, n_rows, updated_run)
    runs(run_id, table_name, command, mode, range_lo, range_hi, n_rows,
         state, dest, staging, files, replaces)

``runs`` is the job log: one row per table per call, covering the PK range
``(range_lo, range_hi]`` the call forwarded (``range_lo`` NULL = from the
first key).  A call commits all or nothing, so finer-grained rows would
describe nothing.

Every write to a destination goes through one commit protocol, which
records the manifest before it moves any file, so a crash is replayed:

1. the forwarder writes the rows to ``<dest>/_staging/<run_id>``, a path
   Spark's file index hides from readers of ``<dest>``;
2. ``stage`` records the manifest (files, rows, PK range, the files it
   replaces) with ``state='staged'`` in one transaction;
3. ``publish`` moves the files into ``<dest>``, deletes the replaced ones,
   then updates progress and marks the run ``done`` in one transaction.

``recover`` replays step 3 for every run left ``staged``; every move and
delete in it is idempotent, so a process killed between any two steps is
finished by the next call.  Rows staged but never recorded are discarded
by the caller: progress never counted them, so the next call reads them
again.

``pkrange_source.LoadJobWriter`` (the ``migbq_loadjob`` sink) is
different: its ``commit`` moves the staged parts first and writes
``_MANIFEST.json`` last, with no replay, and a failed job is only
``abort``-ed (staging deleted).  It publishes one Spark write; it does
not track progress.

Each transaction opens its own connection and creates the directory when
needed, so the store survives its directory being removed between calls.
State is O(tables + calls) rows: no Spark job ever touches it.
"""

from __future__ import annotations

import json
import shutil
import sqlite3
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from migbq_spark.common import local_frame

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("last_pk", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("updated_run", T.StringType()),
    ]
)

JOB_LOG_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("range_lo", T.LongType()),
        T.StructField("range_hi", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("state", T.StringType()),  # pending | staged | done
        T.StructField("run_id", T.StringType()),
    ]
)

_DDL = (
    "CREATE TABLE IF NOT EXISTS progress (table_name TEXT PRIMARY KEY, "
    "last_pk INTEGER, n_rows INTEGER NOT NULL, updated_run TEXT)",
    "CREATE TABLE IF NOT EXISTS runs (run_id TEXT, table_name TEXT, "
    "command TEXT, mode TEXT, range_lo INTEGER, range_hi INTEGER, "
    "n_rows INTEGER, state TEXT, dest TEXT, staging TEXT, "
    "files TEXT, replaces TEXT)",
)

MISSING_SCHEMA = T.StructType(JOB_LOG_SCHEMA.fields[1:3])

_JOB_COLS = ", ".join(f.name for f in JOB_LOG_SCHEMA.fields)


def _unlink(path: Path) -> None:
    """Delete a data file and the checksum Hadoop's local filesystem
    keeps beside it."""
    path.unlink(missing_ok=True)
    (path.parent / f".{path.name}.crc").unlink(missing_ok=True)


class MetadataStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.root = Path(path)

    # ---------------------------------------------------------- internals

    @contextmanager
    def _txn(self):
        """One transaction on a fresh connection: committed when the block
        returns, rolled back when it raises."""
        self.root.mkdir(parents=True, exist_ok=True)
        con = sqlite3.connect(self.root / "migbq.sqlite", isolation_level=None)
        try:
            con.execute("BEGIN IMMEDIATE")
            for ddl in _DDL:
                con.execute(ddl)
            yield con
            con.execute("COMMIT")
        except BaseException:
            if con.in_transaction:
                con.execute("ROLLBACK")
            raise
        finally:
            con.close()

    def _query(self, sql: str, args: tuple = ()) -> list[tuple]:
        with self._txn() as con:
            return con.execute(sql, args).fetchall()

    # ------------------------------------------------------------- progress

    def progress(self) -> DataFrame:
        return local_frame(
            self.spark, self._query("SELECT * FROM progress ORDER BY table_name"), PROGRESS_SCHEMA
        )

    def last_pk(self, table: str) -> int | None:
        rows = self._query("SELECT last_pk FROM progress WHERE table_name = ?", (table,))
        return rows[0][0] if rows else None

    def set_progress(self, table: str, last_pk: int, n_rows: int, run_id: str) -> None:
        with self._txn() as con:
            con.execute(
                "INSERT OR REPLACE INTO progress VALUES (?, ?, ?, ?)",
                (table, last_pk, n_rows, run_id),
            )

    def clear_progress(self, table: str) -> None:
        with self._txn() as con:
            con.execute("DELETE FROM progress WHERE table_name = ?", (table,))

    # -------------------------------------------------------------- job log

    def job_log(self) -> DataFrame:
        return local_frame(
            self.spark, self._query(f"SELECT {_JOB_COLS} FROM runs ORDER BY rowid"), JOB_LOG_SCHEMA
        )

    def append_jobs(self, rows: list[tuple]) -> None:
        """Append job-log rows shaped like ``JOB_LOG_SCHEMA``."""
        with self._txn() as con:
            con.executemany(
                f"INSERT INTO runs ({_JOB_COLS}) VALUES (?, ?, ?, ?, ?, ?)", rows
            )

    def append_jobs_df(self, df: DataFrame) -> None:
        self.append_jobs([tuple(r) for r in df.select(*JOB_LOG_SCHEMA.names).collect()])

    def missing_ranges(self, table: str) -> DataFrame:
        """migbq's retry scan: ranges recorded but never completed (SURVEY
        §2 `join_anti` / `retry_missing_ranges`)."""
        rows = self._query(
            "SELECT range_lo, range_hi FROM runs WHERE table_name = ?1 "
            "EXCEPT SELECT range_lo, range_hi FROM runs "
            "WHERE table_name = ?1 AND state = 'done' ORDER BY 1, 2",
            (table,),
        )
        return local_frame(self.spark, rows, MISSING_SCHEMA)

    # -------------------------------------------------------------- commits

    def stage(
        self,
        run_id: str,
        table: str,
        command: str,
        dest: str,
        staging: str,
        range_lo: int | None,
        n_rows: int,
        last_pk: int | None,
        replaces: list[str] | None = None,
    ) -> None:
        """Commit step 1: record the manifest of the files under
        ``staging``.  With ``replaces`` (file names in ``dest``) the run
        rewrites the table, and its rows and ``last_pk`` become the
        table's progress; otherwise they add to it."""
        files = sorted(
            p.name for p in Path(staging).iterdir() if not p.name.startswith(("_", "."))
        )
        with self._txn() as con:
            con.execute(
                "INSERT INTO runs VALUES (?, ?, ?, ?, ?, ?, ?, 'staged', ?, ?, ?, ?)",
                (
                    run_id, table, command,
                    "append" if replaces is None else "replace",
                    range_lo, last_pk, n_rows, dest, staging,
                    json.dumps(files), json.dumps(replaces or []),
                ),
            )

    def publish(self, run_id: str, table: str) -> None:
        """Commit steps 2-3 for a staged run: move its files into the
        destination, delete the files it replaces, then record progress
        and mark it done in one transaction."""
        (mode, dest, staging, files, replaces), = self._query(
            "SELECT mode, dest, staging, files, replaces FROM runs "
            "WHERE run_id = ? AND table_name = ? AND state = 'staged'",
            (run_id, table),
        )
        self._publish_files(Path(dest), Path(staging), json.loads(files), json.loads(replaces))
        with self._txn() as con:
            self._commit_progress(con, run_id, table, mode)
            con.execute(
                "UPDATE runs SET state = 'done' WHERE run_id = ? AND table_name = ?",
                (run_id, table),
            )
        shutil.rmtree(staging, ignore_errors=True)

    def _publish_files(
        self, dest: Path, staging: Path, files: list[str], replaces: list[str]
    ) -> None:
        for name in files:  # a file already moved is skipped
            if (staging / name).exists():
                (staging / name).replace(dest / name)
        for name in replaces:
            _unlink(dest / name)

    def _commit_progress(
        self, con: sqlite3.Connection, run_id: str, table: str, mode: str
    ) -> None:
        if mode == "replace":
            upsert = "n_rows = excluded.n_rows, last_pk = excluded.last_pk"
        else:
            upsert = (
                "n_rows = n_rows + excluded.n_rows, "
                "last_pk = max(coalesce(last_pk, excluded.last_pk), excluded.last_pk)"
            )
        con.execute(
            "INSERT INTO progress SELECT table_name, range_hi, n_rows, run_id FROM runs "
            "WHERE run_id = ? AND table_name = ? "
            f"ON CONFLICT (table_name) DO UPDATE SET {upsert}, updated_run = excluded.updated_run",
            (run_id, table),
        )

    def recover(self) -> None:
        """Finish every run that was staged but never marked done."""
        for run_id, table in self._query(
            "SELECT run_id, table_name FROM runs WHERE state = 'staged' ORDER BY rowid"
        ):
            self.publish(run_id, table)
