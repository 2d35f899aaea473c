"""Migration metadata store — migbq's MigrationMetadataManager re-homed.

The reference keeps per-table progress (last migrated PK, row counts) and
a job log in sqlite via peewee (`[pub:H migbq/MigrationMetadataManager.py]`,
SURVEY.md §1.1/§3.1).  Here the same state lives in stdlib ``sqlite3``, in
``<meta.path>/migbq.sqlite``:

    progress(table_name, last_pk, n_rows, updated_run)
    runs(run_id, table_name, command, mode, range_lo, range_hi, n_rows,
         state)

``runs`` is the job log: one row per table per call, covering the PK range
``(range_lo, range_hi]`` the call forwarded (``range_lo`` NULL = from the
first key).  A call commits all or nothing, so finer-grained rows would
describe nothing.

A forwarded run is published through `migbq_spark/commit.py`, whose
``done`` step is ``commit_run``: one transaction records the run and its
rows.  Rows staged but never committed are discarded: progress never
counted them, so the next call reads them again.

Each transaction opens its own connection and creates the directory when
needed, so the store survives its directory being removed between calls.
State is O(tables + calls) rows: no Spark job ever touches it.
"""

from __future__ import annotations

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
        T.StructField("state", T.StringType()),  # pending | done
        T.StructField("run_id", T.StringType()),
    ]
)

_DDL = (
    "CREATE TABLE IF NOT EXISTS progress (table_name TEXT PRIMARY KEY, "
    "last_pk INTEGER, n_rows INTEGER NOT NULL, updated_run TEXT)",
    "CREATE TABLE IF NOT EXISTS runs (run_id TEXT, table_name TEXT, "
    "command TEXT, mode TEXT, range_lo INTEGER, range_hi INTEGER, "
    "n_rows INTEGER, state TEXT)",
)

MISSING_SCHEMA = T.StructType(JOB_LOG_SCHEMA.fields[1:3])

_JOB_COLS = ", ".join(f.name for f in JOB_LOG_SCHEMA.fields)


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

    def commit_run(self, run: dict) -> None:
        """Record a published run ``done`` with its rows in one transaction,
        unless it is already done.  In ``replace`` mode its rows and
        ``range_hi`` become the table's progress; otherwise they add to it."""
        if run["mode"] == "replace":
            upsert = "n_rows = excluded.n_rows, last_pk = excluded.last_pk"
        else:
            upsert = (
                "n_rows = n_rows + excluded.n_rows, "
                "last_pk = max(coalesce(last_pk, excluded.last_pk), excluded.last_pk)"
            )
        key = (run["run_id"], run["table"])
        with self._txn() as con:
            if con.execute(
                "SELECT 1 FROM runs WHERE run_id = ? AND table_name = ? AND state = 'done'", key
            ).fetchone():
                return
            con.execute(
                "INSERT INTO runs (run_id, table_name, command, mode, range_lo, range_hi, "
                "n_rows, state) VALUES (?, ?, ?, ?, ?, ?, ?, 'done')",
                (*key, run["command"], run["mode"], run["range_lo"], run["range_hi"], run["n_rows"]),
            )
            con.execute(
                "INSERT INTO progress VALUES (?, ?, ?, ?) ON CONFLICT (table_name) "
                f"DO UPDATE SET {upsert}, updated_run = excluded.updated_run",
                (run["table"], run["range_hi"], run["n_rows"], run["run_id"]),
            )
