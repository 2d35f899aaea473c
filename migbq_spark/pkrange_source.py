"""A Spark 4 Python DataSource implementing migbq's PK-range chunked
read as a REAL source — stride partitions + filter pushdown.

The reference's core read loop (public migbq `[pub:H migbq/migbq.py]`,
SURVEY.md §3.1 EP1) is:

    SELECT MIN(pk), MAX(pk) FROM t          -- bounds probe
    for lo in range(min_pk, max_pk, batch_size):
        SELECT * WHERE pk > lo AND pk <= lo+batch_size

Here that loop IS the data source: ``partitions()`` plans one
``InputPartition`` per PK stride (bounds come from parquet row-group
statistics — no data scan — or, where a row group has none, from a
read of the pk column alone), Spark schedules the strides in parallel
across executors, and ``read()`` serves each stride as Arrow record
batches.  ``pushFilters()`` accepts pk comparison predicates and
tightens the planned stride set, so ``WHERE pk > x`` prunes whole
partitions before any task launches — the DataSource-V2 contract,
honored from pure Python.

The module also holds the streaming twin (``migbq_pkrange_stream``,
offset = last forwarded pk) and the two load-job sinks
(``migbq_loadjob``, ``migbq_loadjob_stream``); ``register_sources``
registers all four on a session.

Scale (100 TB): swap the pyarrow file read inside ``read()`` for the
per-range RDBMS query and this is migbq's MSSQL sweep running N-wide
under Spark's scheduler with pushdown — the same shape
``app/forwarder.py`` gets from the built-in JDBC source, demonstrated
here as a from-scratch source because migbq's sources (TDS cursors) had
no built-in equivalent.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    DataSourceWriter,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from migbq_spark import commit

_PA_TO_SPARK = {
    "int32": "int",
    "int64": "bigint",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
}


def _supported(sch) -> list[str]:
    """Names of the Arrow schema's columns that have a Spark type."""
    return [f.name for f in sch if str(f.type) in _PA_TO_SPARK]


def _schema_ddl(path: str, columns: list[str] | None = None) -> str:
    """Spark DDL of the parquet file or directory at ``path``: the named
    ``columns``, or every column of a supported type."""
    import pyarrow.parquet as pq

    sch = pq.ParquetDataset(path).schema
    return ", ".join(
        f"{c} {_PA_TO_SPARK[str(sch.field(c).type)]}"
        for c in columns or _supported(sch)
    )


def _row_groups(path: str, pk: str) -> list[tuple] | None:
    """``(min, max, num_rows)`` of ``pk`` for every row group of the
    parquet file or directory at ``path``, from statistics alone (no
    data read); ``None`` if any row group lacks pk min/max statistics."""
    import pyarrow.dataset as ds

    groups = []
    for frag in ds.dataset(path, format="parquet").get_fragments():
        md = frag.metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        ci = names[pk]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            groups.append((st.min, st.max, md.row_group(rg).num_rows))
    return groups


def plan_strides(
    mn: int,
    mx: int,
    lo: int | None,
    hi: int | None,
    batch_size: int,
) -> list[tuple[int, int]]:
    """migbq's stride plan: closed-open ``[s, s + batch_size)`` strides
    tiling the keys ``mn..mx`` (inclusive) intersected with the pushed
    bounds ``[lo, hi)`` (``None`` = unbounded); empty when they miss."""
    lo = mn if lo is None else max(mn, lo)
    hi = mx + 1 if hi is None else min(mx + 1, hi)
    return [
        (s, min(s + batch_size, hi)) for s in range(lo, hi, batch_size)
    ]


class PkRangePartition(InputPartition):
    """One migbq stride: pk ∈ [lo, hi)."""

    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


class PkRangeDataSource(DataSource):
    """``spark.read.format("migbq_pkrange")`` over a parquet file or
    directory.

    Options: ``path``, ``pk`` (integer primary-key column),
    ``batch_size`` (stride width, default 4096), ``columns``
    (comma-separated projection; default all supported columns).
    """

    @classmethod
    def name(cls) -> str:
        return "migbq_pkrange"

    def schema(self) -> str:
        opt = self.options.get("columns")
        cols = [c.strip() for c in opt.split(",")] if opt else None
        return _schema_ddl(self.options["path"], cols)

    def reader(self, schema) -> "PkRangeReader":
        return PkRangeReader(dict(self.options), [f.name for f in schema])


class PkRangeReader(DataSourceReader):
    def __init__(self, options: dict, columns: list[str]):
        self.path = options["path"]
        self.pk = options.get("pk", "id")
        self.batch_size = int(options.get("batch_size", "4096"))
        self.columns = columns
        # pushed pk bounds: closed-open [lo, hi)
        self.lo: int | None = None
        self.hi: int | None = None

    # ------------------------------------------------------------ pushdown

    def pushFilters(self, filters):  # noqa: N802 - Spark API name
        """Consume pk comparison predicates; everything else is returned
        to Spark to evaluate post-scan.  Consumed predicates are applied
        EXACTLY in ``read`` (arrow compute), as the contract requires."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = ".".join(attr) if isinstance(attr, tuple) else None
            if col != self.pk or not isinstance(
                f,
                (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual),
            ) or not isinstance(f.value, int):
                yield f  # unsupported → Spark evaluates it
                continue
            if isinstance(f, EqualTo):
                self._tighten(f.value, f.value + 1)
            elif isinstance(f, GreaterThan):
                self._tighten(f.value + 1, None)
            elif isinstance(f, GreaterThanOrEqual):
                self._tighten(f.value, None)
            elif isinstance(f, LessThan):
                self._tighten(None, f.value)
            else:  # LessThanOrEqual
                self._tighten(None, f.value + 1)

    def _tighten(self, lo: int | None, hi: int | None) -> None:
        if lo is not None:
            self.lo = lo if self.lo is None else max(self.lo, lo)
        if hi is not None:
            self.hi = hi if self.hi is None else min(self.hi, hi)

    # ---------------------------------------------------------- planning

    def partitions(self):
        """migbq's bounds probe + stride plan, intersected with the
        pushed bounds.  The probe reads row-group statistics; if any
        row group has none, it reads the pk column alone (migbq's
        ``SELECT MIN(pk), MAX(pk)``)."""
        groups = _row_groups(self.path, self.pk)
        if groups is None:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            mm = pc.min_max(
                pq.read_table(self.path, columns=[self.pk]).column(self.pk)
            ).as_py()
            mn, mx = mm["min"], mm["max"]
        elif groups:
            mn, mx = min(g[0] for g in groups), max(g[1] for g in groups)
        else:
            mn = mx = None
        strides = [] if mn is None else plan_strides(
            mn, mx, self.lo, self.hi, self.batch_size
        )
        # Spark needs at least one partition: an empty key range plans
        # one empty stride, which ``read`` serves as no rows.
        return [PkRangePartition(lo, hi) for lo, hi in strides] or [
            PkRangePartition(0, 0)
        ]

    # ------------------------------------------------------------ reading

    def read(self, partition: PkRangePartition):
        if partition.lo >= partition.hi:
            return
        import pyarrow.parquet as pq

        # pyarrow applies the range predicate with row-group statistics
        # pruning — the stride only decompresses pages it needs
        table = pq.read_table(
            self.path,
            columns=self.columns,
            filters=[
                (self.pk, ">=", partition.lo),
                (self.pk, "<", partition.hi),
            ],
        )
        yield from table.to_batches()


def _hi_bound(groups: list[tuple], lo_excl, batch_size: int):
    """Smallest pk upper bound that — by the row-group statistics
    ``groups`` alone — still guarantees the next stride can fill
    ``batch_size`` rows past ``lo_excl``.  This is what bounds the
    per-micro-batch read: without it, ``read`` would scan every row
    beyond the offset each batch (O(N²/batch) over a full drain).

    Returns ``None`` when fewer than ``batch_size`` rows remain (then
    the unbounded read IS the bounded read — it returns only the tail).

    Integer min/max stats are exact, so a group with max > lo_excl
    holds >= 1 row past the offset; a group with min > lo_excl holds
    ALL its rows past it.  Accumulate groups in max order until the
    guaranteed row count reaches batch_size — the last accumulated max
    is a sufficient cap."""
    guaranteed = 0
    for mn, mx, nrows in sorted(groups, key=lambda g: g[1]):
        if lo_excl is not None and mx <= lo_excl:
            continue
        guaranteed += nrows if (lo_excl is None or mn > lo_excl) else 1
        if guaranteed >= batch_size:
            return mx
    return None


class PkRangeStreamReader(SimpleDataSourceStreamReader):
    """migbq's INCREMENTAL SYNC loop as a Spark streaming source: the
    stream offset IS the last-forwarded PK (migbq's metadata-table row),
    and every micro-batch forwards `pk > last` up to `batch_size` new
    keys.  Spark's checkpoint persists the offset — exactly-once resume
    without migbq's hand-rolled sqlite bookkeeping.

    `read(start)` serves at most one stride beyond the last offset;
    `readBetweenOffsets` replays a committed range deterministically
    (failure recovery = migbq's ranged re-forward)."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.pk = options.get("pk", "id")
        self.batch_size = int(options.get("batch_size", "4096"))

    def initialOffset(self) -> dict:
        # start BEFORE the smallest key: the first batch forwards from
        # the real minimum (migbq: SELECT MIN(pk) on first run)
        return {"last_pk": None}

    def _read_range(self, lo_excl, hi_incl):
        import pyarrow.parquet as pq

        filters = []
        if lo_excl is not None:
            filters.append((self.pk, ">", lo_excl))
        if hi_incl is not None:
            filters.append((self.pk, "<=", hi_incl))
        t = pq.read_table(self.path, filters=filters or None)
        return t.select(_supported(t.schema)).sort_by(self.pk)

    def read(self, start: dict):
        last = start.get("last_pk")
        try:
            groups = _row_groups(self.path, self.pk)
        except (KeyError, OSError, ValueError):
            # a file without the pk or with unreadable metadata: take
            # the unbounded read, which reports the file's real error
            groups = None
        hi = None if groups is None else _hi_bound(
            groups, last, self.batch_size
        )
        t = self._read_range(last, hi)
        if t.num_rows == 0 and hi is not None:
            # Defensive: _hi_bound's guarantee rests on row-group
            # min/max stats being EXACT for the pk's physical type.  If
            # stats ever over-promise (e.g. truncated bounds on a
            # non-integer pk), the bounded read could return 0 rows
            # while rows remain past the cap — and an availableNow drain
            # would then terminate early, silently dropping the tail.
            # Widen PROGRESSIVELY through the remaining row-group maxima
            # (doubling the group span each attempt) rather than one
            # unbounded read, which would materialize every remaining
            # row into one Arrow table before the stride cut.  Geometric
            # widening keeps total retry work within ~2x the final
            # bounded read; the unbounded read is the LAST resort only,
            # when even the global stats max returns nothing.
            maxima = sorted({g[1] for g in groups if g[1] > hi})
            span = 1
            while t.num_rows == 0 and maxima:
                idx = min(span, len(maxima)) - 1
                t = self._read_range(last, maxima[idx])
                maxima = maxima[idx + 1:]
                span *= 2
            if t.num_rows == 0:
                t = self._read_range(last, None)
        if t.num_rows == 0:
            return iter([]), start
        # Cut the stride at a pk-VALUE boundary, not a row-count
        # boundary: if the batch_size'th row shares its pk with the
        # next row (non-unique pk), extend so equal keys never straddle
        # the offset — `pk > last` would skip the straddlers forever.
        n = min(t.num_rows, self.batch_size)
        pks = t.column(self.pk)
        while n < t.num_rows and pks[n].as_py() == pks[n - 1].as_py():
            n += 1
        t = t.slice(0, n)
        new_last = pks[n - 1].as_py()
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator for replay, and generators don't
        # copy.  One stride is batch_size-bounded by construction (plus
        # any run of duplicate boundary keys).
        rows = [tuple(r.values()) for r in t.to_pylist()]
        return iter(rows), {"last_pk": new_last}

    def readBetweenOffsets(self, start: dict, end: dict):
        t = self._read_range(start.get("last_pk"), end.get("last_pk"))
        return iter([tuple(r.values()) for r in t.to_pylist()])

    def commit(self, end: dict) -> None:
        pass  # offset persistence is Spark's checkpoint


class PkRangeStreamDataSource(DataSource):
    """``spark.readStream.format("migbq_pkrange_stream")``.

    ``path`` may be a single parquet file OR a directory of parquet
    files — the directory form is the real sync scenario, where new
    part files land between runs and the next drain forwards only the
    keys beyond the checkpointed offset."""

    @classmethod
    def name(cls) -> str:
        return "migbq_pkrange_stream"

    def schema(self) -> str:
        return _schema_ddl(self.options["path"])

    def simpleStreamReader(self, schema) -> PkRangeStreamReader:
        return PkRangeStreamReader(dict(self.options))


class LoadJobCommitMessage(WriterCommitMessage):
    """Per-task receipt: (staged file name, rows, bytes).

    Staged names are attempt-unique, so concurrent attempts of one
    partition (speculation, zombie post-retry attempts) can never
    interleave writes into a shared gzip stream.  Files keep the name
    when published."""

    def __init__(self, filename: str, n_rows: int, n_bytes: int):
        self.filename, self.n_rows, self.n_bytes = filename, n_rows, n_bytes


def _stage_part(staging: str, cols: list[str], iterator) -> LoadJobCommitMessage:
    """Write one task's rows as a gzip-NDJSON part under ``staging``
    (attempt-unique name) and return its receipt."""
    import gzip
    import json
    import os
    import uuid as _uuid

    from pyspark import TaskContext

    tc = TaskContext.get()
    part = tc.partitionId() if tc is not None else 0
    fname = f"part-{part:05d}-{_uuid.uuid4().hex[:8]}.jsonl.gz"
    tmp = os.path.join(staging, fname)
    n = 0
    with gzip.open(tmp, "wt") as fh:
        for row in iterator:
            fh.write(json.dumps(dict(zip(cols, row)), sort_keys=True))
            fh.write("\n")
            n += 1
    return LoadJobCommitMessage(fname, n, os.path.getsize(tmp))


class LoadJobWriter(DataSourceWriter):
    """migbq's BigQuery LOAD-JOB sink as a Python ``DataSourceWriter``
    with the real two-phase commit protocol: every task stages its rows
    as one gzip-NDJSON part under ``_staging/<job_id>`` and returns a
    commit message; ``commit()`` runs only when ALL tasks succeeded — it
    publishes the parts through `migbq_spark/commit.py`, after any job
    killed mid-commit, ending with the ``_MANIFEST.json`` receipt
    (migbq's load-job result row: files, rows, bytes); ``abort()``
    deletes the job's staging, so a job that fails before its commit
    leaves NOTHING visible, and one whose commit failed after its
    manifest is finished by the next write."""

    def __init__(self, options: dict, schema):
        import uuid

        self.dest = options["path"]
        self.cols = [f.name for f in schema.fields]
        self.job_id = uuid.uuid4().hex[:12]  # minted once, on the driver

    def write(self, iterator):
        return _stage_part(commit.stage_dir(self.dest, self.job_id), self.cols, iterator)

    def _write_receipt(self, receipt: dict) -> None:
        """Commit's ``done``; the last job's receipt is kept."""
        import os

        commit.write_json(os.path.join(self.dest, "_MANIFEST.json"), receipt)

    def commit(self, messages):
        commit.recover(self.dest, self._write_receipt)
        parts = [m for m in messages if m is not None]
        files = [{"file": m.filename, "rows": m.n_rows, "bytes": m.n_bytes} for m in parts]
        receipt = {
            "n_files": len(files),
            "n_rows": sum(f["rows"] for f in files),
            "files": sorted(files, key=lambda f: f["file"]),
        }
        moves = [(m.filename, m.filename) for m in parts]
        commit.commit(self.dest, self.job_id, moves, [], receipt, self._write_receipt)

    def abort(self, messages):
        commit.abort(self.dest, self.job_id)


class LoadJobSinkDataSource(DataSource):
    """``df.write.format("migbq_loadjob").option("path", dest)``."""

    @classmethod
    def name(cls) -> str:
        return "migbq_loadjob"

    def writer(self, schema, overwrite: bool) -> LoadJobWriter:
        return LoadJobWriter(dict(self.options), schema)


class EpochLoadJobStreamWriter(DataSourceStreamWriter):
    """Streaming twin of ``LoadJobWriter``: one load-job commit PER
    MICRO-BATCH.  Tasks stage parts under ``_staging/epoch=<batchId>``;
    ``commit(messages, batchId)`` moves them into ``epoch=<batchId>``,
    replacing that directory's other files, and appends a line to
    ``_EPOCHS.jsonl`` (batchId, files, rows).  A REPLAYED epoch (failure
    between publish and Spark's checkpoint commit) supersedes the killed
    attempt's manifest and replaces its ``epoch=<id>`` files instead of
    duplicating them — idempotent epoch publication + checkpointed source
    offsets = end-to-end exactly-once, the contract migbq approximated
    with load-job retries.  The epoch names the job because Spark builds
    a fresh writer for every commit; tasks read it from the micro-batch's
    ``streaming.sql.batchId`` local property."""

    def __init__(self, options: dict, schema):
        self.dest = options["path"]
        self.cols = [f.name for f in schema.fields]
        # failure injection for the crash-replay test: the FIRST write
        # call that sees this path absent creates it and dies AFTER
        # staging its part — simulating a task lost between staging and
        # commit; every later attempt/run proceeds normally
        self.fail_once_path = options.get("fail_once_path")

    def write(self, iterator):
        import os

        from pyspark import TaskContext

        batch = TaskContext.get().getLocalProperty("streaming.sql.batchId")
        staging = commit.stage_dir(self.dest, f"epoch={batch}")
        msg = _stage_part(staging, self.cols, iterator)
        if self.fail_once_path:
            try:
                fd = os.open(
                    self.fail_once_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.close(fd)
                raise RuntimeError(
                    "injected task failure after staging (crash-replay test)"
                )
            except FileExistsError:
                pass  # already failed once: proceed normally
        return msg

    def _append_receipt(self, receipt: dict) -> None:
        """Commit's ``done``; readers take a batch id's last line."""
        import json
        import os

        with open(os.path.join(self.dest, "_EPOCHS.jsonl"), "a") as fh:
            fh.write(json.dumps(receipt, sort_keys=True) + "\n")

    def commit(self, messages, batchId: int):
        import os

        epoch = f"epoch={batchId}"
        epoch_dir = os.path.join(self.dest, epoch)
        old = os.listdir(epoch_dir) if os.path.isdir(epoch_dir) else []
        parts = [m for m in messages if m is not None]
        receipt = {
            "batch_id": batchId,
            "n_files": len(parts),
            "n_rows": sum(m.n_rows for m in parts),
        }
        moves = [(m.filename, f"{epoch}/{m.filename}") for m in parts]
        replaces = [f"{epoch}/{f}" for f in old]
        commit.commit(self.dest, epoch, moves, replaces, receipt, self._append_receipt)

    def abort(self, messages, batchId: int):
        commit.abort(self.dest, f"epoch={batchId}")


class EpochLoadJobStreamDataSource(DataSource):
    """``sdf.writeStream.format("migbq_loadjob_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "migbq_loadjob_stream"

    def streamWriter(self, schema, overwrite: bool) -> EpochLoadJobStreamWriter:
        return EpochLoadJobStreamWriter(dict(self.options), schema)


def _pickle_self_by_value() -> None:
    """Ship this module BY VALUE inside cloudpickle payloads: the data
    source is unpickled in Spark-launched Python runners (driver-side
    for streaming offset management, workers for reads) that may not
    have this repo on sys.path — an externally-built session can't be
    given PYTHONPATH after its JVM is up, and addPyFile only reaches
    task workers.  By-value pickling embeds the class code itself, so
    no import is needed on the other side."""
    try:
        import sys as _sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(_sys.modules[__name__])
        cloudpickle.register_pickle_by_value(commit)
    except Exception:
        pass  # older cloudpickle: fall back to by-reference + PYTHONPATH


def register_sources(spark) -> None:
    """Register this module's four data sources on ``spark`` once:
    ``migbq_pkrange``, ``migbq_pkrange_stream``, ``migbq_loadjob`` and
    ``migbq_loadjob_stream``.  The session is marked after the first
    call, so a later call neither pickles the module again nor makes
    Spark replace (and warn about) a registered source."""
    if getattr(spark, "_migbq_sources_registered", False):
        return
    _pickle_self_by_value()
    for ds in (
        PkRangeDataSource,
        PkRangeStreamDataSource,
        LoadJobSinkDataSource,
        EpochLoadJobStreamDataSource,
    ):
        try:
            spark.dataSource.register(ds)
        except AnalysisException as e:
            # Spark refuses a name that the active session already holds
            # (its lookups resolve the name through that session).
            if e.getCondition() != "DATA_SOURCE_ALREADY_EXISTS":
                raise
    spark._migbq_sources_registered = True
