"""The trickle-sync source: an embedded, in-memory Derby database inside
the Spark JVM, written through plain JDBC over py4j.

Loading rows this way costs one JDBC statement instead of a Spark job, so
the time between two ``sync()`` calls goes to the system under test.  The
table is laid out the way Spark's own JDBC writer creates one, with quoted
lower-case column names and an unquoted table name, so the forwarder's
bounds probe goes through the same identifier-quoting retries as on a
table a Spark job created.
"""

from __future__ import annotations

import pyarrow as pa

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

_DDL = ('CREATE TABLE events ("event_id" BIGINT, "ts" TIMESTAMP, "user_id" BIGINT, '
        '"event_type" VARCHAR(32), "value" DOUBLE, "props" VARCHAR(64))')


def _sql(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if hasattr(v, "isoformat"):  # datetime
        return f"TIMESTAMP('{v.isoformat(sep=' ', timespec='microseconds')}')"
    return repr(v)


class DerbyEvents:
    """One fresh in-memory database named ``name`` holding the ``events``
    table; ``url`` is what the forwarder's JDBC config points at."""

    def __init__(self, jvm, name: str):
        self.url = f"jdbc:derby:memory:{name}"
        self._conn = jvm.java.sql.DriverManager.getConnection(self.url + ";create=true")
        self._exec(_DDL)

    def _exec(self, sql: str) -> int:
        st = self._conn.createStatement()
        try:
            st.execute(sql)
            return st.getUpdateCount()
        finally:
            st.close()

    def insert(self, rows: pa.Table) -> None:
        """Append ``rows`` (the ``events`` columns) in one statement."""
        values = ",".join("(" + ",".join(map(_sql, r.values())) + ")" for r in rows.to_pylist())
        n = self._exec(f"INSERT INTO events VALUES {values}")
        if n != rows.num_rows:
            raise RuntimeError(f"inserted {n} of {rows.num_rows} rows")

    def close(self) -> None:
        self._conn.close()
