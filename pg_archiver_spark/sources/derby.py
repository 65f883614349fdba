"""Embedded Apache Derby backing for the JDBC source path.

PySpark ships the Derby engine in its own classpath (derby-10.16.1.1
under pyspark/jars — it backs the Hive metastore default), which makes a
real, in-process JDBC database available in every environment with no
install. Staging the events fixture into `jdbc:derby:memory:` lets
`source_jdbc` exercise the ACTUAL ``spark.read.format("jdbc")`` branch —
pushdown, range-partitioned parallel cursors, live DELETE round-trips
(reference main.go:88-145) — instead of the parquet fallback that ran
whenever no external Postgres was configured.

Scope note: `derby:memory:` lives inside the driver/executor JVM, so
this backend is a single-JVM harness (local mode, tests, CI). A real
deployment points PG_ARCHIVER_JDBC_URL at an external database and none
of this module runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from pg_archiver_spark.catalog import load

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# Staged fixture tables: (sf_dir, table) -> in-memory database name.
# One write per (process, sf_dir); the DB lives for the JVM lifetime.
_STAGED: dict[tuple[str, str], str] = {}

# JDBC-friendly projection of the events fixture (payload stays behind:
# Derby maps StringType to CLOB, which the range-partitioned reader
# round-trips fine but nothing in the extraction shape needs).
_EVENT_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value")


_FRESH_SEQ = iter(range(1_000_000_000))


def stage_frame(spark: SparkSession, df, table: str) -> str:
    """Write an arbitrary DataFrame into a FRESH in-memory Derby
    database (unique name — callers that mutate the table afterwards
    must not share the memoized fixture staging). Returns the URL."""
    db = f"pgarch_fresh_{os.getpid()}_{next(_FRESH_SEQ)}"
    url = f"jdbc:derby:memory:{db}"
    (
        df.write.format("jdbc")
        .option("url", f"{url};create=true")
        .option("dbtable", table)
        .option("driver", DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )
    return url


def stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Write the events fixture into an in-memory Derby table once per
    (process, sf_dir); returns the JDBC URL of the staged database."""
    key = (sf_dir, "events")
    db = _STAGED.get(key)
    if db is None:
        db = f"pgarch_{os.getpid()}_{len(_STAGED)}"
        df = load(spark, sf_dir, "events").select(*_EVENT_COLUMNS)
        (
            df.write.format("jdbc")
            .option("url", f"jdbc:derby:memory:{db};create=true")
            .option("dbtable", "events")
            .option("driver", DERBY_DRIVER)
            .mode("overwrite")
            .save()
        )
        _STAGED[key] = db
    return f"jdbc:derby:memory:{db}"


class DerbyCursor:
    """DB-API-shaped cursor over a driver-side ``java.sql`` connection.

    Implements exactly the surface the ``sources.jdbc`` delete kernels
    use: ``execute(sql, params)`` with positional ``?`` placeholders and
    a ``rowcount`` attribute. Parameters bind via ``setObject`` on a
    PreparedStatement — a live prepared round-trip, not string splicing.
    """

    def __init__(self, jconn) -> None:
        self._jconn = jconn
        self.rowcount = -1

    def execute(self, sql: str, params=None) -> None:
        st = self._jconn.prepareStatement(sql)
        try:
            for i, v in enumerate(params or ()):
                st.setObject(i + 1, v)
            self.rowcount = st.executeUpdate()
        finally:
            st.close()


class DerbyConnection:
    """DB-API-shaped connection wrapping driver-side ``java.sql``."""

    def __init__(self, jconn) -> None:
        self._jconn = jconn

    def cursor(self) -> DerbyCursor:
        return DerbyCursor(self._jconn)

    def commit(self) -> None:
        self._jconn.commit()

    def close(self) -> None:
        self._jconn.close()


def connection_factory(spark: SparkSession, url: str):
    """A ``delete_archived``-compatible factory for an embedded Derby URL.

    The returned connection wraps a py4j ``java.sql.Connection``, which
    cannot be pickled to executors — so the factory is marked
    ``driver_side`` and ``delete_archived`` deletes from the driver
    (key runs collected, or keys streamed for non-integer keys) instead
    of ``mapPartitions`` (the single-writer shape an embedded database
    implies anyway).
    """

    def factory():
        jconn = spark._jvm.java.sql.DriverManager.getConnection(url)
        jconn.setAutoCommit(False)
        return DerbyConnection(jconn)

    factory.driver_side = True
    return factory
