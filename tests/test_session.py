"""The engine session's JVM flags and per-session registrations."""

from __future__ import annotations

from migbq_spark.session import DRIVER_JAVA_OPTIONS, session_builder


def _vm_option(spark, name: str) -> str:
    """The live value of HotSpot flag ``name`` in the session's JVM."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def test_session_jvm_runs_the_engine_flags(spark):
    assert _vm_option(spark, "Tier4InvocationThreshold") == "15000"
    assert _vm_option(spark, "Tier4BackEdgeThreshold") == "120000"
    assert _vm_option(spark, "ThreadStackSize") == "4096"  # KB


def test_builder_sets_default_not_extra_java_options():
    options = session_builder("flags")._options
    assert options["spark.driver.defaultJavaOptions"] == DRIVER_JAVA_OPTIONS
    assert "spark.driver.extraJavaOptions" not in options


def test_derby_values_insert_of_3000_rows_fits_the_gateway_stack(spark):
    """Derby's parser recurses once per row of a VALUES list; on the
    default 1 MB thread stack this insert raises StackOverflowError."""
    jvm = spark._jvm
    url = "jdbc:derby:memory:stack_probe"
    conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    try:
        st = conn.createStatement()
        st.execute("CREATE TABLE t (k BIGINT, v VARCHAR(16))")
        values = ",".join(f"({i}, 'v{i}')" for i in range(3000))
        st.execute(f"INSERT INTO t VALUES {values}")
        assert st.getUpdateCount() == 3000
        st.close()
    finally:
        conn.close()
        try:
            jvm.java.sql.DriverManager.getConnection(url + ";drop=true")
        except Exception:
            pass  # Derby reports a successful drop as an SQLException


def test_register_sources_registers_once_per_session(spark, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    from migbq_spark.pkrange_source import register_sources

    register_sources(spark)  # the active session holds the four names
    names = []
    register = DataSourceRegistration.register

    def counting(self, ds):
        names.append(ds.name())
        return register(self, ds)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    session = spark.newSession()
    register_sources(session)
    register_sources(session)
    assert sorted(names) == [
        "migbq_loadjob", "migbq_loadjob_stream", "migbq_pkrange", "migbq_pkrange_stream",
    ]
