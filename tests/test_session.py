"""The engine session's JVM defaults."""


def test_driver_jvm_runs_c1_only(spark):
    """get_spark launches the driver JVM with C1-only tiering (see the
    comment in session.get_spark for why)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert "-XX:TieredStopAtLevel=1" in list(mx.getRuntimeMXBean().getInputArguments())
