"""get_spark's session-level confs: JVM options on driver and executors,
and PySpark call-site capture off."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled

from datafusion_cyberpolka_eda_spark.session import JVM_OPTS, driver_java_opts


def test_session_confs(spark):
    conf = spark.sparkContext.getConf()
    # Spark prepends its own default module options to both
    assert conf.get("spark.driver.extraJavaOptions").endswith(driver_java_opts())
    assert conf.get("spark.executor.extraJavaOptions").endswith(JVM_OPTS)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_driver_java_opts_append(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    assert driver_java_opts() == JVM_OPTS
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "  ")
    assert driver_java_opts() == JVM_OPTS
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xss8m -XX:+UseG1GC")
    assert driver_java_opts() == f"{JVM_OPTS} -Xss8m -XX:+UseG1GC"
