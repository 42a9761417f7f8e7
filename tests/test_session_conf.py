"""Session-construction conf merging: deployment-supplied JVM options
(spark-defaults.conf, caller extra_conf) must survive alongside the
engine's code-cache flags instead of being clobbered — on a real cluster
those carry GC tuning and -D props the operator depends on."""

from __future__ import annotations

import os

from aind_hcr_data_transformation_spark.session import (
    _CODE_CACHE_FLAGS,
    _PACKAGE_PARENT,
    _defaults_conf_value,
    _merged_java_options,
    _merged_worker_pythonpath,
    _python_worker_confs,
)


def test_merge_without_deployment_options():
    assert _merged_java_options("driver", None) == _CODE_CACHE_FLAGS


def test_merge_keeps_caller_extra_conf_flags_last():
    user = "-XX:+UseG1GC -Dapp.env=prod"
    merged = _merged_java_options(
        "executor", {"spark.executor.extraJavaOptions": user}
    )
    assert merged.startswith(_CODE_CACHE_FLAGS)
    # user flags LAST: for repeated -XX flags the JVM honors the final
    # occurrence, so operator overrides of the same flag win
    assert merged.endswith(user)


def test_merge_reads_spark_defaults_conf(tmp_path, monkeypatch):
    conf = tmp_path / "spark-defaults.conf"
    conf.write_text(
        "# comment\n"
        "spark.driver.extraJavaOptions  -XX:MaxGCPauseMillis=200\n"
        "spark.executor.memory 8g\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert (
        _defaults_conf_value("spark.driver.extraJavaOptions")
        == "-XX:MaxGCPauseMillis=200"
    )
    assert _defaults_conf_value("spark.executor.extraJavaOptions") is None
    merged = _merged_java_options("driver", None)
    assert merged == f"{_CODE_CACHE_FLAGS} -XX:MaxGCPauseMillis=200"


def test_defaults_conf_missing_dir(monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", "/nonexistent-conf-dir")
    assert _defaults_conf_value("spark.driver.extraJavaOptions") is None


def test_merge_combines_defaults_and_caller(tmp_path, monkeypatch):
    conf = tmp_path / "spark-defaults.conf"
    conf.write_text("spark.driver.extraJavaOptions -Da=1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    merged = _merged_java_options(
        "driver", {"spark.driver.extraJavaOptions": "-Db=2"}
    )
    assert merged == f"{_CODE_CACHE_FLAGS} -Da=1 -Db=2"


def test_local_master_runs_engine_daemon(monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", "/nonexistent-conf-dir")
    confs = _python_worker_confs("local[4]", None)
    assert confs["spark.python.daemon.module"] == (
        "aind_hcr_data_transformation_spark.pydaemon"
    )
    assert confs["spark.executorEnv.PYTHONPATH"] == _PACKAGE_PARENT


def test_non_local_master_keeps_pyspark_daemon():
    assert _python_worker_confs("spark://host:7077", None) == {}
    assert _python_worker_confs(None, None) == {}


def test_worker_pythonpath_keeps_caller_entries(tmp_path, monkeypatch):
    conf = tmp_path / "spark-defaults.conf"
    conf.write_text("spark.executorEnv.PYTHONPATH /deploy/lib\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    caller = os.pathsep.join(["/app/src", _PACKAGE_PARENT, "/deploy/lib"])
    merged = _merged_worker_pythonpath({"spark.executorEnv.PYTHONPATH": caller})
    assert merged.split(os.pathsep) == [_PACKAGE_PARENT, "/deploy/lib", "/app/src"]
