"""The session factory never silently drops a caller's configuration."""

from __future__ import annotations

import os
import warnings

import pytest

from os___mapreduceframework_spark.session import get_session, start_up_conf

DAEMON = "os___mapreduceframework_spark.worker_daemon"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_caller_java_options_join_the_factory_ones():
    conf = start_up_conf({"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
    assert conf["spark.driver.extraJavaOptions"] == (
        "-XX:+ExplicitGCInvokesConcurrent -Dgraft.probe=1"
    )


def test_caller_worker_pythonpath_joins_the_checkout_root():
    conf = start_up_conf({"spark.executorEnv.PYTHONPATH": "/srv/libs"})
    assert conf["spark.executorEnv.PYTHONPATH"] == f"/srv/libs{os.pathsep}{ROOT}"
    assert start_up_conf()["spark.executorEnv.PYTHONPATH"] == ROOT


def test_caller_daemon_module_wins():
    assert start_up_conf()["spark.python.daemon.module"] == DAEMON
    conf = start_up_conf({"spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"


def test_factory_settings_reach_the_running_context(spark):
    running = spark.sparkContext.getConf()
    for k, v in start_up_conf().items():
        assert running.get(k).endswith(v), k


def test_reused_context_warns_about_start_up_settings_it_ignored(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        get_session(app_name="tests", parallelism=4)  # same settings: silent
    with pytest.warns(RuntimeWarning) as caught:
        get_session(
            app_name="tests",
            parallelism=4,
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.python.daemon.module": "pyspark.daemon",
            },
        )
    (msg,) = [str(w.message) for w in caught if "did not take effect" in str(w.message)]
    assert msg.endswith("spark.driver.memory, spark.python.daemon.module")
