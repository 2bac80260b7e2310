"""The session factory's machine-derived JVM options.

The JIT compiler pool follows the engine's width (``local[cpus]``), and
JVM options from the engine, the factory and the caller are merged in
that order rather than replacing each other.
"""

from __future__ import annotations

import os
import re
import types

import pytest

from rt_bigdata_spark import session

JAVA_OPTS = "spark.driver.extraJavaOptions"


def test_jit_compiler_pool_follows_cpus(spark):
    # Read the effective value, not the command line: Spark appends
    # -XX:+IgnoreUnrecognizedVMOptions, so a misspelt flag would still
    # show up in getInputArguments() while changing nothing.
    cpus = int(re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master).group(1))
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    opt = bean.getVMOption("CICompilerCount")
    assert (opt.getValue(), opt.getOrigin().toString()) == (str(max(2, cpus // 2)), "VM_CREATION")


class _Builder:
    """Stands in for SparkSession.builder: records the conf, launches no JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def enableHiveSupport(self):
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def recorded(monkeypatch):
    """Route the factories to a recording builder."""
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=_Builder()))


@pytest.mark.parametrize("cpus, pool", [(1, 2), (4, 2), (5, 2), (16, 8)])
def test_jit_pool_is_half_the_cores_at_least_two(recorded, monkeypatch, cpus, pool):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    conf = session.get_spark()
    assert conf["master"] == f"local[{cpus}]"
    assert conf[JAVA_OPTS] == f"-XX:CICompilerCount={pool}"


def test_java_options_merge_with_the_callers_last(recorded, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    conf = session.get_hive_spark(str(tmp_path), extra_conf={JAVA_OPTS: "-XX:CICompilerCount=3 -Dcaller=1"})
    assert conf[JAVA_OPTS].split() == [
        "-XX:CICompilerCount=2",
        f"-Dderby.system.home={os.path.join(tmp_path, 'derby')}",
        "-XX:CICompilerCount=3",
        "-Dcaller=1",
    ]
