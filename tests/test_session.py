"""Session settings: the driver JVM's flags and what the live JVM got."""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest

from ting_data_etl_spark.session import driver_java_options

C1_ONLY = "-XX:TieredStopAtLevel=1"


def test_batch_profile_compiles_with_c1_only(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    opts = driver_java_options().split()
    assert C1_ONLY in opts
    assert opts.index("-XX:+ExplicitGCInvokesConcurrent") < opts.index(C1_ONLY)


def test_long_lived_keeps_tiered_c2(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    opts = driver_java_options(long_lived=True)
    assert "TieredStopAtLevel" not in opts
    assert opts == "-XX:+ExplicitGCInvokesConcurrent"


@pytest.mark.parametrize("long_lived", [False, True])
def test_user_opts_come_last(monkeypatch, long_lived):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:TieredStopAtLevel=4")
    opts = driver_java_options(long_lived).split()
    assert opts[-1] == "-XX:TieredStopAtLevel=4"


def _java() -> str | None:
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java")


def test_last_repeated_jit_flag_wins():
    """The override rests on the JVM keeping the last of a repeated flag."""
    java = _java()
    if java is None:
        pytest.skip("no java launcher")
    out = subprocess.run(
        [java, C1_ONLY, "-XX:TieredStopAtLevel=4", "-XX:+PrintFlagsFinal",
         "-version"],
        capture_output=True, text=True, check=True, timeout=60,
    ).stdout
    line = next(ln for ln in out.splitlines() if " TieredStopAtLevel " in ln)
    assert line.split("=")[1].split()[0] == "4"


def test_session_jvm_started_with_the_long_lived_profile(spark):
    """The suite's session asks for long_lived=True: its JVM got that
    profile's flags, in order, and no C1-only cap of its own."""
    jvm = spark.sparkContext._jvm
    args = list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    want = driver_java_options(long_lived=True).split()
    assert [a for a in args if a in want] == want, args
    if "TieredStopAtLevel" not in os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", ""
    ):
        assert not any(a.startswith("-XX:TieredStopAtLevel=") for a in args)


def test_exprcache_rebuilds_for_a_new_gateway(monkeypatch):
    """Cached Columns hold py4j handles into one JVM: a relaunched gateway
    must miss and build new Columns, and the old one keeps its entry."""
    from ting_data_etl_spark import exprcache

    builds = []

    def build():
        builds.append(1)
        return object()

    key = ("test_exprcache_gateway",)
    monkeypatch.setattr(exprcache, "_gateway_token", lambda: ("gw", 1))
    first = exprcache.cached_exprs(key, build)
    assert exprcache.cached_exprs(key, build) is first
    assert len(builds) == 1
    monkeypatch.setattr(exprcache, "_gateway_token", lambda: ("gw", 2))
    second = exprcache.cached_exprs(key, build)
    assert second is not first
    assert len(builds) == 2
    monkeypatch.setattr(exprcache, "_gateway_token", lambda: ("gw", 1))
    assert exprcache.cached_exprs(key, build) is first
