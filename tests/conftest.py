from __future__ import annotations

import contextlib
import os
import signal
import sys
import threading
from collections import Counter
from dataclasses import dataclass
from typing import Any

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
# The registry-wide guards (vacuity allowlist, plan shapes, output schemas,
# oracle output types) are triaged at this scale and ignore
# SPARK_GRAFT_TEST_SF_DIR: building a registry query runs Spark jobs, so a
# larger fixture would only make the suite slower.
GUARD_SF_DIR = "/root/testdata/sf0.001"

# Suite watchdog: one hung test must never eat the whole verification
# budget (round 4 lost its pytest gate to a single Observation.get
# deadlock that blocked forever). SIGALRM interrupts the main thread even
# inside blocking C calls (socket recv to the JVM, lock waits), turning an
# infinite hang into a normal test failure. No-op off the main thread or
# on platforms without SIGALRM; pytest-timeout is not in the container.
TEST_TIMEOUT_S = int(os.environ.get("SPARK_GRAFT_TEST_TIMEOUT", "600"))


@contextlib.contextmanager
def _watchdog(item):
    marker = item.get_closest_marker("timeout")
    limit = int(marker.args[0]) if marker and marker.args else TEST_TIMEOUT_S
    use_alarm = (
        limit > 0
        and hasattr(signal, "SIGALRM")
        and threading.current_thread() is threading.main_thread()
    )
    if not use_alarm:
        yield
        return

    def _on_timeout(signum, frame):
        raise TimeoutError(
            f"watchdog: test exceeded {limit}s "
            "(SPARK_GRAFT_TEST_TIMEOUT / @pytest.mark.timeout override)"
        )

    old = signal.signal(signal.SIGALRM, _on_timeout)
    signal.alarm(limit)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


# Setup is armed too: a session fixture (the Spark session, the registry
# record below) runs inside the setup of the first test that asks for it.
@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_setup(item):
    with _watchdog(item):
        yield


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    with _watchdog(item):
        yield


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "timeout(seconds): per-test watchdog override (conftest SIGALRM)"
    )


@pytest.fixture(scope="session")
def spark():
    from cl_tagger_batch_processing_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE_DIR


# --- the registry record: every query built once per session ---------------
#
# The registry-wide checks (non-vacuity, scale killers, unpartitioned
# windows, nested output columns, driver-window canonicalization) all read
# this one record instead of building the registry themselves. Whichever
# of them runs first pays for the whole build-and-collect, so each carries
# SWEEP_TIMEOUT_S (a parametrized check on its first case only).
SWEEP_TIMEOUT_S = 1500

# Query builds made by the registry_record fixture, by name.
REGISTRY_BUILDS: Counter[str] = Counter()


@dataclass(frozen=True)
class QueryRecord:
    df: Any  # the DataFrame, for checks that must run it again
    schema: Any
    plan: str | None  # executed plan read before the first action; None for stream_*
    rows: list


@pytest.fixture(scope="session")
def registry_record(spark) -> dict[str, QueryRecord]:
    """Every registry query, in registry order, built once at GUARD_SF_DIR.

    A stream_* query runs its stream while it is built, so no plan is read
    for it (its shapes are pinned by its own tests)."""
    from cl_tagger_batch_processing_spark.plans import inspect
    from cl_tagger_batch_processing_spark.registry import QUERIES

    record = {}
    for name, fn in QUERIES.items():
        df = fn(spark, GUARD_SF_DIR)
        REGISTRY_BUILDS[name] += 1
        plan = None if name.startswith("stream_") else inspect.executed_plan(df)
        record[name] = QueryRecord(df, df.schema, plan, df.collect())
    return record


def sweep_cases(names) -> list:
    """Parametrize values for a per-query check over the registry record:
    the first case may trigger the build, so it carries SWEEP_TIMEOUT_S."""
    first, *rest = names
    return [pytest.param(first, marks=pytest.mark.timeout(SWEEP_TIMEOUT_S)), *rest]
