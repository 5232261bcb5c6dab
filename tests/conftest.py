import functools
import glob
import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_data_science_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # AQE off + tiny shuffle-partition count: the fixtures are <100 rows and
    # AQE's per-stage re-planning dominates superstep latency (measured 2×).
    # Production posture (AQE on, partitions ~ cores) is exercised by bench.py.
    s = get_spark(
        app_name="gds-spark-tests",
        master="local[4]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    yield s


def rows_to_dict(df, key, value):
    return {r[key]: r[value] for r in df.collect()}


@pytest.fixture
def count_calls(monkeypatch):
    """Every ``DataFrame.count`` call made while the fixture is live."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    orig = DataFrame.count

    def spy(self):
        calls.append(self)
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    return calls


def scratch_dirs():
    """The ``Scratch`` directories currently in the temp dir; a loop that
    cleans up after itself leaves this set as it found it."""
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "gds_scratch_*")))


def both_tiers(test):
    """Run ``test`` once per size tier of the kernels with a driver-local
    plan: ``"local"`` (that plan) and ``"memory"`` (the distributed join
    plan on small input). The test keeps its name; a failure names the
    tier."""
    from graph_data_science_spark.plans.loop_state import pinned_tier

    @functools.wraps(test)
    def run(*args, **kwargs):
        for t in ("local", "memory"):
            with pinned_tier(t):
                try:
                    test(*args, **kwargs)
                except AssertionError as e:
                    e.add_note(f"tier: {t}")
                    raise
    return run
