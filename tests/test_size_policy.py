"""The engine's one size policy (plans/loop_state.py): ``tier`` and its
override ``pinned_tier``."""

import pytest

from graph_data_science_spark.plans.loop_state import (
    LARGE_STATE_ROWS, pinned_tier, tier)


def test_tier_boundaries():
    assert tier(None) == "parquet"
    assert tier(0) == "local"
    assert tier(LARGE_STATE_ROWS - 1) == "local"
    assert tier(LARGE_STATE_ROWS) == "parquet"


def test_pinned_tier_nests_and_restores():
    with pinned_tier("memory"):
        assert tier(None) == tier(0) == "memory"
        with pinned_tier("parquet"):
            assert tier(0) == "parquet"
        assert tier(LARGE_STATE_ROWS) == "memory"
    assert tier(0) == "local"


def test_pinned_tier_restored_when_block_raises():
    with pytest.raises(RuntimeError):
        with pinned_tier("local"):
            raise RuntimeError("boom")
    assert tier(None) == "parquet"


def test_pinned_tier_rejects_unknown_tier():
    with pytest.raises(ValueError):
        with pinned_tier("disk"):
            pass
