"""SkewPlanner decision table, without Spark: which batches probe
(carry() is None), which carry a decision, and how results feed back."""

import pytest

from mysql_syncer_spark.config import TableConfig
from mysql_syncer_spark.operators.skew import SkewPlanner


def _cfg(policy: str) -> TableConfig:
    return TableConfig(name="web.pages", skew_probe=policy, salt_reprobe_delta=0.10)


def _probed(share: float, salted: bool) -> dict:
    return {"skipped": False, "skew_probed": True, "dup_share": share,
            "salted_merge": salted}


def _carried(share: float, salted: bool = False) -> dict:
    return {"skipped": False, "skew_probed": False, "dup_share": share,
            "salted_merge": salted}


SKIPPED = {"batch_id": "fileseq-0", "skipped": True, "reason": "already committed"}


def test_auto_probes_first_then_carries_until_the_signal_moves():
    p = SkewPlanner(_cfg("auto"))
    assert p.carry() is None  # first batch probes
    p.observe(_probed(0.20, salted=False))
    assert p.carry() is False  # carried
    p.observe(_carried(0.25))  # moved 0.05 <= delta: still carried
    assert p.carry() is False
    p.observe(_carried(0.45))  # moved 0.25 > delta since the last probe
    assert p.carry() is None  # re-probe
    p.observe(_probed(0.45, salted=True))
    assert p.carry() is True  # the new decision carries
    p.observe(_carried(0.50, salted=True))
    assert p.carry() is True  # measured from the NEW probe share


def test_auto_requests_one_probe_while_it_is_in_flight():
    """Pipelined submit order: batches submitted before the requested
    probe's result is observed run on the carried decision."""
    p = SkewPlanner(_cfg("auto"))
    assert p.carry() is None
    assert p.carry() is False  # first probe still in flight
    assert p.carry() is False
    p.observe(_probed(0.10, salted=True))
    p.observe(_carried(0.10, salted=False))  # in-flight carried batches
    p.observe(_carried(0.60, salted=False))  # ... whose share moved
    assert p.carry() is None  # one re-probe
    assert p.carry() is True  # still in flight: carry the last decision
    p.observe(_probed(0.60, salted=False))
    assert p.carry() is False


def test_skipped_batch_releases_its_requested_probe():
    p = SkewPlanner(_cfg("auto"))
    assert p.carry() is None
    p.observe(SKIPPED)  # already committed: no probe ran
    assert p.carry() is None  # so the next batch asks again
    p.observe(_probed(0.0, salted=False))
    p.observe(_carried(0.5))
    assert p.carry() is None  # a re-probe request ...
    p.observe(SKIPPED)  # ... released by a skipped batch
    assert p.carry() is None


def test_skipped_batch_does_not_move_the_signal():
    p = SkewPlanner(_cfg("auto"))
    p.carry()
    p.observe(_probed(0.30, salted=True))
    p.observe(SKIPPED)
    assert p.carry() is True


@pytest.mark.parametrize("policy,expected", [("always", None), ("never", False)])
def test_fixed_policies_ignore_the_signal(policy, expected):
    p = SkewPlanner(_cfg(policy))
    for share in (0.0, 0.9, 0.0):
        assert p.carry() is expected
        p.observe(_carried(share))
    assert p.carry() is expected


@pytest.mark.parametrize(
    "policy,carried,expected",
    [
        ("auto", None, None),
        ("auto", True, True),
        ("auto", False, False),
        ("always", True, None),  # always probes, even over a carry
        ("always", None, None),
        ("never", None, False),  # never probes
        ("never", True, True),
    ],
)
def test_resolve_single_batch(policy, carried, expected):
    assert SkewPlanner.resolve(_cfg(policy), carried) is expected
