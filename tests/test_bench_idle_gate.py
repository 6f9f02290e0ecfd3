"""The bench's idle gate, without Spark: neighbouring canary samples must
agree AND sit within a stated factor of the reference magnitude."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import CANARY_REF_SEC, IDLE_GATE_MAX_RATIO, idle_gate_check  # noqa: E402

REF = CANARY_REF_SEC["jvm"] + CANARY_REF_SEC["py"]


def test_agreeing_samples_at_reference_speed_pass():
    gate = idle_gate_check([2.0 * REF, 1.0 * REF, 1.02 * REF])
    assert gate["ok"]
    assert gate["max_ratio"] == IDLE_GATE_MAX_RATIO
    assert gate["ref_sec"] == round(REF, 3)


def test_agreeing_but_slow_samples_fail():
    slow = 2 * IDLE_GATE_MAX_RATIO * REF
    assert not idle_gate_check([slow, slow * 1.01])["ok"]


def test_scattered_samples_fail():
    assert not idle_gate_check([REF, 1.5 * REF, REF, 1.5 * REF])["ok"]
