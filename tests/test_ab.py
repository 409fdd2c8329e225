"""tools/ab.py: the interleaved A/B summary over canned result lines
(no Spark, no benchmark run)."""

from __future__ import annotations

import importlib.util
import json

from conftest import REPO_ROOT

_spec = importlib.util.spec_from_file_location("ab", REPO_ROOT / "tools" / "ab.py")
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [
    {"name": "op_cpu_s", "unit": "s", "better": "lower"},
    {"name": "answer_quality", "unit": "frac", "better": "higher"},
]


def _line(cpu: float, quality: float = 1.0, correct: bool = True) -> str:
    return "perfbench: noise on stdout\n" + json.dumps(
        {
            "correct": correct,
            "attempted": 1,
            "failed": 0 if correct else 1,
            "metrics": {
                "op_cpu_s": {"value": cpu, "unit": "s"},
                "answer_quality": {"value": quality, "unit": "frac"},
            },
        }
    )


def test_parse_seeds_and_result_lines():
    assert ab.parse_seeds("101-103,107") == [101, 102, 103, 107]
    assert ab.parse_seeds("5") == [5]
    assert ab.parse_result(_line(2.5))["metrics"]["op_cpu_s"]["value"] == 2.5
    assert ab.parse_result("") is None
    assert ab.parse_result("Traceback (most recent call last):") is None


def test_run_order_puts_every_side_in_every_slot():
    """Each block of 2·n pairs runs every side in every slot equally
    often, so no side (the change included) keeps a fixed position."""
    for sides in (ab.SIDES[:2], ab.SIDES):
        n = len(sides)
        orders = [ab.run_order(sides, i) for i in range(2 * n)]
        assert all(sorted(o) == sorted(sides) for o in orders)
        for side in sides:
            slots = [o.index(side) for o in orders]
            assert sorted(slots) == sorted(list(range(n)) * 2), (side, slots)
    assert len(set(ab.run_order(ab.SIDES, i) for i in range(6))) == 6
    assert ab.run_order(ab.SIDES[:2], 0) == ("parent", "change")
    assert ab.run_order(ab.SIDES[:2], 1) == ("change", "parent")


def test_summary_claims_a_gain_only_past_the_parent_spread():
    parent = [14.0, 15.0, 13.5, 14.5, 16.0, 14.2, 13.9, 15.1, 14.8, 14.4]
    change = [p * 0.8 for p in parent[:9]] + [parent[9]]  # one tie
    pairs = [
        (101 + i, ab.parse_result(_line(p)), ab.parse_result(_line(c)))
        for i, (p, c) in enumerate(zip(parent, change))
    ]
    report, ok = ab.summarize(METRICS, pairs)
    text = "\n".join(report)
    assert ok
    cpu = text[text.index("op_cpu_s") : text.index("answer_quality")]
    assert "change wins 9, ties 1, losses 0 of 10" in cpu
    q1, med, q3 = ab.quartiles(parent)
    assert f"parent median {med:.4f} (q1 {q1:.4f}, q3 {q3:.4f})" in cpu
    assert "exceeds" in cpu and "gain: yes" in cpu
    quality = text[text.index("answer_quality") :]
    assert "change wins 0, ties 10, losses 0 of 10" in quality
    assert "within" in quality and "gain: no" in quality

    # a 2% cut inside the parent's own spread wins every pair but is no gain
    pairs = [
        (101 + i, ab.parse_result(_line(p)), ab.parse_result(_line(p * 0.98)))
        for i, p in enumerate(parent)
    ]
    cpu = "\n".join(ab.summarize(METRICS[:1], pairs)[0])
    assert "change wins 10, ties 0, losses 0 of 10" in cpu
    assert "within" in cpu and "gain: no" in cpu


def test_summary_flags_an_incorrect_run():
    pairs = [(1, ab.parse_result(_line(1.0)), ab.parse_result(_line(0.5, correct=False)))]
    report, ok = ab.summarize(METRICS, pairs)
    assert not ok
    assert "change: 1 runs, 1 failed operations" in report


def test_summary_reports_the_control_beside_the_change():
    """An A/A control (a second checkout of the parent's code) reports
    its own wins and losses against the parent for every metric, beside
    the change's, and never decides the change's gain."""
    parent = [14.0, 15.0, 13.5, 14.5, 16.0, 14.2, 13.9, 15.1, 14.8, 14.4]
    change = [p * 0.8 for p in parent]
    control = [p + (0.5 if i < 8 else -0.5) for i, p in enumerate(parent)]
    pairs = [
        (101 + i, *(ab.parse_result(_line(v)) for v in (p, c, k)))
        for i, (p, c, k) in enumerate(zip(parent, change, control))
    ]
    report, ok = ab.summarize(METRICS, pairs)
    text = "\n".join(report)
    assert ok
    assert "control: 10 runs, 0 failed operations" in report
    cpu = text[text.index("op_cpu_s") : text.index("answer_quality")]
    assert "change wins 10, ties 0, losses 0 of 10" in cpu
    assert "control wins 2, ties 0, losses 8 of 10" in cpu
    gap = ab.quartiles(parent)[1] - ab.quartiles(control)[1]
    assert f"control median gap {gap:+.4f}" in cpu and "gain: yes" in cpu
    row = next(ln for ln in cpu.splitlines() if ln.startswith("  101 "))
    assert row.split() == ["101", "14.0000", "11.2000", "14.5000", "win", "/", "loss"]
    quality = text[text.index("answer_quality") :]
    assert "control wins 0, ties 10, losses 0 of 10" in quality

    # an incorrect control run fails the report like any other run
    pairs[0] = (101, pairs[0][1], pairs[0][2], ab.parse_result(_line(14.0, correct=False)))
    assert not ab.summarize(METRICS, pairs)[1]
