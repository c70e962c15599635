"""The driver-verification window must equal the generated plan.

registry._PRIORITY is GENERATED by tools/window_plan.py (never-external
queries first, then oldest most-recent-external-round, ties by
registration order, take 50). Two consecutive rounds (r8, r9) contained
a hand-arithmetic slip in the cohort counts; this test makes drift
impossible: the committed list must byte-match the rule applied to the
artifact set it was generated from (pinned via max_round so the test
stays green after the driver writes the NEXT round's artifact).

When rotating the window for round N+1, regenerate _PRIORITY with
`python tools/window_plan.py` and bump PINNED_ROUND to N.
"""

import os
import sys

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
    ),
)

from window_plan import compute_plan  # noqa: E402

from funding_monitoring_spark import registry  # noqa: E402

PINNED_ROUND = 14  # artifacts CORRECTNESS_r01..r14 produced this window


def test_priority_matches_generated_plan():
    plan = compute_plan(max_round=PINNED_ROUND)
    assert registry._PRIORITY == plan["window"]


def test_priority_window_shape():
    registry._load_all()
    assert len(registry._PRIORITY) == 50
    assert len(set(registry._PRIORITY)) == 50
    missing = [q for q in registry._PRIORITY if q not in registry._QUERIES]
    assert missing == []


def test_ordered_puts_window_first():
    qs = registry.queries()
    assert list(qs)[:50] == registry._PRIORITY
