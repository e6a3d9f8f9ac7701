"""Registry rotation: red → unchecked → RE_GRADE_HEAD → green
oldest-checked-first, with ties ordered by query name. No Spark session
needed — ``_driver_history`` is monkeypatched."""

from __future__ import annotations

import map_reduce_implementation_spark.suite as suite


def test_rotation_tiers_and_tie_break(monkeypatch):
    monkeypatch.setattr(suite, "_driver_history", lambda: (set(), set(), {}))
    merge = list(suite.all_queries())  # every entry unchecked: name order
    assert merge == sorted(merge)
    plain = [n for n in merge if n not in suite.RE_GRADE_HEAD]
    # a re-grade head whose last check failed stays in the red tier
    red_head = suite.RE_GRADE_HEAD[-1]
    red = {plain[7], plain[2], red_head}
    unchecked = {plain[5], plain[0]}
    green = set(merge) - red - unchecked
    last = {n: 9 for n in green}
    # two old greens late in name order, plus one between them in round
    oldest, old_a, old_b = plain[-1], plain[-3], plain[-2]
    last.update({oldest: 2, old_a: 4, old_b: 4})
    monkeypatch.setattr(suite, "_driver_history", lambda: (green, red, last))

    got = list(suite.all_queries())
    assert sorted(got) == sorted(merge)
    reds = [n for n in merge if n in red]
    assert got[:3] == reds
    assert got[3:5] == [plain[0], plain[5]]
    heads = [n for n in suite.RE_GRADE_HEAD if n != red_head]
    assert got[5 : 5 + len(heads)] == heads
    tail = got[5 + len(heads) :]
    assert tail[:3] == [oldest, old_a, old_b]
    assert tail[3:] == [
        n for n in merge if last.get(n) == 9 and n not in suite.RE_GRADE_HEAD
    ]
