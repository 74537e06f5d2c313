"""Result checks and the churn delete plan (no Spark needed)."""

import numpy as np

from perfbench.workloads import SEGMENT, SEGMENTS, Churn, result_problems, rewritten_bytes


def rows(*triples):
    return [{"query_id": q, "gid": g, "rank": r} for q, g, r in triples]


def test_result_problems_flags_each_defect():
    ok = rows((0, 5, 1), (0, 6, 2), (1, 5, 1))
    assert result_problems(ok, k=2) == []
    assert "3 rows > k=2" in result_problems(rows((0, 1, 1), (0, 2, 2), (0, 3, 3)), k=2)[0]
    assert "duplicate" in result_problems(rows((0, 1, 1), (0, 1, 2)), k=2)[0]
    deleted = np.array([False, True, False])
    assert "deleted" in result_problems(rows((0, 1, 1)), k=2, deleted=deleted)[0]
    assert "unknown" in result_problems(rows((0, 7, 1)), k=2, deleted=deleted)[0]


def test_rewritten_bytes_counts_new_and_changed_files():
    before = {"a": (10, 1.0), "b": (20, 1.0)}
    after = {"a": (10, 1.0), "b": (25, 2.0), "c": (7, 2.0)}
    assert rewritten_bytes(before, after) == 32


def churn_model() -> Churn:
    """A Churn object with only its gid bookkeeping, as after set-up."""
    c = Churn.__new__(Churn)
    n = SEGMENT * SEGMENTS + SEGMENT // 2
    c.deleted = np.zeros(n, dtype=bool)
    c.full = [np.arange(i * SEGMENT, (i + 1) * SEGMENT) for i in range(SEGMENTS)]
    c.compacted = None
    return c


def test_churn_deletes_keep_compaction_under_planner_budget_and_live_count_level():
    c = churn_model()
    rng = np.random.default_rng(0)
    live_after = []
    for cycle in range(4):
        start = len(c.deleted)
        c.deleted = np.concatenate([c.deleted, np.zeros(SEGMENT, dtype=bool)])
        c.full.append(np.arange(start - SEGMENT // 2, start + SEGMENT // 2))
        doomed = c.pick_deletes(rng)
        assert not c.deleted[doomed].any()
        c.deleted[doomed] = True
        # both vacuumed sources hold 0.75 of a segment together: under
        # the compaction planner's 0.8 budget
        assert len(c.next_compacted) <= 0.8 * SEGMENT
        assert not c.deleted[c.next_compacted].any()
        c.compacted = c.next_compacted
        live_after.append(int((~c.deleted).sum()))
    # after the first cycle, rows deleted equal rows added
    assert max(live_after[1:]) - min(live_after[1:]) <= 2
