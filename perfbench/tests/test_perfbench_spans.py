"""Self time, job attribution, percentiles and coverage arithmetic."""

import pytest

from perfbench import layers
from perfbench.spans import (
    Span,
    Tracer,
    covered,
    inclusive_jobs,
    percentile,
    self_times,
)


def sp(id_, parent, start, end, jobs=0, name="x", layer="lake"):
    return Span(id=id_, name=name, layer=layer, parent=parent, key=None,
                start=start, end=end, jobs=jobs)


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(2, 6, [(0, 3), (5, 9)]) == 2


def test_self_time_subtracts_children_only():
    spans = [
        sp("a", None, 0.0, 10.0),
        sp("b", "a", 1.0, 4.0),
        sp("c", "b", 2.0, 3.0),  # grandchild: counts against b, not a
        sp("d", "a", 6.0, 7.5),
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10 - 3 - 1.5)
    assert st["b"] == pytest.approx(2.0)
    assert st["c"] == st["d"] - 0.5 == pytest.approx(1.0)


def test_inclusive_jobs_roll_up_to_ancestors():
    spans = [sp("a", None, 0, 9, jobs=1), sp("b", "a", 1, 2, jobs=2),
             sp("c", "b", 1, 2, jobs=3), sp("d", "a", 3, 4)]
    assert inclusive_jobs(spans) == {"a": 6, "b": 5, "c": 3, "d": 0}


def test_percentiles():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 80) == 4.0
    assert percentile(vals, 100) == 5.0
    assert percentile([7.0], 1) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


class FakeContext:
    """Records job-group calls; each group 'ran' the jobs listed for it."""

    def __init__(self, jobs_by_group):
        self.jobs_by_group = jobs_by_group
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.calls.append(("set", gid))

    def setLocalProperty(self, key, value):
        self.calls.append(("prop", key, value))

    def statusTracker(self):
        ctx = self

        class T:
            def getJobIdsForGroup(self, gid):
                return ctx.jobs_by_group.get(gid, [])

        return T()


def test_tracer_job_groups_nest_and_restore():
    clock = iter(range(100)).__next__
    sc = FakeContext({"p.s0": [1], "p.s2": [2, 3]})
    tr = Tracer(sc, prefix="p.", clock=clock)
    with tr.span("outer", "bench", jobs=True) as outer:
        with tr.span("light", "fileio"):
            pass
        with tr.span("inner", "lake", jobs=True) as inner:
            pass
    assert (outer.jobs, inner.jobs) == (1, 2)
    assert inner.parent == outer.id and inner.key == outer.key
    assert sc.calls == [("set", "p.s0"), ("set", "p.s2"), ("set", "p.s0"),
                        ("prop", "spark.jobGroup.id", None),
                        ("prop", "spark.job.description", None)]
    assert [s.dur for s in tr.spans] == [5, 1, 1]


def test_tracer_retroactive_spans_and_coverage():
    tr = Tracer(clock=iter([50.0]).__next__)
    batch = tr.open("pipeline.batch", "pipeline", start=10.0)
    tr.close(tr.open("pipeline.read_batch", "pipeline", start=10.0), end=11.0)
    apply_ = tr.open("merge.apply_batch", "merge", start=11.0)
    tr.close(apply_, end=19.0)
    tr.close(batch, end=20.0)
    assert layers.coverage(tr.spans, ("pipeline.batch",)) == [pytest.approx(0.9)]
    m = layers.from_spans(tr.spans)
    assert m["pipeline.read_batch_s"] == 1.0 and m["pipeline.read_batch_calls"] == 1
    assert m["merge.apply_batch_s"] == m["merge.apply_batch_self_s"] == 8.0
    assert m["pipeline.self_s"] == pytest.approx(1.0 + 1.0)  # batch gap + read_batch
